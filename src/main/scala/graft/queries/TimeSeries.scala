package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-series / light-curve workload — the reference's core purpose:
  * per-object time series of forced-source measurements with summary
  * statistics (Pserv's light-curve surface: per-object photometry
  * ordered by mjd, plus aggregate stats per object). `events` plays
  * ForcedSource: `user_id` = objectId, `ts` = mjd, `value` = flux.
  *
  * Scale shape: every query shuffles ONCE on `user_id` (or the group
  * key) and aggregates map-side-combinably; series windows sort within
  * the natural per-object partition, whose cardinality grows with the
  * data (millions of objects), so parallelism is never capped by a
  * low-cardinality key.
  *
  * Determinism: all float reductions in exact integer space
  * (value scaled ×100 → bigint); time arithmetic in integer
  * nanos/micros (`ts` is read as Long nanos — see
  * [[graft.sources.Catalog.readParquet]]).
  */
object TimeSeries {

  /** 30-day synthetic window → 6h session gap gives multi-event sessions. */
  private val SessionGapUs = 6L * 3600 * 1000 * 1000

  /** events projected to the light-curve columns, value in exact c100.
    *
    * NULL-key policy (r16 review): the per-object EXPORT and
    * PERIOD-SEARCH entries exclude anonymous (null user_id) events
    * explicitly at their own definitions (lightcurvePack,
    * lsSufFrameBy) — a null-keyed group is not a light curve, and its
    * row sits on the Spark-NULLS-FIRST vs DuckDB-NULLS-LAST ordering
    * split. The REMAINING per-object family deliberately keeps the
    * raw projection: the synthetic corpus carries ZERO null user_ids
    * at every SF (so behavior is identical and the oracles, which
    * have no WHERE, stay symmetric), and several sibling queries over
    * events (sessionize, time buckets, event_json) are event-level
    * censuses where dropping anonymous events would be wrong. If the
    * corpus ever grows null user_ids, parity fails LOUDLY on row
    * count for any query whose two sides disagree — the fix then is
    * a filter here plus WHERE user_id IS NOT NULL in the per-object
    * oracles, never a silent ordering accommodation. */
  private[graft] def series(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select(
      $"user_id", $"event_id",
      expr("ts DIV 1000").as("tus"),
      round($"value" * 100).cast("long").as("xc"))
  }

  // ---------------------------------------------------------------
  /** Per-object series statistics: n, mean, amplitude, and the exact
    * variance numerator n·Σx²−(Σx)² (all in integer space; mean is a
    * single exact-rounded IEEE division so it hash-matches DuckDB). */
  def qLightcurveStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    series(s, dir)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n"),
        sum($"xc").as("sum_c100"),
        min($"xc").as("min_c100"),
        max($"xc").as("max_c100"),
        (max($"xc") - min($"xc")).as("amp_c100"),
        (count(lit(1)) * sum($"xc" * $"xc") - sum($"xc") * sum($"xc"))
          .as("var_num"))
      .withColumn("mean_val", $"sum_c100" / ($"n" * lit(100.0)))
      // sample variance = var_num/(n(n−1)) in c100² units; /1e4 → units².
      // This is the reduced-χ² of the constant-flux model with unit
      // errors — Pserv's per-object variability statistic. Exact
      // integer numerator → one division + sqrt, deterministic.
      .withColumn("var_val",
        when($"n" > 1, $"var_num" / ($"n" * ($"n" - 1) * lit(10000.0))))
      .withColumn("std_val", sqrt($"var_val"))
      .orderBy($"user_id")
  }

  /** Variability-selection thresholds, all in exact integer space so
    * the classification is engine-deterministic: an object is
    * `variable` when its sample variance (c100² units, the exact
    * integer numerator over n(n−1)) exceeds [[VarThreshC100Sq]], and
    * escalates to `transient` when the amplitude also exceeds
    * [[AmpThreshC100]]; under [[MinObs]] observations it is `sparse`
    * (unclassifiable), else `constant`. */
  val MinObs = 5L
  val VarThreshC100Sq = 23000000L // variance > 2300 units² — the locus median
  val AmpThreshC100 = 26000L      // amplitude > 260 units — its p75

  /** Variability classification — the LSST selection query: every
    * object labeled constant / variable / transient / sparse from its
    * per-object photometry statistics. The classifying comparisons
    * run on the exact integer variance NUMERATOR (var·n(n−1) form, no
    * division — bit-exact on both engines) and the integer amplitude.
    *
    * Scale shape: identical to q_lightcurve_stats — ONE combinable
    * aggregate on the per-object key (cardinality grows with the
    * catalog, so parallelism does too) plus per-row CASE arithmetic;
    * the class column adds zero shuffles. */
  def qVariabilityClass(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    series(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        (max($"xc") - min($"xc")).as("amp_c100"),
        (count(lit(1)) * sum($"xc" * $"xc") - sum($"xc") * sum($"xc"))
          .as("var_num"))
      .withColumn("class",
        when($"n" < MinObs, "sparse")
          .when($"var_num" > lit(VarThreshC100Sq) * $"n" * ($"n" - 1),
            when($"amp_c100" > AmpThreshC100, "transient")
              .otherwise("variable"))
          .otherwise("constant"))
      .orderBy($"user_id")
  }

  val qVariabilityClassSql: String =
    s"""SELECT user_id, n, amp_c100, var_num,
       |  CASE WHEN n < $MinObs THEN 'sparse'
       |       WHEN var_num > $VarThreshC100Sq * n * (n - 1) THEN
       |         CASE WHEN amp_c100 > $AmpThreshC100 THEN 'transient'
       |              ELSE 'variable' END
       |       ELSE 'constant' END AS class
       |FROM (SELECT user_id, COUNT(*) AS n,
       |        CAST(MAX(xc) - MIN(xc) AS BIGINT) AS amp_c100,
       |        CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT) AS var_num
       |      FROM (SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS xc
       |            FROM events)
       |      GROUP BY user_id)
       |ORDER BY user_id""".stripMargin

  val qLightcurveStatsSql: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(xc) AS BIGINT) AS sum_c100,
      |  CAST(MIN(xc) AS BIGINT) AS min_c100,
      |  CAST(MAX(xc) AS BIGINT) AS max_c100,
      |  CAST(MAX(xc) - MIN(xc) AS BIGINT) AS amp_c100,
      |  CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT) AS var_num,
      |  CAST(SUM(xc) AS BIGINT) / (COUNT(*) * 100.0) AS mean_val,
      |  CASE WHEN COUNT(*) > 1 THEN
      |    CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT)
      |      / (COUNT(*) * (COUNT(*) - 1) * 10000.0) END AS var_val,
      |  SQRT(CASE WHEN COUNT(*) > 1 THEN
      |    CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT)
      |      / (COUNT(*) * (COUNT(*) - 1) * 10000.0) END) AS std_val
      |FROM (SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS xc FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Per-object lag deltas: max |jump| between consecutive
    * measurements, series span, mean cadence (exact integer division).
    * One shuffle on user_id serves both the window and the aggregate. */
  def qLightcurveDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    series(s, dir)
      .withColumn("dxc", abs($"xc" - lag($"xc", 1).over(w)))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n"),
        max($"dxc").as("max_jump_c100"),
        (max($"tus") - min($"tus")).as("span_us"))
      .withColumn("mean_cadence_us",
        when($"n" > 1, expr("span_us DIV (n - 1)")))
      .orderBy($"user_id")
  }

  val qLightcurveDeltaSql: String =
    """SELECT user_id, n, max_jump_c100, span_us,
      |  CASE WHEN n > 1 THEN span_us // (n - 1) END AS mean_cadence_us
      |FROM (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(MAX(dxc) AS BIGINT) AS max_jump_c100,
      |    CAST(MAX(tus) - MIN(tus) AS BIGINT) AS span_us
      |  FROM (
      |    SELECT user_id, tus,
      |      ABS(xc - LAG(xc, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id)) AS dxc
      |    FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |            CAST(ROUND(value*100) AS BIGINT) AS xc FROM events))
      |  GROUP BY user_id)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Gap-based sessionization: new session when >6h since the previous
    * event of the same user; session id = running count of session
    * starts. Classic lag + cumulative-flag composition — one shuffle. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    series(s, dir)
      .withColumn("prev_tus", lag($"tus", 1).over(w))
      .withColumn("new_s",
        when($"prev_tus".isNull || $"tus" - $"prev_tus" > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"tus").as("start_tus"),
        max($"tus").as("end_tus"))
      .withColumn("dur_us", $"end_tus" - $"start_tus")
      .orderBy($"user_id", $"session_id")
  }

  val qSessionizeSql: String =
    s"""SELECT user_id, session_id, COUNT(*) AS n_events,
       |  CAST(MIN(tus) AS BIGINT) AS start_tus,
       |  CAST(MAX(tus) AS BIGINT) AS end_tus,
       |  CAST(MAX(tus) - MIN(tus) AS BIGINT) AS dur_us
       |FROM (
       |  SELECT user_id, tus,
       |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM (
       |    SELECT user_id, event_id, tus,
       |      CASE WHEN prev_tus IS NULL OR tus - prev_tus > ${SessionGapUs}
       |           THEN 1 ELSE 0 END AS new_s
       |    FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
       |            LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
       |              ORDER BY epoch_us(ts), event_id) AS prev_tus
       |          FROM events)))
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------
  /** Fixed-interval (hourly) time-bucket aggregation — the visit-level
    * rollup shape (counts + flux sums + distinct objects per interval). */
  def qTimeBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(
        expr("ts DIV 3600000000000").as("hour_idx"),
        $"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(round($"value" * 100).cast("long")).as("sum_value_c100"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"hour_idx", $"event_type")
  }

  val qTimeBucketSql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_idx, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c100,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour_idx, event_type""".stripMargin

  // ---------------------------------------------------------------
  /** JSON property extraction + aggregate: pull `k` out of the props
    * JSON string, bucket it, aggregate per (event_type, bucket). */
  def qEventJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type", expr("k DIV 25").as("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        countDistinct($"k").as("n_distinct_k"))
      .orderBy($"event_type", $"k_bucket")
  }

  val qEventJsonSql: String =
    """SELECT event_type, k // 25 AS k_bucket, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(MAX(k) AS BIGINT) AS max_k,
      |  COUNT(DISTINCT k) AS n_distinct_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1, 2 ORDER BY event_type, k_bucket""".stripMargin

  // ---------------------------------------------------------------
  /** ±30 min neighbor window, in exact integer micros. */
  private[graft] val RangeWUs = 1800000000L
  /** Per-user event cap for the range join (skew guard): a runaway
    * key (bot, sensor stuck in a loop) is excluded instead of handed
    * a quadratic task. Mirrored in the oracle. */
  val RangeUserCap = 10000L

  /** Range (interval) self-join: for every event, count the same
    * user's other events within ±30 min and the nearest gap — the
    * non-equi-join shape Spark would otherwise plan as a nested loop.
    *
    * Scale shape: bucketize time at the window width W; the probe side
    * explodes to its 3 adjacent buckets and equi-joins on
    * (user_id, bucket) — candidate amplification is exactly 3×, the
    * |Δt| ≤ W predicate verifies, and each pair arises once (the build
    * event's home bucket). One shuffle on a key whose cardinality
    * grows with users × time — never a BroadcastNestedLoopJoin. The
    * per-user cap bounds the per-(user,bucket) quadratic verify; the
    * neighbor-count SEMANTICS is pairwise, so the cap is the declared
    * rate-limit guard, mirrored in the oracle. */
  def qRangeNbr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // heavy-hitter exclusion as a broadcast anti-join, NOT a window:
    // the per-user counts are a map-side-combinable aggregate (one
    // tiny shuffle of counts), and the events table itself then
    // shuffles exactly once — for the (user, bucket) join below. The
    // heavy list is bounded by total/cap, so it broadcasts.
    val heavy = series(s, dir).groupBy($"user_id")
      .agg(count(lit(1)).as("nu")).filter($"nu" > RangeUserCap)
      .select($"user_id")
    // explicit NOT NULL + anti-join == the oracle's `user_id IS NOT
    // NULL AND user_id IN (under-cap users)` by construction (the
    // anti-join alone would additionally keep NULL-key rows, which the
    // oracle's IN drops — same formulation on both sides, per review)
    val ev = series(s, dir)
      .select($"user_id", $"event_id", $"tus")
      .filter($"user_id".isNotNull)
      .join(broadcast(heavy), Seq("user_id"), "left_anti")
      .withColumn("tb", expr(s"tus DIV $RangeWUs"))
    val probe = ev
      .withColumn("tbp", explode(array($"tb" - 1, $"tb", $"tb" + 1)))
      .select($"user_id", $"event_id".as("e1"), $"tus".as("t1"), $"tbp")
    val build = ev.select($"user_id".as("u2"), $"event_id".as("e2"), $"tus".as("t2"), $"tb")
    probe
      .join(build, probe("user_id") === build("u2") && probe("tbp") === build("tb"))
      .filter($"e1" =!= $"e2" && abs($"t2" - $"t1") <= RangeWUs)
      .groupBy($"user_id", $"e1".as("event_id"))
      .agg(count(lit(1)).as("n_nbr"), min(abs($"t2" - $"t1")).as("min_gap_us"))
      .orderBy($"user_id", $"event_id")
  }

  val qRangeNbrSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
       |  WHERE user_id IS NOT NULL
       |    AND user_id IN (SELECT user_id FROM events GROUP BY 1
       |                    HAVING COUNT(*) <= $RangeUserCap))
       |SELECT a.user_id, a.event_id, COUNT(*) AS n_nbr,
       |  CAST(MIN(ABS(b.tus - a.tus)) AS BIGINT) AS min_gap_us
       |FROM ev a JOIN ev b ON a.user_id = b.user_id
       |  AND a.event_id <> b.event_id AND ABS(b.tus - a.tus) <= $RangeWUs
       |GROUP BY 1, 2 ORDER BY a.user_id, a.event_id""".stripMargin

  // ---------------------------------------------------------------
  /** Trailing-window anomaly detection: an event is anomalous when its
    * value deviates from the mean of the SAME user's previous
    * [[AnomalyWin]] events by more than [[AnomalyZ]] sample standard
    * deviations — the light-curve outburst/transient flag (and the
    * telemetry-spike flag of a pipeline monitor).
    *
    * The z-test is evaluated WITHOUT floats: with trailing n, Σx, Σx²,
    * `(x−μ)² > Z²·σ²` cross-multiplies to
    * `(n·x − Σx)²·(n−1) > Z²·n·(n·Σx² − (Σx)²)` — all exact int64
    * (|x|≤10⁶c100, n≤20 keeps every term < 2⁶³), so the flag is
    * bit-identical across engines, unlike a float mean/std compare.
    *
    * Scale shape: one shuffle on user_id (cardinality grows with the
    * data); the three trailing sums share a single window frame over
    * one Exchange+Sort, and the filter is per-row. */
  val AnomalyWin = 20
  val AnomalyZ = 3L
  val AnomalyMinPrev = 5L

  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
      .rowsBetween(-AnomalyWin, -1)
    series(s, dir)
      .withColumn("n_prev", count($"xc").over(w))
      .withColumn("sum_prev", sum($"xc").over(w))
      .withColumn("ss_prev", sum($"xc" * $"xc").over(w))
      .filter($"n_prev" >= AnomalyMinPrev)
      .withColumn("dev_num",
        ($"n_prev" * $"xc" - $"sum_prev") * ($"n_prev" * $"xc" - $"sum_prev") *
          ($"n_prev" - 1))
      .withColumn("thr_num",
        lit(AnomalyZ * AnomalyZ) * $"n_prev" *
          ($"n_prev" * $"ss_prev" - $"sum_prev" * $"sum_prev"))
      .filter($"dev_num" > $"thr_num")
      .select($"user_id", $"event_id", $"tus", $"xc", $"n_prev",
        $"dev_num", $"thr_num")
      .orderBy($"user_id", $"event_id")
  }

  val qAnomalySql: String =
    s"""WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
       |             CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |w AS (SELECT *,
       |        COUNT(xc) OVER pw AS n_prev,
       |        SUM(xc) OVER pw AS sum_prev,
       |        SUM(xc*xc) OVER pw AS ss_prev
       |      FROM s WINDOW pw AS (PARTITION BY user_id ORDER BY tus, event_id
       |        ROWS BETWEEN $AnomalyWin PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, tus, xc,
       |  CAST(n_prev AS BIGINT) AS n_prev,
       |  CAST((n_prev*xc - sum_prev)*(n_prev*xc - sum_prev)*(n_prev-1) AS BIGINT) AS dev_num,
       |  CAST(${AnomalyZ * AnomalyZ}*n_prev*(n_prev*ss_prev - sum_prev*sum_prev) AS BIGINT) AS thr_num
       |FROM w
       |WHERE n_prev >= $AnomalyMinPrev
       |  AND (n_prev*xc - sum_prev)*(n_prev*xc - sum_prev)*(n_prev-1)
       |      > ${AnomalyZ * AnomalyZ}*n_prev*(n_prev*ss_prev - sum_prev*sum_prev)
       |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  /** Micros per hour; gap-fill bucket width. */
  private val HourUs = 3600000000L
  /** Per-user fill-horizon guard (hours): a user whose observed span
    * exceeds this is excluded rather than handed an unbounded spine
    * explode — one stray decades-old event must not generate 200k
    * synthetic rows for that key. Mirrored in the oracle. */
  val MaxFillHours = 2000L

  /** Gap-fill / resample: regularize each user's series onto an hourly
    * grid — the last observation of each (user, hour) is the hour's
    * value, missing hours are forward-filled from the previous
    * observed hour (time-series resampling, the feature-grid prep step
    * of a training pipeline). Verified through per-user aggregates
    * (hour count, observed count, plain + position-weighted fill sums)
    * so a single wrongly-filled cell breaks parity while the output
    * stays compact.
    *
    * Scale shape: the (user, hour) last-value window and the
    * spine⋈observed join both shuffle on keys whose cardinality grows
    * with users×time; the spine explode is bounded per key by
    * [[MaxFillHours]], so no input can make one task quadratic. */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val s0 = series(s, dir)
      .filter($"user_id".isNotNull)
      .withColumn("h", expr(s"tus DIV $HourUs"))
    // last observation per (user, hour), deterministic by (tus, event_id)
    val wLast = Window.partitionBy($"user_id", $"h")
      .orderBy($"tus".desc, $"event_id".desc)
    // r20: pinned — obs feeds BOTH the span aggregate and the spine
    // join (two independent subtrees), so unpinned the corpus-scale
    // last-observation window executed twice per action (guide §2.4)
    val obs = s0.withColumn("rn", row_number().over(wLast))
      .filter($"rn" === 1).select($"user_id", $"h", $"xc")
      .localCheckpoint(true)
    val span = obs.groupBy($"user_id")
      .agg(min($"h").as("min_h"), max($"h").as("max_h"))
      .filter($"max_h" - $"min_h" <= MaxFillHours)
    val spine = span.select($"user_id", $"min_h",
      explode(sequence($"min_h", $"max_h")).as("h"))
    val wFf = Window.partitionBy($"user_id").orderBy($"h")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(obs, Seq("user_id", "h"), "left")
      .withColumn("fx", last($"xc", ignoreNulls = true).over(wFf))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_hours"),
        count($"xc").as("n_obs"),
        sum($"fx").as("sum_filled_c100"),
        sum($"fx" * ($"h" - $"min_h")).as("wsum_filled"))
      .orderBy($"user_id")
  }

  val qGapFillSql: String =
    s"""WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
       |             epoch_us(ts) // $HourUs AS h,
       |             CAST(ROUND(value*100) AS BIGINT) AS xc
       |           FROM events WHERE user_id IS NOT NULL),
       |obs AS (SELECT user_id, h, xc FROM s
       |        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, h
       |          ORDER BY tus DESC, event_id DESC) = 1),
       |span AS (SELECT user_id, MIN(h) AS min_h, MAX(h) AS max_h FROM obs
       |         GROUP BY 1 HAVING MAX(h) - MIN(h) <= $MaxFillHours),
       |spine AS (SELECT user_id, min_h, unnest(generate_series(min_h, max_h)) AS h
       |          FROM span),
       |f AS (SELECT sp.user_id, sp.min_h, sp.h, o.xc,
       |        LAST_VALUE(o.xc IGNORE NULLS) OVER (PARTITION BY sp.user_id
       |          ORDER BY sp.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fx
       |      FROM spine sp LEFT JOIN obs o ON sp.user_id = o.user_id AND sp.h = o.h)
       |SELECT user_id, COUNT(*) AS n_hours, COUNT(xc) AS n_obs,
       |  CAST(SUM(fx) AS BIGINT) AS sum_filled_c100,
       |  CAST(SUM(fx*(h - min_h)) AS BIGINT) AS wsum_filled
       |FROM f GROUP BY 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Trailing 30-minute RANGE-frame aggregate: for every event, the
    * count and exact sum of the SAME user's events in
    * `[tus − 30 min, tus]` — the window-frame formulation of the
    * interval neighborhood (q_range_nbr is the pairwise-join
    * formulation; this one is one-sided, frame-based, and needs no
    * join at all). RANGE (not ROWS) so timestamp ties share a frame.
    *
    * Scale shape: one shuffle on user_id, one sort, a sliding frame —
    * linear per partition, no candidate pairs ever materialize. */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus")
      .rangeBetween(-RangeWUs, 0)
    series(s, dir)
      .withColumn("n_30m", count(lit(1)).over(w))
      .withColumn("sum_c100_30m", sum($"xc").over(w))
      .select($"user_id", $"event_id", $"tus", $"xc", $"n_30m", $"sum_c100_30m")
      .orderBy($"user_id", $"event_id")
  }

  val qWindowRangeSql: String =
    s"""SELECT user_id, event_id, tus, xc,
       |  COUNT(*) OVER pw AS n_30m,
       |  CAST(SUM(xc) OVER pw AS BIGINT) AS sum_c100_30m
       |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
       |        CAST(ROUND(value*100) AS BIGINT) AS xc FROM events)
       |WINDOW pw AS (PARTITION BY user_id ORDER BY tus
       |  RANGE BETWEEN $RangeWUs PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  /** First/last state per user (argmin/argmax by event time): the
    * entry and exit event type of each user's history, with the span.
    * min_by/max_by over a struct of (tus, event_id) makes the
    * tie-break deterministic — two events in the same microsecond
    * resolve by the unique event id on both engines.
    *
    * Scale shape: a single map-side-combinable aggregate on user_id —
    * each partial carries one (key, smallest, largest) triple per
    * user, no window sort, one shuffle. */
  def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"),
        $"event_type")
      .groupBy($"user_id")
      .agg(
        min_by($"event_type", struct($"tus", $"event_id")).as("first_type"),
        max_by($"event_type", struct($"tus", $"event_id")).as("last_type"),
        min($"tus").as("first_tus"),
        max($"tus").as("last_tus"),
        count(lit(1)).as("n_events"))
      .withColumn("span_us", $"last_tus" - $"first_tus")
      .orderBy($"user_id")
  }

  val qFirstLastSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |             event_type FROM events),
      |r AS (SELECT *,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS ra,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rd
      |FROM e)
      |SELECT user_id,
      |  MAX(CASE WHEN ra = 1 THEN event_type END) AS first_type,
      |  MAX(CASE WHEN rd = 1 THEN event_type END) AS last_type,
      |  MIN(tus) AS first_tus, MAX(tus) AS last_tus,
      |  COUNT(*) AS n_events, MAX(tus) - MIN(tus) AS span_us
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  /** SCD-2 / temporal-table build: collapse each user's event stream
    * into state intervals — a new version opens whenever `event_type`
    * differs from the previous event's, `valid_to_us` is the next
    * change's start (NULL = current) — the change-data-capture shape
    * that turns an append-only log into a versioned dimension.
    *
    * Scale shape: one shuffle on user_id; the change filter runs on
    * the first window pass and the version/lead pass reuses the same
    * partitioning (Catalyst plans both Windows over one Exchange). */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val ev = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"), $"event_type")
    ev.withColumn("prev_t", lag($"event_type", 1).over(w))
      .filter($"prev_t".isNull || $"prev_t" =!= $"event_type")
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_us", lead($"tus", 1).over(w))
      .select($"user_id", $"version", $"event_type".as("state"),
        $"tus".as("valid_from_us"), $"valid_to_us")
      .orderBy($"user_id", $"version")
  }

  val qScd2Sql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
      |            FROM events WHERE user_id IS NOT NULL),
      |l AS (SELECT *, LAG(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY tus, event_id) AS prev_t FROM ev),
      |c AS (SELECT * FROM l WHERE prev_t IS NULL OR prev_t <> event_type)
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER pw AS INT) AS version,
      |  event_type AS state,
      |  tus AS valid_from_us,
      |  LEAD(tus, 1) OVER pw AS valid_to_us
      |FROM c WINDOW pw AS (PARTITION BY user_id ORDER BY tus, event_id)
      |ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------
  /** Gaps-and-islands: maximal runs of consecutive ACTIVE DAYS per
    * user (the classic `day − row_number` island key). Distinct
    * (user, day) first — one combinable shuffle bounds the window
    * input to users × days regardless of event volume; the island
    * window then reuses the same user partitioning. */
  def qStreaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // anonymous (NULL-user) events would otherwise collapse into one
    // phantom "user" — a single hot window partition with meaningless
    // streaks; per-user semantics exclude them, like every sibling op
    val days = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", expr("ts DIV 86400000000000").as("d"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d")
    days.withColumn("grp", $"d" - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max($"len").as("max_streak"),
        sum($"len").as("active_days"))
      .orderBy($"user_id")
  }

  val qStreaksSql: String =
    """WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
      |              FROM events WHERE user_id IS NOT NULL),
      |isl AS (SELECT user_id,
      |          d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      |        FROM days),
      |runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS max_streak,
      |  CAST(SUM(len) AS BIGINT) AS active_days
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Exact exponential moving average, fixed-point: α = 1/2 over a
    * 10-measurement lookback, so every weight is a binary fraction
    * and `ema_num = Σ_j lag(xc, j) · 2^(9−j)` is EXACT integer
    * arithmetic (the IEEE-summation-order trap of a float EMA cannot
    * arise). One shuffle on user_id; ten lags share a single window
    * sort. `n_terms` counts the available lags so series heads are
    * explicit rather than silently padded. */
  def qEma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val terms = (0 until 10).map(j =>
      coalesce(lag($"xc", j).over(w), lit(0L)) * lit(1L << (9 - j)))
    val avail = (0 until 10).map(j =>
      when(lag($"xc", j).over(w).isNotNull, 1).otherwise(0))
    series(s, dir)
      .withColumn("ema_num", terms.reduce(_ + _))
      .withColumn("n_terms", avail.reduce(_ + _))
      .select($"user_id", $"event_id", $"tus", $"xc", $"ema_num", $"n_terms")
      .orderBy($"user_id", $"tus", $"event_id")
  }

  val qEmaSql: String = {
    val terms = (0 until 10)
      .map(j => s"COALESCE(LAG(xc, $j) OVER pw, 0) * ${1L << (9 - j)}")
      .mkString(" + ")
    val avail = (0 until 10)
      .map(j => s"CASE WHEN LAG(xc, $j) OVER pw IS NOT NULL THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT user_id, event_id, tus, xc,
       |  CAST($terms AS BIGINT) AS ema_num,
       |  CAST($avail AS INT) AS n_terms
       |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
       |        CAST(ROUND(value*100) AS BIGINT) AS xc FROM events)
       |WINDOW pw AS (PARTITION BY user_id ORDER BY tus, event_id)
       |ORDER BY user_id, tus, event_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Markov transition matrix: per (previous event type → event type)
    * bigram along each user's time-ordered stream, with the distinct
    * users making that transition. One shuffle on user_id for the
    * lag; the (5×5)-key aggregate is map-side combinable. */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"),
        $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n"),
        count_distinct($"user_id").as("n_users"))
      .orderBy($"prev_type", $"event_type")
  }

  val qTransitionsSql: String =
    """SELECT prev_type, event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id, event_type,
      |        LAG(event_type, 1) OVER (PARTITION BY user_id
      |          ORDER BY epoch_us(ts), event_id) AS prev_type
      |      FROM events WHERE user_id IS NOT NULL)
      |WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  /** Cumulative distinct users by day — the running-audience curve.
    * COUNT(DISTINCT) under a running window would re-scan every
    * prefix; instead each user collapses to a FIRST-SEEN day (one
    * combinable shuffle), and the running total is a cumulative sum
    * over the tiny day-level table. */
  def qRunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstSeen = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(min(expr("ts DIV 86400000000000")).as("fd"))
    val wc = Window.orderBy($"fd")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen.groupBy($"fd").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum($"n_new").over(wc))
      .orderBy($"fd")
  }

  val qRunningDistinctSql: String =
    """WITH fs AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS fd
      |            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |d AS (SELECT fd, COUNT(*) AS n_new FROM fs GROUP BY 1)
      |SELECT fd, n_new,
      |  CAST(SUM(n_new) OVER (ORDER BY fd
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM d ORDER BY fd""".stripMargin

  // ---------------------------------------------------------------
  /** Last-touch attribution: for each purchase, the user's most
    * recent STRICTLY PRECEDING view (stream order (tus, event_id))
    * and the elapsed gap. Pass 1 finds the attributed view TIME with
    * one running-max window over the user partition (no per-purchase
    * scan-back); pass 2 recovers that view's event_id with an exact
    * integer equi-join on (user, time) — `min(event_id)` makes
    * same-timestamp duplicates deterministic. Purchases with no
    * preceding view drop out, mirrored in the oracle. */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"),
        $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val purchases = ev
      .withColumn("view_tus",
        max(when($"event_type" === "view", $"tus")).over(w))
      .filter($"event_type" === "purchase" && $"view_tus".isNotNull)
      .select($"user_id", $"event_id".as("purchase_id"),
        $"tus".as("purchase_tus"), $"view_tus")
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"tus".as("view_tus"))
      .agg(min($"event_id").as("view_id"))
    purchases.join(views, Seq("user_id", "view_tus"))
      .select($"user_id", $"purchase_id", $"purchase_tus",
        $"view_id", $"view_tus",
        ($"purchase_tus" - $"view_tus").as("gap_us"))
      .orderBy($"user_id", $"purchase_id")
  }

  val qAttributionSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
      |            FROM events WHERE user_id IS NOT NULL),
      |p AS (SELECT user_id, event_id AS purchase_id, tus AS purchase_tus,
      |        MAX(CASE WHEN event_type = 'view' THEN tus END) OVER
      |          (PARTITION BY user_id ORDER BY tus, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_tus,
      |        event_type
      |      FROM ev),
      |v AS (SELECT user_id, tus AS view_tus, MIN(event_id) AS view_id
      |      FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT user_id, purchase_id, purchase_tus, view_id, view_tus,
      |  purchase_tus - view_tus AS gap_us
      |FROM p JOIN v USING (user_id, view_tus)
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------
  /** Lag-1 autocorrelation per object, exact to the final division:
    * all five sufficient statistics over consecutive pairs
    * (Σx, Σy, Σxy, Σx², Σy² with x = previous, y = current, in c100)
    * are integer sums off ONE lag window pass, the covariance/
    * variance numerators are integer bilinears of those, and only
    * the final Pearson ratio touches IEEE — one sqrt+division,
    * identical on both engines. The variability statistic Pserv's
    * light-curve users compute after the reduced-χ². */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    series(s, dir)
      .withColumn("px", lag($"xc", 1).over(w))
      .filter($"px".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n1"),
        sum($"px").as("sx"), sum($"xc").as("sy"),
        sum($"px" * $"xc").as("sxy"),
        sum($"px" * $"px").as("sxx"),
        sum($"xc" * $"xc").as("syy"))
      .withColumn("cov_num", $"n1" * $"sxy" - $"sx" * $"sy")
      .withColumn("varx_num", $"n1" * $"sxx" - $"sx" * $"sx")
      .withColumn("vary_num", $"n1" * $"syy" - $"sy" * $"sy")
      .withColumn("r1",
        when($"varx_num" > 0 && $"vary_num" > 0,
          $"cov_num" / sqrt($"varx_num".cast("double") * $"vary_num")))
      .select($"user_id", $"n1", $"cov_num", $"varx_num", $"vary_num", $"r1")
      .orderBy($"user_id")
  }

  val qAutocorrSql: String =
    """WITH l AS (SELECT user_id, xc,
      |    LAG(xc, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS px
      |  FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |          CAST(ROUND(value*100) AS BIGINT) AS xc FROM events)),
      |s AS (SELECT user_id, COUNT(*) AS n1,
      |    CAST(SUM(px) AS BIGINT) AS sx, CAST(SUM(xc) AS BIGINT) AS sy,
      |    CAST(SUM(px*xc) AS BIGINT) AS sxy,
      |    CAST(SUM(px*px) AS BIGINT) AS sxx,
      |    CAST(SUM(xc*xc) AS BIGINT) AS syy
      |  FROM l WHERE px IS NOT NULL GROUP BY 1)
      |SELECT user_id, n1,
      |  CAST(n1*sxy - sx*sy AS BIGINT) AS cov_num,
      |  CAST(n1*sxx - sx*sx AS BIGINT) AS varx_num,
      |  CAST(n1*syy - sy*sy AS BIGINT) AS vary_num,
      |  CASE WHEN n1*sxx - sx*sx > 0 AND n1*syy - sy*sy > 0 THEN
      |    (n1*sxy - sx*sy) / SQRT(CAST(n1*sxx - sx*sx AS DOUBLE)
      |      * (n1*syy - sy*sy)) END AS r1
      |FROM s ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Hopping-window aggregate: 2-hour windows sliding by 1 hour (each
    * event lands in exactly 2 overlapping windows) — the batch twin
    * of the streaming `window(size, hop)` operator. The ×2 row
    * expansion is a codegen'd explode of the two window starts; the
    * aggregate stays map-side combinable on the (window, type) key.
    * At any hop ratio the expansion factor is size/hop — bounded and
    * explicit, never a range join. */
  val HopUs = 3600000000L // 1 hour

  def qHopping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc"))
      .withColumn("h", expr(s"tus DIV $HopUs"))
      .withColumn("ws", explode(array($"h" - 1, $"h")))
      .groupBy($"ws", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"xc").as("sum_xc"))
      .orderBy($"ws", $"event_type")
  }

  val qHoppingSql: String =
    s"""SELECT ws, event_type, COUNT(*) AS n,
       |  CAST(SUM(xc) AS BIGINT) AS sum_xc
       |FROM (SELECT event_type, xc,
       |        UNNEST([h - 1, h]) AS ws
       |      FROM (SELECT event_type,
       |              CAST(ROUND(value*100) AS BIGINT) AS xc,
       |              epoch_us(ts) // $HopUs AS h FROM events))
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  /** Per-object linear flux trend (least-squares slope) — the
    * light-curve secular-variability fit. Time is rebased per object
    * to MINUTES since its first measurement, so every sufficient
    * statistic stays in exact integer range (30-day span → t ≤ 43 200,
    * Σt² ≤ 2e12·n — no overflow at any realistic series length) and
    * the slope numerator/denominator are exact integers; only the
    * final division is IEEE. Two window/aggregate passes over ONE
    * user_id shuffle (the rebase min reuses the aggregation
    * partitioning). */
  def qLightcurveTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    series(s, dir)
      .withColumn("tmin", expr("(tus - min(tus) OVER (PARTITION BY user_id)) DIV 60000000"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"tmin").as("st"), sum($"xc").as("sx"),
        sum($"tmin" * $"xc").as("stx"),
        sum($"tmin" * $"tmin").as("stt"))
      .withColumn("slope_num", $"n" * $"stx" - $"st" * $"sx")
      .withColumn("slope_den", $"n" * $"stt" - $"st" * $"st")
      .withColumn("slope_c100_per_min",
        when($"slope_den" > 0, $"slope_num" / $"slope_den".cast("double")))
      .select($"user_id", $"n", $"slope_num", $"slope_den",
        $"slope_c100_per_min")
      .orderBy($"user_id")
  }

  val qLightcurveTrendSql: String =
    """WITH b AS (SELECT user_id,
      |    (tus - MIN(tus) OVER (PARTITION BY user_id)) // 60000000 AS tmin, xc
      |  FROM (SELECT user_id, epoch_us(ts) AS tus,
      |          CAST(ROUND(value*100) AS BIGINT) AS xc FROM events)),
      |a AS (SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(tmin) AS BIGINT) AS st, CAST(SUM(xc) AS BIGINT) AS sx,
      |    CAST(SUM(tmin*xc) AS BIGINT) AS stx,
      |    CAST(SUM(tmin*tmin) AS BIGINT) AS stt
      |  FROM b GROUP BY 1)
      |SELECT user_id, n,
      |  CAST(n*stx - st*sx AS BIGINT) AS slope_num,
      |  CAST(n*stt - st*st AS BIGINT) AS slope_den,
      |  CASE WHEN n*stt - st*st > 0 THEN
      |    (n*stx - st*sx) / CAST(n*stt - st*st AS DOUBLE) END
      |    AS slope_c100_per_min
      |FROM a ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Trial periods for the period search, in microseconds (2 h …
    * 14 d) — a fixed grid, as a production period scan would ship. */
  private[graft] val PeriodGridUs: Seq[Long] =
    Seq(2, 3, 4, 6, 8, 12, 16, 24, 36, 48, 72, 96, 120, 168, 240, 336)
      .map(_ * 3600000000L)
  private[graft] val PhaseBins = 8

  /** Light-curve period search — phase-dispersion minimization
    * (Stellingwerf 1978) over the fixed [[PeriodGridUs]] grid: for
    * each (object, trial period), fold the series into [[PhaseBins]]
    * integer phase bins and score the folding by Σ_b ⌊s_b²/n_b⌋
    * (s_b, n_b = per-bin flux sum/count in exact cents). Minimizing
    * within-bin variance ≡ maximizing that sum, and the floor
    * surrogate keeps the argmax in pure integer space — bit-identical
    * across engines, no IEEE accumulation anywhere.
    *
    * PRECONDITION for the exact-integer claim: s_b² must stay inside
    * a signed 64-bit long, i.e. |s_b| < 2^31.5 ≈ 3.04e9 cents per
    * (object, period, bin). Series whose per-bin flux sums exceed
    * that (≳30M observations of one object at ~100-cent flux) need
    * the per-bin MEAN-based dispersion (⌊s_b/n_b⌋² · n_b) or a wider
    * cent scale before the squaring — re-derive, don't assume, at
    * ingest volumes beyond that bound.
    *
    * Scale shape: the explode is a CONSTANT ×|grid| row expansion
    * (×16 — the classic bounded explode, like q_hopping), every
    * aggregate is map-side combinable on keys whose cardinality grows
    * with the data (objects × grid × bins), and the final argmax is
    * one combinable max(struct(score, −period)) — no window, no
    * sort, two shuffles total. At 100 TB the grid rides along as a
    * literal; nothing is driver-side. */
  /** (user_id, best_p_us, score) — the periodogram argmax, factored
    * so the phase-fold query composes with it in one plan. */
  private def bestPeriods(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r19 opt round: ONE [[graft.functions.BlsCellFold]] pass keyed by
    // object alone (the blsCells discipline at [[PhaseBins]]) replaces
    // the ×16 explode + two-level (object, period, bin) aggregate —
    // the per-bin counts/sums land in 2·|grid| O(1) array increments
    // per series row, and the score fold runs over the |objects|-row
    // reduced frame. Bins with n = 0 have no row in the old narrow
    // aggregate and contribute IF(n > 0, ...) = 0 here; all sums are
    // exact int64, so the scores are bit-identical.
    val folded = series(s, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(graft.functions.BlsFold
        .blsCellFold($"tus", $"xc", PeriodGridUs, PhaseBins).as("cs"))
      .select($"user_id", explode($"cs").as("c"))
    folded
      .select($"user_id", $"c.p_us".as("p_us"),
        expr("aggregate(zip_with(c.sbs, c.nbs, (s, n) -> " +
          "IF(n > 0, (s * s) DIV n, CAST(0 AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("score"))
      .groupBy($"user_id")
      .agg(max(struct($"score", (-$"p_us").as("negp"))).as("b"))
      .select($"user_id", (-$"b.negp").as("best_p_us"),
        $"b.score".as("score"))
  }

  /** Bench watch: regresses silently if the bounded explode or its fold
    * discipline breaks. */
  def qPeriodogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bestPeriods(s, dir).orderBy($"user_id")
  }

  /** Phase-folded light curve at each object's best period — the step
    * an astronomer runs right after the period search: fold every
    * observation at [[bestPeriods]]' argmax and bin the phase into
    * [[PhaseBins]] buckets, reporting per-bin count and exact integer
    * flux statistics (sum / min / max of the cent-scaled flux; a mean
    * is derivable and a variance needs only one more integer column).
    *
    * Scale shape: the series is scanned twice by construction (the
    * period must be known before folding), but the second pass joins
    * against the tiny per-object period table — an equi-join on the
    * SAME key the final aggregate groups by, so the join's shuffle is
    * the aggregate's shuffle (and at test scale Catalyst broadcasts
    * the period side outright). Bin math is the periodogram's integer
    * phase formula, so the oracle composes the same CTEs. */
  def qPeriodFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = PhaseBins
    val best = bestPeriods(s, dir).select($"user_id", $"best_p_us")
    series(s, dir)
      .filter($"user_id".isNotNull)
      .join(best, Seq("user_id"))
      .withColumn("bin", expr(s"((tus % best_p_us) * $nb) DIV best_p_us"))
      .groupBy($"user_id", $"bin")
      .agg(count(lit(1)).as("n"), sum($"xc").as("sum_xc"),
        min($"xc").as("min_xc"), max($"xc").as("max_xc"))
      .orderBy($"user_id", $"bin")
  }

  // ---------------------------------------------------------------
  /** Phase resolution of the Lomb–Scargle trig lookup (bins per
    * cycle) and the fixed-point scale of its table entries. */
  private[graft] val LsBins = 512
  private[graft] val LsTrigScale = 10000L

  /** The fixed-point trig tables: cos/sin of the [[LsBins]] phase-bin
    * centers, scaled ×[[LsTrigScale]] and rounded to integers ONCE in
    * Scala — then spliced as LITERALS into both the Spark plan
    * (typedLit + element_at) and the DuckDB oracle (a zipped-unnest
    * CTE), so neither engine's libm is ever consulted and the two
    * sides agree bit-for-bit by construction (the house cross-engine
    * trig discipline: a lookup, not a call). */
  private[graft] val LsCosTab: Seq[Long] = (0 until LsBins).map(b =>
    math.round(math.cos(2.0 * math.Pi * b / LsBins) * LsTrigScale))
  private[graft] val LsSinTab: Seq[Long] = (0 until LsBins).map(b =>
    math.round(math.sin(2.0 * math.Pi * b / LsBins) * LsTrigScale))

  /** Generalized Lomb–Scargle periodogram per object (Zechmeister &
    * Kürster 2009's floating-mean form, unweighted — per-point
    * weights drop in by swapping the count/sum statistics for
    * weighted ones) over the same fixed [[PeriodGridUs]] grid as
    * [[qPeriodogram]]'s PDM: the published LSST period-search
    * statistic for irregular cadence, sensitive to sinusoidal signals
    * PDM's step-binning smears. Per (object, period): phase quantized
    * to [[LsBins]] integer bins (`(tus % p)·B DIV p` — non-negative,
    * so DIV ≡ `//`), cos/sin from the fixed-point tables, and the
    * NINE sufficient statistics (n, Σx, Σx², Σc, Σs, Σxc, Σxs, Σc²,
    * Σs², Σcs) reduced as EXACT integer sums — reduction order can
    * never drift the hash. The n-scaled centered moments (e.g.
    * CCn = n·Σc² − (Σc)²) stay exact int64; the binding bound is
    * XXn = n·Σx² − (Σx)² ≤ n²·x²max, so the precondition is
    * n·|x|max < 3·10⁹ — e.g. |x| ≤ 10⁵ c100 at n ≤ 10⁴ epochs
    * (the trig moments are far looser: ≤ 2n²·10⁸ < 2⁶³ for any
    * n ≤ 10⁵). Int64 is kept deliberately over widening: int64→
    * double is single-rounding in BOTH engines at any magnitude,
    * unlike the >2⁶⁴ decimal/hugeint gotcha, and the floating-point
    * chain below hashes. [[qHarmonicFit]] reads the same sums under
    * the same precondition. The GLS power
    * P = (SS·XC² − 2·CS·XC·XS + CC·XS²) / (XX·(CC·SS − CS²)) ∈ [0,1]
    * is ONE fixed IEEE chain over those exact integers — identical
    * tree both sides, so even the doubles hash-match. Argmax over the
    * grid by (power desc, period asc); degenerate cells (zero flux
    * variance or singular trig normal matrix) are excluded before the
    * argmax on a float guard computed by the same chain.
    *
    * Scale shape: identical to [[qPeriodogram]] — a constant ×16 grid
    * explode, per-row O(1) table lookups inside codegen, ONE
    * combinable (object, period) aggregate, then the argmax on the
    * |objects|×16 reduced frame. Nothing driver-side, no window over
    * raw rows.
    *
    * Bench watch: regresses if the trig lookup leaves codegen or the
    * x16 explode stops combining map-side. */
  def qLombScargle(s: SparkSession, dir: String): DataFrame =
    lombScargleOver(series(s, dir))

  /** Per-(object, trial period) GLS sufficient statistics, n-scaled
    * centered moments, and power — the frame [[lombScargleOver]] and
    * [[qHarmonicFit]] both read. Rows whose normal matrix or flux
    * variance is degenerate carry a null power and are filtered. */
  private[graft] def lsPowerFrame(ser: DataFrame): DataFrame =
    lsPowerFrameBy(ser, Seq("user_id"))

  /** The grid-explode + phase-bin + trig-lookup + NINE-exact-sum
    * stage alone — the shared front half of [[lsPowerFrameBy]] and
    * [[qMultibandGls]] (which pivots the per-band sums instead of
    * running the single-series power chain). */
  private[graft] def lsSufFrameBy(ser: DataFrame,
    keys: Seq[String]): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    // r19 opt round: ONE [[graft.functions.GlsSufFold]] pass keyed by
    // the series key alone (the blsCells discipline) — per series row
    // one group probe and a 16-iteration tight loop of trig-table
    // lookups + integer multiply-adds, instead of the old ×16 grid
    // explode whose every exploded row paid a (key, period) hash probe
    // + 10 aggregate updates. The fold reads the SAME Scala trig
    // tables the old plan spliced via typedLit/element_at and
    // accumulates the identical exact int64 sums (order-free), so the
    // frame is bit-identical; the ×16 explode now runs on the
    // |keys|-row reduced frame.
    ser
      .filter($"user_id".isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.BlsFold.glsSufFold(
        $"tus", $"xc", PeriodGridUs, LsBins, LsCosTab, LsSinTab).as("cs"))
      .select(keys.map(col) :+ explode($"cs").as("c"): _*)
      .select(keys.map(col) ++ Seq($"c.p_us".as("p_us"), $"c.n".as("n"),
        $"c.sx".as("sx"), $"c.sxx".as("sxx"), $"c.sc".as("sc"),
        $"c.ss".as("ss"), $"c.sxc".as("sxc"), $"c.sxs".as("sxs"),
        $"c.scc".as("scc"), $"c.sss".as("sss"), $"c.scs".as("scs")): _*)
  }

  /** [[lsPowerFrame]] generalized to a composite series key: the
    * per-(object, band) form ([[qLombScargleBand]]) appends `band` to
    * the aggregation key and reuses the identical grid / trig-table /
    * sufficient-sum / power chain — same int64 precondition, same
    * single combinable shuffle, key cardinality ×|bands|. */
  private[graft] def lsPowerFrameBy(ser: DataFrame,
    keys: Seq[String]): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    lsSufFrameBy(ser, keys)
      .withColumn("ccn", $"n" * $"scc" - $"sc" * $"sc")
      .withColumn("ssn", $"n" * $"sss" - $"ss" * $"ss")
      .withColumn("csn", $"n" * $"scs" - $"sc" * $"ss")
      .withColumn("xcn", $"n" * $"sxc" - $"sx" * $"sc")
      .withColumn("xsn", $"n" * $"sxs" - $"sx" * $"ss")
      .withColumn("xxn", $"n" * $"sxx" - $"sx" * $"sx")
      // the trig-scale factors cancel exactly between num and den;
      // products like CC·SS overflow int64, so the one IEEE chain
      // starts here — every input an exact int64, single-rounding on
      // both engines
      .withColumn("num_d",
        $"ssn".cast("double") * $"xcn".cast("double") * $"xcn".cast("double") -
          lit(2.0) * $"csn".cast("double") * $"xcn".cast("double") *
            $"xsn".cast("double") +
          $"ccn".cast("double") * $"xsn".cast("double") * $"xsn".cast("double"))
      .withColumn("den_d",
        $"xxn".cast("double") *
          ($"ccn".cast("double") * $"ssn".cast("double") -
            $"csn".cast("double") * $"csn".cast("double")))
      .withColumn("ls_power", when($"den_d" > 0.0, $"num_d" / $"den_d"))
      .filter($"ls_power".isNotNull)
  }

  /** Plan body over any (user_id, tus, xc) series frame — factored so
    * the spec can drive a planted sinusoid through the real plan. */
  private[graft] def lombScargleOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    lsPowerFrame(ser).groupBy($"user_id")
      .agg(max($"n").as("n_epochs"),
        max(struct($"ls_power", (-$"p_us").as("negp"))).as("bst"))
      .select($"user_id", $"n_epochs", (-$"bst.negp").as("best_p_us"),
        $"bst.ls_power".as("ls_power"))
      .orderBy($"user_id")
  }

  /** Oracle twin: the SAME spliced trig literals (zipped unnest),
    * the same exact integer statistics, the identical IEEE chain. */
  /** Shared GLS CTE prefix — series, period grid, trig tables, phase
    * bin, and the nine sufficient sums (CTE `a`). ONE copy
    * interpolated by [[qLombScargleSql]], [[qHarmonicFitSql]] and
    * [[qPeriodicCandidatesSql]] so the sufficient-statistic text can
    * never drift between the three oracles. */
  private[graft] val lsSufCtes: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |trig AS (SELECT unnest(range($LsBins)) AS b,
       |    unnest([${LsCosTab.mkString(", ")}]) AS c,
       |    unnest([${LsSinTab.mkString(", ")}]) AS si),
       |ph AS (SELECT user_id, p_us, xc,
       |    CAST(((tus % p_us) * $LsBins) // p_us AS BIGINT) AS b
       |  FROM ev CROSS JOIN grid),
       |a AS (SELECT user_id, p_us, COUNT(*) AS n,
       |    CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(xc*xc) AS BIGINT) AS sxx,
       |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(si) AS BIGINT) AS ss,
       |    CAST(SUM(xc*c) AS BIGINT) AS sxc, CAST(SUM(xc*si) AS BIGINT) AS sxs,
       |    CAST(SUM(c*c) AS BIGINT) AS scc, CAST(SUM(si*si) AS BIGINT) AS sss,
       |    CAST(SUM(c*si) AS BIGINT) AS scs
       |  FROM ph JOIN trig USING (b) GROUP BY 1, 2)""".stripMargin
  }

  /** [[lsSufCtes]] extended through the GLS power and its per-object
    * argmax rank (`pw`, `r`) — the chain [[qLombScargleSql]] and
    * [[qPeriodicCandidatesSql]] share verbatim. */
  private[graft] val lsPowerCtes: String =
    s"""$lsSufCtes,
       |m AS (SELECT user_id, p_us, n,
       |    n*scc - sc*sc AS ccn, n*sss - ss*ss AS ssn,
       |    n*scs - sc*ss AS csn, n*sxc - sx*sc AS xcn,
       |    n*sxs - sx*ss AS xsn, n*sxx - sx*sx AS xxn
       |  FROM a),
       |p AS (SELECT user_id, p_us, n,
       |    CAST(ssn AS DOUBLE)*CAST(xcn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |      - CAST(2.0 AS DOUBLE)*CAST(csn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |        *CAST(xsn AS DOUBLE)
       |      + CAST(ccn AS DOUBLE)*CAST(xsn AS DOUBLE)*CAST(xsn AS DOUBLE)
       |      AS num_d,
       |    CAST(xxn AS DOUBLE)
       |      * (CAST(ccn AS DOUBLE)*CAST(ssn AS DOUBLE)
       |        - CAST(csn AS DOUBLE)*CAST(csn AS DOUBLE)) AS den_d
       |  FROM m),
       |pw AS (SELECT user_id, p_us, n,
       |    CASE WHEN den_d > CAST(0.0 AS DOUBLE)
       |      THEN num_d / den_d END AS ls_power
       |  FROM p),
       |r AS (SELECT user_id, p_us, n, ls_power, ROW_NUMBER() OVER (
       |    PARTITION BY user_id ORDER BY ls_power DESC, p_us) AS rn
       |  FROM pw WHERE ls_power IS NOT NULL)""".stripMargin

  val qLombScargleSql: String =
    s"""WITH $lsPowerCtes
       |SELECT user_id, n AS n_epochs, p_us AS best_p_us, ls_power
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** F-statistic floor of the [[qGlsFstat]] significance flag —
    * binds on the test corpora (3/15 objects at sf0.001, 45/150 at
    * sf0.01). */
  private[graft] val GlsFMin = 4.0

  /** Degrees-of-freedom-aware GLS significance — the F-statistic
    * reading of the periodogram peak (Schwarzenberg-Czerny 1998's
    * empirical-periodogram distribution; the quantity every survey
    * quotes beside a detected period): F = ((N−3)/2)·P/(1−P), the
    * explained-to-residual variance ratio on (2, N−3) dof, so two
    * objects with the SAME raw power but different epoch counts rank
    * differently — the sparse series is the less significant one, a
    * distinction [[LsPowerMin]]-style raw-power gates cannot make.
    * Deliberately libm-free (the engine's digit-count-for-ln
    * discipline): F is one fixed IEEE chain over the already
    * hash-exact `ls_power` double and the exact integer epoch count —
    * the analytic (1−P)^((N−3)/2) false-alarm tail it orders by would
    * need cross-engine `pow`, whose last-ulp behavior the two libms
    * do not share. A perfect fit (P = 1, unbounded F) carries a null.
    *
    * Scale shape: [[qLombScargle]]'s reduced per-object frame plus
    * two per-row expressions — nothing new shuffles.
    *
    * Bench watch: must bench as its parent one-shuffle shape (the GLS
    * reduced frame + per-row math). */
  def qGlsFstat(s: SparkSession, dir: String): DataFrame =
    glsFstatOver(series(s, dir))

  /** Gate body over any (user_id, tus, xc) series frame — factored so
    * the spec can plant series with equal power but different epoch
    * counts through the real plan. */
  private[graft] def glsFstatOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    lombScargleOver(ser)
      .withColumn("f_val", when($"ls_power" < 1.0 && $"n_epochs" > 3,
        (($"n_epochs" - 3).cast("double") * $"ls_power") /
          (lit(2.0) * (lit(1.0) - $"ls_power"))))
      .withColumn("significant",
        coalesce(($"f_val" >= GlsFMin).cast("int"), lit(0)))
  }

  /** Oracle twin: ONE copy of the GLS power chain ([[lsPowerCtes]])
    * + the identical F chain over its argmax row. */
  val qGlsFstatSql: String =
    s"""WITH $lsPowerCtes,
       |b AS (SELECT user_id, n AS n_epochs, p_us AS best_p_us, ls_power,
       |    CASE WHEN ls_power < CAST(1.0 AS DOUBLE) AND n > 3 THEN
       |      (CAST(n - 3 AS DOUBLE) * ls_power) /
       |        (CAST(2.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - ls_power))
       |    END AS f_val
       |  FROM r WHERE rn = 1)
       |SELECT user_id, n_epochs, best_p_us, ls_power, f_val,
       |  COALESCE(CAST(f_val >= CAST($GlsFMin AS DOUBLE) AS INT), 0)
       |    AS significant
       |FROM b ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Harmonic model readout at each object's best GLS period — the
    * step after [[qLombScargle]]'s argmax, as [[qPeriodFold]] is to
    * the PDM search: solve the floating-mean least-squares sinusoid
    * x ≈ m + α·cos θ + β·sin θ from the SAME nine sufficient sums
    * (normal-equation solution — α, β, amplitude √(α²+β²) and mean,
    * all in c100 flux units). The two coefficients replace the
    * conventional (amplitude, phase) pair so no atan2 is ever called
    * — phase is derivable downstream and atan2 is exactly the
    * cross-engine libm call the fixed-point discipline exists to
    * avoid. All outputs are IEEE chains over exact int64 sums,
    * identical tree both sides — hash-exact.
    *
    * Scale shape: the power frame is computed twice (argmax then
    * readout — the [[qPeriodFold]] documented trade: the period must
    * be known before fitting), but the second pass joins the tiny
    * per-object argmax keys against the REDUCED |objects|×16 frame,
    * so the extra cost is one more bounded corpus explode, no new
    * shuffle shape. */
  def qHarmonicFit(s: SparkSession, dir: String): DataFrame =
    harmonicFitOver(series(s, dir))

  private[graft] def harmonicFitOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val pf = lsPowerFrame(ser)
    val best = pf.groupBy($"user_id")
      .agg(max(struct($"ls_power", (-$"p_us").as("negp"))).as("bst"))
      .select($"user_id", (-$"bst.negp").as("p_us"))
    pf.join(best, Seq("user_id", "p_us"))
      .withColumn("dn_d", $"ccn".cast("double") * $"ssn".cast("double") -
        $"csn".cast("double") * $"csn".cast("double"))
      .withColumn("as_d", ($"ssn".cast("double") * $"xcn".cast("double") -
        $"csn".cast("double") * $"xsn".cast("double")) / $"dn_d")
      .withColumn("bs_d", ($"ccn".cast("double") * $"xsn".cast("double") -
        $"csn".cast("double") * $"xcn".cast("double")) / $"dn_d")
      .withColumn("alpha_c100", $"as_d" * expr("CAST(10000 AS DOUBLE)"))
      .withColumn("beta_c100", $"bs_d" * expr("CAST(10000 AS DOUBLE)"))
      .select($"user_id", $"p_us".as("best_p_us"), $"n".as("n_epochs"),
        $"alpha_c100", $"beta_c100",
        sqrt($"alpha_c100" * $"alpha_c100" +
          $"beta_c100" * $"beta_c100").as("amp_c100"),
        (($"sx".cast("double") - $"as_d" * $"sc".cast("double") -
          $"bs_d" * $"ss".cast("double")) / $"n".cast("double"))
          .as("mean_c100"))
      .orderBy($"user_id")
  }

  /** Oracle twin: the LS CTEs extended with the raw sums, the
    * identical nested coefficient chains. */
  val qHarmonicFitSql: String = {
    s"""WITH $lsSufCtes,
       |m AS (SELECT user_id, p_us, n, sx, sc, ss,
       |    n*scc - sc*sc AS ccn, n*sss - ss*ss AS ssn,
       |    n*scs - sc*ss AS csn, n*sxc - sx*sc AS xcn,
       |    n*sxs - sx*ss AS xsn, n*sxx - sx*sx AS xxn
       |  FROM a),
       |p AS (SELECT *,
       |    CAST(ssn AS DOUBLE)*CAST(xcn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |      - CAST(2.0 AS DOUBLE)*CAST(csn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |        *CAST(xsn AS DOUBLE)
       |      + CAST(ccn AS DOUBLE)*CAST(xsn AS DOUBLE)*CAST(xsn AS DOUBLE)
       |      AS num_d,
       |    CAST(xxn AS DOUBLE)
       |      * (CAST(ccn AS DOUBLE)*CAST(ssn AS DOUBLE)
       |        - CAST(csn AS DOUBLE)*CAST(csn AS DOUBLE)) AS den_d
       |  FROM m),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY num_d / den_d DESC, p_us) AS rn
       |  FROM p WHERE den_d > CAST(0.0 AS DOUBLE)),
       |b AS (SELECT * FROM r WHERE rn = 1),
       |f1 AS (SELECT *,
       |    CAST(ccn AS DOUBLE)*CAST(ssn AS DOUBLE)
       |      - CAST(csn AS DOUBLE)*CAST(csn AS DOUBLE) AS dn_d
       |  FROM b),
       |f2 AS (SELECT *,
       |    (CAST(ssn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |      - CAST(csn AS DOUBLE)*CAST(xsn AS DOUBLE)) / dn_d AS as_d,
       |    (CAST(ccn AS DOUBLE)*CAST(xsn AS DOUBLE)
       |      - CAST(csn AS DOUBLE)*CAST(xcn AS DOUBLE)) / dn_d AS bs_d
       |  FROM f1),
       |f3 AS (SELECT user_id, p_us, n, sx, sc, ss, as_d, bs_d,
       |    as_d * CAST(10000 AS DOUBLE) AS alpha_c100,
       |    bs_d * CAST(10000 AS DOUBLE) AS beta_c100
       |  FROM f2)
       |SELECT user_id, p_us AS best_p_us, CAST(n AS BIGINT) AS n_epochs,
       |  alpha_c100, beta_c100,
       |  SQRT(alpha_c100 * alpha_c100 + beta_c100 * beta_c100) AS amp_c100,
       |  (CAST(sx AS DOUBLE) - as_d * CAST(sc AS DOUBLE)
       |    - bs_d * CAST(ss AS DOUBLE)) / CAST(n AS DOUBLE) AS mean_c100
       |FROM f3 ORDER BY user_id""".stripMargin
  }

  val qPeriodogramSql: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |b AS (SELECT user_id, p_us, ((tus % p_us) * $PhaseBins) // p_us AS bin,
       |        COUNT(*) AS n, CAST(SUM(xc) AS BIGINT) AS sb
       |      FROM ev CROSS JOIN grid GROUP BY 1, 2, 3),
       |sc AS (SELECT user_id, p_us, CAST(SUM((sb * sb) // n) AS BIGINT) AS score
       |       FROM b GROUP BY 1, 2),
       |r AS (SELECT user_id, p_us, score, ROW_NUMBER() OVER (
       |        PARTITION BY user_id ORDER BY score DESC, p_us) AS rn
       |      FROM sc)
       |SELECT user_id, p_us AS best_p_us, score FROM r WHERE rn = 1
       |ORDER BY user_id""".stripMargin
  }

  /** Oracle twin of [[qPeriodFold]]: the periodogram CTEs compose with
    * one more join + aggregate, the same integer phase-bin formula. */
  val qPeriodFoldSql: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |b AS (SELECT user_id, p_us, ((tus % p_us) * $PhaseBins) // p_us AS bin,
       |        COUNT(*) AS n, CAST(SUM(xc) AS BIGINT) AS sb
       |      FROM ev CROSS JOIN grid GROUP BY 1, 2, 3),
       |sc AS (SELECT user_id, p_us, CAST(SUM((sb * sb) // n) AS BIGINT) AS score
       |       FROM b GROUP BY 1, 2),
       |r AS (SELECT user_id, p_us, score, ROW_NUMBER() OVER (
       |        PARTITION BY user_id ORDER BY score DESC, p_us) AS rn
       |      FROM sc),
       |best AS (SELECT user_id, p_us AS best_p_us FROM r WHERE rn = 1)
       |SELECT ev.user_id,
       |  ((ev.tus % best.best_p_us) * $PhaseBins) // best.best_p_us AS bin,
       |  COUNT(*) AS n, CAST(SUM(ev.xc) AS BIGINT) AS sum_xc,
       |  MIN(ev.xc) AS min_xc, MAX(ev.xc) AS max_xc
       |FROM ev JOIN best ON best.user_id = ev.user_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Phase bins and maximum box width (in bins) of the BLS search:
    * 16 bins resolve transits down to 1/16 of the period; widths
    * 1–3 cover fractional durations 6–19% — the planet/eclipse range
    * the published algorithm targets. */
  private[graft] val BlsBins = 16
  private[graft] val BlsMaxW = 3

  /** Box-least-squares transit search (Kovács, Zucker & Mazeh 2002)
    * over the fixed [[PeriodGridUs]] grid — the THIRD period-finding
    * family beside [[qPeriodogram]]'s PDM (step-binning) and
    * [[qLombScargle]]'s GLS (sinusoid): BLS fits a two-level box —
    * a flat baseline with one contiguous low (or high) phase window —
    * so it finds the eclipses and transits a sinusoid model smears.
    * Per (object, trial period): phase quantized to [[BlsBins]]
    * integer bins, per-bin count and exact-cent flux sum folded as
    * 2·[[BlsBins]] CONDITIONAL integer aggregates of ONE combinable
    * (object, period) shuffle (the [[qMultibandGls]] pivot idiom —
    * never a per-bin key join); every circular box window (start s,
    * width w ≤ [[BlsMaxW]]) is then a fixed integer expression over
    * those columns. The explained-variance ratio of the two-level fit
    * reduces to P = D² / (n_W·(n−n_W)·XXn) with D = n·s_W − n_W·Σx
    * and XXn = n·Σx² − (Σx)² — all EXACT int64 under the GLS
    * precondition n·|x|max < 3·10⁹ — evaluated as ONE fixed IEEE
    * chain, so P ∈ [0,1] hashes bit-exact cross-engine. Degenerate
    * windows (empty, full, or zero flux variance) carry a −1 sentinel
    * and can never win; the per-row window argmax is a single
    * `greatest` over the 48 window structs (ties → lowest start,
    * then narrowest), the per-object argmax one combinable
    * max(struct) over the |objects|×16 reduced frame (ties → shortest
    * period). Output: best period, window start/width, power, and the
    * box depth (in-window mean − out-of-window mean, c100 — negative
    * = a transit-like dip) as the same fixed IEEE chain.
    *
    * Scale shape: identical to the GLS — a constant ×16 grid explode,
    * one combinable wide aggregate (35 int64 columns), then per-row
    * expressions and an argmax on the reduced frame. No joins, no
    * windows over raw rows, nothing driver-side.
    *
    * Bench watch: regresses if the window argmax (one greatest over
    * 48 structs) ever becomes a join or window. */
  def qBls(s: SparkSession, dir: String): DataFrame =
    blsOver(series(s, dir))

  /** Plan body over any (user_id, tus, xc) series frame — factored so
    * the spec can drive a planted transit through the real plan.
    * `dipOnly` restricts the per-row window argmax to DIP boxes
    * (D = n·s_W − n_W·Σx < 0, i.e. in-window mean below baseline —
    * the box orientation the published transit search actually
    * fits); bright boxes then ride the −1 sentinel like any other
    * ineligible window, so an object surfaces only through its best
    * eclipse-shaped window (and drops out entirely when no dip
    * window exists, matching the oracle's NULL-filtered CASE). */
  private[graft] def blsOver(ser: DataFrame,
    dipOnly: Boolean = false): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val nb = BlsBins
    val cells = blsCells(ser)
    val wins = for { w <- 1 to BlsMaxW; st <- 0 until nb } yield {
      val nw = (0 until w).map(o => col(s"nb${(st + o) % nb}"))
        .reduce(_ + _)
      val sw = (0 until w).map(o => col(s"sb${(st + o) % nb}"))
        .reduce(_ + _)
      val d = $"n" * sw - nw * $"sx"
      val eligible0 = nw > lit(0L) && nw < $"n" && $"xxn" > 0
      val eligible = if (dipOnly) eligible0 && d < 0 else eligible0
      val power = when(eligible,
        (d.cast("double") * d.cast("double")) /
          ((nw.cast("double") * ($"n" - nw).cast("double")) *
            $"xxn".cast("double"))).otherwise(lit(-1.0))
      struct(power.as("pw"), lit(-st).as("negs"), lit(-w).as("negw"),
        nw.as("nw"), sw.as("sw"))
    }
    // Sentinel (pw = −1) rows flow INTO the argmax and are filtered on
    // the aggregate's OUTPUT (r19 opt round): a sentinel can only win
    // when the object has no eligible window anywhere (then the
    // post-agg filter drops the object, exactly as the old pre-agg
    // filter dropped all its rows), and tie-breaks never reach the
    // depth field (negp is unique per row). Filtering the reduced
    // frame instead of the cell frame keeps the optimizer's predicate
    // pushdown + constraint propagation off the 48-struct `greatest`
    // tree — with the r19 cell fold the pushed-down substituted
    // sentinel predicate made CONSTRAINT PROPAGATION blow the driver
    // heap at plan time (measured: 8 GB OOM at sf0.001; with the
    // filter above the argmax the plan builds in under 2 s).
    val depth =
      $"bw.sw".cast("double") / $"bw.nw".cast("double") -
        ($"sx" - $"bw.sw").cast("double") /
          ($"n" - $"bw.nw").cast("double")
    cells.withColumn("bw", greatest(wins: _*))
      .groupBy($"user_id")
      .agg(max(struct($"bw.pw".as("pw"), (-$"p_us").as("negp"),
        $"bw.negs".as("negs"), $"bw.negw".as("negw"), $"n".as("nn"),
        depth.as("dep"))).as("bst"))
      .filter($"bst.pw" >= 0.0)
      .select($"user_id", $"bst.nn".as("n_epochs"),
        (-$"bst.negp").as("best_p_us"),
        (-$"bst.negs").cast("long").as("w_start"),
        (-$"bst.negw").cast("long").as("w_width"),
        $"bst.pw".as("bls_power"), $"bst.dep".as("depth_c100"))
      .orderBy($"user_id")
  }

  /** The per-(object, trial period) BLS cell frame — totals plus the
    * 2·[[BlsBins]] per-bin sums, the ONE corpus-side aggregate
    * [[blsOver]] and [[secondaryEclipseOver]] both read. Since r19's
    * optimization round the fold is [[graft.functions.BlsCellFold]]:
    * ONE pass over the series keyed by object alone — each row pays
    * one group probe and 16 O(1) bin increments instead of the old
    * ×16 period explode into 2·[[BlsBins]] CONDITIONAL sums (whose
    * per exploded row cost was the full 32-branch `when` scan; the
    * old wide shape itself had already A/B-beaten a narrow
    * (object, period, bin)-key aggregate). The fold's accumulators
    * are the identical exact int64 sums with the identical
    * `((tus % p) * nb) DIV p` bin arithmetic, so the emitted cells
    * are bit-equal under any merge order; the ×16 explode now runs
    * AFTER the aggregate, on the |objects|-row reduced frame.
    * Measured (in-suite sf0.1 medians, r19 opt round):
    * q_transit_recovery 7.2 → 2.5 s, q_eb_recovery 6.6 → 2.2 s,
    * q_transit_candidates 5.1 → 1.6 s, q_secondary_eclipse
    * 3.0 → 1.6 s. */
  private[graft] def blsCells(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val nb = BlsBins
    val folded = ser
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(graft.functions.BlsFold
        .blsCellFold($"tus", $"xc", PeriodGridUs, nb).as("cs"))
      .select($"user_id", explode($"cs").as("c"))
    val cols = Seq($"user_id", $"c.p_us".as("p_us"), $"c.n".as("n"),
      $"c.sx".as("sx"), $"c.sxx".as("sxx")) ++
      (0 until nb).flatMap(i => Seq(
        $"c.nbs".getItem(i).as(s"nb$i"),
        $"c.sbs".getItem(i).as(s"sb$i")))
    folded.select(cols: _*)
      .withColumn("xxn", $"n" * $"sxx" - $"sx" * $"sx")
  }

  /** Oracle twin: per-(object, period, bin) sums joined to a 48-row
    * window table by the circular-offset predicate — the same
    * (bin, window) membership SET the plan's pivot expressions
    * enumerate — then the identical integer statistics and IEEE
    * chain; windows whose bins are all empty are absent here and
    * sentinel-filtered there. ONE copy of the CTE chain, spliceable
    * with an extra window-eligibility predicate — [[qBlsSql]] uses it
    * unrestricted, [[qTransitCandidatesSql]] with the dip restriction
    * `AND d < 0` (mirroring `blsOver(dipOnly = true)`). */
  private def blsCtesFor(dipPred: String): String =
    blsCtesOver(dipPred,
      """SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(ROUND(value*100) AS BIGINT) AS xc
        |  FROM events WHERE user_id IS NOT NULL""".stripMargin)

  /** [[blsCtesFor]] generalized to an arbitrary `ev` source text —
    * the hook [[qTransitRecoverySql]] uses to run the IDENTICAL BLS
    * chain over the injection-augmented series (the planted-fixture
    * discipline promoted to a registered query). */
  private def blsCtesOver(dipPred: String, evSql: String): String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""ev AS ($evSql),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |ph AS (SELECT user_id, p_us, xc,
       |    CAST(((tus % p_us) * $BlsBins) // p_us AS BIGINT) AS b
       |  FROM ev CROSS JOIN grid),
       |tot AS (SELECT user_id, p_us, COUNT(*) AS n,
       |    CAST(SUM(xc) AS BIGINT) AS sx,
       |    CAST(SUM(xc*xc) AS BIGINT) AS sxx
       |  FROM ph GROUP BY 1, 2),
       |bins AS (SELECT user_id, p_us, b, COUNT(*) AS nb,
       |    CAST(SUM(xc) AS BIGINT) AS sb
       |  FROM ph GROUP BY 1, 2, 3),
       |wins AS (SELECT s.range AS ws, w.range + 1 AS ww
       |  FROM range($BlsBins) s CROSS JOIN range($BlsMaxW) w),
       |wagg AS (SELECT user_id, p_us, ws, ww,
       |    CAST(SUM(nb) AS BIGINT) AS nw, CAST(SUM(sb) AS BIGINT) AS sw
       |  FROM bins JOIN wins
       |    ON ((bins.b - wins.ws + $BlsBins) % $BlsBins) < wins.ww
       |  GROUP BY 1, 2, 3, 4),
       |p AS (SELECT w.user_id, w.p_us, w.ws, w.ww, w.nw, w.sw,
       |    t.n, t.sx, t.n * w.sw - w.nw * t.sx AS d,
       |    t.n * t.sxx - t.sx * t.sx AS xxn
       |  FROM wagg w JOIN tot t USING (user_id, p_us)),
       |pw AS (SELECT *, CASE WHEN nw > 0 AND nw < n AND xxn > 0$dipPred THEN
       |    (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) /
       |    ((CAST(nw AS DOUBLE) * CAST(n - nw AS DOUBLE))
       |      * CAST(xxn AS DOUBLE))
       |  END AS pwr FROM p),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY pwr DESC, p_us, ws, ww) AS rn
       |  FROM pw WHERE pwr IS NOT NULL)""".stripMargin
  }

  /** The shared per-object best-window readout over [[blsCtesFor]]'s
    * `r` frame. */
  private val blsBestSql: String =
    """SELECT user_id, CAST(n AS BIGINT) AS n_epochs, p_us AS best_p_us,
      |  CAST(ws AS BIGINT) AS w_start, CAST(ww AS BIGINT) AS w_width,
      |  pwr AS bls_power,
      |  CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
      |    - CAST(sx - sw AS DOUBLE) / CAST(n - nw AS DOUBLE) AS depth_c100
      |FROM r WHERE rn = 1""".stripMargin

  val qBlsSql: String =
    s"""WITH ${blsCtesFor("")}
       |$blsBestSql ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Transit-candidate gates: the object's best DIP box must explain
    * ≥ this fraction of its flux variance (BLS power), over ≥
    * [[TransitMinEpochs]] epochs. Both bind on the test corpora —
    * each gate alone passes more objects than the pair (5/15 at
    * sf0.001, 57/150 at sf0.01 through the pair). */
  private[graft] val TransitPowerMin = 0.08
  private[graft] val TransitMinEpochs = 60L

  /** Transit/eclipse candidate census — the composition gate the BLS
    * statistic exists to feed (the [[qPeriodicCandidates]] discipline
    * applied to the box family): an object qualifies when its best
    * ECLIPSE-SHAPED window — [[blsOver]] with `dipOnly`, so the
    * argmax runs over D < 0 boxes only and a bright-box variable
    * can't smuggle its brightening window past a depth cut — clears
    * [[TransitPowerMin]], its depth is negative (definitionally true
    * for a dip window; kept as the published predicate), and the
    * series has ≥ [[TransitMinEpochs]] epochs (shallow-box power is
    * meaningless on sparse series). Every gated value is the same
    * fixed IEEE chain on both engines, so the comparisons can never
    * disagree cross-engine.
    *
    * Scale shape: identical to [[qBls]] — the gate is a per-row
    * filter over the |objects|-row reduced frame; nothing new
    * shuffles.
    *
    * Bench watch: must bench ~q_bls; a blowup means the dip
    * restriction broke the single wide-aggregate shape. */
  def qTransitCandidates(s: SparkSession, dir: String): DataFrame =
    transitCandidatesOver(series(s, dir))

  /** Gate body over any (user_id, tus, xc) series frame — factored so
    * the spec can drive a planted eclipse (and a bright-box decoy)
    * through the real plan. */
  private[graft] def transitCandidatesOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    blsOver(ser, dipOnly = true)
      .filter($"bls_power" >= TransitPowerMin && $"depth_c100" < 0.0 &&
        $"n_epochs" >= TransitMinEpochs)
  }

  /** Oracle twin: ONE copy of the BLS CTE chain ([[blsCtesFor]]) with
    * the dip restriction spliced into the window-eligibility CASE,
    * then the same three threshold comparisons over the best-window
    * readout. */
  val qTransitCandidatesSql: String =
    s"""WITH ${blsCtesFor(" AND d < 0")},
       |best AS ($blsBestSql)
       |SELECT * FROM best
       |WHERE bls_power >= CAST($TransitPowerMin AS DOUBLE)
       |  AND depth_c100 < 0 AND n_epochs >= $TransitMinEpochs
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Secondary-to-primary depth ratio above which [[qSecondaryEclipse]]
    * flags an eclipsing-binary candidate — binds on the test corpora
    * (both flag states populated at both SFs: 2/15 flagged at
    * sf0.001, 42/150 at sf0.01). */
  private[graft] val EbRatioMin = 0.1

  /** Secondary-eclipse vetting — the step after a box detection that
    * separates an ECLIPSING BINARY from a planet candidate (the
    * published BLS follow-up: an EB shows a second dip half a period
    * from the primary, a transiting planet essentially none): per
    * object, at the best DIP window (the [[qTransitCandidates]]
    * argmax), read the box at the OPPOSITE phase — same width, start
    * shifted [[BlsBins]]/2 — and report both depths plus their ratio.
    * The opposite box's counts are the SAME [[blsCells]] conditional
    * columns the primary's window expressions read, so the secondary
    * readout adds per-row arithmetic, not a second corpus pass; an
    * empty or full opposite box carries a null secondary (no
    * measurement at antiphase). Depths and ratio are single IEEE
    * chains over exact int64; `eb_candidate` fires at ratio ≥
    * [[EbRatioMin]] (both depths negative ⇒ a ratio near 1 is a
    * twin dip).
    *
    * Scale shape: identical to [[qBls]] — the ONE wide combinable
    * aggregate, per-row window expressions (now carrying four more
    * integer fields), one argmax on the reduced frame.
    *
    * Bench watch: a blowup means the antiphase readout became a join
    * or a second pass. */
  def qSecondaryEclipse(s: SparkSession, dir: String): DataFrame =
    secondaryEclipseOver(series(s, dir))

  /** Plan body over any (user_id, tus, xc) series frame — factored so
    * the spec can plant a twin-dip binary and a lone-dip planet. */
  private[graft] def secondaryEclipseOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val nb = BlsBins
    val cells = blsCells(ser)
    val wins = for { w <- 1 to BlsMaxW; st <- 0 until nb } yield {
      def nwOf(start: Int) =
        (0 until w).map(o => col(s"nb${(start + o) % nb}")).reduce(_ + _)
      def swOf(start: Int) =
        (0 until w).map(o => col(s"sb${(start + o) % nb}")).reduce(_ + _)
      val (nw, sw) = (nwOf(st), swOf(st))
      val st2 = (st + nb / 2) % nb
      val (nw2, sw2) = (nwOf(st2), swOf(st2))
      val d = $"n" * sw - nw * $"sx"
      val power = when(nw > lit(0L) && nw < $"n" && $"xxn" > 0 && d < 0,
        (d.cast("double") * d.cast("double")) /
          ((nw.cast("double") * ($"n" - nw).cast("double")) *
            $"xxn".cast("double"))).otherwise(lit(-1.0))
      struct(power.as("pw"), lit(-st).as("negs"), lit(-w).as("negw"),
        nw.as("nw"), sw.as("sw"), nw2.as("nw2"), sw2.as("sw2"))
    }
    def depth(nw: Column, sw: Column) =
      sw.cast("double") / nw.cast("double") -
        ($"sx" - sw).cast("double") / ($"n" - nw).cast("double")
    // sentinel filter ABOVE the argmax, on the aggregate's output —
    // same reasoning (and the same measured plan-time OOM avoided) as
    // [[blsOver]]: a sentinel row wins only for objects with no
    // eligible dip window, which the post-agg filter then drops;
    // negp is unique per row, so tie-breaks never reach dep/sdep
    cells.withColumn("bw", greatest(wins: _*))
      .groupBy($"user_id")
      .agg(max(struct($"bw.pw".as("pw"), (-$"p_us").as("negp"),
        $"bw.negs".as("negs"), $"bw.negw".as("negw"), $"n".as("nn"),
        depth($"bw.nw", $"bw.sw").as("dep"),
        when($"bw.nw2" > 0L && $"bw.nw2" < $"n",
          depth($"bw.nw2", $"bw.sw2")).as("sdep"))).as("bst"))
      .filter($"bst.pw" >= 0.0)
      .select($"user_id", $"bst.nn".as("n_epochs"),
        (-$"bst.negp").as("best_p_us"),
        (-$"bst.negs").cast("long").as("w_start"),
        (-$"bst.negw").cast("long").as("w_width"),
        $"bst.pw".as("bls_power"), $"bst.dep".as("depth_c100"),
        $"bst.sdep".as("sec_depth_c100"),
        ($"bst.sdep" / $"bst.dep").as("sec_ratio"),
        coalesce((($"bst.sdep" / $"bst.dep") >= EbRatioMin).cast("int"),
          lit(0)).as("eb_candidate"))
      .orderBy($"user_id")
  }

  /** Oracle twin: the dip-restricted BLS CTE chain ([[blsCtesFor]],
    * one copy) with the opposite-phase box attached by ONE self-join
    * of `wagg` at (start + bins/2) — the relational reading of the
    * plan's extra window columns — then the identical depth/ratio
    * chains. A missing `wagg` row IS the empty opposite box (only
    * occupied windows exist there), so the LEFT JOIN's null matches
    * the plan's nw2 = 0 guard. */
  /** The dip-restricted BLS chain + antiphase self-join + depth/ratio
    * readout through CTE `fin`, parameterized over the `ev` source —
    * ONE copy shared by [[qSecondaryEclipseSql]] (raw events) and
    * [[qEbRecoverySql]] (the twin-dip-augmented series). */
  private def secondaryCtesOver(evSql: String): String =
    s"""${blsCtesOver(" AND d < 0", evSql)},
       |best AS (SELECT user_id, p_us, ws, ww, nw, sw, n, sx, pwr
       |  FROM r WHERE rn = 1),
       |sec AS (SELECT b.*, w2.nw AS nw2, w2.sw AS sw2
       |  FROM best b LEFT JOIN wagg w2 ON w2.user_id = b.user_id
       |    AND w2.p_us = b.p_us AND w2.ww = b.ww
       |    AND w2.ws = (b.ws + ${BlsBins / 2}) % $BlsBins),
       |dp AS (SELECT user_id, CAST(n AS BIGINT) AS n_epochs,
       |    p_us AS best_p_us, CAST(ws AS BIGINT) AS w_start,
       |    CAST(ww AS BIGINT) AS w_width, pwr AS bls_power,
       |    CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE)
       |      - CAST(sx - sw AS DOUBLE) / CAST(n - nw AS DOUBLE)
       |      AS depth_c100,
       |    CASE WHEN nw2 > 0 AND nw2 < n THEN
       |      CAST(sw2 AS DOUBLE) / CAST(nw2 AS DOUBLE)
       |        - CAST(sx - sw2 AS DOUBLE) / CAST(n - nw2 AS DOUBLE)
       |    END AS sec_depth_c100
       |  FROM sec),
       |fin AS (SELECT *, sec_depth_c100 / depth_c100 AS sec_ratio,
       |  COALESCE(CAST(sec_depth_c100 / depth_c100
       |    >= CAST($EbRatioMin AS DOUBLE) AS INT), 0) AS eb_candidate
       |  FROM dp)""".stripMargin

  private val blsStdEvSql: String =
    """SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(ROUND(value*100) AS BIGINT) AS xc
      |  FROM events WHERE user_id IS NOT NULL""".stripMargin

  val qSecondaryEclipseSql: String =
    s"""WITH ${secondaryCtesOver(blsStdEvSql)}
       |SELECT * FROM fin ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Injection grid of the eclipsing-binary vetting census: primary
    * depths (c100) × secondary-to-primary ratios (permille). The
    * ratios bracket [[EbRatioMin]] = 100‰: 0 is the planet-like
    * control (no secondary — flags there are the vetting's
    * false-positive rate against the corpus variability), 50 sits
    * under the threshold, 500 is an unmistakable binary (UNEQUAL
    * deliberately — equal twin dips alias the BLS argmax to P/2
    * perfectly and the "secondary" vanishes into the primary
    * window). Every injected value stays exact: depth·ratio is
    * divisible by 1000 for every grid cell. */
  private[graft] val EbInjDepths: Seq[Long] = Seq(4000L, 12000L)
  private[graft] val EbInjRatiosPm: Seq[Long] = Seq(0L, 50L, 500L)
  private[graft] val ebInjCells: Seq[(Long, Long, Long)] =
    for {
      (dp, di) <- EbInjDepths.zipWithIndex
      (rp, ri) <- EbInjRatiosPm.zipWithIndex
    } yield ((di * EbInjRatiosPm.size + ri).toLong, dp, rp)

  /** Injection-recovery census of the ECLIPSING-BINARY vetting — the
    * ground-truth telemetry for [[qSecondaryEclipse]]'s `eb_candidate`
    * flag (the [[qTransitRecovery]] discipline one step downstream:
    * that census grades the DETECTION gate, this one grades the
    * VETTING decision detection hands its candidates to): per grid
    * cell a primary box dip of the given depth is injected into every
    * real light curve AND a secondary dip of the given permille ratio
    * at the EXACT antiphase (start bin + [[BlsBins]]/2, same width —
    * the geometry the vetting reads), the augmented series runs
    * through the REAL [[secondaryEclipseOver]] readout plus the
    * transit gates, and the cell reports how many gated candidates
    * the vetting flagged as binaries. The ratio-0 row is the control:
    * its flags are pure false positives from corpus variability at
    * antiphase; the 500‰ row should flag nearly every recovered
    * candidate; 50‰ sits under [[EbRatioMin]] and must flag like the
    * control, not like the binary row.
    *
    * Scale shape: ONE corpus pass builds the augmented series (a
    * bounded ×6 explode, map-side), the readout is
    * [[qSecondaryEclipse]]'s one wide combinable aggregate over it,
    * the injected census is one distinct on the raw series attached
    * as a broadcast scalar, and the tallies/zero-fill run on the
    * 6-row cell literal.
    *
    * Bench watch: regresses if the injection explode stops combining
    * map-side or the census grows a second corpus pass. */
  def qEbRecovery(s: SparkSession, dir: String): DataFrame =
    ebRecoveryOver(series(s, dir))

  /** Census body over any (user_id, event_id, tus, xc) series frame —
    * factored so the spec can drive a constant-flux fixture (where
    * the vetting's answer is knowable exactly) through the real
    * plan. */
  private[graft] def ebRecoveryOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val nc = ebInjCells.size.toLong
    val nb = BlsBins
    val aug = ser
      .filter($"user_id".isNotNull)
      .withColumn("c", explode(typedLit(ebInjCells)))
      .withColumn("p_inj",
        element_at(typedLit(PeriodGridUs), ($"user_id" % 16).cast("int") + 1))
      .withColumn("off",
        (expr(s"((tus % p_inj) * $nb) DIV p_inj") -
          $"user_id" % nb + nb) % nb)
      .withColumn("w_inj", lit(1L) + $"user_id" % BlsMaxW)
      .withColumn("dip",
        when($"off" < $"w_inj", $"c._2")
          .when($"off" >= nb / 2 && $"off" < lit((nb / 2).toLong) + $"w_inj",
            expr("c._2 * c._3 DIV 1000"))
          .otherwise(lit(0L)))
      .select(($"user_id" * nc + $"c._1").as("user_id"), $"tus",
        ($"xc" - $"dip").as("xc"))
    val gated = secondaryEclipseOver(aug)
      .filter($"bls_power" >= TransitPowerMin && $"depth_c100" < 0.0 &&
        $"n_epochs" >= TransitMinEpochs)
      .withColumn("cell", $"user_id" % nc)
      .withColumn("orig", expr(s"user_id DIV $nc"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_gated"),
        sum($"eb_candidate".cast("long")).as("n_eb"),
        sum(when($"best_p_us" === element_at(typedLit(PeriodGridUs),
          ($"orig" % 16).cast("int") + 1), 1L).otherwise(0L)).as("n_exact"))
    val inj = ser.filter($"user_id".isNotNull)
      .agg(countDistinct($"user_id").as("n_injected"))
    ebInjCells.toDF("cell", "depth_c100", "ratio_pm")
      .join(gated, Seq("cell"), "left")
      .na.fill(0L, Seq("n_gated", "n_eb", "n_exact"))
      .crossJoin(broadcast(inj))
      .select($"depth_c100", $"ratio_pm", $"n_injected", $"n_gated",
        $"n_exact", $"n_eb",
        expr("1000 * n_eb DIV GREATEST(n_gated, 1)").as("eb_permille"))
      .orderBy($"depth_c100", $"ratio_pm")
  }

  /** Oracle twin: the twin-dip-augmented series spliced as the
    * secondary-eclipse CTE chain's `ev` source (ONE copy via
    * [[secondaryCtesOver]]), the same transit gates, then the cell
    * decode / zero-filled tallies. Parameterized over an extra source
    * predicate for the sampled entry (the transitRecoverySqlFrom
    * discipline). */
  private def ebRecoverySqlFrom(extraWhere: String): String = {
    val nc = ebInjCells.size
    val grid = PeriodGridUs.mkString(", ")
    val cellL = ebInjCells.map(_._1).mkString(", ")
    val depL = ebInjCells.map(_._2).mkString(", ")
    val ratL = ebInjCells.map(_._3).mkString(", ")
    val augEv =
      s"""SELECT b.user_id * $nc + c.cell AS user_id, b.tus,
         |    b.xc - (CASE WHEN off < w THEN c.dep
         |      WHEN off >= ${BlsBins / 2} AND off < ${BlsBins / 2} + w
         |        THEN c.dep * c.rpm // 1000
         |      ELSE 0 END) AS xc
         |  FROM (SELECT user_id, tus, xc,
         |      ((((tus % p_inj) * $BlsBins) // p_inj)
         |        - (user_id % $BlsBins) + $BlsBins) % $BlsBins AS off,
         |      1 + user_id % $BlsMaxW AS w
         |    FROM (SELECT user_id, epoch_us(ts) AS tus,
         |        CAST(ROUND(value*100) AS BIGINT) AS xc,
         |        list_extract([$grid],
         |          CAST(user_id % 16 AS INT) + 1) AS p_inj
         |      FROM events WHERE user_id IS NOT NULL$extraWhere)) b
         |  CROSS JOIN (SELECT unnest([$cellL]) AS cell,
         |      unnest([$depL]) AS dep, unnest([$ratL]) AS rpm) c""".stripMargin
    s"""WITH ${secondaryCtesOver(augEv)},
       |g AS (SELECT * FROM fin
       |  WHERE bls_power >= CAST($TransitPowerMin AS DOUBLE)
       |    AND depth_c100 < 0 AND n_epochs >= $TransitMinEpochs),
       |rec AS (SELECT user_id % $nc AS cell, COUNT(*) AS n_gated,
       |    CAST(SUM(eb_candidate) AS BIGINT) AS n_eb,
       |    CAST(SUM(CASE WHEN best_p_us = list_extract([$grid],
       |        CAST((user_id // $nc) % 16 AS INT) + 1)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
       |  FROM g GROUP BY 1),
       |inj AS (SELECT COUNT(DISTINCT user_id) AS n_injected
       |  FROM events WHERE user_id IS NOT NULL$extraWhere),
       |cl AS (SELECT unnest([$cellL]) AS cell,
       |    unnest([$depL]) AS depth_c100, unnest([$ratL]) AS ratio_pm)
       |SELECT depth_c100, ratio_pm, n_injected,
       |  COALESCE(n_gated, 0) AS n_gated,
       |  COALESCE(n_exact, 0) AS n_exact,
       |  COALESCE(n_eb, 0) AS n_eb,
       |  1000 * COALESCE(n_eb, 0) // GREATEST(COALESCE(n_gated, 0), 1)
       |    AS eb_permille
       |FROM cl LEFT JOIN rec USING (cell) CROSS JOIN inj
       |ORDER BY depth_c100, ratio_pm""".stripMargin
  }

  val qEbRecoverySql: String = ebRecoverySqlFrom("")

  /** The vetting census' 100-TB execution path — the same 25% md5
    * object slice as [[qTransitRecoverySampled]] (and for the same
    * reason it must NOT be a modulus: the twin-dip grid derives its
    * period slot from `user_id % 16`), registered as its own
    * hash-checked entry. The predicate sits on the series scan below
    * the ×6 injection explode, so the augmented build, the wide
    * secondary-eclipse aggregate and the census all scale with the
    * sample; the cell literal zero-fills whatever the slice
    * empties.
    *
    * Bench watch: must bench WELL below q_eb_recovery; a near-equal
    * time means the sample stopped pruning the augmented build. */
  def qEbRecoverySampled(s: SparkSession, dir: String): DataFrame =
    ebRecoveryOver(sampledSeries(series(s, dir)))

  // lazy: TransitSampleHexLt is declared LATER in the object — an
  // eager val would splice its pre-init null (the AssocBatches bite)
  lazy val qEbRecoverySampledSql: String = ebRecoverySqlFrom(
    s" AND substr(md5(CAST(user_id AS VARCHAR)), 1, 1)" +
      s" < '$TransitSampleHexLt'")

  // ---------------------------------------------------------------
  /** Injection grid of the transit completeness census: box depths in
    * c100 flux units × cadence keep-octiles (events kept where
    * `event_id % 8 < keep` — 100% / 75% / 50% of the cadence).
    * Chosen so the grid BRACKETS the gate at the corpus magnitudes
    * (per-object σ ≈ 3 400–6 000 c100, 51–88 epochs at sf0.001): the
    * shallow depth adds ~nothing over the intrinsic 5/15 baseline,
    * the deep one dominates any object's variance; the 75% cadence
    * straddles the [[TransitMinEpochs]] floor object-by-object and
    * the 50% cadence falls below it for every object — a full
    * recovered→lost completeness surface, not a flat table. */
  private[graft] val TransitInjDepths: Seq[Long] = Seq(1500L, 4000L, 12000L)
  private[graft] val TransitInjKeeps: Seq[Long] = Seq(8L, 6L, 4L)

  /** (cell id, depth, keep) rows of the injection grid — cell id is
    * the composite-key slot, depth-major. */
  private[graft] val transitInjCells: Seq[(Long, Long, Long)] =
    for {
      (dp, di) <- TransitInjDepths.zipWithIndex
      (kp, ki) <- TransitInjKeeps.zipWithIndex
    } yield ((di * TransitInjKeeps.size + ki).toLong, dp, kp)

  /** Injection-recovery completeness of the transit gate — the
    * published deployment artifact of every transit survey (Kepler/
    * TESS occurrence-rate pipelines quote detection efficiency from
    * exactly this census), and the eval-telemetry entry the BLS
    * family still lacked: deterministic box dips are injected IN-PLAN
    * into every real light curve over the
    * [[TransitInjDepths]] × [[TransitInjKeeps]] grid (per object the
    * injected period/phase/width derive from its key — period
    * `PeriodGridUs[id % 16]`, start bin `id % 16`, width
    * `1 + id % 3` — so the injections sweep the whole search grid),
    * the AUGMENTED series runs through the REAL
    * [[transitCandidatesOver]] gate via a composite (object, cell)
    * key, and each cell reports recovery permille plus the stricter
    * exact-period recovery (best period == injected period). All
    * tallies and permilles are exact integers; injection arithmetic
    * is the same integer phase-bin formula as the search itself.
    *
    * Scale shape: ONE corpus pass builds the augmented series (a
    * bounded ×Σ(keep/8)·|depths| = ×6.75 explode, map-side), the gate
    * is [[qBls]]'s one wide combinable aggregate over it (the
    * composite key multiplies the REDUCED frame, not the shuffle
    * count), the injected census is a |keeps|-explode distinct on the
    * raw series, and the tallies/zero-fill run on the 9-row cell
    * literal.
    *
    * Bench watch: regresses if the injection explode stops combining
    * map-side or the census grows a second corpus pass. */
  def qTransitRecovery(s: SparkSession, dir: String): DataFrame =
    transitRecoveryOver(series(s, dir))

  /** Census body over any (user_id, event_id, tus, xc) series frame —
    * factored so the spec can drive a constant-flux fixture (whose
    * recovery must be total at any real depth) through the real
    * plan. */
  private[graft] def transitRecoveryOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val nc = transitInjCells.size.toLong
    val nb = BlsBins
    val aug = ser
      .filter($"user_id".isNotNull)
      .withColumn("c", explode(typedLit(transitInjCells)))
      .filter($"event_id" % 8 < $"c._3")
      .withColumn("p_inj",
        element_at(typedLit(PeriodGridUs), ($"user_id" % 16).cast("int") + 1))
      .withColumn("b_inj", expr(s"((tus % p_inj) * $nb) DIV p_inj"))
      .withColumn("hit",
        ($"b_inj" - $"user_id" % nb + nb) % nb < lit(1L) + $"user_id" % BlsMaxW)
      .select(($"user_id" * nc + $"c._1").as("user_id"), $"tus",
        ($"xc" - when($"hit", $"c._2").otherwise(0L)).as("xc"))
    val gated = transitCandidatesOver(aug)
      .withColumn("cell", $"user_id" % nc)
      .withColumn("orig", expr(s"user_id DIV $nc"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_gated"),
        sum(when($"best_p_us" === element_at(typedLit(PeriodGridUs),
          ($"orig" % 16).cast("int") + 1), 1L).otherwise(0L)).as("n_exact"))
    val inj = ser.filter($"user_id".isNotNull)
      .withColumn("keep_oct", explode(typedLit(TransitInjKeeps)))
      .filter($"event_id" % 8 < $"keep_oct")
      .groupBy($"keep_oct").agg(countDistinct($"user_id").as("n_injected"))
    // LEFT join + GREATEST guard (the qEbRecovery discipline): a
    // keep-octile that retains zero objects on a sparse corpus must
    // zero-fill its three grid cells, not drop them from the surface.
    transitInjCells.toDF("cell", "depth_c100", "keep_oct")
      .join(inj, Seq("keep_oct"), "left")
      .join(gated, Seq("cell"), "left")
      .na.fill(0L, Seq("n_injected", "n_gated", "n_exact"))
      .select($"depth_c100", $"keep_oct", $"n_injected", $"n_gated",
        $"n_exact",
        expr("1000 * n_gated DIV GREATEST(n_injected, 1)")
          .as("rec_permille"),
        expr("1000 * n_exact DIV GREATEST(n_injected, 1)")
          .as("exact_permille"))
      .orderBy($"depth_c100", $"keep_oct")
  }

  /** Oracle twin: the injection-augmented series spliced as
    * [[blsCtesOver]]'s `ev` source (ONE copy of the whole BLS chain,
    * dip-restricted exactly as the gate), the same three gate
    * thresholds, then the cell decode / zero-filled tallies.
    * Parameterized over an extra source predicate so the sampled
    * entry splices ITS slice into the identical chain (the
    * ksDriftSqlFrom discipline). */
  private def transitRecoverySqlFrom(extraWhere: String): String = {
    val nc = transitInjCells.size
    val grid = PeriodGridUs.mkString(", ")
    val cellL = transitInjCells.map(_._1).mkString(", ")
    val depL = transitInjCells.map(_._2).mkString(", ")
    val thinL = transitInjCells.map(_._3).mkString(", ")
    val augEv =
      s"""SELECT b.user_id * $nc + c.cell AS user_id, b.tus,
         |    b.xc - CASE WHEN
         |      ((((b.tus % p_inj) * $BlsBins) // p_inj
         |         - (b.user_id % $BlsBins) + $BlsBins) % $BlsBins)
         |        < (1 + b.user_id % $BlsMaxW)
         |      THEN c.dep ELSE 0 END AS xc
         |  FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
         |      CAST(ROUND(value*100) AS BIGINT) AS xc,
         |      list_extract([$grid],
         |        CAST(user_id % 16 AS INT) + 1) AS p_inj
         |    FROM events WHERE user_id IS NOT NULL$extraWhere) b
         |  JOIN (SELECT unnest([$cellL]) AS cell,
         |      unnest([$depL]) AS dep, unnest([$thinL]) AS keep) c
         |    ON b.event_id % 8 < c.keep""".stripMargin
    s"""WITH ${blsCtesOver(" AND d < 0", augEv)},
       |best AS ($blsBestSql),
       |gate AS (SELECT * FROM best
       |  WHERE bls_power >= CAST($TransitPowerMin AS DOUBLE)
       |    AND depth_c100 < 0 AND n_epochs >= $TransitMinEpochs),
       |rec AS (SELECT user_id % $nc AS cell, COUNT(*) AS n_gated,
       |    CAST(SUM(CASE WHEN best_p_us = list_extract([$grid],
       |        CAST((user_id // $nc) % 16 AS INT) + 1)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
       |  FROM gate GROUP BY 1),
       |inj AS (SELECT keep AS keep_oct, COUNT(DISTINCT e.user_id) AS n_injected
       |  FROM (SELECT user_id, event_id FROM events
       |    WHERE user_id IS NOT NULL$extraWhere) e
       |  JOIN (SELECT DISTINCT unnest([$thinL]) AS keep) t
       |    ON e.event_id % 8 < t.keep
       |  GROUP BY 1),
       |cl AS (SELECT unnest([$cellL]) AS cell,
       |    unnest([$depL]) AS depth_c100, unnest([$thinL]) AS keep_oct)
       |SELECT depth_c100, keep_oct,
       |  COALESCE(n_injected, 0) AS n_injected,
       |  COALESCE(n_gated, 0) AS n_gated,
       |  COALESCE(n_exact, 0) AS n_exact,
       |  1000 * COALESCE(n_gated, 0)
       |    // GREATEST(COALESCE(n_injected, 0), 1) AS rec_permille,
       |  1000 * COALESCE(n_exact, 0)
       |    // GREATEST(COALESCE(n_injected, 0), 1) AS exact_permille
       |FROM cl LEFT JOIN inj USING (keep_oct) LEFT JOIN rec USING (cell)
       |ORDER BY depth_c100, keep_oct""".stripMargin
  }

  val qTransitRecoverySql: String = transitRecoverySqlFrom("")

  // ---------------------------------------------------------------
  /** The sampled census' object slice: md5 first hex < '4' — a
    * deterministic 25% that is INDEPENDENT of the injection grid. */
  private[graft] val TransitSampleHexLt = "4"

  /** The 100-TB execution path of [[qTransitRecovery]] — the census
    * over a deterministic 25% OBJECT sample, registered as its own
    * hash-checked entry (the q_ks_drift_sampled discipline; real
    * surveys quote completeness from an injected subsample for
    * exactly this cost reason — the census is the most expensive
    * entry in the suite BY DESIGN, a ×6.75 augmented BLS pass).
    *
    * The sample is the md5 hex bucket on the OBJECT id, NOT a
    * modulus: the injection grid derives each object's planted
    * period from `user_id % 16` and its cadence thinning from
    * `event_id % 8`, so any modulus sample would correlate with the
    * grid — `user_id % 4` would keep only a quarter of the period
    * slots and the census would silently stop sweeping the search
    * grid. The md5 bucket is independent of both axes, so the
    * sampled surface estimates the full one cell-for-cell.
    *
    * Exact on its slice: the predicate lands on the series SCAN
    * (below the injection explode, so the augmented build, the wide
    * BLS aggregate and the census all scale with the sample) and is
    * mirrored verbatim into the oracle's two source selects. The
    * zero-fill keeps all 9 grid cells even where the slice empties a
    * cell (the LEFT-join + GREATEST guard, spec-pinned). */
  /** The sample slice itself, factored so the spec drives planted
    * fixtures through the REAL predicate composition. */
  private[graft] def sampledSeries(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    ser.where(substring(md5($"user_id".cast("string")), 1, 1) <
      TransitSampleHexLt)
  }

  /** Bench watch: must bench WELL below q_transit_recovery; a
    * near-equal time means the sample stopped pruning the augmented
    * build. */
  def qTransitRecoverySampled(s: SparkSession, dir: String): DataFrame =
    transitRecoveryOver(sampledSeries(series(s, dir)))

  val qTransitRecoverySampledSql: String = transitRecoverySqlFrom(
    s" AND substr(md5(CAST(user_id AS VARCHAR)), 1, 1)" +
      s" < '$TransitSampleHexLt'")

  // ---------------------------------------------------------------
  /** Lafler–Kinman periodogram (Lafler & Kinman 1965) — the FOURTH
    * period-search family beside PDM (bin variance), GLS (sinusoid
    * fit) and BLS (box fit), and the only one that needs NO model and
    * NO bins: at the true period the phase-ordered light curve is
    * smooth, so the statistic Θ(p) = Σ(x_{i+1} − x_i)² over
    * phase-consecutive pairs, normalized by the (period-independent)
    * flux variance, is MINIMIZED. Per (object, trial period): exact
    * integer phase `tus % p` orders the series (ties broken by tus —
    * identically in the oracle), Δx² sums as exact int64 via one lag
    * window, Θ = (n·ΣΔ²)/XXn as ONE fixed IEEE chain over exact
    * integers (XXn from the same GLS precondition n·|x|max < 3·10⁹;
    * ΣΔ² ≤ 4n·x²max is strictly looser), argmin by (Θ asc, period
    * asc). The phase wrap pair (last→first) is deliberately excluded
    * — one fewer edge case, identical on both sides, and the
    * statistic's contrast is unaffected at n ≫ 1.
    *
    * Scale shape: the same constant ×16 grid explode, ONE
    * (object, period) shuffle shared by the lag window and the sums
    * aggregate (the window sorts ~n rows per (object, period)
    * partition — parallelism |objects|×16), then the argmin on the
    * reduced frame.
    *
    * Bench watch: regresses if a second exchange appears between the
    * lag window and the sums aggregate. */
  def qLaflerKinman(s: SparkSession, dir: String): DataFrame =
    laflerKinmanOver(series(s, dir))

  /** Plan body over any (user_id, tus, xc) series frame. */
  private[graft] def laflerKinmanOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // (ph, tus, xc) is a TOTAL order: two epochs can share a truncated
    // tus (ts DIV 1000), and an ambiguous lag pairing would make sdd
    // run-order-dependent — the xc tie-break closes it for any series
    // frame (the registered series has no event_id column here)
    val w = Window.partitionBy($"user_id", $"p_us")
      .orderBy($"ph", $"tus", $"xc")
    val cells = ser
      .filter($"user_id".isNotNull)
      .withColumn("p_us", explode(typedLit(PeriodGridUs)))
      .withColumn("ph", $"tus" % $"p_us")
      .withColumn("dx", $"xc" - lag($"xc", 1).over(w))
      .groupBy($"user_id", $"p_us")
      .agg(count(lit(1)).as("n"), sum($"xc").as("sx"),
        sum($"xc" * $"xc").as("sxx"),
        sum($"dx" * $"dx").as("sdd"))
      .withColumn("xxn", $"n" * $"sxx" - $"sx" * $"sx")
      .filter($"xxn" > 0 && $"n" > 1)
      .withColumn("theta",
        ($"n".cast("double") * $"sdd".cast("double")) /
          $"xxn".cast("double"))
    cells.groupBy($"user_id")
      .agg(max(struct((-$"theta").as("negt"), (-$"p_us").as("negp"),
        $"n".as("nn"))).as("bst"))
      .select($"user_id", $"bst.nn".as("n_epochs"),
        (-$"bst.negp").as("best_p_us"), (-$"bst.negt").as("theta"))
      .orderBy($"user_id")
  }

  /** Oracle twin: identical phase ordering, lag, and IEEE chain. */
  val qLaflerKinmanSql: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |ph AS (SELECT user_id, p_us, tus, xc, tus % p_us AS ph
       |  FROM ev CROSS JOIN grid),
       |d AS (SELECT user_id, p_us, xc,
       |    xc - LAG(xc) OVER (PARTITION BY user_id, p_us
       |      ORDER BY ph, tus, xc) AS dx
       |  FROM ph),
       |a AS (SELECT user_id, p_us, COUNT(*) AS n,
       |    CAST(SUM(xc) AS BIGINT) AS sx,
       |    CAST(SUM(xc*xc) AS BIGINT) AS sxx,
       |    CAST(SUM(dx*dx) AS BIGINT) AS sdd
       |  FROM d GROUP BY 1, 2),
       |t AS (SELECT user_id, p_us, n,
       |    CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
       |      / CAST(n*sxx - sx*sx AS DOUBLE) AS theta
       |  FROM a WHERE n*sxx - sx*sx > 0 AND n > 1),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY theta, p_us) AS rn FROM t)
       |SELECT user_id, CAST(n AS BIGINT) AS n_epochs, p_us AS best_p_us,
       |  theta
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Flux-quantization bins of the conditional-entropy periodogram
    * and its fixed-point natural-log table: L[k] = round(ln(k)·10⁶)
    * for k = 1 … [[CeLnTabMax]], computed ONCE in Scala and spliced
    * as a literal into both engines (the [[PlxSinTab]] no-libm
    * discipline — a lookup, never a runtime log call). The table
    * bound is the per-object epoch-count precondition (corpus max 99
    * at sf0.1; a 100-TB deployment re-sizes the literal or
    * pre-thins, exactly like the GLS n·|x|max precondition). */
  private[graft] val CeMagBins = 4L
  private[graft] val CeLnTabMax = 1024
  private[graft] val CeLnTab: Seq[Long] = (1 to CeLnTabMax).map(k =>
    math.round(math.log(k.toDouble) * 1000000L))

  /** Conditional-entropy periodogram (Graham et al. 2013, MNRAS 434,
    * 2629) — the FIFTH and last of the published period-search
    * families (PDM bin-variance [[qPeriodogram]], GLS sinusoid fit
    * [[qLombScargle]], BLS box fit [[qBls]], Lafler–Kinman string
    * length [[qLaflerKinman]]; CE is the information-theoretic one):
    * at the true period the folded (phase, magnitude) distribution
    * becomes maximally structured, so the conditional entropy
    * H(m|φ) = −Σ_ij (n_ij/N)·ln(n_ij/n_i) over a
    * [[PhaseBins]]×[[CeMagBins]] occupancy grid is MINIMIZED — it
    * needs no model at all, not even smoothness, so it dates signals
    * (eclipsing, multi-modal, sawtooth) a sinusoid fit scores badly.
    *
    * Exactness discipline: magnitude bins quantize per object in
    * pure integers (`(xc−min)·M DIV (max−min+1)` — non-negative on
    * both sides, so Spark DIV ≡ DuckDB //), the entropy numerator
    * Σ n_ij·(L[n_ij] − L[n_i]) is an exact int64 over the spliced
    * log table (≤ 0 by construction), the ARGMIN over periods is the
    * pure-integer argmax of that numerator (N and the 10⁶ scale are
    * period-independent), and the reported H is one fixed IEEE
    * division at the winner. Ties break to the shorter period.
    *
    * Scale shape: the per-object min/max windows share the series'
    * object shuffle, the ×16 grid explode is map-side, and the ONLY
    * corpus-scale exchange is the (object, period, φ, m) cell
    * aggregate (map-side combinable; everything above — the n_i
    * window, the period aggregate, the argmax — runs on the
    * ≤|objects|·16·32-cell reduced frame).
    *
    * Bench watch: regresses if the n_i window or the argmax ever
    * leaves the reduced cell frame. */
  def qCePeriod(s: SparkSession, dir: String): DataFrame =
    cePeriodOver(series(s, dir))

  /** Plan body over any (user_id, tus, xc) series frame. */
  private[graft] def cePeriodOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy($"user_id")
    // r19 opt round: ONE [[graft.functions.CeCellFold]] pass keyed by
    // object (the blsCells discipline) replaces the ×16 explode into
    // the (object, period, phase, mag) cell aggregate, the n_i window
    // over it, and the period aggregate — per series row one group
    // probe and 16 O(1) occupancy increments; the entropy numerator
    // reduces per period inside the fold's eval with the IDENTICAL
    // spliced log-table semantics (beyond-table counts null their
    // term exactly like element_at past the array end — see the
    // fold's doc). The fold's object shuffle REUSES the min/max
    // window's partitioning, so the corpus-scale exchange count
    // drops from two to one.
    val per = ser
      .filter($"user_id".isNotNull)
      .withColumn("mn", min($"xc").over(wu))
      .withColumn("mx", max($"xc").over(wu))
      .withColumn("mbin",
        expr(s"((xc - mn) * $CeMagBins) DIV (mx - mn + 1)"))
      .groupBy($"user_id")
      .agg(graft.functions.BlsFold.ceCellFold($"tus", $"mbin",
        PeriodGridUs, PhaseBins, CeMagBins.toInt, CeLnTab).as("cs"))
      .select($"user_id", explode($"cs").as("c"))
      .select($"user_id", $"c.p_us".as("p_us"), $"c.n".as("n"),
        $"c.num".as("num"))
    per.groupBy($"user_id")
      .agg(max($"n").as("n_epochs"),
        max(struct($"num", (-$"p_us").as("negp"))).as("bst"))
      .select($"user_id", $"n_epochs", (-$"bst.negp").as("best_p_us"),
        ((-$"bst.num").cast("double") /
          ($"n_epochs".cast("double") * lit(1000000.0))).as("ce"))
      .orderBy($"user_id")
  }

  /** Oracle twin: identical integer quantization, the same spliced
    * log table, the same integer argmax (num DESC, period ASC). */
  lazy val qCePeriodSql: String = {
    val grid = PeriodGridUs.mkString(", ")
    val tab = CeLnTab.mkString(", ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |mm AS (SELECT user_id, tus, xc,
       |    MIN(xc) OVER (PARTITION BY user_id) AS mn,
       |    MAX(xc) OVER (PARTITION BY user_id) AS mx
       |  FROM ev),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |cells AS (SELECT user_id, p_us,
       |    ((tus % p_us) * $PhaseBins) // p_us AS pbin,
       |    ((xc - mn) * $CeMagBins) // (mx - mn + 1) AS mbin,
       |    COUNT(*) AS nij
       |  FROM mm CROSS JOIN grid GROUP BY 1, 2, 3, 4),
       |ph AS (SELECT *, CAST(SUM(nij) OVER (PARTITION BY
       |    user_id, p_us, pbin) AS BIGINT) AS ni FROM cells),
       |agg AS (SELECT user_id, p_us, CAST(SUM(nij) AS BIGINT) AS n,
       |    CAST(SUM(nij * (list_extract([$tab], CAST(nij AS INT))
       |      - list_extract([$tab], CAST(ni AS INT)))) AS BIGINT) AS num
       |  FROM ph GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY num DESC, p_us) AS rn FROM agg)
       |SELECT user_id, n AS n_epochs, p_us AS best_p_us,
       |  CAST(-num AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS ce
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Period-believability QA at each object's best period — the gate
    * an astronomer applies before TRUSTING a period search's argmax
    * (the VanderPlas 2018 checklist item the scores themselves don't
    * encode): fold at [[bestPeriods]]' argmax and report phase-bin
    * OCCUPANCY — bins hit (of [[PhaseBins]]), min/max bin population,
    * integer coverage permille, and an alias flag (any empty phase
    * bin ⇒ the cadence never sampled that phase at this period, the
    * signature of a sampling alias rather than a real period; a
    * survey cadence commensurate with the trial period leaves phase
    * gaps no score can see).
    *
    * Pure integers end-to-end (bin counts, floor-DIV permille, int
    * flag). Scale shape: composes the periodogram's one corpus
    * explode + the fold's equi-join on the SAME grouping key — the
    * occupancy aggregate runs on the |objects|×bins reduced frame. */
  def qPhaseCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = PhaseBins
    val best = bestPeriods(s, dir).select($"user_id", $"best_p_us")
    series(s, dir)
      .filter($"user_id".isNotNull)
      .join(best, Seq("user_id"))
      .withColumn("bin", expr(s"((tus % best_p_us) * $nb) DIV best_p_us"))
      .groupBy($"user_id", $"best_p_us", $"bin")
      .agg(count(lit(1)).as("nb"))
      .groupBy($"user_id", $"best_p_us")
      .agg(sum($"nb").as("n_epochs"), count(lit(1)).as("bins_hit"),
        min($"nb").as("min_bin_n"), max($"nb").as("max_bin_n"))
      .withColumn("coverage_milli", expr(s"bins_hit * 1000 DIV $nb"))
      .withColumn("alias_flag", ($"bins_hit" < nb).cast("int"))
      .orderBy($"user_id")
  }

  /** Oracle twin: the periodogram CTEs compose with the fold and one
    * occupancy aggregate — identical integer bin formula. */
  val qPhaseCoverageSql: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |b AS (SELECT user_id, p_us, ((tus % p_us) * $PhaseBins) // p_us AS bin,
       |        COUNT(*) AS n, CAST(SUM(xc) AS BIGINT) AS sb
       |      FROM ev CROSS JOIN grid GROUP BY 1, 2, 3),
       |sc AS (SELECT user_id, p_us, CAST(SUM((sb * sb) // n) AS BIGINT) AS score
       |       FROM b GROUP BY 1, 2),
       |r AS (SELECT user_id, p_us, score, ROW_NUMBER() OVER (
       |        PARTITION BY user_id ORDER BY score DESC, p_us) AS rn
       |      FROM sc),
       |best AS (SELECT user_id, p_us AS best_p_us FROM r WHERE rn = 1),
       |f AS (SELECT ev.user_id, best.best_p_us,
       |    ((ev.tus % best.best_p_us) * $PhaseBins) // best.best_p_us AS bin,
       |    COUNT(*) AS nb
       |  FROM ev JOIN best ON best.user_id = ev.user_id
       |  GROUP BY 1, 2, 3)
       |SELECT user_id, best_p_us, CAST(SUM(nb) AS BIGINT) AS n_epochs,
       |  COUNT(*) AS bins_hit, CAST(MIN(nb) AS BIGINT) AS min_bin_n,
       |  CAST(MAX(nb) AS BIGINT) AS max_bin_n,
       |  CAST(COUNT(*) * 1000 // $PhaseBins AS BIGINT) AS coverage_milli,
       |  CAST(COUNT(*) < $PhaseBins AS INT) AS alias_flag
       |FROM f GROUP BY 1, 2 ORDER BY user_id""".stripMargin
  }

  /** The id probed by the point-lookup query — exists at every SF
    * (user_ids are dense from 0). */
  val LookupId = 7L

  /** Director-index point lookup — Pserv's most-used query shape:
    * one object's full light curve, time-ordered
    * (`SELECT ... WHERE objectId = ? ORDER BY mjd`). Over the flat
    * table this is a pushed-filter scan (correctness shape); the
    * scan-AVOIDING production path is [[graft.sources.ObjectIndex]]:
    * the same projection over a bucket-partitioned sorted layout
    * where the bucket equality is a partition filter — the spec
    * asserts parity and single-bucket pruning. */
  def qObjectLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"user_id" === LookupId)
      .select($"user_id", $"event_id", expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc"), $"event_type")
      .orderBy($"tus", $"event_id")
  }

  val qObjectLookupSql: String =
    s"""SELECT user_id, event_id, epoch_us(ts) AS tus,
       |  CAST(ROUND(value*100) AS BIGINT) AS xc, event_type
       |FROM events WHERE user_id = $LookupId
       |ORDER BY tus, event_id""".stripMargin

  // ---------------------------------------------------------------
  /** The id list probed by the batched lookup — k objects that exist
    * at every SF (user_ids are dense from 0), with a deliberate
    * duplicate so the entry also certifies id deduplication. */
  val LookupIds: Seq[Long] = Seq(2L, 5L, 7L, 11L, 7L)

  /** Content-keyed registered director-index location (the stored-
    * model cache pattern — regenerated test data can never read a
    * stale index). */
  private def objectIndexPath(dir: String): String =
    graft.sources.Store.derivedPath(dir, "obj_idx", Seq("events.parquet"))

  /** Build (or reuse) the registered [[graft.sources.ObjectIndex]]
    * for `dir`; returns its path. A partial build (no _SUCCESS)
    * rebuilds via the overwrite mode. */
  private[graft] def ensureObjectIndex(s: SparkSession, dir: String): String = {
    val path = objectIndexPath(dir)
    if (!graft.sources.Catalog.tableComplete(s, path))
      graft.sources.ObjectIndex.build(s, dir, path)
    path
  }

  /** Batched director-index lookup — the DAILY operational shape on
    * top of [[qObjectLookup]]'s point probe: alert follow-up resolves
    * a k-object IN-list in one job. This entry runs the REAL stored
    * path ([[graft.sources.ObjectIndex.lookupMany]] over the
    * content-keyed cached index — the q_xmatch_stored discipline), so
    * the hash certifies the bucket layout's content, not a flat-scan
    * stand-in; the spec additionally pins the scan to ≤ |distinct
    * buckets| partition listings and one pushed user_id filter.
    *
    * 100 TB: the flat-table twin costs a full scan per refresh; the
    * index path costs |distinct buckets| directory listings + the
    * probed row groups, independent of table size — the same
    * point-vs-scan gap Pserv's director index exists for, times k
    * amortized into one planning round trip.
    *
    * Bench watch: regresses if the obkt IN-list stops
    * partition-pruning or the warm index cache stops short-circuiting
    * the build. */
  def qObjectLookupMany(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureObjectIndex(s, dir)
    graft.sources.ObjectIndex.lookupMany(s, idx, LookupIds)
  }

  /** Oracle twin: the flat IN-list over raw events — identical rows
    * prove the index holds exactly the table's content. */
  val qObjectLookupManySql: String =
    s"""SELECT user_id, event_id, epoch_us(ts) AS tus,
       |  CAST(ROUND(value*100) AS BIGINT) AS xc, event_type
       |FROM events WHERE user_id IN (${LookupIds.distinct.mkString(", ")})
       |ORDER BY user_id, tus, event_id""".stripMargin

  // ---------------------------------------------------------------
  /** Deterministic filter-band assignment — the ugriz analog of the
    * reference's per-filter photometry (Pserv's ForcedSource rows
    * carry a filter band and its light-curve SQL groups by it). The
    * five synthetic event types map to the five bands in wavelength
    * order via one fixed CASE, mirrored verbatim in the DuckDB
    * oracles, so the banding is bit-exact on both engines and adds
    * zero shuffles (a per-row projection). */
  private[graft] val BandCaseSql: String =
    "CASE event_type WHEN 'click' THEN 'u' WHEN 'error' THEN 'g' " +
      "WHEN 'purchase' THEN 'r' WHEN 'signup' THEN 'i' ELSE 'z' END"

  /** [[series]] plus the derived band — the multi-band light-curve
    * projection behind the `forcedsource.filterName` SQL view. */
  private[graft] def bandedSeries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select(
      $"user_id", $"event_id",
      expr("ts DIV 1000").as("tus"),
      round($"value" * 100).cast("long").as("xc"),
      expr(BandCaseSql).as("band"))
  }

  /** Per-object PER-BAND light-curve statistics — the reference's
    * per-filter idiom (`SELECT objectId, filterName, agg...
    * GROUP BY objectId, filterName`). Same exact-integer summary
    * shape as [[qLightcurveStats]], one combinable shuffle on the
    * (object, band) composite key; key cardinality is 5× the object
    * count, so parallelism still scales with the catalog. */
  def qLightcurveBand(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bandedSeries(s, dir)
      .groupBy($"user_id", $"band")
      .agg(
        count(lit(1)).as("n"),
        sum($"xc").as("sum_c100"),
        min($"xc").as("min_c100"),
        max($"xc").as("max_c100"),
        (max($"xc") - min($"xc")).as("amp_c100"),
        (count(lit(1)) * sum($"xc" * $"xc") - sum($"xc") * sum($"xc"))
          .as("var_num"))
      .withColumn("mean_val", $"sum_c100" / ($"n" * lit(100.0)))
      .orderBy($"user_id", $"band")
  }

  /** ONE copy of the per-(object, band) flat aggregate — the
    * unrestricted form is [[qLightcurveBandSql]]; the identified-only
    * form (`WHERE user_id IS NOT NULL` — the streamed store is keyed
    * by object, so anonymous events never enter it) is
    * [[qLightcurveBandStoredSql]]'s recompute of the store's at-rest
    * content. */
  private def lcBandAggSql(where: String): String =
    s"""SELECT user_id, band, COUNT(*) AS n,
       |  CAST(SUM(xc) AS BIGINT) AS sum_c100,
       |  MIN(xc) AS min_c100, MAX(xc) AS max_c100,
       |  CAST(MAX(xc) - MIN(xc) AS BIGINT) AS amp_c100,
       |  CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT) AS var_num,
       |  CAST(SUM(xc) AS DOUBLE) / (COUNT(*) * 100.0) AS mean_val
       |FROM (SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS xc,
       |        $BandCaseSql AS band FROM events$where)
       |GROUP BY user_id, band ORDER BY user_id, band""".stripMargin

  val qLightcurveBandSql: String = lcBandAggSql("")

  // ---------------------------------------------------------------
  /** Micro-batches the registered [[qLightcurveBandStored]] lifecycle
    * splits the event stream into (batch = event_id mod this —
    * deterministic, so a rebuild from any partial state lands
    * identical content). */
  private val LcStoreBatches = 4

  /** Build (once per data identity) the streamed per-(object, band)
    * stats store — [[graft.streaming.LightcurveStream]]'s LSM of
    * mergeable partials — by driving the REAL maintenance loop:
    * every deterministic micro-batch through `applyStatsBatch`, with
    * one mid-build fold, so the at-rest layout a read must
    * merge is the steady state's (a canonical fold PLUS uncompacted
    * tail batches), not a conveniently fresh store. The path is a
    * content-keyed derived cache (the ANN stored-model discipline);
    * the build is crash-proof without a healer: every append is
    * replay-exact (dynamic overwrite / folded horizon) and an
    * orphaned mid-compaction stage heals inside `applyStatsBatch`
    * itself, so re-entry from ANY partial state just fills what is
    * missing. The `_build_done` marker only skips the (idempotent)
    * rebuild on warm re-entry. */
  private[graft] def ensureLcStatsStore(s: SparkSession, dir: String): String = {
    import org.apache.hadoop.fs.Path
    import s.implicits._
    val path = graft.sources.Store.derivedPath(dir, "lc_stats", Seq("events.parquet"))
    val done = new Path(path, "_build_done")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"value", $"event_type")
      (0 until LcStoreBatches).foreach { b =>
        graft.streaming.LightcurveStream.applyStatsBatch(
          ev.filter(pmod($"event_id", lit(LcStoreBatches.toLong)) === b)
            .drop("event_id"), b.toLong, path)
        // fold mid-build: the finished store holds a compacted base
        // plus the later batches as its uncompacted tail
        if (b == LcStoreBatches / 2 - 1)
          graft.streaming.LightcurveStream.StatsStore.fold(s, path)
      }
      fs.create(done, true).close()
    }
    path
  }

  /** The streamed store's READ PATH under the parity gate — the
    * at-rest content certification every other stored lifecycle in
    * this engine carries (`q_xmatch_stored`, `q_ann_pq_stored`,
    * `q_blob_phash_stored`): build/heal the
    * [[graft.streaming.LightcurveStream]] store in-query, then answer
    * the per-(object, band) summary FROM THE STORE — `readStats`
    * merging the canonical fold with the uncompacted tail — while the
    * DuckDB oracle recomputes the same summary from the raw flat
    * table, so the hash certifies the LSM layout's merged CONTENT,
    * not just its shape. Identical column set and values to
    * [[qLightcurveBand]] restricted to identified objects (the store
    * is keyed by object).
    *
    * Scale shape: first execution pays the build (the maintenance
    * loop a survey runs anyway); the measured warm path is ONE scan
    * of the compaction-bounded partials store (~1 row per key plus
    * the tail) and one combinable merge — never the raw event
    * history.
    *
    * Bench watch: the warm path must scan the compaction-bounded
    * partials store, never the raw events; regresses toward
    * q_lightcurve_band's time if the store stops answering from its
    * fold. */
  def qLightcurveBandStored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = ensureLcStatsStore(s, dir)
    graft.streaming.LightcurveStream.readStats(s, path)
      .select($"user_id", $"band", $"n", $"sum_c100", $"min_c100",
        $"max_c100", $"amp_c100", $"var_num", $"mean_val")
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: the SAME flat aggregate text as
    * [[qLightcurveBandSql]] ([[lcBandAggSql]], one copy) over
    * identified events — recomputing from raw history what the store
    * answers from its merged partials. */
  val qLightcurveBandStoredSql: String =
    lcBandAggSql(" WHERE user_id IS NOT NULL")

  // ---------------------------------------------------------------
  /** Per-batch ARRIVAL telemetry over the streamed light-curve store
    * — the last streamed lifecycle's batch story under the parity
    * gate (the [[graft.queries.Multimodal.qBlobPhashBatches]]
    * discipline; the association has [[graft.queries.Spatial
    * .qAssocHistory]], the perceptual index its batches query — this
    * closes the set): per at-rest `ibatch` partition of the
    * [[graft.streaming.LightcurveStream]] LSM, the touched
    * (object, band) key count (= its partial ROWS — one per key per
    * batch by construction), distinct objects, and the events it
    * represents (Σn); the id range is zero-filled so a batch whose
    * subpartitions a completed fold consumed still reports its row —
    * flagged `folded` from the store's own durable horizon marker,
    * with its content at rest inside the `ibatch = −1` canonical fold
    * row. The DuckDB oracle re-derives every partition's content from
    * the raw flat table (the build's batching is deterministic:
    * batch = event_id mod [[LcStoreBatches]], fold after batch
    * [[LcStoreBatches]]/2 − 1), so the hash certifies the LSM's
    * partition LAYOUT and its per-batch content, not just the merged
    * totals [[qLightcurveBandStored]] already pins.
    *
    * Scale shape: the warm path is ONE scan of the compaction-bounded
    * partials store into a ≤|ids|-row combinable aggregate, then the
    * zero-fill join on the 5-row id literal; the build amortizes with
    * [[qLightcurveBandStored]] (same content-keyed cache).
    *
    * Bench watch: one partials-store scan into a 5-row zero-filled
    * aggregate; regresses if the read stops riding the
    * compaction-bounded store (the build amortizes with
    * q_lightcurve_band_stored). */
  def qLcStreamBatches(s: SparkSession, dir: String): DataFrame =
    lcStreamBatchesOver(s, ensureLcStatsStore(s, dir), LcStoreBatches)

  /** The telemetry read over any store path — factored so the spec
    * can drive a fixture lifecycle (including replayed batch ids)
    * through the real read. */
  private[graft] def lcStreamBatchesOver(s: SparkSession, path: String,
    nBatches: Int): DataFrame = {
    import s.implicits._
    val horizon = graft.streaming.LightcurveStream.StatsStore.foldedHorizon(s, path)
    val ids = (Seq(-1L) ++ (0L until nBatches.toLong)).toDF("ibatch")
    graft.streaming.LightcurveStream.StatsStore.read(s, path)
      .groupBy($"ibatch")
      .agg(count(lit(1)).as("n_keys"),
        countDistinct($"user_id").as("n_objects"),
        sum($"n").as("n_events"))
      .join(ids, Seq("ibatch"), "right")
      .na.fill(0L, Seq("n_keys", "n_objects", "n_events"))
      .withColumn("folded",
        ($"ibatch" >= 0 && $"ibatch" <= horizon).cast("int"))
      .orderBy($"ibatch")
  }

  /** Oracle twin: each identified event attributed to its
    * deterministic micro-batch, batches at or below the fold horizon
    * collapsed into the `ibatch = −1` fold partition, key-level
    * partials rebuilt relationally (the store holds one row per
    * (object, band) per partition), zero-filled over the id range. */
  val qLcStreamBatchesSql: String = {
    val hz = LcStoreBatches / 2 - 1
    s"""WITH e AS (SELECT user_id, $BandCaseSql AS band,
       |    CASE WHEN event_id % $LcStoreBatches <= $hz THEN -1
       |      ELSE event_id % $LcStoreBatches END AS ibatch
       |  FROM events WHERE user_id IS NOT NULL),
       |k AS (SELECT ibatch, user_id, band, COUNT(*) AS n_ev
       |  FROM e GROUP BY 1, 2, 3),
       |agg AS (SELECT ibatch, COUNT(*) AS n_keys,
       |    COUNT(DISTINCT user_id) AS n_objects,
       |    CAST(SUM(n_ev) AS BIGINT) AS n_events
       |  FROM k GROUP BY 1),
       |g AS (SELECT CAST(t.range - 1 AS BIGINT) AS ibatch
       |  FROM range(${LcStoreBatches + 1}) t)
       |SELECT ibatch, COALESCE(n_keys, 0) AS n_keys,
       |  COALESCE(n_objects, 0) AS n_objects,
       |  COALESCE(n_events, 0) AS n_events,
       |  CASE WHEN ibatch BETWEEN 0 AND $hz THEN 1 ELSE 0 END AS folded
       |FROM g LEFT JOIN agg USING (ibatch)
       |ORDER BY ibatch""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Inverse-variance COADD photometry per (object, band) — the deep
    * Object-table flux the reference derives from its per-visit
    * ForcedSource rows: each epoch weighted by 1/σ² under the SAME
    * published error model [[qStetson]] uses (errc = 3 + |xc| DIV 50,
    * c100 units), so the coadd and the variability index can never
    * assume different noise. The per-term discipline is Stetson's:
    * w and w·x are rounded to 1e-6 BEFORE summing (one IEEE divide +
    * one rule-identical round per row — exact int64 from there), so
    * both sums are reduction-order-free and hash exact; the reported
    * coadd mean (Σwx/Σw) and its error (1000/√Σw — the standard
    * 1/√Σ(1/σ²) coadd error, in c100) are single IEEE chains over
    * those exact integers.
    *
    * Scale shape: one scan, per-row arithmetic, ONE combinable
    * shuffle on the (object, band) key — [[qLightcurveBand]]'s
    * exactly.
    *
    * Bench watch: must bench as its parent one-shuffle shape (the
    * banded aggregate with per-row weights). */
  def qCoaddFlux(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bandedSeries(s, dir)
      .withColumn("errc", expr("3 + abs(xc) DIV 50"))
      .withColumn("w_c6",
        round(lit(1000000.0) / ($"errc" * $"errc").cast("double"))
          .cast("long"))
      .withColumn("wx_c6",
        round($"xc".cast("double") * lit(1000000.0) /
          ($"errc" * $"errc").cast("double")).cast("long"))
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n"),
        sum($"w_c6").as("w_sum_c6"),
        sum($"wx_c6").as("wx_sum_c6"))
      .withColumn("coadd_c100",
        $"wx_sum_c6".cast("double") / $"w_sum_c6".cast("double"))
      .withColumn("coadd_err_c100",
        lit(1000.0) / sqrt($"w_sum_c6".cast("double")))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: identical error model, per-term rounding, and IEEE
    * chains. */
  val qCoaddFluxSql: String =
    s"""WITH b AS (SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS xc,
       |    $BandCaseSql AS band FROM events),
       |e AS (SELECT *, 3 + ABS(xc) // 50 AS errc FROM b),
       |t AS (SELECT user_id, band,
       |    CAST(ROUND(1000000.0 / CAST(errc*errc AS DOUBLE)) AS BIGINT)
       |      AS w_c6,
       |    CAST(ROUND(CAST(xc AS DOUBLE) * 1000000.0
       |      / CAST(errc*errc AS DOUBLE)) AS BIGINT) AS wx_c6
       |  FROM e),
       |agg AS (SELECT user_id, band, COUNT(*) AS n,
       |    CAST(SUM(w_c6) AS BIGINT) AS w_sum_c6,
       |    CAST(SUM(wx_c6) AS BIGINT) AS wx_sum_c6
       |  FROM t GROUP BY 1, 2)
       |SELECT user_id, band, n, w_sum_c6, wx_sum_c6,
       |  CAST(wx_sum_c6 AS DOUBLE) / CAST(w_sum_c6 AS DOUBLE)
       |    AS coadd_c100,
       |  CAST(1000.0 AS DOUBLE) / SQRT(CAST(w_sum_c6 AS DOUBLE))
       |    AS coadd_err_c100
       |FROM agg ORDER BY user_id, band""".stripMargin

  /** g−r color index per object: the difference of per-band mean
    * fluxes held in EXACT rational form (num = Σg·n_r − Σr·n_g,
    * den = n_g·n_r — both bigint, hash-stable) plus one IEEE
    * division for the readable value, and the variability color
    * term amp_g − amp_r (exact integer). Conditional aggregation —
    * NOT a pivot — so both bands reduce in the same single
    * combinable shuffle on the object key; objects missing either
    * band are excluded (no defined color). */
  def qColorIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = when($"band" === "g", $"xc")
    val r = when($"band" === "r", $"xc")
    bandedSeries(s, dir)
      .groupBy($"user_id")
      .agg(
        count(g).as("n_g"), sum(g).as("sum_g_c100"),
        (max(g) - min(g)).as("amp_g_c100"),
        count(r).as("n_r"), sum(r).as("sum_r_c100"),
        (max(r) - min(r)).as("amp_r_c100"))
      .filter($"n_g" > 0 && $"n_r" > 0)
      .withColumn("color_num",
        $"sum_g_c100" * $"n_r" - $"sum_r_c100" * $"n_g")
      .withColumn("color_den", $"n_g" * $"n_r")
      .withColumn("color_gr", $"color_num" / ($"color_den" * lit(100.0)))
      .withColumn("var_color_c100", $"amp_g_c100" - $"amp_r_c100")
      .orderBy($"user_id")
  }

  val qColorIndexSql: String =
    s"""WITH b AS (SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS xc,
       |        $BandCaseSql AS band FROM events),
       |agg AS (SELECT user_id,
       |  COUNT(CASE WHEN band = 'g' THEN 1 END) AS n_g,
       |  CAST(SUM(CASE WHEN band = 'g' THEN xc END) AS BIGINT) AS sum_g_c100,
       |  CAST(MAX(CASE WHEN band = 'g' THEN xc END)
       |     - MIN(CASE WHEN band = 'g' THEN xc END) AS BIGINT) AS amp_g_c100,
       |  COUNT(CASE WHEN band = 'r' THEN 1 END) AS n_r,
       |  CAST(SUM(CASE WHEN band = 'r' THEN xc END) AS BIGINT) AS sum_r_c100,
       |  CAST(MAX(CASE WHEN band = 'r' THEN xc END)
       |     - MIN(CASE WHEN band = 'r' THEN xc END) AS BIGINT) AS amp_r_c100
       |FROM b GROUP BY user_id)
       |SELECT *,
       |  CAST(color_num AS DOUBLE) / (color_den * 100.0) AS color_gr,
       |  amp_g_c100 - amp_r_c100 AS var_color_c100
       |FROM (SELECT *, sum_g_c100 * n_r - sum_r_c100 * n_g AS color_num,
       |        n_g * n_r AS color_den
       |      FROM agg WHERE n_g > 0 AND n_r > 0)
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Per-(object, BAND) generalized Lomb–Scargle — [[qLombScargle]]
    * in the reference's per-filter idiom (every other variability
    * statistic here is per-(object, band): [[qLightcurveBand]],
    * [[qStetson]], [[qEta]] …; a chromatic variable's period should
    * be measured per filter too, and band-discordant argmax periods
    * are themselves a vetting signal). Same fixed grid, same
    * fixed-point trig tables, same exact int64 sufficient sums and
    * single IEEE power chain — the ONLY change is `band` in the
    * aggregation key, so every documented precondition and the plan
    * shape (constant ×16 explode, ONE combinable shuffle, argmax on
    * the reduced |objects|×|bands|×16 frame) carry over verbatim.
    * Per-band epoch counts are ~n/5, so the int64 bound is LOOSER
    * than the mixed-stream query's.
    *
    * Bench watch: regresses if the band key split ever shuffles
    * twice. */
  def qLombScargleBand(s: SparkSession, dir: String): DataFrame =
    lombScargleBandOver(bandedSeries(s, dir))

  /** Plan body over any (user_id, band, tus, xc) frame — factored so
    * the spec can drive planted band-distinct sinusoids through the
    * real plan. */
  private[graft] def lombScargleBandOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    lsPowerFrameBy(ser, Seq("user_id", "band"))
      .groupBy($"user_id", $"band")
      .agg(max($"n").as("n_epochs"),
        max(struct($"ls_power", (-$"p_us").as("negp"))).as("bst"))
      .select($"user_id", $"band", $"n_epochs",
        (-$"bst.negp").as("best_p_us"), $"bst.ls_power".as("ls_power"))
      .orderBy($"user_id", $"band")
  }

  /** Banded twin of [[lsSufCtes]]: the same spliced grid/trig
    * literals and exact integer sums with `band` carried through the
    * phase projection into the aggregation key. Kept textually
    * parallel to the mixed-stream prefix so the two can be diffed by
    * eye; only this oracle interpolates it. */
  private[graft] val lsSufCtesBand: String = {
    val grid = PeriodGridUs.mkString(", ")
    s"""ev AS (SELECT user_id, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc,
       |    $BandCaseSql AS band
       |  FROM events WHERE user_id IS NOT NULL),
       |grid AS (SELECT unnest([$grid]) AS p_us),
       |trig AS (SELECT unnest(range($LsBins)) AS b,
       |    unnest([${LsCosTab.mkString(", ")}]) AS c,
       |    unnest([${LsSinTab.mkString(", ")}]) AS si),
       |ph AS (SELECT user_id, band, p_us, xc,
       |    CAST(((tus % p_us) * $LsBins) // p_us AS BIGINT) AS b
       |  FROM ev CROSS JOIN grid),
       |a AS (SELECT user_id, band, p_us, COUNT(*) AS n,
       |    CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(xc*xc) AS BIGINT) AS sxx,
       |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(si) AS BIGINT) AS ss,
       |    CAST(SUM(xc*c) AS BIGINT) AS sxc, CAST(SUM(xc*si) AS BIGINT) AS sxs,
       |    CAST(SUM(c*c) AS BIGINT) AS scc, CAST(SUM(si*si) AS BIGINT) AS sss,
       |    CAST(SUM(c*si) AS BIGINT) AS scs
       |  FROM ph JOIN trig USING (b) GROUP BY 1, 2, 3)""".stripMargin
  }

  val qLombScargleBandSql: String =
    s"""WITH $lsSufCtesBand,
       |m AS (SELECT user_id, band, p_us, n,
       |    n*scc - sc*sc AS ccn, n*sss - ss*ss AS ssn,
       |    n*scs - sc*ss AS csn, n*sxc - sx*sc AS xcn,
       |    n*sxs - sx*ss AS xsn, n*sxx - sx*sx AS xxn
       |  FROM a),
       |p AS (SELECT user_id, band, p_us, n,
       |    CAST(ssn AS DOUBLE)*CAST(xcn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |      - CAST(2.0 AS DOUBLE)*CAST(csn AS DOUBLE)*CAST(xcn AS DOUBLE)
       |        *CAST(xsn AS DOUBLE)
       |      + CAST(ccn AS DOUBLE)*CAST(xsn AS DOUBLE)*CAST(xsn AS DOUBLE)
       |      AS num_d,
       |    CAST(xxn AS DOUBLE)
       |      * (CAST(ccn AS DOUBLE)*CAST(ssn AS DOUBLE)
       |        - CAST(csn AS DOUBLE)*CAST(csn AS DOUBLE)) AS den_d
       |  FROM m),
       |pw AS (SELECT user_id, band, p_us, n,
       |    CASE WHEN den_d > CAST(0.0 AS DOUBLE)
       |      THEN num_d / den_d END AS ls_power
       |  FROM p),
       |r AS (SELECT user_id, band, p_us, n, ls_power, ROW_NUMBER() OVER (
       |    PARTITION BY user_id, band ORDER BY ls_power DESC, p_us) AS rn
       |  FROM pw WHERE ls_power IS NOT NULL)
       |SELECT user_id, band, n AS n_epochs, p_us AS best_p_us, ls_power
       |FROM r WHERE rn = 1 ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** The fixed band alphabet of the multiband model — the pivot
    * columns, in wavelength order (the order every fixed-tree IEEE
    * sum below folds in). */
  private[graft] val GlsBands = Seq("u", "g", "r", "i", "z")

  /** JOINT multiband generalized Lomb–Scargle — the VanderPlas &
    * Ivezić (2015) shared-phase model ((0, 1) base/band config:
    * per-band free means m_b, ONE shared sinusoid α·cos + β·sin
    * across bands): the published answer to sparse LSST cadence,
    * where no single band has enough epochs to date the period but
    * the five bands together do. Solving the shared-phase normal
    * equations collapses onto the SAME algebra as the single-series
    * GLS with each n-scaled centered moment replaced by the sum over
    * bands of its n_b-NORMALIZED form (band-centering removes each
    * m_b exactly):  A = Σ_b CC_b/n_b, B = Σ_b CS_b/n_b, … and
    * P = (C·D² − 2B·D·E + A·E²) / ((A·C − B²)·SST) ∈ [0, 1], the
    * fraction of total band-centered flux variance the shared
    * sinusoid explains. A single-band object degrades exactly to its
    * per-band GLS (the formula is scale-invariant per band).
    *
    * Cross-engine discipline: the per-(object, band, period) nine
    * sums are the SAME exact int64 reduction as q_lomb_scargle
    * ([[lsSufFrameBy]]); the per-band moments stay exact int64; each
    * /n_b normalization and the five-term band sums are ONE fixed
    * left-associated IEEE tree (bands in [[GlsBands]] order, absent
    * bands contribute literal 0.0 via coalesce), so even the doubles
    * hash-match.
    *
    * Scale shape: the identical constant ×16 explode and ONE
    * combinable (object, band, period) aggregate as the banded GLS,
    * then a conditional-aggregation PIVOT (never a join) on the
    * reduced |objects|×|bands|×16 frame down to |objects|×16, the
    * fixed chain in codegen, and the argmax. No new shuffle shape —
    * the multiband joint statistic costs one more tiny aggregate
    * than the per-band one.
    *
    * Bench watch: regresses if the pivot ever becomes a join or the
    * band sums leave the reduced frame. */
  def qMultibandGls(s: SparkSession, dir: String): DataFrame =
    multibandGlsOver(bandedSeries(s, dir))

  /** Plan body over any (user_id, band, tus, xc) frame — factored so
    * the spec can drive planted multiband sinusoids through the real
    * plan. */
  private[graft] def multibandGlsOver(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    val stats = Seq("n", "sx", "sxx", "sc", "ss", "sxc", "sxs",
      "scc", "sss", "scs")
    val aggs = GlsBands.flatMap { b =>
      stats.map(m => max(when($"band" === b, col(m))).as(s"${m}_$b"))
    }
    val pv = lsSufFrameBy(ser, Seq("user_id", "band"))
      .groupBy($"user_id", $"p_us").agg(aggs.head, aggs.tail: _*)
    val withMoms = GlsBands.foldLeft(pv) { (df, b) =>
      df
        .withColumn(s"ccn_$b",
          col(s"n_$b") * col(s"scc_$b") - col(s"sc_$b") * col(s"sc_$b"))
        .withColumn(s"ssn_$b",
          col(s"n_$b") * col(s"sss_$b") - col(s"ss_$b") * col(s"ss_$b"))
        .withColumn(s"csn_$b",
          col(s"n_$b") * col(s"scs_$b") - col(s"sc_$b") * col(s"ss_$b"))
        .withColumn(s"xcn_$b",
          col(s"n_$b") * col(s"sxc_$b") - col(s"sx_$b") * col(s"sc_$b"))
        .withColumn(s"xsn_$b",
          col(s"n_$b") * col(s"sxs_$b") - col(s"sx_$b") * col(s"ss_$b"))
        .withColumn(s"xxn_$b",
          col(s"n_$b") * col(s"sxx_$b") - col(s"sx_$b") * col(s"sx_$b"))
    }
    // Σ over bands of moment/n_b — ONE fixed left-assoc IEEE tree
    def tsum(stat: String) = GlsBands.map(b =>
      coalesce(col(s"${stat}_$b").cast("double") /
        col(s"n_$b").cast("double"), lit(0.0))).reduceLeft(_ + _)
    val scored = withMoms
      .withColumn("a_t", tsum("ccn")).withColumn("b_t", tsum("csn"))
      .withColumn("c_t", tsum("ssn")).withColumn("d_t", tsum("xcn"))
      .withColumn("e_t", tsum("xsn")).withColumn("sst", tsum("xxn"))
      .withColumn("num_d", $"c_t" * $"d_t" * $"d_t" -
        lit(2.0) * $"b_t" * $"d_t" * $"e_t" + $"a_t" * $"e_t" * $"e_t")
      .withColumn("den_d", ($"a_t" * $"c_t" - $"b_t" * $"b_t") * $"sst")
      .withColumn("mb_power", when($"den_d" > 0.0, $"num_d" / $"den_d"))
      .filter($"mb_power".isNotNull)
      .withColumn("n_tot", GlsBands.map(b =>
        coalesce(col(s"n_$b"), lit(0L))).reduceLeft(_ + _))
      .withColumn("nb", GlsBands.map(b =>
        when(col(s"n_$b").isNotNull, 1L).otherwise(0L)).reduceLeft(_ + _))
    scored.groupBy($"user_id")
      .agg(max($"n_tot").as("n_epochs"), max($"nb").as("n_bands"),
        max(struct($"mb_power", (-$"p_us").as("negp"))).as("bst"))
      .select($"user_id", $"n_bands", $"n_epochs",
        (-$"bst.negp").as("best_p_us"), $"bst.mb_power".as("mb_power"))
      .orderBy($"user_id")
  }

  /** Oracle twin, generated over the SAME band alphabet: the banded
    * sufficient-sum CTE, a CASE pivot on the reduced frame, and the
    * identical fixed-order normalized sums and power chain. */
  val qMultibandGlsSql: String = {
    val stats = Seq("n", "sx", "sxx", "sc", "ss", "sxc", "sxs",
      "scc", "sss", "scs")
    val pivotCols = GlsBands.flatMap { b =>
      stats.map(m => s"MAX(CASE WHEN band = '$b' THEN $m END) AS ${m}_$b")
    }.mkString(",\n|    ")
    def mom(stat: String, b: String) = stat match {
      case "ccn" => s"n_$b*scc_$b - sc_$b*sc_$b"
      case "ssn" => s"n_$b*sss_$b - ss_$b*ss_$b"
      case "csn" => s"n_$b*scs_$b - sc_$b*ss_$b"
      case "xcn" => s"n_$b*sxc_$b - sx_$b*sc_$b"
      case "xsn" => s"n_$b*sxs_$b - sx_$b*ss_$b"
      case "xxn" => s"n_$b*sxx_$b - sx_$b*sx_$b"
    }
    def tsum(stat: String) = GlsBands.map(b =>
      s"COALESCE(CAST(${mom(stat, b)} AS DOUBLE) / CAST(n_$b AS DOUBLE), " +
        "CAST(0.0 AS DOUBLE))").mkString(" + ")
    val nTot = GlsBands.map(b => s"COALESCE(n_$b, 0)").mkString(" + ")
    val nBands = GlsBands.map(b =>
      s"CASE WHEN n_$b IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $lsSufCtesBand,
       |pv AS (SELECT user_id, p_us,
       |    $pivotCols
       |  FROM a GROUP BY 1, 2),
       |t AS (SELECT user_id, p_us,
       |    CAST($nTot AS BIGINT) AS n_tot,
       |    CAST($nBands AS BIGINT) AS nb,
       |    ${tsum("ccn")} AS a_t,
       |    ${tsum("csn")} AS b_t,
       |    ${tsum("ssn")} AS c_t,
       |    ${tsum("xcn")} AS d_t,
       |    ${tsum("xsn")} AS e_t,
       |    ${tsum("xxn")} AS sst
       |  FROM pv),
       |p AS (SELECT user_id, p_us, n_tot, nb,
       |    c_t*d_t*d_t - CAST(2.0 AS DOUBLE)*b_t*d_t*e_t + a_t*e_t*e_t
       |      AS num_d,
       |    (a_t*c_t - b_t*b_t) * sst AS den_d
       |  FROM t),
       |pw AS (SELECT user_id, p_us, n_tot, nb,
       |    CASE WHEN den_d > CAST(0.0 AS DOUBLE)
       |      THEN num_d / den_d END AS mb_power
       |  FROM p),
       |r AS (SELECT user_id, p_us, n_tot, nb, mb_power, ROW_NUMBER() OVER (
       |    PARTITION BY user_id ORDER BY mb_power DESC, p_us) AS rn
       |  FROM pw WHERE mb_power IS NOT NULL)
       |SELECT user_id, nb AS n_bands, n_tot AS n_epochs,
       |  p_us AS best_p_us, mb_power
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Structure-function lag-bin width: 2 days in micros (the 30-day
    * synthetic window → 15 lag bins, the sampling a survey-cadence
    * SF analysis would use). */
  private[graft] val SfBinUs = 172800000000L

  /** First-order structure function per band: SF(τ) = ⟨(Δflux)²⟩
    * over all epoch pairs with lag τ — the standard ensemble
    * variability statistic of time-domain astronomy (quasar/AGN
    * selection fits SF(τ) ∝ τ^γ; LSST's DRP computes it per filter).
    *
    * Shape: the pair stream is a PER-OBJECT self-join — one shuffle
    * on the (object, band) composite key, then pairs generate inside
    * each group, so the blow-up is quadratic in per-object EPOCH
    * COUNT (bounded by survey cadence, ~10³ pairs per object) and
    * linear in the catalog — never corpus-quadratic. The lag-binned
    * reduction is map-side combinable into |bands|×|bins| cells.
    * Δ² sums in decimal(38,0) (exact at any corpus size — a bigint
    * sum would overflow past ~4e9 pairs/bin); the only IEEE step is
    * the final mean division, so the hash is stable.
    *
    * Bench watch: regresses silently if the pair join stops being
    * per-object. */
  def qStructureFunction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = bandedSeries(s, dir)
    val l = b.select($"user_id", $"band", $"tus".as("t1"), $"xc".as("x1"))
    val r = b.select($"user_id", $"band", $"tus".as("t2"), $"xc".as("x2"))
    l.join(r, Seq("user_id", "band")).filter($"t1" < $"t2")
      .select($"band", expr(s"(t2 - t1) DIV $SfBinUs").as("lag_bin"),
        (($"x2" - $"x1") * ($"x2" - $"x1")).as("d2"))
      .groupBy($"band", $"lag_bin")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"d2".cast("decimal(30,0)")).as("sd2"))
      .select($"band", $"lag_bin", $"n_pairs",
        ($"sd2".cast("double") / $"n_pairs").as("sf_c100sq"))
      .orderBy($"band", $"lag_bin")
  }

  val qStructureFunctionSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |p AS (SELECT a.band, (c.tus - a.tus) // $SfBinUs AS lag_bin,
       |        (c.xc - a.xc)*(c.xc - a.xc) AS d2
       |      FROM b a JOIN b c
       |        ON a.user_id = c.user_id AND a.band = c.band
       |       AND a.tus < c.tus)
       |SELECT band, lag_bin, COUNT(*) AS n_pairs,
       |  CAST(SUM(d2) AS DOUBLE) / COUNT(*) AS sf_c100sq
       |FROM p GROUP BY band, lag_bin ORDER BY band, lag_bin""".stripMargin

  // ---------------------------------------------------------------
  /** Visit id: the hour bucket of the measurement — the derivation
    * behind the `ccdvisit` SQL view (SparkEntry), shared so the
    * registered query and the SQL surface agree by construction. */
  private[graft] val VisitUs = 3600000000L

  /** Per-visit relative calibration — the ForcedSource ⋈ CcdVisit
    * workload (Pserv joins its source table to the visit table for
    * exactly this): each measurement reported against its visit's
    * ensemble mean, the difference-imaging / relative-photometry
    * residual. The residual is EXACT rational (num = flux·n_v −
    * Σ_v flux, den = n_v — both bigint) plus one IEEE division.
    *
    * Scale shape: the visit aggregate is a combinable groupBy on the
    * visit id, and its output is one row per VISIT — a frame that
    * grows with survey duration, not with the catalog, so the
    * join-back broadcasts (explicitly: at 100 TB the source side
    * never shuffles for this join; a decade of LSST is ~10⁶ visits,
    * KBs per row). Sources scan once, join map-side, aggregate
    * map-side.
    *
    * Bench watch: regresses silently if the join-back ever shuffles
    * the source side. */
  def qVisitCalib(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = series(s, dir)
      .withColumn("visitId", expr(s"tus DIV $VisitUs"))
    val vstat = src.groupBy($"visitId")
      .agg(count(lit(1)).as("n_v"), sum($"xc").as("sum_v_c100"))
    src.join(broadcast(vstat), Seq("visitId"))
      .select($"user_id", $"event_id", $"visitId", $"xc".as("flux_c100"),
        $"n_v",
        ($"xc" * $"n_v" - $"sum_v_c100").as("resid_num"),
        (($"xc" * $"n_v" - $"sum_v_c100") / ($"n_v" * lit(100.0)))
          .as("resid_val"))
      .orderBy($"event_id")
  }

  val qVisitCalibSql: String =
    s"""WITH src AS (SELECT user_id, event_id,
       |    epoch_us(ts) // $VisitUs AS visitId,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |v AS (SELECT visitId, COUNT(*) AS n_v,
       |    CAST(SUM(xc) AS BIGINT) AS sum_v_c100
       |  FROM src GROUP BY 1)
       |SELECT user_id, event_id, visitId, xc AS flux_c100, n_v,
       |  CAST(xc*n_v - sum_v_c100 AS BIGINT) AS resid_num,
       |  CAST(xc*n_v - sum_v_c100 AS DOUBLE) / (n_v * 100.0) AS resid_val
       |FROM src JOIN v USING (visitId)
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  /** Flux-bucket width (cents) of the drift monitor. */
  private[graft] val DriftBucketC100 = 500L

  /** Distribution-drift monitor — the PSI-style check a pipeline runs
    * on every refresh ("did this stream's value distribution move?"),
    * here per event type between the first and second half of the
    * observation window: bucketed value histograms for each half,
    * compared by TOTAL-VARIATION distance in exact ppm (½·Σ|p−q|,
    * the integer-exact drift statistic — PSI's log-ratio weighting
    * adds a cross-engine log for no extra detection power at a
    * fixed alert threshold). Per-half probabilities are floor-ppm of
    * per-bucket counts, so every output column is exact integer.
    *
    * Scale shape: the window midpoint is a 1-row broadcast aggregate
    * (the q_rfm horizon-scalar pattern); the histogram is ONE
    * combinable aggregate on (type, half, bucket) — bucket
    * cardinality is value-range/width, not data size — folded to
    * (type, bucket) and then to the per-type drift row. Nothing
    * joins, nothing sorts, nothing is data-dependent on the driver. */
  def qValueDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = series(s, dir)
    // integer DIV midpoint: Column `/` is IEEE division and Spark's
    // double→long cast truncates where DuckDB's rounds — keep the
    // whole expression integral on both engines
    val mid = e.agg(min($"tus").as("mn"), max($"tus").as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val hist = Tables.events(s, dir)
      .select($"event_type", expr("ts DIV 1000").as("tus"),
        round($"value" * 100).cast("long").as("xc"))
      .crossJoin(broadcast(mid))
      .withColumn("half", when($"tus" < $"mid", 1L).otherwise(2L))
      .withColumn("bucket", expr(s"xc DIV $DriftBucketC100"))
      .groupBy($"event_type", $"bucket")
      .agg(sum(when($"half" === 1, 1L).otherwise(0L)).as("c1"),
        sum(when($"half" === 2, 1L).otherwise(0L)).as("c2"))
    hist
      .withColumn("t1", sum($"c1").over(Window.partitionBy($"event_type")))
      .withColumn("t2", sum($"c2").over(Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg(max($"t1").as("n1"), max($"t2").as("n2"),
        count(lit(1)).as("n_buckets"),
        sum(abs(expr(
          "CASE WHEN t1 > 0 THEN (c1 * 1000000) DIV t1 ELSE 0 END - " +
            "CASE WHEN t2 > 0 THEN (c2 * 1000000) DIV t2 ELSE 0 END")))
          .as("l1_ppm"))
      .withColumn("tv_ppm", expr("l1_ppm DIV 2"))
      .select($"event_type", $"n1", $"n2", $"n_buckets", $"tv_ppm")
      .orderBy($"event_type")
  }

  val qValueDriftSql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |mid AS (SELECT (MIN(tus) + MAX(tus)) // 2 AS mid FROM e),
       |h AS (SELECT event_type, xc // $DriftBucketC100 AS bucket,
       |    CAST(SUM(CASE WHEN tus < mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN tus >= mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM e, mid GROUP BY 1, 2),
       |t AS (SELECT event_type, bucket, c1, c2,
       |    SUM(c1) OVER (PARTITION BY event_type) AS t1,
       |    SUM(c2) OVER (PARTITION BY event_type) AS t2
       |  FROM h)
       |SELECT event_type, CAST(MAX(t1) AS BIGINT) AS n1,
       |  CAST(MAX(t2) AS BIGINT) AS n2,
       |  COUNT(*) AS n_buckets,
       |  CAST(SUM(ABS(
       |    CASE WHEN t1 > 0 THEN (c1 * 1000000) // t1 ELSE 0 END -
       |    CASE WHEN t2 > 0 THEN (c2 * 1000000) // t2 ELSE 0 END)) // 2
       |    AS BIGINT) AS tv_ppm
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  /** Cross-band flux correlation per object — the chromatic-
    * variability statistic that separates achromatic variables
    * (eclipses, most pulsators: g and r move together, corr → 1)
    * from color-variable sources (AGN, chromatic flares): Pearson
    * correlation between the g- and r-band per-VISIT flux sums,
    * paired on the shared visit id (the `ccdvisit` hour bucket).
    * Sufficient statistics are exact integers; the correlation's
    * numerator and both denominator factors are exact bigints
    * (columns, hash-checked) and the IEEE tail is num /
    * (√den_g · √den_r) — two sqrts then one multiply, NOT
    * √(den_g·den_r), whose product overflows 64 bits at realistic
    * cadence; identical tree in the oracle. Objects with fewer than
    * 2 paired visits or a constant band report NULL.
    *
    * Scale shape: one combinable aggregate on (object, visit) pairs
    * the bands via conditional aggregation (no pivot, no self-join),
    * one more on the object key folds the sufficient statistics —
    * two shuffles, both on keys that grow with the catalog. */
  def qCrossbandCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val paired = bandedSeries(s, dir)
      .filter($"band".isin("g", "r"))
      .withColumn("visitId", expr(s"tus DIV $VisitUs"))
      .groupBy($"user_id", $"visitId")
      .agg(sum(when($"band" === "g", $"xc")).as("gc"),
        sum(when($"band" === "r", $"xc")).as("rc"))
      .filter($"gc".isNotNull && $"rc".isNotNull)
    paired
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"gc").as("sg"), sum($"rc").as("sr"),
        sum($"gc" * $"rc").as("sgr"),
        sum($"gc" * $"gc").as("sgg"), sum($"rc" * $"rc").as("srr"))
      .withColumn("corr_num", $"n" * $"sgr" - $"sg" * $"sr")
      .withColumn("den_g", $"n" * $"sgg" - $"sg" * $"sg")
      .withColumn("den_r", $"n" * $"srr" - $"sr" * $"sr")
      .withColumn("corr_gr",
        when($"n" >= 2 && $"den_g" > 0 && $"den_r" > 0,
          $"corr_num" / (sqrt($"den_g") * sqrt($"den_r"))))
      .select($"user_id", $"n", $"corr_num", $"den_g", $"den_r", $"corr_gr")
      .orderBy($"user_id")
  }

  val qCrossbandCorrSql: String =
    s"""WITH b AS (SELECT user_id, epoch_us(ts) // $VisitUs AS visitId,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc, $BandCaseSql AS band
       |  FROM events),
       |p AS (SELECT user_id, visitId,
       |    SUM(CASE WHEN band = 'g' THEN xc END) AS gc,
       |    SUM(CASE WHEN band = 'r' THEN xc END) AS rc
       |  FROM b WHERE band IN ('g', 'r') GROUP BY 1, 2),
       |a AS (SELECT user_id, COUNT(*) AS n,
       |    CAST(SUM(gc) AS BIGINT) AS sg, CAST(SUM(rc) AS BIGINT) AS sr,
       |    CAST(SUM(gc*rc) AS BIGINT) AS sgr,
       |    CAST(SUM(gc*gc) AS BIGINT) AS sgg,
       |    CAST(SUM(rc*rc) AS BIGINT) AS srr
       |  FROM p WHERE gc IS NOT NULL AND rc IS NOT NULL GROUP BY 1)
       |SELECT user_id, n,
       |  CAST(n*sgr - sg*sr AS BIGINT) AS corr_num,
       |  CAST(n*sgg - sg*sg AS BIGINT) AS den_g,
       |  CAST(n*srr - sr*sr AS BIGINT) AS den_r,
       |  CASE WHEN n >= 2 AND n*sgg - sg*sg > 0 AND n*srr - sr*sr > 0
       |    THEN (n*sgr - sg*sr) / (SQRT(CAST(n*sgg - sg*sg AS DOUBLE))
       |      * SQRT(CAST(n*srr - sr*sr AS DOUBLE)))
       |  END AS corr_gr
       |FROM a ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Robust per-object variability via the median absolute deviation
    * — the sigmaMAD statistic LSST's variability pipelines prefer over
    * the plain standard deviation (one flaring outlier epoch cannot
    * move it). Two discrete-median passes in exact integer cents:
    * the flux median (rank CEIL(n/2) under (value, id) — the VALUE at
    * the rank is tie-invariant, the q_percentile_disc argument), then
    * the median of |flux − median|; the Gaussian-consistent
    * sigma_mad = 1.4826·MAD is the single IEEE operation, identical
    * in the oracle.
    *
    * Scale shape: every window and join keys on the OBJECT — one
    * partitioning reused across both rank passes and the median
    * join-back (1 row/object build side). Per-group sorted state is
    * the object's epoch count — cadence-bounded (the
    * q_structure_function argument), so tasks stay bounded no matter
    * the catalog size; this is the many-small-groups regime where a
    * per-group sort beats a RankSplit histogram (built for few LARGE
    * groups, as q_percentile_disc uses).
    *
    * Bench watch: regresses if the two windows stop sharing one
    * object partitioning. */
  def qMad(s: SparkSession, dir: String): DataFrame =
    madOf(series(s, dir))

  /** [[qMad]] over an arbitrary (user_id, event_id, xc) frame — the
    * spec's planting surface. */
  def madOf(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val w1 = Window.partitionBy($"user_id").orderBy($"xc", $"event_id")
    val med = base
      .withColumn("rn", row_number().over(w1))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"user_id")))
      .filter($"rn" === expr("CAST(CEIL(0.5 * n) AS BIGINT)"))
      .select($"user_id", $"n", $"xc".as("med_c100"))
    val w2 = Window.partitionBy($"user_id").orderBy($"ad", $"event_id")
    base.join(med, "user_id")
      .withColumn("ad", abs($"xc" - $"med_c100"))
      .withColumn("rn", row_number().over(w2))
      .filter($"rn" === expr("CAST(CEIL(0.5 * n) AS BIGINT)"))
      .select($"user_id", $"n", $"med_c100", $"ad".as("mad_c100"),
        ($"ad" * lit(1.4826)).as("sigma_mad_c100"))
      .orderBy($"user_id")
  }

  val qMadSql: String =
    """WITH b AS (SELECT user_id, event_id,
      |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
      |r1 AS (SELECT user_id, xc,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY xc, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM b),
      |med AS (SELECT user_id, n, xc AS med_c100 FROM r1
      |  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
      |r2 AS (SELECT b.user_id, med.n, med.med_c100,
      |    ABS(b.xc - med.med_c100) AS ad,
      |    ROW_NUMBER() OVER (PARTITION BY b.user_id
      |      ORDER BY ABS(b.xc - med.med_c100), b.event_id) AS rn
      |  FROM b JOIN med USING (user_id))
      |SELECT user_id, n, med_c100, ad AS mad_c100,
      |  ad * CAST(1.4826 AS DOUBLE) AS sigma_mad_c100
      |FROM r2 WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Proper-motion fit — the astrometric companion of
    * [[qLightcurveTrend]] and the LSST Object-table idiom (the
    * reference's Object schema carries per-object muRa/muDecl fitted
    * from per-epoch source positions). Per-epoch position offsets are
    * derived deterministically from the integer keys (a linear drift
    * keyed on the object id plus an epoch-keyed jitter, in
    * milliarcseconds — the same derive-from-keys convention as the
    * golden-angle sky positions), and the per-object least-squares
    * slope over days-since-first-epoch is held in EXACT rational form
    * (bigint numerator/denominator, the [[qLightcurveTrend]]
    * sufficient-statistics shape); the two fitted rates and the total
    * proper-motion magnitude are each ONE IEEE operation off those
    * exact integers (two divisions + one sqrt of their squares, an
    * identical expression tree in DuckDB), so the hash-compare holds.
    *
    * Scale shape: the per-object epoch rebase (window min) and the
    * sufficient-statistic aggregate share the user_id shuffle — one
    * exchange total, map-side combinable, no join. Objects observed
    * on a single day have a zero denominator and report NULL rates
    * (a fit needs a time baseline), exactly as the oracle does. */
  def qProperMotion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    series(s, dir)
      .withColumn("tday",
        expr("(tus - min(tus) OVER (PARTITION BY user_id)) DIV 86400000000"))
      .withColumn("ra_off",
        ($"user_id" % 21 - 10) * $"tday" + ($"event_id" % 7 - 3))
      .withColumn("dec_off",
        ($"user_id" % 17 - 8) * $"tday" + ($"event_id" % 5 - 2))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"tday").as("st"), sum($"tday" * $"tday").as("stt"),
        sum($"ra_off").as("sra"), sum($"tday" * $"ra_off").as("stra"),
        sum($"dec_off").as("sdec"), sum($"tday" * $"dec_off").as("stdec"))
      .withColumn("pm_ra_num", $"n" * $"stra" - $"st" * $"sra")
      .withColumn("pm_dec_num", $"n" * $"stdec" - $"st" * $"sdec")
      .withColumn("pm_den", $"n" * $"stt" - $"st" * $"st")
      .withColumn("pm_ra_mas_day",
        when($"pm_den" > 0, $"pm_ra_num" / $"pm_den".cast("double")))
      .withColumn("pm_dec_mas_day",
        when($"pm_den" > 0, $"pm_dec_num" / $"pm_den".cast("double")))
      .withColumn("pm_tot_mas_day",
        when($"pm_den" > 0, sqrt($"pm_ra_mas_day" * $"pm_ra_mas_day" +
          $"pm_dec_mas_day" * $"pm_dec_mas_day")))
      .select($"user_id", $"n", $"pm_ra_num", $"pm_dec_num", $"pm_den",
        $"pm_ra_mas_day", $"pm_dec_mas_day", $"pm_tot_mas_day")
      .orderBy($"user_id")
  }

  val qProperMotionSql: String =
    """WITH b AS (SELECT user_id, event_id,
      |    (tus - MIN(tus) OVER (PARTITION BY user_id)) // 86400000000 AS tday
      |  FROM (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events)),
      |o AS (SELECT user_id,
      |    (user_id % 21 - 10)*tday + (event_id % 7 - 3) AS ra_off,
      |    (user_id % 17 - 8)*tday + (event_id % 5 - 2) AS dec_off, tday
      |  FROM b),
      |a AS (SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(tday) AS BIGINT) AS st,
      |    CAST(SUM(tday*tday) AS BIGINT) AS stt,
      |    CAST(SUM(ra_off) AS BIGINT) AS sra,
      |    CAST(SUM(tday*ra_off) AS BIGINT) AS stra,
      |    CAST(SUM(dec_off) AS BIGINT) AS sdec,
      |    CAST(SUM(tday*dec_off) AS BIGINT) AS stdec
      |  FROM o GROUP BY 1),
      |f AS (SELECT user_id, n,
      |    CAST(n*stra - st*sra AS BIGINT) AS pm_ra_num,
      |    CAST(n*stdec - st*sdec AS BIGINT) AS pm_dec_num,
      |    CAST(n*stt - st*st AS BIGINT) AS pm_den
      |  FROM a)
      |SELECT user_id, n, pm_ra_num, pm_dec_num, pm_den,
      |  CASE WHEN pm_den > 0 THEN pm_ra_num / CAST(pm_den AS DOUBLE) END
      |    AS pm_ra_mas_day,
      |  CASE WHEN pm_den > 0 THEN pm_dec_num / CAST(pm_den AS DOUBLE) END
      |    AS pm_dec_mas_day,
      |  CASE WHEN pm_den > 0 THEN SQRT(
      |    (pm_ra_num / CAST(pm_den AS DOUBLE)) * (pm_ra_num / CAST(pm_den AS DOUBLE))
      |    + (pm_dec_num / CAST(pm_den AS DOUBLE)) * (pm_dec_num / CAST(pm_den AS DOUBLE)))
      |  END AS pm_tot_mas_day
      |FROM f ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Fixed-point annual-parallax factor tables: sin/cos of the
    * day-of-year phase 2π·d/365, scaled ×10⁴ and rounded ONCE in
    * Scala, then spliced as literals into both engines (the
    * [[LsCosTab]] discipline — a lookup, not a libm call). The two
    * tables are the simplified (F_ra, F_dec) parallax-factor PAIR of
    * the published astrometric model — the ra offset responds to the
    * sine component, the dec offset to the cosine (the quadrature
    * pair a circular reflex orbit projects onto the two
    * coordinates). */
  private[graft] val PlxScale = 10000L
  private[graft] val PlxSinTab: Seq[Long] = (0 until 365).map(d =>
    math.round(math.sin(2.0 * math.Pi * d / 365.0) * PlxScale))
  private[graft] val PlxCosTab: Seq[Long] = (0 until 365).map(d =>
    math.round(math.cos(2.0 * math.Pi * d / 365.0) * PlxScale))

  /** Annual-parallax astrometric fit — the Object-table columns
    * beside [[qProperMotion]]'s muRa/muDecl (LSST's Object schema
    * carries parallax fitted jointly with proper motion from the
    * per-epoch positions): per object and per COORDINATE, the
    * three-parameter least squares x ≈ a + b·t + p·F(t) where t is
    * days since the object's first epoch and F the coordinate's
    * parallax factor — [[PlxSinTab]] for ra, [[PlxCosTab]] for dec,
    * the published (F_ra, F_dec) quadrature pair — with the same
    * derive-from-keys offset convention as the proper-motion entry
    * extended by planted per-object parallax terms (ra amplitude
    * `id % 13 − 6`, dec amplitude `id % 11 − 5`, in table-scale
    * units, so both fits have real signal to recover — the spec
    * proves EXACT recovery on a noise-free planted fixture).
    *
    * Determinism discipline: all sufficient statistics are exact
    * int64 sums (largest |ΣF·x| < 10¹³ at the corpus magnitudes);
    * each 3×3 normal system solves by Cramer expansion as ONE fixed
    * IEEE chain over the double-cast exact sums (products like
    * stt·sff overflow int64, so the chain starts at the casts —
    * single-rounding on both engines, identical tree, hash-exact;
    * the [[lsPowerFrameBy]] num_d/den_d discipline). Degenerate
    * systems (n ≤ 3 or a zero determinant) carry nulls.
    *
    * Scale shape: the per-object epoch rebase (window min) and ONE
    * sufficient-statistic aggregate carrying BOTH coordinates' sums
    * share the user_id shuffle — one exchange total, map-side
    * combinable, no join, nothing driver-side; both Cramer chains
    * run per-row on the |objects| reduced frame.
    *
    * Bench watch: same one-exchange shape as q_proper_motion; a
    * blowup means the trig lookup left codegen or the reduced frame
    * grew a join. */
  def qParallax(s: SparkSession, dir: String): DataFrame =
    parallaxFitOver(astromDesign(s, dir))

  /** The shared astrometric design frame — ONE derivation for the
    * parallax fit and its goodness-of-fit twin ([[qAstromChi2]]), so
    * the two entries can never drift: per epoch the rebased day
    * count, both fixed-point parallax factors, and the derive-from-
    * keys coordinate offsets with planted proper-motion AND parallax
    * terms on both axes. */
  private[graft] def astromDesign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    series(s, dir)
      .withColumn("tday",
        expr("(tus - min(tus) OVER (PARTITION BY user_id)) DIV 86400000000"))
      .withColumn("doy",
        expr("(tus DIV 86400000000) % 365").cast("int"))
      .withColumn("f", element_at(typedLit(PlxSinTab), $"doy" + 1))
      .withColumn("g", element_at(typedLit(PlxCosTab), $"doy" + 1))
      .withColumn("x",
        ($"user_id" % 21 - 10) * $"tday" * lit(10000L) +
          ($"user_id" % 13 - 6) * $"f" +
          ($"event_id" % 7 - 3) * lit(100L))
      .withColumn("y",
        ($"user_id" % 17 - 8) * $"tday" * lit(10000L) +
          ($"user_id" % 11 - 5) * $"g" +
          ($"event_id" % 5 - 2) * lit(100L))
      .select($"user_id", $"tday", $"f", $"x", $"g", $"y")
  }

  /** The 3×3 Cramer solve of one coordinate's normal equations —
    * (det_m, det_b, det_p) as ONE fixed IEEE chain over the
    * double-cast exact sums; shared by both coordinates so the two
    * chains can never drift. */
  private def cramer3(n: Column, st: Column, sf: Column, stt: Column,
    stf: Column, sff: Column, sx: Column, stx: Column,
    sfx: Column): (Column, Column, Column) = {
    def d(c: Column) = c.cast("double")
    val detM =
      d(n) * (d(stt) * d(sff) - d(stf) * d(stf)) -
        d(st) * (d(st) * d(sff) - d(stf) * d(sf)) +
        d(sf) * (d(st) * d(stf) - d(stt) * d(sf))
    val detB =
      d(n) * (d(stx) * d(sff) - d(stf) * d(sfx)) -
        d(sx) * (d(st) * d(sff) - d(stf) * d(sf)) +
        d(sf) * (d(st) * d(sfx) - d(stx) * d(sf))
    val detP =
      d(n) * (d(stt) * d(sfx) - d(stx) * d(stf)) -
        d(st) * (d(st) * d(sfx) - d(stx) * d(sf)) +
        d(sx) * (d(st) * d(stf) - d(stt) * d(sf))
    (detM, detB, detP)
  }

  /** Fit body over any (user_id, tday, f, x, g, y) exact-integer
    * two-coordinate design frame — factored so the spec can plant
    * noise-free a + b·t + p·F series through the real plan and
    * assert EXACT parameter recovery on BOTH coordinates (det
    * multilinearity: det_p = p·det_m when the data column is an
    * exact linear combination, and small planted values keep every
    * double product exact). */
  private[graft] def parallaxFitOver(o: DataFrame): DataFrame = {
    val s = o.sparkSession
    import s.implicits._
    val agg = o.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"tday").as("st"), sum($"f").as("sf"), sum($"g").as("sg"),
        sum($"tday" * $"tday").as("stt"),
        sum($"tday" * $"f").as("stf"), sum($"f" * $"f").as("sff"),
        sum($"tday" * $"g").as("stg"), sum($"g" * $"g").as("sgg"),
        sum($"x").as("sx"), sum($"tday" * $"x").as("stx"),
        sum($"f" * $"x").as("sfx"),
        sum($"y").as("sy"), sum($"tday" * $"y").as("sty"),
        sum($"g" * $"y").as("sgy"))
    val (detM, detB, detP) = cramer3($"n", $"st", $"sf", $"stt",
      $"stf", $"sff", $"sx", $"stx", $"sfx")
    val (detMd, detBd, detPd) = cramer3($"n", $"st", $"sg", $"stt",
      $"stg", $"sgg", $"sy", $"sty", $"sgy")
    agg
      .withColumn("det_m", detM)
      .withColumn("det_b", detB)
      .withColumn("det_p", detP)
      .withColumn("det_md", detMd)
      .withColumn("det_bd", detBd)
      .withColumn("det_pd", detPd)
      .withColumn("pm_ra_fit",
        when($"n" > 3 && $"det_m" =!= 0.0, $"det_b" / $"det_m"))
      .withColumn("plx_ra_fit",
        when($"n" > 3 && $"det_m" =!= 0.0, $"det_p" / $"det_m"))
      .withColumn("pm_dec_fit",
        when($"n" > 3 && $"det_md" =!= 0.0, $"det_bd" / $"det_md"))
      .withColumn("plx_dec_fit",
        when($"n" > 3 && $"det_md" =!= 0.0, $"det_pd" / $"det_md"))
      .select($"user_id", $"n", $"sx", $"stx", $"sfx",
        $"sy", $"sty", $"sgy", $"det_m", $"det_md",
        $"pm_ra_fit", $"plx_ra_fit", $"pm_dec_fit", $"plx_dec_fit")
      .orderBy($"user_id")
  }

  /** One coordinate's three Cramer determinants as SQL text —
    * parameterized over the factor/data sum names so ra and dec
    * splice the IDENTICAL chain (the [[cramer3]] tree verbatim). */
  private def cramer3Sql(sf: String, stf: String, sff: String,
    sx: String, stx: String, sfx: String, suf: String): String =
    s"""CAST(n AS DOUBLE)*(CAST(stt AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($stf AS DOUBLE))
       |      - CAST(st AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($sf AS DOUBLE))
       |      + CAST($sf AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($stf AS DOUBLE)
       |        - CAST(stt AS DOUBLE)*CAST($sf AS DOUBLE)) AS det_m$suf,
       |    CAST(n AS DOUBLE)*(CAST($stx AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($sfx AS DOUBLE))
       |      - CAST($sx AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($sf AS DOUBLE))
       |      + CAST($sf AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($sfx AS DOUBLE)
       |        - CAST($stx AS DOUBLE)*CAST($sf AS DOUBLE)) AS det_b$suf,
       |    CAST(n AS DOUBLE)*(CAST(stt AS DOUBLE)*CAST($sfx AS DOUBLE)
       |        - CAST($stx AS DOUBLE)*CAST($stf AS DOUBLE))
       |      - CAST(st AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($sfx AS DOUBLE)
       |        - CAST($stx AS DOUBLE)*CAST($sf AS DOUBLE))
       |      + CAST($sx AS DOUBLE)*(CAST(st AS DOUBLE)*CAST($stf AS DOUBLE)
       |        - CAST(stt AS DOUBLE)*CAST($sf AS DOUBLE)) AS det_p$suf""".stripMargin

  /** Oracle twin: the spliced sinusoid/cosine tables (zipped unnest),
    * the identical exact sums and the identical Cramer chains for
    * both coordinates. */
  /** The shared astrometric CTE prefix (ev → rebased design frame
    * `o`) — ONE text copy spliced into both the parallax oracle and
    * the chi² oracle, mirroring [[astromDesign]]. */
  private lazy val astromCtesSql: String =
    s"""ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus
       |  FROM events),
       |b AS (SELECT user_id, event_id, tus,
       |    (tus - MIN(tus) OVER (PARTITION BY user_id)) // 86400000000
       |      AS tday,
       |    CAST((tus // 86400000000) % 365 AS BIGINT) AS doy
       |  FROM ev),
       |ptrig AS (SELECT unnest(range(365)) AS doy,
       |    unnest([${PlxSinTab.mkString(", ")}]) AS f,
       |    unnest([${PlxCosTab.mkString(", ")}]) AS g),
       |o AS (SELECT user_id, tday, f, g,
       |    (user_id % 21 - 10)*tday*10000 + (user_id % 13 - 6)*f
       |      + (event_id % 7 - 3)*100 AS x,
       |    (user_id % 17 - 8)*tday*10000 + (user_id % 11 - 5)*g
       |      + (event_id % 5 - 2)*100 AS y
       |  FROM b JOIN ptrig USING (doy))""".stripMargin

  lazy val qParallaxSql: String =
    s"""WITH $astromCtesSql,
       |a AS (SELECT user_id, COUNT(*) AS n,
       |    CAST(SUM(tday) AS BIGINT) AS st,
       |    CAST(SUM(f) AS BIGINT) AS sf,
       |    CAST(SUM(g) AS BIGINT) AS sg,
       |    CAST(SUM(tday*tday) AS BIGINT) AS stt,
       |    CAST(SUM(tday*f) AS BIGINT) AS stf,
       |    CAST(SUM(f*f) AS BIGINT) AS sff,
       |    CAST(SUM(tday*g) AS BIGINT) AS stg,
       |    CAST(SUM(g*g) AS BIGINT) AS sgg,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(tday*x) AS BIGINT) AS stx,
       |    CAST(SUM(f*x) AS BIGINT) AS sfx,
       |    CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(tday*y) AS BIGINT) AS sty,
       |    CAST(SUM(g*y) AS BIGINT) AS sgy
       |  FROM o GROUP BY 1),
       |dt AS (SELECT *,
       |    ${cramer3Sql("sf", "stf", "sff", "sx", "stx", "sfx", "")},
       |    ${cramer3Sql("sg", "stg", "sgg", "sy", "sty", "sgy", "d")}
       |  FROM a)
       |SELECT user_id, n, sx, stx, sfx, sy, sty, sgy, det_m, det_md,
       |  CASE WHEN n > 3 AND det_m <> CAST(0.0 AS DOUBLE)
       |    THEN det_b / det_m END AS pm_ra_fit,
       |  CASE WHEN n > 3 AND det_m <> CAST(0.0 AS DOUBLE)
       |    THEN det_p / det_m END AS plx_ra_fit,
       |  CASE WHEN n > 3 AND det_md <> CAST(0.0 AS DOUBLE)
       |    THEN det_bd / det_md END AS pm_dec_fit,
       |  CASE WHEN n > 3 AND det_md <> CAST(0.0 AS DOUBLE)
       |    THEN det_pd / det_md END AS plx_dec_fit
       |FROM dt ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** The intercept's Cramer determinant (first column replaced by the
    * data vector) — the one numerator [[cramer3]] doesn't need for
    * the slope/parallax readouts but the residual identity does. */
  private def cramer3A(st: Column, sf: Column, stt: Column,
    stf: Column, sff: Column, sx: Column, stx: Column,
    sfx: Column): Column = {
    def d(c: Column) = c.cast("double")
    d(sx) * (d(stt) * d(sff) - d(stf) * d(stf)) -
      d(st) * (d(stx) * d(sff) - d(stf) * d(sfx)) +
      d(sf) * (d(stx) * d(stf) - d(stt) * d(sfx))
  }

  /** Astrometric goodness-of-fit — the Object-table column family
    * beside the fit itself (LSST's Object schema carries astromChi2
    * with the astrometric parameters; Gaia publishes the same
    * residual statistic as the excess-noise input): per object and
    * per coordinate, the residual sum of squares of the SAME
    * three-parameter model [[qParallax]] fits, via the normal-
    * equation identity RSS = Σx² − (â·Σx + b̂·Σtx + p̂·ΣFx) — no
    * second data pass, no residual materialization: the identity
    * needs only TWO more exact sums (Σx², Σy²; max ≈ 2.7·10¹⁴ at
    * sf0.1 — four orders under int64) on top of the fit's fifteen,
    * and the fitted values come from the same Cramer determinants
    * plus the one the readouts don't need ([[cramer3A]]). The
    * reduced χ² divides by the n−3 dof. RSS and χ² are each ONE
    * fixed IEEE chain over the double-cast exact sums (the
    * [[cramer3]] discipline — identical tree both engines, so the
    * cancellation-sensitive subtraction rounds identically);
    * degenerate systems carry nulls per coordinate independently.
    *
    * Scale shape: identical to the fit — ONE combinable 17-sum
    * aggregate sharing the rebase window's object-key shuffle, both
    * residual chains per-row on the |objects| reduced frame. A
    * noise-free planted fixture must land RSS exactly 0.0 (all
    * products exact at fixture magnitudes, the cancellation is
    * exact), and the per-epoch jitter terms make every real corpus
    * row strictly positive — both spec-pinned.
    *
    * Bench watch: must bench ~q_parallax; a blowup means the RSS grew
    * a residual pass. */
  def qAstromChi2(s: SparkSession, dir: String): DataFrame =
    astromChi2Over(astromDesign(s, dir))

  /** Fit-quality body over any (user_id, tday, f, x, g, y) design
    * frame — factored for the planted-fixture spec. */
  private[graft] def astromChi2Over(o: DataFrame): DataFrame = {
    val s = o.sparkSession
    import s.implicits._
    def d(c: Column) = c.cast("double")
    val agg = o.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"tday").as("st"), sum($"f").as("sf"), sum($"g").as("sg"),
        sum($"tday" * $"tday").as("stt"),
        sum($"tday" * $"f").as("stf"), sum($"f" * $"f").as("sff"),
        sum($"tday" * $"g").as("stg"), sum($"g" * $"g").as("sgg"),
        sum($"x").as("sx"), sum($"tday" * $"x").as("stx"),
        sum($"f" * $"x").as("sfx"), sum($"x" * $"x").as("sxx"),
        sum($"y").as("sy"), sum($"tday" * $"y").as("sty"),
        sum($"g" * $"y").as("sgy"), sum($"y" * $"y").as("syy"))
    val (detM, detB, detP) = cramer3($"n", $"st", $"sf", $"stt",
      $"stf", $"sff", $"sx", $"stx", $"sfx")
    val detA = cramer3A($"st", $"sf", $"stt", $"stf", $"sff",
      $"sx", $"stx", $"sfx")
    val (detMd, detBd, detPd) = cramer3($"n", $"st", $"sg", $"stt",
      $"stg", $"sgg", $"sy", $"sty", $"sgy")
    val detAd = cramer3A($"st", $"sg", $"stt", $"stg", $"sgg",
      $"sy", $"sty", $"sgy")
    agg
      .withColumn("det_m", detM)
      .withColumn("det_md", detMd)
      .withColumn("rss_ra",
        when($"n" > 3 && $"det_m" =!= 0.0,
          d($"sxx") - (detA * d($"sx") + detB * d($"stx") +
            detP * d($"sfx")) / $"det_m"))
      .withColumn("rss_dec",
        when($"n" > 3 && $"det_md" =!= 0.0,
          d($"syy") - (detAd * d($"sy") + detBd * d($"sty") +
            detPd * d($"sgy")) / $"det_md"))
      .withColumn("chi2_ra", $"rss_ra" / d($"n" - 3))
      .withColumn("chi2_dec", $"rss_dec" / d($"n" - 3))
      .select($"user_id", $"n", $"sxx", $"syy",
        $"rss_ra", $"chi2_ra", $"rss_dec", $"chi2_dec")
      .orderBy($"user_id")
  }

  /** One coordinate's intercept determinant as SQL text — the
    * [[cramer3A]] tree verbatim. */
  private def cramer3aSql(sf: String, stf: String, sff: String,
    sx: String, stx: String, sfx: String, suf: String): String =
    s"""CAST($sx AS DOUBLE)*(CAST(stt AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($stf AS DOUBLE))
       |      - CAST(st AS DOUBLE)*(CAST($stx AS DOUBLE)*CAST($sff AS DOUBLE)
       |        - CAST($stf AS DOUBLE)*CAST($sfx AS DOUBLE))
       |      + CAST($sf AS DOUBLE)*(CAST($stx AS DOUBLE)*CAST($stf AS DOUBLE)
       |        - CAST(stt AS DOUBLE)*CAST($sfx AS DOUBLE)) AS det_a$suf""".stripMargin

  /** Oracle twin: the shared astrometric prefix, the 17 exact sums,
    * all eight determinants through the identical chains, and the
    * staged RSS → χ² readout. */
  lazy val qAstromChi2Sql: String =
    s"""WITH $astromCtesSql,
       |a AS (SELECT user_id, COUNT(*) AS n,
       |    CAST(SUM(tday) AS BIGINT) AS st,
       |    CAST(SUM(f) AS BIGINT) AS sf,
       |    CAST(SUM(g) AS BIGINT) AS sg,
       |    CAST(SUM(tday*tday) AS BIGINT) AS stt,
       |    CAST(SUM(tday*f) AS BIGINT) AS stf,
       |    CAST(SUM(f*f) AS BIGINT) AS sff,
       |    CAST(SUM(tday*g) AS BIGINT) AS stg,
       |    CAST(SUM(g*g) AS BIGINT) AS sgg,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(tday*x) AS BIGINT) AS stx,
       |    CAST(SUM(f*x) AS BIGINT) AS sfx,
       |    CAST(SUM(x*x) AS BIGINT) AS sxx,
       |    CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(tday*y) AS BIGINT) AS sty,
       |    CAST(SUM(g*y) AS BIGINT) AS sgy,
       |    CAST(SUM(y*y) AS BIGINT) AS syy
       |  FROM o GROUP BY 1),
       |dt AS (SELECT *,
       |    ${cramer3Sql("sf", "stf", "sff", "sx", "stx", "sfx", "")},
       |    ${cramer3aSql("sf", "stf", "sff", "sx", "stx", "sfx", "")},
       |    ${cramer3Sql("sg", "stg", "sgg", "sy", "sty", "sgy", "d")},
       |    ${cramer3aSql("sg", "stg", "sgg", "sy", "sty", "sgy", "d")}
       |  FROM a),
       |r AS (SELECT *,
       |    CASE WHEN n > 3 AND det_m <> CAST(0.0 AS DOUBLE)
       |      THEN CAST(sxx AS DOUBLE)
       |        - (det_a*CAST(sx AS DOUBLE) + det_b*CAST(stx AS DOUBLE)
       |          + det_p*CAST(sfx AS DOUBLE)) / det_m END AS rss_ra,
       |    CASE WHEN n > 3 AND det_md <> CAST(0.0 AS DOUBLE)
       |      THEN CAST(syy AS DOUBLE)
       |        - (det_ad*CAST(sy AS DOUBLE) + det_bd*CAST(sty AS DOUBLE)
       |          + det_pd*CAST(sgy AS DOUBLE)) / det_md END AS rss_dec
       |  FROM dt)
       |SELECT user_id, n, sxx, syy,
       |  rss_ra, rss_ra / CAST(n - 3 AS DOUBLE) AS chi2_ra,
       |  rss_dec, rss_dec / CAST(n - 3 AS DOUBLE) AS chi2_dec
       |FROM r ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Stetson J and K variability indices per (object, band) —
    * Stetson 1996 (PASP 108, 851), the classic robust-variability
    * statistic of every time-domain survey pipeline (and of the
    * reference's per-filter light-curve summaries). A synthetic
    * per-observation error `errc = 3 + |xc| DIV 50` (c100 units,
    * strictly positive, flux-proportional like real photometric
    * errors) stands in for the missing error column; swapping a real
    * column changes one expression.
    *
    * Determinism discipline (the cross-engine hash): every
    * order-dependent float SUM is replaced by a sum of PER-TERM
    * rounded integers — each term is a fixed chain of IEEE ops over
    * exact integers plus the single exact mean division, rounded to
    * 1e-6 and summed as bigint, so neither engine's reduction order
    * can drift the result.
    *   - `u_i = |xc_i − mean| / errc_i` (the normalized residual up
    *     to the pair-invariant sqrt(n/(n−1)) factor, which cancels in
    *     K and is restored inside each J term);
    *   - `sa_c6 = Σ round(1e6·u)`, `sq_c6 = Σ round(1e6·u²)`;
    *   - per consecutive-pair (time order, event_id tiebreak)
    *     `P = (n/(n−1))·(xc_i−mean)(xc_j−mean)/(errc_i·errc_j)`,
    *     `j_c6 = Σ round(1e6·sgn(P)·sqrt|P|)`;
    *   - `k_val = sa_c6/(1000·sqrt(n·sq_c6))` ≈ mean|δ|/rms(δ) and
    *     `j_val = j_c6/(1e6·(n−1))` — single fixed expressions over
    *     the exact sums.
    *
    * Scale shape: ONE shuffle on (object, band) serves the group
    * aggregates, the lead() pairing, and the final groupBy (window
    * partition = group key, so the sort is reused); no self-join —
    * the consecutive-pair form of J is linear in the series where
    * the naive all-pairs form is quadratic.
    *
    * Bench watch: regresses if the windows stop sharing a single sort
    * or the linear consecutive-pair J ever becomes a self-join. */
  def qStetson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    val w = wg.orderBy($"tus", $"event_id")
    val t = bandedSeries(s, dir)
      .withColumn("errc", expr("3 + abs(xc) DIV 50"))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("mean", sum($"xc").over(wg).cast("double") / $"n")
      .withColumn("u", abs($"xc" - $"mean") / $"errc")
      .withColumn("xn", lead($"xc", 1).over(w))
      .withColumn("en", lead($"errc", 1).over(w))
      .withColumn("p",
        ($"n".cast("double") / ($"n" - lit(1.0))) *
          (($"xc" - $"mean") * ($"xn" - $"mean")) / ($"errc" * $"en"))
    t.groupBy($"user_id", $"band")
      .agg(
        count(lit(1)).as("n"),
        sum(round($"u" * lit(1000000.0)).cast("long")).as("sa_c6"),
        sum(round($"u" * $"u" * lit(1000000.0)).cast("long")).as("sq_c6"),
        coalesce(sum(when($"p".isNotNull,
          round(signum($"p") * sqrt(abs($"p")) * lit(1000000.0))
            .cast("long"))), lit(0L)).as("j_c6"))
      .withColumn("k_val", when($"sq_c6" > 0,
        $"sa_c6" / (lit(1000.0) * sqrt($"n".cast("double") * $"sq_c6"))))
      .withColumn("j_val", when($"n" > 1,
        $"j_c6" / (lit(1000000.0) * ($"n" - 1))))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same window pairing, same per-term 1e-6 rounding,
    * same fixed IEEE chains (the mean re-inlined as the identical
    * pure expression). */
  /** The Stetson CTE chain through `sjv` (the per-(object, band)
    * J/K frame) — s-prefixed names so it composes collision-free with
    * [[lsPowerCtes]] in [[qPeriodicCandidatesSql]]; [[qStetsonSql]]
    * interpolates the same single copy. */
  private[graft] val stetsonCtes: String =
    s"""sb AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |se AS (SELECT *, 3 + ABS(xc) // 50 AS errc FROM sb),
       |sg AS (SELECT user_id, band, xc, errc,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS n,
       |    CAST(SUM(xc) OVER (PARTITION BY user_id, band) AS DOUBLE)
       |      / COUNT(*) OVER (PARTITION BY user_id, band) AS mean,
       |    LEAD(xc) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS xn,
       |    LEAD(errc) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS en
       |  FROM se),
       |st AS (SELECT user_id, band, n,
       |    ABS(xc - mean) / errc AS u,
       |    CASE WHEN xn IS NOT NULL THEN
       |      (CAST(n AS DOUBLE) / (n - 1.0)) *
       |        ((xc - mean) * (xn - mean)) / (errc * en)
       |    END AS p
       |  FROM sg),
       |sa AS (SELECT user_id, band, COUNT(*) AS n,
       |    CAST(SUM(CAST(ROUND(u * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS sa_c6,
       |    CAST(SUM(CAST(ROUND(u * u * 1000000.0) AS BIGINT)) AS BIGINT)
       |      AS sq_c6,
       |    CAST(COALESCE(SUM(CASE WHEN p IS NOT NULL THEN
       |        CAST(ROUND(SIGN(p) * SQRT(ABS(p)) * 1000000.0) AS BIGINT)
       |      END), 0) AS BIGINT) AS j_c6
       |  FROM st GROUP BY 1, 2),
       |sjv AS (SELECT user_id, band, n, sa_c6, sq_c6, j_c6,
       |    CASE WHEN sq_c6 > 0 THEN
       |      sa_c6 / (1000.0 * SQRT(CAST(n AS DOUBLE) * sq_c6))
       |    END AS k_val,
       |    CASE WHEN n > 1 THEN j_c6 / (1000000.0 * (n - 1)) END AS j_val
       |  FROM sa)""".stripMargin

  val qStetsonSql: String =
    s"""WITH $stetsonCtes
       |SELECT user_id, band, n, sa_c6, sq_c6, j_c6, k_val, j_val
       |FROM sjv ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Periodic-variable candidate gates: an object must be VARIABLE
    * (some band's Stetson J clears [[StetsonJMin]]) AND PERIODIC
    * (its best GLS power clears [[LsPowerMin]]). Both thresholds
    * bind on the test corpora — each gate alone passes more objects
    * than the pair. */
  private[graft] val StetsonJMin = 40.0
  private[graft] val LsPowerMin = 0.08

  /** Periodic-variable candidate selection — the alert-stream
    * composition every time-domain survey runs nightly (DRW/eclipse/
    * pulsator triage): the [[qStetson]] variability index and the
    * [[qLombScargle]] period search, composed into one release gate.
    * An object qualifies when BOTH fire; the output carries the best
    * period, its GLS power, the strongest band's J and how many bands
    * cleared the variability cut. Every gated value is a hash-exact
    * double (identical IEEE chains on both engines), so the gate
    * comparisons can never disagree cross-engine.
    *
    * Scale shape: both inputs are the already-reduced per-object(-
    * band) frames — the join adds one shuffle over |objects| rows on
    * top of the two parents' own one-shuffle shapes; nothing
    * corpus-sized crosses it.
    *
    * Bench watch: regresses if either parent frame stops reducing
    * before the join. */
  def qPeriodicCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val j = qStetson(s, dir)
      .filter($"j_val" >= StetsonJMin)
      .groupBy($"user_id")
      .agg(max($"j_val").as("j_max"),
        count(lit(1)).as("n_bands_var"))
    qLombScargle(s, dir)
      .filter($"ls_power" >= LsPowerMin)
      .join(j, Seq("user_id"))
      .select($"user_id", $"n_epochs", $"best_p_us", $"ls_power",
        $"j_max", $"n_bands_var")
      .orderBy($"user_id")
  }

  /** Oracle twin: ONE copy each of the GLS power chain and the
    * Stetson chain ([[lsPowerCtes]], [[stetsonCtes]]), composed with
    * the same two threshold comparisons and the |objects|-row join. */
  val qPeriodicCandidatesSql: String =
    s"""WITH $lsPowerCtes,
       |$stetsonCtes,
       |best AS (SELECT user_id, n AS n_epochs, p_us AS best_p_us,
       |    ls_power
       |  FROM r WHERE rn = 1),
       |jf AS (SELECT user_id, MAX(j_val) AS j_max,
       |    COUNT(*) AS n_bands_var
       |  FROM sjv WHERE j_val >= CAST($StetsonJMin AS DOUBLE)
       |  GROUP BY 1)
       |SELECT best.user_id, best.n_epochs, best.best_p_us,
       |  best.ls_power, jf.j_max, jf.n_bands_var
       |FROM best JOIN jf USING (user_id)
       |WHERE best.ls_power >= CAST($LsPowerMin AS DOUBLE)
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Von Neumann ratio η per (object, band) — the mean square
    * successive difference over the variance (von Neumann 1941; the
    * `η` trend statistic of the LSST/ZTF variability-feature sets:
    * η ≈ 2 for white noise, ≪ 2 for smooth trends, > 2 for
    * oscillation faster than the cadence). Unlike [[qStetson]]'s
    * per-term-rounded sums, η is EXACT rational end-to-end:
    * `η = n·Σ(Δx)² / (n·Σx² − (Σx)²)` — both sides bigint from the
    * same (object, band) pass — plus one IEEE division for the
    * reported value, so the hash needs no rounding discipline at all.
    *
    * Scale shape: the lag(1) window and the aggregate share ONE
    * (object, band) shuffle; consecutive-difference form is linear in
    * the series. */
  def qEta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"band").orderBy($"tus", $"event_id")
    bandedSeries(s, dir)
      .withColumn("dx", $"xc" - lag($"xc", 1).over(w))
      .groupBy($"user_id", $"band")
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum($"dx" * $"dx"), lit(0L)).as("d2_c100sq"),
        (count(lit(1)) * sum($"xc" * $"xc") - sum($"xc") * sum($"xc"))
          .as("var_num"))
      .withColumn("eta_val", when($"var_num" > 0,
        ($"n" * $"d2_c100sq").cast("double") / $"var_num"))
      .orderBy($"user_id", $"band")
  }

  val qEtaSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |l AS (SELECT user_id, band, xc,
       |    xc - LAG(xc) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS dx
       |  FROM b),
       |a AS (SELECT user_id, band, COUNT(*) AS n,
       |    CAST(COALESCE(SUM(dx * dx), 0) AS BIGINT) AS d2_c100sq,
       |    CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT) AS var_num
       |  FROM l GROUP BY 1, 2)
       |SELECT user_id, band, n, d2_c100sq, var_num,
       |  CASE WHEN var_num > 0 THEN
       |    CAST(n * d2_c100sq AS DOUBLE) / var_num END AS eta_val
       |FROM a ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Theil–Sen robust trend per (object, band): the low-median of all
    * pairwise slopes (x_j − x_i)/(t_j − t_i) over epoch pairs t_i <
    * t_j — the standard outlier-resistant alternative to the OLS
    * trend of [[qLightcurveTrend]] (up to ~29% contaminated epochs
    * cannot move it; Theil 1950 / Sen 1968, the robust proper-motion
    * and secular-trend fit of time-domain pipelines).
    *
    * Cross-engine discipline: each slope is ONE fused IEEE chain
    * (Δxc·8.64e13/Δt_us — milli-centiflux per day) rounded to bigint,
    * so ranking is exact-integer; the median is the DISCRETE rank
    * ⌈n/2⌉ element (row_number = (n+1) DIV 2), never an interpolated
    * average, so no float-midpoint divergence is possible. Ties at
    * the boundary are value-identical by construction.
    *
    * Scale shape: the pair stream is the [[qStructureFunction]]
    * per-group self-join — ONE shuffle on the (object, band) key,
    * pair blow-up quadratic in per-object epoch count (cadence-
    * bounded), linear in the catalog — and the median-rank window
    * partitions by the SAME key, so it sorts within the join's
    * existing partitioning rather than re-shuffling. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = bandedSeries(s, dir)
    val l = b.select($"user_id", $"band", $"tus".as("t1"), $"xc".as("x1"))
    val r = b.select($"user_id", $"band", $"tus".as("t2"), $"xc".as("x2"))
    val slopes = l.join(r, Seq("user_id", "band")).filter($"t1" < $"t2")
      .select($"user_id", $"band",
        round(($"x2" - $"x1").cast("double") * lit(86400000000000.0) /
          ($"t2" - $"t1").cast("double")).cast("long").as("slope_c3"))
    val wg = Window.partitionBy($"user_id", $"band")
    slopes
      .withColumn("rn", row_number().over(wg.orderBy($"slope_c3")))
      .withColumn("n_pairs", count(lit(1)).over(wg))
      .filter($"rn" === expr("(n_pairs + 1) DIV 2"))
      .select($"user_id", $"band", $"n_pairs",
        $"slope_c3".as("ts_slope_c3"),
        ($"slope_c3" / lit(1000.0)).as("slope_val"))
      // r20: pin the |groups|-row median sliver before the
      // presentation sort — orderBy's range sampling re-executed the
      // quadratic pair join + the rank window (they share the final
      // pre-sort stage), doubling the query's real work (guide §2.4)
      .localCheckpoint(true)
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same fused slope chain, same discrete rank. */
  val qTheilSenSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |p AS (SELECT a.user_id, a.band,
       |    CAST(ROUND(CAST(c.xc - a.xc AS DOUBLE) * 86400000000000.0
       |      / CAST(c.tus - a.tus AS DOUBLE)) AS BIGINT) AS slope_c3
       |  FROM b a JOIN b c
       |    ON a.user_id = c.user_id AND a.band = c.band
       |   AND a.tus < c.tus),
       |r AS (SELECT user_id, band, slope_c3,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY slope_c3) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS np
       |  FROM p)
       |SELECT user_id, band, CAST(np AS BIGINT) AS n_pairs,
       |  slope_c3 AS ts_slope_c3, slope_c3 / 1000.0 AS slope_val
       |FROM r WHERE rn = (np + 1) // 2
       |ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Lag window of the discrete correlation function, in visits. */
  private[graft] val DcfMaxLagVisits = 2L

  /** Ensemble discrete cross-correlation function between bands g and
    * r (Edelson & Krolik 1988 — the inter-band lag estimator of AGN
    * reverberation mapping, built for exactly the unevenly-sampled
    * series a survey produces): every per-object (g epoch, r epoch)
    * pair within ±2 visits, binned by its signed visit lag, then one
    * ensemble Pearson correlation per lag bin. A peak off lag 0 is an
    * inter-band delay. Complements [[qCrossbandCorr]], which
    * correlates only SIMULTANEOUS (same-visit) pairs per object.
    *
    * Cross-engine discipline: sums of centi-flux products accumulate
    * EXACT (decimal(30,0) here ≡ DuckDB's hugeint sums — a bigint sum
    * would overflow past ~10⁶ pairs/bin at corpus scale); the
    * correlation is then one FIXED double chain (each exact sum cast
    * once, n·Σxy − Σx·Σy, √den_g·√den_r separately — the
    * [[qCrossbandCorr]] overflow discipline). The signed lag bin
    * truncates on a SHIFTED non-negative dt so Spark's DIV and
    * DuckDB's // agree (they differ on negatives).
    *
    * Scale shape: the pair stream is a per-OBJECT join of the two
    * band slivers — one shuffle on the object key, pair volume linear
    * in epochs × the bounded ±2-visit window (never quadratic in the
    * corpus) — and the reduction is map-side combinable into exactly
    * 2·lag+1 = 5 cells. */
  def qDcf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = bandedSeries(s, dir)
    val g = b.filter($"band" === "g")
      .select($"user_id", $"tus".as("tg"), $"xc".as("xg"))
    val r = b.filter($"band" === "r")
      .select($"user_id", $"tus".as("tr"), $"xc".as("xr"))
    val k = DcfMaxLagVisits
    g.join(r, Seq("user_id"))
      .withColumn("dt", $"tr" - $"tg")
      .filter(abs($"dt") <= lit(k * VisitUs))
      .withColumn("lag_bin",
        expr(s"(dt + ${k * VisitUs}) DIV $VisitUs - $k"))
      .groupBy($"lag_bin")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"xg".cast("decimal(30,0)")).as("sx"),
        sum($"xr".cast("decimal(30,0)")).as("sy"),
        sum(($"xg" * $"xr").cast("decimal(30,0)")).as("sxy"),
        sum(($"xg" * $"xg").cast("decimal(30,0)")).as("sxx"),
        sum(($"xr" * $"xr").cast("decimal(30,0)")).as("syy"))
      .withColumn("num",
        $"n_pairs".cast("double") * $"sxy".cast("double") -
          $"sx".cast("double") * $"sy".cast("double"))
      .withColumn("den_g",
        $"n_pairs".cast("double") * $"sxx".cast("double") -
          $"sx".cast("double") * $"sx".cast("double"))
      .withColumn("den_r",
        $"n_pairs".cast("double") * $"syy".cast("double") -
          $"sy".cast("double") * $"sy".cast("double"))
      .withColumn("dcf_corr",
        when($"n_pairs" >= 2 && $"den_g" > 0 && $"den_r" > 0,
          $"num" / (sqrt($"den_g") * sqrt($"den_r"))))
      .select($"lag_bin", $"n_pairs", $"num", $"den_g", $"den_r",
        $"dcf_corr")
      .orderBy($"lag_bin")
  }

  /** Oracle twin: hugeint-exact sums, the identical double chain. */
  val qDcfSql: String = {
    val k = DcfMaxLagVisits
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |p AS (SELECT (r.tus - g.tus + ${k * VisitUs}) // $VisitUs - $k
       |      AS lag_bin,
       |    g.xc AS xg, r.xc AS xr
       |  FROM b g JOIN b r
       |    ON g.user_id = r.user_id AND g.band = 'g' AND r.band = 'r'
       |   AND ABS(r.tus - g.tus) <= ${k * VisitUs}),
       |a AS (SELECT lag_bin, COUNT(*) AS n_pairs,
       |    SUM(xg) AS sx, SUM(xr) AS sy, SUM(xg*xr) AS sxy,
       |    SUM(xg*xg) AS sxx, SUM(xr*xr) AS syy
       |  FROM p GROUP BY 1)
       |SELECT lag_bin, n_pairs,
       |  CAST(n_pairs AS DOUBLE)*CAST(sxy AS DOUBLE)
       |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
       |  CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE)
       |    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS den_g,
       |  CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS den_r,
       |  CASE WHEN n_pairs >= 2
       |    AND CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) > 0
       |    AND CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) > 0
       |    THEN (CAST(n_pairs AS DOUBLE)*CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
       |      / (SQRT(CAST(n_pairs AS DOUBLE)*CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
       |        * SQRT(CAST(n_pairs AS DOUBLE)*CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
       |  END AS dcf_corr
       |FROM a ORDER BY lag_bin""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Sigma-clipped epoch QA per (object, band) — the calibration
    * outlier census behind every difference-imaging pipeline's
    * flagging pass: an epoch is an outlier when its deviation from
    * the band's median exceeds 3·σ_MAD (the robust clip — a flaring
    * or cosmic-ray epoch cannot inflate its own threshold the way a
    * 3·stddev clip lets it). Reports per (object, band) the robust
    * center/scale and the outlier count + permille — the table a
    * nightly QA report renders directly.
    *
    * Cross-engine discipline: both medians are the DISCRETE rank
    * CEIL(n/2) element ([[qMad]]'s argument), and the clip is pure
    * integer — |x−med|·10⁴ > 44478·MAD encodes 3·1.4826 exactly, so
    * no float enters the hash at all (out_milli is integer DIV).
    *
    * Scale shape: every window, join-back, and the final aggregate
    * key on the SAME (object, band) composite — one partitioning
    * reused end-to-end, 1-row-per-group build sides, per-group
    * sorted state cadence-bounded (the [[qMad]] many-small-groups
    * regime). */
  def qOutlierEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = bandedSeries(s, dir)
    val wg = Window.partitionBy($"user_id", $"band")
    val med = b
      .withColumn("rn", row_number().over(wg.orderBy($"xc", $"event_id")))
      .withColumn("n", count(lit(1)).over(wg))
      .filter($"rn" === expr("CAST(CEIL(0.5 * n) AS BIGINT)"))
      .select($"user_id", $"band", $"xc".as("med_c100"), $"n")
    val withMed = b.join(med, Seq("user_id", "band"))
      .withColumn("ad", abs($"xc" - $"med_c100"))
    val mad = withMed
      .withColumn("rn", row_number().over(wg.orderBy($"ad", $"event_id")))
      .filter($"rn" === expr("CAST(CEIL(0.5 * n) AS BIGINT)"))
      .select($"user_id", $"band", $"ad".as("mad_c100"))
    withMed.join(mad, Seq("user_id", "band"))
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n_epochs"),
        max($"med_c100").as("med_c100"),
        max($"mad_c100").as("mad_c100"),
        sum(when($"ad" * 10000L > lit(44478L) * $"mad_c100", 1L)
          .otherwise(0L)).as("n_out"))
      .withColumn("out_milli", expr("n_out * 1000 DIV n_epochs"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same discrete ranks, same integer clip. */
  val qOutlierEpochsSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |r1 AS (SELECT user_id, band, xc,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY xc, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS n
       |  FROM b),
       |med AS (SELECT user_id, band, xc AS med_c100, n FROM r1
       |  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
       |d AS (SELECT b.user_id, b.band, b.event_id, med.n, med.med_c100,
       |    ABS(b.xc - med.med_c100) AS ad
       |  FROM b JOIN med USING (user_id, band)),
       |r2 AS (SELECT user_id, band, ad,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY ad, event_id) AS rn, n
       |  FROM d),
       |mad AS (SELECT user_id, band, ad AS mad_c100 FROM r2
       |  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
       |a AS (SELECT d.user_id, d.band, COUNT(*) AS n_epochs,
       |    MAX(d.med_c100) AS med_c100, MAX(mad.mad_c100) AS mad_c100,
       |    CAST(SUM(CASE WHEN d.ad * 10000 > 44478 * mad.mad_c100
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_out
       |  FROM d JOIN mad USING (user_id, band) GROUP BY 1, 2)
       |SELECT user_id, band, n_epochs, med_c100, mad_c100, n_out,
       |  CAST(n_out * 1000 // n_epochs AS BIGINT) AS out_milli
       |FROM a ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Brightness-bin width of the repeatability report, in centi-flux. */
  private[graft] val RepeatBinC100 = 2000L

  /** Bin-offset shift (in BINS) that keeps the repeatability bin
    * arithmetic in the non-negative range where Spark's DIV
    * (truncate toward zero) and DuckDB's `//` (floor) agree: the
    * mean flux is computed as (sx + n·shift·binw) DIV n, binned,
    * then the shift is subtracted back. Covers calibrated fluxes
    * down to −2·10⁷ flux units (−2·10⁹ c100) — far below any real
    * sky value — and n·shift·binw stays ≪ 2⁶³ at survey cadence.
    * For non-negative means the result is bit-identical to the
    * unshifted bin; for negative means it is the FLOOR bin (monotone
    * binning — what a brightness axis wants) on both engines. */
  private[graft] val RepeatShiftBins = 1000000L

  /** Photometric repeatability per (band, brightness bin) — the
    * survey-level QA metric behind LSST's PA1 requirement: the
    * ensemble median (and mean) of per-object flux RMS as a function
    * of brightness. The RMS–magnitude relation is the calibration
    * health curve: a floor that rises at the bright end means
    * systematics, a bin whose median jumps means a bad night got in.
    * Per-object stats (σ reduces a light curve to one row) then a
    * SECOND ensemble reduction across objects — the two-level
    * aggregate [[qLightcurveStats]]-family queries never exercise.
    *
    * Cross-engine discipline: per-object sample variance stays exact
    * rational (var_num = n·Σx²−(Σx)², bigint) to one fixed double
    * chain rounded to an integer milli-RMS — so the ENSEMBLE stage
    * (median via discrete rank, mean via integer sum DIV) never sums
    * floats across objects in engine-dependent order. Objects with
    * n < 2 (undefined variance) are excluded.
    *
    * Scale shape: stage 1 is one combinable (object, band) shuffle;
    * stage 2's windows and aggregate all key on (band, bin) over the
    * one-row-per-object REDUCED frame — ensemble work scales with
    * the catalog, not the epoch count. */
  def qRepeatability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val po = bandedSeries(s, dir)
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n"), sum($"xc").as("sx"),
        (count(lit(1)) * sum($"xc" * $"xc") - sum($"xc") * sum($"xc"))
          .as("var_num"))
      .filter($"n" >= 2)
      .withColumn("rms_c3",
        round(sqrt($"var_num".cast("double") /
          ($"n" * ($"n" - 1)).cast("double")) * lit(1000.0)).cast("long"))
      .withColumn("bin", expr(
        s"(sx + n * ${RepeatShiftBins * RepeatBinC100}) DIV n" +
          s" DIV $RepeatBinC100 - $RepeatShiftBins"))
      // one row per (object, band): pin the REDUCED frame so the
      // median and mean branches don't each re-run the corpus
      // aggregate (the multi-consumer localCheckpoint convention)
      .localCheckpoint()
    val wb = Window.partitionBy($"band", $"bin")
    val med = po
      .withColumn("rn", row_number().over(wb.orderBy($"rms_c3", $"user_id")))
      .withColumn("nb", count(lit(1)).over(wb))
      .filter($"rn" === expr("CAST(CEIL(0.5 * nb) AS BIGINT)"))
      .select($"band", $"bin", $"rms_c3".as("median_rms_c3"))
    po.groupBy($"band", $"bin")
      .agg(count(lit(1)).as("n_objects"), sum($"rms_c3").as("srms"))
      .join(med, Seq("band", "bin"))
      .withColumn("mean_rms_c3", expr("srms DIV n_objects"))
      .select($"band", $"bin", $"n_objects", $"median_rms_c3",
        $"mean_rms_c3")
      .orderBy($"band", $"bin")
  }

  /** Oracle twin: same exact rational, same fixed chain, same
    * discrete ensemble rank. */
  val qRepeatabilitySql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |po AS (SELECT user_id, band, COUNT(*) AS n,
       |    CAST(SUM(xc) AS BIGINT) AS sx,
       |    CAST(COUNT(*)*SUM(xc*xc) - SUM(xc)*SUM(xc) AS BIGINT)
       |      AS var_num
       |  FROM b GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |r AS (SELECT band,
       |    (sx + n * ${RepeatShiftBins * RepeatBinC100}) // n
       |      // $RepeatBinC100 - $RepeatShiftBins AS bin, user_id,
       |    CAST(ROUND(SQRT(CAST(var_num AS DOUBLE)
       |      / CAST(n*(n-1) AS DOUBLE)) * 1000.0) AS BIGINT) AS rms_c3
       |  FROM po),
       |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bin
       |      ORDER BY rms_c3, user_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY band, bin) AS nb
       |  FROM r),
       |med AS (SELECT band, bin, rms_c3 AS median_rms_c3 FROM w
       |  WHERE rn = CAST(CEIL(0.5 * nb) AS BIGINT)),
       |a AS (SELECT band, bin, COUNT(*) AS n_objects,
       |    CAST(SUM(rms_c3) AS BIGINT) AS srms
       |  FROM r GROUP BY 1, 2)
       |SELECT band, bin, n_objects, median_rms_c3,
       |  CAST(srms // n_objects AS BIGINT) AS mean_rms_c3
       |FROM a JOIN med USING (band, bin)
       |ORDER BY band, bin""".stripMargin

  // ---------------------------------------------------------------
  /** Offline CUSUM change-point per (object, band) — the transient
    * onset estimator (Page 1954; the standard first pass before a
    * fitted model): the change epoch is the argmax over k of the
    * centered cumulative deviation |Σ_{i≤k} x_i − (k/n)·Σx|, i.e. the
    * epoch where the running sum departs furthest from the constant-
    * rate line. A flat light curve scores near 0; a step (outburst,
    * eclipse onset) scores at the step and dates it.
    *
    * Cross-engine discipline: the deviation is held as the EXACT
    * integer |n·prefix_k − k·total| (scaling by n clears the
    * fraction), the argmax is a discrete rank with the earliest-epoch
    * tie-break, and the reported normalized statistic
    * dev/(n·(n−1)·100) is one IEEE division off the exact integer —
    * nothing order-dependent anywhere.
    *
    * Scale shape: the prefix window, the total, and the argmax rank
    * all key on (object, band) — ONE shuffle, cadence-bounded group
    * state; k < n excludes the vacuous full-series point. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    val w = wg.orderBy($"tus", $"event_id")
    val t = bandedSeries(s, dir)
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pre", sum($"xc").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("tot", sum($"xc").over(wg))
      .filter($"n" >= 2 && $"k" < $"n")
      .withColumn("dev", abs($"n" * $"pre" - $"k" * $"tot"))
    t.withColumn("rn",
        row_number().over(wg.orderBy($"dev".desc, $"k")))
      .filter($"rn" === 1)
      .select($"user_id", $"band", $"n", $"k".as("cp_idx"),
        $"tus".as("cp_tus"), $"dev".as("dev_num"),
        ($"dev".cast("double") /
          (($"n" * ($"n" - 1)).cast("double") * lit(100.0)))
          .as("cusum_stat"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same exact integer deviation, same discrete argmax. */
  val qChangepointSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus, CAST(ROUND(value*100) AS BIGINT) AS xc
       |  FROM events),
       |c AS (SELECT user_id, band, tus,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS BIGINT) AS k,
       |    SUM(xc) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS n,
       |    SUM(xc) OVER (PARTITION BY user_id, band) AS tot
       |  FROM b),
       |d AS (SELECT user_id, band, tus, k, n,
       |    ABS(n * pre - k * tot) AS dev
       |  FROM c WHERE n >= 2 AND k < n),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, band
       |    ORDER BY dev DESC, k) AS rn FROM d)
       |SELECT user_id, band, n, k AS cp_idx, tus AS cp_tus,
       |  CAST(dev AS BIGINT) AS dev_num,
       |  CAST(dev AS DOUBLE)
       |    / (CAST(n * (n - 1) AS DOUBLE) * CAST(100.0 AS DOUBLE))
       |    AS cusum_stat
       |FROM r WHERE rn = 1 ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Observation-cadence QA per (object, band) — the sampling census
    * survey schedulers and period-search pipelines read before
    * trusting any time-domain statistic (a periodogram over two
    * clumps of epochs aliases; a median gap ≫ the target period is
    * blind): epoch count, distinct nights, time span, and the
    * DISCRETE median + max of consecutive-epoch gaps. All integer
    * (micros / day counts); the gap median is the rank-⌈n/2⌉ element
    * of the lag-1 differences, never interpolated.
    *
    * Scale shape: the lag window, the nights distinct, and the final
    * aggregate all key on (object, band) — one shuffle, linear in
    * the series (the [[qEta]] consecutive-difference shape). */
  def qCadence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    val w = wg.orderBy($"tus", $"event_id")
    val t = bandedSeries(s, dir)
      .withColumn("day", expr("tus DIV 86400000000"))
      .withColumn("gap", $"tus" - lag($"tus", 1).over(w))
    val gaps = t.filter($"gap".isNotNull)
      .withColumn("rn", row_number().over(wg.orderBy($"gap", $"event_id")))
      .withColumn("ng", count(lit(1)).over(wg))
      .filter($"rn" === expr("CAST(CEIL(0.5 * ng) AS BIGINT)"))
      .select($"user_id", $"band", $"gap".as("median_gap_us"))
    t.groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n_epochs"),
        countDistinct($"day").as("n_nights"),
        (max($"tus") - min($"tus")).as("span_us"),
        max($"gap").as("max_gap_us"))
      .join(gaps, Seq("user_id", "band"))
      .select($"user_id", $"band", $"n_epochs", $"n_nights", $"span_us",
        $"median_gap_us", $"max_gap_us")
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same lag-1 gaps, same discrete rank. */
  val qCadenceSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus FROM events),
       |g AS (SELECT user_id, band, event_id, tus,
       |    tus // 86400000000 AS day,
       |    tus - LAG(tus) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS gap
       |  FROM b),
       |m AS (SELECT user_id, band, gap AS median_gap_us FROM (
       |    SELECT user_id, band, gap,
       |      ROW_NUMBER() OVER (PARTITION BY user_id, band
       |        ORDER BY gap, event_id) AS rn,
       |      COUNT(*) OVER (PARTITION BY user_id, band) AS ng
       |    FROM g WHERE gap IS NOT NULL)
       |  WHERE rn = CAST(CEIL(0.5 * ng) AS BIGINT)),
       |a AS (SELECT user_id, band, COUNT(*) AS n_epochs,
       |    COUNT(DISTINCT day) AS n_nights,
       |    CAST(MAX(tus) - MIN(tus) AS BIGINT) AS span_us,
       |    CAST(MAX(gap) AS BIGINT) AS max_gap_us
       |  FROM g GROUP BY 1, 2)
       |SELECT user_id, band, n_epochs, n_nights, span_us,
       |  median_gap_us, max_gap_us
       |FROM a JOIN m USING (user_id, band)
       |ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Light-curve skewness per (object, band) — the asymmetry feature
    * that separates eruptive transients (bursts → right-skewed flux)
    * from eclipsing systems (dips → left-skewed) when variance alone
    * cannot; a standard member of the LSST/ZTF variability feature
    * vector alongside [[qEta]], [[qStetson]], and [[qMad]].
    *
    * Exact rational end-to-end: with integer power sums S1, S2, S3,
    * the population skewness reduces to g1 = T3 / V^{3/2} where
    * T3 = n²S3 − 3nS1S2 + 2S1³ and V = nS2 − S1² — both EXACT
    * integers (decimal(38,0) here, hugeint in the oracle — exact
    * over the same values up to 1e38−1, far past any survey-cadence
    * group; S1³ alone overflows a bigint, and the per-row cube casts
    * BEFORE multiplying for the same reason).
    *
    * T3 ≈ n³σ³ in c100 units can exceed 2⁶⁴, where a direct double
    * cast 1-ULP-diverges cross-engine (the q_kurtosis gotcha: DuckDB
    * hugeint→double rounds each 64-bit word, Spark decimal→double
    * rounds once) — so the hashed columns are exact integers only:
    * the sign, |T3| DIV V and |T3| % V (quotient ≤ |g1|·√V ≪ 2⁵³,
    * remainder < V < 2⁶³ at survey cadence — both single-rounding
    * ranges; sign split off because DIV truncates toward zero in
    * Spark but `//` floors in DuckDB, diverging on negative T3).
    * The readable g1 = sgn·(q + r/V)/√V is rebuilt as ONE identical
    * IEEE chain on both sides — full precision, no floor loss.
    *
    * Scale shape: a single combinable (object, band) aggregate —
    * three power sums reduce in one shuffle, nothing else moves. */
  def qSkewness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = "decimal(38,0)"
    bandedSeries(s, dir)
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).cast(d).as("n"),
        sum($"xc".cast(d)).as("s1"),
        sum(($"xc" * $"xc").cast(d)).as("s2"),
        // cast BEFORE the cube: |xc| > ~2.1e6 overflows an int64
        // per-row product even though the aggregate sums are wide
        sum(($"xc".cast(d) * $"xc" * $"xc")).as("s3"))
      .withColumn("t3",
        $"n" * $"n" * $"s3" - lit(3) * $"n" * $"s1" * $"s2" +
          lit(2) * $"s1" * $"s1" * $"s1")
      .withColumn("v", $"n" * $"s2" - $"s1" * $"s1")
      .withColumn("sgn", when($"t3" < 0, lit(-1)).otherwise(lit(1)))
      // the v > 0 guard must wrap the DIV/% themselves (CaseWhen
      // short-circuits per row), or a constant light curve's v = 0
      // divides by zero
      .withColumn("t3q", when($"v" > 0, expr("abs(t3) DIV v")))
      .withColumn("t3r", when($"v" > 0, expr("abs(t3) % v").cast("long")))
      .withColumn("vl", $"v".cast("long"))
      .select($"user_id", $"band", $"n".cast("long").as("n_epochs"),
        $"vl".as("var_num"),
        when($"v" > 0, $"sgn").as("t3_sign"),
        $"t3q", $"t3r",
        when($"v" > 0,
          $"sgn".cast("double") *
            ($"t3q".cast("double") +
              $"t3r".cast("double") / $"vl".cast("double")) /
            sqrt($"vl".cast("double")))
          .as("skew_val"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: hugeint-exact power sums, the identical
    * sign/quotient/remainder split and IEEE rebuild chain. */
  val qSkewnessSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |a AS (SELECT user_id, band, COUNT(*) AS n,
       |    SUM(xc) AS s1, SUM(xc*xc) AS s2,
       |    SUM(CAST(xc AS HUGEINT)*xc*xc) AS s3
       |  FROM b GROUP BY 1, 2),
       |t AS (SELECT user_id, band, n,
       |    n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS t3,
       |    n*s2 - s1*s1 AS v
       |  FROM a),
       |q AS (SELECT user_id, band, n, v,
       |    CAST(CASE WHEN t3 < 0 THEN -1 ELSE 1 END AS INTEGER) AS sgn,
       |    CASE WHEN v > 0 THEN CAST(ABS(t3) // v AS BIGINT) END AS t3q,
       |    CASE WHEN v > 0 THEN CAST(ABS(t3) % v AS BIGINT) END AS t3r,
       |    CAST(v AS BIGINT) AS vl
       |  FROM t)
       |SELECT user_id, band, CAST(n AS BIGINT) AS n_epochs,
       |  CAST(v AS BIGINT) AS var_num,
       |  CASE WHEN v > 0 THEN sgn END AS t3_sign,
       |  CASE WHEN v > 0 THEN t3q END AS t3q,
       |  CASE WHEN v > 0 THEN t3r END AS t3r,
       |  CASE WHEN v > 0 THEN CAST(sgn AS DOUBLE)
       |    * (CAST(t3q AS DOUBLE) + CAST(t3r AS DOUBLE)
       |        / CAST(vl AS DOUBLE))
       |    / SQRT(CAST(vl AS DOUBLE)) END
       |    AS skew_val
       |FROM q ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Light-curve excess kurtosis per (object, band) — [[qSkewness]]'s
    * companion tail-weight feature (the cesium/feets "SmallKurtosis"
    * family without the bias correction): g2 ≈ 0 for Gaussian noise,
    * strongly positive for a quiescent curve with rare flares (heavy
    * tails), negative for a switching/bimodal curve — the axis that
    * separates "flaring" from "oscillating" when skewness is ~0.
    *
    * Same exact-rational discipline: with integer power sums S1..S4,
    * g2 = T4/V² − 3 where T4 = n³S4 − 4n²S1S3 + 6nS1²S2 − 3S1⁴ and
    * V = nS2 − S1², both exact in decimal(38,0)/hugeint (xc⁴ alone
    * can overflow an int64 per row — cast BEFORE multiplying). T4
    * itself exceeds 2⁶⁴, where DuckDB's hugeint→double conversion
    * double-rounds (upper word, then lower) while Spark's decimal→
    * double rounds once — a 1-ULP hash divergence — so the hashed
    * value is the EXACT integer quotient T4 DIV V = (g2+3)·V, a
    * bigint wherever V is (V ≈ n²σ² stays well under 2⁶³ at survey
    * cadence, though NOT under 2⁵³ at extreme group sizes — a future
    * consumer hashing a quotient as DOUBLE must re-check its range)
    * and the one IEEE chain divides that by V. The floor moves g2 by
    * < 1/V ≈ 1e-10 — far below the feature's noise.
    *
    * Scale shape: one combinable (object, band) aggregate — four
    * power sums, one shuffle. */
  def qKurtosis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = "decimal(38,0)"
    bandedSeries(s, dir)
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).cast(d).as("n"),
        sum($"xc".cast(d)).as("s1"),
        sum(($"xc" * $"xc").cast(d)).as("s2"),
        sum(($"xc".cast(d) * $"xc" * $"xc")).as("s3"),
        sum(($"xc".cast(d) * $"xc" * $"xc" * $"xc")).as("s4"))
      .withColumn("t4",
        $"n" * $"n" * $"n" * $"s4" -
          lit(4) * $"n" * $"n" * $"s1" * $"s3" +
          lit(6) * $"n" * $"s1" * $"s1" * $"s2" -
          lit(3) * $"s1" * $"s1" * $"s1" * $"s1")
      .withColumn("v", $"n" * $"s2" - $"s1" * $"s1")
      .withColumn("t4v", when($"v" > 0, expr("t4 DIV v")))
      .select($"user_id", $"band", $"n".cast("long").as("n_epochs"),
        $"v".cast("long").as("var_num"), $"t4v",
        when($"v" > 0,
          $"t4v".cast("double") / $"v".cast("double") - lit(3.0))
          .as("kurt_val"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: hugeint power sums, the identical chain. */
  val qKurtosisSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |a AS (SELECT user_id, band, COUNT(*) AS n,
       |    SUM(xc) AS s1, SUM(xc*xc) AS s2,
       |    SUM(CAST(xc AS HUGEINT)*xc*xc) AS s3,
       |    SUM(CAST(xc AS HUGEINT)*xc*xc*xc) AS s4
       |  FROM b GROUP BY 1, 2),
       |t AS (SELECT user_id, band, n,
       |    n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS t4,
       |    n*s2 - s1*s1 AS v
       |  FROM a)
       |SELECT user_id, band, CAST(n AS BIGINT) AS n_epochs,
       |  CAST(v AS BIGINT) AS var_num,
       |  CASE WHEN v > 0 THEN CAST(t4 // v AS BIGINT) END AS t4v,
       |  CASE WHEN v > 0 THEN CAST(t4 // v AS DOUBLE)
       |    / CAST(v AS DOUBLE) - CAST(3.0 AS DOUBLE) END
       |    AS kurt_val
       |FROM t ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Robust variability amplitude per (object, band) — half the
    * spread between the 5th and 95th flux percentiles (the cesium/
    * feets "Amplitude" feature, defined against percentiles exactly
    * so two bad epochs cannot fake a variable): amp = (P95 − P5)/2,
    * plus the median-relative amplitude ratio in exact permille.
    * The raw max−min amplitude (q_lightcurve_band's amp_c100) is one
    * cosmic ray away from meaningless; this one is not.
    *
    * Cross-engine discipline: P5/P95/P50 are all DISCRETE rank
    * elements (CEIL(q·n), the house percentile), so every output is
    * exact integer except the one halving — kept as the exact
    * integer numerator amp2 = P95−P5 with the readable amp_val its
    * single IEEE half.
    *
    * Scale shape: one (object, band) rank window serves all three
    * percentiles (three filters over the same sorted pass), then a
    * self-join-free conditional aggregate — one shuffle total. */
  def qAmplitude(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    bandedSeries(s, dir)
      .withColumn("rn", row_number().over(wg.orderBy($"xc", $"event_id")))
      .withColumn("n", count(lit(1)).over(wg))
      .groupBy($"user_id", $"band")
      .agg(max($"n").as("n_epochs"),
        max(when($"rn" === expr("CAST(CEIL(0.05 * n) AS BIGINT)"), $"xc"))
          .as("p05_c100"),
        max(when($"rn" === expr("CAST(CEIL(0.5 * n) AS BIGINT)"), $"xc"))
          .as("med_c100"),
        max(when($"rn" === expr("CAST(CEIL(0.95 * n) AS BIGINT)"), $"xc"))
          .as("p95_c100"))
      .withColumn("amp2_c100", $"p95_c100" - $"p05_c100")
      .withColumn("amp_val", $"amp2_c100" / lit(2.0))
      .withColumn("amp_milli",
        when($"med_c100" > 0, expr("amp2_c100 * 1000 DIV (2 * med_c100)")))
      .select($"user_id", $"band", $"n_epochs", $"p05_c100",
        $"med_c100", $"p95_c100", $"amp2_c100", $"amp_val",
        $"amp_milli")
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same single sorted pass, same discrete ranks. */
  val qAmplitudeSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |r AS (SELECT user_id, band, xc,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY xc, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS n
       |  FROM b),
       |a AS (SELECT user_id, band, MAX(n) AS n_epochs,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
       |      THEN xc END) AS p05_c100,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
       |      THEN xc END) AS med_c100,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
       |      THEN xc END) AS p95_c100
       |  FROM r GROUP BY 1, 2)
       |SELECT user_id, band, CAST(n_epochs AS BIGINT) AS n_epochs,
       |  p05_c100, med_c100, p95_c100,
       |  CAST(p95_c100 - p05_c100 AS BIGINT) AS amp2_c100,
       |  CAST(p95_c100 - p05_c100 AS DOUBLE) / CAST(2.0 AS DOUBLE)
       |    AS amp_val,
       |  CASE WHEN med_c100 > 0 THEN
       |    CAST((p95_c100 - p05_c100) * 1000 // (2 * med_c100) AS BIGINT)
       |  END AS amp_milli
       |FROM a ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Per-object packed light curves — the sequence-model EXPORT shape
    * (one row per object, time/flux as parallel arrays sorted by
    * epoch) that a training pipeline writes before feeding
    * transformers/RNNs, and the per-object materialization Pserv's
    * light-curve retrieval ultimately serves. The pack is
    * deterministic end-to-end: epochs sort by (tus, event_id) — the
    * unique tie-break — via `sort_array` over structs, so the arrays
    * are identical regardless of shuffle arrival order.
    *
    * Scale shape: ONE shuffle on the object key; per-group state is
    * the object's own cadence-bounded epoch list (the export
    * operator's inherent working set — same bound every per-object
    * window query already relies on), never corpus-sized. At 100 TB
    * this frame writes straight out partitioned by an object-bucket
    * column; nothing aggregates across objects. */
  private[graft] def lightcurvePack(ser: DataFrame): DataFrame = {
    val s = ser.sparkSession
    import s.implicits._
    // anonymous (null-keyed) events are not a light curve; filtering
    // them also dodges the cross-engine NULLS FIRST/LAST sort split
    ser.filter($"user_id".isNotNull).groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_epochs"),
        min($"tus").as("t_first"),
        max($"tus").as("t_last"),
        sort_array(collect_list(struct($"tus", $"event_id", $"xc")))
          .as("pts"))
      .select($"user_id", $"n_epochs", $"t_first", $"t_last",
        expr("transform(pts, p -> p.tus)").as("t_us"),
        expr("transform(pts, p -> p.xc)").as("x_c100"))
  }

  /** Harness entry over [[lightcurvePack]]: the arrays enter the
    * cross-engine hash as ONE md5 content signature over the packed
    * "tus:xc" stream (array cells themselves canonicalize differently
    * across parquet/duckdb readers; the signature pins the exact
    * content AND order), alongside the readable scalars. TimeSeries
    * spec asserts the array cells directly against a driver-side
    * recompute.
    *
    * Bench watch: regresses if the sort_array pack stops being one
    * object-key shuffle. */
  def qLightcurvePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lightcurvePack(series(s, dir))
      .select($"user_id", $"n_epochs", $"t_first", $"t_last",
        md5(concat_ws(",",
          expr("zip_with(t_us, x_c100, (t, x) -> concat(t, ':', x))")))
          .as("series_sig"))
      .orderBy($"user_id")
  }

  /** Oracle twin: string_agg over the same (tus, event_id) order
    * builds the identical packed stream. */
  val qLightcurvePackSql: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
      |    CAST(ROUND(value*100) AS BIGINT) AS xc
      |  FROM events WHERE user_id IS NOT NULL)
      |SELECT user_id, COUNT(*) AS n_epochs,
      |  MIN(tus) AS t_first, MAX(tus) AS t_last,
      |  md5(string_agg(tus || ':' || xc, ',' ORDER BY tus, event_id))
      |    AS series_sig
      |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  /** Fraction of epochs beyond one standard deviation of the mean,
    * per (object, band) — the cesium/feets "beyond1std" variability
    * feature: Gaussian noise leaves ~32% of epochs outside ±1σ, a
    * flaring or eclipsing source far more (its excursions are real),
    * a heavily clipped pipeline far fewer. The σ test is EXACT
    * integer arithmetic, no sqrt: |x − x̄| > σ̂ squared and cleared of
    * denominators is (n−1)·(n·x − Σx)² > n·(n·Σx² − (Σx)²), carried
    * in decimal(38,0)/HUGEINT because the SQUARE overflows int64 at
    * survey bounds ((2n·x_max)² ≈ 4·10²⁰ at n = 10⁴, x_max = 10⁶
    * c100; the decimal comparison is exact in both engines and never
    * leaves the plan — only the counts are output). A constant
    * series (zero variance) and the n = 1 edge yield strict-False on
    * every row — zero beyond, by definition, not by guard.
    *
    * Scale shape: one (object, band) shuffle; the three group sums
    * ride one unordered window over it (cadence-bounded partitions),
    * the flag is a per-row codegen comparison, and the final count
    * reuses the same partitioning.
    *
    * Bench watch: regresses if a second exchange ever appears between
    * window and aggregate. */
  def qBeyond1std(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    bandedSeries(s, dir)
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("sx", sum($"xc").over(wg))
      .withColumn("sxx", sum($"xc" * $"xc").over(wg))
      .withColumn("dev", ($"n" * $"xc" - $"sx").cast("decimal(38,0)"))
      .withColumn("lhs", ($"n" - 1).cast("decimal(38,0)") * $"dev" * $"dev")
      .withColumn("rhs", $"n".cast("decimal(38,0)") *
        ($"n".cast("decimal(38,0)") * $"sxx".cast("decimal(38,0)") -
          $"sx".cast("decimal(38,0)") * $"sx".cast("decimal(38,0)")))
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n_epochs"),
        sum(when($"lhs" > $"rhs", 1L).otherwise(0L)).as("n_beyond"))
      .withColumn("beyond_permille",
        expr("n_beyond * 1000 DIV n_epochs"))
      .withColumn("beyond_frac",
        $"n_beyond" / $"n_epochs".cast("double"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: HUGEINT clears of denominators, identical counts. */
  val qBeyond1stdSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |w AS (SELECT user_id, band, xc,
       |    COUNT(*) OVER pw AS n, SUM(xc) OVER pw AS sx,
       |    SUM(xc*xc) OVER pw AS sxx
       |  FROM b WINDOW pw AS (PARTITION BY user_id, band)),
       |c AS (SELECT user_id, band,
       |    CASE WHEN CAST(n - 1 AS HUGEINT)
       |        * CAST(n*xc - sx AS HUGEINT) * CAST(n*xc - sx AS HUGEINT)
       |      > CAST(n AS HUGEINT)
       |        * (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)
       |    THEN 1 ELSE 0 END AS is_beyond
       |  FROM w)
       |SELECT user_id, band, COUNT(*) AS n_epochs,
       |  CAST(SUM(is_beyond) AS BIGINT) AS n_beyond,
       |  CAST(SUM(is_beyond) * 1000 // COUNT(*) AS BIGINT)
       |    AS beyond_permille,
       |  CAST(SUM(is_beyond) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS beyond_frac
       |FROM c GROUP BY 1, 2 ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Range of cumulative sums (Rcs, Kim et al. 2011's Q1 statistic)
    * per (object, band): the spread of the running sum of mean
    * residuals, the classic detector of one-sided excursions
    * (a single flare or a slow trend drives the cumulative walk far
    * from zero; symmetric noise keeps it near zero). n-SCALED to stay
    * exact: T_k = n·Σ_{i≤k}x_i − k·Σx = n·S_k where S_k is the usual
    * residual cumsum, so rcs_num = max T − min T is an exact int64
    * (|T_k| ≤ 2n·Σ|x| ≈ 2·10¹⁴ at survey bounds) and the readable
    * Rcs = rcs_num / (n²·σ̂) is one fixed IEEE chain over it and the
    * int64 variance numerator (same documented bound as
    * q_lightcurve_stats' var_num).
    *
    * Scale shape: ONE (object, band) shuffle — the ordered cumsum
    * window, the unordered group sums, and the final max/min
    * aggregate all share its sort/partitioning; per-group state is
    * the cadence-bounded series every per-object window query
    * already holds.
    *
    * Bench watch: regresses if a second exchange ever appears between
    * window and aggregate. */
  def qRcs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    val wo = wg.orderBy($"tus", $"event_id")
    bandedSeries(s, dir)
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("sx", sum($"xc").over(wg))
      .withColumn("sxx", sum($"xc" * $"xc").over(wg))
      .withColumn("cum", sum($"xc").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", row_number().over(wo))
      .withColumn("t_k", $"n" * $"cum" - $"k" * $"sx")
      .groupBy($"user_id", $"band")
      .agg(max($"n").as("n_epochs"),
        (max($"t_k") - min($"t_k")).as("rcs_num"),
        (max($"n") * max($"sxx") - max($"sx") * max($"sx"))
          .as("var_num"))
      .withColumn("rcs_val",
        when($"var_num" > 0 && $"n_epochs" > 1,
          $"rcs_num".cast("double") /
            ($"n_epochs".cast("double") * $"n_epochs".cast("double") *
              sqrt($"var_num".cast("double") /
                ($"n_epochs" * ($"n_epochs" - 1)).cast("double")))))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: identical n-scaled walk, identical IEEE readout. */
  val qRcsSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |w AS (SELECT user_id, band,
       |    COUNT(*) OVER pw AS n, SUM(xc) OVER pw AS sx,
       |    SUM(xc*xc) OVER pw AS sxx,
       |    SUM(xc) OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY tus, event_id) AS k
       |  FROM b WINDOW pw AS (PARTITION BY user_id, band)),
       |a AS (SELECT user_id, band, MAX(n) AS n_epochs,
       |    CAST(MAX(n*cum - k*sx) - MIN(n*cum - k*sx) AS BIGINT)
       |      AS rcs_num,
       |    CAST(MAX(n)*MAX(sxx) - MAX(sx)*MAX(sx) AS BIGINT) AS var_num
       |  FROM w GROUP BY 1, 2)
       |SELECT user_id, band, CAST(n_epochs AS BIGINT) AS n_epochs,
       |  rcs_num, var_num,
       |  CASE WHEN var_num > 0 AND n_epochs > 1 THEN
       |    CAST(rcs_num AS DOUBLE)
       |      / (CAST(n_epochs AS DOUBLE) * CAST(n_epochs AS DOUBLE)
       |        * SQRT(CAST(var_num AS DOUBLE)
       |          / CAST(n_epochs * (n_epochs - 1) AS DOUBLE)))
       |  END AS rcs_val
       |FROM a ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Maximum absolute inter-epoch slope per (object, band) — the
    * cesium/feets "max_slope" feature, the cheapest flare/glitch
    * discriminator: |Δflux/Δt| over CONSECUTIVE epochs, reported in
    * c100 per minute. Each slope is one fixed IEEE tree over two
    * exact int64 deltas (multiply by the unit constant, then one
    * division — identical order both engines), and max over doubles
    * is order-free, so the readout hashes. Same-timestamp pairs
    * (Δt = 0, possible under the synthetic cadence) are excluded on
    * both sides — a slope across zero time is undefined, not
    * infinite.
    *
    * Scale shape: one (object, band) shuffle; lead() and the final
    * aggregate share its sort, pairs are linear in epochs (the
    * consecutive stream, never a self-join).
    *
    * Bench watch: regresses if a second exchange ever appears between
    * window and aggregate. */
  def qMaxSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wo = Window.partitionBy($"user_id", $"band")
      .orderBy($"tus", $"event_id")
    bandedSeries(s, dir)
      .withColumn("x2", lead($"xc", 1).over(wo))
      .withColumn("t2", lead($"tus", 1).over(wo))
      .filter($"x2".isNotNull && $"t2" > $"tus")
      .withColumn("slope", abs(
        ($"x2" - $"xc").cast("double") * lit(60000000.0) /
          ($"t2" - $"tus").cast("double")))
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n_pairs"),
        max($"slope").as("max_slope_c100_min"))
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: identical lead pairing, identical slope tree. */
  val qMaxSlopeSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    epoch_us(ts) AS tus,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |p AS (SELECT user_id, band, tus, xc,
       |    LEAD(xc) OVER po AS x2, LEAD(tus) OVER po AS t2
       |  FROM b WINDOW po AS (PARTITION BY user_id, band
       |    ORDER BY tus, event_id))
       |SELECT user_id, band, COUNT(*) AS n_pairs,
       |  MAX(ABS(CAST(x2 - xc AS DOUBLE) * 60000000.0
       |    / CAST(t2 - tus AS DOUBLE))) AS max_slope_c100_min
       |FROM p WHERE x2 IS NOT NULL AND t2 > tus
       |GROUP BY 1, 2 ORDER BY user_id, band""".stripMargin

  // ---------------------------------------------------------------
  /** Flux percentile ratios per (object, band) — the cesium/feets
    * "flux_percentile_ratio" family (mid50 = (P62.5−P37.5)/(P95−P5),
    * mid80 = (P90−P10)/(P95−P5)): shape discriminators that separate
    * eclipsers (flux concentrated at one level, small mid ratios)
    * from sinusoids (flux spread evenly, large ones) independent of
    * amplitude. All six percentiles are DISCRETE rank elements
    * (CEIL(q·n), the q_amplitude house percentile) off ONE sorted
    * pass, the ratio numerators/denominator are exact integers, and
    * each readable ratio is a single IEEE division over them.
    *
    * Scale shape: identical to q_amplitude — one (object, band) rank
    * window serves all six percentiles, then a self-join-free
    * conditional aggregate; one shuffle total.
    *
    * Bench watch: regresses if a second exchange ever appears between
    * window and aggregate. */
  def qFluxRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wg = Window.partitionBy($"user_id", $"band")
    def atRank(q: String) =
      max(when($"rn" === expr(s"CAST(CEIL($q * n) AS BIGINT)"), $"xc"))
    bandedSeries(s, dir)
      .withColumn("rn", row_number().over(wg.orderBy($"xc", $"event_id")))
      .withColumn("n", count(lit(1)).over(wg))
      .groupBy($"user_id", $"band")
      .agg(max($"n").as("n_epochs"),
        atRank("0.05").as("p05_c100"), atRank("0.10").as("p10_c100"),
        atRank("0.375").as("p375_c100"), atRank("0.625").as("p625_c100"),
        atRank("0.90").as("p90_c100"), atRank("0.95").as("p95_c100"))
      .withColumn("mid50_num", $"p625_c100" - $"p375_c100")
      .withColumn("mid80_num", $"p90_c100" - $"p10_c100")
      .withColumn("den", $"p95_c100" - $"p05_c100")
      .withColumn("fpr_mid50",
        when($"den" > 0, $"mid50_num".cast("double") / $"den".cast("double")))
      .withColumn("fpr_mid80",
        when($"den" > 0, $"mid80_num".cast("double") / $"den".cast("double")))
      .select($"user_id", $"band", $"n_epochs", $"mid50_num",
        $"mid80_num", $"den", $"fpr_mid50", $"fpr_mid80")
      .orderBy($"user_id", $"band")
  }

  /** Oracle twin: same single sorted pass, same discrete ranks. */
  val qFluxRatioSql: String =
    s"""WITH b AS (SELECT user_id, $BandCaseSql AS band, event_id,
       |    CAST(ROUND(value*100) AS BIGINT) AS xc FROM events),
       |r AS (SELECT user_id, band, xc,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, band
       |      ORDER BY xc, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id, band) AS n
       |  FROM b),
       |a AS (SELECT user_id, band, MAX(n) AS n_epochs,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
       |      THEN xc END) AS p05,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.10 * n) AS BIGINT)
       |      THEN xc END) AS p10,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.375 * n) AS BIGINT)
       |      THEN xc END) AS p375,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.625 * n) AS BIGINT)
       |      THEN xc END) AS p625,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT)
       |      THEN xc END) AS p90,
       |    MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
       |      THEN xc END) AS p95
       |  FROM r GROUP BY 1, 2)
       |SELECT user_id, band, CAST(n_epochs AS BIGINT) AS n_epochs,
       |  CAST(p625 - p375 AS BIGINT) AS mid50_num,
       |  CAST(p90 - p10 AS BIGINT) AS mid80_num,
       |  CAST(p95 - p05 AS BIGINT) AS den,
       |  CASE WHEN p95 - p05 > 0 THEN CAST(p625 - p375 AS DOUBLE)
       |    / CAST(p95 - p05 AS DOUBLE) END AS fpr_mid50,
       |  CASE WHEN p95 - p05 > 0 THEN CAST(p90 - p10 AS DOUBLE)
       |    / CAST(p95 - p05 AS DOUBLE) END AS fpr_mid80
       |FROM a ORDER BY user_id, band""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lightcurve_pack" -> (qLightcurvePack _),
    "q_beyond1std" -> (qBeyond1std _),
    "q_rcs" -> (qRcs _),
    "q_max_slope" -> (qMaxSlope _),
    "q_flux_ratio" -> (qFluxRatio _),
    "q_lightcurve_stats" -> (qLightcurveStats _),
    "q_variability_class" -> (qVariabilityClass _),
    "q_lightcurve_delta" -> (qLightcurveDelta _),
    "q_sessionize" -> (qSessionize _),
    "q_time_bucket" -> (qTimeBucket _),
    "q_event_json" -> (qEventJson _),
    "q_range_nbr" -> (qRangeNbr _),
    "q_anomaly" -> (qAnomaly _),
    "q_gap_fill" -> (qGapFill _),
    "q_scd2" -> (qScd2 _),
    "q_window_range" -> (qWindowRange _),
    "q_first_last" -> (qFirstLast _),
    "q_object_lookup" -> (qObjectLookup _),
    "q_object_lookup_many" -> (qObjectLookupMany _),
    "q_lomb_scargle" -> (qLombScargle _),
    "q_gls_fstat" -> (qGlsFstat _),
    "q_coadd_flux" -> (qCoaddFlux _),
    "q_lomb_scargle_band" -> (qLombScargleBand _),
    "q_multiband_gls" -> (qMultibandGls _),
    "q_phase_coverage" -> (qPhaseCoverage _),
    "q_harmonic_fit" -> (qHarmonicFit _),
    "q_periodic_candidates" -> (qPeriodicCandidates _),
    "q_streaks" -> (qStreaks _),
    "q_ema" -> (qEma _),
    "q_transitions" -> (qTransitions _),
    "q_running_distinct" -> (qRunningDistinct _),
    "q_attribution" -> (qAttribution _),
    "q_autocorr" -> (qAutocorr _),
    "q_hopping" -> (qHopping _),
    "q_lightcurve_trend" -> (qLightcurveTrend _),
    "q_periodogram" -> (qPeriodogram _),
    "q_period_fold" -> (qPeriodFold _),
    "q_bls" -> (qBls _),
    "q_transit_candidates" -> (qTransitCandidates _),
    "q_secondary_eclipse" -> (qSecondaryEclipse _),
    "q_lafler_kinman" -> (qLaflerKinman _),
    "q_ce_period" -> (qCePeriod _),
    "q_lightcurve_band" -> (qLightcurveBand _),
    "q_lightcurve_band_stored" -> (qLightcurveBandStored _),
    "q_color_index" -> (qColorIndex _),
    "q_structure_function" -> (qStructureFunction _),
    "q_visit_calib" -> (qVisitCalib _),
    "q_proper_motion" -> (qProperMotion _),
    "q_parallax" -> (qParallax _),
    "q_astrom_chi2" -> (qAstromChi2 _),
    "q_transit_recovery" -> (qTransitRecovery _),
    "q_transit_recovery_sampled" -> (qTransitRecoverySampled _),
    "q_lc_stream_batches" -> (qLcStreamBatches _),
    "q_eb_recovery" -> (qEbRecovery _),
    "q_eb_recovery_sampled" -> (qEbRecoverySampled _),
    "q_mad" -> (qMad _),
    "q_crossband_corr" -> (qCrossbandCorr _),
    "q_value_drift" -> (qValueDrift _),
    "q_stetson" -> (qStetson _),
    "q_eta" -> (qEta _),
    "q_theil_sen" -> (qTheilSen _),
    "q_dcf" -> (qDcf _),
    "q_outlier_epochs" -> (qOutlierEpochs _),
    "q_repeatability" -> (qRepeatability _),
    "q_changepoint" -> (qChangepoint _),
    "q_cadence" -> (qCadence _),
    "q_skewness" -> (qSkewness _),
    "q_kurtosis" -> (qKurtosis _),
    "q_amplitude" -> (qAmplitude _))

  val oracles: Map[String, String] = Map(
    "q_lightcurve_pack" -> qLightcurvePackSql,
    "q_lightcurve_stats" -> qLightcurveStatsSql,
    "q_variability_class" -> qVariabilityClassSql,
    "q_lightcurve_delta" -> qLightcurveDeltaSql,
    "q_sessionize" -> qSessionizeSql,
    "q_time_bucket" -> qTimeBucketSql,
    "q_event_json" -> qEventJsonSql,
    "q_range_nbr" -> qRangeNbrSql,
    "q_anomaly" -> qAnomalySql,
    "q_gap_fill" -> qGapFillSql,
    "q_scd2" -> qScd2Sql,
    "q_window_range" -> qWindowRangeSql,
    "q_first_last" -> qFirstLastSql,
    "q_object_lookup" -> qObjectLookupSql,
    "q_object_lookup_many" -> qObjectLookupManySql,
    "q_lomb_scargle" -> qLombScargleSql,
    "q_gls_fstat" -> qGlsFstatSql,
    "q_coadd_flux" -> qCoaddFluxSql,
    "q_lomb_scargle_band" -> qLombScargleBandSql,
    "q_multiband_gls" -> qMultibandGlsSql,
    "q_beyond1std" -> qBeyond1stdSql,
    "q_rcs" -> qRcsSql,
    "q_max_slope" -> qMaxSlopeSql,
    "q_flux_ratio" -> qFluxRatioSql,
    "q_periodic_candidates" -> qPeriodicCandidatesSql,
    "q_phase_coverage" -> qPhaseCoverageSql,
    "q_harmonic_fit" -> qHarmonicFitSql,
    "q_streaks" -> qStreaksSql,
    "q_ema" -> qEmaSql,
    "q_transitions" -> qTransitionsSql,
    "q_running_distinct" -> qRunningDistinctSql,
    "q_attribution" -> qAttributionSql,
    "q_autocorr" -> qAutocorrSql,
    "q_hopping" -> qHoppingSql,
    "q_lightcurve_trend" -> qLightcurveTrendSql,
    "q_periodogram" -> qPeriodogramSql,
    "q_period_fold" -> qPeriodFoldSql,
    "q_bls" -> qBlsSql,
    "q_transit_candidates" -> qTransitCandidatesSql,
    "q_secondary_eclipse" -> qSecondaryEclipseSql,
    "q_lightcurve_band_stored" -> qLightcurveBandStoredSql,
    "q_lafler_kinman" -> qLaflerKinmanSql,
    "q_ce_period" -> qCePeriodSql,
    "q_lightcurve_band" -> qLightcurveBandSql,
    "q_color_index" -> qColorIndexSql,
    "q_structure_function" -> qStructureFunctionSql,
    "q_visit_calib" -> qVisitCalibSql,
    "q_proper_motion" -> qProperMotionSql,
    "q_parallax" -> qParallaxSql,
    "q_astrom_chi2" -> qAstromChi2Sql,
    "q_transit_recovery" -> qTransitRecoverySql,
    "q_transit_recovery_sampled" -> qTransitRecoverySampledSql,
    "q_lc_stream_batches" -> qLcStreamBatchesSql,
    "q_eb_recovery" -> qEbRecoverySql,
    "q_eb_recovery_sampled" -> qEbRecoverySampledSql,
    "q_mad" -> qMadSql,
    "q_crossband_corr" -> qCrossbandCorrSql,
    "q_value_drift" -> qValueDriftSql,
    "q_stetson" -> qStetsonSql,
    "q_eta" -> qEtaSql,
    "q_theil_sen" -> qTheilSenSql,
    "q_dcf" -> qDcfSql,
    "q_outlier_epochs" -> qOutlierEpochsSql,
    "q_repeatability" -> qRepeatabilitySql,
    "q_changepoint" -> qChangepointSql,
    "q_cadence" -> qCadenceSql,
    "q_skewness" -> qSkewnessSql,
    "q_kurtosis" -> qKurtosisSql,
    "q_amplitude" -> qAmplitudeSql)
}
