package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RankSplit

/** Data-quality surface over the catalog — the profiling and
  * constraint-validation pass an ingest pipeline runs before it
  * trusts a table (the reference validates its bulk-loads by
  * row-count and spot-query; at warehouse scale this generalizes to
  * per-column profiles and declared-rule checks, cf. Deequ's
  * published design).
  *
  * Both queries are single-scan shapes: the profile is ONE aggregate
  * over the table (plus Spark's Expand for the exact multi-column
  * distinct counts), the constraint check is one aggregate plus one
  * anti-join for the referential rule. At 100 TB the exact distinct
  * columns would switch to the HLL sketch path (`q_sketch_distinct`)
  * — the exact version here is the oracle-checkable contract.
  */
object Quality {

  /** Orders projected to type-normalized profile columns: doubles to
    * exact c100 bigints, timestamps to integer micros, so min/max
    * render identically as strings in both engines. */
  private def o(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey".as("okey"),
      $"o_custkey".as("cust"),
      $"o_orderstatus".as("status"),
      round($"o_totalprice" * 100).cast("long").as("price_c100"),
      // o_orderdate lands as TIMESTAMP_NTZ; the session TZ is pinned
      // UTC, so the NTZ→TZ cast is the identity and unix_micros
      // equals DuckDB's epoch_us on the same naive value
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("odate_us"),
      $"o_orderpriority".as("prio"))
  }

  // ---------------------------------------------------------------
  /** Per-column profile of `orders`: total rows, null count, exact
    * distinct count, and min/max (stringified — bigint→string is
    * deterministic in both engines) — one long-format row per column. */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("okey", "cust", "status", "price_c100", "odate_us", "prio")
    // One branch per column, unioned (r19 opt round): the previous
    // single aggregate carried SIX exact-distinct columns, which Spark
    // plans as an Expand ×7 (one replica per distinct group) — every
    // order row multiplied sevenfold through a two-level aggregate.
    // Per-column branches each plan the cheap single-distinct shape
    // (two-level aggregate, NO Expand), scan exactly one column
    // (columnar pruning — total I/O equals the old one-scan plan), and
    // run as independent branches of one job. Values, names, types and
    // row order are identical. Measured isolated sf0.1: 4.7 → 1.8 s.
    val base = o(s, dir)
    cols.map { c =>
      base.agg(count(lit(1)).as("n_total"),
        count(col(c)).as("nn"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_s"),
        max(col(c)).cast("string").as("max_s"))
        .select(lit(c).as("col_name"), $"n_total",
          ($"n_total" - $"nn").as("n_null"), $"n_distinct",
          $"min_s", $"max_s")
    }.reduce(_ unionByName _).orderBy($"col_name")
  }

  val qProfileSql: String = {
    val cols = Seq("okey", "cust", "status", "price_c100", "odate_us", "prio")
    val selects = cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_total,
         |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
         |FROM o""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH o AS (SELECT o_orderkey AS okey, o_custkey AS cust,
       |  o_orderstatus AS status,
       |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c100,
       |  epoch_us(o_orderdate) AS odate_us, o_orderpriority AS prio
       |  FROM orders)
       |$selects
       |ORDER BY col_name""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Declared-rule constraint check: one row per rule with its
    * violation count — the accept/reject gate of an ingest job
    * (domain, range, null, uniqueness, and referential integrity).
    * The four row-local rules share ONE scan (a single aggregate);
    * the referential rule is the usual anti-join on the key. */
  def qConstraints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val local = o(s, dir).agg(
      sum(when($"price_c100" < 0, 1L).otherwise(0L)).as("v_price_nonneg"),
      sum(when(!$"status".isin("O", "F", "P"), 1L).otherwise(0L)).as("v_status_domain"),
      sum(when($"cust".isNull, 1L).otherwise(0L)).as("v_cust_notnull"),
      (count(lit(1)) - countDistinct($"okey")).as("v_orderkey_unique"))
      .selectExpr("stack(4, " +
        "'price_nonneg', v_price_nonneg, " +
        "'status_domain', v_status_domain, " +
        "'cust_notnull', v_cust_notnull, " +
        "'orderkey_unique', v_orderkey_unique) AS (rule, n_violations)")
    val orphan = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        $"o_custkey" === $"c_custkey", "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("cust_referential").as("rule"), $"n_violations")
    local.unionByName(orphan).orderBy($"rule")
  }

  val qConstraintsSql: String =
    """WITH o AS (SELECT o_orderkey AS okey, o_custkey AS cust,
      |  o_orderstatus AS status,
      |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c100
      |  FROM orders)
      |SELECT 'price_nonneg' AS rule,
      |  CAST(SUM(CASE WHEN price_c100 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM o
      |UNION ALL
      |SELECT 'status_domain',
      |  CAST(SUM(CASE WHEN status NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM o
      |UNION ALL
      |SELECT 'cust_notnull',
      |  CAST(SUM(CASE WHEN cust IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM o
      |UNION ALL
      |SELECT 'orderkey_unique', COUNT(*) - COUNT(DISTINCT okey) FROM o
      |UNION ALL
      |SELECT 'cust_referential', COUNT(*) FROM orders o2
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o2.o_custkey)
      |ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------
  /** Hashed-feature linear classifier (the fastText-shaped quality
    * filter of DCLM/FineWeb-style pipelines): every token hashes to a
    * signed integer weight, the doc's score is the sum, and the gate
    * keeps docs scoring above a mean-per-token threshold. Here the
    * "model" is a pure hash function — weight(w) = ascii of md5(w)'s
    * first hex char, centered at its expectation (70 = mean ascii of
    * a uniform hex digit: (48..57, 97..102)/16) — i.e. a deterministic
    * random projection; swapping in trained weights changes the
    * lookup, not the plan.
    *
    * Scale shape: the weight is a function OF THE TOKEN, so there is
    * no vocabulary table, no join, no shuffle — one higher-order
    * `aggregate` fold per row inside a single codegen stage; the
    * presentation sort is the only exchange. At 100 TB this is the
    * cheapest possible gate: one streaming pass. */
  val QcMeanX1000 = 125L

  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .select($"doc_id", size($"toks").as("n_toks"),
        expr("aggregate(toks, 0L, (acc, x) -> " +
          "acc + ascii(substring(md5(x), 1, 1)) - 70)").as("score"))
      .withColumn("keep", ($"score" * 1000 >= $"n_toks" * QcMeanX1000).cast("int"))
      .orderBy($"doc_id")
  }

  val qQualityClassifierSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents)
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
       |  CAST(COALESCE(list_sum(list_transform(toks,
       |    x -> ascii(substring(md5(x), 1, 1)) - 70)), 0) AS BIGINT) AS score,
       |  CAST(CAST(COALESCE(list_sum(list_transform(toks,
       |    x -> ascii(substring(md5(x), 1, 1)) - 70)), 0) AS BIGINT) * 1000
       |    >= len(toks) * $QcMeanX1000 AS INT) AS keep
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Number of curriculum phases. */
  val CurriculumPhases = 4

  /** Curriculum phase census — the data-ordering op curriculum
    * training runs before the first epoch (easy→hard scheduling:
    * order the corpus by a difficulty proxy, cut it into phases,
    * check each phase's composition): documents ordered by their
    * mean per-token quality weight (the [[qQualityClassifier]]
    * hashed-feature scorer, per-token so length doesn't masquerade
    * as difficulty), cut into [[CurriculumPhases]] exact NTILE
    * phases, and per (phase, source) the doc count, char mass, and
    * score range — a source crowding into one phase is the
    * scheduling skew the census exists to surface.
    *
    * Two portability details: the per-token weight is anchored at
    * ascii('0') = 48 (not the classifier's centered −70) so the
    * mean-permille numerator is NON-NEGATIVE before the integer
    * division (Spark's DIV truncates toward zero, DuckDB's //
    * floors — they agree only on non-negatives; the shift is
    * order-preserving so the curriculum is unchanged), and the
    * global order runs through [[graft.operators.RankSplit]]'s
    * histogram-split rank (cell-bounded sorts — a plain global
    * window would funnel the corpus through one task), with the
    * q_ntile CASE formula turning exact rank into the exact NTILE
    * bucket.
    *
    * Scale shape: one corpus scan scores per-doc (codegen fold, the
    * q_quality_classifier bound), RankSplit's stages are combinable
    * / broadcast / cell-bounded, and the census is one combinable
    * (phase, source) aggregate on the ranked frame.
    *
    * Bench watch: regresses if the global order leaves the
    * histogram-split path for a one-task window. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = CurriculumPhases
    // pinned: RankSplit traverses its input in THREE independent
    // subplans (documented cost contract) — unpinned, the corpus-wide
    // per-token md5 scoring fold would run once per subplan; the
    // scored frame is 4 small columns per doc
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars",
        expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .select($"doc_id", $"source", $"n_chars", size($"toks").as("nt"),
        expr("aggregate(toks, 0L, (acc, x) -> " +
          "acc + ascii(substring(md5(x), 1, 1)) - 48)").as("score0"))
      .withColumn("ms", expr("score0 * 1000 DIV GREATEST(nt, 1)"))
      .localCheckpoint()
    val ranked = graft.operators.RankSplit.rank(docs, Seq(), "ms",
      Seq("ms", "doc_id"))
    ranked
      .withColumn("phase", expr(
        s"""CAST(CASE
           |  WHEN __rank <= (__grp_n % $k) * (__grp_n DIV $k + 1)
           |  THEN (__rank - 1) DIV (__grp_n DIV $k + 1) + 1
           |  ELSE __grp_n % $k
           |    + (__rank - (__grp_n % $k) * (__grp_n DIV $k + 1) - 1)
           |      DIV (__grp_n DIV $k)
           |    + 1
           |END AS BIGINT)""".stripMargin))
      .groupBy($"phase", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"),
        min($"ms").as("min_mscore"), max($"ms").as("max_mscore"))
      .orderBy($"phase", $"source")
  }

  /** Oracle twin: same scorer, same shifted permille, same NTILE
    * CASE over a plain global ROW_NUMBER. */
  val qCurriculumSql: String = {
    val k = CurriculumPhases
    s"""WITH t AS (SELECT doc_id, source, n_chars,
       |    list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id, source, n_chars, len(toks) AS nt,
       |    CAST(COALESCE(list_sum(list_transform(toks,
       |      x -> ascii(substring(md5(x), 1, 1)) - 48)), 0) AS BIGINT)
       |      AS score0
       |  FROM t),
       |m AS (SELECT *, score0 * 1000 // GREATEST(nt, 1) AS ms FROM sc),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ms, doc_id) AS rn,
       |    COUNT(*) OVER () AS n FROM m),
       |p AS (SELECT *, CAST(CASE
       |    WHEN rn <= (n % $k) * (n // $k + 1)
       |    THEN (rn - 1) // (n // $k + 1) + 1
       |    ELSE n % $k + (rn - (n % $k) * (n // $k + 1) - 1) // (n // $k) + 1
       |  END AS BIGINT) AS phase FROM r)
       |SELECT phase, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       |  MIN(ms) AS min_mscore, MAX(ms) AS max_mscore
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Flag threshold: a source drifts when its KS distance from the
    * rest of the corpus exceeds 0.10. */
  val KsThreshMilli = 100L

  /** Per-source distribution drift as the EXACT two-sample
    * Kolmogorov–Smirnov statistic over the document-length (n_chars)
    * distribution: each source A against the rest of the corpus B,
    * `D = max_v |F_A(v) − F_B(v)|` kept in integer space as
    * `d_num = max_v |cumA(v)·n_B − cumB(v)·n_A|` (bigint exact;
    * `D = d_num/(n_A·n_B)` is the single IEEE division) — the
    * ingest-gate check that a new crawl slice hasn't shifted shape
    * even when its mean looks fine (q_value_drift's TV distance
    * needs pre-chosen buckets; KS is bucket-free and catches shifts
    * TV smears). The drift flag compares in pure integers
    * (`1000·d_num > thresh·n_A·n_B`).
    *
    * Scale shape: one combinable (source, value) histogram aggregate
    * — the corpus never moves, only |sources|×|distinct lengths|
    * cells (pinned once with the multi-consumer localCheckpoint
    * convention: five downstream consumers, one corpus scan) — then a
    * broadcast dense grid (distinct values × sources) so every
    * source's CDF is evaluated at EVERY corpus value (a source
    * missing a value still steps there). The per-source cumsum is a
    * source-partitioned window over that tiny grid; the CORPUS cumsum
    * is a function of v alone, so it is computed on the per-v totals
    * frame (|values| rows), NEVER on the |sources|×|values| grid, and
    * never through a constant-key window: histogram cells from approx
    * split points ([[RankSplit.assignCells]]), a cumsum window
    * PARTITIONED BY cell, and per-cell offsets cumulated by a
    * triangular join over the ≤splits-row cell-total frame — the plan
    * holds ZERO unpartitioned windows (BoundedWindowSpec pins this),
    * so no stage ever funnels the value domain through one task.
    * `cumB = cumTotal − cumA` avoids ever building the complement's
    * histogram. Bigint bounds: products stay under 2^63 up to
    * ~3·10^9 docs/side; past that, [[qKsDriftSampled]] is the
    * registered pre-sampled path.
    *
    * Bench watch: regresses if the grid ever joins back against
    * documents instead of the histogram. */
  def qKsDrift(s: SparkSession, dir: String): DataFrame =
    ksDrift(s, Tables.documents(s, dir))

  /** Histogram-cell count of the corpus-cumsum two-level split. */
  val KsCumSplits = 32

  private def ksDrift(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val hist = docs
      .groupBy($"source", $"n_chars".as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // dense grid: every (source, corpus-distinct value) cell, count 0
    // where the source lacks the value — both factors are tiny
    // aggregates of the histogram, so the grid never touches documents
    val grid = broadcast(hist.select($"v").distinct())
      .crossJoin(broadcast(hist.select($"source").distinct()))
      .join(hist, Seq("source", "v"), "left")
      .na.fill(0L, Seq("c"))
    val wcum = Window.partitionBy($"source").orderBy($"v")
    // corpus cumulative count: per-v totals → cell-partitioned local
    // cumsum + triangular cell-offset join (no unpartitioned window)
    val tv = hist.groupBy($"v").agg(sum($"c").as("ct"))
    val celled = RankSplit.assignCells(tv, Seq.empty, "v", KsCumSplits)
    val local = celled.withColumn("cum_local",
      sum($"ct").over(Window.partitionBy($"__cell").orderBy($"v")))
    val cellTot = celled.groupBy($"__cell").agg(sum($"ct").as("cw"))
    val offs = cellTot
      .join(broadcast(cellTot.select($"__cell".as("bc"), $"cw".as("bw"))),
        $"bc" < $"__cell", "left")
      .groupBy($"__cell").agg(coalesce(sum($"bw"), lit(0L)).as("coff"))
    val tvCum = local.join(broadcast(offs), Seq("__cell"))
      .select($"v", ($"cum_local" + $"coff").as("cum_t"))
    val cums = grid
      .withColumn("cum_a", sum($"c").over(wcum))
      .join(broadcast(tvCum), Seq("v"))
    val tot = hist.groupBy($"source").agg(sum($"c").as("n_a"))
      .crossJoin(broadcast(hist.agg(sum($"c").as("n_t"))))
    cums.join(broadcast(tot), Seq("source"))
      .select($"source", $"n_a", ($"n_t" - $"n_a").as("n_b"),
        abs($"cum_a" * ($"n_t" - $"n_a") -
          ($"cum_t" - $"cum_a") * $"n_a").as("dn"))
      .groupBy($"source", $"n_a", $"n_b")
      .agg(max($"dn").as("d_num"))
      .withColumn("d_val",
        $"d_num".cast("double") / ($"n_a".cast("double") * $"n_b"))
      .withColumn("drift",
        (lit(1000L) * $"d_num" > lit(KsThreshMilli) * $"n_a" * $"n_b")
          .cast("int"))
      .orderBy($"source")
  }

  /** Sampling width (permille of the md5 doc_id bucket) of
    * [[qKsDriftSampled]] — 250‰ keeps every test-SF source populated
    * while exercising the real pre-sample plan shape. */
  val KsSampleMilli = 250L

  /** The 100-TB execution path of [[qKsDrift]]: the SAME drift query
    * over a deterministic md5 doc_id sample (the [[Text.qHashSample]]
    * bucket idiom — stable across reshuffles and engines, mirrored
    * verbatim in the oracle, the q_two_point_sampled discipline).
    * Past ~3·10⁹ docs/side the full query's bigint products overflow
    * and the KS n for any published sensitivity target is far smaller
    * anyway — this entry is that documented slice as a hash-checked
    * query, not a comment.
    *
    * Bench watch: regresses if the sample predicate stops pruning
    * before the histogram aggregate. */
  def qKsDriftSampled(s: SparkSession, dir: String): DataFrame =
    ksDrift(s, Tables.documents(s, dir)
      .where(Text.splitBucketCol < KsSampleMilli))

  /** Oracle twin — same dense grid, same integer cumsum identity,
    * parameterized over the (possibly pre-sampled) documents source. */
  private def ksDriftSqlFrom(docsRel: String): String =
    s"""WITH h AS (SELECT source, n_chars AS v, COUNT(*) AS c
       |  FROM $docsRel GROUP BY 1, 2),
       |grid AS (SELECT sv.source, vv.v, COALESCE(h.c, 0) AS c
       |  FROM (SELECT DISTINCT source FROM h) sv
       |  CROSS JOIN (SELECT DISTINCT v FROM h) vv
       |  LEFT JOIN h ON h.source = sv.source AND h.v = vv.v),
       |cums AS (SELECT source, v, c,
       |    SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum_a,
       |    SUM(c) OVER (ORDER BY v) AS cum_t
       |  FROM grid),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_a
       |  FROM h GROUP BY 1),
       |tt AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n_t FROM tot),
       |d AS (SELECT c.source, t.n_a, tt.n_t - t.n_a AS n_b,
       |    ABS(c.cum_a * (tt.n_t - t.n_a)
       |      - (c.cum_t - c.cum_a) * t.n_a) AS dn
       |  FROM cums c JOIN tot t ON c.source = t.source CROSS JOIN tt)
       |SELECT source, n_a, n_b, CAST(MAX(dn) AS BIGINT) AS d_num,
       |  CAST(MAX(dn) AS DOUBLE)
       |    / (CAST(n_a AS DOUBLE) * n_b) AS d_val,
       |  CAST(1000 * MAX(dn) > $KsThreshMilli * n_a * n_b AS INT) AS drift
       |FROM d GROUP BY 1, 2, 3 ORDER BY source""".stripMargin

  val qKsDriftSql: String = ksDriftSqlFrom("documents")

  val qKsDriftSampledSql: String = ksDriftSqlFrom(
    s"(SELECT * FROM documents WHERE ${Text.splitBucketSql} < $KsSampleMilli)")

  // ---------------------------------------------------------------
  /** Vector-table ingest gate — the QA pass a pipeline runs on an
    * embedding table before building ANY index over it (a zero
    * vector poisons cosine similarity with NaN, a ragged dimension
    * breaks every kernel, a norm-collapsed label signals an encoder
    * regression): per label, count, dimension min/max (equal ⇔
    * rectangular), exact integer-scaled norm² min/max, zero-vector
    * count, and the RMS norm.
    *
    * Cross-engine discipline: components go through the house
    * integer-scaling (round(x·10⁷) — [[graft.functions.VectorOps]]),
    * so norm² is exact bigint via the IntVecNormSq codegen kernel
    * (≡ DuckDB's unnest + SUM(vi·vi)); the RMS is one fixed double
    * chain over the exact sums.
    *
    * Scale shape: one scan, per-row O(dim) kernel work, one
    * combinable label aggregate — no shuffle beyond the |labels|-cell
    * reduction. */
  def qEmbeddingQa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorOps
    Tables.embeddings(s, dir)
      .withColumn("iv", VectorOps.intVec("embedding"))
      .withColumn("dim", expr("CAST(size(embedding) AS BIGINT)"))
      .withColumn("nrm", VectorOps.normSq("iv"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min($"dim").as("dim_min"), max($"dim").as("dim_max"),
        min($"nrm").as("min_nrm"), max($"nrm").as("max_nrm"),
        sum(when($"nrm" === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum($"nrm".cast("decimal(38,0)")).as("_sum_nrm"))
      .withColumn("rms_norm",
        sqrt($"_sum_nrm".cast("double") / $"n_vecs".cast("double")) /
          lit(10000000.0))
      .select($"label", $"n_vecs", $"dim_min", $"dim_max", $"min_nrm",
        $"max_nrm", $"n_zero", $"rms_norm")
      .orderBy($"label")
  }

  /** Oracle twin: same integer scaling, hugeint-exact sums, the
    * identical RMS chain. LEFT JOIN + COALESCE so a zero-length
    * embedding array (which unnests to NO rows and would vanish under
    * an inner join) stays a counted vector with dim=0/nrm=0 — exactly
    * the ragged-input case this QA gate exists to catch, and exactly
    * what the Spark side's size()/normSq report for it. */
  val qEmbeddingQaSql: String =
    s"""WITH u AS (SELECT vec_id,
       |    CAST(ROUND(CAST(v AS DOUBLE)
       |      * ${graft.functions.VectorOps.ScaleLit}) AS BIGINT) AS vi
       |  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings)),
       |n AS (SELECT vec_id, CAST(SUM(vi*vi) AS BIGINT) AS nrm,
       |    COUNT(*) AS dim
       |  FROM u GROUP BY 1),
       |j AS (SELECT e.label, COALESCE(n.nrm, 0) AS nrm,
       |    COALESCE(n.dim, 0) AS dim
       |  FROM embeddings e LEFT JOIN n USING (vec_id))
       |SELECT label, COUNT(*) AS n_vecs,
       |  MIN(dim) AS dim_min, MAX(dim) AS dim_max,
       |  MIN(nrm) AS min_nrm, MAX(nrm) AS max_nrm,
       |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_zero,
       |  SQRT(CAST(SUM(nrm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       |    / CAST(${graft.functions.VectorOps.ScaleLit} AS DOUBLE)
       |    AS rms_norm
       |FROM j GROUP BY label ORDER BY label""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile" -> (qProfile _),
    "q_constraints" -> (qConstraints _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_ks_drift" -> (qKsDrift _),
    "q_curriculum" -> (qCurriculum _),
    "q_ks_drift_sampled" -> (qKsDriftSampled _),
    "q_embedding_qa" -> (qEmbeddingQa _))

  val oracles: Map[String, String] = Map(
    "q_profile" -> qProfileSql,
    "q_constraints" -> qConstraintsSql,
    "q_quality_classifier" -> qQualityClassifierSql,
    "q_ks_drift" -> qKsDriftSql,
    "q_curriculum" -> qCurriculumSql,
    "q_ks_drift_sampled" -> qKsDriftSampledSql,
    "q_embedding_qa" -> qEmbeddingQaSql)
}
