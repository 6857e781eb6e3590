package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate (sketch) aggregations — the shapes that make
  * 100 TB-scale "how many distinct / what's the p95" queries cheap:
  * both sketches build map-side partial state (a HyperLogLog++
  * register set, a KLL/GK quantile summary) and shuffle only the tiny
  * merged sketch per group, never the raw values.
  *
  * Sketch internals are engine-specific (Spark's HLL++ and DuckDB's
  * approx_count_distinct disagree on exact estimates by design), so
  * the estimates themselves never enter the cross-engine hash:
  * each query emits its EXACT twin columns (hash-checked against
  * DuckDB) plus an in-plan `in_bound` flag proving the estimate met
  * its accuracy contract — the driver verifies the sketch without
  * ever comparing sketch internals. SketchesSpec additionally
  * asserts the bounds hold row-by-row.
  */
object Sketches {

  /** Relative-error budget the HLL++ estimate must meet for the
    * in-plan bound flag (the sketch is configured at rsd 2%; 5% is
    * the spec'd acceptance band, ~2.5 standard errors). */
  val DistinctRelErrMax = 0.05

  /** Approximate distinct users per event type (HLL++, rsd 2%),
    * verified IN-PLAN: the hashed output carries the exact distinct
    * count plus `in_bound` = [the HLL++ estimate landed within
    * [[DistinctRelErrMax]] relative error], so the driver's oracle
    * hash-checks the exact side and row-checks the sketch's accuracy
    * contract — the estimate itself stays out of the hash (HLL++
    * register sets are engine-specific by design). The exact twin
    * exists FOR the verification harness; the production shape is the
    * sketch column alone (drop `exact_users`/`in_bound` and the
    * count-distinct expand disappears from the plan). Sketch state
    * merges map-side; one shuffle either way. */
  def qSketchDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"))
      .select($"event_type", $"n", $"exact_users",
        when(abs($"approx_users" - $"exact_users") <=
          $"exact_users" * DistinctRelErrMax, 1L).otherwise(0L)
          .as("in_bound"))
      .orderBy($"event_type")
  }

  val qSketchDistinctSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  CAST(1 AS BIGINT) AS in_bound
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rank-error band the approx_percentile values must land in for
    * the in-plan bound flag. The 10k summary guarantees 1e-4; 1e-3
    * keeps the flag robust to rank-convention off-by-ones while
    * still asserting a 0.1% band. */
  val QuantileRankEps = 0.001

  /** Approximate value quantiles per event type (p50/p95/p99) over
    * the exact-integer c100 domain, verified IN-PLAN: the hashed
    * output carries the EXACT discrete percentiles (smallest value
    * at rank ≥ ⌈q·n⌉ — PERCENTILE_DISC semantics, reproduced in
    * DuckDB) plus `in_bound` = [every approx value sits between the
    * exact values at ranks (q±[[QuantileRankEps]])·n].
    *
    * The exact side never sorts raw rows: it reduces to a combinable
    * (event_type, xc) count — the c100 integer domain is bounded, so
    * the post-shuffle frame is |types|×|distinct values|, and the
    * cumulative window + rank probes run on that value histogram,
    * not the events table. The sketch side is the usual one-shuffle
    * partial-aggregated quantile summary; the two per-type frames
    * broadcast-join. At 100 TB the histogram path is the same single
    * shuffle (distinct-value histograms are the scale trick exact
    * medians ride everywhere in this repo — see q_weighted_median). */
  def qSketchQuantile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", round($"value" * 100).cast("long").as("xc"))
    val appx = e.groupBy($"event_type")
      .agg(expr("approx_percentile(xc, array(0.5, 0.95, 0.99), 10000)").as("q"))
      .select($"event_type",
        element_at($"q", 1).as("a50"),
        element_at($"q", 2).as("a95"),
        element_at($"q", 3).as("a99"))
    val cum = e.groupBy($"event_type", $"xc").agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum($"cnt").over(Window.partitionBy($"event_type").orderBy($"xc")))
      .withColumn("nn", sum($"cnt").over(Window.partitionBy($"event_type")))
    // smallest xc whose cumulative count reaches rank target t
    def atRank(t: Column): Column = min(when($"cum" >= t, $"xc"))
    def disc(q: Double): Column = atRank(ceil(lit(q) * $"nn").cast("long"))
    def lo(q: Double): Column =
      atRank(greatest(floor(lit(q - QuantileRankEps) * $"nn").cast("long"), lit(1L)))
    def hi(q: Double): Column =
      atRank(least(ceil(lit(q + QuantileRankEps) * $"nn").cast("long"), $"nn"))
    val exact = cum.groupBy($"event_type").agg(
      max($"nn").as("n"),
      disc(0.50).as("p50_c100"), disc(0.95).as("p95_c100"), disc(0.99).as("p99_c100"),
      lo(0.50).as("lo50"), hi(0.50).as("hi50"),
      lo(0.95).as("lo95"), hi(0.95).as("hi95"),
      lo(0.99).as("lo99"), hi(0.99).as("hi99"))
    exact.join(appx, Seq("event_type"))
      .select($"event_type", $"n", $"p50_c100", $"p95_c100", $"p99_c100",
        when($"a50".between($"lo50", $"hi50") &&
          $"a95".between($"lo95", $"hi95") &&
          $"a99".between($"lo99", $"hi99"), 1L).otherwise(0L).as("in_bound"))
      .orderBy($"event_type")
  }

  val qSketchQuantileSql: String =
    """WITH e AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS xc
      |           FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY xc) AS BIGINT) AS p50_c100,
      |  CAST(PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY xc) AS BIGINT) AS p95_c100,
      |  CAST(PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY xc) AS BIGINT) AS p99_c100,
      |  CAST(1 AS BIGINT) AS in_bound
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  /** Count-Min sketch geometry: [[CmsDepth]] independent hash rows ×
    * 256 buckets (one md5 hex-byte per row). 256×4 = 1 024 counter
    * cells total — the whole sketch shuffles in a few KB no matter
    * how large the corpus is. */
  private val CmsDepth = 4

  /** Point-query probe set: answers are what a CMS is FOR (ask the
    * sketch "how often did `w` occur" without holding the
    * vocabulary). A fixed probe list keeps the query deterministic. */
  private[graft] val CmsProbes = Seq(
    "table", "query", "spark", "scan", "value", "the",
    "vector", "merge", "window", "stream", "batch", "row")

  /** Count-Min sketch word-frequency estimates, with the exact count
    * alongside — the one-sided error contract (estimate ≥ truth,
    * proven per-row by SketchesSpec) made visible.
    *
    * Unlike [[qSketchDistinct]]'s HLL++ this sketch is built from
    * first principles with PORTABLE integer arithmetic — row `i`'s
    * bucket for word `w` is hex byte `substring(md5(w), 2i+1, 2)`,
    * i.e. the four rows project four distinct bytes of ONE digest
    * (uniform and pairwise-independent enough for 256-bucket rows,
    * and the one-sided ≥-truth contract holds for ANY bucket
    * function) — so DuckDB reproduces the cells bit-for-bit, the
    * entry is fully hash-checked, not rows-only, and the build pays
    * ONE md5 per token instead of one per (token, row).
    *
    * Scale shape: the ×[[CmsDepth]] bucket explode happens map-side
    * and feeds a partial aggregate, so the shuffle carries at most
    * 1 024 (row, bucket) cells per task — never tokens, never the
    * vocabulary. The probe lookup is a broadcast join of
    * |probes|×depth rows against those cells. The exact side is a
    * map-combinable count over the probe-filtered scan. */
  def qSketchCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
    // (row, bucket) occurrence cells: explode each token into its
    // CmsDepth home buckets, then count — partial agg combines to
    // ≤1024 cells before the shuffle
    val cellCols = (0 until CmsDepth).map { i =>
      struct(lit(i).as("i"), substring($"h", 2 * i + 1, 2).as("b"))
    }
    // The exact probe counts ride the SAME tokenize+aggregate pass as
    // the sketch cells: a probe token emits a fifth marker cell
    // (i = −1, b = the word itself), so one corpus scan feeds one
    // combinable aggregate and both consumers filter its ≤1036-row
    // output — the two branches share the aggregate's exchange
    // (ReusedExchange), where the previous shape re-tokenized the
    // whole corpus a second time just to count 12 words.
    val allCells = toks
      .select($"w", md5($"w").as("h"))
      .select(explode(concat(
        array(cellCols: _*),
        when($"w".isInCollection(CmsProbes),
          array(struct(lit(-1).as("i"), $"w".as("b"))))
          .otherwise(array().cast("array<struct<i:int,b:string>>")))).as("c"))
      .groupBy($"c.i".as("i"), $"c.b".as("b"))
      .agg(count(lit(1)).as("cnt"))
    // probe rows: |CmsProbes| × CmsDepth, broadcast to the cells
    val probes = CmsProbes.toDF("word")
      .withColumn("i", explode(array((0 until CmsDepth).map(lit): _*)))
      .withColumn("b", expr("substring(md5(word), 2 * i + 1, 2)"))
    val est = broadcast(probes).join(allCells.filter($"i" >= 0), Seq("i", "b"))
      .groupBy($"word").agg(min($"cnt").as("cms_n"))
    val exact = allCells.filter($"i" === -1)
      .select($"b".as("word"), $"cnt".as("exact_n"))
    est.join(exact, Seq("word"))
      .select($"word", $"exact_n", $"cms_n")
      .orderBy($"word")
  }

  private val cmsProbesSql =
    CmsProbes.map(w => s"('$w')").mkString(", ")

  /** Identical md5 hex-byte bucket arithmetic in DuckDB — the sketch
    * cells, the probe lookup, and the exact counts all reproduce, so
    * the comparison is a full hash check. */
  val qSketchCmsSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tk AS (SELECT w FROM toks WHERE w <> ''),
       |cells AS (
       |  SELECT d.i, SUBSTRING(MD5(w), 2 * d.i + 1, 2) AS b,
       |         COUNT(*) AS cnt
       |  FROM tk CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(i)
       |  GROUP BY 1, 2),
       |probes AS (
       |  SELECT p.word, d.i,
       |         SUBSTRING(MD5(p.word), 2 * d.i + 1, 2) AS b
       |  FROM (VALUES $cmsProbesSql) AS p(word)
       |  CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(i)),
       |est AS (
       |  SELECT word, MIN(cnt) AS cms_n
       |  FROM probes JOIN cells USING (i, b) GROUP BY word),
       |exact AS (
       |  SELECT w AS word, COUNT(*) AS exact_n FROM tk
       |  WHERE w IN (${CmsProbes.map(w => s"'$w'").mkString(", ")})
       |  GROUP BY 1)
       |SELECT word, exact_n, cms_n
       |FROM est JOIN exact USING (word)
       |ORDER BY word""".stripMargin

  // ---------------------------------------------------------------
  /** Day bucket of the event micro-timestamp. */
  private val DayUs = 86400000000L

  /** lgConfigK of the Datasketches HLL sketches: 2^12 registers →
    * ~1.6% relative standard error. [[HllMergeRelErrMax]] (10%) is
    * ~6σ: under the estimator's near-Gaussian error the chance a
    * cell's `in_bound` flips is ~2·10⁻⁹ per cell — the oracle
    * hardcodes in_bound=1, so this bound is deliberately far past
    * any legitimate estimator excursion: with a handful of
    * event-type cells the suite would need ~10⁸ corpus regenerations
    * to see one spurious parity failure, while a real engine bug
    * (wrong registers, lossy merge) still lands far outside it.
    * SketchesSpec separately proves the merge is LOSSLESS (merged ≡
    * one-shot sketch) AND asserts the tight 3σ (5%) accuracy band on
    * the fixed corpus, so tightness here buys nothing: a genuine
    * estimator bug between 3σ and 6σ fails the spec as telemetry
    * instead of reading as a cross-engine parity failure. The flag
    * stays in the hashed output deliberately — dropping it would let
    * column pruning remove the union aggregate from the verified
    * plan entirely. */
  val HllLgK = 12
  val HllMergeRelErrMax = 0.10

  /** MERGEABLE distinct-count telemetry — the property that makes
    * sketches the 100 TB answer and that [[qSketchDistinct]]'s
    * one-shot estimate never exercises: per-(event type, DAY)
    * Datasketches HLL sketches built once (the nightly job), then
    * merged per event type with `hll_union_agg` — a month's distinct
    * users costs 30 binary-blob register-max merges, not a re-scan of
    * a month of raw events, and the daily sketches are exactly what a
    * stored telemetry table would persist. Verified like every sketch
    * entry: the hashed columns are the EXACT twins (distinct users,
    * day count) plus `in_bound` = [the merged estimate landed within
    * [[HllMergeRelErrMax]]]; SketchesSpec additionally proves
    * lossless mergeability (merged estimate ≡ one-shot whole-corpus
    * sketch at the same lgK, register-max is exact).
    *
    * Scale shape: the daily build is one combinable (type, day)
    * aggregate whose output is |types|×|days| KB-sized blobs; the
    * merge shuffles only those blobs. The exact twin costs a real
    * distinct — it exists FOR the harness (drop `exact_users` /
    * `in_bound` and the count-distinct expand disappears).
    *
    * Bench watch: regresses if the exact twin's expand ever dominates
    * or the merge re-scans. */
  def qSketchHllMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"event_type", $"user_id",
      expr(s"(ts DIV 1000) DIV $DayUs").as("day"))
    val daily = e.groupBy($"event_type", $"day")
      .agg(hll_sketch_agg($"user_id", lit(HllLgK)).as("sk"))
    val merged = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
    val exact = e.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select($"event_type", $"n_days", $"exact_users",
        when(abs($"approx_users" - $"exact_users") <=
          $"exact_users" * HllMergeRelErrMax, 1L).otherwise(0L)
          .as("in_bound"))
      .orderBy($"event_type")
  }

  val qSketchHllMergeSql: String =
    s"""SELECT event_type,
       |  COUNT(DISTINCT epoch_us(ts) // $DayUs) AS n_days,
       |  COUNT(DISTINCT user_id) AS exact_users,
       |  CAST(1 AS BIGINT) AS in_bound
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  /** KMV sketch size: 64 minima → ~12.5% (1/√k) standard error. */
  val KmvK = 64

  /** K-minimum-values SET-OPERATION sketch across sources (Bar-Yossef
    * et al. 2002; the Theta-sketch family's core) — the telemetry HLL
    * cannot provide: per-source bottom-k document-hash sketches
    * compose into UNION, INTERSECTION and both SET-DIFFERENCE
    * distinct estimates per source pair (bottom-k(A ∪ B) ⊆
    * bottom-k(A) ∪ bottom-k(B), so merging sketches IS sketching the
    * union, and every union-bottom-k member is tagged by side — the
    * full Theta set algebra), giving the cross-source content-overlap
    * matrix — "how much of source A is also in B, and how much of
    * each is unique" — at k rows per source instead of a corpus-pair
    * distinct.
    *
    * Unlike the HLL entries (engine-specific registers, hash-checked
    * via exact twins + an in-bound flag), KMV is md5-deterministic
    * end-to-end, so the oracle re-derives the ENTIRE sketch and the
    * estimates themselves hash-check: kth-min is exact-integer, the
    * estimator (k−1)·2⁶⁰/h_k is one fixed double chain, and the
    * Jaccard is integer permille. A sketch that saw its whole set
    * (k_used < k) reports the EXACT count.
    *
    * Scale shape: the per-source set is one combinable (source, h)
    * aggregate; the bottom-k runs on the [[graft.plans.TopKPerKey]]
    * partial/final operator (≈k·P rows shuffled per source — a
    * window would sort each source's whole corpus slice in one
    * task); every stage after operates on the |sources|×k sketch
    * frame, corpus-size-independent. */
  def qKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = Tables.documents(s, dir)
      .select($"source",
        expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
      .groupBy($"source", $"h").agg(count(lit(1)).as("_c")).drop("_c")
    val sk = graft.plans.TopKPerKey(h, Seq("source"), Seq(("h", true)),
      KmvK).select($"source", $"h")
    val srcs = sk.select($"source").distinct()
    val left = sk.join(srcs.withColumnRenamed("source", "other"),
        $"source" < $"other")
      .select($"source".as("src_a"), $"other".as("src_b"), $"h",
        lit(1L).as("ia"), lit(0L).as("ib"))
    val right = sk.join(srcs.withColumnRenamed("source", "other"),
        $"other" < $"source")
      .select($"other".as("src_a"), $"source".as("src_b"), $"h",
        lit(0L).as("ia"), lit(1L).as("ib"))
    val u = left.unionByName(right)
      .groupBy($"src_a", $"src_b", $"h")
      .agg(max($"ia").as("in_a"), max($"ib").as("in_b"))
    val w = Window.partitionBy($"src_a", $"src_b").orderBy($"h")
    u.withColumn("rn", row_number().over(w))
      .filter($"rn" <= KmvK)
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("k_used"), max($"h").as("kth_h"),
        sum(when($"in_a" === 1 && $"in_b" === 1, 1L).otherwise(0L))
          .as("shared"),
        // the set-DIFFERENCE tallies that complete the Theta-sketch
        // algebra: union-bottom-k members seen in exactly one source
        // (shared + only_a + only_b = k_used by construction)
        sum(when($"in_a" === 1 && $"in_b" === 0, 1L).otherwise(0L))
          .as("only_a"),
        sum(when($"in_a" === 0 && $"in_b" === 1, 1L).otherwise(0L))
          .as("only_b"))
      .withColumn("jacc_milli", expr("shared * 1000 DIV k_used"))
      .withColumn("est_union",
        when($"k_used" < KmvK, $"k_used".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) *
            lit(1152921504606846976.0) / $"kth_h".cast("double")))
      // A∩B, A∖B, B∖A all scale the SAME union estimate by their
      // exact-integer union-sketch fractions (one fixed IEEE chain
      // each, mirrored in the oracle), so est_inter + est_diff_ab +
      // est_diff_ba = est_union exactly up to the three roundings
      .withColumn("est_inter",
        $"shared".cast("double") / $"k_used".cast("double") * $"est_union")
      .withColumn("est_diff_ab",
        $"only_a".cast("double") / $"k_used".cast("double") * $"est_union")
      .withColumn("est_diff_ba",
        $"only_b".cast("double") / $"k_used".cast("double") * $"est_union")
      .select($"src_a", $"src_b", $"k_used", $"kth_h", $"shared",
        $"only_a", $"only_b", $"jacc_milli", $"est_union", $"est_inter",
        $"est_diff_ab", $"est_diff_ba")
      .orderBy($"src_a", $"src_b")
  }

  /** Oracle twin: the whole sketch re-derived — same 60-bit hash,
    * same bottom-k, same fixed estimator chain. */
  val qKmvOverlapSql: String =
    s"""WITH h AS (SELECT DISTINCT source,
       |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
       |  FROM documents),
       |sk AS (SELECT source, h FROM (SELECT source, h,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM h) WHERE rn <= $KmvK),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |tagged AS (
       |  SELECT sk.source AS src_a, o.source AS src_b, h,
       |      1 AS ia, 0 AS ib
       |    FROM sk JOIN srcs o ON sk.source < o.source
       |  UNION ALL
       |  SELECT o.source AS src_a, sk.source AS src_b, h,
       |      0 AS ia, 1 AS ib
       |    FROM sk JOIN srcs o ON o.source < sk.source),
       |u AS (SELECT src_a, src_b, h, MAX(ia) AS in_a, MAX(ib) AS in_b
       |  FROM tagged GROUP BY 1, 2, 3),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b
       |    ORDER BY h) AS rn FROM u),
       |agg AS (SELECT src_a, src_b, COUNT(*) AS k_used,
       |    MAX(h) AS kth_h,
       |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS shared,
       |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS only_a,
       |    CAST(SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS only_b
       |  FROM r WHERE rn <= $KmvK GROUP BY 1, 2),
       |est AS (SELECT *,
       |    CASE WHEN k_used < $KmvK THEN CAST(k_used AS DOUBLE)
       |      ELSE CAST(${KmvK - 1} AS DOUBLE)
       |        * CAST(1152921504606846976 AS DOUBLE)
       |        / CAST(kth_h AS DOUBLE) END AS est_union
       |  FROM agg)
       |SELECT src_a, src_b, k_used, kth_h, shared, only_a, only_b,
       |  CAST(shared * 1000 // k_used AS BIGINT) AS jacc_milli,
       |  est_union,
       |  CAST(shared AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union
       |    AS est_inter,
       |  CAST(only_a AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union
       |    AS est_diff_ab,
       |  CAST(only_b AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union
       |    AS est_diff_ba
       |FROM est ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------
  /** Hash functions per Bloom probe: four disjoint 4-hex-char slices
    * of ONE md5 — 16 bits each, so the filter is a 2¹⁶-bit bitmap
    * whose set bits are represented AS the distinct slice strings
    * (the [[qSketchCms]] hex-substring idiom — no bit twiddling, no
    * engine-specific conversions anywhere). */
  private[graft] val BloomDepth = 4

  /** Per-source BLOOM membership sketch over segment fingerprints,
    * with empirical false-positive telemetry — the membership sketch
    * beside the family's frequency (CMS), cardinality (HLL), and
    * set-operation (KMV) members, and the checkable core of every
    * bloom-gated join a pipeline ships (q_bloom_join uses the
    * engine's opaque filter; THIS one is portable arithmetic
    * end-to-end so the sketch itself hash-verifies): the member set
    * is each source's DISTINCT 10-word segment fingerprints (the
    * q_line_dedup / q_source_overlap unit, so the filter answers
    * "might source S contain this passage" — the cross-source
    * contamination probe), each member sets [[BloomDepth]] bits via
    * four disjoint 16-bit slices of its md5 (set bits represented AS
    * the distinct slice strings — the CMS substring idiom, no bit
    * twiddling anywhere), and every GLOBAL distinct fingerprint
    * probes every source's filter — a hit ⟺ all four slices set.
    * Per source: member count, bits set (density numerator over
    * 65 536), probe count, hits, FALSE POSITIVES, and the realized
    * FPR in exact integer ppm of the true negatives. No false
    * negative is possible by construction; at the 2¹⁶-bit size the
    * test corpora yield FP ≈ 0 (density < 1%) — the spec proves the
    * FP machinery on a planted dense fixture through the same
    * factored body.
    *
    * Scale shape: the corpus is segmented ONCE ([[Dedup.segmentsOf]],
    * one distinct shuffle, localCheckpoint-pinned for its four
    * consumers); everything after is fingerprint-frame-sized — the
    * per-source bit sets (≤ 2¹⁶ rows each), a ×4 probe explode, one
    * bit-key equi-join, |sources|-key aggregates. At 100 TB the
    * probe side rides the md5-bucket sample every *_sampled entry
    * uses (probing EVERY global fingerprint is corpus-sized by
    * definition); the census semantics are unchanged per probe.
    *
    * Bench watch: regresses if the probe join stops riding the
    * vocabulary-sized frames. */
  def qSketchBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val members = Dedup.segmentsOf(docs)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source", $"seg_fp".as("fp"))
      .distinct()
      .localCheckpoint()
    bloomCensus(members)
  }

  /** The census body over any (source, fp: 32-hex md5) member frame
    * — factored so the spec can drive a planted dense fixture
    * through the real plan. */
  private[graft] def bloomCensus(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val slices = (0 until BloomDepth).map(i => substring($"fp", 4 * i + 1, 4))
    val bits = members
      .select($"source", explode(array(slices: _*)).as("bit"))
      .distinct()
    val probeSet = members.select($"fp").distinct()
    val probes = probeSet.select($"fp", explode(array(slices: _*)).as("bit"))
    // a probe hits a source iff all four of its slice rows match the
    // source's bit set (a duplicated slice matches twice — count 4 ⇔
    // every distinct slice present, identically in the oracle)
    val hits = probes.join(bits, Seq("bit"))
      .groupBy($"source", $"fp").agg(count(lit(1)).as("nbits"))
      .filter($"nbits" === BloomDepth)
    val perSrc = hits.join(members.withColumn("ex", lit(1L)),
        Seq("source", "fp"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("bloom_hits"),
        // no coalesce: a groupBy group has ≥1 row and the summed
        // expression is never NULL (contrast qTrackChains' global
        // aggregate over a possibly-empty frame, where it IS needed)
        sum(when($"ex".isNull, 1L).otherwise(0L)).as("false_pos"))
    val memberCount = members.groupBy($"source")
      .agg(count(lit(1)).as("n_members"))
    val bitCount = bits.groupBy($"source").agg(count(lit(1)).as("bits_set"))
    val nProbes = probeSet.agg(count(lit(1)).as("n_probes"))
    memberCount.join(bitCount, Seq("source"))
      .join(perSrc, Seq("source"))
      .crossJoin(broadcast(nProbes))
      .select($"source", $"n_members", $"bits_set", $"n_probes",
        $"bloom_hits", $"false_pos",
        // GREATEST guards the degenerate one-source-owns-everything
        // corpus: zero negatives ⇒ zero false positives, and
        // 0 DIV 1 = 0 on both engines where DuckDB's // 0 throws
        expr("false_pos * 1000000 DIV GREATEST(n_probes - n_members, 1)")
          .as("fpr_ppm"))
      .orderBy($"source")
  }

  /** Oracle twin: the q_line_dedup segmentation + the identical md5
    * slice arithmetic in DuckDB. */
  val qSketchBloomSql: String = {
    val sliceIdx = (0 until BloomDepth).map(i => 4 * i + 1).mkString(", ")
    val ll = Dedup.LineLen
    s"""WITH t AS (SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), x -> x != '') AS toks
       |  FROM documents),
       |seg AS (SELECT DISTINCT source, md5(
       |    array_to_string(toks[(i*$ll+1):(i*$ll+$ll)], ' ')) AS fp
       |  FROM t, UNNEST(range((len(toks)-1)//$ll + 1)) AS u(i)
       |  WHERE len(toks) > 0),
       |sl AS (SELECT unnest([$sliceIdx]) AS p),
       |bits AS (SELECT DISTINCT source, substr(fp, CAST(p AS INT), 4) AS bit
       |  FROM seg CROSS JOIN sl),
       |pset AS (SELECT DISTINCT fp FROM seg),
       |pb AS (SELECT fp, substr(fp, CAST(p AS INT), 4) AS bit
       |  FROM pset CROSS JOIN sl),
       |hits AS (SELECT b.source, pb.fp FROM pb JOIN bits b USING (bit)
       |  GROUP BY 1, 2 HAVING COUNT(*) = $BloomDepth),
       |per AS (SELECT h.source, COUNT(*) AS bloom_hits,
       |    CAST(COALESCE(SUM(CASE WHEN seg.fp IS NULL THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS false_pos
       |  FROM hits h LEFT JOIN seg
       |    ON seg.source = h.source AND seg.fp = h.fp
       |  GROUP BY 1),
       |mc AS (SELECT source, COUNT(*) AS n_members FROM seg GROUP BY 1),
       |bc AS (SELECT source, COUNT(*) AS bits_set FROM bits GROUP BY 1),
       |np AS (SELECT COUNT(*) AS n_probes FROM pset)
       |SELECT mc.source, n_members, bits_set, n_probes, bloom_hits,
       |  false_pos,
       |  CAST(false_pos * 1000000 // GREATEST(n_probes - n_members, 1)
       |    AS BIGINT) AS fpr_ppm
       |FROM mc JOIN bc USING (source) JOIN per ON per.source = mc.source
       |CROSS JOIN np ORDER BY source""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sketch_bloom" -> (qSketchBloom _),
    "q_sketch_distinct" -> (qSketchDistinct _),
    "q_sketch_quantile" -> (qSketchQuantile _),
    "q_sketch_cms" -> (qSketchCms _),
    "q_sketch_hll_merge" -> (qSketchHllMerge _),
    "q_kmv_overlap" -> (qKmvOverlap _))

  /** All three sketch entries are fully driver-checkable: the HLL++
    * and approx_percentile entries hash their EXACT twin columns and
    * row-check the sketch through the in-plan `in_bound` flag (the
    * engine-specific estimates stay out of the hash); the CMS is
    * portable integer arithmetic end-to-end. */
  val oracles: Map[String, String] = Map(
    "q_sketch_bloom" -> qSketchBloomSql,
    "q_sketch_distinct" -> qSketchDistinctSql,
    "q_sketch_quantile" -> qSketchQuantileSql,
    "q_sketch_cms" -> qSketchCmsSql,
    "q_sketch_hll_merge" -> qSketchHllMergeSql,
    "q_kmv_overlap" -> qKmvOverlapSql)
}
