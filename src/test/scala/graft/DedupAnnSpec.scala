package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupAnnSpec extends AnyFunSuite with RegistryRows {

  test("q_minhash_err census equals a driver recompute over the candidate pairs; populated deciles exist") {
    import SparkTestSession._
    import org.apache.spark.sql.functions.col
    val q = queries.Dedup
    val docs = Tables.documents(spark, sf)
    val sigMap = docs.select(col("doc_id"),
      graft.functions.TextFunctions.minhashSig(col("text"), 3, 128)
        .as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val pairs = q.ngramJaccardPairsCore(docs, q.DedupCurveFloorPct)
      .select("d1", "d2", "jac_pct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cellsIn = pairs.map { case (d1, d2, jac) =>
      val m = sigMap(d1).zip(sigMap(d2)).count { case (a, b) => a == b }
      val est = 100L * m / 128L
      (jac / 10, est, math.abs(est - jac))
    }.groupBy(_._1)
    val exp = (1L to 10L).map { jb =>
      cellsIn.get(jb) match {
        case Some(v) => (jb * 10, v.size.toLong,
          v.map(_._2).sum / v.size, v.map(_._3).sum / v.size,
          v.map(_._3).max)
        case None => (jb * 10, 0L, 0L, 0L, 0L)
      }
    }
    val got = q.qMinhashErr(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
    assert(exp.exists(_._2 > 0), "calibration census vacuous at sf0.001")
  }

  test("q_pq_distortion: every row's error is the codebook MINIMUM (encode optimality), cells match a driver recompute") {
    import SparkTestSession._
    import spark.implicits._
    val q = queries.Ann
    val e = q.intEmb(spark, sf)
    val head = q.pqHead(e, q.NQueries + q.PqK)
    val cent = q.pqTrainFrom(e, q.pqSeedOf(head, q.NQueries))
    val rows = e.select($"vec_id", $"iv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // driver recompute: per (vector, subspace) the TRUE minimum
    // distortion over the codebook — encode optimality means the
    // query's assigned error must equal this minimum exactly
    val cells = (for {
      (_, iv) <- rows; m <- 0 until q.PqM
    } yield m -> (0 until q.PqK).map(k =>
      l2(iv.slice(m * q.PqSub, (m + 1) * q.PqSub), cent(m)(k))).min)
      .groupBy(_._1)
    val exp = cells.toSeq.map { case (m, es) =>
      val v = es.map(_._2)
      (m, v.size.toLong, v.sum, v.max, v.sum.toDouble / v.size.toDouble)
    }.sortBy(_._1)
    val got = q.qPqDistortion(spark, sf).collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
    // distortion binds: quantization error is nonzero somewhere
    assert(exp.exists(_._3 > 0), "distortion vacuous")
  }

  import SparkTestSession._

  test("q_ngram_novelty equals a driver recompute of the first-appearance rule") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val W = queries.Dedup.NovW
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty)))
    // (doc, source) -> the doc's DISTINCT W-gram digests
    val grams = docs.filter(_._3.length >= W).map { case (id, src, toks) =>
      (id, src, toks.sliding(W).map(g => md5hex(g.mkString(" "))).toSeq.distinct)
    }
    val firstDoc = grams.flatMap { case (id, _, fps) => fps.map(_ -> id) }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.map(_._2).min }
    val exp = grams.groupBy(_._2).map { case (src, ds) =>
      val occ = ds.flatMap { case (id, _, fps) => fps.map(fp => (id, fp)) }
      val novel = occ.count { case (id, fp) => firstDoc(fp) == id }
      src -> (occ.length.toLong, novel.toLong)
    }
    val got = queries.Dedup.qNgramNovelty(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == exp.keySet)
    for ((src, (ng, nn)) <- exp) {
      assert(got(src).getAs[Long]("n_grams") == ng, s"n_grams $src")
      assert(got(src).getAs[Long]("n_novel") == nn, s"n_novel $src")
      assert(got(src).getAs[Long]("novelty_permille") == nn * 1000 / ng)
    }
    // the rule must BIND both ways: every gram is novel somewhere
    // (its first appearance) and the corpus has at least one repeat
    assert(exp.values.map(_._2).sum ==
      grams.flatMap(_._3).distinct.length.toLong,
      "novel occurrences must equal the distinct gram count corpus-wide")
    assert(exp.values.exists { case (ng, nn) => nn < ng },
      "no repeated gram anywhere — novelty census is vacuous here")
  }

  test("q_ngram_novelty plan: the gram explode runs once (pinned reduced frame)") {
    // the r16 review finding: the gram stream fed two independent
    // subplans and the md5-window explode ran twice; after the
    // (gram, source) reduction + pin, the whole plan holds at most
    // one Generate and reads documents at most once — the checkpoint
    // replaces the second traversal with an ExistingRDD scan
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = queries.Dedup.qNgramNovelty(spark, sf)
        .queryExecution.executedPlan
      val generates = plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(generates.isEmpty,
        s"the explode must live behind the checkpoint (ExistingRDD), got ${generates.size}:\n$plan")
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.isEmpty,
        s"documents must be read once at checkpoint time, got ${scans.size} in-plan scans")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("spanDedup counts offset-shifted copied passages that line dedup misses") {
    import spark.implicits._
    val W = queries.Dedup.SpanW
    val passage = (1 to 2 * W).map(i => s"p$i").mkString(" ")
    def filler(d: Int, n: Int) = (1 to n).map(i => s"f${d}_$i").mkString(" ")
    // doc 0 holds the passage; doc 1 copies it at a DIFFERENT token
    // offset (3 filler tokens first — unaligned for LineLen segments);
    // doc 2 is clean; doc 3 is shorter than one window
    val docs = Seq(
      (0L, s"$passage ${filler(0, 4)}"),
      (1L, s"${filler(1, 3)} $passage"),
      (2L, filler(2, 3 * W)),
      (3L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = queries.Dedup.spanDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: the 2W-token passage contributes exactly W+1 complete
    // duplicated windows, all first seen in doc 0
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_dup") == W + 1, s"got ${d1.getAs[Long]("n_dup")}")
    assert(d1.getAs[Long]("n_dup_cross") == W + 1)
    // doc 0 owns the first occurrences; doc 2 is untouched; doc 3
    // has no window at all but still reports a row
    assert(out(0L).getAs[Long]("n_dup") == 0)
    assert(out(2L).getAs[Long]("n_dup") == 0)
    assert(out(3L).getAs[Long]("n_win") == 0 && out(3L).getAs[Long]("dup_pct") == 0)
    // window counts: len - W + 1 complete windows per doc
    assert(out(0L).getAs[Long]("n_win") == (2 * W + 4) - W + 1)
    assert(out(1L).getAs[Long]("n_win") == (3 + 2 * W) - W + 1)
    // the same planting is INVISIBLE to aligned-segment line dedup
    val ld = queries.Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ld.values.forall(_ == 0L), "line dedup should miss the offset copy")
  }

  test("stored span index: incremental batches equal the one-shot batch query; fold is replay-safe and append-only") {
    import spark.implicits._
    val W = queries.Dedup.SpanW
    def words(tag: String, n: Int) = (1 to n).map(i => s"${tag}_$i").mkString(" ")
    val passage = words("p", 2 * W)
    val b1 = Seq(
      (0L, s"$passage ${words("a", 4)}"),
      (1L, words("b", 3 * W))).toDF("doc_id", "text")
    val b2 = Seq(
      (10L, s"${words("c", 3)} $passage"), // copies b1's passage, shifted
      (11L, words("d", 2 * W))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_spanidx").toString + "/idx"
    assert(queries.Dedup.buildSpanIndex(spark, b1, idx))
    // incremental check of b2 ≡ the batch query over b1 ∪ b2
    // restricted to b2 (ingest order follows doc_id order here)
    val inc = queries.Dedup.spanDedupNewDocs(spark, idx, b2).collect()
      .map(r => r.getLong(0) -> r).toMap
    val oneShot = queries.Dedup.spanDedup(b1.unionByName(b2)).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(10L, 11L); c <- Seq("n_win", "n_dup", "n_dup_cross", "dup_pct"))
      assert(inc(id).getAs[Long](c) == oneShot(id).getAs[Long](c),
        s"doc $id col $c: inc=${inc(id)} oneShot=${oneShot(id)}")
    assert(inc(10L).getAs[Long]("n_dup_cross") == W + 1, inc(10L).toString)
    // fold b2 in; a doc copying b2's fresh content is now flagged
    queries.Dedup.updateSpanIndex(spark, idx, b2)
    val n1 = spark.read.parquet(idx).count()
    val b3 = Seq((20L, words("d", 2 * W))).toDF("doc_id", "text")
    val chk = queries.Dedup.spanDedupNewDocs(spark, idx, b3).collect().head
    assert(chk.getAs[Long]("n_dup") == chk.getAs[Long]("n_win") &&
      chk.getAs[Long]("dup_pct") == 100L, chk.toString)
    // replaying the same batch is a no-op (fold marker), and folds
    // never rewrite stored rows — the passage's first stays in doc 0
    queries.Dedup.updateSpanIndex(spark, idx, b2)
    assert(spark.read.parquet(idx).count() == n1, "replay double-fold")
    val pFirst = spark.read.parquet(idx)
      .filter(col("first_doc") === 0L).count()
    assert(pFirst >= W + 1, "b1's firsts must survive the b2 fold")
    assert(spark.read.parquet(idx).filter(col("first_doc") === 10L)
      .count() > 0, "b2's genuinely-new windows must land")
    assert(spark.read.parquet(idx).groupBy("fp").count()
      .filter(col("count") > 1).count() == 0, "duplicate fp rows in index")
    // a LEGITIMATELY empty index (every doc shorter than one window
    // writes zero data files) must stay probe-able and growable —
    // schema inference over the file-less root would otherwise wedge
    // the lifecycle permanently
    val empty = java.nio.file.Files.createTempDirectory("graft_spanidx0")
      .toString + "/idx"
    assert(queries.Dedup.buildSpanIndex(spark,
      Seq((0L, "too short")).toDF("doc_id", "text"), empty))
    val viaEmpty = queries.Dedup.spanDedupNewDocs(spark, empty, b2).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup")).toMap
    assert(viaEmpty(11L) == 0L, "nothing at rest, nothing duplicated")
    queries.Dedup.updateSpanIndex(spark, empty, b2)
    assert(spark.read.parquet(empty).count() > 0,
      "the empty index must grow out of its emptiness")
  }

  test("q_source_overlap matches a brute-force KMV + exact-Jaccard recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val L = queries.Dedup.LineLen
    val K = queries.Dedup.OverlapK
    // per-source segment-fingerprint sets, mirroring segmentsOf
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sets = docs.groupBy(_._1).map { case (src, rows) =>
      src -> rows.flatMap { case (_, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        if (toks.isEmpty) Seq.empty
        else toks.grouped(L).map(seg =>
          java.lang.Long.parseLong(md5hex(seg.mkString(" ")).take(15), 16))
      }.toSet
    }
    val q = queries.Dedup.qSourceOverlap(spark, sf)
    // scale-shape: the bottom-K runs on the custom bounded-heap operator
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      "per-source bottom-K not planned on TopKPerKey")
    val rows = q.collect()
    assert(rows.length == sets.size * (sets.size - 1) / 2)
    for (r <- rows) {
      val (a, b) = (sets(r.getString(0)), sets(r.getString(1)))
      val inter = (a & b).size.toLong
      assert(r.getAs[Long]("n1") == a.size && r.getAs[Long]("n2") == b.size)
      assert(r.getAs[Long]("inter") == inter, s"${r.getString(0)}/${r.getString(1)}")
      assert(r.getAs[Long]("uni") == a.size + b.size - inter)
      // KMV: bottom-K of the union, counted against both bottom-K sketches
      val (skA, skB) = (a.toSeq.sorted.take(K).toSet, b.toSeq.sorted.take(K).toSet)
      val merged = (skA | skB).toSeq.sorted.take(K)
      val m = merged.count(v => skA(v) && skB(v)).toLong
      assert(r.getAs[Long]("k_eff") == merged.size.toLong)
      assert(r.getAs[Long]("kmv_matches") == m)
      assert(r.getAs[Long]("est_pct") == 100 * m / merged.size)
    }
  }

  test("q_line_dedup removes exactly the cross-doc boilerplate segments and reconstructs in order") {
    import spark.implicits._
    val boiler = (1 to queries.Dedup.LineLen).map(i => s"b$i").mkString(" ")
    def uniq(d: Int, seg: Int) =
      (1 to queries.Dedup.LineLen).map(i => s"u${d}_${seg}_$i").mkString(" ")
    // boilerplate span in docs 0,1,2 (df=3 → removed); doc 3 clean
    val docs = Seq(
      (0L, s"${uniq(0, 1)} $boiler ${uniq(0, 2)}"),
      (1L, s"$boiler ${uniq(1, 1)}"),
      (2L, s"${uniq(2, 1)} $boiler"),
      (3L, s"${uniq(3, 1)} ${uniq(3, 2)}")
    ).toDF("doc_id", "text")
    val out = queries.Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(2) == 1 && out(0L).getLong(1) == 3)
    assert(out(1L).getLong(2) == 1 && out(2L).getLong(2) == 1)
    assert(out(3L).getLong(2) == 0)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 0: boilerplate excised, surviving segments in original order
    assert(out(0L).getString(3) == md5hex(s"${uniq(0, 1)} ${uniq(0, 2)}"))
    // clean doc reconstructs byte-identically
    assert(out(3L).getString(3) == md5hex(s"${uniq(3, 1)} ${uniq(3, 2)}"))
    // a doc that is ENTIRELY boilerplate collapses to the empty text
    val allBoiler = Seq((0L, boiler), (1L, boiler), (2L, boiler))
      .toDF("doc_id", "text")
    val collapsed = queries.Dedup.lineDedup(allBoiler).collect()
    assert(collapsed.forall(_.getString(3) == md5hex("")))
  }

  test("q_line_dedup: a mass-duplicated corpus stays linear — count join, no pair product") {
    import spark.implicits._
    // 500 byte-identical docs: every segment's df is 500 (≥ 3), so
    // everything is boilerplate. A pair-generating design would build
    // 500² candidates here; the count-aggregated join-back keeps the
    // work at one row per (doc, segment).
    val docs = (0L until 500L)
      .map(i => (i, "a b c d e f g h i j k l m n o"))
      .toDF("doc_id", "text")
    val out = queries.Dedup.lineDedup(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    val rows = out.collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getLong(1) == 2 && r.getLong(2) == 2),
      "all segments of every doc are corpus-wide boilerplate")
  }

  test("stored segment-df index: scrub ≡ batch line dedup; incremental build ≡ one-shot; threshold crossing scrubs later docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_linedf").toString
    val full = s"$tmp/full"
    // stored ≡ batch: index built over the corpus, then the corpus
    // scrubbed against it, matches qLineDedup row for row
    assert(queries.Dedup.buildLineDfIndex(spark, docs, full))
    val viaIndex = queries.Dedup.scrubLines(spark, full, docs)
      .selectExpr("doc_id", "n_seg", "n_removed", "md5(text_clean) AS clean_fp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val viaBatch = queries.Dedup.lineDedup(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(viaIndex == viaBatch && viaIndex.nonEmpty)
    // incremental: build from the first half, fold in the second —
    // identical df table to the one-shot build
    val inc = s"$tmp/inc"
    val (h1, h2) = (docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"))
    assert(queries.Dedup.buildLineDfIndex(spark, h1, inc))
    queries.Dedup.updateLineDfIndex(spark, inc, h2)
    def dfMap(p: String) = spark.read.parquet(p)
      .select("seg_fp", "n_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfMap(inc) == dfMap(full))
    // threshold crossing: a segment at df 2 is not boilerplate; one
    // more carrier pushes it over and NEW docs lose it
    val seg = (1 to queries.Dedup.LineLen).map(i => s"tc$i").mkString(" ")
    val cross = s"$tmp/cross"
    assert(queries.Dedup.buildLineDfIndex(spark,
      Seq((1L, seg), (2L, seg)).toDF("doc_id", "text"), cross))
    val before = queries.Dedup.scrubLines(spark, cross,
      Seq((9L, seg)).toDF("doc_id", "text")).head
    assert(before.getLong(2) == 0, "df=2 segment must survive")
    queries.Dedup.updateLineDfIndex(spark, cross,
      Seq((3L, seg)).toDF("doc_id", "text"))
    val after = queries.Dedup.scrubLines(spark, cross,
      Seq((10L, seg)).toDF("doc_id", "text")).head
    assert(after.getLong(2) == 1 && after.getString(3) == "",
      "df=3 segment must scrub from post-crossing docs")
  }

  test("q_dedup_exact covers every doc and canonical <= doc_id") {
    val df = queries.Dedup.qDedupExact(spark, sf)
    assert(df.count() == Tables.documents(spark, sf).count())
    assert(df.filter("canonical_id > doc_id").count() == 0)
  }

  test("q_ngram_jaccard finds the planted near-dup pairs, all j >= 50%") {
    val df = queries.Dedup.qNgramJaccard(spark, sf)
    assert(df.count() >= 10, "expected planted near-dup pairs")
    assert(df.filter("jac_pct < 50 OR d1 >= d2").count() == 0)
  }

  test("q_dedup_threshold_curve equals a driver recompute mirroring the df cap") {
    val docsRows = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nCorpus = docsRows.length.toLong
    // driver-side exact-Jaccard candidates, same discipline as the
    // plan: per-doc DISTINCT 3-word shingles, ng uncapped, inverted
    // index capped at GramDfCap, floor-DIV decile at >= 10%
    val shingles = docsRows.map { case (id, t) =>
      val w = t.split(" ")
      id -> (if (w.length < 3) Set.empty[String]
             else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet)
    }.toMap
    val df = shingles.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val capped = shingles.map { case (id, gs) =>
      id -> gs.filter(df(_) <= queries.Dedup.GramDfCap) }
    val ids = docsRows.map(_._1).sorted
    val pairs = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d1 = ids(i); d2 = ids(j)
      inter = (capped(d1) & capped(d2)).size.toLong if inter > 0
      un = shingles(d1).size + shingles(d2).size - inter
      if inter * 100 >= un * queries.Dedup.DedupCurveFloorPct
    } yield (d1, d2, 100 * inter / un)
    val exp = (1L to 10L).map { t =>
      val sel = pairs.filter(_._3 / 10 >= t)
      val docsTouched = sel.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      (t * 10, sel.length.toLong, docsTouched, docsTouched * 1000 / nCorpus)
    }
    val got = queries.Dedup.qDedupThresholdCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == exp, s"curve mismatch:\n got $got\n exp $exp")
    // the curve is non-increasing in the threshold and non-vacuous
    assert(exp.sliding(2).forall { case Seq(a, b) => a._2 >= b._2 && a._3 >= b._3 })
    assert(exp.head._2 > 0, "no candidates at the 10% floor — curve vacuous")
    assert(exp.exists { case (tp, n, _, _) => tp >= 50 && n > 0 },
      "no pairs above 50% — planted near-dups missing from the curve")
    // cross-check: the 50% point equals the registered near-dup query
    val n50 = queries.Dedup.qNgramJaccard(spark, sf).count()
    assert(exp.find(_._1 == 50L).get._2 == n50,
      "curve at 50% disagrees with q_ngram_jaccard")
  }

  test("q_cluster_sizes equals the size census of the cluster labels and conserves the corpus") {
    val labels = queries.Dedup.qDedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nCorpus = Tables.documents(spark, sf).count()
    assert(labels.length.toLong == nCorpus, "clusters must label every doc")
    val exp = labels.groupBy(_._2).values.map(_.length.toLong).toSeq
      .groupBy(identity).map { case (sz, cs) =>
        (sz, cs.length.toLong, sz * cs.length, sz * cs.length * 1000 / nCorpus) }
      .toSeq.sortBy(_._1)
    val got = queries.Dedup.qClusterSizes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == exp, s"size census mismatch:\n got $got\n exp $exp")
    // conservation: the distribution's doc mass IS the corpus
    assert(got.map(_._3).sum == nCorpus)
    // non-vacuous: singletons AND at least one multi-doc cluster
    assert(got.exists(_._1 == 1L) && got.exists(_._1 > 1L),
      "corpus must exercise both unique docs and real clusters")
  }

  test("q_dedup_survivors equals the min-id survivor recompute and conserves the corpus") {
    val labels = queries.Dedup.qDedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val exp = docs.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.filter(d => labels(d._1) == d._1)
      val (nd, ct) = (ds.length.toLong, ds.map(_._3).sum)
      val (nk, ck) = (kept.length.toLong, kept.map(_._3).sum)
      src -> (nd, ct, nk, ck, nk * 1000 / nd, ck * 1000 / ct)
    }
    val got = queries.Dedup.qDedupSurvivors(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == exp, s"survivor census mismatch:\n got $got\n exp $exp")
    // conservation: total kept docs = number of components (each
    // contributes exactly its label doc), total docs = corpus
    assert(got.values.map(_._1).sum == labels.size.toLong)
    assert(got.values.map(_._3).sum == labels.values.toSet.size.toLong)
    // non-vacuous: near-dups exist, so SOME source must lose docs
    assert(got.values.exists(v => v._3 < v._1),
      "a corpus with near-dup clusters must drop at least one doc")
  }

  test("q_dedup_lsh_pairs recalls most exact-Jaccard pairs") {
    val exact = queries.Dedup.qNgramJaccard(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = queries.Dedup.qDedupLshPairs(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / math.max(exact.size, 1)
    assert(recall >= 0.7, s"LSH recall $recall too low (${exact.size} exact, ${lsh.size} lsh)")
  }

  test("q_dedup_simhash pairs are within hamming 3") {
    val df = queries.Dedup.qDedupSimhash(spark, sf)
    assert(df.filter("hamming > 3 OR d1 >= d2").count() == 0)
  }

  test("q_ann_bruteforce returns exactly k ranked neighbors per query") {
    val df = queries.Ann.qAnnBruteforce(spark, sf).cache()
    val per = df.groupBy("qid").count().collect()
    assert(per.length == 5 && per.forall(_.getLong(1) == 10))
    assert(df.filter("rnk < 1 OR rnk > 10").count() == 0)
    // ranks strictly follow cosine descending within each query
    val bad = df.selectExpr("qid",
      "cosine - lead(cosine) OVER (PARTITION BY qid ORDER BY rnk) AS step")
      .filter("step < 0").count()
    assert(bad == 0)
    df.unpersist()
  }

  test("q_ann_filtered stays inside each query's label slice with dense ranks") {
    import spark.implicits._
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val df = queries.Ann.qAnnFiltered(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // filter-then-search: every neighbor shares its query's label
    for (r <- rows)
      assert(labels(r.getAs[Long]("vid")) == labels(r.getAs[Long]("qid")),
        s"query ${r.getAs[Long]("qid")} leaked label")
    // ranks are dense from 1 and cosine-monotone within each query
    for ((_, rs) <- rows.groupBy(_.getAs[Long]("qid"))) {
      val ranks = rs.map(_.getAs[Int]("rnk")).sorted
      assert(ranks.toSeq == (1 to ranks.length).toSeq)
    }
    assert(df.selectExpr("qid",
      "cosine - lead(cosine) OVER (PARTITION BY qid ORDER BY rnk) AS step")
      .filter("step < 0").count() == 0)
    // a selective filter returns FEWER candidates than the corpus-wide
    // search ranks — never padded back to k from outside the slice
    for ((q, rs) <- rows.groupBy(_.getAs[Long]("qid")))
      assert(rs.length <= 10 &&
        rs.length <= labels.values.count(_ == labels(q)) - (if (q < 5) 1 else 0))
    df.unpersist()
  }

  test("q_ann_range returns EXACTLY the above-threshold set (vs a brute-force double check)") {
    import spark.implicits._
    val tau = queries.Ann.RangeTauMilli.toDouble / 1000.0
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble * 1e7)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    val exp = (for {
      // keys.toSeq, NOT the Map: a Map generator rebuilds a Map at
      // each yield stage and the constant-q tuples collapse to one
      // entry per probe
      q <- 0L until 5L; v <- vecs.keys.toSeq if v != q
      // the plan's EXACT integer membership (not the float cos >= tau,
      // which can disagree at the boundary by a rounding hair)
      d = dot(vecs(q), vecs(v))
      if d > 0 && BigInt(1000000) * BigInt(d) * BigInt(d) >=
        BigInt(queries.Ann.RangeTauMilli * queries.Ann.RangeTauMilli) *
          BigInt(dot(vecs(q), vecs(q))) * BigInt(dot(vecs(v), vecs(v)))
    } yield (q, v)).toSet
    val rows = queries.Ann.qAnnRange(spark, sf).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"range set mismatch: extra=${got -- exp} missing=${exp -- got}")
    assert(got.nonEmpty && got.map(_._1).size >= 3,
      "range search vacuous — tau no longer matches the corpus")
    // every returned cosine clears the threshold; every excluded
    // near-boundary pair does not (spot-check the float readables)
    for (r <- rows) {
      assert(r.getDouble(3) >= tau - 1e-9, s"row below tau: $r")
      assert(r.getLong(2) > 0)
    }
    // result sizes VARY per probe — the semantics top-k cannot express
    val sizes = rows.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(sizes.size > 1 || sizes.head != 10,
      "every probe returned the same k-looking count — suspicious")
  }

  test("q_hard_negatives mines the banded top-k exactly; near-dups stay out") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble * 1e7)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble /
        (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    val lo2 = BigInt(queries.Ann.RangeTauMilli * queries.Ann.RangeTauMilli)
    val hi2 = BigInt(queries.Ann.NegHiMilli * queries.Ann.NegHiMilli)
    val band = (for {
      q <- 0L until 5L; v <- vecs.keys.toSeq if v != q
      d = dot(vecs(q), vecs(v))
      p = BigInt(1000000) * BigInt(d) * BigInt(d)
      nn = BigInt(dot(vecs(q), vecs(q))) * BigInt(dot(vecs(v), vecs(v)))
      if d > 0 && p >= lo2 * nn && p < hi2 * nn
    } yield (q, (v, cos(vecs(q), vecs(v))))).groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy { case (v, c) => (-c, v) }.take(10))
      .toMap
    val got = queries.Ann.qHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(got.keySet == band.filter(_._2.nonEmpty).keySet)
    for ((q, exp) <- band if exp.nonEmpty)
      assert(got(q) == exp.map(_._1), s"banded top-k mismatch for $q")
    assert(got.nonEmpty, "band empty — floor/cap no longer match the corpus")
    // the mining cap does its job: anything the band returns is
    // strictly below the near-dup ceiling, and the brute-force top-1
    // (a planted near-dup where one exists) never appears
    val hi = queries.Ann.NegHiMilli.toDouble / 1000.0
    for ((q, vs) <- got; v <- vs)
      assert(cos(vecs(q), vecs(v)) < hi, s"near-dup $v leaked into $q's band")
    val top1 = queries.Ann.qAnnBruteforce(spark, sf).collect()
      .filter(_.getInt(4) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((q, v1) <- top1 if cos(vecs(q), vecs(v1)) >= hi)
      assert(!got.getOrElse(q, Seq.empty).contains(v1),
        s"brute-force top-1 near-dup $v1 leaked into $q's negatives")
  }

  test("q_ann_mips ranks by exact integer dot; magnitude outranks alignment") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble * 1e7)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val exp = (0L until 5L).map { q =>
      q -> vecs.keys.toSeq.filter(_ != q)
        .map(v => (v, dot(vecs(q), vecs(v))))
        .sortBy { case (v, d) => (-d, v) }.take(10)
    }.toMap
    val got = queries.Ann.qAnnMips(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).toSeq).toMap
    assert(got.keySet == exp.keySet)
    for ((q, e) <- exp)
      assert(got(q).map(t => (t._2, t._3)) == e,
        s"MIPS top-k mismatch for $q")
    // the test corpus is UNIT-NORM (norms within 1e-7 of 1), so MIPS
    // and cosine rankings coincide on it by construction — the
    // magnitude semantics is proven on a planted non-normalized
    // fixture through the same plan body: a longer, less-aligned
    // vector must outrank a shorter better-aligned one
    val fixture = Seq(
      (0L, Array(10000000L, 0L)), // the query: unit x
      (7L, Array(9000000L, 1000000L)), // short, nearly aligned
      (8L, Array(30000000L, -10000000L))) // 3x longer, 18 deg off
      .toDF("vec_id", "iv")
    val fx = queries.Ann.mipsOver(fixture).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(3))
      .map(r => (r.getLong(1), r.getLong(2)))
    // dots: 7 -> 9e13; 8 -> 3e14 — magnitude wins under MIPS
    assert(fx.map(_._1).toSeq == Seq(8L, 7L),
      s"magnitude did not outrank alignment: $fx")
    assert(fx.map(_._2).toSeq == Seq(300000000000000L, 90000000000000L))
    def cosF(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble /
        (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    assert(cosF(Array(10000000L, 0L), Array(9000000L, 1000000L)) >
      cosF(Array(10000000L, 0L), Array(30000000L, -10000000L)),
      "fixture broken: cosine must prefer the short aligned vector")
  }

  test("q_ann_range_lsh is a strict candidate subset; range recall counts the trade") {
    val exact = queries.Ann.qAnnRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lsh = queries.Ann.qAnnRangeLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // bucketing can only DROP members, never invent them (the same
    // membership predicate runs on a candidate subset)
    assert(lsh.toSet.subsetOf(exact.toSet), "bucketed range invented a pair")
    assert(lsh.nonEmpty, "multi-probe buckets recalled nothing — vacuous")
    val rec = queries.Ann.qAnnRangeRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val byQ = exact.groupBy(_._1)
    assert(rec.keySet == byQ.keySet,
      "every probe with a non-empty exact set needs a recall row")
    for ((q, es) <- byQ) {
      val hit = es.count(lsh.toSet)
      assert(rec(q) == (es.length.toLong, hit.toLong,
        100L * hit / es.length), s"probe $q recall row")
    }
  }

  test("q_ann_recall equals the overlap of the two searches and bounds hold") {
    val exact = queries.Ann.qAnnBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
    val lsh = queries.Ann.qAnnLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val rows = queries.Ann.qAnnRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == exact.map(_._1).toSet)
    for ((qid, pairs) <- exact.groupBy(_._1)) {
      val m = pairs.count(lsh.contains).toLong
      val r = rows(qid)
      assert(r.getAs[Long]("n_exact") == pairs.length.toLong, s"query $qid")
      assert(r.getAs[Long]("n_match") == m, s"query $qid")
      assert(r.getAs[Long]("recall_pct") == 100 * m / pairs.length, s"query $qid")
      assert(r.getAs[Long]("recall_pct") >= 0 && r.getAs[Long]("recall_pct") <= 100)
    }
  }

  test("q_ann_recall_ivfpq equals the overlap of brute force and the IVF×PQ search") {
    val exact = queries.Ann.qAnnBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
    val pq = queries.Ann.qAnnIvfPq(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val rows = queries.Ann.qAnnRecallIvfpq(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == exact.map(_._1).toSet)
    var matched = 0L
    for ((qid, pairs) <- exact.groupBy(_._1)) {
      val m = pairs.count(pq.contains).toLong
      matched += m
      val r = rows(qid)
      assert(r.getAs[Long]("n_exact") == pairs.length.toLong, s"query $qid")
      assert(r.getAs[Long]("n_match") == m, s"query $qid")
      assert(r.getAs[Long]("recall_pct") == 100 * m / pairs.length, s"query $qid")
    }
    assert(matched > 0, "IVF×PQ must recall SOMETHING or the telemetry is vacuous")
  }

  test("q_ann_recall_curve: the deployed nprobe point reconciles with the IVF search; recall is monotone in nprobe") {
    val curve = queries.Ann.qAnnRecallCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_match"),
          r.getAs[Long]("recall_pct"))).toMap
    val qids = curve.keySet.map(_._1)
    assert(curve.keySet == qids.flatMap(q => Seq(1L, 2L, 4L).map(q -> _)),
      "curve missing operating points")
    // reconciliation: the np = 2 column must equal the independently
    // composed recall of the REGISTERED q_ann_ivf search (NProbe = 2)
    // against brute force — the deployed point sits ON the curve
    val exact = queries.Ann.qAnnBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid")))
    val ivf = queries.Ann.qAnnIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    for ((qid, pairs) <- exact.groupBy(_._1)) {
      val m = pairs.count(ivf.contains).toLong
      assert(curve((qid, 2L)) == (pairs.length.toLong, m,
        100 * m / pairs.length),
        s"np=2 curve point != composed q_ann_ivf recall for query $qid")
    }
    // widening the probe list can only help: recall monotone in np,
    // and the sweep must SHOW a curve (not a flat 100% — otherwise
    // the telemetry can't guide the knob)
    for (q <- qids) {
      val Seq(r1, r2, r4) = Seq(1L, 2L, 4L).map(np => curve((q, np))._3)
      assert(r1 <= r2 && r2 <= r4, s"recall not monotone for query $q")
    }
    assert(qids.exists(q => curve((q, 1L))._3 < curve((q, 4L))._3),
      "sweep is flat — no operating-point signal")
  }

  test("q_ann_lsh results are a subset of brute-force candidates' buckets") {
    val df = queries.Ann.qAnnLsh(spark, sf)
    assert(df.count() > 0)
    assert(df.filter("rnk > 10").count() == 0)
  }

  // ---- skew guards: a degenerate input must not produce a quadratic
  // stage. 1000 identical docs put every gram / hash block / bucket
  // over its cap, so candidate generation drops them all — zero pairs
  // and zero per-key quadratic work (mass-duplicates are exact-dedup's
  // job, which does catch them: see last assertion).
  private def identicalDocs(n: Int) = {
    import spark.implicits._
    (0L until n.toLong)
      .map(i => (i, "the same boilerplate text repeated in every document here"))
      .toDF("doc_id", "text")
  }

  test("ngram jaccard df-cap drops corpus-frequent grams (degenerate input)") {
    val docs = identicalDocs(1000)
    assert(queries.Dedup.ngramJaccardPairs(docs).count() == 0)
  }

  test("simhash piece-bucket cap kills the mass-duplicate block (degenerate input)") {
    val docs = identicalDocs(1000)
    assert(queries.Dedup.simhashPairs(docs).count() == 0)
  }

  test("lsh bucket cap kills the mass-duplicate bucket (degenerate input)") {
    val docs = identicalDocs(1000)
    assert(queries.Dedup.lshPairs(docs).count() == 0)
  }

  test("q_dedup_recall equals the overlap of the exact and LSH pair sets") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ex = pairsOf(queries.Dedup.qNgramJaccard(spark, sf))
    val ls = pairsOf(queries.Dedup.qDedupLshPairs(spark, sf))
    val r = queries.Dedup.qDedupRecall(spark, sf).collect().head
    assert(r.getAs[Long]("n_exact") == ex.size.toLong)
    assert(r.getAs[Long]("n_lsh") == ls.size.toLong)
    assert(r.getAs[Long]("n_match") == (ex & ls).size.toLong)
    assert(r.getAs[Long]("recall_pct") ==
      (if (ex.nonEmpty) 100L * (ex & ls).size / ex.size else 100L))
    // the pipeline's health bar: the LSH stage should catch most
    // exact pairs on the harness corpus (the spec-level 70% bound)
    assert(r.getAs[Long]("recall_pct") >= 70, r.toString)
  }

  test("span dedup on mass duplicates: one canonical doc, everything else pure dup (degenerate input)") {
    // unlike the pair-generating stages above (which CAP the block
    // away), span dedup has no pair product to guard: the fp-keyed
    // rank costs one row per window instance however hot the key, so
    // a degenerate corpus must COMPLETE and count exactly — doc 0
    // owns every first occurrence, every other doc is 100% cross-dup
    val n = 1000
    // text long enough to clear SpanW: extend the shared line
    val text = (1 to 2 * queries.Dedup.SpanW).map(i => s"same$i").mkString(" ")
    import spark.implicits._
    val docs = (0L until n.toLong).map(i => (i, text)).toDF("doc_id", "text")
    val out = queries.Dedup.spanDedup(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val perDoc = queries.Dedup.SpanW + 1L // 2W tokens -> W+1 windows
    assert(out.size == n)
    assert(out(0L).getAs[Long]("n_dup") == 0)
    for (i <- 1L until n.toLong) {
      assert(out(i).getAs[Long]("n_win") == perDoc, s"doc $i")
      assert(out(i).getAs[Long]("n_dup") == perDoc, s"doc $i")
      assert(out(i).getAs[Long]("n_dup_cross") == perDoc, s"doc $i")
      assert(out(i).getAs[Long]("dup_pct") == 100L, s"doc $i")
    }
  }

  test("embedding bucket cap kills a degenerate hub bucket") {
    import spark.implicits._
    val vec = Array.tabulate(64)(i => (if (i % 2 == 0) 0.1f else -0.1f))
    val emb = (0L until 500L).map(i => (i, vec)).toDF("vec_id", "embedding")
    assert(queries.Dedup.embeddingNearDups(emb).count() == 0)
  }

  test("q_decontaminate flags the planted leak; bench boilerplate is capped out") {
    import spark.implicits._
    val bp = "standard eval header boilerplate shared by every benchmark item in the suite "
    val item0 = (0 until 20).map(i => f"leakable$i%03d").mkString(" ")
    val docs = Seq(
      (0L, bp + item0),
      (97L, bp + "unique tail for benchmark item ninety-seven goes right here"),
      (194L, bp + "another unique tail for benchmark item one-ninety-four"),
      (291L, bp + "yet another unique tail for item two-ninety-one to close"),
      // the leak: contains eval item 0 verbatim
      (1L, "training doc that leaks the eval item: " + item0 + " plus chatter"),
      (2L, "a completely unrelated training document about something else entirely"),
      // below ContamMinHits: only 13 grams of item 0
      (3L, "tiny overlap only: " + item0.substring(0, 20)),
      // pure bench boilerplate — its grams are df-capped out of the index
      (4L, bp + "corpus doc that is nothing but the shared boilerplate")
    ).toDF("doc_id", "text")
    val out = queries.Dedup.decontaminate(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L),
      s"expected only doc 1 flagged, got ${rows.mkString(",")}")
    assert(rows.head.getAs[Long]("n_bench") == 1 &&
      rows.head.getAs[Long]("top_bench") == 0L)
    assert(out.queryExecution.executedPlan.toString.contains("Broadcast"),
      "bench gram set must reach the corpus scan as a broadcast")
  }

  test("stored bench index: decontaminateNewDocs equals the batch query on the corpus replay") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bench_idx").toString + "/idx"
    val docs = Tables.documents(spark, sf)
    assert(queries.Dedup.buildBenchIndex(spark, docs, idx))
    val replay = queries.Dedup.decontaminateNewDocs(spark, idx,
        docs.filter($"doc_id" % queries.Dedup.BenchMod =!= 0))
      .collect().map(_.toSeq).toSeq
    val batch = queries.Dedup.qDecontaminate(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && replay == batch,
      s"stored-index replay diverged: ${replay.size} vs ${batch.size} rows")
    // rebuilding over a complete index is a lifecycle no-op
    assert(!queries.Dedup.buildBenchIndex(spark, docs, idx))
  }

  test("exact dedup still collapses the mass-duplicate cluster the caps dropped") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    val dups = identicalDocs(1000)
      .select($"doc_id", md5($"text").as("fp"))
      .withColumn("canonical_id", min($"doc_id").over(w))
      .filter($"doc_id" =!= $"canonical_id")
    assert(dups.count() == 999)
  }

  test("16-bit sign-LSH pair set is a subset of the 5-bit one") {
    val emb = Tables.embeddings(spark, sf)
    // cap disabled: the subset property holds for the raw bucketing
    // only (a dropped over-cap coarse bucket could otherwise keep its
    // finer sub-buckets and break containment)
    def pairs(dims: Seq[Int]) =
      queries.Dedup.embeddingNearDups(emb, dims, cap = Int.MaxValue)
        .select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p16 = pairs(queries.Dedup.BucketDims16)
    val p5 = pairs(queries.Dedup.BucketDims)
    assert(queries.Dedup.BucketDims16.toSet.intersect(queries.Dedup.BucketDims.toSet)
      == queries.Dedup.BucketDims.toSet) // precondition for subset property
    assert(p16.subsetOf(p5), s"16-bit pairs not a subset: ${p16 -- p5}")
  }

  test("multi-probe LSH recall >= single-probe recall vs brute force") {
    def topkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topkSet(queries.Ann.qAnnBruteforce(spark, sf))
    val single = topkSet(queries.Ann.annLshSingleProbe(spark, sf))
    val multi = topkSet(queries.Ann.qAnnLsh(spark, sf))
    val rSingle = (exact & single).size.toDouble / exact.size
    val rMulti = (exact & multi).size.toDouble / exact.size
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single-probe $rSingle")
    assert(rMulti > 0.0)
  }

  test("q_edit_dist_pairs distances are exact and within the threshold") {
    val df = queries.Dedup.qEditDistPairs(spark, sf).cache()
    assert(df.count() > 0, "expected near-dup prefixes among planted pairs")
    assert(df.filter(s"edist > ${queries.Dedup.EditDistMax} OR edist < 0 OR d1 >= d2").count() == 0)
    // spot-check one pair against a driver-side Levenshtein; prefixes
    // come from Spark's OWN substring so the unit (codepoints) matches
    val r = df.head()
    val texts = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(r.getLong(0), r.getLong(1)))
      .select(col("doc_id"), substring(col("text"), 1, 64).as("pref"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    assert(r.getInt(2) == lev(texts(r.getLong(0)), texts(r.getLong(1))))
    df.unpersist()
  }

  test("edit-distance join never verifies without a shared informative gram (degenerate input)") {
    assert(queries.Dedup.editDistPairs(identicalDocs(1000)).count() == 0)
  }

  test("q_pipeline_clean keeps at most the quality-passing canonical docs") {
    val stats = queries.Dedup.qPipelineClean(spark, sf)
    val kept = stats.agg(sum("n_docs")).head.getLong(0)
    val total = Tables.documents(spark, sf).count()
    assert(kept > 0 && kept <= total)
    // the kept count can never exceed the number of distinct contents
    val distinctContents = Tables.documents(spark, sf)
      .select(md5(col("text"))).distinct().count()
    assert(kept <= distinctContents)
  }

  test("q_ann_ivf returns ranked neighbors from the probed lists only") {
    val df = queries.Ann.qAnnIvf(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter("rnk < 1 OR rnk > 10").count() == 0)
    // candidate discipline: every reported neighbor's cosine must also
    // appear in the brute-force ranking with rank >= its ivf rank
    // (ivf searches a subset, so it can only miss, never invent)
    val bf = queries.Ann.qAnnBruteforce(spark, sf)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfTop1 = df.filter("rnk = 1")
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (ivfTop1 & bf).size.toDouble / ivfTop1.size
    assert(overlap > 0.0, "ivf top-1 shares nothing with brute-force top-10")
    df.unpersist()
  }

  test("q_dedup_contain: directed pairs above threshold; winnow blocking recovers every pair") {
    val df = queries.Dedup.qDedupContain(spark, sf).cache()
    assert(df.count() > 0, "expected containment pairs (exact dups contain each other)")
    assert(df.filter(
      s"d1 = d2 OR cont_pct < ${queries.Dedup.ContainPctMin}" +
        s" OR ng1 < ${queries.Dedup.ContainMinGrams}").count() == 0)
    // exact duplicates are mutually contained: every exact-dup pair with
    // enough grams must appear in BOTH directions
    val dups = queries.Dedup.qDedupExact(spark, sf)
      .filter("is_dup = 1").select("doc_id", "canonical_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = df.select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bigEnough = df.select("d1").collect().map(_.getLong(0)).toSet
    dups.filter(p => bigEnough(p._1) && bigEnough(p._2)).foreach { case (a, b) =>
      assert(got((a, b)) && got((b, a)),
        s"exact-dup pair ($a,$b) missing from containment output")
    }
    // the sparse winnowing fingerprint index (the at-rest accelerator)
    // blocks losslessly for this relation: every emitted pair shares a
    // selected fingerprint
    val fp = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(functions.TextFunctions.winnowFingerprints(col("text"), k = 8, w = 4)).as("fp"))
      .distinct()
    val cand = fp.select(col("doc_id").as("d1"), col("fp"))
      .join(fp.select(col("doc_id").as("d2"), col("fp")), "fp")
      .filter("d1 <> d2").select("d1", "d2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = got.diff(cand)
    assert(missed.isEmpty,
      s"winnow blocking missed ${missed.size} containment pairs: ${missed.take(3)}")
    df.unpersist()
  }

  test("stored containment index: new-batch match equals batch containment restricted to new docs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_containidx").toString
    queries.Dedup.buildContainIndex(spark, sf, tmp)
    // replay a fifth of the corpus as the "new" nightly batch: the
    // stored-index path must reproduce exactly what the batch operator
    // says about those docs (its d1 ∈ new restriction)
    val newDocs = Tables.documents(spark, sf).filter("doc_id % 5 = 0")
    val got = queries.Dedup.containNewDocs(spark, tmp, newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = queries.Dedup.qDedupContain(spark, sf)
      .filter("d1 % 5 = 0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want,
      s"stored-index match diverges: +${(got diff want).take(3)} -${(want diff got).take(3)}")
    assert(got.nonEmpty, "expected replayed docs to match their corpus duplicates")
  }

  test("containment join does no quadratic work on mass-identical input (degenerate)") {
    // 1000 identical docs: every char-8-gram has df 1000 > cap, so the
    // capped index empties and zero candidate pairs are generated
    assert(queries.Dedup.containPairs(identicalDocs(1000)).count() == 0)
  }

  test("no cartesian product in the pair plans") {
    for (q <- Seq(queries.Dedup.qNgramJaccard(spark, sf),
      queries.Dedup.qDedupLshPairs(spark, sf),
      queries.Dedup.qDedupSimhash(spark, sf),
      queries.Dedup.qEditDistPairs(spark, sf),
      queries.Dedup.qDedupEmbedding(spark, sf))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "cartesian in pair plan")
    }
  }

  test("q_ann_pq: stored codes index — ADC scan reads [vec_id, codes] only, LUT rederives, k-means descends, recall strong") {
    def topkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq").toString
    val codesPath = s"$tmp/pq_codes"
    // build the production index: trained codebook + stored codes table
    val cent = queries.Ann.buildPqIndex(spark, sf, codesPath)
    assert(sources.Catalog.tableComplete(spark, codesPath))
    // training descends (or at least never worsens) the quantization
    // error Lloyd minimizes, vs the raw seed codebook
    val e = queries.Ann.intEmb(spark, sf)
    val errSeed = queries.Ann.pqQuantError(e, queries.Ann.pqSeed(e))
    val errTrained = queries.Ann.pqQuantError(e, cent)
    assert(errTrained <= errSeed,
      s"k-means worsened quantization error: $errTrained > seed $errSeed")
    // the production search over the STORED table: its ADC stage must
    // scan the codes table with ReadSchema exactly [vec_id, codes]
    // (AQE off so the pre-execution plan exposes the scans)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val res = queries.Ann.pqSearchStored(spark, sf, codesPath, cent)
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val codeScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("pq_codes")))
      assert(codeScans.nonEmpty, "no scan of the stored codes table in the plan")
      assert(codeScans.forall(_.requiredSchema.fieldNames.toSeq == Seq("vec_id", "codes")),
        s"codes scan reads ${codeScans.map(_.requiredSchema.fieldNames.toSeq)}")
      // stored-table search ≡ the in-plan verify-gate query
      assert(res.collect().toSeq == queries.Ann.qAnnPq(spark, sf).collect().toSeq,
        "stored-index search diverges from q_ann_pq")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // ADC consistency: the engine's adc for a candidate equals the
    // driver-side LUT sum over that row's STORED codes
    import spark.implicits._
    val qdf = queries.Ann.pqQueryFrame(spark, e, cent)
    val one = queries.Ann.pqAdcCandidates(
      spark.read.parquet(codesPath).select($"vec_id", $"codes"), qdf).head()
    val (qid, vid, adc) = (one.getLong(0), one.getLong(1), one.getLong(2))
    val codesRow = spark.read.parquet(codesPath)
      .filter($"vec_id" === vid).head().getSeq[Int](1)
    val qiv = e.filter($"vec_id" === qid).head().getSeq[Long](1)
    val lut = queries.Ann.pqLut(cent, qiv)
    val want = codesRow.zipWithIndex.map { case (c, m) => lut(m)(c) }.sum
    assert(adc == want, s"engine ADC $adc != LUT rederivation $want")
    // recall@10 against the exact answer (deterministic data)
    val exact = topkSet(queries.Ann.qAnnBruteforce(spark, sf))
    val pq = topkSet(queries.Ann.qAnnPq(spark, sf))
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
    // output shape matches the other ANN ops: K rows per query, dense ranks
    val byQ = queries.Ann.qAnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(4))).groupBy(_._1)
    assert(byQ.values.forall(g => g.map(_._2).sorted.toSeq == (1 to g.length).toSeq))
  }

  test("ivfTrain: quality proxies hold on the fixed corpus, codebook is partition-deterministic") {
    val e = queries.Ann.intEmb(spark, sf)
    val seed = queries.Ann.ivfSeed(e)
    val trained = queries.Ann.ivfTrain(e)
    // EMPIRICAL pins on the fixed deterministic corpus (cosine
    // assignment + unnormalized floor-mean update is not provably
    // monotone in either quantity): they catch plumbing regressions
    // in training; if seeds/data/iterations change and one flips,
    // re-measure rather than assume the algorithm broke
    val mcSeed = queries.Ann.ivfMeanCos(e, seed)
    val mcTrained = queries.Ann.ivfMeanCos(e, trained)
    assert(mcTrained >= mcSeed,
      s"training worsened mean assigned cosine on the fixed corpus: $mcTrained < seed $mcSeed")
    // untrained seed centroids skew the partition sizes the IVFADC
    // table inherits; on this corpus training shrinks the largest
    // list (the straggler bound at scale)
    def maxList(cents: Seq[(Long, Seq[Long], Long)]): Long = {
      import spark.implicits._
      queries.Ann.withListAssignment(e, cents)
        .groupBy($"acid").count().agg(org.apache.spark.sql.functions.max($"count"))
        .head().getLong(0)
    }
    assert(maxList(trained) <= maxList(seed),
      "training grew the largest IVF list")
    // integer sums/counts are order-independent → same codebook under
    // any partitioning
    assert(queries.Ann.ivfTrain(e.repartition(3)) ==
      queries.Ann.ivfTrain(e.repartition(17)),
      "IVF codebook varies with partitioning")
  }

  test("residual PQ codebook is non-degenerate: >1 distinct centroid per subspace") {
    // the round-8 seeding bug: residual PQ seeded from the IVF
    // codebook rows themselves -> all-zero seed residuals -> every
    // subspace collapses to ~1 effective centroid and ADC carries no
    // information. Guard: every subspace of the trained residual
    // codebook must keep >1 distinct centroid.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_cb").toString
    val (_, pq) = queries.Ann.buildIvfPqIndex(spark, sf, s"$tmp/codes")
    pq.zipWithIndex.foreach { case (sub, m) =>
      assert(sub.distinct.length > 1,
        s"residual PQ subspace $m degenerated to ${sub.distinct.length} distinct centroid(s)")
    }
  }

  test("stored ANN append: batch-encoded appends ≡ full re-encode of the union under the frozen model; compaction preserves content") {
    import spark.implicits._
    val raw = Tables.embeddings(spark, sf)
    // the nightly batch: disjoint from the query rows [0,5), the IVF
    // seed rows [5,13) and the residual-PQ seed rows [13,21), so the
    // subset build trains on exactly the seeds the full build would
    val batch = raw.filter("vec_id >= 21 AND vec_id % 10 = 7")
    val old = raw.filter("NOT (vec_id >= 21 AND vec_id % 10 = 7)")

    // ---- flat-bucketed PQ codes table ----
    val tmp = java.nio.file.Files.createTempDirectory("graft_append").toString
    val pqPath = s"$tmp/pq_codes"
    val cent = queries.Ann.buildPqIndexOf(spark, old, pqPath)
    queries.Ann.appendPqVectors(spark, pqPath, cent, batch)
    def pqContent(): Set[(Long, Seq[Int])] =
      spark.read.parquet(pqPath).select($"vec_id", $"codes")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val wantPq = queries.Ann.withCodes(
      queries.Ann.intEmbOf(raw).select($"vec_id", $"iv"), cent)
      .select($"vec_id", $"codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(pqContent() == wantPq,
      "PQ append diverges from full re-encode of the union")
    // row COUNT too: the Set compare above collapses duplicates, and
    // the whole point of the replay guard is that there are none
    assert(spark.read.parquet(pqPath).count() == wantPq.size)
    // replay idempotence: an orchestrator retrying a committed batch
    // must be a no-op, not a duplication
    queries.Ann.appendPqVectors(spark, pqPath, cent, batch)
    assert(spark.read.parquet(pqPath).count() == wantPq.size,
      "replayed append duplicated rows")
    // rebuild-over-complete consistency: re-building over the SAME
    // path with a DIFFERENT corpus must return the STORED model (the
    // one the codes were encoded with), never a retrained one
    val reloaded = queries.Ann.buildPqIndexOf(spark, raw, pqPath)
    assert(reloaded == cent,
      "rebuild over a complete index returned a model inconsistent with its codes")
    // compaction: fewer files, identical content, search still works
    val nBefore = new java.io.File(pqPath).listFiles()
      .filter(_.getName.startsWith("bk=")).map(_.listFiles()
        .count(_.getName.endsWith(".parquet"))).sum
    queries.Ann.PqCodesStore.compact(spark, pqPath, 4)
    val nAfter = new java.io.File(pqPath).listFiles()
      .filter(_.getName.startsWith("bk=")).map(_.listFiles()
        .count(_.getName.endsWith(".parquet"))).sum
    assert(nAfter < nBefore, s"compaction did not shrink files: $nBefore -> $nAfter")
    assert(pqContent() == wantPq, "compaction changed table content")
    assert(queries.Ann.pqSearchStored(spark, sf, pqPath, cent).count() == 50)

    // ---- list-partitioned IVFADC codes table ----
    val ivfPath = s"$tmp/ivfpq_codes"
    val (lists, pq) = queries.Ann.buildIvfPqIndexOf(spark, old, ivfPath)
    queries.Ann.appendIvfPqVectors(spark, ivfPath, lists, pq, batch)
    def ivfContent(): Set[(Long, Seq[Int], Long)] =
      spark.read.parquet(ivfPath).select($"vec_id", $"codes", $"acid")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1),
          r.get(2).toString.toLong)).toSet
    val wantIvf = queries.Ann.withCodes(
      queries.Ann.residualFrame(queries.Ann.intEmbOf(raw), lists), pq)
      .select($"vec_id", $"codes", $"acid")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet
    assert(ivfContent() == wantIvf,
      "IVFADC append diverges from full residual re-encode of the union")
    assert(spark.read.parquet(ivfPath).count() == wantIvf.size)
    // replay idempotence + stored-model consistency, as for PQ
    queries.Ann.appendIvfPqVectors(spark, ivfPath, lists, pq, batch)
    assert(spark.read.parquet(ivfPath).count() == wantIvf.size,
      "replayed IVFADC append duplicated rows")
    val (rLists, rPq) = queries.Ann.buildIvfPqIndexOf(spark, raw, ivfPath)
    assert(rLists == lists && rPq == pq,
      "rebuild over a complete IVFADC index returned a model inconsistent with its codes")
    assert(queries.Ann.ivfPqSearchStored(spark, sf, ivfPath, lists, pq).count() == 50)
    // appended files landed inside their acid= partition dirs (stayed prunable)
    assert(new java.io.File(ivfPath).listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("acid=")))
  }

  test("streaming ANN ingest: replayed micro-batches land exactly-once; stored model loads back") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.embeddings(spark, sf)
    val batch = raw.filter("vec_id >= 21 AND vec_id % 10 = 7")
    val old = raw.filter("NOT (vec_id >= 21 AND vec_id % 10 = 7)")
    val tmp = java.nio.file.Files.createTempDirectory("graft_annstream").toString
    val pqPath = s"$tmp/pq_codes"
    val cent = queries.Ann.buildPqIndexOf(spark, old, pqPath)
    // the public loader returns exactly the model the build stored
    assert(queries.Ann.loadPqIndex(spark, pqPath) == cent)
    // stream the new vectors in two micro-batches, REPLAYING the
    // first inside the second — the at-least-once delivery shape the
    // replay guard must absorb
    // a flat PQ index must refuse the IVFADC loader and vice versa —
    // decoding residual codes with raw-space LUTs (or the reverse)
    // would be silently wrong neighbors
    intercept[IllegalArgumentException] {
      queries.Ann.loadIvfPqIndex(spark, pqPath)
    }
    val rows = batch.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    // dual-target ingest: the same micro-batches must also land
    // exactly-once in the bucketed vector store
    val storePath = s"$tmp/vectors"
    assert(queries.Ann.buildVectorStore(spark, old, storePath))
    // the stream derives the codebook from the index's stored model —
    // no caller-supplied model to mismatch
    val q = queries.Ann.ingestVectorStream(
      input.toDF().toDF("vec_id", "embedding"), pqPath, s"$tmp/ckpt",
      Some(storePath))
    try {
      input.addData(b1 ++ b1.take(1)) // an in-batch duplicate delivery too
      q.processAllAvailable()
      input.addData(b1 ++ b2)
      q.processAllAvailable()
    } finally q.stop()
    val want = queries.Ann.withCodes(
      queries.Ann.intEmbOf(raw).select($"vec_id", $"iv"), cent)
      .select($"vec_id", $"codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val got = spark.read.parquet(pqPath).select($"vec_id", $"codes")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(got == want, "streamed index diverges from the batch encode of the union")
    assert(spark.read.parquet(pqPath).count() == want.size,
      "replayed micro-batch duplicated rows")
    // the vector store converged to the same union, exactly-once
    val storeIds = spark.read.parquet(storePath).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(storeIds.sorted.toSeq ==
      raw.select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      "streamed vector store diverges from the union of old + batch")
  }

  test("fully-stored search: bucketed vector store prunes the re-rank to candidate buckets; parity with stored/in-plan") {
    import spark.implicits._
    val raw = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecstore").toString
    val storePath = s"$tmp/vectors"
    assert(queries.Ann.buildVectorStore(spark, raw, storePath))
    assert(sources.Catalog.tableComplete(spark, storePath))

    // PQ: the self-contained two-path search equals the stored-codes
    // search with the same (stored) model
    val pqPath = s"$tmp/pq_codes"
    val cent = queries.Ann.buildPqIndex(spark, sf, pqPath)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val res = queries.Ann.pqSearchIndexed(spark, storePath, pqPath)
      // the vector-store scans must be partition-pruned: candidates
      // (and queries) touch a subset of buckets
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.filter(_.relation.location.rootPaths.exists(_.toString.contains("vectors")))
      assert(scans.nonEmpty, "no scan of the vector store in the plan")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "candidate-bucket filter did not become a partition filter")
      assert(res.collect().toSeq ==
        queries.Ann.pqSearchStored(spark, sf, pqPath, cent).collect().toSeq,
        "indexed search diverges from stored-codes search")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // IVFADC: parity with the in-plan gate query (same corpus, same
    // deterministic training)
    val ivfPath = s"$tmp/ivfpq_codes"
    queries.Ann.buildIvfPqIndex(spark, sf, ivfPath)
    assert(queries.Ann.ivfPqSearchIndexed(spark, storePath, ivfPath).collect().toSeq ==
      queries.Ann.qAnnIvfPq(spark, sf).collect().toSeq,
      "indexed IVFADC search diverges from the in-plan query")

    // store appends share the replay-guard discipline
    val batch = raw.filter("vec_id >= 21 AND vec_id % 10 = 7")
    val n0 = spark.read.parquet(storePath).count()
    queries.Ann.appendVectorStore(spark, storePath, batch)
    assert(spark.read.parquet(storePath).count() == n0,
      "replayed store append duplicated rows (batch was already in the store)")
    // and the shared compaction folds the store without changing it
    val before = spark.read.parquet(storePath)
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    queries.Ann.VectorStore.compact(spark, storePath, 4)
    val after = spark.read.parquet(storePath)
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "vector-store compaction changed table content")
    assert(queries.Ann.pqSearchIndexed(spark, storePath, pqPath).collect().nonEmpty,
      "indexed search broken after store compaction")
  }

  test("partitioned append crash-recovery: subdir manifest entries roll forward into partition dirs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_precover").toString
    val f = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(tmp, rel)
      f.mkdirs(p.getParent)
      val o = f.create(p, true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    // a crashed mid-commit partitioned append: staging dir with a
    // manifest naming a file inside a partition subdir
    put("_tmp_append_crash/acid=99/part-recover.parquet", "payload")
    put("_tmp_append_crash/_MANIFEST", "acid=99/part-recover.parquet\n")
    assert(sources.Catalog.appendPending(spark, tmp))
    assert(sources.Catalog.recoverAppends(spark, tmp) == (1, 0))
    assert(!sources.Catalog.appendPending(spark, tmp))
    assert(f.exists(new org.apache.hadoop.fs.Path(tmp, "acid=99/part-recover.parquet")),
      "rolled-forward file missing from its partition dir")
  }

  test("pqTrain is bit-deterministic under any partitioning") {
    // the k-means claim: integer sums/counts are order-independent, so
    // the trained codebook cannot depend on how the corpus is split
    val e = queries.Ann.intEmb(spark, sf)
    val a = queries.Ann.pqTrain(e.repartition(3))
    val b = queries.Ann.pqTrain(e.repartition(17))
    assert(a == b, "codebook varies with partitioning — training is not deterministic")
  }

  test("q_ann_ivfpq: stored list-partitioned index — partition-pruned ADC, probed-list discipline, parity") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val codesPath = s"$tmp/ivfpq_codes"
    val (lists, pq) = queries.Ann.buildIvfPqIndex(spark, sf, codesPath)
    // at rest: one directory per IVF list — the pruning unit
    val listDirs = new java.io.File(codesPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("acid="))
    assert(listDirs.length > 1, "expected multiple list partitions")

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val inPlan = queries.Ann.qAnnIvfPq(spark, sf).collect().toSeq
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val res = queries.Ann.ivfPqSearchStored(spark, sf, codesPath, lists, pq)
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.filter(_.relation.location.rootPaths.exists(_.toString.contains("ivfpq_codes")))
      assert(scans.nonEmpty, "no scan of the stored ivfpq codes table")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "probed-list IN filter did not become a partition filter")
      assert(scans.forall(_.requiredSchema.fieldNames.toSeq == Seq("vec_id", "codes")),
        s"codes scan reads ${scans.map(_.requiredSchema.fieldNames.toSeq)}")
      // the scan LISTS only the probed partitions
      val scanned = scans.head.metrics("numFiles").value
      val totalFiles = listDirs.map(_.listFiles()
        .count(_.getName.endsWith(".parquet"))).sum
      assert(scanned < totalFiles,
        s"scan read $scanned of $totalFiles files - no list pruning")
      assert(res.collect().toSeq == inPlan,
        "stored ivfpq search diverges from q_ann_ivfpq")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // probed-list discipline: every returned neighbor's stored list is
    // among its query's probed lists (independently re-derived here)
    val acidOf = spark.read.parquet(codesPath).select("vec_id", "acid")
      .collect().map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    val queriesIv = queries.Ann.intEmb(spark, sf)
      .filter($"vec_id" < 5).select("vec_id", "iv", "nrm").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    def probesOf(qid: Long): Set[Long] = {
      val (qiv, qnrm) = queriesIv(qid)
      lists.map { case (cid, civ, cn) =>
        val dot = qiv.zip(civ).map { case (a, b) => a * b }.sum
        (dot.toDouble / (math.sqrt(qnrm.toDouble) * math.sqrt(cn.toDouble)), cid)
      }.sortBy { case (cos, cid) => (-cos, cid) }.take(2).map(_._2).toSet
    }
    inPlan.foreach { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(1))
      assert(probesOf(qid)(acidOf(vid)),
        s"neighbor $vid of query $qid came from unprobed list ${acidOf(vid)}")
    }
    // recall@10 vs brute force: both stages prune, so a floor not a match
    val exact2 = queries.Ann.qAnnBruteforce(spark, sf)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = inPlan.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall2 = (exact2 & got2).size.toDouble / exact2.size
    assert(recall2 >= 0.2, s"ivfpq recall $recall2 too low")
  }

  test("q_ann_ivf quantizer comes from the STORED model: build-once parity, load-not-retrain, stale cache cannot survive data change") {
    val raw = Tables.embeddings(spark, sf)
    // explicit artifact lifecycle: build ≡ direct training; rebuild
    // over a complete model LOADS it (even with a different corpus in
    // hand — the proof it never silently retrains)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfmodel").toString
    val p = s"$tmp/ivf_model"
    val built = queries.Ann.buildIvfModel(spark, raw, p)
    assert(built == queries.Ann.ivfTrain(queries.Ann.intEmb(spark, sf)),
      "stored-model build diverges from direct training")
    assert(queries.Ann.loadIvfModel(spark, p) == built)
    assert(queries.Ann.buildIvfModel(spark, raw.filter("vec_id % 3 = 0"), p) == built,
      "rebuild over a complete model retrained instead of loading")
    // the registered query's resolution: cold cache trains + stores;
    // warm cache is AUTHORITATIVE (a poisoned cache is returned
    // verbatim — the query path loads, never retrains)
    val cache = queries.Ann.ivfModelCachePath(sf)
    sources.Catalog.dropIfExists(spark, cache)
    val m1 = queries.Ann.ivfStoredModel(spark, sf)
    assert(m1 == built, "cold-cache resolution trained a different model")
    assert(sources.Catalog.tableComplete(spark, cache),
      "resolution did not store the model for the next execution")
    sources.Catalog.dropIfExists(spark, cache)
    val half = queries.Ann.buildIvfModel(spark, raw.filter("vec_id % 3 = 0"), cache)
    assert(half != m1, "half-corpus training unexpectedly matched the full model")
    assert(queries.Ann.ivfStoredModel(spark, sf) == half,
      "warm-cache resolution retrained instead of loading the stored model")
    sources.Catalog.dropIfExists(spark, cache)
    // a cross-kind load must refuse: a standalone IVF model has no PQ rows
    intercept[IllegalArgumentException] { queries.Ann.loadIvfModel(spark, s"$tmp/nope") }
  }

  test("registered stored ANN searches build the index once and REUSE it; parity with the in-plan twins") {
    val paths = Seq(
      graft.sources.Store.derivedPath(sf, "pq_codes", Seq("embeddings.parquet")),
      graft.sources.Store.derivedPath(sf, "pq_codes", Seq("embeddings.parquet")) + ".model",
      graft.sources.Store.derivedPath(sf, "ivfpq_codes", Seq("embeddings.parquet")),
      graft.sources.Store.derivedPath(sf, "ivfpq_codes", Seq("embeddings.parquet")) + ".model",
      graft.sources.Store.derivedPath(sf, "vecstore", Seq("embeddings.parquet")))
    paths.foreach(p => sources.Catalog.dropIfExists(spark, p))
    val pq1 = queries.Ann.qAnnPqStored(spark, sf).collect().toSeq
    val ivf1 = queries.Ann.qAnnIvfPqStored(spark, sf).collect().toSeq
    paths.foreach(p => assert(sources.Catalog.tableComplete(spark, p),
      s"first execution did not leave a complete artifact at $p"))
    // commit-marker mtimes pin the artifacts: a re-execution that
    // rebuilt ANY of them (instead of reusing) would refresh a marker
    val marks = paths.map(p => new java.io.File(p, "_SUCCESS").lastModified)
    assert(queries.Ann.qAnnPqStored(spark, sf).collect().toSeq == pq1)
    assert(queries.Ann.qAnnIvfPqStored(spark, sf).collect().toSeq == ivf1)
    assert(paths.map(p => new java.io.File(p, "_SUCCESS").lastModified) == marks,
      "re-execution rebuilt an index artifact instead of reusing it")
    // the stored path answers exactly what the in-plan twins answer —
    // the contract that lets them share CORRECTNESS oracles
    assert(pq1 == queries.Ann.qAnnPq(spark, sf).collect().toSeq,
      "stored PQ search diverges from in-plan q_ann_pq")
    assert(ivf1 == queries.Ann.qAnnIvfPq(spark, sf).collect().toSeq,
      "stored IVFADC search diverges from in-plan q_ann_ivfpq")
  }

  test("rebuild over an unmarked partial codes dir fails loudly BEFORE touching the stored model") {
    val raw = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_partial").toString
    val codesPath = s"$tmp/pq_codes"
    queries.Ann.buildPqIndexOf(spark, raw, codesPath)
    assert(sources.Catalog.tableComplete(spark, s"$codesPath.model"))
    // simulate a crashed build: the codes dir exists but is unmarked
    assert(new java.io.File(s"$codesPath/_SUCCESS").delete())
    val before = new java.io.File(s"$codesPath.model").listFiles().map(_.getName).sorted.toSeq
    intercept[IllegalArgumentException] {
      queries.Ann.buildPqIndexOf(spark, raw, codesPath)
    }
    // the old model survived intact — an operator resolving the codes
    // dir by hand cannot end up pairing it with a silently retrained one
    assert(sources.Catalog.tableComplete(spark, s"$codesPath.model"))
    assert(new java.io.File(s"$codesPath.model").listFiles().map(_.getName).sorted.toSeq == before,
      "failed rebuild modified the stored model")
    // same guard on the IVFADC builder
    val ivfPath = s"$tmp/ivfpq_codes"
    queries.Ann.buildIvfPqIndexOf(spark, raw, ivfPath)
    assert(new java.io.File(s"$ivfPath/_SUCCESS").delete())
    intercept[IllegalArgumentException] {
      queries.Ann.buildIvfPqIndexOf(spark, raw, ivfPath)
    }
    assert(sources.Catalog.tableComplete(spark, s"$ivfPath.model"))
  }

  test("dual-target ingest dedups deterministically: conflicting payloads under one vec_id commit ONE consistent (vector, codes) pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dualdet").toString
    val (codesPath, storePath) = (s"$tmp/pq_codes", s"$tmp/vectors")
    // build both targets WITHOUT vec_id 21's decile, then stream in a
    // batch carrying TWO conflicting payloads for one new vec_id
    val old = raw.filter("NOT (vec_id >= 21 AND vec_id % 10 = 7)")
    val cent = queries.Ann.buildPqIndexOf(spark, old, codesPath)
    assert(queries.Ann.buildVectorStore(spark, old, storePath))
    val dupId = 27L
    val base = raw.filter(s"vec_id = $dupId")
      .select($"embedding").as[Seq[Float]].head()
    val conflict = base.updated(0, base.head + 1.0f)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val q = queries.Ann.ingestVectorStream(
      input.toDF().toDF("vec_id", "embedding"), codesPath, s"$tmp/ckpt",
      Some(storePath))
    try {
      // conflicting payloads in ONE micro-batch, both orders seen by
      // whatever partitioning — the survivor must still be the same
      // row in BOTH targets
      input.addData(Seq((dupId, conflict), (dupId, base)))
      q.processAllAvailable()
    } finally q.stop()
    val storedVec = spark.read.parquet(storePath)
      .filter($"vec_id" === dupId).select($"embedding")
      .as[Seq[Float]].collect().toSeq
    assert(storedVec.length == 1, s"store committed ${storedVec.length} rows for one vec_id")
    // deterministic survivor: the array-ordering minimum of the two payloads
    assert(storedVec.head == Seq(base, conflict).min(Ordering.Implicits.seqOrdering[Seq, Float]),
      "store survivor is not the deterministic (lowest-embedding) row")
    val storedCodes = spark.read.parquet(codesPath)
      .filter($"vec_id" === dupId).select($"codes")
      .collect().map(_.getSeq[Int](0)).toSeq
    assert(storedCodes.length == 1, s"codes table committed ${storedCodes.length} rows for one vec_id")
    // codes must be the encode of the SAME surviving vector — the
    // vector/codes-mismatch failure mode this dedup exists to prevent
    val wantCodes = queries.Ann.withCodes(
      queries.Ann.intEmbOf(Seq((dupId, storedVec.head)).toDF("vec_id", "embedding"))
        .select($"vec_id", $"iv"), cent)
      .select($"codes").collect().map(_.getSeq[Int](0)).head
    assert(storedCodes.head == wantCodes,
      "stored codes were encoded from a different row than the stored vector")
  }

  test("semDedup drops the higher id of an identical pair, keeps orthogonal rows") {
    import spark.implicits._
    // one cluster so every pair is compared; integer frame built
    // directly in (vec_id, iv, nrm) space
    def row(id: Long, v: Seq[Long]) = (id, v, v.map(x => x * x).sum)
    val e = Seq(
      row(0, Seq(1000L, 0, 0, 0)), row(1, Seq(0, 1000L, 0, 0)),
      row(2, Seq(0, 0, 1000L, 0)), row(3, Seq(0, 0, 0, 1000L)),
      row(9, Seq(1000L, 0, 0, 0)) // identical to 0 → cosine 1.0
    ).toDF("vec_id", "iv", "nrm")
    val cents = Seq((0L, Seq(1L, 1L, 1L, 1L), 4L))
    val got = queries.Ann.semDedupOf(e, cents).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).sortBy(_._1).toSeq
    assert(got == Seq((0L, -1L, 1), (1L, -1L, 1), (2L, -1L, 1),
      (3L, -1L, 1), (9L, 0L, 0)),
      s"identical pair must resolve to (lowest kept, higher dropped): ${got.toList}")
  }

  test("q_kmeans_profile partitions the corpus; q_semdedup's survivor rule holds corpus-wide") {
    import spark.implicits._
    val nVecs = Tables.embeddings(spark, sf).count()
    val prof = queries.Ann.qKmeansProfile(spark, sf)
    assert(prof.agg(sum($"n_members")).as[Long].head() == nVecs,
      "cluster sizes must partition the corpus")
    assert(prof.filter($"min_cos" > $"max_cos").count() == 0)
    val sd = queries.Ann.qSemdedup(spark, sf).cache()
    try {
      assert(sd.count() == nVecs, "semdedup must cover every vector")
      // dropped rows point at a strictly lower id; kept rows at -1
      assert(sd.filter($"kept" === 0 && ($"dup_of" < 0 || $"dup_of" >= $"vec_id"))
        .count() == 0, "a dropped row's dup source must be a lower id")
      assert(sd.filter($"kept" === 1 && $"dup_of" =!= -1L).count() == 0)
      // the dup source is in the SAME cluster and was itself kept or
      // points lower still — at minimum it must exist in the output
      val ids = sd.select($"vec_id").as[Long].collect().toSet
      val srcs = sd.filter($"kept" === 0).select($"dup_of").as[Long].collect()
      assert(srcs.forall(ids.contains), "dup sources must be corpus vectors")
    } finally { sd.unpersist(); () }
  }

  test("q_split_leakage equals the census recomputed from the pair graph and md5 splits") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(id: Long): String = {
      val hb = java.lang.Long.parseLong(md5hex(id.toString).take(15), 16) % 1000
      if (hb < queries.Dedup.LeakTrainMilli) "train"
      else if (hb < queries.Dedup.LeakValidMilli) "valid" else "test"
    }
    // the pair graph is q_dedup_lsh_pairs' own output (independently
    // verified against exact Jaccard above); this spec checks the
    // leakage CENSUS over it
    val pairs = queries.Dedup.qDedupLshPairs(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val evTotals = docs.map(split).filter(_ != "train")
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val crossed = pairs.flatMap { case (d1, d2) =>
      (split(d1), split(d2)) match {
        case ("train", s2) if s2 != "train" => Some((s2, d2))
        case (s1, "train") if s1 != "train" => Some((s1, d1))
        case _ => None
      }
    }
    assert(crossed.nonEmpty,
      "the planted near-dup corpus must cross the audit split (vacuous report)")
    val got = queries.Dedup.qSplitLeakage(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == evTotals.keySet)
    for ((sp, n) <- evTotals) {
      val r = got(sp)
      val cps = crossed.filter(_._1 == sp)
      assert(r.getAs[Long]("n_eval_docs") == n, s"$sp eval total")
      assert(r.getAs[Long]("n_train_pairs") == cps.length.toLong, s"$sp pairs")
      assert(r.getAs[Long]("n_leaked") == cps.map(_._2).distinct.length.toLong)
      assert(r.getAs[Long]("leak_milli") ==
        cps.map(_._2).distinct.length.toLong * 1000 / n)
    }
  }
}
