package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.DocStream

class DocStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** A doc that passes every gate: 45 distinct words incl. the
    * stopword probe, so dup3_pm = 0 and top2_pm ≈ 22. */
  private def doc(tag: String): String =
    "the " + (0 until 44).map(i => s"${tag}w$i").mkString(" ")

  test("ingest gate runs the repetition kernel once per row") {
    // a parquet-backed frame: a local relation constant-folds the
    // whole gate away and there is no plan left to inspect
    val gated = DocStream.gate(spark.read.parquet(s"$sf/documents.parquet"))
    assert(gated.count() > 0)
    val plan = gated.queryExecution.executedPlan.toString
    // FileScan echoes the filter as DataFilters metadata without
    // evaluating it — count evaluation sites (Filter/Project lines)
    val evalSites = plan.linesIterator.filterNot(_.contains("FileScan"))
      .count(_.contains("rep_keep"))
    assert(evalSites == 1 && !plan.contains("rep_stats"),
      s"gate must cost one kernel call in:\n$plan")
  }

  test("q_gate_stats n_keep equals the ingest gate's survivor count per source") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val stats = queries.Text.qGateStats(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_keep")).toMap
    val gated = DocStream.gate(docs).groupBy($"source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(stats.filter(_._2 > 0) == gated,
      s"telemetry and gate disagree: $stats vs $gated")
    assert(gated.values.sum > 0, "gate must keep something at sf0.001")
  }

  test("ingest drops docs leaking a stored bench item when given the index") {
    val dir = java.nio.file.Files.createTempDirectory("doc_decon").toString
    val corpus = s"$dir/clean"
    val idx = s"$dir/bench_idx"
    // bench doc 0 (doc_id % 97 == 0) is the eval item; build its index
    val evalItem = doc("e")
    val bench = Seq((0L, evalItem, "bench")).toDF("doc_id", "text", "source")
    assert(queries.Dedup.buildBenchIndex(spark, bench, idx))
    assert(DocStream.buildCleanCorpus(spark,
      Seq((1L, doc("a"), "s0")).toDF("doc_id", "text", "source"), corpus))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt",
      benchIndexPath = Some(idx))
    try {
      input.addData(
        (10L, doc("b"), "s1"),                       // clean -> lands
        (11L, "prefix chatter " + evalItem, "s1"))   // leaks the eval item
      q.processAllAvailable()
      val t = spark.read.parquet(corpus)
      assert(t.select($"doc_id").as[Long].collect().toSet == Set(1L, 10L),
        s"leaking doc must be dropped at ingest: ${t.collect().mkString(",")}")
    } finally q.stop()
  }

  test("ingest drops mostly-copied docs via the stored span index; survivors fold after landing") {
    val dir = java.nio.file.Files.createTempDirectory("doc_span").toString
    val (corpus, idx) = (s"$dir/clean", s"$dir/span_idx")
    def copier(src: String, tag: String): String =
      (src.split(" ").take(40) ++ (0 until 5).map(i => s"${tag}n$i")).mkString(" ")
    val base = Seq((1L, doc("a"), "s0")).toDF("doc_id", "text", "source")
    assert(DocStream.buildCleanCorpus(spark, base, corpus))
    assert(queries.Dedup.buildSpanIndex(spark, base.select($"doc_id", $"text"), idx))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt",
      spanIndexPath = Some(idx))
    try {
      input.addData(
        (10L, doc("b"), "s1"),              // fresh -> lands, then folds
        (11L, copier(doc("a"), "x"), "s1")) // 33/38 windows are doc 1's -> dropped
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select($"doc_id").as[Long]
        .collect().toSet == Set(1L, 10L), "the 86%-copied doc must be dropped")
      // the survivor's windows folded into the index AFTER landing
      assert(spark.read.parquet(idx).filter($"first_doc" === 10L).count() > 0,
        "landed content must fold into the span index")
      // a predecessor's crash inside the span-index FOLD leaves a
      // staging dir that would wedge every later fold — the ingest
      // loop must heal the index path too, not just the corpus
      val wedge = new java.io.File(s"$idx/_tmp_append_deadbeef")
      assert(wedge.mkdirs())
      // a later batch copying the batch-1 SURVIVOR is now caught too
      input.addData(
        (12L, copier(doc("b"), "y"), "s2"), // mostly doc 10's content
        (13L, doc("c"), "s2"))              // fresh -> lands
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select($"doc_id").as[Long]
        .collect().toSet == Set(1L, 10L, 13L),
        "content landed by an earlier batch must gate later copiers")
      assert(!wedge.exists(), "crashed span-index staging dir must be healed")
      assert(spark.read.parquet(idx).filter($"first_doc" === 13L).count() > 0,
        "the fold after healing must land the fresh doc's windows")
    } finally q.stop()
  }

  test("full-pipeline ingest: decontamination, scrub, and span gate compose in order; replay touches nothing") {
    val dir = java.nio.file.Files.createTempDirectory("doc_full").toString
    val (corpus, bidx, lidx, sidx) =
      (s"$dir/clean", s"$dir/bench_idx", s"$dir/line_idx", s"$dir/span_idx")
    val boiler = (1 to queries.Dedup.LineLen).map(i => s"bz$i").mkString(" ")
    def copier(src: String, tag: String): String =
      (src.split(" ").take(40) ++ (0 until 5).map(i => s"${tag}n$i")).mkString(" ")
    val evalItem = doc("e")
    // seed: doc 0 plus three boiler carriers so the boilerplate is at
    // threshold (df=3) from the first streamed batch
    val seed = Seq(
      (0L, doc("a"), "s0"),
      (1L, s"$boiler ${doc("p")}", "s0"),
      (2L, s"$boiler ${doc("q")}", "s0"),
      (3L, s"$boiler ${doc("r")}", "s0")).toDF("doc_id", "text", "source")
    assert(DocStream.buildCleanCorpus(spark, seed, corpus))
    assert(queries.Dedup.buildBenchIndex(spark,
      Seq((0L, evalItem, "bench")).toDF("doc_id", "text", "source"), bidx))
    assert(queries.Dedup.buildLineDfIndex(spark, seed, lidx))
    assert(queries.Dedup.buildSpanIndex(spark,
      seed.select($"doc_id", $"text"), sidx))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt",
      benchIndexPath = Some(bidx), lineIndexPath = Some(lidx),
      spanIndexPath = Some(sidx))
    try {
      input.addData(
        (10L, doc("b"), "s1"),                      // fresh -> lands
        (11L, "prefix chatter " + evalItem, "s1"),  // eval leak -> dropped
        (12L, copier(doc("a"), "x"), "s1"),         // 86% copied -> span-dropped
        (13L, s"$boiler ${doc("d")}", "s1"),        // boiler scrubbed, tail lands
        // the ORDER pin: boilerplate wraps a copied passage — only if
        // the scrub runs BEFORE the span gate does the copier surface
        (14L, s"$boiler ${copier(doc("a"), "y")}", "s1"))
      q.processAllAvailable()
      val t = spark.read.parquet(corpus).select($"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t.keySet == Set(0L, 1L, 2L, 3L, 10L, 13L),
        s"landed ${t.keySet.toSeq.sorted.mkString(",")}")
      assert(t(13L) == doc("d"), "boilerplate must scrub before landing")
      // the survivor folded into BOTH maintenance indexes
      assert(spark.read.parquet(sidx).filter($"first_doc" === 10L).count() > 0)
      val dfs = spark.read.parquet(lidx).select($"seg_fp", $"n_docs").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // replay the batch verbatim through the batch API: content is at
      // rest, so nothing anywhere may move
      val (nC, nS) = (spark.read.parquet(corpus).count(),
        spark.read.parquet(sidx).count())
      DocStream.appendDocs(spark, corpus,
        Seq((10L, doc("b"), "s1"), (13L, s"$boiler ${doc("d")}", "s1"))
          .toDF("doc_id", "text", "source"),
        benchIndexPath = Some(bidx), lineIndexPath = Some(lidx),
        spanIndexPath = Some(sidx))
      assert(spark.read.parquet(corpus).count() == nC, "corpus moved on replay")
      assert(spark.read.parquet(sidx).count() == nS, "span index moved on replay")
      assert(spark.read.parquet(lidx).select($"seg_fp", $"n_docs").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == dfs,
        "segment dfs moved on replay")
    } finally q.stop()
  }

  test("ingest scrubs boilerplate via the stored segment-df index: non-retroactive, replay-exact, raw text preserved") {
    val dir = java.nio.file.Files.createTempDirectory("doc_linededup").toString
    val corpus = s"$dir/clean"
    val lidx = s"$dir/line_idx"
    val seed = Seq((0L, doc("a"), "s0")).toDF("doc_id", "text", "source")
    assert(DocStream.buildCleanCorpus(spark, seed, corpus))
    assert(queries.Dedup.buildLineDfIndex(spark, seed, lidx))
    val boiler = (1 to queries.Dedup.LineLen).map(i => s"bz$i").mkString(" ")
    // a doc with consecutive spaces: the scrub must never rewrite a
    // doc it did not alter (reassembly would normalize whitespace and
    // shift its content identity)
    val wsDoc = doc("w").replaceFirst("the ", "the  ")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt",
      lineIndexPath = Some(lidx))
    val dfOf = () => spark.read.parquet(lidx).select($"seg_fp", $"n_docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      // batch 1: three carriers push the boiler span to df=3; the
      // scrub ran against the PREVIOUS index state, so they land
      // unscrubbed (non-retroactive, like C4's preprocessing)
      input.addData(
        (10L, s"$boiler ${doc("b")}", "s1"),
        (11L, s"$boiler ${doc("c")}", "s1"),
        (12L, s"$boiler ${doc("d")}", "s1"),
        (13L, wsDoc, "s1"))
      q.processAllAvailable()
      val t = spark.read.parquet(corpus).select($"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t.keySet == Set(0L, 10L, 11L, 12L, 13L))
      assert(t(10L) == s"$boiler ${doc("b")}",
        "pre-crossing docs keep their text (non-retroactive)")
      assert(t(13L) == wsDoc,
        "a doc the scrub did not alter must land byte-identical")
      // batch 2: the threshold has been crossed — a later carrier is
      // scrubbed down to its unique tail
      input.addData((20L, s"$boiler ${doc("e")}", "s1"))
      q.processAllAvailable()
      val t2 = spark.read.parquet(corpus).select($"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(t2(20L) == doc("e"), "post-crossing boilerplate must scrub")
      // replay: doc 20's RAW text under a fresh id scrubs to the same
      // cleaned content, anti-joins away, and folds nothing — docs
      // differing only in boilerplate converge to one stored copy and
      // dfs count distinct content at rest exactly once
      val before = dfOf()
      val n = spark.read.parquet(corpus).count()
      DocStream.appendDocs(spark, corpus,
        Seq((99L, s"$boiler ${doc("e")}", "s1")).toDF("doc_id", "text", "source"),
        lineIndexPath = Some(lidx))
      assert(dfOf() == before, "replayed content must not inflate dfs")
      assert(spark.read.parquet(corpus).count() == n,
        "replayed content stays exactly-once at rest")
      // the fold-succeeded/append-crashed window: content folded for
      // THIS index but absent from the append target. Fabricate it
      // with a second corpus that lacks the content — fresh is
      // non-empty there, but the content digest matches the marker
      // from the successful fold above, so the re-fold must skip
      // while the append still lands.
      input.addData((30L, doc("f"), "s1"))
      q.processAllAvailable()
      val corpus2 = s"$dir/clean2"
      assert(DocStream.buildCleanCorpus(spark, seed, corpus2))
      val beforeSkip = dfOf()
      DocStream.appendDocs(spark, corpus2,
        Seq((31L, doc("f"), "s1")).toDF("doc_id", "text", "source"),
        lineIndexPath = Some(lidx))
      assert(dfOf() == beforeSkip,
        "the content-keyed marker must skip the re-fold")
      assert(spark.read.parquet(corpus2).select($"doc_id").as[Long]
        .collect().toSet == Set(0L, 31L),
        "the append itself must still land")
    } finally q.stop()
  }

  test("a predecessor's crashed append is healed by the next micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("doc_crash").toString
    val corpus = s"$dir/clean"
    val seed = Seq((0L, doc("a"), "s0")).toDF("doc_id", "text", "source")
    assert(DocStream.buildCleanCorpus(spark, seed, corpus))
    // fabricate a mid-WRITE crash: staging dir without a manifest
    val stale = java.nio.file.Paths.get(corpus, "_tmp_append_dead")
    java.nio.file.Files.createDirectory(stale)
    java.nio.file.Files.write(stale.resolve("part-junk.parquet"), Array[Byte](9))
    assert(graft.sources.Catalog.appendPending(spark, corpus))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt")
    try {
      input.addData((1L, doc("b"), "s0"))
      q.processAllAvailable()
      assert(!graft.sources.Catalog.appendPending(spark, corpus),
        "the crashed staging dir must be resolved before appending")
      assert(spark.read.parquet(corpus).count() == 2,
        "the junk rolls back, the new batch lands")
    } finally q.stop()
  }

  test("doc ingest: gate at build, content dedup at rest, replayed content is exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("doc_ingest").toString
    val corpus = s"$dir/clean"
    val seed = Seq(
      (0L, doc("a"), "s0"),
      (1L, doc("b"), "s0"),
      (2L, doc("a"), "s1"), // same content as doc 0 — collapsed at build
      (3L, Seq.fill(50)("the spam").mkString(" "), "s0") // repetition-gated
    ).toDF("doc_id", "text", "source")
    assert(DocStream.buildCleanCorpus(spark, seed, corpus))
    val built = spark.read.parquet(corpus)
    assert(built.count() == 2)
    assert(built.select($"doc_id").as[Long].collect().toSet == Set(0L, 1L),
      "lowest doc_id must win the in-build content dedup")
    // second build is a lifecycle no-op
    assert(!DocStream.buildCleanCorpus(spark, seed, corpus))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt")
    try {
      input.addData(
        (10L, doc("c"), "s2"),       // genuinely new
        (11L, doc("a"), "s2"),       // duplicates corpus content -> dropped
        (12L, "too short", "s2"),    // length-gated
        (13L, doc("c"), "s2"))       // in-batch duplicate of 10
      q.processAllAvailable()
      val t1 = spark.read.parquet(corpus)
      assert(t1.count() == 3, s"got ${t1.collect().mkString(",")}")
      assert(t1.select($"doc_id").as[Long].collect().toSet == Set(0L, 1L, 10L))
      // the same content redelivered under fresh ids (at-least-once
      // upstream, or a user re-submitting) must not land twice
      input.addData((20L, doc("c"), "s3"), (21L, doc("d"), "s3"))
      q.processAllAvailable()
      val t2 = spark.read.parquet(corpus)
      assert(t2.count() == 4)
      assert(t2.select($"doc_id").as[Long].collect().toSet == Set(0L, 1L, 10L, 21L))
    } finally q.stop()
  }

  test("corpus compaction folds streaming file accretion to one file per bucket; content and dedup behavior survive") {
    val dir = java.nio.file.Files.createTempDirectory("doc_compact").toString
    val corpus = s"$dir/clean"
    assert(DocStream.buildCleanCorpus(spark,
      Seq((0L, doc("a"), "s0")).toDF("doc_id", "text", "source"), corpus))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = DocStream.ingestDocStream(
      input.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt")
    try {
      // several micro-batches, each touching most of the 16 buckets —
      // repeat-touched buckets accrete one file per batch
      for (i <- 1 to 4) {
        input.addData((0 until 8).map(j => (i * 100L + j, doc(s"w${i}x$j"), "s1")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    def filesPerBucket(): Map[String, Int] =
      new java.io.File(corpus).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bk="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    val before = spark.read.parquet(corpus)
      .select($"doc_id", $"fp").as[(Long, String)].collect().toSet
    assert(filesPerBucket().values.exists(_ > 1),
      "ingest did not accrete multiple files — compaction has nothing to prove")

    // a pending crashed append must block the fold (recovery first)
    val stale = java.nio.file.Paths.get(corpus, "_tmp_append_dead")
    java.nio.file.Files.createDirectory(stale)
    val docColumns = input.toDF().toDF("doc_id", "text", "source").schema
    intercept[IllegalArgumentException] {
      DocStream.compactCorpus(spark, corpus, docColumns)
    }
    java.nio.file.Files.delete(stale)

    DocStream.compactCorpus(spark, corpus, docColumns)
    assert(filesPerBucket().values.forall(_ == 1),
      s"compaction left multi-file buckets: ${filesPerBucket()}")
    assert(spark.read.parquet(corpus)
      .select($"doc_id", $"fp").as[(Long, String)].collect().toSet == before,
      "compaction changed corpus content")

    // the folded table still serves ingest: replayed content dedups,
    // new content lands — the at-rest anti-join reads the same fps
    val input2 = MemoryStream[(Long, String, String)]
    val q2 = DocStream.ingestDocStream(
      input2.toDF().toDF("doc_id", "text", "source"), corpus, s"$dir/ckpt2")
    try {
      input2.addData((1000L, doc("w1x0"), "s2"), (101L, doc("z"), "s2"))
      q2.processAllAvailable()
      val ids = spark.read.parquet(corpus).select($"doc_id").as[Long].collect().toSet
      assert(!ids.contains(1000L), "replayed content landed twice after compaction")
      assert(ids.contains(101L), "new content failed to land after compaction")
    } finally q2.stop()
  }

  /** The visible data files under the corpus's bucket directories. */
  private def corpusFiles(corpus: String): Set[String] =
    new java.io.File(corpus).listFiles()
      .filter(_.getName.startsWith("bk=")).flatMap(_.listFiles())
      .map(f => s"${f.getParentFile.getName}/${f.getName}")
      .filter(_.endsWith(".parquet")).toSet

  test("appending to a pre-md5 corpus (BIGINT fp) fails loudly and lands nothing") {
    val corpus = java.nio.file.Files.createTempDirectory("doc_premd5").toString + "/clean"
    // the old-scheme row sits in a bucket the batch does not hash
    // into, so the batch's at-rest probe never scans an old file
    val batch = Seq((2L, doc("b"), "s1")).toDF("doc_id", "text", "source")
    val batchBk = batch.selectExpr(
      s"pmod(cast(conv(substring(md5(text), 1, 15), 16, 10) as long), ${DocStream.DocBuckets})")
      .as[Long].head()
    val oldBk = (batchBk + 1) % DocStream.DocBuckets
    graft.sources.Catalog.createPartitionedIfAbsent(spark,
      Seq((1L, doc("a"), "s0", 42L, oldBk)).toDF("doc_id", "text", "source", "fp", "bk"),
      corpus, Seq("bk"))
    val before = corpusFiles(corpus)
    val e = intercept[IllegalArgumentException] {
      DocStream.appendDocs(spark, corpus, batch)
    }
    assert(e.getMessage.contains("fp"), s"failure does not name the fp column: ${e.getMessage}")
    assert(corpusFiles(corpus) == before, "a batch landed in a pre-md5 corpus")
    assert(!new java.io.File(s"$corpus/bk=$batchBk").exists())
  }

  test("a batch or compaction whose document columns are not the corpus's fails and writes nothing") {
    val corpus = java.nio.file.Files.createTempDirectory("doc_drift").toString + "/clean"
    assert(DocStream.buildCleanCorpus(spark,
      Seq((0L, doc("a"), "s0")).toDF("doc_id", "text", "source"), corpus))
    val before = corpusFiles(corpus)
    val extra = Seq((1L, doc("b"), "s1", "en")).toDF("doc_id", "text", "source", "lang")
    val missing = Seq((2L, doc("c"))).toDF("doc_id", "text")
    for (b <- Seq(extra, missing)) {
      intercept[IllegalArgumentException] { DocStream.appendDocs(spark, corpus, b) }
      assert(corpusFiles(corpus) == before, s"a ${b.columns.mkString(",")} batch landed")
    }
    intercept[IllegalArgumentException] {
      DocStream.compactCorpus(spark, corpus, missing.schema)
    }
    assert(corpusFiles(corpus) == before, "a mis-declared compaction rewrote the corpus")
  }
}
