package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Catalog
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

class MultimodalSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_blob_meta length equals utf-8 byte count of text") {
    val df = queries.Multimodal.qBlobMeta(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(df.count() == docs)
    assert(df.filter("blob_len <= 0 OR length(sha256) != 64").count() == 0)
  }

  test("q_blob_qa equals the driver-side byte census; a dense prefix never flags") {
    val got = queries.Multimodal.qBlobQa(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toMap
    val exp = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        val pref = bytes.take(64)
        val db = pref.toSet.size.toLong
        (r.getString(0), bytes.length.toLong, pref.length.toLong, db)
      }
      .groupBy(_._1).view.mapValues { vs =>
        val low = vs.count(v => v._3 > 0 && v._4 * 4 < v._3).toLong
        (vs.length.toLong, vs.count(_._2 == 0L).toLong,
          vs.map(_._2).min, vs.map(_._2).max,
          vs.map(_._4).min, vs.map(_._4).max,
          low, low * 1000 / vs.length)
      }.toMap
    assert(got == exp, s"blob QA mismatch:\n got $got\n exp $exp")
    // the corpus plants repetitive documents (q_repetition's fixture)
    // whose byte-sparse prefixes must trip the gate — and ordinary
    // prose must NOT: both flag states live at this SF
    assert(got.values.exists(_._7 > 0L),
      "no blob flagged — the planted repetitive docs should trip the gate")
    assert(got.values.exists(v => v._7 < v._1),
      "everything flagged — threshold arithmetic suspect")
  }

  test("q_blob_dedup agrees with text-level exact dedup and counts copies consistently") {
    val blob = queries.Multimodal.qBlobDedup(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // identical bytes ⇔ identical text: the blob-level canonical map
    // must equal q_dedup_exact's (built on md5(text))
    val txt = queries.Dedup.qDedupExact(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[Int]("is_dup"))).toMap
    assert(blob.keySet == txt.keySet)
    for ((id, r) <- blob) {
      assert(r.getAs[Long]("canonical_id") == txt(id)._1, s"doc $id")
      assert(r.getAs[Int]("is_dup") == txt(id)._2, s"doc $id")
    }
    // n_copies is the population of the doc's content class, and every
    // class has exactly one non-dup member (its canonical)
    val byCanon = blob.values.groupBy(_.getAs[Long]("canonical_id"))
    for ((c, rs) <- byCanon) {
      assert(rs.forall(_.getAs[Long]("n_copies") == rs.size.toLong), s"class $c")
      assert(rs.count(_.getAs[Int]("is_dup") == 0) == 1, s"class $c")
    }
  }

  test("q_blob_features matches the frame decoder on a driver-side check") {
    val row = queries.Multimodal.qBlobFeatures(spark, sf)
      .filter("doc_id = 0").head()
    val text = Tables.documents(spark, sf).filter("doc_id = 0")
      .head().getAs[String]("text")
    val expected = queries.Multimodal.decodeFrames(0L, text.getBytes("UTF-8"))
    assert(row.getAs[Int]("n_bytes") == expected.n_bytes)
    assert(row.getAs[Int]("n_frames") == expected.n_frames)
    assert(row.getAs[Long]("byte_sum") == expected.byte_sum)
    assert(row.getAs[Int]("head_byte") == expected.head_byte)
    // the frame count is the same quantity q_blob_framesample derives
    val nf = queries.Multimodal.qBlobFrameSample(spark, sf)
      .filter("doc_id = 0").head().getAs[Int]("n_frames")
    assert(expected.n_frames == nf)
  }

  test("q_phash_recovery equals a full driver recompute of the gated census; k>3 rows are exactly zero") {
    import queries.Multimodal._
    // independent recompute: signature the RAW corpus, inject each
    // doc's k-bit flip, rebuild the capped blocking and the Hamming
    // gate by hand, then tally the census cells
    val off = PhashInjOffset
    val kOf = PhashInjBits.zipWithIndex.map { case (k, i) =>
      i.toLong -> k }.toMap
    val base = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .filter(_._2.getBytes("UTF-8").nonEmpty)
      .map { case (id, t) => phashPieces(id, t.getBytes("UTF-8")) }
    val injected = base.map { s =>
      val k = kOf(s.doc_id % 5)
      val ps = (0L until k).map(j => ((s.doc_id + 13 * j) % 64).toInt)
      val m = new Array[Int](4)
      ps.foreach(p => m(p / 16) |= 1 << (p % 16))
      BlobSig(s.doc_id + off, s.p0 ^ m(0), s.p1 ^ m(1),
        s.p2 ^ m(2), s.p3 ^ m(3))
    }
    val all = base ++ injected
    def bits(s: BlobSig): Long =
      (s.p0.toLong & 0xffff) | (s.p1.toLong & 0xffff) << 16 |
        (s.p2.toLong & 0xffff) << 32 | (s.p3.toLong & 0xffff) << 48
    // capped blocking: (piece, value) -> member docs, oversize dropped
    val blocks = (for {
      s <- all; (pv, pi) <- Seq(s.p0, s.p1, s.p2, s.p3).zipWithIndex
    } yield ((pi, pv), s.doc_id)).groupBy(_._1).values
      .filter(_.size <= PhashBlockCap)
    val sigOf = all.map(s => s.doc_id -> s).toMap
    val pairs = blocks.flatMap { ms =>
      val ids = ms.map(_._2).sorted
      for {
        i <- ids.indices; j <- (i + 1) until ids.size
        a = sigOf(ids(i)); b = sigOf(ids(j))
        if java.lang.Long.bitCount(bits(a) ^ bits(b)) <= PhashHammingMax
      } yield (ids(i), ids(j))
    }.toSet
    val expCells = PhashInjBits.zipWithIndex.map { case (k, i) =>
      val cell = i.toLong
      val nInj = base.count(_.doc_id % 5 == cell).toLong
      val nCaught = pairs.count { case (d1, d2) =>
        d2 == d1 + off && d1 % 5 == cell }.toLong
      val nStray = pairs.toSeq.map { case (d1, d2) =>
        (if (d1 >= off && (d1 - off) % 5 == cell) 1 else 0) +
          (if (d2 >= off && d2 != d1 + off && (d2 - off) % 5 == cell) 1
           else 0)
      }.sum.toLong
      (k, nInj, nCaught, nStray, 1000L * nCaught / math.max(nInj, 1L))
    }
    val got = qPhashRecovery(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expCells, s"got $got\nexp $expCells")
    // the Hamming verify is exact: k > PhashHammingMax must be 0
    for ((k, _, caught, _, _) <- expCells if k > PhashHammingMax)
      assert(caught == 0L, s"k=$k caught $caught pairs past the gate")
    // and the census binds: some k <= 3 cell catches real pairs
    assert(expCells.exists { case (k, _, c, _, _) =>
      k <= PhashHammingMax && c > 0 }, "census vacuous at sf0.001")
  }

  test("q_blob_phash equals the brute-force all-pairs scan over planted corpus") {
    import queries.Multimodal._
    // driver recompute: replant the variants, signature every blob,
    // brute-force every pair — blocking at Hamming ≤ 3 must be lossless
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .filter(_._2.getBytes("UTF-8").nonEmpty)
    val sigs = docs.flatMap { case (id, t) =>
      val b = t.getBytes("UTF-8")
      val base = phashPieces(id, b)
      if (id % PhashVariantMod == 0) {
        val pfx = b.length / 3
        val v1 = b.map(x => (x + 4).toByte)
        val v2 = b.zipWithIndex.map { case (x, i) =>
          if (i < pfx) (x + 16).toByte else x }
        Seq(base, phashPieces(id + PhashV1Offset, v1),
          phashPieces(id + PhashV2Offset, v2))
      } else Seq(base)
    }
    def bits(s: BlobSig): Long =
      (s.p0.toLong & 0xffff) | (s.p1.toLong & 0xffff) << 16 |
        (s.p2.toLong & 0xffff) << 32 | (s.p3.toLong & 0xffff) << 48
    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (a, b) = if (sigs(i).doc_id < sigs(j).doc_id) (sigs(i), sigs(j))
               else (sigs(j), sigs(i))
      h = java.lang.Long.bitCount(bits(a) ^ bits(b))
      if h <= PhashHammingMax
    } yield (a.doc_id, b.doc_id, h)).toSet
    val got = qBlobPhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == expected)
    // the plant is non-vacuous: every planted family's brightness twin
    // is a Hamming-0 pair (UTF-8 bytes max 0xF4 < 252, so +4 never
    // wraps and the cross-multiplied comparison is shift-invariant)
    val planted = docs.collect {
      case (id, t) if id % PhashVariantMod == 0 => id }
    assert(planted.nonEmpty)
    for (id <- planted)
      assert(expected.contains((id, id + PhashV1Offset, 0)), s"doc $id")
  }

  test("q_blob_clusters is the transitive closure of the phash pair graph") {
    import queries.Multimodal._
    val pairs = qBlobPhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
    val nodes = qBlobClusters(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size")))
    // driver union-find over the same edges
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = nodes.map(_._1)
    val wantLbl = ids.map(id => id -> find(id)).toMap
    val wantSz = wantLbl.values.groupBy(identity).view.mapValues(_.size.toLong)
    for ((id, cl, sz) <- nodes) {
      assert(cl == wantLbl(id), s"doc $id label")
      assert(sz == wantSz(wantLbl(id)), s"doc $id size")
    }
    // the planted re-encode families are non-singleton clusters:
    // base + both byte-variants land together, transitively
    val fams = ids.filter(id => id < PhashV1Offset && id % PhashVariantMod == 0)
    assert(fams.nonEmpty)
    for (id <- fams) {
      assert(wantLbl.get(id + PhashV1Offset).contains(wantLbl(id)) &&
        wantLbl.get(id + PhashV2Offset).contains(wantLbl(id)),
        s"family of $id split across clusters")
    }
  }

  test("q_modal_mismatch equals a driver brute-force over both modality graphs") {
    import queries.Multimodal._
    // re-derive the modal corpus driver-side: base + three planted
    // variants per 5th doc (re-encode +4, crop prefix +16, caption
    // re-use with complemented bytes)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.getBytes("UTF-8").nonEmpty)
    val corpus: Seq[(Long, String, Array[Byte])] = docs.toSeq.flatMap { case (id, t) =>
      val b = t.getBytes("UTF-8")
      if (id % PhashVariantMod == 0) {
        val v1 = b.map(x => (x + 4).toByte)
        val pfx = b.length / 3
        val v2 = b.zipWithIndex.map { case (x, i) =>
          if (i < pfx) (x + 16).toByte else x }
        val v3 = b.map(x => (255 - (x & 0xff)).toByte)
        Seq((id, t, b), (id + PhashV1Offset, t + " [re-encoded]", v1),
          (id + PhashV2Offset, t + " [crop]", v2),
          (id + PhashV3Offset, t, v3))
      } else Seq((id, t, b))
    }
    val sig = corpus.map { case (id, _, b) => id -> phashPieces(id, b) }.toMap
    def ham(x: Long, y: Long): Int = {
      val (a, b) = (sig(x), sig(y))
      Integer.bitCount(a.p0 ^ b.p0) + Integer.bitCount(a.p1 ^ b.p1) +
        Integer.bitCount(a.p2 ^ b.p2) + Integer.bitCount(a.p3 ^ b.p3)
    }
    val ids = corpus.map(_._1).sorted
    val textOf = corpus.map(c => c._1 -> c._2).toMap
    // graph 1: all-pairs perceptual twins with differing captions (no
    // block tops the cap at this scale, so blocking is exactly lossless)
    val btn = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      d1 = ids(i); d2 = ids(j)
      h = ham(d1, d2) if h <= PhashHammingMax
      if textOf(d1) != textOf(d2)
    } yield ("blob_twin_text_new", d1, d2, h)
    // graph 2: exact-caption pairs whose signatures are far
    val byText = corpus.groupBy(_._2).values.filter(_.size > 1)
    val tdf = for {
      g <- byText.toSeq
      gi = g.map(_._1).sorted
      i <- gi.indices; j <- (i + 1) until gi.length
      h = ham(gi(i), gi(j)) if h > PhashHammingMax
    } yield ("text_dup_blob_far", gi(i), gi(j), h)
    val expected = (btn ++ tdf).toSet
    val got = qModalMismatch(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == expected)
    // non-vacuity: both planted directions are present
    assert(got.exists(_._1 == "blob_twin_text_new"))
    assert(got.exists(_._1 == "text_dup_blob_far"))
    val someBase = docs.map(_._1).filter(_ % PhashVariantMod == 0).min
    assert(got.contains(("text_dup_blob_far", someBase,
      someBase + PhashV3Offset, ham(someBase, someBase + PhashV3Offset))))
  }

  test("stored phash index: probe finds batch pairs, fold is replay-guarded, final index equals full build") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    val path = Files.createTempDirectory("graft_phash_idx").toString + "/idx"
    val sigs = phashSigs(spark, sf).localCheckpoint()
    val batchA = sigs.filter("doc_id % 2 = 0")
    val batchB = sigs.filter("doc_id % 2 = 1")
    assert(buildPhashIndex(spark, batchA, path))
    // probe: pairs involving batch B — against stored A plus within B
    val probed = phashNewBlobs(spark, path, batchB).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    // driver recompute: all corpus pairs with at least one B-side doc
    val all = qBlobPhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    val expected = all.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(probed == expected)
    assert(probed.nonEmpty)
    // fold B; replaying the same batch id must append nothing
    updatePhashIndex(spark, path, batchB, 1L)
    val n1 = PhashIndexStore.read(spark, path).count()
    updatePhashIndex(spark, path, batchB, 1L)
    assert(PhashIndexStore.read(spark, path).count() == n1)
    // a re-delivered doc under a NEW batch id is dropped by the
    // anti-join, not duplicated
    updatePhashIndex(spark, path, batchB.limit(5), 2L)
    assert(PhashIndexStore.read(spark, path).count() == n1)
    // folded index content == a fresh full build's
    val fullPath = Files.createTempDirectory("graft_phash_full").toString + "/idx"
    assert(buildPhashIndex(spark, sigs, fullPath))
    def img(p: String) = PhashIndexStore.read(spark, p)
      .select("doc_id", "pi", "pv", "p0", "p1", "p2", "p3").collect()
      .map(_.toSeq).toSet
    assert(img(path) == img(fullPath))
    // and the stored self-match over the folded index is the in-plan
    // corpus scan
    val stored = queries.Multimodal.qBlobPhashStored(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(stored == all)
  }

  test("phash fold: re-encoded content under the SAME doc_id is deterministically dropped (first-write-wins)") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    val path = Files.createTempDirectory("graft_phash_reenc").toString + "/idx"
    val sigs = phashSigs(spark, sf).localCheckpoint()
    assert(buildPhashIndex(spark, sigs, path))
    val before = PhashIndexStore.read(spark, path)
      .select("doc_id", "pi", "pv", "p0", "p1", "p2", "p3").collect()
      .map(_.toSeq).toSet
    // five docs re-ingested with CHANGED bytes → a different
    // signature, whose piece rows hash to DIFFERENT buckets than the
    // stored rows (r13 review: the bucket-pruned anti-join looked in
    // the new signature's buckets and appended-or-dropped on a hash
    // coincidence; the index-wide anti-join is deterministic)
    val mutated = sigs.limit(5)
      .withColumn("p0", pmod(col("p0") + 12345, lit(65536)).cast("int"))
      .withColumn("p2", pmod(col("p2") + 321, lit(65536)).cast("int"))
    updatePhashIndex(spark, path, mutated, 7L)
    val after = PhashIndexStore.read(spark, path)
      .select("doc_id", "pi", "pv", "p0", "p1", "p2", "p3").collect()
      .map(_.toSeq).toSet
    assert(after == before)
  }

  test("phash probe caps blocks at their CORPUS-WIDE size, like the in-plan scan") {
    import spark.implicits._
    import queries.Multimodal._
    val path = Files.createTempDirectory("graft_phash_strad").toString + "/idx"
    // one boilerplate signature block straddles the cap: 30 stored +
    // 30 batch docs, each side under PhashBlockCap=50, the corpus 60
    // over it — the probe must suppress the block exactly as
    // qBlobPhash over the 60-doc corpus would (r13 review: per-side
    // caps let 30x30 cross + 435 within pairs through). A second
    // 1+1-doc block stays under cap as the non-vacuity control.
    assert(PhashBlockCap == 50)
    val stored = ((0L until 30L).map(i => (i, 7, 7, 7, 7)) :+ (98L, 9, 9, 9, 9))
      .toDF("doc_id", "p0", "p1", "p2", "p3")
    val batch = ((100L until 130L).map(i => (i, 7, 7, 7, 7)) :+ (99L, 9, 9, 9, 9))
      .toDF("doc_id", "p0", "p1", "p2", "p3")
    assert(buildPhashIndex(spark, stored, path))
    val pairs = phashNewBlobs(spark, path, batch).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(pairs == Set((98L, 99L, 0)))
  }

  test("phash fold membership probe is batch-bounded: partition filters on the sidecar AND index scans") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    val path = Files.createTempDirectory("graft_phash_mb").toString + "/idx"
    val sigs = phashSigs(spark, sf).localCheckpoint()
    assert(buildPhashIndex(spark, sigs, path))
    // the sidecar mirrors the index doc set exactly, one row per doc
    val idxDocs = PhashIndexStore.read(spark, path).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    val mem = PhashMembersStore.read(spark, phashMembersPath(path)).collect()
    assert(mem.map(_.getAs[Long]("doc_id")).toSet == idxDocs)
    assert(mem.length == idxDocs.size, "sidecar must hold ONE row per doc")
    assert(mem.forall(r =>
      r.getAs[Long]("mb") == java.lang.Math.floorMod(
        r.getAs[Long]("doc_id"), PhashMemberBuckets.toLong)))
    // an id-clustered batch (all doc_id ≡ 5 mod 64) must prune the
    // membership scan to its one mb partition and the index scan to
    // its signatures' bk buckets — per-batch I/O bounded by the batch
    import spark.implicits._
    val batch = Seq((64L * 100000 + 5, 1, 2, 3, 4), (64L * 100001 + 5, 5, 6, 7, 8))
      .toDF("doc_id", "p0", "p1", "p2", "p3")
    val bp = phashPieceRows(batch)
    // AQE wraps the executed plan; assert on a non-adaptive plan (the
    // spatial pruning spec's approach)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = phashFreshDocsPlan(spark, path, bp, 9L)
      assert(probe.collect().map(_.getLong(0)).toSet == batch.collect()
        .map(_.getLong(0)).toSet, "both batch docs are fresh")
      val scans = probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val memScan = scans.filter(_.toString.contains("_members"))
      val idxScan = scans.filterNot(_.toString.contains("_members"))
      assert(memScan.nonEmpty && memScan.forall(_.partitionFilters.nonEmpty),
        "membership scan must carry a partition filter on mb")
      assert(idxScan.nonEmpty && idxScan.forall(_.partitionFilters.nonEmpty),
        "index scan must carry a partition filter on bk")
      // the mb prune actually drops files: one of 64 partitions touched
      val memFiles = memScan.map(_.metrics("numFiles").value).sum
      val totalMemFiles = new java.io.File(phashMembersPath(path)).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("mb="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")).toLong).sum
      assert(memFiles < totalMemFiles,
        s"membership scan read $memFiles of $totalMemFiles files — no pruning")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("phash fold crash windows replay clean (marker lost; sidecar committed without index)") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    val path = Files.createTempDirectory("graft_phash_crash").toString + "/idx"
    val sigs = phashSigs(spark, sf).localCheckpoint()
    val batchA = sigs.filter("doc_id % 2 = 0")
    val batchB = sigs.filter("doc_id % 2 = 1").localCheckpoint()
    assert(buildPhashIndex(spark, batchA, path))
    updatePhashIndex(spark, path, batchB, 1L)
    val nIdx = PhashIndexStore.read(spark, path).count()
    val nMem = PhashMembersStore.read(spark, phashMembersPath(path)).count()
    // window 1: fold fully committed but the MARKER write was lost —
    // the replay must find every row via the pruned anti-joins and
    // append nothing to either store
    val root = new org.apache.hadoop.fs.Path(path)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root, "_phash_fold_1"), false)
    updatePhashIndex(spark, path, batchB, 1L)
    assert(PhashIndexStore.read(spark, path).count() == nIdx, "index grew on replay")
    assert(PhashMembersStore.read(spark, phashMembersPath(path)).count() == nMem,
      "sidecar grew on replay")
    // window 2: the SIDECAR append committed but the index append did
    // not (crash between the two) — the replay must ignore this batch
    // id's own sidecar rows, append the index rows, and not duplicate
    // the sidecar rows
    val newDocs = Seq((5000001L, 11, 22, 33, 44), (5000002L, 55, 66, 77, 88))
    import spark.implicits._
    val cSigs = newDocs.toDF("doc_id", "p0", "p1", "p2", "p3")
    val cMembers = cSigs.select(col("doc_id"), lit(3L).as("batch_id"),
      pmod(col("doc_id"), lit(PhashMemberBuckets.toLong)).as("mb"))
    PhashMembersStore.append(spark, cMembers, phashMembersPath(path))
    updatePhashIndex(spark, path, cSigs, 3L)
    val idxC = PhashIndexStore.read(spark, path)
      .filter(col("doc_id").isin(5000001L, 5000002L)).collect()
    assert(idxC.length == 8, s"expected 4 piece rows per new doc, got ${idxC.length}")
    val memC = PhashMembersStore.read(spark, phashMembersPath(path))
      .filter(col("doc_id").isin(5000001L, 5000002L)).collect()
    assert(memC.length == 2 && memC.forall(_.getAs[Long]("batch_id") == 3L),
      "sidecar rows duplicated or mis-batched on crash-window replay")
  }

  test("compactPhashIndex: one file per partition, probe/pairs parity across the rewrite, lifecycle continues") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    val root = Files.createTempDirectory("graft_phash_cpt").toString
    val path = s"$root/idx"
    val pairs = s"$root/pairs"
    val sigs = phashSigs(spark, sf).localCheckpoint()
    // cold-start empty index, then three streamed batches — each fold
    // appends its own file-set, accreting multiple files per bucket
    import spark.implicits._
    assert(buildPhashIndex(spark, spark.emptyDataset[BlobSig].toDF(), path))
    val blobs = blobsWithVariants(spark, sf).localCheckpoint()
    (0 until 3).foreach { b =>
      blobBatch(spark, blobs.filter(pmod($"doc_id", lit(3)) === b),
        path, pairs, b.toLong)
    }
    def filesPer(store: String, pfx: String): Map[String, Int] =
      new java.io.File(store).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith(pfx))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    assert(filesPer(path, "bk=").values.exists(_ > 1),
      "fixture should accrete multi-file buckets before compaction")
    val idxBefore = PhashIndexStore.read(spark, path).collect().map(_.toSeq).toSet
    val memBefore = PhashMembersStore.read(spark, phashMembersPath(path))
      .collect().map(_.toSeq).toSet
    val pairsBefore = PhashPairsStore.read(spark, pairs).collect().map(_.toSeq).toSet
    val emptyPartsBefore = filesPer(pairs, "batch_id=").filter(_._2 == 0).keySet
    val probeBefore = phashNewBlobs(spark, path,
      sigs.filter("doc_id % 2 = 1")).collect().map(_.toSeq).toSet
    // refuse while a crashed append is pending
    val fsys = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(path, "_tmp_append_dead")
    fsys.mkdirs(staged)
    intercept[IllegalArgumentException] {
      compactPhashIndex(spark, path, Some(pairs))
    }
    fsys.delete(staged, true)
    compactPhashIndex(spark, path, Some(pairs))
    // one file per non-empty partition, in all three stores
    for ((store, pfx) <- Seq(path -> "bk=", phashMembersPath(path) -> "mb=",
      pairs -> "batch_id=")) {
      val bad = filesPer(store, pfx).filter(_._2 > 1)
      assert(bad.isEmpty, s"$store still multi-file: $bad")
    }
    // content unchanged; zero-pair completion dirs survive
    assert(PhashIndexStore.read(spark, path).collect().map(_.toSeq).toSet == idxBefore)
    assert(PhashMembersStore.read(spark, phashMembersPath(path))
      .collect().map(_.toSeq).toSet == memBefore)
    assert(PhashPairsStore.read(spark, pairs).collect().map(_.toSeq).toSet == pairsBefore)
    assert(emptyPartsBefore.forall(d => new java.io.File(s"$pairs/$d").isDirectory),
      "compaction destroyed a zero-pair batch's completion dir")
    // fold markers survive → replaying an old batch is still a no-op
    val nIdx = PhashIndexStore.read(spark, path).count()
    blobBatch(spark, blobs.filter(pmod($"doc_id", lit(3)) === 0), path, pairs, 0L)
    assert(PhashIndexStore.read(spark, path).count() == nIdx,
      "compaction lost a fold marker: replayed batch re-appended")
    // probe over the compacted index equals the uncompacted answer
    val probeAfter = phashNewBlobs(spark, path,
      sigs.filter("doc_id % 2 = 1")).collect().map(_.toSeq).toSet
    assert(probeAfter.nonEmpty && probeAfter == probeBefore,
      "stored self-match diverged across compaction")
    // and a genuinely NEW batch still probes and folds
    val newSigs = Seq((7000001L, 1, 2, 3, 4)).toDF("doc_id", "p0", "p1", "p2", "p3")
    updatePhashIndex(spark, path, newSigs, 9L)
    assert(PhashIndexStore.read(spark, path)
      .filter($"doc_id" === 7000001L).count() == 4)
    // a pre-sidecar index (sidecar dropped/never derived) HEALS on
    // compaction instead of refusing — the sidecar is a derived-
    // rebuildable cache, and ensurePhashMembers re-derives it exactly
    // as the fold path does on entry (r14 review)
    val memAfterFold = PhashMembersStore.read(spark, phashMembersPath(path))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    graft.sources.Catalog.dropIfExists(spark, phashMembersPath(path))
    compactPhashIndex(spark, path, Some(pairs))
    assert(PhashMembersStore.read(spark, phashMembersPath(path))
      .select($"doc_id").collect().map(_.getLong(0)).toSet == memAfterFold,
      "healed sidecar lost or invented membership")
  }

  test("dropPartitionsBelow ages batch partitions: replay no-op, frontier intact, retained telemetry unchanged") {
    import org.apache.spark.sql.functions._
    import queries.Multimodal._
    import graft.sources.Catalog
    val root = Files.createTempDirectory("graft_phash_age").toString
    val path = s"$root/idx"
    val pairs = s"$root/pairs"
    import spark.implicits._
    assert(buildPhashIndex(spark, spark.emptyDataset[BlobSig].toDF(), path))
    val blobs = blobsWithVariants(spark, sf).localCheckpoint()
    (0 until 3).foreach { b =>
      blobBatch(spark, blobs.filter(pmod($"doc_id", lit(3)) === b),
        path, pairs, b.toLong)
    }
    def telemetry(): Map[Long, (Long, Long)] = PhashPairsStore.read(spark, pairs)
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n"), sum(when($"hamming" === 0, 1L).otherwise(0L)).as("h0"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = telemetry()
    // batch 0 probes an empty index, so the pair mass sits in later
    // batches — age a two-batch prefix so a pair-BEARING batch retires
    assert(before.exists(kv => kv._1 < 2L && kv._2._1 > 0),
      "fixture needs a pair-bearing batch below the horizon, or aging is vacuous")
    // refuse-while-crashed-appends discipline
    val fsys = new org.apache.hadoop.fs.Path(pairs)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(pairs, "_tmp_append_dead")
    fsys.mkdirs(staged)
    intercept[IllegalArgumentException] {
      Catalog.dropPartitionsBelow(spark, pairs, "batch_id", 2L)
    }
    fsys.delete(staged, true)
    // age out batches 0 and 1 (return counts only dirs that HAD files)
    val expAged = before.count(kv => kv._1 < 2L && kv._2._1 > 0)
    assert(Catalog.dropPartitionsBelow(spark, pairs, "batch_id", 2L) == expAged)
    assert(Catalog.ageHorizon(spark, pairs) == 2L)
    // the aged partitions' dirs survive as the durable completion
    // markers (frontier resume and replay guards read them)...
    for (b <- 0 to 1) {
      assert(new java.io.File(s"$pairs/batch_id=$b").isDirectory)
      assert(new java.io.File(s"$pairs/batch_id=$b").listFiles()
        .forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")),
        s"aged partition $b still holds data files")
    }
    // ...and the retained window's telemetry is bit-identical
    val after = telemetry()
    assert(!after.keySet.exists(_ < 2L), "an aged batch still reports pairs")
    assert(after == before.filter(_._1 >= 2L), "retained batches changed")
    // replaying an aged batch appends nothing anywhere (pairs guard
    // short-circuits on the dir, fold guard on its surviving marker)
    val nIdx = PhashIndexStore.read(spark, path).count()
    (0 to 1).foreach { b =>
      assert(blobBatch(spark, blobs.filter(pmod($"doc_id", lit(3)) === b),
        path, pairs, b.toLong) == 0L)
    }
    assert(telemetry() == after, "aged batch replay re-appended pairs")
    assert(PhashIndexStore.read(spark, path).count() == nIdx,
      "aged batch replay re-folded into the index")
    // a genuinely NEW batch still probes and folds normally
    val newBlobs = Seq((9000001L, Array.fill(64)(7.toByte)))
      .toDF("doc_id", "blob")
    blobBatch(spark, newBlobs, path, pairs, 9L)
    assert(new java.io.File(s"$pairs/batch_id=9").isDirectory,
      "post-aging batch did not run")
    assert(PhashIndexStore.read(spark, path).filter($"doc_id" === 9000001L)
      .count() == 4, "post-aging batch did not fold")
    // the horizon is monotone: a lower re-request never rewinds it
    Catalog.dropPartitionsBelow(spark, pairs, "batch_id", 0L)
    assert(Catalog.ageHorizon(spark, pairs) == 2L)
    // and aging is idempotent: nothing left to remove below 2
    assert(Catalog.dropPartitionsBelow(spark, pairs, "batch_id", 2L) == 0)
  }

  test("q_blob_phash block cap drops monochrome mega-blocks instead of going quadratic") {
    import spark.implicits._
    import queries.Multimodal._
    // 4 * PhashBlockCap identical payloads: every (piece, value) block
    // holds every doc, far over the cap — the capped query must return
    // ZERO pairs, not ~n²/2
    val n = PhashBlockCap * 4
    val dir = Files.createTempDirectory("graft_phash_cap").toString
    (0L until n.toLong).map(i => (i, "same boilerplate payload", "en", "web", 24))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(qBlobPhash(spark, dir).count() == 0)
  }
}

class CatalogSpec extends AnyFunSuite {
  import SparkTestSession._

  test("declared schemas read every catalog table (pruned, no inference)") {
    for ((table, schema) <- Catalog.schemas) {
      val path = s"$sf/$table.parquet"
      val df = Catalog.readParquet(spark, table, path)
      assert(df.schema.fieldNames.toSeq == schema.fieldNames.toSeq, table)
      assert(df.count() > 0, table)
      if (table != "events")
        assert(df.schema == spark.read.parquet(path).schema,
          s"$table: declared schema differs from the file's")
    }
    // events.ts: the file's zone-less epoch microseconds, as BIGINT
    // nanoseconds, row for row
    val events = Catalog.readParquet(spark, "events", s"$sf/events.parquet")
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val fileUs = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "ts").collect()
      .map { r =>
        val t = r.getAs[java.time.LocalDateTime](1)
        r.getLong(0) -> (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000)
      }
    val gotNs = events.select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(fileUs.length == gotNs.length && fileUs.map(_._1).distinct.length == fileUs.length)
    assert(gotNs.toMap == fileUs.toMap.view.mapValues(_ * 1000L).toMap,
      "events.ts is not the file's epoch microseconds x 1000")
  }

  test("catalog table frames and registerTables start no Spark job") {
    import org.apache.spark.graftx.JobProbe
    val accessors = Seq[(SparkSession, String) => DataFrame](Tables.region,
      Tables.nation, Tables.customer, Tables.supplier, Tables.part,
      Tables.orders, Tables.lineitem, Tables.events, Tables.documents,
      Tables.embeddings)
    val frames = JobProbe(spark.sparkContext) { accessors.foreach(_(spark, sf)) }
    assert(frames.isEmpty, s"building the table frames started jobs: $frames")
    val views = spark.newSession()
    val registered = JobProbe(spark.sparkContext) {
      SparkEntry.registerTables(views, sf)
    }
    assert(registered.isEmpty, s"registerTables started jobs: $registered")
    assert(Catalog.schemas.keySet.forall(views.catalog.tableExists))
  }

  test("partitioned sink writes pruning-friendly layout and round-trips") {
    val out = Files.createTempDirectory("graft_sink").toString
    val docs = Catalog.readParquet(spark, "documents", s"$sf/documents.parquet")
    Catalog.writePartitioned(docs, out, Seq("lang"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("lang=")), s"no partition dirs in $out")
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // partition pruning: a lang filter must prune to a single partition dir
    val plan = back.filter("lang = 'en'").queryExecution.executedPlan.toString
    assert(!plan.contains("lang%3Dde") || plan.contains("PartitionFilters"))
  }

  test("upsert rewrites only touched partitions; merge semantics exact") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_upsert").toString + "/t"
    val base = Seq(
      (1L, "en", 10L), (2L, "en", 20L),
      (3L, "de", 30L), (4L, "de", 40L),
      (5L, "fr", 50L)).toDF("id", "lang", "v")
    Catalog.writePartitioned(base, out, Seq("lang"))
    def filesOf(lang: String) =
      new java.io.File(s"$out/lang=$lang").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => (f.getName, f.lastModified())).toSet
    val frBefore = filesOf("fr")
    // update key 2 (replace), insert key 6 — touches only lang=en
    val updates = Seq((2L, "en", 21L), (6L, "en", 60L)).toDF("id", "lang", "v")
    Catalog.upsertPartitioned(spark, updates, out, "lang", Seq("id"))
    val got = spark.read.parquet(out).select($"id", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 21L), (3L, 30L), (4L, 40L),
      (5L, 50L), (6L, 60L)))
    // untouched partitions keep their exact files (never rewritten)
    assert(filesOf("fr") == frBefore,
      "upsert rewrote a partition the update batch never touched")
    // idempotent: replaying the same batch changes nothing
    Catalog.upsertPartitioned(spark, updates, out, "lang", Seq("id"))
    val again = spark.read.parquet(out).select($"id", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got, "replayed upsert must be a no-op on contents")
  }

  test("upsert whose batch lacks or adds a stored column fails and rewrites nothing") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_upsert_drift").toString + "/t"
    Catalog.writePartitioned(
      Seq((1L, "en", 10L, "x"), (2L, "de", 20L, "y")).toDF("id", "lang", "v", "note"),
      out, Seq("lang"))
    def files() = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => (d.getName, f.getName, f.lastModified()))).toSet
    val before = files()
    val lacking = Seq((1L, "en", 11L)).toDF("id", "lang", "v")
    val adding = Seq((1L, "en", 11L, "x", 0)).toDF("id", "lang", "v", "note", "extra")
    for (u <- Seq(lacking, adding)) {
      intercept[IllegalArgumentException] {
        Catalog.upsertPartitioned(spark, u, out, "lang", Seq("id"))
      }
      assert(files() == before, s"a ${u.columns.mkString(",")} upsert rewrote the table")
    }
  }

  test("compactPartitions collapses a partition's files; others untouched") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact").toString + "/t"
    // accrete many small files in lang=en via repartition(4) + append-style writes
    val a = Seq((1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L),
      (4L, "en", 40L)).toDF("id", "lang", "v").repartition(4)
    Catalog.writePartitioned(a, out, Seq("lang"))
    val b = Seq((9L, "de", 90L)).toDF("id", "lang", "v")
    b.write.mode("append").partitionBy("lang").parquet(out)
    def nFiles(lang: String) =
      new java.io.File(s"$out/lang=$lang").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val deBefore = new java.io.File(s"$out/lang=de").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    assert(nFiles("en") > 1, s"fixture should start multi-file, got ${nFiles("en")}")
    sources.Store(a.schema, Seq("lang")).compact(spark, out, 8, Seq("en"))
    assert(nFiles("en") == 1, s"compaction left ${nFiles("en")} files")
    assert(new java.io.File(s"$out/lang=de").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet == deBefore,
      "compaction touched an unselected partition")
    val got = spark.read.parquet(out).select($"id", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (9L, 90L)))
  }

  test("incremental rollup refresh equals a from-scratch rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_rollup").toString
    val basePath = s"$root/events"
    val rollupPath = s"$root/rollup"
    val events = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val withDay = events.withColumn("day", graft.operators.Rollup.dayOfTs)
    withDay.write.partitionBy("day").parquet(basePath)
    graft.operators.Rollup.build(spark, events, rollupPath)
    // delta: new events on one existing day and one brand-new day
    val someTs = events.select($"ts").head().getLong(0)
    val newDayTs = events.agg(max($"ts")).head().getLong(0) + 86400L * 1000000000L
    val delta = Seq(
      (900001L, someTs + 1000L, 42L, "click", 1.5),
      (900002L, newDayTs, 43L, "view", 2.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val untouched = withDay.select($"day").distinct().collect().map(_.getString(0))
      .filterNot { d =>
        val touched = delta.select(graft.operators.Rollup.dayOfTs.as("day"))
          .distinct().collect().map(_.getString(0)).toSet
        touched(d)
      }.head
    def filesOf(day: String) =
      new java.io.File(s"$rollupPath/day=$day").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val before = filesOf(untouched)
    // commit delta to base, then refresh
    delta.withColumn("day", graft.operators.Rollup.dayOfTs)
      .write.mode("append").partitionBy("day").parquet(basePath)
    graft.operators.Rollup.refresh(spark, basePath, delta, rollupPath)
    // incremental result == full rebuild over base∪delta
    val got = spark.read.parquet(rollupPath)
      .select($"day".cast("string"), $"event_type", $"n_events", $"n_users", $"value_c100")
      .collect().map(_.toSeq).toSet
    val want = graft.operators.Rollup.compute(events.unionByName(delta))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // untouched day partitions were never rewritten
    assert(filesOf(untouched) == before,
      "refresh rewrote a day the delta never touched")
    // replaying the refresh converges to the same contents
    graft.operators.Rollup.refresh(spark, basePath, delta, rollupPath)
    val again = spark.read.parquet(rollupPath)
      .select($"day".cast("string"), $"event_type", $"n_events", $"n_users", $"value_c100")
      .collect().map(_.toSeq).toSet
    assert(again == got, "replayed refresh must converge")
    // a FULL rebuild over a purged base drops days that vanished —
    // static overwrite, not dynamic (stale partitions must not survive)
    val purgedDay = spark.read.parquet(rollupPath)
      .select($"day".cast("string")).distinct().head().getString(0)
    val purged = events.unionByName(delta)
      .filter(graft.operators.Rollup.dayOfTs =!= purgedDay)
    graft.operators.Rollup.build(spark, purged, rollupPath)
    assert(!new java.io.File(s"$rollupPath/day=$purgedDay").exists(),
      s"full rebuild left stale partition day=$purgedDay")
  }

  test("bucketed tables join without any shuffle exchange") {
    val orders = Catalog.readParquet(spark, "orders", s"$sf/orders.parquet")
    val customer = Catalog.readParquet(spark, "customer", s"$sf/customer.parquet")
    Catalog.writeBucketed(orders, "orders_b", "o_custkey", 4)
    Catalog.writeBucketed(customer.withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", "o_custkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lifecycle: create-if-absent is idempotent, drop-if-exists tolerates missing") {
    val out = Files.createTempDirectory("graft_life").toString + "/nation"
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    assert(!Catalog.tableExists(spark, out))
    assert(Catalog.createIfAbsent(spark, nation, out), "first create must write")
    val n1 = spark.read.parquet(out).count()
    // second create: no-op, same contents (idempotent re-run of ingest)
    assert(!Catalog.createIfAbsent(spark, nation.limit(1), out))
    assert(spark.read.parquet(out).count() == n1, "second create must not write")
    assert(Catalog.dropIfExists(spark, out), "drop must remove the table")
    assert(!Catalog.tableExists(spark, out))
    assert(!Catalog.dropIfExists(spark, out), "drop-missing must be a no-op")
  }

  test("lifecycle: a directory without _SUCCESS is neither trusted nor destroyed") {
    val out = Files.createTempDirectory("graft_partial").toString + "/nation"
    // ambiguous state: directory with data, no _SUCCESS marker — could
    // be a crashed partial OR an externally-produced table
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.write(java.nio.file.Paths.get(out, "part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    assert(!Catalog.tableComplete(spark, out))
    // refuses to guess: no silent skip, and crucially NO deletion
    val e = intercept[IllegalStateException] {
      Catalog.createIfAbsent(spark, nation, out)
    }
    assert(e.getMessage.contains("_SUCCESS"))
    assert(Files.exists(java.nio.file.Paths.get(out, "part-00000.parquet")),
      "ambiguous data must not be deleted")
    // the operator resolves it explicitly
    assert(Catalog.dropIfExists(spark, out))
    assert(Catalog.createIfAbsent(spark, nation, out))
    assert(Catalog.tableComplete(spark, out))
    assert(spark.read.parquet(out).count() == nation.count())
  }

  test("lifecycle: evolving append adds columns; old rows surface NULL; mutations rejected") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_evo").toString + "/nation"
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    Catalog.createIfAbsent(spark, nation, out)
    val n1 = spark.read.parquet(out).count()
    // evolve: add a quality column the original schema lacks
    val evolved = nation.withColumn("quality", lit(7).cast("int"))
    Catalog.appendEvolve(spark, "nation", evolved, out)
    val merged = Catalog.readEvolved(spark, out)
    assert(merged.count() == 2 * n1)
    assert(merged.columns.contains("quality"))
    assert(merged.filter(col("quality").isNull).count() == n1,
      "pre-evolution rows must surface NULL for the new column")
    assert(merged.filter(col("quality") === 7).count() == n1)
    // a dropped declared column is corruption, not evolution
    val e1 = intercept[IllegalArgumentException] {
      Catalog.appendEvolve(spark, "nation", nation.drop("n_regionkey"), out)
    }
    assert(e1.getMessage.contains("dropped declared column"))
    // so is a type change
    val e2 = intercept[IllegalArgumentException] {
      Catalog.appendEvolve(spark, "nation",
        nation.withColumn("n_nationkey", col("n_nationkey").cast("string")), out)
    }
    assert(e2.getMessage.contains("changed"))
    // an EVOLVED column is contractual once written: re-adding it at a
    // conflicting type must FAILFAST (it would break every merged read)
    val e3 = intercept[IllegalArgumentException] {
      Catalog.appendEvolve(spark, "nation",
        nation.withColumn("quality", lit("good")), out)
    }
    assert(e3.getMessage.contains("evolved column quality"))
    // same evolved column at the SAME type keeps appending fine
    Catalog.appendEvolve(spark, "nation",
      nation.withColumn("quality", lit(9).cast("int")), out)
    assert(Catalog.readEvolved(spark, out).filter(col("quality") === 9).count() == n1)
    // the STRICT append still rejects the extra column
    intercept[IllegalArgumentException] {
      Catalog.append(spark, "nation", evolved, out)
    }
    assert(Catalog.readEvolved(spark, out).count() == 3 * n1,
      "failed appends must not write")
  }

  test("lifecycle: append grows the table; schema drift is rejected before writing") {
    val out = Files.createTempDirectory("graft_app").toString + "/nation"
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    Catalog.createIfAbsent(spark, nation, out)
    val n1 = spark.read.parquet(out).count()
    Catalog.append(spark, "nation", nation, out)
    assert(spark.read.parquet(out).count() == 2 * n1)
    // drifted schema (missing column) must fail fast and write nothing
    val drifted = nation.drop("n_regionkey")
    val e = intercept[IllegalArgumentException] {
      Catalog.append(spark, "nation", drifted, out)
    }
    assert(e.getMessage.contains("schema drift"))
    assert(spark.read.parquet(out).count() == 2 * n1, "failed append must not write")
    // drifted type (int -> string) must also fail
    val retyped = nation.withColumn("n_nationkey",
      org.apache.spark.sql.functions.col("n_nationkey").cast("string"))
    intercept[IllegalArgumentException] {
      Catalog.append(spark, "nation", retyped, out)
    }
    // readers never see staged data, and a crashed append (leftover
    // staging dir) is detected and blocks the next append loudly
    assert(!Catalog.appendPending(spark, out))
    val stale = java.nio.file.Paths.get(out, "_tmp_append_dead")
    Files.createDirectory(stale)
    Files.write(stale.resolve("part-junk.parquet"), Array[Byte](9, 9))
    assert(spark.read.parquet(out).count() == 2 * n1,
      "underscore-prefixed staging dirs must be invisible to reads")
    assert(Catalog.appendPending(spark, out))
    val crashMsg = intercept[IllegalArgumentException] {
      Catalog.append(spark, "nation", nation, out)
    }
    assert(crashMsg.getMessage.contains("recoverAppends"))
    // no manifest = the crashed job died mid-WRITE: recovery rolls it
    // back (junk never reaches the table)
    assert(Catalog.recoverAppends(spark, out) == (0, 1))
    assert(!Catalog.appendPending(spark, out))
    assert(spark.read.parquet(out).count() == 2 * n1)
    // manifest present = died mid-COMMIT: recovery rolls it FORWARD,
    // skipping files the crashed job had already moved (idempotent)
    val scratch = Files.createTempDirectory("graft_app_src")
    nation.repartition(2).write.mode("overwrite").parquet(scratch.toString)
    val partNames = Files.list(scratch).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toList
    assert(partNames.size == 2)
    val fwd = java.nio.file.Paths.get(out, "_tmp_append_fwd")
    Files.createDirectory(fwd)
    // first file: "already moved" by the crashed job; second: staged
    Files.copy(scratch.resolve(partNames.head),
      java.nio.file.Paths.get(out, partNames.head))
    Files.copy(scratch.resolve(partNames(1)), fwd.resolve(partNames(1)))
    Files.write(fwd.resolve("_MANIFEST"),
      partNames.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(Catalog.recoverAppends(spark, out) == (1, 0))
    assert(!Catalog.appendPending(spark, out))
    assert(spark.read.parquet(out).count() == 3 * n1,
      "roll-forward must complete the crashed append exactly once")
    // and a clean append still commits fully
    Catalog.append(spark, "nation", nation, out)
    assert(spark.read.parquet(out).count() == 4 * n1)
    assert(!Catalog.appendPending(spark, out), "staging dir must be cleaned up")
  }

  test("fingerprint-bucketed catalog makes exact dedup shuffle-free") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Catalog.readParquet(spark, "documents", s"$sf/documents.parquet")
      .withColumn("fp", md5($"text"))
    Catalog.writeBucketed(docs, "docs_fp_b", "fp", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the dedup aggregate groups on the bucket column: the ingest-time
      // layout already clusters it, so the plan needs NO exchange
      val dedup = spark.table("docs_fp_b")
        .groupBy($"fp").agg(min($"doc_id").as("canonical_id"))
      assert(dedup.count() > 0)
      val plan = dedup.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed dedup still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fixed-width binary-record ingest decodes big-endian records (FITS-bintable analog)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flux", DoubleType),
      StructField("band", IntegerType)))
    val recs = (0 until 100).map(i => (i.toLong, i * 1.5, i % 6))
    val bb = java.nio.ByteBuffer.allocate(recs.length * 20)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    recs.foreach { case (id, flux, band) =>
      bb.putLong(id); bb.putDouble(flux); bb.putInt(band)
    }
    val f = Files.createTempDirectory("graft_bin").resolve("table.bin")
    Files.write(f, bb.array())
    val df = Catalog.readBinaryRecords(spark, f.toString, schema)
    assert(df.schema == schema)
    val back = df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    assert(back.toSeq == recs)
  }

  test("binrec V2 source: record-aligned splits + byte-level column pruning") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flux", DoubleType),
      StructField("band", IntegerType)))
    val recs = (0 until 100).map(i => (i.toLong, i * 1.5, i % 6))
    val bb = java.nio.ByteBuffer.allocate(recs.length * 20)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    recs.foreach { case (id, flux, band) =>
      bb.putLong(id); bb.putDouble(flux); bb.putInt(band)
    }
    val dir = Files.createTempDirectory("graft_binv2")
    Files.write(dir.resolve("table.bin"), bb.array())
    // also prove staging/hidden files are skipped like every source
    Files.write(dir.resolve("_junk.bin"), Array[Byte](1))

    def read() = spark.read.format("graft.sources.v2.BinRecordSource")
      .schema(schema)
      .option("path", dir.toString)
      .option("maxSplitBytes", "400") // 20 records per split -> 5 splits
      .load()

    val full = read()
    assert(full.rdd.getNumPartitions == 5, "record-aligned splits expected")
    val back = full.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .sortBy(_._1)
    assert(back.toSeq == recs)

    // projection must reach the scan: only the requested field decodes
    val pruned = read().select("flux")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans == Seq(Seq("flux")), s"pruning did not reach the scan: $scans")
    assert(pruned.collect().map(_.getDouble(0)).sorted.toSeq ==
      recs.map(_._2).sorted)

    // a truncated file fails loudly at planning, not as short output
    Files.write(dir.resolve("bad.bin"), Array[Byte](1, 2, 3))
    val e = intercept[Exception] { read().count() }
    assert(e.getMessage != null && e.getMessage.contains("multiple"),
      s"expected alignment failure, got $e")
  }

  test("binrec V2 source: filters push to the byte level and stay exact") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flux", DoubleType),
      StructField("band", IntegerType)))
    val recs = (0 until 100).map(i => (i.toLong, i * 1.5, i % 6))
    val bb = java.nio.ByteBuffer.allocate(recs.length * 20)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    recs.foreach { case (id, flux, band) =>
      bb.putLong(id); bb.putDouble(flux); bb.putInt(band)
    }
    val dir = Files.createTempDirectory("graft_binv2f")
    Files.write(dir.resolve("table.bin"), bb.array())
    def read() = spark.read.format("graft.sources.v2.BinRecordSource")
      .schema(schema).option("path", dir.toString).load()

    // comparison filters are claimed by the scan (visible in its
    // description) and the results match the reference predicate
    val q = read().filter("band = 3 AND flux > 30.0").select("id")
    val descs = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(descs.exists(d => d.contains("PushedFilters=[") &&
      d.contains("EqualTo(band,3)") && d.contains("GreaterThan(flux,30.0)")),
      s"filters not pushed: $descs")
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    val want = recs.filter(r => r._3 == 3 && r._2 > 30.0).map(_._1)
    assert(got == want)

    // a fractional literal against an integral field must NOT be
    // claimed (id >= 3.5 is not id >= 3): it stays with Spark and the
    // answer is still exact
    val q2 = read().filter(org.apache.spark.sql.functions.col("id") >= 3.5)
    val descs2 = q2.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }
    assert(!descs2.exists(_.contains("3.5")), s"inexact pushdown: $descs2")
    assert(q2.count() == recs.count(_._1 >= 4))

    // filter on a column that is NOT projected still prunes rows
    val q3 = read().filter("band = 0").select("flux")
    assert(q3.collect().map(_.getDouble(0)).sorted.toSeq ==
      recs.filter(_._3 == 0).map(_._2).sorted.toSeq)
  }

  test("binrec V2 source: NaN rows follow Spark's total order under pushdown") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flux", DoubleType)))
    val rows = Seq((1L, 10.0), (2L, Double.NaN), (3L, 50.0), (4L, -0.0))
    val bb = java.nio.ByteBuffer.allocate(rows.length * 16)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    rows.foreach { case (id, f) => bb.putLong(id); bb.putDouble(f) }
    val dir = Files.createTempDirectory("graft_binv2nan")
    Files.write(dir.resolve("t.bin"), bb.array())
    def read() = spark.read.format("graft.sources.v2.BinRecordSource")
      .schema(schema).option("path", dir.toString).load()
    def ids(cond: String) =
      read().filter(cond).select("id").collect().map(_.getLong(0)).toSet
    // Spark semantics: NaN > every value, NaN = NaN, -0.0 = 0.0 — the
    // pushed byte-level filter must keep the same rows the unpushed
    // Filter would (it is claimed exact, so Spark never re-checks)
    assert(ids("flux > 30.0") == Set(2L, 3L), "NaN must pass flux > 30")
    assert(ids("flux <= 30.0") == Set(1L, 4L), "NaN must fail flux <= 30")
    assert(ids("flux = CAST('NaN' AS DOUBLE)") == Set(2L), "NaN = NaN")
    assert(ids("flux = 0.0") == Set(4L), "-0.0 = 0.0")
  }

  test("binrec V2 write path: byte-exact round-trip, append, overwrite truncate") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("flux", DoubleType),
      StructField("band", IntegerType)))
    val recs = (0 until 100).map(i => (i.toLong, i * 1.5, i % 6))
    val out = Files.createTempDirectory("graft_binv2w").resolve("tbl").toString
    def write(rows: Seq[(Long, Double, Int)], mode: String) =
      rows.toDF("id", "flux", "band")
        .repartition(1).sortWithinPartitions("id")
        .write.format("graft.sources.v2.BinRecordSource")
        .option("path", out).option("recordSchema", schema.toDDL)
        .mode(mode).save()
    def read() = spark.read.format("graft.sources.v2.BinRecordSource")
      .schema(schema).option("path", out).load()

    write(recs, "append")
    // byte-exact: one sorted partition -> one file, bytes == reference buffer
    val files = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files.length == 1, s"expected 1 visible data file, got ${files.toSeq}")
    val expect = java.nio.ByteBuffer.allocate(recs.length * 20)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    recs.foreach { case (id, flux, band) =>
      expect.putLong(id); expect.putDouble(flux); expect.putInt(band)
    }
    assert(java.util.Arrays.equals(
      Files.readAllBytes(files.head.toPath), expect.array()),
      "written bytes differ from the reference big-endian layout")
    // no staging leftovers
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("_staging")),
      "staging dir survived the commit")

    // BOTH readers agree on the written table (cross-reader contract)
    val viaV2 = read().collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    val viaRdd = Catalog.readBinaryRecords(spark, out, schema).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._1)
    assert(viaV2.toSeq == recs && viaRdd.toSeq == recs)

    // append adds; overwrite truncates back down
    write(recs.map { case (i, f, b) => (i + 1000, f, b) }, "append")
    assert(read().count() == 200, "append lost or duplicated rows")
    write(recs.take(10), "overwrite")
    assert(read().collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10L), "overwrite did not truncate prior data")

    // fixed-width records cannot encode null: the write must fail loudly
    val withNull = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, null, 3),
        org.apache.spark.sql.Row(2L, 2.0, 4)),
      schema)
    val e = intercept[Exception] {
      withNull.write.format("graft.sources.v2.BinRecordSource")
        .option("path", out).option("recordSchema", schema.toDDL)
        .mode("append").save()
    }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("cannot encode null")),
      s"unexpected failure: $e")
    // the failed job must not have changed the committed table
    assert(read().count() == 10, "aborted write leaked rows")
  }

  test("csv ingest round-trips with the declared schema") {
    val out = Files.createTempDirectory("graft_csv").toString
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    nation.write.mode("overwrite").option("header", "false").csv(out)
    val back = Catalog.readCsv(spark, "nation", out)
    assert(back.schema == Catalog.schemas("nation"))
    assert(back.collect().map(_.toString).sorted.toSeq ==
      nation.collect().map(_.toString).sorted.toSeq)
  }

  test("quarantined csv ingest routes malformed lines without aborting the load") {
    val out = Files.createTempDirectory("graft_csvq").toString
    val nation = Catalog.readParquet(spark, "nation", s"$sf/nation.parquet")
    nation.write.mode("overwrite").option("header", "false").csv(out)
    val nGood = nation.count()
    // corrupt lines: a non-numeric key and a truncated row — the
    // FITS→CSV→bulk-load path's classic field-shift failures
    val badLines = Seq("notakey,BROKENLAND,0,oops", "8,SHORT")
    Files.write(java.nio.file.Paths.get(out, "bad.csv"),
      badLines.mkString("\n").getBytes)
    // FAILFAST (the strict reader) aborts on the same input — on a
    // full materialization: a bare count() prunes every column and
    // never exercises the parser
    intercept[Exception] { Catalog.readCsv(spark, "nation", out).collect() }
    // …the quarantining reader loads every well-formed row and banks
    // the raw lines of the rest
    val load = Catalog.readCsvQuarantined(spark, "nation", out)
    try {
      assert(load.clean.schema == Catalog.schemas("nation"))
      assert(load.clean.count() == nGood, "well-formed rows must all load")
      val banked = load.quarantine.collect().map(_.getString(0)).sorted
      assert(banked.toSeq == badLines.sorted, banked.mkString("|"))
    } finally load.unpersist()
  }
}

class EventStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("windowed counts with watermark aggregate by hour and type") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(20), 2, "view", 3.0), Event(4, ts(70), 1, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.nonEmpty)
      val clicksH0 = rows.filter(r => r.getAs[String]("event_type") == "click")
        .map(_.getAs[Long]("n")).max
      assert(clicksH0 == 2)
    } finally q.stop()
  }

  test("stream dedup drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(0), 1, "click", 1.0)) // replay in later batch
      q.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("checkpointed catalog ingest is exactly-once across a restart") {
    val base = Files.createTempDirectory("graft_ingest")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val events = Tables.events(spark, sf)
    def stream() = spark.readStream
      .schema(Catalog.schemas("events")).parquet(in)

    events.filter("event_id < 100").write.mode("append").parquet(in)
    val q1 = EventStream.ingestToCatalog(stream(), out, cp)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 100)

    // new files arrive while the query is DOWN; restart from the same
    // checkpoint must ingest exactly the new rows, no replays
    events.filter("event_id >= 100 AND event_id < 250")
      .write.mode("append").parquet(in)
    val q2 = EventStream.ingestToCatalog(stream(), out, cp)
    try q2.processAllAvailable() finally q2.stop()
    val ingested = spark.read.parquet(out)
    assert(ingested.count() == 250, "lost or replayed rows across restart")
    assert(ingested.select("event_id").distinct().count() == 250)
  }

  test("streaming ingest drives rollup maintenance; replayed batches are idempotent") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ingroll")
    val in = base.resolve("in").toString
    val tbl = base.resolve("base").toString
    val roll = base.resolve("rollup").toString
    val cp = base.resolve("cp").toString
    val events = Tables.events(spark, sf)
    def stream() = spark.readStream
      .schema(Catalog.schemas("events")).parquet(in)
    def rollupNow() = spark.read.parquet(roll)
      .select($"day".cast("string"), $"event_type", $"n_events", $"n_users", $"value_c100")
      .collect().map(_.toSeq).toSet
    def wantFor(pred: String) =
      graft.operators.Rollup.compute(events.filter(pred))
        .select($"day", $"event_type", $"n_events", $"n_users", $"value_c100")
        .collect().map(_.toSeq).toSet

    events.filter("event_id < 100").write.mode("append").parquet(in)
    val q1 = EventStream.ingestWithRollup(stream(), tbl, roll, cp)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(tbl).count() == 100)
    assert(rollupNow() == wantFor("event_id < 100"),
      "rollup out of sync with base after first batch")

    // files arrive while the query is DOWN; restart must ingest exactly
    // the new rows AND bring the rollup back in sync
    events.filter("event_id >= 100 AND event_id < 250")
      .write.mode("append").parquet(in)
    val q2 = EventStream.ingestWithRollup(stream(), tbl, roll, cp)
    try q2.processAllAvailable() finally q2.stop()
    val ingested = spark.read.parquet(tbl)
    assert(ingested.count() == 250, "lost or replayed rows across restart")
    assert(ingested.select("event_id").distinct().count() == 250)
    assert(rollupNow() == wantFor("event_id < 250"),
      "rollup out of sync with base after restart")

    // at-least-once replay: applying the SAME batch id twice must not
    // duplicate base rows and must leave the rollup converged
    val replay = events.filter("event_id >= 250 AND event_id < 300")
    EventStream.applyIngestBatch(replay, 999L, tbl, roll)
    EventStream.applyIngestBatch(replay, 999L, tbl, roll)
    assert(spark.read.parquet(tbl).count() == 300,
      "replayed batch duplicated base rows")
    assert(rollupNow() == wantFor("event_id < 300"),
      "rollup diverged after batch replay")
  }

  test("streaming object-index ingest: lookups stay single-bucket; replays idempotent") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_idxstream")
    val in = base.resolve("in").toString
    val idx = base.resolve("idx").toString
    val cp = base.resolve("cp").toString
    val events = Tables.events(spark, sf)
    val nb = 16
    def stream() = spark.readStream
      .schema(Catalog.schemas("events")).parquet(in)
    val id = queries.TimeSeries.LookupId

    events.filter("event_id < 500").write.mode("append").parquet(in)
    val q1 = graft.sources.ObjectIndex.ingestStream(stream(), idx, cp, nb)
    try q1.processAllAvailable() finally q1.stop()
    assert(graft.sources.ObjectIndex.lookup(spark, idx, id, nb)
      .collect().map(_.getLong(1)).sorted.toSeq ==
      queries.TimeSeries.qObjectLookup(spark, sf)
        .filter($"event_id" < 500).collect().map(_.getLong(1)).sorted.toSeq)

    // restart with new files: resume exactly-once
    events.filter("event_id >= 500").write.mode("append").parquet(in)
    val q2 = graft.sources.ObjectIndex.ingestStream(stream(), idx, cp, nb)
    try q2.processAllAvailable() finally q2.stop()
    val full = graft.sources.ObjectIndex.lookup(spark, idx, id, nb)
    assert(full.collect().map(_.getLong(1)).sorted.toSeq ==
      queries.TimeSeries.qObjectLookup(spark, sf)
        .collect().map(_.getLong(1)).sorted.toSeq,
      "post-restart index lookup lost or duplicated rows")

    // replaying the SAME batch id must not duplicate
    graft.sources.ObjectIndex.applyIndexBatch(
      events.filter("event_id < 100"), 999L, idx, nb)
    graft.sources.ObjectIndex.applyIndexBatch(
      events.filter("event_id < 100"), 999L, idx, nb)
    val dups = spark.read.parquet(idx).groupBy("event_id")
      .count().filter($"count" > 2).count()
    assert(dups == 0, "replayed index batch duplicated rows")
  }

  test("object-index compaction bounds files per bucket; lookups stay single-bucket; crashes recover") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_idxcompact")
    val idx = base.resolve("idx").toString
    val events = Tables.events(spark, sf)
    val nb = 16
    val id = queries.TimeSeries.LookupId
    val store = graft.sources.ObjectIndex.IndexStore
    def wantUnder(bound: Long) = queries.TimeSeries.qObjectLookup(spark, sf)
      .filter($"event_id" < bound).collect().map(_.toSeq).toSeq
    def want = wantUnder(Long.MaxValue)
    def got = graft.sources.ObjectIndex.lookup(spark, idx, id, nb)
      .collect().map(_.toSeq).toSeq
    val ids = Seq(id, 3L, 11L, 5L, 14L)
    def wantManyUnder(bound: Long) = events
      .filter($"user_id".isin(ids: _*) && $"event_id" < bound)
      .selectExpr("user_id", "event_id", "ts DIV 1000 AS tus")
      .orderBy("user_id", "tus", "event_id").collect().map(_.toSeq).toSeq
    def gotMany = graft.sources.ObjectIndex.lookupMany(spark, idx, ids, nb)
      .select("user_id", "event_id", "tus").collect().map(_.toSeq).toSeq
    def gensPerBucket: Seq[Int] = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("obkt="))
      .map(_.listFiles().count(f => f.isDirectory && f.getName.startsWith("ibatch=")))
      .toSeq
    def batch(b: Int) = events.filter(s"event_id < 600 AND event_id % 6 = $b")

    // replay N disjoint micro-batches: batch partitions (and files)
    // accrete per bucket; the tail of the table arrives later
    for (b <- 0 until 6)
      graft.sources.ObjectIndex.applyIndexBatch(batch(b), b.toLong, idx, nb)
    assert(gensPerBucket.max > 1, "expected multi-generation buckets before compaction")
    assert(got == wantUnder(600), "pre-compaction lookup broken")

    // fold: every batch, the newest included, collapses into the fold
    // partition, and the horizon records batch 5
    store.fold(spark, idx)
    assert(gensPerBucket.forall(_ == 1), s"buckets not fully folded: $gensPerBucket")
    assert(store.foldedHorizon(spark, idx) == 5L)
    assert(got == wantUnder(600), "compaction lost or duplicated rows")
    // replaying a folded batch after the fold, the newest or an older
    // one, is skipped by the horizon
    for (b <- Seq(5, 2)) {
      graft.sources.ObjectIndex.applyIndexBatch(batch(b), b.toLong, idx, nb)
      assert(got == wantUnder(600) && gensPerBucket.forall(_ == 1),
        s"replay of folded batch $b after compaction duplicated rows")
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scan = graft.sources.ObjectIndex.lookup(spark, idx, id, nb)
      val scans = scan.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      scan.collect()
      assert(scans.head.partitionFilters.nonEmpty, "no partition filter post-compaction")
      // the scan reads exactly this bucket's folded file, and nothing
      // from other buckets
      val bucketFiles = {
        def walk(f: java.io.File): Long =
          if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
          else f.listFiles().map(walk).sum
        walk(new java.io.File(idx, s"obkt=${Math.floorMod(id, nb.toLong)}"))
      }
      assert(scans.head.metrics("numFiles").value == bucketFiles && bucketFiles <= 2,
        s"post-compaction lookup read ${scans.head.metrics("numFiles").value} " +
          s"files, bucket holds $bucketFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // a fold that crashed after its phase 1: every bucket holds a stage
    // with its whole content beside the sources it was folded from;
    // lookups read the stage alone, so they stay exact
    graft.sources.ObjectIndex.applyIndexBatch(
      events.filter("event_id >= 600 AND event_id < 800"), 100L, idx, nb)
    store.read(spark, idx).withColumn("ibatch", org.apache.spark.sql.functions.lit(-2L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("obkt", "ibatch").parquet(idx)
    def staged = new java.io.File(idx).listFiles().filter(_.getName.startsWith("obkt="))
      .map(b => new java.io.File(b, "ibatch=-2").isDirectory).toSeq
    assert(staged.forall(identity), "fixture: a bucket holds no stage")
    assert(got == wantUnder(800) && gotMany == wantManyUnder(800),
      "lookups beside an orphaned stage double-counted")
    // a batch landed beside the orphaned stage heals the stage first,
    // then lands: the batch is kept and nothing is counted twice
    graft.sources.ObjectIndex.applyIndexBatch(
      events.filter("event_id >= 800"), 101L, idx, nb)
    assert(store.foldedHorizon(spark, idx) == 100L)
    assert(gensPerBucket.forall(_ <= 2) && !staged.exists(identity),
      s"the orphaned stage was not healed: $gensPerBucket")
    assert(got == want && gotMany == wantManyUnder(Long.MaxValue),
      "a batch landed beside an orphaned stage was lost or double-counted")
    // the heal folded batch 100: its replay is skipped
    graft.sources.ObjectIndex.applyIndexBatch(
      events.filter("event_id >= 600 AND event_id < 800"), 100L, idx, nb)
    assert(got == want, "replay of a batch the heal folded duplicated rows")
  }

  test("compacting ingest loop bounds generations across a stream's lifetime") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_idxloop")
    val in = base.resolve("in").toString
    val idx = base.resolve("idx").toString
    val cp = base.resolve("cp").toString
    val events = Tables.events(spark, sf)
    val nb = 16
    val id = queries.TimeSeries.LookupId
    def stream() = spark.readStream
      .schema(Catalog.schemas("events")).parquet(in)

    events.filter("event_id < 150").write.mode("append").parquet(in)
    val q = graft.sources.ObjectIndex.ingestStream(
      stream(), idx, cp, nb, compactEvery = 2)
    try {
      q.processAllAvailable()
      for (i <- 1 until 6) {
        events.filter(s"event_id >= ${i * 150} AND event_id < ${(i + 1) * 150}")
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()

    // with folds every 2 batches, a bucket can hold at most the last
    // compacted generation plus the unfolded newest batches
    val gens = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("obkt="))
      .map(_.listFiles().count(f => f.isDirectory && f.getName.startsWith("ibatch=")))
    assert(gens.nonEmpty && gens.max <= 3,
      s"generations unbounded under the compacting loop: ${gens.toSeq}")
    val got = graft.sources.ObjectIndex.lookup(spark, idx, id, nb)
      .collect().map(_.toSeq).toSeq
    val want = queries.TimeSeries.qObjectLookup(spark, sf)
      .filter($"event_id" < 900).collect().map(_.toSeq).toSeq
    assert(got == want, "compacting ingest loop lost or duplicated rows")
  }

  test("stream-stream interval join pairs clicks with preceding views only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.clickViewJoin(input.toDF())
      .writeStream.format("memory").queryName("cvj").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "view", 1.0),   // within the hour before click
        Event(2, ts(30), 7, "click", 1.0), // joins view 1
        Event(3, ts(90), 7, "view", 1.0),  // AFTER the click: must not join it
        Event(4, ts(0), 8, "view", 1.0))   // other user: must not join
      q.processAllAvailable()
      val rows = spark.table("cvj").collect()
      assert(rows.length == 1, s"expected exactly one click-view pair, got ${rows.toSeq}")
      assert(rows.head.getAs[Long]("click_id") == 2 && rows.head.getAs[Long]("view_id") == 1)
    } finally q.stop()
  }

  test("streaming sessionize matches batch q_sessionize on the replayed events table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // replay the real events table (ts nanos -> ms timestamps)
    val evs = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val maxMs = evs.map(_.ts.getTime).max
    val gapS = 6L * 3600 // same 6h gap as batch q_sessionize
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapSeconds = gapS)
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      // sentinel for a dummy user far in the future: pushes the
      // watermark past every real session's last+gap so all time out
      input.addData(Event(-1L, new Timestamp(maxMs + 1000L * 3600 * 100),
        999999999L, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .filter($"closed" && $"user_id" =!= 999999999L)
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(2).getTime, r.getLong(3))).toSet
      // batch sessions, start/end truncated micros -> ms to match
      val batch = queries.TimeSeries.qSessionize(spark, sf)
        .selectExpr("user_id", "start_tus DIV 1000 AS s_ms",
          "end_tus DIV 1000 AS e_ms", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}; batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("stream-static enrich joins each micro-batch against the dim table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((7L, "BUILDING"), (8L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[Event]
    val q = EventStream.enrich(input.toDS().toDF(), dim)
      .select($"event_id", $"user_id", $"c_mktsegment")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(1), 8, "view", 1.0),
        Event(3, ts(2), 99, "view", 1.0)) // no dim row: left join keeps it
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toMap
      assert(rows == Map(1L -> "BUILDING", 2L -> "MACHINERY", 3L -> null))
    } finally q.stop()
  }

  test("streaming anomalies match the batch prefix-window formulation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value").collect()
      .map(r => Event(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val minPrior = 5L
    val input = MemoryStream[Event]
    val q = EventStream.anomalies(input.toDS(), k = 3, minPrior = minPrior)
      .writeStream.format("memory").queryName("anom_parity")
      .outputMode("append").start()
    try {
      // two arbitrary batch splits: exact Long state makes the split
      // irrelevant as long as replay is in event-time order
      val (a, b) = evs.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(evs.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
      val streamed = spark.table("anom_parity")
        .select($"user_id", $"event_id", $"tms", $"xc", $"n_prior")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // batch: cumulative prefix sums over (ms, event_id) order —
      // the same fold the stream performs
      val batch = Tables.events(spark, sf)
        .selectExpr("user_id", "event_id", "ts DIV 1000000 AS tms",
          "CAST(ROUND(value*100) AS BIGINT) AS xc")
        .selectExpr("*",
          """count(*)  OVER (PARTITION BY user_id ORDER BY tms, event_id
            |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n""".stripMargin,
          """sum(xc)   OVER (PARTITION BY user_id ORDER BY tms, event_id
            |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s""".stripMargin,
          """sum(xc*xc) OVER (PARTITION BY user_id ORDER BY tms, event_id
            |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sq""".stripMargin)
        .filter($"n" >= minPrior)
        .filter(expr("""CAST(xc*n - s AS DOUBLE) * CAST(xc*n - s AS DOUBLE) >
          | 9.0D * (CAST(n AS DOUBLE)*sq - CAST(s AS DOUBLE)*s)""".stripMargin))
        .select($"user_id", $"event_id", $"tms", $"xc", $"n".as("n_prior"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(batch.nonEmpty, "degenerate fixture: no anomalies at minPrior=5")
      assert(streamed == batch,
        s"stream-only: ${(streamed diff batch).take(3)}; batch-only: ${(batch diff streamed).take(3)}")
    } finally q.stop()
  }

  test("stateful sessionization closes a session after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapSeconds = 600)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // two bursts 30 min apart -> first session closes in-batch
      input.addData(
        Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 1.0),
        Event(3, ts(35), 7, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n_events") == 2)
      assert(rows.head.getAs[Boolean]("closed"))
    } finally q.stop()
  }
}

// top-level: MemoryStream needs an encoder without an outer-class scope
case class Det(det_k: Long, ra: Double, decl: Double)

class DetectionStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.streaming.DetectionStream

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed association reproduces the batch cross-match and transient split; replay appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_detstream")
    val matchPath = base.resolve("matches").toString
    val transientPath = base.resolve("transients").toString
    val cp = base.resolve("cp").toString

    queries.Spatial.writeXmatchHalo(
      queries.Spatial.points(spark, sf), "halo_stream_t", 1.0, 5.0, 4)
    val objHalo = spark.table("halo_stream_t")
    val dets = queries.Spatial.detections(spark, sf)
      .select("det_k", "ra", "decl").collect()
      .map(r => Det(r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val (first, second) = dets.partition(_.det_k % 2 == 0)

    val input = MemoryStream[Det]
    val q = DetectionStream.start(input.toDF(), objHalo, matchPath,
      transientPath, cp, 1.0)
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    // the accumulated match table IS the flat two-catalog association
    val stored = queries.Spatial.MatchStore.read(spark, matchPath)
    assert(pairSet(stored.select("det_k", "obj_k", "dist_r6")) ==
      pairSet(queries.Spatial.qXmatch2cat(spark, sf)))
    // the transient table IS the unmatched half, and together they
    // partition the detections exactly
    val trans = queries.Spatial.TransientStore.read(spark, transientPath)
    val wantTrans = queries.Spatial.qXmatchUnmatched(spark, sf)
      .select("det_k").collect().map(_.getLong(0)).toSet
    assert(trans.select("det_k").collect().map(_.getLong(0)).toSet == wantTrans)
    assert(trans.count() +
      stored.select("det_k").distinct().count() == dets.length.toLong)

    // a replayed micro-batch (same batch_id) appends to NEITHER table
    val firstDf = first.toSeq.toDF("det_k", "ra", "decl")
    assert(queries.Spatial.associateBatch(spark, firstDf, objHalo,
      matchPath, transientPath, 0L, 1.0) == (0L, 0L))
    assert(queries.Spatial.MatchStore.read(spark, matchPath).count() ==
      stored.count())
    assert(queries.Spatial.TransientStore.read(spark, transientPath).count() ==
      trans.count())

    // crash window: matches committed, transients lost — replay heals
    // the transient partition without redoing the spatial work
    val lostDir = new org.apache.hadoop.fs.Path(transientPath, "batch_id=1")
    val fsys = lostDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = trans.filter("batch_id = 1").count()
    assert(fsys.delete(lostDir, true))
    val (m1, t1) = queries.Spatial.associateBatch(spark,
      second.toSeq.toDF("det_k", "ra", "decl"), objHalo,
      matchPath, transientPath, 1L, 1.0)
    assert(m1 == 0L, "match append must replay as a no-op")
    assert(t1 == before, "healed transient partition must restore its rows")
    assert(queries.Spatial.TransientStore.read(spark, transientPath)
      .select("det_k").collect().map(_.getLong(0)).toSet == wantTrans)

    // retention applies to the MATCH/TRANSIENT stores identically to
    // the phash pairs store (they share the batch_id-partitioned
    // nightly layout): age batch 0 from both, dirs survive as
    // completion markers, the retained window is untouched, and the
    // aged batch replays as a no-op through its partition guard
    import graft.sources.Catalog
    val keepM = queries.Spatial.MatchStore.read(spark, matchPath)
      .filter("batch_id = 1").count()
    val keepT = queries.Spatial.TransientStore.read(spark, transientPath)
      .filter("batch_id = 1").count()
    assert(Catalog.dropPartitionsBelow(spark, matchPath, "batch_id", 1L) == 1)
    assert(Catalog.dropPartitionsBelow(spark, transientPath, "batch_id", 1L) == 1)
    for (p <- Seq(matchPath, transientPath)) {
      assert(Catalog.ageHorizon(spark, p) == 1L)
      assert(new java.io.File(s"$p/batch_id=0").isDirectory,
        s"$p lost its aged completion dir")
    }
    assert(queries.Spatial.MatchStore.read(spark, matchPath).count() == keepM)
    assert(queries.Spatial.TransientStore.read(spark, transientPath).count() == keepT)
    assert(queries.Spatial.associateBatch(spark, firstDf, objHalo,
      matchPath, transientPath, 0L, 1.0) == (0L, 0L),
      "aged association batch must replay as a no-op")
  }
}

case class RawBlob(doc_id: Long, blob: Array[Byte])

class BlobStreamSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.streaming.BlobStream
  import queries.Multimodal._

  test("streamed ingest with sliding retention ages old pairs batches in-flight") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_blobretain")
    val indexPath = base.resolve("idx").toString
    val pairsPath = base.resolve("pairs").toString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8"))
      .filter(_._2.nonEmpty)
    val corpus = docs.flatMap { case (id, b) =>
      if (id % PhashVariantMod == 0) {
        val pfx = b.length / 3
        Seq(RawBlob(id, b), RawBlob(id + PhashV1Offset, b.map(x => (x + 4).toByte)),
          RawBlob(id + PhashV2Offset, b.zipWithIndex.map { case (x, i) =>
            if (i < pfx) (x + 16).toByte else x }))
      } else Seq(RawBlob(id, b))
    }
    val slices = (0 until 3).map(k => corpus.filter(_.doc_id % 3 == k))
    assert(buildPhashIndex(spark, spark.emptyDataset[BlobSig].toDF(), indexPath))
    val input = MemoryStream[RawBlob]
    val q = BlobStream.start(input.toDF(), indexPath, pairsPath,
      base.resolve("cp").toString, retainBatches = 2)
    try slices.foreach { sl => input.addData(sl.toSeq); q.processAllAvailable() }
    finally q.stop()
    // after batch 2 with a 2-batch window, batch 0 is aged: dir kept
    // (completion marker), files gone, horizon recorded
    assert(graft.sources.Catalog.ageHorizon(spark, pairsPath) == 1L)
    assert(new java.io.File(s"$pairsPath/batch_id=0").isDirectory)
    assert(new java.io.File(s"$pairsPath/batch_id=0").listFiles()
      .forall(f => f.getName.startsWith("_") || f.getName.startsWith(".")))
    // retained batches carry exactly the brute-force attribution
    val n = 3L
    val got = PhashPairsStore.read(spark, pairsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val want = qBlobPhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.max(r.getLong(0) % n, r.getLong(1) % n)))
      .filter(_._3 >= 1L).toSet
    assert(got == want, "retained-window pairs diverge from attribution")
    assert(want.nonEmpty, "retention window empty — fixture vacuous")
    // the index is NEVER aged: it still equals a fresh full build
    val fullPath = base.resolve("full").toString
    assert(buildPhashIndex(spark, phashSigs(spark, sf), fullPath))
    def img(p: String) = PhashIndexStore.read(spark, p)
      .select("doc_id", "pi", "pv", "p0", "p1", "p2", "p3").collect()
      .map(_.toSeq).toSet
    assert(img(indexPath) == img(fullPath), "retention touched the index")
    // an aged batch replays as a no-op through both guards
    assert(blobBatch(spark, slices(0).toSeq.toDF("doc_id", "blob"),
      indexPath, pairsPath, 0L) == 0L)
    assert(PhashPairsStore.read(spark, pairsPath).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet == got)
  }

  test("streamed blob ingest reproduces the in-plan perceptual scan; replay and crash windows heal") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Files.createTempDirectory("graft_blobstream")
    val indexPath = base.resolve("idx").toString
    val pairsPath = base.resolve("pairs").toString
    val cp = base.resolve("cp").toString

    // the planted perceptual corpus as raw payloads, derived
    // driver-side exactly like phashSigs derives it (non-empty texts;
    // every PhashVariantMod-th doc gets the +4-shift and prefix-edit
    // byte variants)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8"))
      .filter(_._2.nonEmpty)
    val corpus = docs.flatMap { case (id, b) =>
      if (id % PhashVariantMod == 0) {
        val pfx = b.length / 3
        val v1 = b.map(x => (x + 4).toByte)
        val v2 = b.zipWithIndex.map { case (x, i) =>
          if (i < pfx) (x + 16).toByte else x }
        Seq(RawBlob(id, b), RawBlob(id + PhashV1Offset, v1),
          RawBlob(id + PhashV2Offset, v2))
      } else Seq(RawBlob(id, b))
    }
    // keep each planted family together relative to batches only by
    // chance — the split is by id parity, so families STRADDLE the
    // two micro-batches and cross-batch pairs must come from the
    // stored-index probe, not the within-batch join
    val (first, second) = corpus.partition(_.doc_id % 2 == 0)

    // stream onto an EMPTY index — the cold-start ingest
    assert(buildPhashIndex(spark,
      spark.emptyDataset[BlobSig].toDF(), indexPath))
    val input = MemoryStream[RawBlob]
    val q = BlobStream.start(input.toDF(), indexPath, pairsPath, cp)
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
    } finally q.stop()

    // the accumulated pairs store IS the in-plan corpus scan (every
    // block here stays under the cap, so as-of-batch caps and the
    // final corpus cap agree), and each pair arrived exactly once
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = PhashPairsStore.read(spark, pairsPath)
    val want = pairSet(qBlobPhash(spark, sf))
    assert(pairSet(streamed) == want)
    assert(streamed.count() == want.size.toLong, "no pair may arrive twice")
    assert(want.nonEmpty)
    // the folded index equals a fresh full build over the corpus
    val fullPath = base.resolve("full").toString
    assert(buildPhashIndex(spark, phashSigs(spark, sf), fullPath))
    def img(p: String) = PhashIndexStore.read(spark, p)
      .select("doc_id", "pi", "pv", "p0", "p1", "p2", "p3").collect()
      .map(_.toSeq).toSet
    assert(img(indexPath) == img(fullPath))

    // a replayed micro-batch (same batch_id) appends to NEITHER store
    val firstDf = first.toSeq.toDF("doc_id", "blob")
    val nPairs = streamed.count()
    val nIdx = PhashIndexStore.read(spark, indexPath).count()
    assert(blobBatch(spark, firstDf, indexPath, pairsPath, 0L) == 0L)
    assert(PhashPairsStore.read(spark, pairsPath).count() == nPairs)
    assert(PhashIndexStore.read(spark, indexPath).count() == nIdx)

    // crash window: pairs partition lost after the fold committed —
    // replay restores the partition; the re-probe against the
    // already-folded index self-pairs at distance 0 are excluded by
    // the probe's dx != dy guard, so the restored rows equal the lost
    // ones
    val lostDir = new org.apache.hadoop.fs.Path(pairsPath, "batch_id=1")
    val fsys = lostDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = streamed.filter("batch_id = 1").count()
    assert(fsys.delete(lostDir, true))
    val restored = blobBatch(spark, second.toSeq.toDF("doc_id", "blob"),
      indexPath, pairsPath, 1L)
    assert(restored == before, "healed pairs partition must restore its rows")
    assert(pairSet(PhashPairsStore.read(spark, pairsPath)) == want)
    assert(PhashIndexStore.read(spark, indexPath).count() == nIdx,
      "the fold half must replay as a no-op")
  }

  test("q_blob_phash_batches: arrival telemetry equals brute-force attribution; warm path touches nothing; lost partition heals") {
    import spark.implicits._
    val n = PhashStreamBatches.toLong
    def run() = qBlobPhashBatches(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run()
    // every micro-batch reports a row, pairs or not
    assert(got.map(_._1) == (0L until n))
    // brute force: the corpus pair set, each pair attributed to its
    // later doc's batch (the stream emits a pair when the later
    // batch probes the at-rest index)
    val pairs = qBlobPhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byBatch = pairs.groupBy { case (d1, d2, _) => math.max(d1 % n, d2 % n) }
    val want = (0L until n).map { b =>
      val ps = byBatch.getOrElse(b, Array.empty[(Long, Long, Int)])
      (b, ps.length.toLong, ps.count(_._3 == 0).toLong)
    }
    assert(got == want)
    assert(want.map(_._2).sum > 0, "the planted corpus must yield pairs")

    // warm path: a second read short-circuits on the fold markers +
    // pairs partitions and rewrites NOTHING in either store
    val (idxPath, pairsPath) = ensurePhashStream(spark, sf)
    val hconf = spark.sparkContext.hadoopConfiguration
    def newest(p: String): Long = {
      val root = new org.apache.hadoop.fs.Path(p)
      val it = root.getFileSystem(hconf).listFiles(root, true)
      var m = 0L
      while (it.hasNext) m = math.max(m, it.next().getModificationTime)
      m
    }
    val stamps = (newest(idxPath), newest(pairsPath))
    assert(run() == got)
    assert((newest(idxPath), newest(pairsPath)) == stamps,
      "warm path must not rewrite the stores")

    // crash frontier q == p + 1 (died between the pairs append and
    // the fold): the last fold marker is lost, its pairs partition
    // intact — resume starts AT the frontier batch, the pairs half
    // skips on its partition guard (the store is never rewritten) and
    // the fold replays as a no-op through the index-wide anti-join
    val fsys = new org.apache.hadoop.fs.Path(idxPath).getFileSystem(hconf)
    val lastFold = new org.apache.hadoop.fs.Path(idxPath, s"_phash_fold_${n - 1}")
    assert(fsys.delete(lastFold, false))
    val idxCount = PhashIndexStore.read(spark, idxPath).count()
    val pairsStamp = newest(pairsPath)
    assert(run() == got)
    assert(fsys.exists(lastFold), "the fold marker must be restored")
    assert(PhashIndexStore.read(spark, idxPath).count() == idxCount,
      "the fold replay must append nothing")
    assert(newest(pairsPath) == pairsStamp,
      "the pairs half must skip on its partition guard")

    // crash frontier q == p (died before the last pairs append): both
    // the fold marker and the pairs partition are gone — resume
    // re-runs the frontier batch; the re-probe against the index (the
    // dx != dy guard excludes the folded self-pairs, distinct folds
    // the within/cross double-sighting) restores exactly its rows
    val lost = new org.apache.hadoop.fs.Path(pairsPath, s"batch_id=${n - 1}")
    assert(fsys.delete(lastFold, false))
    assert(lost.getFileSystem(hconf).delete(lost, true))
    assert(run() == got)

    // non-frontier damage (a lost MIDDLE partition while later folds
    // exist) cannot be resumed without mis-attributing later batches'
    // cross pairs — the lifecycle wipes both halves and rebuilds
    val middle = new org.apache.hadoop.fs.Path(pairsPath, "batch_id=0")
    assert(middle.getFileSystem(hconf).delete(middle, true))
    assert(run() == got)
  }
}

class LightcurveStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  test("LightcurveStream: streamed per-band stats fold equals the batch query; replay and compaction are exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = Files.createTempDirectory("graft_lc_stats").toString + "/stats"
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"value", $"event_type")
    // three deterministic micro-batches by event id
    val batches = (0 until 3).map(b =>
      ev.filter(pmod($"event_id", lit(3)) === b).drop("event_id"))
    for ((b, id) <- batches.zipWithIndex)
      graft.streaming.LightcurveStream.applyStatsBatch(b, id.toLong, path)
    def readKeyed(): Map[(Long, String), (Long, Long, Long, Long, Long, Long, Double)] =
      graft.streaming.LightcurveStream.readStats(spark, path).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
          (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
            r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"),
            r.getAs[Long]("amp_c100"), r.getAs[Long]("var_num"),
            r.getAs[Double]("mean_val"))).toMap
    // the streamed fold is EXACT: bit-identical to the batch
    // q_lightcurve_band aggregate over identified objects (the store
    // is keyed by object, so null-user anonymous events stay out)
    val expect = queries.TimeSeries.qLightcurveBand(spark, sf)
      .filter($"user_id".isNotNull).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
          r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"),
          r.getAs[Long]("amp_c100"), r.getAs[Long]("var_num"),
          r.getAs[Double]("mean_val"))).toMap
    val got = readKeyed()
    assert(got == expect, "streamed summary != batch aggregate")
    // at-least-once delivery: a replayed batch overwrites its own
    // subpartitions — contents unchanged
    graft.streaming.LightcurveStream.applyStatsBatch(batches(1), 1L, path)
    assert(readKeyed() == expect, "replay changed the summary")
    // a crashed phase-1 compaction (stage present, sources not yet
    // removed) reads exactly via the precedence rule
    spark.read.parquet(path)
      .groupBy($"user_id", $"band")
      .agg(sum($"n").as("n"), sum($"sum_c100").as("sum_c100"),
        min($"min_c100").as("min_c100"), max($"max_c100").as("max_c100"),
        sum($"sxx").as("sxx"))
      .withColumn("sbkt", pmod($"user_id",
        lit(graft.streaming.LightcurveStream.NBuckets.toLong)))
      .withColumn("ibatch", lit(-2L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("sbkt", "ibatch").parquet(path)
    assert(readKeyed() == expect, "mid-compaction read diverged")
    // compaction (healing the simulated crash) preserves content,
    // MERGES to exactly one row per key, and leaves one canonical
    // fold partition per bucket
    graft.streaming.LightcurveStream.StatsStore.fold(spark, path)
    assert(readKeyed() == expect, "compaction changed the summary")
    assert(spark.read.parquet(path).count() == expect.size.toLong,
      "fold did not merge to one row per (object, band)")
    val hconf2 = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs2 = root.getFileSystem(hconf2)
    for (b <- fs2.listStatus(root) if b.isDirectory
         && b.getPath.getName.startsWith("sbkt=")) {
      val subs = fs2.listStatus(b.getPath).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      assert(subs == Set("ibatch=-1"),
        s"${b.getPath.getName} not fully folded: $subs")
    }
    // the crash-between-fold-and-commit window: a batch REPLAYED
    // after compaction consumed its subpartitions must be skipped
    // via the folded horizon — without the guard this append would
    // double-count every key batch 1 touched
    graft.streaming.LightcurveStream.applyStatsBatch(batches(1), 1L, path)
    assert(readKeyed() == expect,
      "replay after compaction double-counted (folded horizon ignored)")
    // and the loop keeps accepting genuinely NEW batches after a fold
    graft.streaming.LightcurveStream.applyStatsBatch(batches(2), 9L, path)
    val doubled = readKeyed()
    for (((k, b), v) <- readKeyed()) assert(doubled((k, b))._1 >= expect((k, b))._1)
  }

  test("q_lc_stream_batches telemetry equals a raw-history recompute of the layout and shrugs off both replay classes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = Files.createTempDirectory("graft_lc_tele").toString + "/stats"
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"value", $"event_type")
    val batches = (0 until 4).map(b =>
      ev.filter(pmod($"event_id", lit(4)) === b))
    // the registered lifecycle's shape: 4 deterministic batches, one
    // mid-build fold → the at-rest layout is fold(0,1) + tail(2,3)
    for ((b, id) <- batches.zipWithIndex) {
      graft.streaming.LightcurveStream.applyStatsBatch(
        b.drop("event_id"), id.toLong, path)
      if (id == 1) graft.streaming.LightcurveStream.StatsStore.fold(spark, path)
    }
    def tele(): Map[Long, (Long, Long, Long, Int)] =
      queries.TimeSeries.lcStreamBatchesOver(spark, path, 4).collect()
        .map(r => r.getAs[Long]("ibatch") -> (r.getAs[Long]("n_keys"),
          r.getAs[Long]("n_objects"), r.getAs[Long]("n_events"),
          r.getAs[Int]("folded"))).toMap
    val got = tele()
    // driver-side recompute: attribute every identified event to its
    // deterministic batch, collapse ids at/below the horizon into the
    // fold partition, rebuild the key-level partial counts
    val raw = ev.filter($"user_id".isNotNull)
      .select($"user_id", $"event_id",
        expr(queries.TimeSeries.BandCaseSql).as("band")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byPart = raw.groupBy { case (_, eid, _) =>
      val b = eid % 4; if (b <= 1L) -1L else b
    }
    val expect = (Seq(-1L, 0L, 1L, 2L, 3L).map { id =>
      val rows = byPart.getOrElse(id, Array.empty[(Long, Long, String)])
      id -> (rows.map(t => (t._1, t._3)).distinct.length.toLong,
        rows.map(_._1).distinct.length.toLong, rows.length.toLong,
        if (id >= 0 && id <= 1) 1 else 0)
    }).toMap
    assert(got == expect, s"telemetry != layout recompute\n$got\n$expect")
    assert(got(-1L)._1 > 0 && got(2L)._1 > 0, "fold/tail rows empty")
    // replay class 1: an id below the durable horizon is SKIPPED (its
    // content is at rest inside the fold — re-landing it would
    // double-count); the telemetry must not move
    graft.streaming.LightcurveStream.applyStatsBatch(
      batches(0).drop("event_id"), 0L, path)
    assert(tele() == got, "folded-id replay changed the telemetry")
    // replay class 2: a live tail id overwrites its own subpartitions
    // (dynamic overwrite) — identical content, telemetry unchanged
    graft.streaming.LightcurveStream.applyStatsBatch(
      batches(2).drop("event_id"), 2L, path)
    assert(tele() == got, "tail-id replay changed the telemetry")
  }

  test("LightcurveStream: a direct append beside an orphaned fold stage heals the stage instead of losing the batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = Files.createTempDirectory("graft_lc_orphan").toString + "/stats"
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"value", $"event_type")
    val batches = (0 until 3).map(b =>
      ev.filter(pmod($"event_id", lit(3)) === b).drop("event_id"))
    graft.streaming.LightcurveStream.applyStatsBatch(batches(0), 0L, path)
    graft.streaming.LightcurveStream.applyStatsBatch(batches(1), 1L, path)
    // orphan a phase-1 stage (compaction crashed after staging the
    // fold of batches 0-1, before marker/cleanup): merged content
    // lands under ibatch=-2 with the sources still beside it
    spark.read.parquet(path)
      .groupBy($"user_id", $"band")
      .agg(sum($"n").as("n"), sum($"sum_c100").as("sum_c100"),
        min($"min_c100").as("min_c100"), max($"max_c100").as("max_c100"),
        sum($"sxx").as("sxx"))
      .withColumn("sbkt", pmod($"user_id",
        lit(graft.streaming.LightcurveStream.NBuckets.toLong)))
      .withColumn("ibatch", lit(-2L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("sbkt", "ibatch").parquet(path)
    // the exposed-API hazard (r16 ADVICE): batch 2 appended beside the
    // orphaned stage used to be shadowed by the read precedence rule
    // and then deleted as a fold source — silent loss. applyStatsBatch
    // now heals the in-flight fold first, so the append must survive.
    graft.streaming.LightcurveStream.applyStatsBatch(batches(2), 2L, path)
    val got = graft.streaming.LightcurveStream.readStats(spark, path)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
          r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"))).toMap
    val expect = queries.TimeSeries.qLightcurveBand(spark, sf)
      .filter($"user_id".isNotNull).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
          r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"))).toMap
    assert(got == expect,
      "append beside an orphaned stage was dropped or double-counted")
    // the heal completed the crashed compaction: no stage remains, the
    // horizon marker covers the folded batches, and a replay of a
    // folded batch is skipped (horizon guard) while the late append
    // survives in its own subpartition
    graft.streaming.LightcurveStream.applyStatsBatch(batches(1), 1L, path)
    val replayed = graft.streaming.LightcurveStream.readStats(spark, path)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
          r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"))).toMap
    assert(replayed == expect, "replay after heal changed the summary")
  }

  test("q_lightcurve_band_stored answers the flat-table summary from the steady-state LSM layout; warm re-entry reuses the store") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_c100"),
          r.getAs[Long]("min_c100"), r.getAs[Long]("max_c100"),
          r.getAs[Long]("amp_c100"), r.getAs[Long]("var_num"),
          r.getAs[Double]("mean_val"))).toMap
    val got = keyed(queries.TimeSeries.qLightcurveBandStored(spark, sf).collect())
    val expect = keyed(queries.TimeSeries.qLightcurveBand(spark, sf)
      .filter($"user_id".isNotNull).collect())
    assert(got == expect, "stored read path != flat batch aggregate")
    // the at-rest layout the read had to merge is the STEADY state:
    // a canonical fold (the mid-build compaction of batches 0-1) PLUS
    // uncompacted tail batches — not a conveniently fresh store
    val path = graft.sources.Store.derivedPath(sf, "lc_stats", Seq("events.parquet"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subs = fs.listStatus(root).filter(b => b.isDirectory &&
      b.getPath.getName.startsWith("sbkt="))
      .flatMap(b => fs.listStatus(b.getPath).filter(_.isDirectory)
        .map(_.getPath.getName)).toSet
    assert(subs.contains("ibatch=-1"), s"no canonical fold at rest: $subs")
    assert(subs.exists(n => n == "ibatch=2" || n == "ibatch=3"),
      s"no uncompacted tail at rest: $subs")
    assert(!subs.contains("ibatch=-2"), "an in-flight stage survived the build")
    // warm re-entry: the _build_done marker short-circuits the (fully
    // idempotent) rebuild and the content is unchanged
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_build_done")))
    val again = keyed(queries.TimeSeries.qLightcurveBandStored(spark, sf).collect())
    assert(again == expect, "warm re-entry changed the summary")
  }
}
