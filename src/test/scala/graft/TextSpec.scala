package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHashAlgos
import org.apache.spark.unsafe.types.UTF8String

class TextSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._

  test("q_lang_confusion aggregates exactly q_lang_id's per-doc verdicts") {
    val perDoc = queries.Text.qLangId(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted")))
    val exp = perDoc.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowTot = perDoc.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val got = queries.Text.qLangConfusion(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("predicted")) -> r)
      .toMap
    assert(got.keySet == exp.keySet)
    for ((k, r) <- got) {
      assert(r.getAs[Long]("n") == exp(k), s"count $k")
      assert(r.getAs[Long]("n_lang") == rowTot(k._1), s"row total $k")
      assert(r.getAs[Long]("permille") == exp(k) * 1000 / rowTot(k._1))
    }
    // the matrix must be a real confusion matrix at this corpus: some
    // mass on the diagonal, some off it — otherwise the telemetry
    // could never catch a drift in either direction
    assert(exp.keys.exists(k => k._1 == k._2), "no diagonal mass")
    assert(exp.keys.exists(k => k._1 != k._2), "no off-diagonal mass")
    // row conservation: each label's cells sum to its doc count
    for ((lang, tot) <- rowTot)
      assert(exp.collect { case ((l, _), n) if l == lang => n }.sum == tot)
  }

  test("q_ttr equals a driver recompute and the macro/micro means both carry") {
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").filter(_.nonEmpty)))
      .filter(_._2.nonEmpty)
    val exp = docs.groupBy(_._1).map { case (src, ds) =>
      val perDoc = ds.map(_._2).map(t =>
        (t.length.toLong, t.distinct.length.toLong))
      src -> (perDoc.length.toLong, perDoc.map(_._1).sum, perDoc.map(_._2).sum,
        perDoc.map { case (nt, ny) => ny * 1000 / nt }.sum)
    }
    val got = queries.Text.qTtr(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == exp.keySet)
    for ((src, (nd, tt, ty, pmSum)) <- exp) {
      val r = got(src)
      assert(r.getAs[Long]("n_docs") == nd, s"n_docs $src")
      assert(r.getAs[Long]("toks_total") == tt, s"toks $src")
      assert(r.getAs[Long]("types_total") == ty, s"types $src")
      assert(r.getAs[Long]("ttr_pm_macro") == pmSum / nd, s"macro $src")
      assert(r.getAs[Long]("ttr_pm_micro") == ty * 1000 / tt, s"micro $src")
      // a ratio of counts can never leave (0, 1000]
      assert(r.getAs[Long]("ttr_pm_micro") > 0 &&
        r.getAs[Long]("ttr_pm_micro") <= 1000)
    }
    // repetition exists in the corpus: somewhere types < tokens
    assert(got.values.exists(r =>
      r.getAs[Long]("types_total") < r.getAs[Long]("toks_total")),
      "corpus has no repeated token anywhere — TTR is vacuous here")
  }

  test("q_importance_weight matches a brute-force recompute and upweights the target slice") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val B = queries.Text.IwBuckets
    def bucket(tok: String): Int =
      (java.lang.Long.parseLong(md5hex(tok).take(2), 16) % B).toInt
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty)))
    // the 64-bucket histogram → ppm → permille ratio table, in driver code
    val raw = Array.fill(B)(0L); val tgt = Array.fill(B)(0L)
    for ((_, lang, toks) <- docs; t <- toks) {
      raw(bucket(t)) += 1
      if (lang == queries.Text.IwTargetLang) tgt(bucket(t)) += 1
    }
    val (rawTot, tgtTot) = (raw.sum, tgt.sum)
    val ratio = Array.tabulate(B) { b =>
      (tgt(b) * 1000000L / tgtTot + 1) * 1000L / (raw(b) * 1000000L / rawTot + 1)
    }
    val got = queries.Text.qImportanceWeight(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == docs.map(_._1).toSet)
    val srateByLang = collection.mutable.Map[String, List[Long]]()
    for ((id, lang, toks) <- docs) {
      val score = toks.map(t => ratio(bucket(t))).sum
      val r = got(id)
      assert(r.getAs[Long]("score") == score, s"doc $id")
      val srate = if (toks.nonEmpty) score / toks.length else 0L
      assert(r.getAs[Long]("srate_milli") == srate, s"doc $id")
      val u = java.lang.Long.parseLong(md5hex(id.toString).take(4), 16) % 2000
      assert(r.getAs[Long]("u_milli") == u &&
        r.getAs[Int]("keep") == (if (u < srate) 1 else 0))
      srateByLang(lang) = srate :: srateByLang.getOrElse(lang, Nil)
    }
    // directional: target-language docs score above any other slice's mean
    def mean(xs: List[Long]) = xs.sum.toDouble / xs.size
    val en = mean(srateByLang(queries.Text.IwTargetLang))
    for ((lang, xs) <- srateByLang if lang != queries.Text.IwTargetLang)
      assert(en > mean(xs), s"target mean $en not above $lang ${mean(xs)}")
  }

  test("q_mix_diversity matches a driver-side interleave recompute; shards are source-mixed") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong,
        java.lang.Long.parseLong(md5hex(r.getLong(0).toString).take(15), 16)))
      .sortBy(t => (t._4, t._1))
    var cum = 0L
    val shardOf = docs.map { case (_, src, toks, _) =>
      val shard = cum / queries.Text.PackBudget
      cum += toks
      (shard, src)
    }
    val want = shardOf.groupBy(_._1).map { case (sh, rows) =>
      val bySrc = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val n = rows.length.toLong
      val sq = bySrc.values.map(v => v * v).sum
      sh -> (n, bySrc.size.toLong, 100 * bySrc.values.max / n,
        1000000L - 1000000L * sq / (n * n))
    }
    val got = queries.Text.qMixDiversity(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == want.keySet)
    for ((sh, (n, ns, top, div)) <- want) {
      val r = got(sh)
      assert(r.getAs[Long]("n_docs") == n, s"shard $sh")
      assert(r.getAs[Long]("n_sources") == ns, s"shard $sh")
      assert(r.getAs[Long]("top_share_pct") == top, s"shard $sh")
      assert(r.getAs[Long]("div_ppm") == div, s"shard $sh")
    }
    // the md5 interleave genuinely mixes: most multi-doc shards hold
    // more than one source
    val multi = got.values.filter(_.getAs[Long]("n_docs") >= 5)
    assert(multi.nonEmpty &&
      multi.count(_.getAs[Long]("n_sources") > 1) * 2 > multi.size,
      "interleaved shards should usually mix sources")
  }

  test("q_pii_scrub finds exactly the injected PII and redacts it") {
    val rows = queries.Text.qPiiScrub(spark, sf).collect()
    for (r <- rows) {
      val (id, nEmail, nPhone) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(nEmail == (if (id % 3 == 0) 1 else 0), s"doc $id email count $nEmail")
      assert(nPhone == (if (id % 5 < 2) 1 else 0), s"doc $id phone count $nPhone")
    }
    // redacted text of a PII-free doc is the original text
    import org.apache.spark.sql.functions._
    val clean = Tables.documents(spark, sf)
      .filter("doc_id % 3 != 0 AND doc_id % 5 >= 2")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- rows if clean.contains(r.getLong(0)))
      assert(r.getString(3) == clean(r.getLong(0)),
        s"doc ${r.getLong(0)}: redaction altered PII-free text")
  }

  test("q_lm_score: common-bigram docs score higher than the flagged tail") {
    val rows = queries.Text.qLmScore(spark, sf).collect()
    assert(rows.forall(r => r.getLong(2) >= 0))
    // flag is exactly the threshold predicate
    for (r <- rows)
      assert(r.getInt(3) == (if (r.getLong(2) < queries.Text.LmLowScoreX1000) 1 else 0))
    // scores are bounded by the quantization: digits of a count within
    // the corpus bigram total
    val maxDigits = rows.map(_.getLong(2)).max / 1000 + 1
    assert(maxDigits <= 12, "quantized log-count out of any plausible range")
  }

  test("minhash signature: identical texts agree, k respected") {
    val a = TextHashAlgos.minhash(UTF8String.fromString("a b c d e f g"), 3, 16)
    val b = TextHashAlgos.minhash(UTF8String.fromString("a b c d e f g"), 3, 16)
    assert(a.toLongArray().toSeq == b.toLongArray().toSeq)
    assert(a.numElements() == 16)
  }

  test("minhash similarity tracks shingle overlap") {
    def sig(t: String) = TextHashAlgos.minhash(UTF8String.fromString(t), 3, 128).toLongArray()
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base + " ok"
    val far = "completely different words everywhere nothing shared at all here now yes sir"
    def sim(x: Array[Long], y: Array[Long]) = x.zip(y).count { case (p, q) => p == q } / 128.0
    assert(sim(sig(base), sig(near)) > 0.5)
    assert(sim(sig(base), sig(far)) < 0.2)
  }

  test("simhash: near texts within small hamming distance, far texts not") {
    def h(t: String) = TextHashAlgos.simhash(UTF8String.fromString(t))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "spark table scan merge join filter group order window value key row"
    assert(ham(h(base), h(base + " extra")) < ham(h(base), h("x y z q w e r t u i o p")))
  }

  test("winnow: substring sharing yields fingerprint overlap") {
    def fp(t: String) = TextHashAlgos.winnow(UTF8String.fromString(t), 8, 4).toLongArray().toSet
    val shared = "identical shared run of characters here"
    val a = fp("prefix one " + shared + " suffix alpha")
    val b = fp("other start " + shared + " ending beta")
    assert((a & b).nonEmpty)
  }

  test("winnow handles short strings") {
    assert(TextHashAlgos.winnow(UTF8String.fromString("ab"), 8, 4).numElements() == 0)
    assert(TextHashAlgos.winnow(UTF8String.fromString("abcdefghi"), 8, 4).numElements() >= 1)
  }

  test("q_text_quality ttr is a percentage") {
    val df = queries.Text.qTextQuality(spark, sf)
    assert(df.filter("ttr_pct < 0 OR ttr_pct > 100").count() == 0)
  }

  test("q_fingerprint is unique per doc at sf0.001 (no exact dups planted)") {
    val df = queries.Text.qFingerprint(spark, sf)
    assert(df.select("fp").distinct().count() == df.count())
  }

  test("q_collocations: pair counts bounded by both unigram counts, lift positive") {
    val df = queries.Text.qCollocations(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter("c_ab > c_a OR c_ab > c_b").count() == 0,
      "a bigram occurred more often than one of its words")
    assert(df.filter(s"c_ab < ${queries.Text.CollocMinCount}").count() == 0)
    assert(df.filter("lift_x1000 < 0").count() == 0)
    df.unpersist()
  }

  test("custom expressions stay inside whole-stage codegen") {
    val df = queries.Text.qWinnowFingerprint(spark, sf)
    df.collect() // finalize THIS plan's AQE so codegen ids are annotated
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("codegen id"), s"no codegen span in:\n$plan")
  }

  test("q_repetition: planted loops are dropped, clean doc kept, no per-gram shuffle") {
    import spark.implicits._
    val distinctWords = (0 until 60).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      // one phrase looped 20x: nearly every 3-gram is a duplicate
      (1L, Seq.fill(20)("copy paste spam block").mkString(" ")),
      // one bigram dominates an otherwise-varied doc
      (2L, distinctWords + " " + Seq.fill(30)("buy now").mkString(" ")),
      // clean: all words distinct
      (3L, distinctWords),
      // too short for a 3-gram: filtered out entirely
      (4L, "ab cd")
    ).toDF("doc_id", "text")
    val out = queries.Text.repetition(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("dup3_pm"), r.getAs[Long]("top2_pm"), r.getAs[Int]("keep"))).toMap
    assert(byId(1L)._1 > 900 && byId(1L)._3 == 0, s"looped doc: ${byId(1L)}")
    assert(byId(2L)._2 > queries.Text.RepTop2PmMax && byId(2L)._3 == 0,
      s"dominated doc: ${byId(2L)}")
    assert(byId(3L) == ((0L, 16L, 1)), s"clean doc: ${byId(3L)}")
    // per-document metrics must not shuffle per-gram rows: the only
    // exchange is the presentation sort's range partitioning
    // plan shape over the parquet-backed table (a local relation
    // constant-folds the whole pipeline away): no per-gram shuffle,
    // and the kernel runs ONCE per row — a filter on r[0] would be
    // pushed through the projection by alias substitution and
    // re-evaluate rep_stats in the Filter as well as the Project
    val pq = queries.Text.qRepetition(spark, sf)
    pq.collect()
    val plan = pq.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"unexpected aggregate in:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"per-gram shuffle in:\n$plan")
    // count evaluation sites in the final plan only: the AQE dump
    // repeats the tree under "Initial Plan", and FileScan echoes
    // filters as DataFilters metadata without evaluating them
    val evalSites = plan.linesIterator
      .takeWhile(!_.contains("Initial Plan"))
      .filterNot(_.contains("FileScan"))
      .count(_.contains("rep_stats"))
    assert(evalSites == 1, s"rep_stats must evaluate exactly once in:\n$plan")
  }

  test("rep_stats kernel matches the declarative fold on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0 until 300).map { i =>
      val n = 3 + rnd.nextInt(60)
      val sb = new StringBuilder(vocab(rnd.nextInt(vocab.size)))
      (1 until n).foreach { _ =>
        // occasional double space → empty tokens, the split edge case
        sb.append(if (rnd.nextInt(12) == 0) "  " else " ")
        sb.append(vocab(rnd.nextInt(vocab.size)))
      }
      (i.toLong, sb.toString)
    }.toDF("doc_id", "text")
    val a = queries.Text.repetition(docs).collect().map(_.toSeq).toSeq
    val b = queries.Text.repetitionFold(docs).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("q_pack_shards: exact shard layout, boundary-end is not a cut, batches pack independently") {
    import spark.implicits._
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    // budget 128: cum after each doc = 100, 128, 138, 288, 289
    val docs = Seq(
      (0L, "s", doc(100)), // shard 0
      (1L, "s", doc(28)),  // ends exactly at 128 -> shard 0, NOT cut
      (2L, "s", doc(10)),  // starts at 128 -> shard 1
      (3L, "s", doc(150)), // 138..288 spans into shard 2 -> cut
      (4L, "s", doc(1)),   // starts at 288 -> shard 2
      // next ingest batch (doc_id DIV 100 = 1): packs from shard 0
      (100L, "s", doc(5))
    ).toDF("doc_id", "source", "text")
    val out = queries.Text.packShards(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.toSeq == Seq(
      (0L, 0L, 2L, 0L, 0L, 1L, 128L),
      (0L, 1L, 2L, 1L, 2L, 3L, 160L),
      (0L, 2L, 1L, 0L, 4L, 4L, 1L),
      (1L, 0L, 1L, 0L, 100L, 100L, 5L)), s"got ${out.toSeq}")
  }

  test("q_chunk: overlapping windows tile the document exactly") {
    import spark.implicits._
    val sf001 = queries.Text.qChunk(spark, sf)
    val byDoc = sf001.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(byDoc.nonEmpty)
    for ((_, chunks) <- byDoc) {
      val sorted = chunks.sortBy(_._2)
      // chunk ids dense from 0, starts at stride multiples
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      assert(sorted.forall(c => c._3 == c._2 * queries.Text.ChunkStride))
      // every chunk except the last is full-length or covers the tail;
      // consecutive chunks overlap by ChunkTokens - ChunkStride
      val nWords = sorted.last._3 + sorted.last._4
      // every non-last chunk is full-length AND stops short of the
      // document end (the last chunk is the FIRST to reach it — no
      // chunk is a redundant subset of its predecessor)
      for (c <- sorted.init) {
        assert(c._4 == queries.Text.ChunkTokens, s"non-terminal short chunk: $c")
        assert(c._3 + c._4 < nWords, s"redundant successor after: $c")
      }
      assert(sorted.last._3 < nWords)
    }
  }

  test("q_source_drift: an alien-vocabulary source scores zero overlap") {
    import spark.implicits._
    // the tokenizer splits on [^a-z]+, so vocab must be letters-only
    val core = ('a' to 'y').map(c => s"core$c$c").mkString(" ")
    val docs = Seq(
      (0L, core, "s0"), (1L, core, "s0"),
      (2L, core, "s1"), (3L, core, "s1"),
      // drifted source: vocabulary disjoint from the corpus core
      (4L, ('a' to 'y').map(c => s"alien$c$c").mkString(" "), "sx")
    ).toDF("doc_id", "text", "source")
    val out = queries.Text.sourceDrift(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // global top-20 is the core vocab (4 docs vs 1): s0/s1 fully
    // overlap (jaccard 1000 permille), sx not at all
    assert(out("s0") == ((20L, 1000L)) && out("s1") == ((20L, 1000L)),
      s"core sources: $out")
    assert(out("sx") == ((0L, 0L)), s"drifted source: $out")
  }

  test("q_zipf ranks are dense from 1 and counts non-increasing") {
    val rows = queries.Text.qZipf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq, "ranks not dense")
    assert(rows.sliding(2).forall(w => w.length < 2 || w(0)._2 >= w(1)._2),
      "counts must be non-increasing by rank")
  }

  test("q_source_mix: quotas exhaust the budget and never exceed availability") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mix = queries.Text.qSourceMix(spark, sf).cache()
    try {
      val (availSum, quotaSum) = mix
        .agg(sum("avail"), sum("quota")).as[(Long, Long)].head()
      assert(quotaSum == availSum / queries.Text.MixBudgetDen,
        s"quota sum $quotaSum must equal the budget ${availSum / 2}")
      assert(mix.filter(col("quota") > col("avail")).count() == 0,
        "a quota exceeded its source's availability")
      assert(mix.filter(col("n_sampled") =!= col("quota")).count() == 0,
        "sampling must hit the quota exactly")
    } finally { mix.unpersist(); () }
  }

  test("sourceMix water-fills a skewed corpus: small sources kept whole, big ones capped") {
    import spark.implicits._
    // avails: sA=10, sB=5, sC=1; total 16 → budget 8. Level L=3
    // (base 1+3+3=7), remainder 1 goes to the first eligible source
    // by name (sA) → quotas sA=4, sB=3, sC=1.
    val docs = ((0 until 10).map(i => (i.toLong, "sA")) ++
      (10 until 15).map(i => (i.toLong, "sB")) ++ Seq((15L, "sC")))
      .toDF("doc_id", "source")
    val got = queries.Text.sourceMix(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq(("sA", 10L, 4L), ("sB", 5L, 3L), ("sC", 1L, 1L)),
      s"water-fill quotas: $got")
    assert(got.forall(t => t._4 == t._3), "sampled counts must equal quotas")
  }

  test("q_hash_sample census equals a brute-force md5-bucket split") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(id: Long): String = {
      val hb = java.lang.Long.parseLong(md5hex(id.toString).take(15), 16) % 1000
      if (hb < 980) "train" else if (hb < 990) "valid" else "test"
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val exp = docs.groupBy(d => (d._2, split(d._1))).map { case (k, ds) =>
      k -> (ds.length.toLong, ds.map(_._3).sum)
    }
    val srcTot = docs.groupBy(_._2).map { case (s0, ds) => s0 -> ds.length.toLong }
    val got = queries.Text.qHashSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == exp.keySet)
    for (((src, sp), (n, chars)) <- exp) {
      val r = got((src, sp))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("chars") == chars,
        s"($src,$sp) census")
      assert(r.getAs[Long]("src_docs") == srcTot(src))
      assert(r.getAs[Long]("permille") == n * 1000 / srcTot(src))
    }
    // determinism: the same doc lands in the same split on a re-read
    val again = queries.Text.qHashSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs"))
      .toMap
    assert(again == got.map { case (k, r) => k -> r.getAs[Long]("n_docs") })
    // all three splits materialize somewhere in the corpus
    assert(Set("train", "valid", "test").subsetOf(exp.keySet.map(_._2)))
  }

  test("q_gini matches a driver-side exact Gini over per-source masses") {
    val bySrc = Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("bs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val n = bySrc.length.toLong
    def gini(vals: Seq[(Long, String)]): (Long, Double) = {
      val sorted = vals.sorted.map(_._1) // (value, name) ascending
      val tot = sorted.sum
      val num = sorted.zipWithIndex
        .map { case (v, i) => (2L * (i + 1) - n - 1) * v }.sum
      (num, num.toDouble / (n * tot).toDouble)
    }
    val (dn, dg) = gini(bySrc.map(t => (t._2, t._1)).toSeq)
    val (cn, cg) = gini(bySrc.map(t => (t._3, t._1)).toSeq)
    val r = queries.Text.qGini(spark, sf).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_sources") == n)
    assert(r(0).getAs[Long]("gini_docs_num") == dn)
    assert(r(0).getAs[Double]("gini_docs") == dg)
    assert(r(0).getAs[Long]("gini_chars_num") == cn)
    assert(r(0).getAs[Double]("gini_chars") == cg)
    // Gini of a non-degenerate distribution lies strictly in [0, 1)
    assert(dg >= 0.0 && dg < 1.0 && cg >= 0.0 && cg < 1.0)
  }
}
