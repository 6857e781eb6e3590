package graft

import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with RegistryRows {
  import SparkTestSession._
  import spark.implicits._

  test("induction is greedy and deterministic on a hand-derivable corpus") {
    // word freqs: the=4, aaaa=2, then=1. Pair counts round 1:
    // (a,a)=3·2=6 beats (t,h)=(h,e)=5 → merge (a,a); the aaaa run
    // must split GREEDILY into [aa,aa] (the shared-boundary case the
    // span encoding exists for). Round 2: (t,h)=(h,e)=5 tie broken by
    // pair order → (h,e). Round 3: (t,he)=5.
    val docs = Seq((0L, "the the the aaaa"), (1L, "then the aaaa"))
      .toDF("doc_id", "text")
    assert(queries.Bpe.induceMerges(docs, 3) ==
      Seq(("a", "a", 6L), ("h", "e", 5L), ("t", "he", 5L)))
  }

  test("token counts match a driver-side greedy re-tokenization; packShards consumes BPE counts") {
    val merges = queries.Bpe.mergesFor(spark, sf)
    assert(merges.size == queries.Bpe.BpeMerges)
    // independent reference tokenizer: one left-to-right merge pass
    // per rank (sufficient: a merge a+b can never create a new (a,b)
    // adjacency, since ab differs from both halves)
    def tokenize(word: String): Int = {
      var syms = word.map(_.toString).toList
      for ((a, b, _) <- merges) {
        val out = scala.collection.mutable.ListBuffer[String]()
        var rest = syms
        while (rest.nonEmpty) rest match {
          case x :: y :: t if x == a && y == b => out += (x + y); rest = t
          case x :: t => out += x; rest = t
        }
        syms = out.toList
      }
      syms.length
    }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    queries.Bpe.qBpeTokens(spark, sf).collect().foreach { r =>
      val (id, n) = (r.getLong(0), r.getInt(1))
      val want = texts(id).split(" ").filter(_.matches("[a-z]+"))
        .map(tokenize).sum
      assert(n == want, s"doc $id: engine says $n tokens, reference says $want")
    }
    // the packShards hook: shard token sums must conserve the BPE
    // counts exactly (every doc packed once, sized in subword tokens)
    val toks = queries.Bpe.bpeTokenCounts(spark, sf)
    val packed = queries.Text.packShards(
      spark.read.parquet(s"$sf/documents.parquet"), Some(toks))
    val (nDocs, tokSum) = packed
      .agg(org.apache.spark.sql.functions.sum("n_docs"),
        org.apache.spark.sql.functions.sum("tok_sum")).as[(Long, Long)].head()
    assert(nDocs == texts.size, "pack-by-BPE lost or duplicated docs")
    val wantSum = queries.Bpe.qBpeTokens(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("bpe_tokens")).as[Long].head()
    assert(tokSum == wantSum, "shard token sums do not conserve the BPE counts")
  }

  test("q_bpe_fertility reconciles with per-doc token counts and raw word/char totals") {
    import org.apache.spark.sql.functions._
    val got = queries.Bpe.qBpeFertility(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.nonEmpty)
    // independent recompute: per-doc BPE counts joined to raw text
    val toks = queries.Bpe.qBpeTokens(spark, sf)
    val docs = Tables.documents(spark, sf)
      .join(toks, "doc_id")
      .select(col("source"), col("text"), col("bpe_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .groupBy(_._1)
    assert(got.keySet == docs.keySet)
    for ((src, rows) <- docs) {
      val ws = rows.map(_._2.split(" ").filter(_.matches("^[a-z]+$")))
      val (nWords, nChars) = (ws.map(_.length.toLong).sum, ws.map(_.map(_.length).sum.toLong).sum)
      val nToks = rows.map(_._3.toLong).sum
      val r = got(src)
      assert(r.getAs[Long]("n_docs") == rows.size.toLong, src)
      assert(r.getAs[Long]("n_words") == nWords, src)
      assert(r.getAs[Long]("n_chars") == nChars, src)
      assert(r.getAs[Long]("bpe_toks") == nToks, src)
      assert(r.getAs[Long]("fert_milli") ==
        (if (nWords > 0) 1000 * nToks / nWords else 0L), src)
      assert(r.getAs[Long]("cpt_milli") ==
        (if (nToks > 0) 1000 * nChars / nToks else 0L), src)
      // fertility is bounded by [1000, 1000·maxWordLen]: at least one
      // token per word, at most one per character
      if (nWords > 0) assert(r.getAs[Long]("fert_milli") >= 1000L, src)
      if (nToks > 0) assert(r.getAs[Long]("cpt_milli") >= 1000L, src)
    }
  }

  test("q_chunk_bpe conserves tokens and words; chunks respect the budget") {
    import org.apache.spark.sql.functions._
    val chunks = queries.Bpe.qChunkBpe(spark, sf).cache()
    // every word lands in exactly one chunk, every token is counted once
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_words").as("nw"), sum("bpe_toks").as("nt"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS nw")
    assert(perDoc.join(docs, "doc_id")
      .filter(perDoc("nw") =!= docs("nw")).count() == 0,
      "chunking lost or duplicated words")
    val wantToks = queries.Bpe.qBpeTokens(spark, sf)
      .agg(sum("bpe_tokens")).as[Long].head()
    assert(chunks.agg(sum("bpe_toks")).as[Long].head() == wantToks,
      "chunking lost or duplicated tokens")
    // the budget discipline: greedy packing guarantees every chunk's
    // token sum is ≤ the budget — the sole exception is a chunk whose
    // single word alone exceeds it (words never split)
    assert(chunks.filter(col("bpe_toks") > lit(queries.Bpe.ChunkBpeBudget)
      && col("n_words") > 1).count() == 0,
      "a multi-word chunk exceeded the token budget")
    chunks.unpersist()
    // planted greed exactness: single-letter words cost 1 token under
    // any merge table (a lone symbol has no pairs), so a uniform
    // 130-word doc must chunk as exactly 64+64+2 — full chunks close
    // only on overflow, never early
    val planted = Seq((9000001L, Seq.fill(130)("a").mkString(" ")))
      .toDF("doc_id", "text")
    val merges = queries.Bpe.mergesFor(spark, sf)
    val got = queries.Bpe.chunkByBpe(planted, merges).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_toks"))).sortBy(_._1).toSeq
    assert(got == Seq((0L, 64L, 64L), (1L, 64L, 64L), (2L, 2L, 2L)),
      s"greedy chunking of a uniform 130-word doc: $got")
    // zero-cost words (outside the [a-z]+ alphabet) must never open a
    // chunk on their own — they ride along until a costed word arrives
    val lead = Seq((9000002L, (Seq.fill(3)("") ++ Seq.fill(5)("a")).mkString(" ")))
      .toDF("doc_id", "text")
    val got2 = queries.Bpe.chunkByBpe(lead, merges).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("bpe_toks"))).sortBy(_._1).toSeq
    // 3 zero-cost empty words + 5 cost-1 words all fit in one chunk
    assert(got2 == Seq((0L, 8L, 5L)),
      s"zero-cost prefix words must not open chunks: $got2")
  }
}
