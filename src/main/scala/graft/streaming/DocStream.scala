package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.functions.TextFunctions
import graft.queries.Text
import graft.sources.{Catalog, Store}

/** Streaming corpus ingest — the documents twin of the stored-ANN
  * ingest ([[graft.queries.Ann.ingestVectorStream]]): each micro-batch
  * passes the shared quality + repetition gates, is exact-deduped by
  * content fingerprint within the batch AND against the corpus at
  * rest, and lands through the crash-safe staged-append lifecycle
  * ([[graft.sources.Store.append]]; a predecessor's crash is resolved
  * by [[Catalog.recoverAppends]] at the top of each batch — same
  * single-writer discipline as the ANN ingest).
  *
  * Shape for 100 TB: the at-rest table is partitioned by fingerprint
  * bucket, so the per-batch anti-join reads ONLY the buckets the
  * batch touches (static partition pruning — cost tracks the batch,
  * not the corpus). Deduping on the CONTENT fingerprint makes
  * at-least-once delivery exactly-once content: a replayed
  * micro-batch anti-joins away entirely, and the same text
  * re-submitted under a new doc_id is still one copy at rest.
  */
object DocStream {
  /** Fingerprint-bucket partition count of the clean corpus. Sized so
    * one bucket ≈ one maintenance unit; at 100 TB raise it with a
    * rebuild (bucket id is derived, not stored upstream). */
  val DocBuckets = 16L

  /** The shared ingest gate: minimum length + stopword presence
    * (q_text_quality's keep) and the repetition gate (q_repetition's
    * keep) — thresholds defined ONCE in [[Text]], so tuning them
    * updates the batch queries, their oracles, and this ingest
    * together. The length + repetition verdict is ONE RepKeep kernel
    * call per row — a filter over fields of an aliased repStats
    * column would let predicate pushdown substitute the alias and
    * re-run the kernel once per referenced field (6× here). */
  private[graft] def gate(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter(
      TextFunctions.repKeep($"text", Text.QualityMinWords,
        Text.RepDup3PmMax.toLong, Text.RepTop2PmMax.toLong) &&
        expr(s"size(filter(split(text, ' '), w -> w IN (${Text.StopProbeList}))) > 0"))
  }

  /** 128-bit content fingerprint (md5 hex, as q_dedup_exact uses):
    * the at-rest anti-join is keyed SOLELY on fp and never re-reads
    * text, so a fingerprint collision silently drops a distinct
    * document forever — at the multi-billion-doc target, 64-bit
    * birthday collisions are no longer negligible, 128-bit ones are.
    * The bucket is a pure function of the fingerprint (first 15 hex
    * chars = 60 bits), so identical text always lands — and is
    * always probed — in the same partition. */
  private def withFp(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text")))
      .withColumn("bk",
        pmod(conv(substring(col("fp"), 1, 15), 16, 10).cast("long"),
          lit(DocBuckets)))

  /** Deterministic in-batch content dedup: lowest doc_id wins per
    * fingerprint (not dropDuplicates, whose survivor is
    * partitioning-dependent). */
  private def dedupBatch(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    docs.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
  }

  /** The clean corpus: the caller's document columns plus the md5
    * `fp` and its `bk` partition. A corpus written under the pre-md5
    * scheme (BIGINT `fp`), or with other document columns, fails
    * [[Store.checkFiles]] — rebuild it (dropIfExists +
    * buildCleanCorpus + replay). */
  def corpusStore(docColumns: StructType): Store =
    Store(docColumns.add("fp", StringType).add("bk", LongType), Seq("bk"))

  /** Build the clean corpus table from an existing documents frame —
    * create-if-absent lifecycle, no-op when already complete. */
  def buildCleanCorpus(s: SparkSession, docs: DataFrame, path: String): Boolean =
    corpusStore(docs.schema).create(s, dedupBatch(withFp(gate(docs))), path)

  // The segment-df fold over the batch's FRESH docs (the survivors
  // of content dedup and the at-rest anti-join) is replay-guarded
  // INSIDE Dedup.updateLineDfIndex — a content-digest marker keyed
  // on the surviving text, written after the fold commits, with GC
  // past the replay horizon. Because only content actually landing
  // in the corpus is ever counted, the index is the corpus-at-rest
  // document frequency; a replayed batch whose content IS at rest
  // anti-joins away before the fold (the normal replay path folds
  // nothing), and the fold-succeeded / append-crashed window is
  // closed by the marker. The residual windows are bounded to one
  // crashed batch and OVER-count — benign for a ≥-threshold gate.

  /** Gate + dedup (+ optional decontamination against a stored bench
    * index, + optional boilerplate-line scrubbing against a stored
    * segment-df index) + append one batch of raw documents.
    *
    * With `lineIndexPath`, each doc is scrubbed against the index AS
    * OF the previous batch, and only the batch's FRESH survivors
    * (post content-dedup, post at-rest anti-join) fold their dfs in —
    * so the index counts distinct content at rest, exactly-once, and
    * a segment crossing the boilerplate threshold scrubs from the
    * NEXT batch on (C4's non-retroactive semantics, one batch later;
    * the bootstrap batch semantics live in
    * [[graft.queries.Dedup.buildLineDfIndex]]). A doc the scrub did
    * not touch keeps its RAW text byte-identically — reassembly would
    * otherwise normalize whitespace and silently shift content
    * identity; a fully-boilerplate doc drops entirely. Scrubbing
    * precedes fingerprinting: content identity at rest is the
    * identity of the CLEANED text, so two docs differing only in
    * boilerplate converge to one stored copy. */
  def appendDocs(s: SparkSession, path: String, rawBatch: DataFrame,
    benchIndexPath: Option[String] = None,
    lineIndexPath: Option[String] = None,
    spanIndexPath: Option[String] = None): Unit = {
    import s.implicits._
    val corpus = corpusStore(rawBatch.schema)
    // the batch's columns against the corpus files, before the index
    // folds below write anything (the append checks again)
    corpus.checkFiles(s, path)
    val stored = corpus.read(s, path)
    val gated = gate(rawBatch)
    // probe contamination on the RAW batch: its ids are a superset of
    // the gated ones, so the anti-join result is identical, and the
    // gate kernel is not evaluated a second time under the probe
    val clean = benchIndexPath.fold(gated) { idx =>
      gated.join(graft.queries.Dedup.contaminatedIds(s, idx, rawBatch),
        Seq("doc_id"), "left_anti")
    }
    // the scrub path consumes `clean` twice (probe + join-back) and
    // `fresh` three times (fold marker, fold, append) — pin both for
    // the batch's scope so the gate kernel and segmentation run once
    val cleanP = if (lineIndexPath.isDefined) clean.persist() else clean
    try {
      // LEFT join: scrubLines only emits docs with ≥1 token (its
      // segmentation filters empty token lists), so an inner join
      // would silently drop a gated-in doc whose text is whitespace-
      // only. Today's quality gate (stopword presence) happens to
      // make that unreachable, but content retention must not hang
      // off a cross-module gate invariant — absent a scrub row the
      // doc keeps its raw text.
      val scrubbed = lineIndexPath.fold(cleanP) { idx =>
        val marked = graft.queries.Dedup.scrubLines(s, idx, cleanP)
          .select($"doc_id", $"n_removed", $"text_clean")
        cleanP.join(marked, Seq("doc_id"), "left")
          .withColumn("text",
            when(coalesce($"n_removed", lit(0L)) > 0, $"text_clean")
              .otherwise($"text"))
          .filter(length($"text") > 0)
          .drop("n_removed", "text_clean")
      }
      // span gate: a doc whose CROSS-document duplicated-window share
      // (vs the stored span index plus earlier batch docs) reaches
      // the threshold is mostly someone else's content — drop it
      // before it costs fingerprinting and an at-rest probe. Runs on
      // the SCRUBBED text (the content that would land), pinned once
      // because the span stats and the join-back both consume it.
      val spanChecked = spanIndexPath.fold(scrubbed) { idx =>
        val sp = scrubbed.localCheckpoint(true)
        val tooDup = graft.queries.Dedup.spanDedupNewDocs(s, idx, sp)
          .filter($"n_win" > 0 &&
            expr("(100 * n_dup_cross) DIV n_win") >=
              graft.queries.Dedup.SpanDupMaxPct)
          .select($"doc_id")
        sp.join(tooDup, Seq("doc_id"), "left_anti")
      }
      val batch0 = dedupBatch(withFp(spanChecked))
      // localCheckpoint, NOT persist: the fold below OVERWRITES the
      // index files this plan reads through the scrub, and Spark's
      // write-path refreshByPath would invalidate a mere cache — the
      // append would then silently recompute the scrub against the
      // POST-fold index and land different text than was counted.
      // Checkpointing BEFORE the bucket collect truncates the
      // index-reading lineage once, so the collect, anti-join, fold,
      // and append all read one materialized scrub. The span path
      // needs the same fence for cost, not correctness: without it
      // the span-gate probe (index join + two rank windows + roll-up
      // + anti-join) re-executes under every downstream action.
      val batch = if (lineIndexPath.isDefined || spanIndexPath.isDefined)
        batch0.localCheckpoint(true)
        else batch0
      val bks = batch.select($"bk").distinct().collect().map(_.getLong(0)).toSeq
      val fresh =
        if (bks.isEmpty) batch
        else batch.join(
          stored.filter($"bk".isin(bks: _*)).select($"fp"),
          Seq("fp"), "left_anti")
      lineIndexPath.foreach(graft.queries.Dedup.updateLineDfIndex(s, _, fresh))
      corpus.append(s, fresh, path)
      // span fold AFTER the append commits — the opposite order from
      // the line-df fold, because the residual windows point opposite
      // ways: an over-folded segment-df only tightens a ≥-threshold
      // scrub (benign), but an over-folded span index would flag
      // content as at-rest that never landed and DROP future copies
      // of it (destructive). Fold-after leaves the benign residual: a
      // crash between append and fold misses one batch's windows, so
      // one later partial copy escapes the drop rule — never data
      // loss. A replayed batch anti-joins away and folds nothing.
      spanIndexPath.foreach(graft.queries.Dedup.updateSpanIndex(s, _, fresh))
    } finally if (lineIndexPath.isDefined) { cleanP.unpersist(false); () }
  }

  /** Streaming ingest into the clean corpus at `corpusPath` (must be
    * built first via [[buildCleanCorpus]]). With `benchIndexPath`,
    * docs leaking a stored eval item are dropped at ingest —
    * decontamination as a pipeline stage, not an afterthought. With
    * `lineIndexPath` (a [[graft.queries.Dedup.buildLineDfIndex]]
    * table), each batch is scrubbed of corpus-wide boilerplate lines
    * and its fresh survivors fold their dfs in — the C4 pipeline as a
    * streaming stage, replay-safe via the content-keyed fold marker. */
  def ingestDocStream(docs: DataFrame, corpusPath: String,
    checkpointPath: String,
    benchIndexPath: Option[String] = None,
    lineIndexPath: Option[String] = None,
    spanIndexPath: Option[String] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        // pin the micro-batch: the gate + dedup + anti-join run
        // several actions against it (bucket collect, append)
        val b = batch.persist()
        try {
          Catalog.recoverAppends(s, corpusPath)
          // the span index appends through the same staged-append
          // protocol — a crash inside its fold would otherwise leave
          // a _tmp_append_ staging dir that wedges every later fold
          // (stagedAppend refuses while one is pending), and unlike
          // the corpus path nothing else heals it
          spanIndexPath.foreach(Catalog.recoverAppends(s, _))
          appendDocs(s, corpusPath, b, benchIndexPath, lineIndexPath,
            spanIndexPath)
        } finally { b.unpersist(false); () }
      }
      .start()

  /** Fold streaming file accretion — one file per touched bucket per
    * micro-batch — back to one file per fp bucket, completing the
    * corpus lifecycle the ANN codes tables and ObjectIndex already
    * have. A maintenance-window operation under the single-writer
    * discipline (`Store.compact`'s dynamic-overwrite rewrite is not
    * crash-atomic, so it runs while the stream is STOPPED, like the
    * ANN tables' fold); like every [[Store.compact]] it refuses on an
    * incomplete table and on unresolved crashed appends.
    * `docColumns` are the document columns the corpus was built with
    * ([[corpusStore]]). */
  def compactCorpus(s: SparkSession, corpusPath: String,
    docColumns: StructType, parallelism: Int = 16): Unit =
    corpusStore(docColumns).compact(s, corpusPath, parallelism)
}
