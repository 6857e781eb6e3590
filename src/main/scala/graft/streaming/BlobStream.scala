package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.queries.Multimodal

/** Streaming perceptual-index ingest — the blob twin of
  * [[DetectionStream]]: each micro-batch of raw blobs (doc_id, blob)
  * runs one [[Multimodal.blobBatch]] against the STORED piece index
  * ([[Multimodal.buildPhashIndex]] — bk-partitioned, so the probe
  * reads only the bucket partitions the batch's piece keys hash
  * into) and lands in TWO replay-guarded stores:
  *
  *  - the PAIRS store (near-dup pairs involving the batch, at the
  *    block caps of the corpus as of that batch — the nightly
  *    increment of [[Multimodal.qBlobPhash]]'s corpus-wide scan), and
  *  - the piece INDEX itself (the batch folded in,
  *    [[Multimodal.updatePhashIndex]]'s deterministic
  *    first-write-wins append).
  *
  * `foreachBatch` is at-least-once; the pairs append keys its
  * batch_id partition and the fold keys its marker (plus the
  * index-wide anti-join), so a replayed micro-batch changes nothing —
  * at-least-once delivery becomes exactly-once stored contents, the
  * [[DocStream]]/[[DetectionStream]] discipline one modality over.
  * 100 TB shape: per-batch cost tracks the batch, never the
  * accumulated corpus.
  */
object BlobStream {

  /** Start the continuous ingest over a blob stream. Checkpointed
    * source offsets give stable batch ids across restarts;
    * [[Multimodal.blobBatch]]'s guarded halves make a re-delivered
    * micro-batch a no-op. Callers own the returned query's
    * lifecycle.
    *
    * `retainBatches` > 0 turns on SLIDING RETENTION for the pairs
    * store (the [[graft.sources.ObjectIndex.ingestStream]]
    * `compactEvery` discipline: maintenance runs INSIDE foreachBatch,
    * on the driver, between micro-batches — never concurrent with an
    * append): after batch b commits, partitions below b−retain+1 age
    * out via [[graft.sources.Catalog.dropPartitionsBelow]] — data
    * files removed, completion dirs kept, so a replayed aged batch
    * still short-circuits on its guard and the frontier stays
    * complete; the recorded `_age_horizon` tells consumers the
    * telemetry window. The piece INDEX is never aged — it is the
    * corpus membership the probe needs, not per-night telemetry.
    * Aging an already-aged prefix is a no-op, so at-least-once
    * replays of the triggering batch re-run it harmlessly. */
  def start(blobStream: DataFrame, indexPath: String, pairsPath: String,
    checkpointPath: String, retainBatches: Int = 0): StreamingQuery =
    blobStream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        Multimodal.blobBatch(s, batch, indexPath, pairsPath, batchId)
        val horizon = batchId - retainBatches + 1
        // blobBatch's commit heal has already cleared any crashed
        // append by this point, but retention must never be the thing
        // that kills the stream: if a pending append somehow survives
        // (future reordering, a heal path change), SKIP aging this
        // batch — the next batch retries with a higher horizon —
        // rather than let dropPartitionsBelow's require throw inside
        // foreachBatch and fail the whole streaming query.
        if (retainBatches > 0 && horizon > 0 &&
          graft.sources.Catalog.tableComplete(s, pairsPath) &&
          !graft.sources.Catalog.appendPending(s, pairsPath))
          graft.sources.Catalog.dropPartitionsBelow(s, pairsPath,
            "batch_id", horizon)
        ()
      }
      .start()
}
