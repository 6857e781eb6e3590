package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.Store

/** Streaming maintenance of the per-(object, band) light-curve
  * summary — the streamed twin of the batch `q_lightcurve_band`
  * query, and the survey job Pserv's Object-table statistics imply:
  * every visit's detections update each object's per-filter n / flux
  * sum / min / max / variance numerator WITHOUT rescanning history.
  *
  * The store is an LSM of MERGEABLE PARTIALS, not a mutable table:
  * each micro-batch reduces to one pre-aggregated row per touched
  * (object, band) and APPENDS it under `sbkt=<object mod
  * NBuckets>/ibatch=<batchId>`, with dynamic partition overwrite
  * keyed by batchId — a replayed batch overwrites ITS OWN files and
  * nothing else, so at-least-once delivery yields exactly-once
  * contents (the `EventStream.applyIngestBatch` discipline; no
  * read-modify-write anywhere, hence no replay double-count to
  * guard). Readers merge partials on the fly: every statistic kept
  * is associative (Σn, Σsum, min, max, Σx²), so the merged summary
  * is EXACT — bit-identical to the batch aggregate over the raw
  * stream, which the spec asserts.
  *
  * [[compactStats]] periodically folds each bucket's accumulated
  * partials into one row per key, with a staged two-phase protocol
  * that can never lose or double-count data: the fold lands first
  * under the STAGING id `ibatch=-2` (at that instant a bucket holds
  * both the fold and its sources, but [[readStats]]' precedence rule
  * — a staged fold present ⇒ only it is read — keeps every read
  * exact), then the folded sources are deleted and the stage is
  * renamed to the canonical `ibatch=-1`. A crash at ANY point leaves
  * a state the reader interprets exactly and the next compaction
  * heals (phase-2 is pure cleanup: delete-then-rename of already-
  * durable content).
  *
  * 100 TB shape: per batch, write cost = the batch's touched keys
  * (pre-aggregated — map-side combine happens before anything is
  * written); read cost = the store's partial rows, bounded by
  * compaction at ~1 row per (object, band) plus the uncompacted
  * tail; a point lookup prunes to one `sbkt` partition (the
  * ObjectIndex bucket discipline). */
object LightcurveStream {

  /** Object-hash bucket count of the stats store — the partition
    * prune unit for point lookups and compaction. */
  val NBuckets = 16

  /** Canonical compacted partial / in-flight staged fold ids. */
  private val FoldId = -1L
  private val StageId = -2L

  /** Root-level marker recording the highest batch id any completed
    * fold STAGE has captured — the replay guard that survives
    * compaction: once a batch's subpartitions have been folded (and
    * later deleted by phase 2), the per-batch dynamic overwrite can
    * no longer dedup a replay, so replayed ids at or below this
    * horizon are SKIPPED instead (their content is durable in the
    * stage/fold by construction). Written atomically (tmp + rename,
    * the Catalog horizon-marker protocol) after the stage is durable
    * and BEFORE any source is deleted. */
  private val FoldedMarker = "_folded_upto"

  private def sbkt = pmod(col("user_id"), lit(NBuckets.toLong))

  /** The partials store ([[partialsOf]] rows), partitioned by object
    * bucket and batch. */
  private[graft] val StatsStore = Store(StructType(
    Seq(StructField("user_id", LongType), StructField("band", StringType)) ++
      Seq("n", "sum_c100", "min_c100", "max_c100", "sxx", "sbkt", "ibatch")
        .map(StructField(_, LongType))), Seq("sbkt", "ibatch"))

  private def markerPath(statsPath: String) =
    new org.apache.hadoop.fs.Path(statsPath, FoldedMarker)

  private def foldedUpto(s: SparkSession, statsPath: String): Long = {
    val p = markerPath(statsPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeFoldedUpto(s: SparkSession, statsPath: String,
    upto: Long): Unit = {
    val p = markerPath(statsPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(statsPath,
      s"._${FoldedMarker}_tmp")
    val out = fs.create(tmp, true)
    try out.write(upto.toString.getBytes("UTF-8")) finally out.close()
    // overwrite-atomic swap: a delete-then-rename pair would open a
    // crash window with NO marker at rest, silently regressing the
    // horizon to -1 and re-admitting replays a completed fold already
    // captured; FileContext renames over the old marker in one step
    org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, s.sparkContext.hadoopConfiguration)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The store's durable replay horizon — the highest batch id a
    * completed fold stage has captured (−1 for a never-folded store).
    * Public read-only view of the [[FoldedMarker]] for the arrival
    * telemetry ([[graft.queries.TimeSeries.qLcStreamBatches]]): ids at
    * or below it are at rest only inside the canonical fold. */
  def foldedHorizon(s: SparkSession, statsPath: String): Long =
    foldedUpto(s, statsPath)

  /** True when any bucket holds an in-flight `ibatch=-2` fold stage —
    * the state only a crashed phase-1/2 compaction leaves behind. */
  private def hasStagedFold(s: SparkSession, statsPath: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statsPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(root) && fs.listStatus(root).exists(b =>
      b.isDirectory && b.getPath.getName.startsWith("sbkt=") &&
        fs.exists(new Path(b.getPath, s"ibatch=$StageId")))
  }

  /** One micro-batch of the maintenance loop (factored so the spec
    * can replay it directly): reduce the batch to per-key partials,
    * land them under the batch's own subpartitions. An empty batch
    * writes nothing; a batch at or below the folded horizon is a
    * REPLAY of content already captured by a completed fold stage
    * and is skipped (its subpartitions may no longer exist for the
    * dynamic overwrite to dedup against). Expects raw event rows
    * (user_id, ts, value, event_type).
    *
    * A batch is never landed beside an ORPHANED fold stage: a stage
    * at rest means a previous compaction crashed mid-protocol, and a
    * subpartition written beside it would be shadowed by [[readStats]]'
    * precedence rule and then deleted as a fold source — silent data
    * loss for any direct (out-of-[[start]]-loop) caller. Instead the
    * in-flight fold is HEALED first (re-running [[compactStats]] is
    * idempotent from every crash point: the stage folds to itself
    * plus any sources, the horizon marker lands, phase 2 cleans), and
    * the horizon re-checked — a replayed trigger batch whose content
    * the healed fold captured is then skipped, a genuinely new batch
    * writes into a stage-free store. In-loop the check never fires on
    * the happy path (compaction and ingest serialize), so steady-state
    * cost is one root listing per micro-batch. */
  def applyStatsBatch(batch: DataFrame, batchId: Long,
    statsPath: String): Unit = if (!batch.isEmpty) {
    require(batchId >= 0, s"negative batch ids are reserved: $batchId")
    val s = batch.sparkSession
    if (batchId > foldedUpto(s, statsPath)) {
      if (hasStagedFold(s, statsPath)) compactStats(s, statsPath)
      if (batchId > foldedUpto(s, statsPath))
        partialsOf(batch)
          .withColumn("sbkt", sbkt)
          .withColumn("ibatch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("sbkt", "ibatch")
          .parquet(statsPath)
    }
  }

  /** The batch→partial reduction: one pre-aggregated row per
    * (object, band) with the five associative statistics. Shares the
    * band mapping and cent scaling with the batch query, so streamed
    * and batch summaries can never drift. */
  private[graft] def partialsOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch
      .filter($"user_id".isNotNull)
      .select($"user_id", round($"value" * 100).cast("long").as("xc"),
        expr(graft.queries.TimeSeries.BandCaseSql).as("band"))
      .groupBy($"user_id", $"band")
      .agg(count(lit(1)).as("n"), sum($"xc").as("sum_c100"),
        min($"xc").as("min_c100"), max($"xc").as("max_c100"),
        sum($"xc" * $"xc").as("sxx"))
  }

  /** Merge any partial frame down to one row per (object, band) —
    * every statistic is associative, so merging partials of partials
    * is exact. */
  private def mergePartials(partials: DataFrame): DataFrame = {
    val s = partials.sparkSession
    import s.implicits._
    partials.groupBy($"user_id", $"band")
      .agg(sum($"n").as("n"), sum($"sum_c100").as("sum_c100"),
        min($"min_c100").as("min_c100"), max($"max_c100").as("max_c100"),
        sum($"sxx").as("sxx"))
  }

  /** The store's EXACT current partials under the staged-fold
    * precedence rule: a bucket holding an in-flight `ibatch=-2` fold
    * is read through the fold ALONE (it already contains everything
    * the bucket held when it was staged — the sources beside it are
    * the not-yet-deleted fold inputs, counting them twice would
    * double the bucket). */
  private def livePartials(s: SparkSession, statsPath: String): DataFrame = {
    import s.implicits._
    val all = StatsStore.read(s, statsPath)
    val staged = all.filter($"ibatch" === StageId)
      .select($"sbkt").distinct().withColumn("has_stage", lit(true))
    all.join(broadcast(staged), Seq("sbkt"), "left")
      .filter($"has_stage".isNull || $"ibatch" === StageId)
      .drop("has_stage")
  }

  /** The merged per-(object, band) summary with the derived columns
    * of the batch `q_lightcurve_band` shape (amplitude, variance
    * numerator, mean) — EXACT at every instant of the lifecycle,
    * whatever mix of fresh, compacted, and mid-compaction buckets is
    * at rest. */
  def readStats(s: SparkSession, statsPath: String): DataFrame = {
    import s.implicits._
    mergePartials(livePartials(s, statsPath))
      .withColumn("amp_c100", $"max_c100" - $"min_c100")
      .withColumn("var_num", $"n" * $"sxx" - $"sum_c100" * $"sum_c100")
      .withColumn("mean_val", $"sum_c100" / ($"n" * lit(100.0)))
      .drop("sxx")
  }

  /** Two-phase bucket fold. Phase 1: the merged content of every
    * bucket lands under the staging id (dynamic overwrite of the
    * stage subpartitions only — durable before anything is removed).
    * Phase 2: per bucket, delete the folded sources and rename the
    * stage to the canonical fold id. Crash anywhere ⇒ readers stay
    * exact (precedence rule) and re-running compaction heals: a
    * bucket with a surviving stage re-enters phase 2 via the
    * stage-only merge (= itself), buckets already canonical fold
    * trivially. */
  def compactStats(s: SparkSession, statsPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    import s.implicits._
    val root = new Path(statsPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val live = livePartials(s, statsPath)
    // the horizon the stage is about to capture: every non-negative
    // batch currently at rest (computed BEFORE the stage lands)
    val maxBatch = StatsStore.read(s, statsPath)
      .agg(coalesce(max($"ibatch"), lit(-1L))).head.getLong(0)
    // phase 1: stage the MERGED fold — one row per (object, band)
    // per bucket (reads through the precedence rule, so a previous
    // crashed stage folds to itself — idempotent)
    mergePartials(live)
      .withColumn("sbkt", sbkt)
      .withColumn("ibatch", lit(StageId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sbkt", "ibatch")
      .parquet(statsPath)
    // the replay horizon becomes durable only AFTER the stage is
    // (a crash between the two replays batches into a store whose
    // stage already shadows them — phase 2 of the next fold cleans
    // the duplicates) and BEFORE any source is deleted (so a skipped
    // replay's content provably exists in the stage or fold).
    // MONOTONIC: a compaction re-run after a mid-phase-2 crash sees
    // sources the first run already deleted, so its recomputed
    // maxBatch can sit BELOW the committed horizon — writing that
    // lower value would re-admit replays the durable fold already
    // contains (double count once applyStatsBatch has healed the
    // stage away instead of letting it shadow the duplicate)
    val horizon = math.max(foldedUpto(s, statsPath), maxBatch)
    if (horizon >= 0) writeFoldedUpto(s, statsPath, horizon)
    // phase 2: per bucket — drop folded sources, canonicalize stage
    for (b <- fs.listStatus(root) if b.isDirectory
         && b.getPath.getName.startsWith("sbkt=")) {
      val stage = new Path(b.getPath, s"ibatch=$StageId")
      if (fs.exists(stage)) {
        for (ib <- fs.listStatus(b.getPath) if ib.isDirectory
             && ib.getPath.getName != s"ibatch=$StageId")
          fs.delete(ib.getPath, true)
        fs.rename(stage, new Path(b.getPath, s"ibatch=$FoldId"))
      }
    }
  }

  /** The composed streaming loop: visits in, summary fresh, one
    * [[applyStatsBatch]] per micro-batch, and (optionally) a bucket
    * fold every `compactEvery` batches — run INSIDE the loop
    * deliberately, so compaction and ingest serialize by
    * construction (a batch landing beside an in-flight stage would
    * be shadowed by the precedence rule and then deleted as a fold
    * source; in-loop there is never an in-flight stage when a batch
    * writes). Restart on the same checkpoint resumes exactly-once
    * through TWO guards: a replayed batch whose subpartitions still
    * exist overwrites them (dynamic overwrite), and one whose
    * subpartitions a completed fold has consumed is SKIPPED via the
    * durable [[FoldedMarker]] horizon — without it, a crash between
    * an in-loop fold and the stream's commit-log write would replay
    * the batch as a plain append beside the fold that already
    * contains it, silently double-counting every key it touched. A
    * replayed compaction folds to itself. */
  def start(events: DataFrame, statsPath: String,
    checkpointPath: String, compactEvery: Long = 0L): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        applyStatsBatch(batch.toDF(), id, statsPath)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          compactStats(batch.sparkSession, statsPath)
      }
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append())
      .start()
}
