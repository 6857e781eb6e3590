package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * The store is a bucketed fold store ([[StatsStore]]): a fold
  * merges each bucket's partials into one row per key under
  * `ibatch=-1`, and landing a batch, the fold and the read rule that
  * keeps every read exact mid-fold are [[graft.sources.Store]]'s one
  * fold protocol.
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

  private def sbkt = pmod(col("user_id"), lit(NBuckets.toLong))

  /** The partials store ([[partialsOf]] rows), partitioned by object
    * bucket and batch; a fold merges a bucket's partials to one row
    * per (object, band). */
  private[graft] val StatsStore = Store(StructType(
    Seq(StructField("user_id", LongType), StructField("band", StringType)) ++
      Seq("n", "sum_c100", "min_c100", "max_c100", "sxx", "sbkt", "ibatch")
        .map(StructField(_, LongType))), Seq("sbkt", "ibatch"),
    foldRows = Some(mergePartials(_).withColumn("sbkt", sbkt)))

  /** One micro-batch of the maintenance loop (factored so the spec
    * can replay it directly): reduce the batch to per-key partials
    * and land them as batch `batchId` ([[graft.sources.Store.landBatch]]:
    * a replay of a folded batch is skipped, an orphaned fold stage is
    * healed first). An empty batch writes nothing. Expects raw event
    * rows (user_id, ts, value, event_type). */
  def applyStatsBatch(batch: DataFrame, batchId: Long,
    statsPath: String): Unit =
    if (!batch.isEmpty)
      StatsStore.landBatch(batch.sparkSession, statsPath, batchId)(
        partialsOf(batch).withColumn("sbkt", sbkt))

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

  /** The merged per-(object, band) summary with the derived columns
    * of the batch `q_lightcurve_band` shape (amplitude, variance
    * numerator, mean) — EXACT at every instant of the lifecycle,
    * whatever mix of fresh, compacted, and mid-compaction buckets is
    * at rest. */
  def readStats(s: SparkSession, statsPath: String): DataFrame = {
    import s.implicits._
    mergePartials(StatsStore.readLive(s, statsPath))
      .withColumn("amp_c100", $"max_c100" - $"min_c100")
      .withColumn("var_num", $"n" * $"sxx" - $"sum_c100" * $"sum_c100")
      .withColumn("mean_val", $"sum_c100" / ($"n" * lit(100.0)))
      .drop("sxx")
  }
}
