package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Catalog, Store}

/** Incremental materialized-view maintenance for the daily event
  * rollup — the aggregation layer every telemetry/training-data
  * catalog keeps in front of its raw event log.
  *
  * The maintenance contract is partition-scoped recompute: when a
  * delta batch lands, only the DAYS the delta touches are
  * re-aggregated (a partition-pruned scan of the day-partitioned base
  * table), and exactly those day partitions of the rollup are swapped
  * via [[Catalog.replacePartitions]]. At 100 TB a day's ingest
  * touches a handful of the catalog's thousands of day partitions, so
  * refresh cost tracks the DELTA's days, not the table — and because
  * each touched day is recomputed from the base (not patched), the
  * refresh is idempotent and self-healing: replaying a delta or
  * re-running after a crash converges to the same rollup.
  *
  * Aggregates are the catalog's standard exact-integer shapes (counts
  * and cent-scaled sums), so a full recompute and any incremental
  * history produce byte-identical partitions.
  */
object Rollup {

  /** Event day from the raw nano `ts` (UTC). Integral DIV — a double
    * division of an ~1.7e18 nano value sits past 2^53 and can flip a
    * midnight-boundary date. */
  val dayOfTs: org.apache.spark.sql.Column =
    expr("CAST(to_date(timestamp_seconds(ts DIV 1000000000)) AS STRING)")

  /** The rollup definition: per (day, event_type) counts, distinct
    * users, and exact cent-scaled value sum. */
  def compute(events: DataFrame): DataFrame =
    events
      .groupBy(dayOfTs.as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("value_c100"))

  /** Full (re)build of the rollup table at `rollupPath`. STATIC
    * overwrite on purpose: a full rebuild must also DROP day
    * partitions that no longer exist in the base (dynamic overwrite
    * only replaces days present in the new aggregate, which would
    * leave stale days behind after an upstream purge). */
  def build(s: SparkSession, events: DataFrame, rollupPath: String): Unit =
    compute(events).write.mode("overwrite").partitionBy("day")
      .parquet(rollupPath)

  /** Incremental refresh: re-aggregate only the days `delta` touches,
    * reading those days from the day-partitioned base table at
    * `basePath` (partition-pruned scan), and swap exactly those
    * rollup partitions. The delta must already be committed to the
    * base table (append first, refresh second — a crash between the
    * two re-runs refresh, which converges). */
  def refresh(s: SparkSession, basePath: String, delta: DataFrame,
    rollupPath: String): Unit = {
    val days = delta.select(dayOfTs.as("day"))
      .distinct().collect().map(_.getString(0))
    require(days.nonEmpty, "empty delta batch")
    // the base table's columns are the caller's: declared from the
    // delta in hand, plus its string `day` partition
    val slice = Store(delta.withColumn("day", dayOfTs).schema, Seq("day"))
      .read(s, basePath)
      .filter(col("day").isin(days.toSeq: _*))
    Catalog.replacePartitions(s,
      compute(slice.drop("day")).filter(col("day").isin(days.toSeq: _*)),
      rollupPath, "day")
  }
}
