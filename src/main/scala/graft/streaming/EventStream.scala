package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming surface: the reference's continuously-arriving
  * visit/source stream, re-expressed as watermarked windowed
  * aggregation plus custom stateful sessionization.
  *
  * Both operators are shuffle-once on the stream's natural key and
  * carry bounded state: the watermark expires window state, and the
  * session state times out via processing-time timeout — required for
  * an unbounded 100 TB/day stream.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionUpdate(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, closed: Boolean)

  case class SessionState(start: Long, last: Long, n: Long)

  /** Watermarked fixed-window counts per event type: late data beyond
    * 10 minutes is dropped and window state expired. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_c100"))

  /** Streaming exact dedup: drop events whose id was already seen
    * within the watermark horizon. State is one tiny record per id and
    * is expired by the watermark — the streaming half of the dedup
    * suite (an at-least-once ingest feed becomes effectively-once
    * before it ever lands in the catalog). */
  def dedupStream(events: DataFrame, idCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(idCols)

  /** Continuous catalog ingest: append the event stream to a parquet
    * table with checkpointed progress. The checkpoint + the file
    * sink's transaction log give exactly-once ingest across restarts
    * — stop the query, start it again with the same checkpoint, and
    * already-committed batches are neither lost nor duplicated (the
    * reference's repeated bulk-load path, streamed). Returns the
    * started query; callers own its lifecycle. */
  def ingestToCatalog(events: DataFrame, outPath: String,
    checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append())
      .start()

  /** One micro-batch of the production ingest loop (factored out so
    * the spec can replay it directly). Two steps:
    *
    *  1. the batch lands in the day-partitioned base table under
    *     `day=<d>/ibatch=<batchId>` with DYNAMIC partition overwrite:
    *     `foreachBatch` is at-least-once, so a replayed batch must
    *     not duplicate rows — keying the subpartition by batchId
    *     makes the replay overwrite ITS OWN files and nothing else,
    *     turning at-least-once delivery into exactly-once contents;
    *  2. [[graft.operators.Rollup.refresh]] re-aggregates exactly the
    *     DAYS the batch touched from the base (partition-pruned scan)
    *     and swaps those rollup partitions — idempotent by
    *     construction, so a crash between 1 and 2 is healed by the
    *     replay.
    *
    * 100 TB shape: per batch, write cost = the batch, refresh cost =
    * the touched days — never the table. The `ibatch` subpartitions
    * are exactly the small files [[graft.sources.Store.compact]]
    * periodically folds up. */
  def applyIngestBatch(batch: DataFrame, batchId: Long, basePath: String,
    rollupPath: String): Unit = if (!batch.isEmpty) {
    val b = batch.persist()
    try {
      b.withColumn("day", graft.operators.Rollup.dayOfTs)
        .withColumn("ibatch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day", "ibatch")
        .parquet(basePath)
      graft.operators.Rollup.refresh(b.sparkSession, basePath, b, rollupPath)
    } finally b.unpersist()
  }

  /** The composed production ingest loop: streaming events land in
    * the day-partitioned base table AND the daily rollup stays fresh,
    * one [[applyIngestBatch]] per micro-batch. Callers own the
    * returned query's lifecycle; restart on the same checkpoint
    * resumes exactly-once. */
  def ingestWithRollup(events: DataFrame, basePath: String,
    rollupPath: String, checkpointPath: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyIngestBatch(batch.toDF(), id, basePath, rollupPath)
      }
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append())
      .start()

  /** Stream-stream interval join: each click pairs with the same
    * user's views from the preceding hour. Both sides are watermarked
    * and the join condition bounds event-time distance, so Spark can
    * expire join state — the requirement for an unbounded stream-
    * stream join (without the interval bound, state grows forever). */
  def clickViewJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("view_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views, expr(
      """user_id = view_user AND
        |view_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts""".stripMargin))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Stream-static enrichment: join the event stream against a batch
    * dimension (the catalog's customer table keyed by user id). The
    * static side re-plans per micro-batch, so a catalog refresh is
    * picked up without restarting the query; with a dim that fits the
    * broadcast threshold each micro-batch is a broadcast hash join —
    * no stream-side shuffle and no streaming state at all (unlike
    * stream-stream joins, stream-static needs no watermark). */
  def enrich(events: DataFrame, dim: DataFrame,
    eventKey: String = "user_id", dimKey: String = "c_custkey"): DataFrame =
    events.join(dim, events(eventKey) === dim(dimKey), "left")

  case class AnomalyFlag(user_id: Long, event_id: Long, tms: Long,
    xc: Long, n_prior: Long)

  case class RunStats(n: Long, sum: Long, sumsq: Long)

  /** Streaming anomaly detection: flag each event whose value deviates
    * from the SAME user's running mean by more than `k` population
    * standard deviations, scored against the `n_prior` events seen
    * BEFORE it (a real-time detector never sees the future). The
    * per-user state is three Longs — counts and integer-cent sums are
    * exact, so state is identical no matter how events were batched —
    * and the flag predicate is a fixed double-precision expression of
    * those Longs, making the whole detector replay-deterministic: a
    * batch window computation folding events in the same order
    * produces bit-identical flags (spec-verified against the window
    * formulation over the replayed events table).
    *
    * Condition (integer form, no mean/σ divisions):
    *   dev = xc·n − Σx;   dev² > k²·(n·Σx² − (Σx)²)
    * Scale shape: one shuffle on user_id; state is O(distinct users)
    * regardless of stream length. */
  def anomalies(events: Dataset[Event], k: Int = 3,
    minPrior: Long = 20): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunStats, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RunStats]) =>
          val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(RunStats(0L, 0L, 0L))
          val out = Seq.newBuilder[AnomalyFlag]
          for (e <- evs) {
            // Spark ROUND is HALF_UP away from zero; math.round rounds
            // half toward +infinity, which diverges on negative .5
            // values and would break the batch-parity guarantee
            val xc = java.math.BigDecimal.valueOf(e.value * 100)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            if (st.n >= minPrior) {
              val dev = (xc * st.n - st.sum).toDouble
              val nVar = st.n.toDouble * st.sumsq - st.sum.toDouble * st.sum
              if (dev * dev > k.toDouble * k * nVar)
                out += AnomalyFlag(userId, e.event_id, e.ts.getTime, xc, st.n)
            }
            st = RunStats(st.n + 1, st.sum + xc, st.sumsq + xc * xc)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Gap-based sessionization with explicit state: a session closes
    * when no event arrives for `gapSeconds` (in-batch for observed
    * gaps; via event-time timeout once the watermark passes the gap
    * for idle users). flatMapGroupsWithState keeps exactly one small
    * state record per active user — bounded state on an unbounded
    * stream, expired by the watermark, not by wall-clock (so a
    * backfilled historical stream sessionizes identically). */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, new Timestamp(st.start),
              new Timestamp(st.last), st.n, closed = true))
          } else {
            val events = batch.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(SessionState(Long.MaxValue, Long.MinValue, 0L))
            val closed = Seq.newBuilder[SessionUpdate]
            for (e <- events) {
              val t = e.ts.getTime
              if (st.n > 0 && t - st.last > gapSeconds * 1000) {
                closed += SessionUpdate(userId, new Timestamp(st.start),
                  new Timestamp(st.last), st.n, closed = true)
                st = SessionState(t, t, 1L)
              } else {
                st = SessionState(math.min(st.start, t), math.max(st.last, t), st.n + 1)
              }
            }
            state.update(st)
            // Spark rejects timeout timestamps at/behind the current
            // watermark; a group whose events lag the global max event
            // time by more than gap + watermark delay would hit that, so
            // clamp just past the watermark (earliest legal fire time).
            state.setTimeoutTimestamp(
              math.max(st.last + gapSeconds * 1000, state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
      }
  }
}
