package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Director index — the reference's single most-used access path:
  * fetch ONE object's full light curve (`WHERE objectId = ?
  * ORDER BY mjd`) without scanning the table. Pserv keeps a
  * director index mapping objectId → chunk so a point lookup touches
  * one shard; the Spark-native equivalent is a deterministic bucket
  * directory (`obkt = user_id mod numBuckets`) as the first PHYSICAL
  * partition key plus (user_id, ts) sort within each file:
  *
  *  - the schema is part of the format: every writer projects its
  *    rows onto the declared events schema ([[IndexSchema]] adds the
  *    two partition levels), and every read passes it, so no read
  *    pays a parquet footer job to infer what graft itself wrote;
  *  - a lookup reads only its bucket's directory (`basePath` = the
  *    index root, so `obkt`/`ibatch` are still partition columns;
  *    [[Store.readBuckets]]' rule reads a bucket mid-fold through its
  *    stage alone, so a lookup is exact at every instant):
  *    the scan lists exactly one of n directories, nothing else is
  *    listed, and no footer or data is read elsewhere. The
  *    `obkt = id mod n` equality stays as a static PARTITION filter;
  *  - the `user_id = id` equality is a pushed parquet filter, and
  *    because files are sorted by user_id the row-group min/max
  *    stats skip to the handful of row groups holding that object;
  *  - the reply (one object's curve) is sorted in one partition, so
  *    a [[lookup]] is ONE Spark job: no schema job, no listing job,
  *    no range-partitioning sample or shuffle.
  *
  * ONE layout for every maintenance discipline: every writer emits
  * `obkt=<b>/ibatch=<g>` (two partition levels), so mixing [[build]]
  * and [[append]] (both write the fold partition `ibatch=-1`) with
  * [[ingestStream]] (one `ibatch=<batchId>` per micro-batch) can never
  * produce the conflicting directory depths Spark's partition
  * discovery rejects. The index is a bucketed fold store
  * ([[IndexStore]]): landing a batch, the in-loop fold of a bucket's
  * batches back to one file and the read rule every lookup goes
  * through are [[Store]]'s one fold protocol. Lookups filter on
  * `obkt` only, so the batch level is invisible to them.
  *
  * 100 TB shape: lookup cost is O(one bucket's footers + one
  * object's row groups), independent of table size once numBuckets
  * scales with the data (buckets of a few GB each). The build is a
  * single hash repartition — the same one-time cost as any
  * clustered-layout ingest, amortized over every subsequent lookup.
  * The modulus (not a hash) keeps the bucket computable by ANY
  * client — including non-JVM ones — from the objectId alone, which
  * is exactly what Pserv's director index provides. Both writers
  * (`pmod`) and [[lookup]] (`Math.floorMod`) use the non-negative
  * residue, so the two agree on the whole Long domain, negative ids
  * included.
  */
object ObjectIndex {
  val DefaultBuckets = 64

  private val Events = Catalog.schemas("events")

  /** The declared index schema: the events columns every writer
    * projects onto, then the two partition levels. */
  val IndexSchema: StructType = Events.add("obkt", IntegerType).add("ibatch", LongType)

  /** The director index as a fold store: a fold keeps the rows as
    * they are, one file per bucket, (user_id, ts) clustered. */
  val IndexStore: Store = Store(IndexSchema, Seq("obkt", "ibatch"),
    foldRows = Some(_.repartition(col("obkt")).sortWithinPartitions("user_id", "ts", "event_id")))

  /** The shared write discipline: rows projected onto the declared
    * events schema (a missing column fails here, a narrower type such
    * as an INT `event_id` is widened), non-null keys, modulus bucket,
    * one write task per bucket (no small-file explosion), (user_id,
    * ts) clustering within files. */
  private def bucketed(df: DataFrame, numBuckets: Int): DataFrame = {
    val missing = Events.fieldNames.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, "director-index rows lack the declared events " +
      s"column(s) ${missing.mkString(", ")}")
    df.select(Events.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .filter(col("user_id").isNotNull)
      .withColumn("obkt", pmod(col("user_id"), lit(numBuckets)).cast("int"))
      .repartition(numBuckets, col("obkt"))
      .sortWithinPartitions("user_id", "ts", "event_id")
  }

  /** Materialize the index layout from scratch, as one fold. */
  def build(s: SparkSession, dir: String, outPath: String,
    numBuckets: Int = DefaultBuckets): Unit =
    bucketed(graft.Tables.events(s, dir), numBuckets).withColumn("ibatch", lit(Store.FoldId))
      .write.mode("overwrite").partitionBy("obkt", "ibatch").parquet(outPath)

  /** Incremental bulk maintenance: append a delta batch into its
    * buckets' fold partitions (same hash discipline, one new file per
    * non-empty bucket, sorted within), after healing an orphaned fold
    * stage as every fold-store writer does. Lookups stay
    * single-bucket — they now read the bucket's few files instead of
    * one; the next fold brings them back to one file per bucket. The
    * delta repartition touches only delta rows: maintenance cost
    * tracks the BATCH, never the index. */
  def append(s: SparkSession, delta: DataFrame,
    outPath: String, numBuckets: Int = DefaultBuckets): Unit = {
    IndexStore.healFold(s, outPath)
    bucketed(delta, numBuckets).withColumn("ibatch", lit(Store.FoldId))
      .write.mode("append").partitionBy("obkt", "ibatch").parquet(outPath)
  }

  /** One micro-batch of streaming index maintenance, factored out so
    * the spec can replay it: the batch lands under
    * `obkt=<b>/ibatch=<batchId>` by [[Store.landBatch]] (dynamic
    * partition overwrite, so an at-least-once replay overwrites its
    * own partitions; a batch a fold already holds is skipped). `lookup`
    * is unaffected: `obkt` stays the first-level partition key, so
    * the scan still lists exactly one bucket tree. */
  def applyIndexBatch(batch: DataFrame, batchId: Long,
    outPath: String, numBuckets: Int = DefaultBuckets): Unit =
    if (!batch.isEmpty)
      IndexStore.landBatch(batch.sparkSession, outPath, batchId)(bucketed(batch, numBuckets))

  /** Streaming director-index maintenance: every micro-batch of the
    * event stream lands in its bucket directories exactly once across
    * restarts; point lookups stay single-bucket throughout. Callers
    * own the returned query's lifecycle.
    *
    * `compactEvery` > 0 folds the accreted batches ([[Store.fold]])
    * every that many batches, INSIDE the foreachBatch callback —
    * between batches, on the driver, so no micro-batch ever runs
    * concurrently with its own fold (the fold protocol's
    * precondition: no caller folds the index outside this loop), and
    * files-per-bucket stays bounded for the stream's whole lifetime
    * with no external scheduler. A replay of a folded batch is
    * skipped by the fold's horizon; a replayed TRIGGERING batch just
    * folds again (a fold of a folded store is itself). */
  def ingestStream(events: DataFrame, outPath: String,
    checkpointPath: String, numBuckets: Int = DefaultBuckets,
    compactEvery: Int = 0)
    : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyIndexBatch(b.toDF(), id, outPath, numBuckets)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          IndexStore.fold(b.sparkSession, outPath)
      }
      .option("checkpointLocation", checkpointPath)
      .start()

  /** The light-curve projection both lookups return. */
  private def curve(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("tus"),
      round(col("value") * 100).cast("long").as("xc"), col("event_type"))

  /** Point lookup against the index layout. Returns the same
    * projection as `TimeSeries.qObjectLookup` over the flat table —
    * the spec asserts both the parity and that the scan read exactly
    * one bucket directory. `floorMod` (not `%`) so a negative
    * objectId probes the same non-negative bucket `pmod` wrote.
    *
    * Cost: ONE Spark job. The scan lists only the bucket's directory
    * under the declared schema (no footer job), and the reply — one
    * object's rows — is sorted in a single partition instead of by a
    * range shuffle (which would add a sampling job and a map job). */
  def lookup(s: SparkSession, path: String, objectId: Long,
    numBuckets: Int = DefaultBuckets): DataFrame = {
    val b = Math.floorMod(objectId, numBuckets.toLong).toInt
    curve(IndexStore.readBuckets(s, path, Seq(b))
      .filter(col("obkt") === b && col("user_id") === objectId))
      .coalesce(1).sortWithinPartitions("tus", "event_id")
  }

  /** Above this many distinct ids the `user_id` side switches from a
    * literal IN-list to a broadcast id-frame SEMI-JOIN: an alert-night
    * list of 10⁴–10⁵ ids as literals bloats the plan tree (analysis/
    * codegen cost grows with the list) without buying anything — the
    * optimizer long since converted it to a hash-set probe anyway,
    * and row-group stats skipping degrades to the ids' min/max range
    * regardless of form. The `obkt` PARTITION filter stays a literal
    * IN-list on BOTH paths: it is bounded by numBuckets entries no
    * matter how large k grows, and only a static literal list prunes
    * partition directories at planning time. */
  val LookupManyInListMax = 1000

  /** Batched director-index lookup — the daily operational shape
    * (alert follow-up resolves a k-object IN-list, not one object):
    * the same projection as [[lookup]] for k objects in ONE scan that
    * lists exactly the |distinct buckets| partition directories (ids
    * are deduplicated and ids sharing a bucket share its directory;
    * `obkt IN (...)` stays a static partition filter), and the
    * `user_id` IN-list pushes to parquet so row-group min/max
    * stats skip within each bucket's sorted files. Cost is
    * O(|distinct buckets| footers + the k objects' row groups) —
    * independent of table size, and one JVM/planning round trip
    * instead of k point-lookup jobs. Output is (user_id, time)-
    * ordered so each object's curve comes out contiguous: the scan
    * stays parallel and the bounded reply is sorted in one partition
    * behind a single shuffle, so the IN-list path runs 2 Spark jobs. */
  def lookupMany(s: SparkSession, path: String, objectIds: Seq[Long],
    numBuckets: Int = DefaultBuckets,
    inListMax: Int = LookupManyInListMax): DataFrame = {
    import s.implicits._
    require(objectIds.nonEmpty, "lookupMany needs at least one object id")
    val ids = objectIds.distinct
    val bkts = ids.map(id => Math.floorMod(id, numBuckets.toLong).toInt).distinct
    val base = IndexStore.readBuckets(s, path, bkts).filter($"obkt".isin(bkts: _*))
    val matched =
      if (ids.size <= inListMax) base.filter($"user_id".isin(ids: _*))
      else {
        // the id frame carries the SAME floorMod-derived bucket, so
        // the broadcast hash probe keys on (obkt, user_id) — a row
        // only hashes against its own bucket's ids
        val idDf = ids.toDF("user_id").withColumn("obkt",
          pmod($"user_id", lit(numBuckets.toLong)).cast("int"))
        base.join(broadcast(idDf), Seq("obkt", "user_id"), "left_semi")
      }
    curve(matched).repartition(1).sortWithinPartitions("user_id", "tus", "event_id")
  }
}
