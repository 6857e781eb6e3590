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
  *    index root, so `obkt`/`ibatch` are still partition columns):
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
  * ONE layout for every maintenance discipline: all writers emit
  * `obkt=<b>/ibatch=<g>` (two partition levels), so a path can be
  * bootstrapped with [[build]] (generation [[BaseGen]]), bulk-appended
  * with [[append]], micro-batch-maintained with [[ingestStream]]
  * (generation = the streaming batch id, ≥ 0), and periodically folded
  * with [[compactIndex]] (fresh negative generations) — mixing them
  * can never produce the conflicting directory depths Spark's
  * partition discovery rejects. Lookups filter on `obkt` only, so the
  * generation level is invisible to them.
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

  /** Generation id used by [[build]]/[[append]]; streaming batches
    * use their (non-negative) batch id; [[compactIndex]] allocates
    * fresh generations below the current minimum. */
  val BaseGen = -1L

  private def fs(s: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private val Events = Catalog.schemas("events")

  /** The declared index schema: the events columns every writer
    * projects onto, then the two partition levels. */
  val IndexSchema: StructType = Events.add("obkt", IntegerType).add("ibatch", LongType)

  /** The shared write discipline: rows projected onto the declared
    * events schema (a missing column fails here, a narrower type such
    * as an INT `event_id` is widened), non-null keys, modulus bucket,
    * generation column, one write task per bucket (no small-file
    * explosion), (user_id, ts) clustering within files. */
  private def bucketed(df: DataFrame, numBuckets: Int, gen: Long): DataFrame = {
    val missing = Events.fieldNames.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, "director-index rows lack the declared events " +
      s"column(s) ${missing.mkString(", ")}")
    df.select(Events.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .filter(col("user_id").isNotNull)
      .withColumn("obkt", pmod(col("user_id"), lit(numBuckets)).cast("int"))
      .withColumn("ibatch", lit(gen))
      .repartition(numBuckets, col("obkt"))
      .sortWithinPartitions("user_id", "ts", "event_id")
  }

  /** Materialize the index layout from scratch (generation
    * [[BaseGen]]). */
  def build(s: SparkSession, dir: String, outPath: String,
    numBuckets: Int = DefaultBuckets): Unit =
    bucketed(graft.Tables.events(s, dir), numBuckets, BaseGen)
      .write.mode("overwrite").partitionBy("obkt", "ibatch").parquet(outPath)

  /** Incremental bulk maintenance: append a delta batch into its
    * bucket directories (same hash discipline, one new file per
    * non-empty bucket, sorted within). Lookups stay single-bucket —
    * they now read the bucket's few files instead of one; periodic
    * [[compactIndex]] folds them back to one file per bucket. The
    * delta repartition touches only delta rows: maintenance cost
    * tracks the BATCH, never the index. */
  def append(s: SparkSession, delta: DataFrame,
    outPath: String, numBuckets: Int = DefaultBuckets): Unit =
    bucketed(delta, numBuckets, BaseGen)
      .write.mode("append").partitionBy("obkt", "ibatch").parquet(outPath)

  /** One micro-batch of streaming index maintenance, factored out so
    * the spec can replay it. The batch lands under
    * `obkt=<b>/ibatch=<batchId>` with DYNAMIC partition overwrite —
    * the same replay-idempotence discipline as
    * [[graft.streaming.EventStream.applyIngestBatch]]: an
    * at-least-once foreachBatch replay overwrites ITS OWN
    * generation subpartitions instead of duplicating rows. `lookup`
    * is unaffected: `obkt` stays the first-level partition key, so
    * the scan still lists exactly one bucket tree. */
  def applyIndexBatch(batch: DataFrame, batchId: Long,
    outPath: String, numBuckets: Int = DefaultBuckets): Unit =
    if (!batch.isEmpty) {
      require(batchId >= 0,
        s"streaming batch ids are non-negative (got $batchId): negative " +
          "generations are reserved for build/compaction")
      bucketed(batch, numBuckets, batchId)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("obkt", "ibatch")
        .parquet(outPath)
    }

  /** Streaming director-index maintenance: every micro-batch of the
    * event stream lands in its bucket directories exactly once across
    * restarts; point lookups stay single-bucket throughout. Callers
    * own the returned query's lifecycle.
    *
    * `compactEvery` > 0 folds the accreted generations every that
    * many batches, INSIDE the foreachBatch callback — between
    * batches, on the driver, so no micro-batch ever runs concurrently
    * with its own compaction, and files-per-bucket stays bounded for
    * the stream's whole lifetime with no external scheduler. The
    * newest-generation exclusion makes the fold safe against the
    * batch that may replay; a replayed TRIGGERING batch just runs a
    * second (idempotent, one-generation) fold. A pending crashed
    * compaction is recovered before the next fold. */
  def ingestStream(events: DataFrame, outPath: String,
    checkpointPath: String, numBuckets: Int = DefaultBuckets,
    compactEvery: Int = 0)
    : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyIndexBatch(b.toDF(), id, outPath, numBuckets)
        val (fsys, root) = fs(b.sparkSession, outPath)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0 &&
          fsys.exists(root)) {
          recoverCompaction(b.sparkSession, outPath)
          compactIndex(b.sparkSession, outPath, numBuckets)
        }
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .start()

  /** The bucket directories of `bkts` that exist, read with the
    * declared [[IndexSchema]] and `basePath` = the index root: Spark
    * lists only these directories, infers no schema, and still sees
    * `obkt`/`ibatch` as partition columns. A bucket no writer has
    * touched has no directory and contributes no rows; an index root
    * that does not exist fails loudly. */
  private def readBuckets(s: SparkSession, path: String, bkts: Seq[Int]): DataFrame = {
    val (f, root) = fs(s, path)
    val dirs = bkts.map(b => new org.apache.hadoop.fs.Path(root, s"obkt=$b")).filter(f.exists)
    if (dirs.nonEmpty)
      s.read.schema(IndexSchema).option("basePath", path).parquet(dirs.map(_.toString): _*)
    else {
      require(f.exists(root), s"no director index at $path")
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), IndexSchema)
    }
  }

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
    curve(readBuckets(s, path, Seq(b))
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
    val base = readBuckets(s, path, bkts).filter($"obkt".isin(bkts: _*))
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

  // ---------------------------------------------------------------
  // Compaction: long-lived streaming maintenance accretes one
  // `ibatch=` generation per touched bucket per micro-batch;
  // compaction folds every CURRENT generation into one fresh
  // generation (one file per bucket) and removes the folded ones.

  private val CompactManifest = "_COMPACT_MANIFEST"

  /** Is a crashed compaction awaiting [[recoverCompaction]]? */
  def compactPending(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    f.exists(new org.apache.hadoop.fs.Path(p, CompactManifest))
  }

  private def listGenerations(f: org.apache.hadoop.fs.FileSystem,
    p: org.apache.hadoop.fs.Path): Seq[String] =
    f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("obkt="))
      .flatMap(b => f.listStatus(b.getPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ibatch="))
        .map(st => s"${b.getPath.getName}/${st.getPath.getName}"))

  /** Fold the current generations into ONE new generation (id =
    * current minimum − 1, so successive compactions never collide
    * with past generations or future batch ids), one file per bucket,
    * then delete the folded generation directories. Returns the new
    * generation id.
    *
    * Replay safety: the NEWEST non-negative (streaming) generation is
    * NEVER folded. Structured Streaming's at-least-once foreachBatch
    * can replay exactly the latest batch after a crash (its
    * checkpoint commit may not have landed); if compaction had folded
    * that generation away and deleted its directories, the replay's
    * dynamic overwrite of `ibatch=<batchId>` would re-add rows that
    * now also live in the compacted generation — permanent
    * duplicates. Leaving the newest batch generation for the next
    * cycle keeps replay ∘ compaction idempotent; files-per-bucket
    * stays bounded by 2 generations instead of 1.
    *
    * Concurrency: only generations captured in the initial listing
    * are folded AND deleted — a streaming micro-batch landing
    * mid-compaction is simply left for the next cycle. Lookups stay
    * single-bucket throughout (they prune on `obkt` only); within
    * the folded bucket there is a brief window where a reader can see
    * both the old and new generation of already-committed rows — the
    * standard trade of partition-directory storage without a
    * transactional table format (same caveat as
    * [[Catalog.upsertPartitioned]]).
    *
    * Crash safety: the fold is staged next to the index first; the
    * manifest (atomically renamed into place) records the new
    * generation and the captured directories before any destructive
    * step. [[recoverCompaction]] then makes any crash decidable
    * PER BUCKET: a bucket whose new-generation directory exists rolls
    * forward (its captured dirs are deleted); one without rolls back
    * (its captured dirs are kept) — never losing or duplicating a
    * bucket either way. */
  def compactIndex(s: SparkSession, path: String,
    numBuckets: Int = DefaultBuckets): Long = {
    require(!compactPending(s, path),
      s"$path has a leftover $CompactManifest from a crashed compaction; " +
        "run ObjectIndex.recoverCompaction first")
    val (f, p) = fs(s, path)
    val all = listGenerations(f, p)
    require(all.nonEmpty, s"no index generations to compact at $path")
    // never fold the newest streaming generation — it may still replay
    val newestBatch = all.map(_.split("=").last.toLong).filter(_ >= 0)
      .sorted.lastOption
    val captured = newestBatch match {
      case Some(nb) => all.filterNot(_.endsWith(s"=$nb"))
      case None => all
    }
    if (captured.isEmpty) return newestBatch.get // single replayable gen: no-op
    val gens = captured.map(_.split("=").last.toLong)
    val gen = gens.min - 1
    val tmp = new org.apache.hadoop.fs.Path(p,
      s"_tmp_idxcompact_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      // stage the fold INSIDE the index root (underscore-hidden from
      // readers, and reclaimable by recoverCompaction after a hard
      // crash; the commit write reads the staged files, not `path`)
      s.read.schema(IndexSchema).parquet(path)
        .filter(col("ibatch").isin(gens.distinct: _*))
        .withColumn("ibatch", lit(gen))
        .repartition(numBuckets, col("obkt"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .write.mode("errorifexists").parquet(tmp.toString)
      // manifest marks "commit in progress"; written via rename so a
      // partial manifest can never be mistaken for a real one
      val mtmp = new org.apache.hadoop.fs.Path(p, CompactManifest + ".tmp")
      val out = f.create(mtmp, true)
      try out.write((gen.toString +: captured).mkString("", "\n", "\n")
        .getBytes("UTF-8")) finally out.close()
      if (!f.rename(mtmp, new org.apache.hadoop.fs.Path(p, CompactManifest)))
        throw new java.io.IOException(s"could not commit compaction manifest at $p")
      // commit the new generation (adds obkt=*/ibatch=gen dirs only)
      s.read.schema(IndexSchema).parquet(tmp.toString)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("obkt", "ibatch").parquet(path)
      finishCompaction(f, p, gen, captured)
    } finally f.delete(tmp, true)
    gen
  }

  /** Per-bucket roll-forward: delete a captured generation dir only
    * when its bucket's new-generation dir exists, then clear the
    * manifest. Idempotent — safe to re-run at any point. */
  private def finishCompaction(f: org.apache.hadoop.fs.FileSystem,
    p: org.apache.hadoop.fs.Path, gen: Long, captured: Seq[String]): Unit = {
    captured.foreach { rel =>
      val bucket = rel.split("/")(0)
      if (f.exists(new org.apache.hadoop.fs.Path(p, s"$bucket/ibatch=$gen")))
        f.delete(new org.apache.hadoop.fs.Path(p, rel), true)
    }
    f.delete(new org.apache.hadoop.fs.Path(p, CompactManifest), false)
  }

  /** Resolve a crashed [[compactIndex]]: buckets whose new generation
    * committed roll forward (folded dirs deleted); buckets it never
    * reached roll back (folded dirs kept — their rows exist nowhere
    * else). Stray `_tmp_idxcompact_*` staging dirs left by a hard
    * crash (the in-flight fold copy) are reclaimed too — safe under
    * the one-maintainer-per-index discipline every writer here
    * assumes. Returns true when anything was resolved. */
  def recoverCompaction(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    val strays = if (f.exists(p)) f.listStatus(p).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("_tmp_idxcompact_"))
      else Seq.empty
    strays.foreach(st => f.delete(st.getPath, true))
    val mf = new org.apache.hadoop.fs.Path(p, CompactManifest)
    if (!f.exists(mf)) return strays.nonEmpty
    val in = f.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList finally in.close()
    val gen = lines.head.toLong
    finishCompaction(f, p, gen, lines.tail)
    true
  }
}
