package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

/** A graft-written table: its declared schema and its partition
  * columns. A `Store` value is the one place that knows a derived
  * store's on-disk format and its batch-commit protocol; the
  * lifecycle primitives underneath (create-if-absent, staged append,
  * crash recovery) are [[Catalog]]'s.
  *
  * Read contract: [[read]] passes the declared schema, so no read
  * infers one (no footer-reading Spark job) and an empty store — only
  * `_SUCCESS`, no data files — reads as an empty frame. A declared
  * type the file cannot supply fails at read time; a declared column
  * the file lacks reads as NULL (no footer is opened to check).
  *
  * Write contract: [[create]] and [[append]] reject a frame whose
  * (name, type) set differs from the declaration before anything is
  * written (column order is not drift; nullability is not part of
  * the contract), and project it onto the declared order, so every
  * file carries the same columns. [[append]] and [[compact]] also
  * hold the declaration against the files at rest ([[checkFiles]]),
  * so a declaration taken from a caller's frame cannot add, drop or
  * retype a stored column.
  *
  * Commit protocol ([[commitBatch]], for stores partitioned by a
  * single batch column): heal the store, treat the batch as committed
  * when the store is complete and its `<col>=<b>` directory exists,
  * otherwise pin and count the batch's rows, create or append, and
  * create the partition directory if the batch wrote no rows. The
  * empty-batch rule makes the directory the durable "this batch ran"
  * marker for every batch, so an empty batch replays in zero Spark
  * jobs like any other committed one.
  *
  * Fold protocol (stores declared with `foldRows`, partitioned by a
  * bucket column, then a batch column — the director index and the
  * light-curve stats store). Batches accrete under `<bkt>=b/<batch>=i`
  * (i ≥ 0); [[fold]] merges each bucket's partitions into one
  * `<batch>=-1` ([[Store.FoldId]]) partition through the store's fold
  * row rule:
  *  - read rule ([[readBuckets]], [[readLive]]): a bucket holding a
  *    stage `<batch>=-2` ([[Store.StageId]]) is read through the stage
  *    alone, every other bucket through `<bkt>=b`, with `basePath` =
  *    the store root. The stage already holds everything its bucket
  *    held when it was staged, so every read is exact at every
  *    instant of a fold, and after a crash in one;
  *  - fold: phase 1 writes the folded rows of every bucket as its
  *    stage (dynamic overwrite of the stage partitions only). Then
  *    the horizon — the highest batch id the fold captured, from the
  *    driver's listing taken before phase 1 — is recorded, monotone,
  *    in the root's `_folded_upto` marker ([[Store.FoldedMarker]]).
  *    Phase 2, per bucket, deletes the sources and renames the stage
  *    to the fold partition. A re-run from any crash point folds a
  *    stage to itself, so re-running the fold heals it;
  *  - landing a batch ([[landBatch]]): a batch at or below the
  *    horizon is a replay of content a fold holds and is skipped (its
  *    partitions may be gone, so the dynamic overwrite could not
  *    dedup it); an orphaned stage is healed first (a batch landed
  *    beside it would be shadowed by the read rule, then deleted as
  *    a source); then the batch is written with a dynamic overwrite
  *    of `<batch>=<id>`, so a replay overwrites its own partitions.
  *
  * Precondition: folds run inside the store's ingest loop (between
  * batches, on the driver) or on a quiesced store, and every writer
  * heals an orphaned stage before it writes ([[healFold]]); a batch
  * landing mid-fold would be deleted as a source. */
final case class Store(columns: StructType, partitionCols: Seq[String] = Nil,
  foldRows: Option[DataFrame => DataFrame] = None) {
  require(partitionCols.forall(columns.fieldNames.contains),
    s"partition columns $partitionCols not among ${columns.fieldNames.mkString(",")}")
  require(foldRows.isEmpty || partitionCols.size == 2,
    s"a fold store is partitioned by a bucket and a batch column: $partitionCols")

  /** The columns stored inside the data files. */
  val dataColumns: StructType =
    StructType(columns.filterNot(f => partitionCols.contains(f.name)))

  /** The declared schema: data columns in declared order, then the
    * partition columns (where a partitioned read puts them). */
  val schema: StructType =
    StructType(dataColumns ++ partitionCols.map(columns(_)))

  def read(s: SparkSession, path: String): DataFrame =
    Store.atCaller(s)(s.read.schema(schema).parquet(path))

  private def conform(df: DataFrame, path: String): DataFrame = {
    import Store.sig
    require(sig(df.schema) == sig(schema),
      s"schema drift writing $path: got ${sig(df.schema)}, declared ${sig(schema)}")
    df.select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Reject a store whose files are not of this declaration: the
    * footer of one visible data file, read on the driver (no Spark
    * job), must hold exactly the declared data columns by (name,
    * type), nullability aside. One file stands for the store because
    * every write conforms to one declaration; a store with no data
    * file passes. */
  def checkFiles(s: SparkSession, path: String): Unit =
    Store.firstDataFile(s, path).foreach { file =>
      import Store.sig
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(file, s.sparkContext.hadoopConfiguration))
      val onDisk = try new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(r.getFooter.getFileMetaData.getSchema)
        finally r.close()
      require(sig(onDisk) == sig(dataColumns),
        s"schema drift at $path: $file holds ${sig(onDisk)}, declared ${sig(dataColumns)}")
    }

  /** Create the store from `df` unless a complete one exists
    * ([[Catalog.createPartitionedIfAbsent]]'s lifecycle); true when
    * the write happened. */
  def create(s: SparkSession, df: DataFrame, path: String): Boolean =
    Catalog.createPartitionedIfAbsent(s, conform(df, path), path, partitionCols)

  /** Crash-safe staged append ([[Catalog.append]]'s protocol) with the
    * batch partitioned on write, so each file lands inside its
    * partition directory. */
  def append(s: SparkSession, df: DataFrame, path: String): Unit = {
    require(Catalog.tableComplete(s, path),
      s"$path is not a complete table — build it before appending")
    checkFiles(s, path)
    Catalog.stagedAppend(s, conform(df, path), path, partitionCols)
  }

  private def batchDir(path: String, batchId: Long): Path = {
    require(partitionCols.size == 1, s"batch stores have one partition column: $partitionCols")
    new Path(path, s"${partitionCols.head}=$batchId")
  }

  /** Has batch `batchId` committed at `path`? Heals the store first:
    * a batch directory implies a complete batch only once
    * [[Catalog.recoverAppends]] has rolled a crashed append forward
    * from its manifest (an append moves its files into place after
    * the manifest is written, so a crash mid-move leaves a partial
    * directory), so the heal must precede the check. */
  def committed(s: SparkSession, path: String, batchId: Long): Boolean = {
    Store.heal(s, path)
    val dir = batchDir(path, batchId)
    Catalog.tableComplete(s, path) &&
      dir.getFileSystem(s.sparkContext.hadoopConfiguration).exists(dir)
  }

  /** Commit one batch, replay-guarded: a committed batch returns 0
    * and touches nothing; otherwise `rows` (the batch's data columns —
    * the batch column is added here) is pinned once, counted by
    * `count`, and created or appended; a batch of zero rows still
    * leaves its partition directory. Returns the count. */
  def commitBatch(s: SparkSession, path: String, batchId: Long,
    count: DataFrame => Long = _.count())(rows: => DataFrame): Long = {
    if (committed(s, path, batchId)) return 0L
    val pinned = rows.withColumn(partitionCols.head, lit(batchId)).localCheckpoint()
    val n = count(pinned)
    if (Catalog.tableComplete(s, path)) append(s, pinned, path)
    else create(s, pinned, path)
    val dir = batchDir(path, batchId)
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(dir)
    n
  }

  /** Compact the store's small files: rewrite each named partition
    * (default: all) of its single partition column into ONE file per
    * partition (rows are hash-clustered on the partition value;
    * `parallelism` bounds the number of concurrent write tasks).
    * Streaming ingest and repeated appends accrete part-files; at
    * scale a 10,000-file partition costs a task per file on every
    * scan, so periodic compaction is part of the lifecycle. Same
    * staging + dynamic-overwrite protocol as
    * [[Catalog.upsertPartitioned]] — untouched partitions are never
    * read or written. Refuses an incomplete store and one with
    * unresolved crashed appends: recovery ([[Catalog.recoverAppends]])
    * comes first, or the fold would bake a half-committed batch's
    * visible subset into the rewritten partitions. */
  def compact(s: SparkSession, path: String, parallelism: Int,
    partVals: Seq[Any] = Seq.empty): Unit = {
    require(partitionCols.size == 1, s"compaction needs one partition column: $partitionCols")
    require(Catalog.tableComplete(s, path), s"$path is not a complete store — build it first")
    require(!Catalog.appendPending(s, path),
      s"$path has unresolved crashed appends — recoverAppends first")
    val partCol = partitionCols.head
    checkFiles(s, path)
    val base = read(s, path)
    val chosen = if (partVals.isEmpty) base
      else base.filter(col(partCol).isin(partVals: _*))
    val p = new Path(path)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent,
      s"_tmp_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      chosen.repartition(parallelism, col(partCol))
        .write.mode("errorifexists").parquet(tmp.toString)
      Store(schema).read(s, tmp.toString)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
    } finally f.delete(tmp, true)
  }

  // ---------------------------------------------------------------
  // The fold protocol (see the class doc).

  private def bucketDirs(f: FileSystem, root: Path): Seq[Path] =
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partitionCols.head + "="))
      .map(_.getPath)

  private def part(bucket: Path, id: Long) = new Path(bucket, s"${partitionCols(1)}=$id")

  /** The read rule over the named buckets: a bucket with no directory
    * contributes no rows; a store root that does not exist fails. */
  def readBuckets(s: SparkSession, path: String, buckets: Seq[Any]): DataFrame =
    readRule(s, path, buckets.map(b => new Path(path, s"${partitionCols.head}=$b")))

  /** The read rule over every bucket: the store's exact content. */
  def readLive(s: SparkSession, path: String): DataFrame = {
    val (f, root) = Catalog.fs(s, path)
    require(f.exists(root), s"no store at $path")
    readRule(s, path, bucketDirs(f, root))
  }

  private def readRule(s: SparkSession, path: String, buckets: Seq[Path]): DataFrame = {
    val (f, root) = Catalog.fs(s, path)
    val dirs = buckets.filter(f.exists).map { b =>
      val stage = part(b, Store.StageId)
      if (f.exists(stage)) stage else b
    }
    if (dirs.nonEmpty) Store.atCaller(s) {
      s.read.schema(schema).option("basePath", path).parquet(dirs.map(_.toString): _*)
    } else {
      require(f.exists(root), s"no store at $path")
      s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }
  }

  /** The highest batch id a fold has captured (−1 before any fold). */
  def foldedHorizon(s: SparkSession, path: String): Long =
    Catalog.readMarker(s, path, Store.FoldedMarker).getOrElse(-1L)

  /** Land batch `batchId` (≥ 0): `rows` are its rows without the batch
    * column, evaluated only when the batch is written. */
  def landBatch(s: SparkSession, path: String, batchId: Long)(rows: => DataFrame): Unit = {
    require(batchId >= 0, s"batch ids are non-negative (got $batchId): negative ids are the fold's")
    if (batchId > foldedHorizon(s, path)) {
      healFold(s, path)
      if (batchId > foldedHorizon(s, path)) overwriteBatch(rows, batchId, path)
    }
  }

  /** Finish an orphaned fold (a stage at rest) by re-running it. */
  def healFold(s: SparkSession, path: String): Unit = {
    val (f, root) = Catalog.fs(s, path)
    if (f.exists(root) && bucketDirs(f, root).exists(b => f.exists(part(b, Store.StageId))))
      fold(s, path)
  }

  private def overwriteBatch(rows: DataFrame, batchId: Long, path: String): Unit =
    conform(rows.withColumn(partitionCols(1), lit(batchId)), path)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Fold every bucket's partitions into its fold partition. */
  def fold(s: SparkSession, path: String): Unit = {
    val (f, root) = Catalog.fs(s, path)
    if (!f.exists(root)) return
    val prefix = partitionCols(1) + "="
    val horizon = bucketDirs(f, root).flatMap(b => f.listStatus(b).toSeq.map(_.getPath.getName))
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).filter(_ >= 0).maxOption
    overwriteBatch(foldRows.get(readLive(s, path)), Store.StageId, path)
    horizon.foreach(Catalog.advanceMarker(s, path, Store.FoldedMarker, _))
    for (b <- bucketDirs(f, root); stage = part(b, Store.StageId) if f.exists(stage)) {
      f.listStatus(b).filter(st => st.isDirectory && st.getPath.getName != stage.getName)
        .foreach(st => f.delete(st.getPath, true))
      if (!f.rename(stage, part(b, Store.FoldId)))
        throw new java.io.IOException(s"could not rename $stage to the fold partition")
    }
  }
}

object Store {

  /** The fold partition and a fold's stage, as batch-column values. */
  val FoldId = -1L
  val StageId = -2L

  /** The root marker holding a fold store's horizon. */
  val FoldedMarker = "_folded_upto"

  /** Run `body`, a store read, with the Spark call site set to the
    * read's caller (the first frame past `Store` and the Scala
    * library), so an eager job it starts is named after that line
    * rather than after this file. */
  private def atCaller[T](s: SparkSession)(body: => T): T = {
    val sc = s.sparkContext
    val at = Thread.currentThread.getStackTrace.iterator
      .dropWhile(!_.getClassName.startsWith("graft.sources.Store"))
      .dropWhile(f => f.getClassName.startsWith("graft.sources.Store") ||
        f.getClassName.startsWith("scala.")).nextOption()
    val prev = sc.getLocalProperty("callSite.short")
    at.foreach(f => sc.setCallSite(s"parquet at ${f.getFileName}:${f.getLineNumber}"))
    try body finally if (prev == null) sc.clearCallSite() else sc.setCallSite(prev)
  }

  /** A schema's (name, type) set, the unit of drift: column order and
    * nullability (also of nested types) are not part of it. */
  private def sig(fs: Seq[StructField]): Seq[(String, String)] =
    fs.map(f => (f.name, f.dataType.catalogString)).sortBy(_._1)

  /** The first visible data file under `path` (hidden and `_`-prefixed
    * entries — markers, staging dirs — skipped), found by a
    * depth-first listing that stops at the first file. */
  private def firstDataFile(s: SparkSession, path: String): Option[Path] = {
    val p = new Path(path)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(d: Path): Iterator[Path] =
      f.listStatus(d).sortBy(_.getPath.getName).iterator
        .filter(st => v2.BinRecord.visible(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st.getPath))
    if (f.exists(p)) walk(p).nextOption() else None
  }

  /** Heal a graft-owned store at `path` before writing: resolve
    * crashed appends, and roll back a CREATE that died before its
    * `_SUCCESS` committed — without this, one crash during the very
    * first create would wedge every later batch behind the
    * create-if-absent throw. The rollback only fires when the
    * directory carries the committer's own evidence of a
    * died-mid-write job (a `_temporary` staging dir, or nothing at
    * all); a marker-less directory WITH data files still fails loudly
    * — it could be a foreign table at a mistyped path, and
    * [[Catalog]]'s never-delete rule applies to anything graft cannot
    * prove it was writing. */
  def heal(s: SparkSession, path: String): Unit = {
    Catalog.recoverAppends(s, path)
    if (Catalog.tableExists(s, path) && !Catalog.tableComplete(s, path)) {
      val p = new Path(path)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val entries = f.listStatus(p)
      val crashedWrite = entries.isEmpty || entries.exists(st =>
        st.isDirectory && st.getPath.getName == "_temporary")
      if (crashedWrite) {
        // an empty dir carries no committer evidence either way; it is
        // reclaimed as a crashed create, but LOUDLY, so an operator's
        // pre-created (mkdir'ed) store location isn't removed silently
        if (entries.isEmpty) System.err.println(
          s"[graft] reclaiming EMPTY directory $path as a crashed " +
            "create (no data files, no _SUCCESS; pre-created empty " +
            "store locations are reclaimed and rewritten)")
        Catalog.dropIfExists(s, path)
      } else throw new IllegalStateException(
        s"$path has data files but no _SUCCESS marker and no _temporary " +
          "staging dir — not recognizably a crashed create of this " +
          "lifecycle. Refusing to clear it; call Catalog.dropIfExists " +
          "first if it should be replaced.")
    }
  }

  /** Content key over `dir` + the named input tables' file identity
    * (name + length + mtime, recursive): regenerated input data gets
    * a fresh key, so a derived store can never serve stale content. */
  def contentKey(dir: String, tables: Seq[String]): String = {
    def sig(f: java.io.File): String =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).map(sig).mkString("[", ",", "]")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + tables.map(t =>
        "|" + sig(new java.io.File(dir, t))).mkString).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Location of the registered queries' content-keyed derived store
    * `kind` for `dir`: `graft_<kind>_<contentKey>` under
    * `$SPARK_GRAFT_INDEX_DIR` (default: the JVM temp dir). The
    * registered (session, dir) signature has nowhere to thread an
    * artifact path through; production callers pass real ones. */
  def derivedPath(dir: String, kind: String, tables: Seq[String]): String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      System.getProperty("java.io.tmpdir")) +
      s"/graft_${kind}_${contentKey(dir, tables)}"
}
