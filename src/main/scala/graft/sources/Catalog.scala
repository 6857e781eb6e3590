package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-typed catalog source/sink — the ingest-then-query surface of
  * the reference (Pserv bulk-loads typed catalog tables from external
  * files, with idempotent create/drop management; here: schema-enforced
  * readers for parquet/csv/json plus a partitioned parquet sink).
  *
  * Why explicit schemas: a declared `StructType` means (a) no
  * inference pass over 100 TB of input, (b) the scan's `ReadSchema` is
  * exactly the declared columns — pruning is guaranteed at the source,
  * and (c) type drift in incoming files fails loudly at read time
  * instead of corrupting the catalog.
  *
  * Single reader: this object is the only place that knows the catalog
  * tables' on-disk format, and [[readParquet]] is the only reader of
  * them — [[graft.Tables]] and `SparkEntry.registerTables` go through
  * it. Read contract: a declared type the file cannot supply fails at
  * read time; a declared column the file lacks reads as NULL (no
  * footer is opened to check).
  */
object Catalog {

  /** Declared schemas for every catalog table (the ingest contract). */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType), // nanos
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  /** Parquet reader with the declared (pruned) schema. `events.ts` is
    * stored as parquet TIMESTAMP_MICROS without a zone, so it is read
    * as TIMESTAMP_NTZ and normalized to the declared BIGINT epoch
    * nanoseconds. The NTZ→LTZ cast keeps the UTC instant only under a
    * UTC session zone (every graft session pins it), which is what
    * makes the derived values match DuckDB's `epoch_us(ts)`. */
  def readParquet(s: SparkSession, table: String, path: String): DataFrame =
    if (table != "events") s.read.schema(schemas(table)).parquet(path)
    else s.read.schema(StructType(schemas(table).map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f)))
      .parquet(path)
      .withColumn("ts", org.apache.spark.sql.functions
        .expr("unix_micros(cast(ts as timestamp_ltz)) * 1000"))

  /** CSV ingest (headerless, the reference's bulk-load file shape). */
  def readCsv(s: SparkSession, table: String, path: String): DataFrame =
    s.read.schema(schemas(table))
      .option("header", "false").option("mode", "FAILFAST").csv(path)

  /** JSON-lines ingest with schema enforcement. */
  def readJson(s: SparkSession, table: String, path: String): DataFrame =
    s.read.schema(schemas(table)).option("mode", "FAILFAST").json(path)

  /** Column name the quarantined raw line travels under. */
  val CorruptCol = "_corrupt_record"

  /** PERMISSIVE CSV bulk-load with bad-record quarantine — the
    * production variant of [[readCsv]]'s FAILFAST: one malformed line
    * must not abort a multi-hour load, and silently nulling it out
    * loses data. Returns (clean, quarantine): `clean` carries the
    * declared schema, rows that failed type-parsing land in
    * `quarantine` with their raw line intact for re-ingest after
    * repair. ONE parse pass feeds both sides — the parsed frame is
    * cached for the two filters (also required: Spark refuses plans
    * that filter on the internal corrupt-record column of a raw
    * file scan), and the caller unpersists via the returned handle.
    *
    * Scale note: the cache holds the BATCH being loaded, not the
    * table — a bulk load is chunked by input files, so per-chunk
    * cache footprint is bounded by the chunk, and a cluster ingest
    * caches on executors, never the driver. */
  final case class QuarantinedLoad(clean: DataFrame, quarantine: DataFrame,
    private val parsed: DataFrame) {
    /** Release the one-pass parse cache once both sides are landed. */
    def unpersist(): Unit = { parsed.unpersist(); () }
  }

  def readCsvQuarantined(s: SparkSession, table: String,
    path: String): QuarantinedLoad = {
    import org.apache.spark.sql.functions.col
    val declared = schemas(table)
    val raw = s.read.schema(declared.add(StructField(CorruptCol, StringType)))
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)
      .cache()
    QuarantinedLoad(
      clean = raw.filter(col(CorruptCol).isNull)
        .select(declared.fieldNames.map(col).toSeq: _*),
      quarantine = raw.filter(col(CorruptCol).isNotNull).select(col(CorruptCol)),
      parsed = raw)
  }

  /** Partitioned parquet sink — the catalog's storage layout. The
    * partition column becomes the pruning key for downstream scans
    * (e.g. spatial zone, date bucket). Overwrite = the reference's
    * idempotent drop-and-recreate semantics. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  // ---------------------------------------------------------------
  // Idempotent table lifecycle — the reference's create/drop-table
  // management surface: re-running an ingest script over a COMPLETE
  // table is a no-op; an ambiguous directory (no _SUCCESS marker)
  // fails loudly rather than being trusted or destroyed; and appends
  // are schema-checked so drifting input files fail loudly instead
  // of corrupting the table.

  private[sources] def fs(s: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** Does a materialized table exist at `path`? */
  def tableExists(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    f.exists(p)
  }

  /** Is there a COMPLETE table at `path`? A directory without the
    * `_SUCCESS` commit marker is a crashed partial write, not a
    * table. */
  def tableComplete(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    f.exists(p) && f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** Shared create-if-absent guard: complete table → false (no-op);
    * unmarked directory → loud failure (it could be a crashed partial
    * write of ours, but equally a valid table from a tool that writes
    * no marker — NEVER delete, let the operator decide); absent →
    * run the write, return true. */
  private def guardedCreate(s: SparkSession, path: String)(write: => Unit): Boolean =
    if (tableComplete(s, path)) false
    else if (tableExists(s, path)) throw new IllegalStateException(
      s"$path exists but has no _SUCCESS marker: either a crashed partial " +
        "write or an externally-produced table. Refusing to guess — call " +
        "dropIfExists first if it should be replaced.")
    else { write; true }

  /** Create the table from `df` only if a COMPLETE table is absent;
    * returns true when the write happened. Re-running an ingest
    * script is a no-op. */
  def createIfAbsent(s: SparkSession, df: DataFrame, path: String): Boolean =
    guardedCreate(s, path) { df.write.mode("errorifexists").parquet(path) }

  /** [[createIfAbsent]] for PARTITIONED tables — same lifecycle
    * contract. The `_SUCCESS` marker lands at the table root, so
    * [[tableComplete]] governs partitioned and flat tables alike. */
  def createPartitionedIfAbsent(s: SparkSession, df: DataFrame, path: String,
    partitionCols: Seq[String]): Boolean =
    guardedCreate(s, path) {
      df.write.mode("errorifexists").partitionBy(partitionCols: _*).parquet(path)
    }

  /** Modification time of the table's `_SUCCESS` commit marker —
    * the cache-invalidation stamp for per-process memos of loaded
    * artifacts (a rebuilt table writes a fresh marker). Resolved
    * through the Hadoop filesystem like every other lifecycle check,
    * so it works on any scheme, not just `file:`. Requires a
    * complete table. */
  def commitStamp(s: SparkSession, path: String): Long = {
    val (f, p) = fs(s, path)
    f.getFileStatus(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      .getModificationTime
  }

  /** Drop the table if present; returns true when something was
    * removed. Dropping a missing table is a no-op, not an error. */
  def dropIfExists(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    f.exists(p) && f.delete(p, true)
  }

  /** Are there crashed (uncommitted) appends left behind at `path`?
    * A crashed [[append]] leaves its hidden `_tmp_append_*` staging
    * directory in place — that leftover IS the marker that an append
    * died before commit. [[recoverAppends]] resolves them. */
  def appendPending(s: SparkSession, path: String): Boolean = {
    val (f, p) = fs(s, path)
    f.exists(p) && f.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("_tmp_append_"))
  }

  private val AppendManifest = "_MANIFEST"

  /** Resolve every crashed append at `path`, making each one
    * all-or-nothing after the fact: a staging dir WITH a manifest had
    * finished writing its data, so it rolls FORWARD (the remaining
    * manifest entries are renamed in — renames already done by the
    * crashed job are skipped, making recovery idempotent); a staging
    * dir WITHOUT a manifest died mid-write and rolls BACK (deleted).
    * Returns (rolledForward, rolledBack) staging-dir counts. */
  def recoverAppends(s: SparkSession, path: String): (Int, Int) = {
    val (f, p) = fs(s, path)
    if (!f.exists(p)) return (0, 0)
    val staged = f.listStatus(p).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("_tmp_append_"))
    var (fwd, back) = (0, 0)
    staged.foreach { st =>
      val manifest = new org.apache.hadoop.fs.Path(st.getPath, AppendManifest)
      if (f.exists(manifest)) {
        val in = f.open(manifest)
        val names = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList finally in.close()
        names.foreach { n =>
          // n is relative to the staging dir; partitioned appends use
          // subdir entries like "acid=3/part-….parquet"
          val src = new org.apache.hadoop.fs.Path(st.getPath, n)
          val dst = new org.apache.hadoop.fs.Path(p, n)
          f.mkdirs(dst.getParent)
          if (f.exists(src) && !f.rename(src, dst))
            throw new java.io.IOException(s"append recovery failed moving $src -> $dst")
        }
        fwd += 1
      } else back += 1
      f.delete(st.getPath, true)
    }
    (fwd, back)
  }

  /** Append `df` to the declared catalog table at `path`, rejecting
    * schema drift (name or type mismatch against `schemas(table)`)
    * BEFORE any data is written — the FAILFAST half of idempotent
    * ingest. Nullability is not part of the contract (Spark widens it
    * freely on read).
    *
    * Crash-safety: the job writes to a hidden `_tmp_append_*` staging
    * subdirectory (underscore-prefixed, so readers never see it),
    * records the staged part-file names in a `_MANIFEST`, then moves
    * the files into the table directory and deletes the staging dir.
    * Any crash leaves the staging dir behind as the pending marker,
    * and the manifest makes the outcome decidable: died mid-write
    * (no manifest) → [[recoverAppends]] rolls the append back; died
    * mid-commit (manifest present, some files possibly already moved)
    * → it rolls the append forward to completion. The next append
    * fails loudly while anything is pending, so a crash can never be
    * silently half-committed. */
  def append(s: SparkSession, table: String, df: DataFrame, path: String): Unit = {
    val want = schemas(table).map(f => (f.name, f.dataType))
    val got = df.schema.map(f => (f.name, f.dataType))
    require(got == want,
      s"schema drift appending to $table: got $got, declared $want")
    stagedAppend(s, df, path)
  }

  /** Schema-EVOLVING append: the batch must carry every declared
    * column of `table` at its declared type (same core-schema
    * contract as [[append]]) and may ADD new columns — the one
    * evolution parquet supports losslessly: old files simply lack the
    * new column and surface NULL under a merged-schema read
    * ([[readEvolved]]). Type changes and dropped declared columns
    * still FAILFAST — those are corruption, not evolution. Same
    * crash-safe staging commit as [[append]]. */
  def appendEvolve(s: SparkSession, table: String, df: DataFrame,
    path: String): Unit = {
    val got = df.schema.map(f => (f.name, f.dataType)).toMap
    schemas(table).foreach { f =>
      require(got.contains(f.name),
        s"evolving append to $table dropped declared column ${f.name}")
      require(got(f.name) == f.dataType,
        s"evolving append to $table changed ${f.name}: " +
          s"${got(f.name)} vs declared ${f.dataType}")
    }
    // EVOLVED (non-declared) columns are part of the contract too once
    // written: a second append re-adding one at a different type would
    // commit cleanly and then break every merged-schema read — so it
    // FAILFASTs here instead. The current-schema probe is a footer
    // read (control-plane), only on this rare evolving path.
    val declared = schemas(table).map(_.name).toSet
    val (f, p) = fs(s, path)
    val hasData = f.exists(p) && f.listStatus(p).exists(st =>
      st.isFile && v2.BinRecord.visible(st.getPath.getName))
    if (hasData) {
      val current = readEvolved(s, path).schema
        .filterNot(fld => declared(fld.name))
        .map(fld => (fld.name, fld.dataType)).toMap
      df.schema.filterNot(fld => declared(fld.name)).foreach { fld =>
        current.get(fld.name).foreach(dt => require(dt == fld.dataType,
          s"evolving append to $table changed evolved column ${fld.name}: " +
            s"${fld.dataType} vs already-written $dt"))
      }
    }
    stagedAppend(s, df, path)
  }

  /** Union-schema read over an evolved table: files written before a
    * column existed surface NULL for it. */
  def readEvolved(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  /** The staging commit under [[append]], [[appendEvolve]] and
    * [[Store.append]] (`partitionCols` partition the batch on write). */
  private[sources] def stagedAppend(s: SparkSession, df: DataFrame, path: String,
    partitionCols: Seq[String] = Seq.empty): Unit = {
    require(!appendPending(s, path),
      s"$path has leftover _tmp_append_* staging dirs from a crashed append; " +
        "run Catalog.recoverAppends to roll them forward/back first")
    val (f, p) = fs(s, path)
    val tmp = new org.apache.hadoop.fs.Path(p,
      s"_tmp_append_${java.util.UUID.randomUUID().toString.take(8)}")
    if (partitionCols.isEmpty)
      df.write.mode("errorifexists").parquet(tmp.toString)
    else
      df.write.mode("errorifexists").partitionBy(partitionCols: _*)
        .parquet(tmp.toString)
    // part-file names embed a job-unique UUID, so renames cannot
    // collide with the table's existing files; manifest entries are
    // staging-relative ("acid=3/part-….parquet" for partitioned
    // appends), and commit creates partition dirs as needed
    val parts = {
      val it = f.listFiles(tmp, true)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      // qualified prefix with trailing slash: listFiles returns fully
      // qualified paths, so prefix-stripping yields the staging-relative
      // name ("part-…" flat, "acid=3/part-…" partitioned)
      val base = f.makeQualified(tmp).toString + "/"
      while (it.hasNext) {
        val st = it.next()
        val full = st.getPath.toString
        if (st.isFile && v2.BinRecord.visible(st.getPath.getName)) {
          require(full.startsWith(base), s"unexpected staged path $full")
          buf += full.stripPrefix(base)
        }
      }
      buf.toSeq
    }
    val out = f.create(new org.apache.hadoop.fs.Path(tmp, AppendManifest), true)
    try out.write(parts.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    parts.foreach { rel =>
      val src = new org.apache.hadoop.fs.Path(tmp, rel)
      val dst = new org.apache.hadoop.fs.Path(p, rel)
      f.mkdirs(dst.getParent)
      if (!f.rename(src, dst))
        throw new java.io.IOException(s"append commit failed moving $src -> $dst")
    }
    f.delete(tmp, true)
  }

  // ---------------------------------------------------------------
  /** Fixed-width binary-record ingest — the FITS-bintable analog of
    * the reference's bulk-load path (a FITS BINTABLE is a stream of
    * fixed-width big-endian records described by its header; here the
    * declared `StructType` plays the header).
    *
    * `binaryRecords` splits the file on exact record boundaries, so
    * ingest parallelism is the usual HDFS-split parallelism, and the
    * per-partition ByteBuffer decode is the one legitimately
    * imperative step (same pattern as the multimodal blob decoder) —
    * rows land in a normal DataFrame with the declared schema, so
    * everything downstream (pruning, predicate pushdown once written
    * to parquet) is unchanged. Supported field types: Long/Double (8
    * bytes), Int/Float (4), Short (2) — all big-endian, as FITS
    * mandates. */
  def readBinaryRecords(s: SparkSession, path: String, schema: StructType): DataFrame = {
    // layout arithmetic shared with the V2 source so the two binary
    // readers can never disagree on record shape
    val recLen = v2.BinRecord.recordLength(schema)
    val fields = schema.fields.map(f => f.dataType)
    // fail loudly on truncated/corrupt files: the record reader would
    // silently drop a trailing partial record otherwise. This check is
    // BEST-EFFORT against static input (the normal bulk-ingest case):
    // it covers the files visible at call time, one directory level
    // deep — a file added, replaced, or nested under a subdirectory
    // between this listing and the read is consumed unvalidated.
    val (f, p) = fs(s, path)
    def visible(st: org.apache.hadoop.fs.FileStatus) =
      v2.BinRecord.visible(st.getPath.getName)
    // globStatus returns null (not empty) for a missing non-glob path;
    // directory matches expand one level, mirroring FileInputFormat's
    // own (non-recursive) listing so validation sees what the read sees
    val matched =
      if (f.isDirectory(p)) Array(f.getFileStatus(p))
      else Option(f.globStatus(p)).getOrElse(Array.empty)
    val stats = matched.toSeq.flatMap { st =>
      if (st.isDirectory)
        f.listStatus(st.getPath).filter(_.isFile).filter(visible).toSeq
      else Seq(st).filter(visible) // hidden glob matches are skipped by the read too
    }
    require(stats.nonEmpty, s"no (visible) binary input files at $path")
    stats.foreach { st =>
      require(st.getLen % recLen == 0,
        s"${st.getPath} length ${st.getLen} is not a multiple of record length $recLen " +
          "(truncated or mis-declared binary table)")
    }
    val rdd = s.sparkContext.binaryRecords(path, recLen).map { bytes =>
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
      org.apache.spark.sql.Row.fromSeq(fields.map {
        case LongType => bb.getLong()
        case DoubleType => bb.getDouble()
        case IntegerType => bb.getInt()
        case FloatType => bb.getFloat()
        case ShortType => bb.getShort()
        case other => throw new IllegalStateException(other.toString)
      }.toSeq)
    }
    s.createDataFrame(rdd, schema)
  }

  /** Partition-scoped upsert (MERGE): rows of `updates` replace
    * same-key rows and new keys append, rewriting ONLY the partitions
    * `updates` touches — at 100 TB a merge that touches 3 of 10,000
    * date partitions rewrites 3, the rest are never read or written
    * (the scan of current rows is partition-pruned by an IN filter on
    * the collected partition values, which are few by construction:
    * one merge batch touches few partitions).
    *
    * Constraint (standard for partition-scoped merge without a
    * transactional table format): a key's partition value must be
    * stable — if an update moves a key to a new partition value, the
    * old row is outside the rewritten set and survives.
    *
    * Self-overwrite safety: the merged rows are staged to a temp dir
    * and read back before the dynamic partition overwrite, so the
    * overwrite never reads the files it is replacing. The overwrite
    * itself uses Spark's dynamic mode — only partitions present in
    * the staged data are replaced, via the committer's own
    * staging+rename protocol. */
  def upsertPartitioned(s: SparkSession, updates: DataFrame, path: String,
    partCol: String, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val partVals = updates.select(partCol).distinct().collect().map(_.get(0))
    require(partVals.nonEmpty, "empty update batch")
    import org.apache.spark.sql.functions.col
    // the caller's columns: declared from the frame in hand and held
    // against the files, so an update cannot drop a stored column
    val store = Store(updates.schema, Seq(partCol))
    store.checkFiles(s, path)
    val current = store.read(s, path)
      .filter(col(partCol).isin(partVals.toSeq: _*))
    val merged = current.join(updates, keyCols, "left_anti")
      .unionByName(updates)
    val (f, p) = fs(s, path)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s"_tmp_upsert_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      merged.write.mode("errorifexists").parquet(tmp.toString)
      Store(merged.schema).read(s, tmp.toString)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
    } finally f.delete(tmp, true)
  }

  /** Replace exactly the partitions present in `df` (dynamic
    * partition overwrite), leaving every other partition untouched —
    * the primitive under partition-scoped view maintenance: a
    * recompute of N partitions swaps in N directories via the
    * committer's staging protocol and never reads or writes the
    * rest. Unlike [[upsertPartitioned]] the replaced partitions'
    * previous contents do NOT merge in: `df` is the new truth for its
    * partitions (so deletions inside a partition propagate). */
  def replacePartitions(s: SparkSession, df: DataFrame, path: String,
    partCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** Name of the root-level retention marker [[dropPartitionsBelow]]
    * maintains: its content is the highest aging horizon ever applied
    * to the store. */
  val AgeHorizonMarker = "_age_horizon"

  /** The store's recorded aging horizon (0 when never aged):
    * partitions with key < this value have had their data aged out,
    * so a zero-row read there means "retired", not "never happened". */
  def ageHorizon(s: SparkSession, path: String): Long =
    readMarker(s, path, AgeHorizonMarker).getOrElse(0L)

  /** The Long held by the marker file `name` at the root of `path`. */
  private[graft] def readMarker(s: SparkSession, path: String, name: String): Option[Long] = {
    val (f, p) = fs(s, path)
    val m = new org.apache.hadoop.fs.Path(p, name)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  /** Raise the marker `name` at the root of `path` to `v`; a lower or
    * equal `v` leaves it as it is. The value is written beside the
    * marker and renamed over it in one step (`FileContext`
    * `Rename.OVERWRITE`), so a crash leaves the old value or the new
    * one: never a partial marker, and never none. */
  private[graft] def advanceMarker(s: SparkSession, path: String, name: String, v: Long): Unit =
    if (readMarker(s, path, name).forall(_ < v)) {
      val (f, p) = fs(s, path)
      val tmp = new org.apache.hadoop.fs.Path(p, s".$name.tmp")
      val out = f.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, s.sparkContext.hadoopConfiguration)
        .rename(tmp, new org.apache.hadoop.fs.Path(p, name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Retention/aging for batch-partitioned lifecycle stores: delete
    * the DATA FILES of every `partCol=<v>` partition with v <
    * `horizon`, KEEPING each now-empty partition directory in place.
    * The directory is load-bearing: the nightly-lifecycle stores (the
    * [[graft.queries.Spatial]] match/transient stores, the
    * [[graft.queries.Multimodal]] streamed phash-pairs store) use the
    * partition dir's existence as the durable "this batch ran"
    * completion marker — an empty dir already means "ran, zero rows"
    * ([[graft.queries.Multimodal.blobBatch]]) — so after aging, a
    * replayed batch still short-circuits on its guard, frontier
    * resume still counts the aged prefix as complete, and fold
    * markers (which live at the index root, not here) are untouched:
    * aging can never turn a done batch back into a runnable one. The
    * applied horizon is recorded monotonically in [[AgeHorizonMarker]]
    * so a consumer can tell an aged-out prefix (zero rows by
    * retirement) from a legitimately-empty partition.
    *
    * Discipline: REFUSES on an incomplete store and while a crashed
    * append is pending (the [[Store.compact]] contract) —
    * resolving those is a recovery decision that must precede any
    * file removal. Ten survey-years of nightly batches is ~3,650
    * partitions per store; this is the entry point that keeps the
    * retained window bounded. Returns the number of partitions whose
    * files were removed by THIS call (already-aged or non-numeric
    * directories are skipped). */
  def dropPartitionsBelow(s: SparkSession, path: String, partCol: String,
    horizon: Long): Int = {
    val (f, p) = fs(s, path)
    require(tableComplete(s, path),
      s"$path is not a complete store — build it first")
    require(!appendPending(s, path),
      s"$path has unresolved crashed appends — recoverAppends first")
    val prefix = s"$partCol="
    // The marker is monotone: every partition below the recorded
    // horizon was already emptied by a prior call, so skip it without
    // listing its children. The top-level listing itself still
    // enumerates every partition directory ever created (aged dirs
    // keep their completion marker, so they stay listed) — O(stream
    // age) in directory ENTRIES but O(retained window) in child
    // listings and deletes; at ~3,650 dirs per survey-decade the
    // single listing is noise next to one aged partition's deletes.
    val prevH = ageHorizon(s, path)
    var aged = 0
    f.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(prefix)) {
        val v = scala.util.Try(name.stripPrefix(prefix).toLong).toOption
        if (v.exists(x => x >= prevH && x < horizon)) {
          // remove data content only; hidden ("_"/".") entries are
          // commit-protocol artifacts and stay with the dir
          val data = f.listStatus(st.getPath).filterNot { c =>
            val n = c.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          }
          if (data.nonEmpty) {
            data.foreach(c => f.delete(c.getPath, true))
            aged += 1
          }
        }
      }
    }
    advanceMarker(s, path, AgeHorizonMarker, horizon)
    aged
  }

  /** Bucketed catalog table: pre-shuffled on the join key at ingest
    * time, so every later equi-join/aggregation on that key is
    * co-located — zero Exchange in the plan (the SURVEY §5 strategy
    * for the recurring fact-fact joins; at 100 TB this converts every
    * repeated orders⋈customer-style shuffle into a local merge).
    * Registered in the session catalog (bucket metadata lives there). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
    numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
}
