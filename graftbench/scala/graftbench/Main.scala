package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._
import org.apache.spark.graftbench.BusDrain
import graft.SparkEntry
import graft.sources.ObjectIndex

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case o => str(o.toString)
  }
}

/** A fixed, deterministic CPU workload: its time tracks the host's
  * speed, not the program's. */
object Calib {
  def run(): Double = {
    val t0 = System.nanoTime
    var x = 88172645463325252L
    var acc = 0.0
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x & 0xffffL).toDouble)
      i += 1
    }
    if (acc < 0) println(acc)
    (System.nanoTime - t0) / 1e9
  }
}

/** One timed call into graft: its build step (the `SparkEntry.queries`
  * call, stream start or lookup DataFrame) and its exec step (noop
  * write, parquet write or collect). */
final case class OpRec(name: String, buildS: Double, execS: Double,
  ok: Boolean, rows: Long, heapMb: Double, pins: Int, pinBytes: Long,
  gcMs: Long, gcCount: Long) {
  def json: String = Json.obj("name" -> Json.str(name),
    "build_s" -> Json.num(buildS), "exec_s" -> Json.num(execS),
    "ok" -> ok.toString, "rows" -> rows.toString,
    "heap_mb" -> Json.num(heapMb), "pins" -> pins.toString,
    "pin_bytes" -> pinBytes.toString, "gc_ms" -> gcMs.toString,
    "gc_count" -> gcCount.toString)
}

/** The JVM side of the benchmark: reads the plan `run.py` wrote
  * (inputs, seeded pass orders and lookups), runs the workload against
  * graft's public surface, and writes every raw sample to the output
  * file; `run.py` reduces them to metrics. */
final class Run(plan: JsonNode) {
  private def text(k: String) = plan.get(k).asText
  private def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  val workload = text("workload")
  val seconds = plan.get("seconds").asDouble
  val traceOn = plan.get("trace").asBoolean
  val cpus = plan.get("cpus").asInt
  val setups = plan.get("setups").asInt
  val minPasses = plan.get("min_passes").asInt
  val warmupPasses = plan.get("warmup_passes").asInt
  val work = text("work")
  val data = text("data")
  val orders: Seq[Seq[String]] = plan.get("orders").elements.asScala.map(strings).toSeq

  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  val spans = new Spans
  val tracer = new Tracer
  private val lookupRows = new StringBuilder
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val memBean = ManagementFactory.getMemoryMXBean
  var spark: SparkSession = _

  private def gcTotals: (Long, Long) =
    (gcBeans.map(_.getCollectionCount.max(0L)).sum, gcBeans.map(_.getCollectionTime.max(0L)).sum)

  def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    System.err.println(s"[graftbench] FAILED $msg")
    failures += msg
  }

  /** graft's session settings (those of `graft.Bench`/`graft.Verify`),
    * with every directory the engine writes to under this run's work
    * directory. */
  def newSession(i: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/local/s$i")
      .config("spark.sql.warehouse.dir", s"$work/warehouse/s$i")
      .getOrCreate()

  val WarmSql = "SELECT count(*) FROM object WHERE areaspec_circle(ra, decl, 180, 20, 25)"

  /** Session start + table registration + one SQL query, `setups`
    * times; the last session is kept for the workload. */
  def setup(): Seq[Double] = (0 until setups).map { i =>
    val t0 = System.nanoTime
    val s = newSession(i)
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.registerTables(s, data)
    s.sql(WarmSql).collect()
    val dt = (System.nanoTime - t0) / 1e9
    if (i < setups - 1) s.stop() else spark = s
    dt
  }

  /** Drop every RDD pin and DataFrame cache entry, so no sample runs
    * on data an earlier sample left behind. */
  def evict(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  def liveHeapMb(): Double = {
    System.gc()
    memBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def group(g: String, traced: Boolean): Unit =
    if (traced) spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  /** Time one call. Failures are recorded and the run goes on. */
  def timed[T](gid: String, name: String, traced: Boolean, heap: Boolean)
    (build: => T)(exec: T => Long): OpRec = {
    attempted += 1
    val op = if (traced) spans.open(name) else null
    val (gc0, gcT0) = gcTotals
    val t0 = System.nanoTime
    var t1 = t0
    var rows = -1L
    var ok = true
    try {
      group(s"$gid:build", traced)
      val b = if (traced) spans("queries.build")(build) else build
      t1 = System.nanoTime
      group(s"$gid:exec", traced)
      rows = if (traced) spans("exec.run")(exec(b)) else exec(b)
    } catch {
      case e: Throwable =>
        ok = false
        fail(s"$workload/$name", e)
    } finally {
      if (traced) { spark.sparkContext.clearJobGroup(); spans.close(op) }
    }
    val t2 = System.nanoTime
    if (!ok && t1 == t0) t1 = t2
    val (gc1, gcT1) = gcTotals
    val (pins, pinBytes) =
      if (traced) (spark.sparkContext.getPersistentRDDs.size,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      else (0, 0L)
    val heapMb = if (heap) liveHeapMb() else 0.0
    if (heap) evict()
    OpRec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok, rows, heapMb, pins,
      pinBytes, gcT1 - gcT0, gc1 - gc0)
  }

  /** Per-pass Spark work from the tracer, split into the build and
    * exec layers. */
  def layersJson(prefix: String): String = {
    BusDrain(spark.sparkContext)
    val build = tracer.total(g => g.startsWith(prefix) && g.endsWith(":build"))
    val exec = tracer.total(g => g.startsWith(prefix) && g.endsWith(":exec"))
    val all = tracer.total(_.startsWith(prefix))
    def acc(a: LayerAcc) = Json.obj(
      "jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
      "tasks" -> a.tasks.toString, "cpu_ns" -> a.cpuNs.toString,
      "run_ms" -> a.runMs.toString,
      "shuffle_write_bytes" -> a.shuffleWriteBytes.toString,
      "shuffle_read_bytes" -> a.shuffleReadBytes.toString,
      "shuffle_records" -> a.shuffleRecords.toString,
      "fetch_wait_ms" -> a.fetchWaitMs.toString,
      "spill_memory_bytes" -> a.spillMemory.toString,
      "spill_disk_bytes" -> a.spillDisk.toString,
      "rows_read" -> a.rowsRead.toString, "bytes_read" -> a.bytesRead.toString,
      "bytes_written" -> a.bytesWritten.toString,
      "task_skew" -> Json.num(a.taskSkew))
    Json.obj("build" -> acc(build), "exec" -> acc(exec), "all" -> acc(all),
      "streaming_batches" -> tracer.batches.toString,
      "streaming_batch_ms" -> tracer.batchMs.toString)
  }

  def withTracer[T](traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streaming)
      try body
      finally {
        BusDrain(spark.sparkContext)
        spark.streams.removeListener(tracer.streaming)
        spark.sparkContext.removeSparkListener(tracer)
      }
    }

  // ---------------------------------------------------------------
  // pair_stream: passes over registered queries

  /** One pass over the queries in this pass's seeded order. The
    * checked pass writes every result as parquet; the others write to
    * the `noop` sink, and traced passes also count the rows written
    * (with an `Observation`, whose cost is part of the tracing
    * overhead). */
  def queryPass(p: Int, verify: Boolean, measured: Boolean, traced: Boolean): String = {
    val order = orders(p)
    tracer.reset()
    val span = if (traced) spans.open(s"pass $p") else null
    var layers = "null"
    val ops = withTracer(traced) {
      val recs = order.zipWithIndex.map { case (q, i) =>
        timed(s"gb:$p:$i", q, traced, heap = true)(SparkEntry.queries(q)(spark, data)) { df =>
          if (verify) {
            df.write.mode("overwrite").parquet(s"$work/results/$q")
            -1L
          } else if (traced) {
            val rowsOut = new Observation()
            df.observe(rowsOut, count(lit(1)).as("rows")).write.format("noop")
              .mode("overwrite").save()
            rowsOut.get("rows").asInstanceOf[Long]
          } else {
            df.write.format("noop").mode("overwrite").save()
            -1L
          }
        }
      }
      if (traced) layers = layersJson(s"gb:$p:")
      recs
    }
    if (traced) spans.close(span)
    Json.obj("pass" -> p.toString, "measured" -> measured.toString,
      "traced" -> traced.toString, "ops" -> Json.arr(ops.map(_.json)),
      "layers" -> layers)
  }

  // ---------------------------------------------------------------
  // catalog_store: cold ingest into fresh stores, then seeded lookups

  val NightSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Director-index buckets, sized to the inputs (about ten objects a
    * bucket at the default scale). */
  val IndexBuckets = plan.get("index_buckets").asInt

  private def tree(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(tree) else Seq(f)

  /** One cold ingest of the director index into an empty store
    * directory of its own, then (when `withLookups`) the closed lookup
    * loop against it. The first `lookup_warmup` lookups are not
    * measured; with `alternate`, every other measured lookup is
    * traced. */
  def catalogRound(r: Int, measured: Boolean, traced: Boolean,
    withLookups: Boolean, alternate: Boolean): String = {
    val stores = new File(s"$work/stores/r$r")
    val cold = !stores.exists || Option(stores.list).forall(_.isEmpty)
    if (!cold) failures += s"$workload/round $r: store directory not empty at ingest start"
    val idx = s"${stores.getPath}/director_index"
    tracer.reset()
    var layers = "null"
    val ingest = withTracer(traced) {
      val span = if (traced) spans.open(s"round $r") else null
      val gid = s"gb:$r:0"
      val rec = timed(gid, "director_index", traced, heap = true) {
        // two nightly files, one micro-batch each, compaction after the second
        val q = ObjectIndex.ingestStream(
          spark.readStream.schema(NightSchema).option("maxFilesPerTrigger", 1)
            .parquet(text("nights")),
          idx, s"${stores.getPath}/_checkpoints/director_index", IndexBuckets,
          compactEvery = 1)
        tracer.alias(q.runId.toString, s"$gid:exec")
        q
      } { q =>
        try q.processAllAvailable() finally q.stop()
        q.exception.foreach(e => throw e)
        -1L
      }
      if (traced) {
        layers = layersJson(s"gb:$r:")
        spans.close(span)
      }
      Seq(rec)
    }
    val files = tree(stores).filter(_.isFile)
    try {
      val n = spark.read.parquet(idx).count()
      if (n != plan.get("events").asLong)
        failures += s"$workload/round $r: director index holds $n rows, events has ${plan.get("events").asLong}"
    } catch { case e: Throwable => fail(s"$workload/round $r: director index count", e) }
    System.err.println(f"[graftbench] round $r: ingest ${ingest.map(o => o.buildS + o.execS).sum}%.2f s")

    val warmup = plan.get("lookup_warmup").asInt
    val minLookups = plan.get("min_lookups").asInt
    val tl = System.nanoTime
    // at least `min_lookups` measured, and for at least `seconds`
    def more(i: Int) = i < warmup + minLookups || (System.nanoTime - tl) / 1e9 < seconds
    val lookups = if (!withLookups) Nil else
      plan.get("lookups").elements.asScala.zipWithIndex
        .takeWhile { case (_, i) => more(i) }.map { case (lk, i) =>
        val kind = lk.get("kind").asText
        val lkTraced = alternate && i >= warmup && i % 2 == 1
        val gid = s"gb:L:$i"
        var collected = Array.empty[Row]
        val rec = withTracer(lkTraced) {
          timed(gid, kind, lkTraced, heap = false) {
            kind match {
              case "one" => ObjectIndex.lookup(spark, idx, lk.get("id").asLong, IndexBuckets)
              case "many" => ObjectIndex.lookupMany(spark, idx,
                lk.get("ids").elements.asScala.map(_.asLong).toSeq, IndexBuckets)
              case "cone" => spark.sql(
                s"SELECT objectId, ra, decl FROM object WHERE areaspec_circle(ra, decl, " +
                  s"${lk.get("ra").asDouble}D, ${lk.get("dec").asDouble}D, ${lk.get("r").asDouble}D)")
            }
          } { df =>
            collected = df.collect()
            collected.length.toLong
          }
        }
        // the reply is checked by run.py, so it is kept, outside the timed call
        lookupRows.append(Json.obj("i" -> i.toString,
          "rows" -> Json.arr(collected.map(rowJson)))).append('\n')
        Json.obj("kind" -> Json.str(kind), "build_s" -> Json.num(rec.buildS),
          "exec_s" -> Json.num(rec.execS), "ok" -> rec.ok.toString,
          "rows" -> rec.rows.toString, "measured" -> (i >= warmup).toString,
          "traced" -> lkTraced.toString)
      }.toList
    val lookupLayers = if (withLookups && alternate) layersJson("gb:L:") else "null"
    val heapMb = liveHeapMb()
    evict()
    Json.obj("pass" -> r.toString, "measured" -> measured.toString,
      "traced" -> traced.toString, "cold" -> cold.toString,
      "ops" -> Json.arr(ingest.map(_.json)), "lookups" -> Json.arr(lookups),
      "heap_mb" -> Json.num(heapMb),
      "store_bytes" -> files.map(_.length).sum.toString,
      "store_files" -> files.size.toString,
      "layers" -> layers, "lookup_layers" -> lookupLayers)
  }

  private def rowJson(r: Row): String =
    Json.arr((0 until r.length).map(i => Json.value(r.get(i))))

  // ---------------------------------------------------------------

  /** pair_stream: pass 0 writes the results for the
    * correctness check; it and the next `warmupPasses` passes warm the
    * JIT. Then passes are measured until `seconds` have passed and at
    * least `minPasses` were measured. With tracing on, measured passes
    * are traced and untraced in ABBA order, so drift cancels and one
    * run gives both the per-layer counters and the tracing overhead.
    *
    * catalog_store: `ingest_rounds` ingests, each into empty store
    * directories of its own, the first in the freshly set-up JVM as a
    * nightly job would run it; the lookups run against the last. With
    * tracing on, a warm-up round comes first, then traced and untraced
    * rounds in ABBA order, and the lookups after the last round
    * alternate. */
  private def abba(i: Int): Boolean = i % 4 == 0 || i % 4 == 3

  def run(): String = {
    val calib0 = Calib.run()
    val setupS = setup()
    val t0 = System.nanoTime
    val passes = mutable.ArrayBuffer[String]()
    if (workload == "catalog_store") {
      val rounds = plan.get("ingest_rounds").asInt
      if (!traceOn) for (r <- 0 until rounds) passes += catalogRound(r, measured = true,
        traced = false, withLookups = r == rounds - 1, alternate = false)
      else {
        passes += catalogRound(0, measured = false, traced = false, withLookups = false, alternate = false)
        for (r <- 1 to 4) passes += catalogRound(r, measured = true, traced = abba(r - 1),
          withLookups = r == 4, alternate = true)
      }
    } else {
      passes += queryPass(0, verify = true, measured = false, traced = false)
      for (p <- 1 to warmupPasses)
        passes += queryPass(p, verify = false, measured = false, traced = false)
      val tm = System.nanoTime
      var m = 0
      while (warmupPasses + 1 + m < orders.size &&
        (m < minPasses || (System.nanoTime - tm) / 1e9 < seconds)) {
        val p = warmupPasses + 1 + m
        val ps = System.nanoTime
        passes += queryPass(p, verify = false, measured = true, traced = traceOn && abba(m))
        System.err.println(f"[graftbench] pass $p: ${(System.nanoTime - ps) / 1e9}%.2f s wall")
        m += 1
      }
    }
    val workloadS = (System.nanoTime - t0) / 1e9
    val calib1 = Calib.run()
    if (traceOn && plan.hasNonNull("spans_out"))
      Files.writeString(Paths.get(text("spans_out")), spans.json)
    Files.writeString(Paths.get(s"$work/lookups.jsonl"), lookupRows.toString)
    Json.obj("workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "calib_s" -> Json.arr(Seq(calib0, calib1).map(Json.num)),
      "workload_s" -> Json.num(workloadS),
      "passes" -> Json.arr(passes))
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val run = new Run(plan)
    val out = try run.run() finally if (run.spark != null) run.spark.stop()
    Files.writeString(Paths.get(args(1)), out)
  }
}

/** Writes `SparkEntry.oracleSql` of the named queries as one JSON
  * object: `OracleSql <out.json> <query>...`. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = args.drop(1).map(q => q -> Json.str(SparkEntry.oracleSql(q)))
    Files.writeString(Paths.get(args(0)), Json.obj(sql.toSeq: _*))
  }
}
