package graft

import java.nio.file.Files
import org.apache.spark.graftx.JobProbe
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Ann, Dedup, Multimodal, Spatial, TimeSeries}
import graft.sources.{Catalog, ObjectIndex, Store}
import graft.streaming.{DocStream, LightcurveStream}

class StoreSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Every graft-written store whose columns graft owns. */
  private lazy val stores: Seq[(String, Store)] = Seq(
    "zone" -> Spatial.ZoneStore, "zone_ra" -> Spatial.ZoneRaStore,
    "match" -> Spatial.MatchStore, "transient" -> Spatial.TransientStore,
    "obj_delta" -> Spatial.ObjDeltaStore, "halo" -> Spatial.HaloStore,
    "ann_model" -> Ann.ModelStore, "pq_codes" -> Ann.PqCodesStore,
    "ivfpq_codes" -> Ann.IvfPqCodesStore, "vecstore" -> Ann.VectorStore,
    "grams" -> Dedup.GramsStore, "ngrams" -> Dedup.NgramsStore,
    "stopgrams" -> Dedup.StopgramsStore, "bench_idx" -> Dedup.BenchIndexStore,
    "linedf" -> Dedup.LineDfStore, "span_idx" -> Dedup.SpanIndexStore,
    "phash_idx" -> Multimodal.PhashIndexStore,
    "phash_members" -> Multimodal.PhashMembersStore,
    "phash_pairs" -> Multimodal.PhashPairsStore,
    "lc_stats" -> LightcurveStream.StatsStore, "obj_index" -> ObjectIndex.IndexStore,
    "corpus" -> DocStream.corpusStore(Catalog.schemas("documents")))

  /** A visible data file under `path`, and its partition directory
    * names from the store root down. */
  private def dataFile(path: String): (java.io.File, Seq[String]) = {
    def walk(f: java.io.File, parts: Seq[String]): Seq[(java.io.File, Seq[String])] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => walk(c, if (c.isDirectory) parts :+ c.getName else parts))
      else if (f.getName.endsWith(".parquet")) Seq((f, parts)) else Nil
    walk(new java.io.File(path.stripPrefix("file:")), Nil).headOption
      .getOrElse(fail(s"no data file under $path"))
  }

  test("every store's declared schema is the schema its own writer wrote (sf0.001)") {
    val root = Files.createTempDirectory("graft_store").toString
    val docs = Tables.documents(spark, sf)
    Spatial.writeZonePartitioned(spark, sf, s"$root/zone")
    Spatial.writeZoneRaPartitioned(spark, sf, s"$root/zone_ra")
    val (matchPath, transPath) = Spatial.ensureAssocStores(spark, sf)
    assert(Spatial.createObjectsFromTransients(spark, transPath, 0L,
      s"$root/obj_delta", 1L << 40, 1.0) > 0)
    val haloFile = spark.table(Spatial.ensureHaloTable(spark, sf)).inputFiles.head
    for (q <- Seq("q_ann_pq_stored", "q_ann_ivfpq_stored", "q_ann_ivf"))
      SparkEntry.queries(q)(spark, sf)
    Dedup.buildContainIndex(spark, sf, s"$root/contain")
    Dedup.buildBenchIndex(spark, docs, s"$root/bench_idx")
    Dedup.buildLineDfIndex(spark, docs, s"$root/linedf")
    Dedup.buildSpanIndex(spark, docs, s"$root/span_idx")
    val (phashIdx, phashPairs) = Multimodal.ensurePhashStream(spark, sf)
    DocStream.buildCleanCorpus(spark, docs, s"$root/corpus")
    ObjectIndex.build(spark, sf, s"$root/obj_index", 16)
    val written = Seq(
      "zone" -> s"$root/zone", "zone_ra" -> s"$root/zone_ra",
      "match" -> matchPath, "transient" -> transPath,
      "obj_delta" -> s"$root/obj_delta", "halo" -> haloFile,
      "ann_model" -> (Store.derivedPath(sf, "pq_codes", Seq("embeddings.parquet")) + ".model"),
      "ann_model" -> (Store.derivedPath(sf, "ivfpq_codes", Seq("embeddings.parquet")) + ".model"),
      "ann_model" -> Ann.ivfModelCachePath(sf),
      "pq_codes" -> Store.derivedPath(sf, "pq_codes", Seq("embeddings.parquet")),
      "ivfpq_codes" -> Store.derivedPath(sf, "ivfpq_codes", Seq("embeddings.parquet")),
      "vecstore" -> Store.derivedPath(sf, "vecstore", Seq("embeddings.parquet")),
      "grams" -> s"$root/contain/grams", "ngrams" -> s"$root/contain/ngrams",
      "stopgrams" -> s"$root/contain/stopgrams",
      "bench_idx" -> s"$root/bench_idx", "linedf" -> s"$root/linedf",
      "span_idx" -> s"$root/span_idx", "phash_idx" -> phashIdx,
      "phash_members" -> Multimodal.phashMembersPath(phashIdx),
      "phash_pairs" -> phashPairs,
      "lc_stats" -> TimeSeries.ensureLcStatsStore(spark, sf),
      "obj_index" -> s"$root/obj_index", "corpus" -> s"$root/corpus")
    assert(written.map(_._1).toSet == stores.map(_._1).toSet)
    val byName = stores.toMap
    for ((name, path) <- written) {
      val store = byName(name)
      val (file, dirs) = dataFile(path)
      val fileCols = spark.read.parquet(file.toString).schema
        .map(f => (f.name, f.dataType))
      val declared = store.schema.filterNot(f => store.partitionCols.contains(f.name))
        .map(f => (f.name, f.dataType))
      assert(fileCols == declared, s"$name at $file: file has $fileCols, declared $declared")
      assert(dirs.map(_.takeWhile(_ != '=')) == store.partitionCols,
        s"$name at $file: partition dirs $dirs, declared ${store.partitionCols}")
    }
  }

  private def sample(dt: DataType): Any = dt match {
    case LongType => 1L
    case IntegerType => 1
    case DoubleType => 1.0
    case StringType => "x"
    case ArrayType(IntegerType, _) => Seq(1)
    case ArrayType(FloatType, _) => Seq(1.0f)
    case other => fail(s"no sample value for $other")
  }

  test("a zero-row store made by create reads as an empty frame and accepts an append") {
    val root = Files.createTempDirectory("graft_store_empty").toString
    for ((name, store) <- stores) {
      val path = s"$root/$name"
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], store.schema)
      assert(store.create(spark, empty, path), name)
      assert(Catalog.tableComplete(spark, path), name)
      val back = store.read(spark, path)
      assert(back.schema.fieldNames.toSeq == store.schema.fieldNames.toSeq, name)
      assert(back.isEmpty, name)
      val row = Row.fromSeq(store.schema.map(f => sample(f.dataType)))
      store.append(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row)), store.schema), path)
      assert(store.read(spark, path).collect().toSeq == Seq(row), name)
    }
  }

  test("create and append reject schema drift before writing; column order is not drift") {
    val root = Files.createTempDirectory("graft_store_drift").toString
    val store = Spatial.MatchStore
    import spark.implicits._
    val ok = Seq((1L, 2L, 0.5, 7L)).toDF("det_k", "obj_k", "dist_r6", "batch_id")
    val retyped = Seq((1L, 2L, 0.5, 7)).toDF("det_k", "obj_k", "dist_r6", "batch_id")
    intercept[IllegalArgumentException] { store.create(spark, retyped, s"$root/m") }
    assert(!Catalog.tableExists(spark, s"$root/m"))
    assert(store.create(spark, ok.select("batch_id", "dist_r6", "obj_k", "det_k"), s"$root/m"))
    intercept[IllegalArgumentException] {
      store.append(spark, ok.withColumn("extra", col("det_k")), s"$root/m")
    }
    assert(store.read(spark, s"$root/m").as[(Long, Long, Double, Long)].collect().toSeq ==
      Seq((1L, 2L, 0.5, 7L)))
  }

  test("warm stored ANN and light-curve queries start no schema-inference job") {
    for (q <- Seq("q_ann_pq_stored", "q_ann_ivfpq_stored",
      "q_lightcurve_band_stored", "q_lc_stream_batches")) {
      val fn = SparkEntry.queries(q)
      fn(spark, sf).collect() // build
      val jobs = JobProbe(spark.sparkContext) { fn(spark, sf).collect() }
      val footer = jobs.filter(_.exists(_.startsWith("parquet at")))
      assert(footer.isEmpty, s"$q warm run started ${footer.size} parquet jobs: $footer")
    }
  }

  test("an all-matched association batch records its transient partition and replays in zero jobs") {
    val root = Files.createTempDirectory("graft_store_assoc").toString
    val halo = Spatial.ensureHaloTable(spark, sf)
    val (_, zh, _) = Spatial.haloGeometry(spark, halo)
    val build = Spatial.haloTableFor(spark, halo, 1.0)
    // every catalog point matches its own stored copy at distance 0
    val batch = Spatial.points(spark, sf).filter(col("k") % 7 === 0)
      .select(col("k").as("det_k"), col("ra"), col("decl"))
    val (mPath, tPath) = (s"$root/match", s"$root/trans")
    def run() = Spatial.associateBatch(spark, batch, build, mPath, tPath, 0L,
      radius = 1.0, zoneHeight = zh)
    val (nMatch, nTrans) = run()
    assert(nMatch > 0 && nTrans == 0)
    assert(new java.io.File(s"$tPath/batch_id=0").isDirectory,
      "the empty transient batch left no partition directory")
    assert(Spatial.TransientStore.read(spark, tPath).isEmpty)
    val replay = JobProbe(spark.sparkContext) { assert(run() == ((0L, 0L))) }
    assert(replay.isEmpty, s"replay of a committed batch started jobs: $replay")
  }

  test("commitBatch heals a crashed staged append before its committed check") {
    import spark.implicits._
    val store = Multimodal.PhashPairsStore
    val path = Files.createTempDirectory("graft_store_heal").toString + "/pairs"
    assert(store.commitBatch(spark, path, 0L) {
      Seq((1L, 2L, 3)).toDF("d1", "d2", "hamming")
    } == 1L)
    // batch 1 crashed mid-commit: its manifest was written and one of
    // its two files moved into batch_id=1, the other is still staged
    val stage = new java.io.File(s"$path/_tmp_append_dead")
    for (r <- Seq((4L, 5L, 1), (6L, 7L, 2)))
      Seq(r).toDF("d1", "d2", "hamming")
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(1L))
        .write.mode("append").partitionBy("batch_id").parquet(stage.toString)
    val staged = new java.io.File(stage, "batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    assert(staged.size == 2)
    Files.write(new java.io.File(stage, "_MANIFEST").toPath,
      staged.map(n => s"batch_id=1/$n\n").mkString.getBytes("UTF-8"))
    new java.io.File(s"$path/batch_id=1").mkdirs()
    Files.move(new java.io.File(stage, s"batch_id=1/${staged.head}").toPath,
      new java.io.File(s"$path/batch_id=1/${staged.head}").toPath)
    // the replay must roll the append forward, then see batch 1 as
    // committed — it must not recompute the rows
    assert(store.commitBatch(spark, path, 1L) {
      fail("a committed batch recomputed its rows")
    } == 0L)
    assert(!Catalog.appendPending(spark, path))
    assert(store.read(spark, path).filter(col("batch_id") === 1L).count() == 2L,
      "the half-moved batch was not rolled forward")
  }

  test("a Long marker advances monotonically by one rename and leaves no temporary file") {
    val dir = Files.createTempDirectory("graft_marker").toString
    assert(Catalog.readMarker(spark, dir, "_m").isEmpty)
    for ((v, want) <- Seq(5L -> 5L, 3L -> 5L, 7L -> 7L)) {
      Catalog.advanceMarker(spark, dir, "_m", v)
      assert(Catalog.readMarker(spark, dir, "_m").contains(want), s"after $v")
      val left = new java.io.File(dir).list().toSeq
      assert(!left.exists(_.contains("tmp")), s"temporary marker files left: $left")
    }
  }

  test("a job a store read starts is named after the read's caller") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_store_site").toString + "/pairs"
    // more partition directories than Spark lists on the driver, so
    // the read lists them in a Spark job
    (0 until 40).map(b => (1L, 2L, 3, b.toLong)).toDF("d1", "d2", "hamming", "batch_id")
      .write.partitionBy("batch_id").parquet(path)
    val jobs = JobProbe(spark.sparkContext) { Multimodal.PhashPairsStore.read(spark, path) }
    assert(jobs.nonEmpty && jobs.flatten.forall(_.startsWith("parquet at StoreSpec.scala:")),
      s"store read jobs not named after the caller: $jobs")
  }
}
