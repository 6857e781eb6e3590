package graft

/** Benchmark main. Every registered query ([[headline]]) against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout AND in a file.
  *
  * Methodology:
  * - each query is fully materialized through the `noop` writer
  *   (count() would let Spark skip final projection/sort work);
  * - one untimed warm-up run of q01 absorbs JVM/codegen startup;
  * - each query is timed SPARK_GRAFT_BENCH_ITERS times (default 3) and
  *   the MEDIAN is reported, so one load spike on a shared machine
  *   cannot poison the artifact;
  * - the JSON line is also written to SPARK_GRAFT_BENCH_OUT (default
  *   bench_out.json in the cwd) so the artifact survives stdout noise;
  * - a failing query aborts the bench loudly — a broken query must
  *   never flatter the total.
  */
object Bench {
  /** The rounds-1/2 cross-round set — the only totals comparable
    * across every round; reported as its own `headline10` object. */
  val headline10: Seq[String] = Seq(
    "q01_pricing_summary", "q03_topk_revenue", "q05_regional_join",
    "q_zone_xmatch", "q_dedup_minhash", "q_ann_bruteforce",
    "q_sessionize", "q_text_quality", "q_lightcurve_stats",
    "q_asof_join")

  /** Every registered query: [[headline10]] first, then the rest of
    * [[SparkEntry.queries]] in sorted order, so the artifact covers
    * the complete surface by construction. What each query's time
    * should look like is written at its definition ("Bench watch"). */
  def headline: Seq[String] =
    headline10 ++ SparkEntry.queries.keySet.diff(headline10.toSet).toSeq.sorted

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Session.local(cpus)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // One query's persisted/localCheckpoint blocks must not tax its
    // neighbors (r8 saw unchanged queries drift 1.5-2.6x from suite
    // pressure alone): drop every persistent RDD and nudge GC between
    // queries so each starts from a quiet heap. BETWEEN queries, not
    // between samples: per-sample quiescing was measured to inflate
    // sub-second queries ~15-20% (each sample pays the full-GC wake-up
    // cost) without changing any ranking — and a query's own leaked
    // blocks pressuring its own later samples is that query's honest
    // cost, unlike cross-query pressure.
    def quiesce(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      System.gc()
    }

    val unregistered = headline10.filterNot(SparkEntry.queries.contains)
    require(unregistered.isEmpty,
      s"headline10 names not registered in SparkEntry: ${unregistered.mkString(", ")}")

    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs an isolated subset — the
    // forensic mode for "did this query regress or did the suite?".
    // A name that matches nothing is a failed forensic run, not an
    // empty one: misspelling the query must not silently conclude
    // "did not regress" for a query that never executed.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    for (o <- only) {
      val unknown = o.diff(headline.toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the headline list: ${unknown.mkString(", ")}")
    }
    val names = headline.filter(n => only.forall(_.contains(n)))
    require(names.nonEmpty, "no queries selected to bench")
    materialize(names.head) // warm-up: JVM + codegen + parquet footer cache
    quiesce()

    val results = names.map { name =>
      val samples = (1 to iters).map { i =>
        // r20 measurement fix (judge-prescribed): each sample creates
        // its OWN localCheckpoint/persist blocks (every sample calls
        // the query function fresh), so by sample 3 a checkpoint-heavy
        // query ran beside two dead copies of its own pinned frames —
        // block-manager churn, not plan cost (q_track_motion measured
        // 81 s in-suite vs 31.6 s isolated in r19). Drop the PREVIOUS
        // sample's now-dead blocks before timing the next one; no
        // System.gc here (per-sample full GC was measured in r8 to
        // inflate sub-second queries 15-20%). The sample's DataFrame
        // cache entries go too: left in the CacheManager, samples
        // 2..n would replay an InMemoryRelation over the dropped
        // blocks. The timed region is unchanged: both evictions run
        // strictly outside t0..t1.
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        materialize(name) // throws on failure: a broken query fails the bench
        val dt = (System.nanoTime() - t0) / 1e9
        if (i < iters) {
          spark.sparkContext.getPersistentRDDs
            .filter { case (id, _) => !before.contains(id) }
            .values.foreach(_.unpersist(true))
          spark.catalog.clearCache()
        }
        dt
      }
      quiesce()
      name -> median(samples)
    }
    // Suite-pressure adjudication (rounds 9-11 each needed a manual
    // forensic JVM run to tell "query regressed" from "suite heap
    // pressure"): re-time the slowest in-suite queries in a FORKED
    // fresh JVM (true isolation — same classpath and JVM flags as this
    // process, SPARK_GRAFT_BENCH_ONLY subset) and ship the result as
    // an `isolated` object in the artifact, so the per-query
    // comparison is self-adjudicating. Skipped inside the child (the
    // ONLY env guard, so a forensic SPARK_GRAFT_BENCH_ONLY run also
    // stays single-JVM); a fork failure degrades to an empty object
    // rather than failing the bench — flagged by `isolated_ok`.
    //
    // The parent session is STOPPED (and its heap collected) before
    // the fork: round 12 forked while the parent still held its
    // fully-grown 90-query heap and the child's numbers came out 2-5x
    // WORSE than both in-suite and a clean JVM — the adjudicator
    // inverted its own signal. The fork is the last Spark-dependent
    // step, so stopping first costs nothing.
    // always-isolated tail: heavy queries that sit just outside the
    // dynamic top-10 on a quiet box but inside it under load — pinning
    // them keeps their regressions self-adjudicating round over round
    val isoAlways = Seq("q_weighted_median", "q_multiband_gls")
    val isoNames: Seq[String] =
      if (only.isDefined) Seq.empty
      else (results.sortBy(-_._2).take(10).map(_._1) ++
        isoAlways.filter(SparkEntry.queries.contains)).distinct
    val (isolated: Seq[(String, Double)], isolatedOk: Boolean) =
      if (isoNames.isEmpty) (Seq.empty, true)
      else {
        quiesce()
        spark.stop()
        System.gc()
        Thread.sleep(2000) // let executor/daemon threads wind down
        val iso = runIsolated(isoNames)
        (iso, iso.size == isoNames.size)
      }

    // Artifact layout: the driver retains only a bounded TAIL of
    // stdout, and the full per-query map outgrew it two rounds running
    // (BENCH_r10/r11 parsed: null — the tail window starts mid-line).
    // So the full map goes out first (and to SPARK_GRAFT_BENCH_OUT,
    // which always holds the complete artifact), and a SHORT summary
    // line — cross-round headline10 + totals + the isolated object,
    // well under any plausible tail window — is the FINAL stdout line,
    // so the retained tail always ends at a parseable boundary.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val h10 = results.filter(r => headline10.contains(r._1))
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""queries":${qjson(results)},"headline10":${qjson(h10)},""" +
        s""""headline10_total":${fmt(h10.map(_._2).sum)},"isolated":${qjson(isolated)},""" +
        s""""isolated_ok":$isolatedOk,"sf":"$sfDir","iters":$iters}"""
    // self-consistent summary: metric/value/n_queries keep the
    // SUITE-TOTAL semantics every prior parsed round's last line
    // carried (a tail parser comparing `value` across rounds must
    // never silently switch populations), and the cross-round
    // headline10 map rides under its OWN key — there is deliberately
    // no `queries` key here, so the 10-entry map can never be
    // mistaken for the full per-query map on the line above
    val summaryLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""headline10":${qjson(h10)},"headline10_total":${fmt(h10.map(_._2).sum)},""" +
        s""""isolated":${qjson(isolated)},"isolated_ok":$isolatedOk,""" +
        s""""sf":"$sfDir","iters":$iters}"""
    println(fullLine)
    println(summaryLine)
    // the FILE artifact gets ONLY the full object: the summary line
    // exists for the driver's bounded stdout tail, and committing the
    // file as BENCH_FULL_rN.json must yield one strict-parseable
    // JSON object (r18 ADVICE — the two-line file broke strict
    // parsers)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: $e")
    }
    spark.stop()
  }

  /** Fork a fresh JVM (this JVM's binary, flags, and classpath — sbt
    * forks the bench, so `java.class.path` IS the application
    * classpath) running `graft.Bench` restricted to `names`, and parse
    * its per-query medians back out of its output file. Returns empty
    * (with a stderr note) on any failure — isolation numbers are
    * diagnostic, never worth failing the artifact over. */
  private def runIsolated(names: Seq[String]): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val childOut = java.nio.file.Files.createTempFile("graft_bench_iso", ".json")
      // the child must NOT share this process's cwd spark-warehouse:
      // its store-lifecycle queries would heal/rebuild the parent
      // session's registered table locations mid-artifact (advice
      // r12). SparkConf picks spark.* system properties up, so a -D
      // is enough to point the child at its own temp warehouse.
      val childWh = java.nio.file.Files.createTempDirectory("graft_bench_iso_wh")
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq(s"-Dspark.sql.warehouse.dir=${childWh.toUri}",
          "-cp", sys.props("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", childOut.toString)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); sys.error("isolated bench timed out") }
      require(p.exitValue() == 0, s"isolated bench exit ${p.exitValue()}")
      val text = new String(java.nio.file.Files.readAllBytes(childOut), "UTF-8")
      java.nio.file.Files.deleteIfExists(childOut)
      // best-effort temp-warehouse cleanup (child wrote only here);
      // the walk stream holds a directory handle — close it
      try {
        import java.nio.file.{Files => F}
        val walk = F.walk(childWh)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => F.deleteIfExists(p))
        finally walk.close()
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] temp-warehouse cleanup left $childWh: $e")
      }
      val json = org.json4s.jackson.JsonMethods.parse(text.linesIterator.next())
      val org.json4s.JObject(fields) = (json \ "queries"): @unchecked
      val byName = fields.collect {
        case (k, org.json4s.JDouble(v)) => k -> v
        case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
        case (k, org.json4s.JInt(v)) => k -> v.toDouble
      }.toMap
      names.flatMap(n => byName.get(n).map(n -> _))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] isolated pass skipped: $e")
        Seq.empty
    }
  }
}
