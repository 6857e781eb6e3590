package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  // a dedicated session: extensions install at session build time, so
  // getOrCreate must not silently reuse the shared test session —
  // clear the default first (the SparkContext itself is reused).
  private lazy val spark: SparkSession = {
    SparkTestSession.spark // ensure the shared context exists
    val saved = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      // spark.sql.extensions is a static conf bound to the (shared)
      // SparkContext; withExtensions applies to this session regardless
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    saved.foreach(SparkSession.setDefaultSession)
    s
  }

  test("registered SQL functions evaluate like the Column API") {
    val sf = SparkTestSession.sf
    spark.read.parquet(s"$sf/documents.parquet").limit(20)
      .createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh,
        |  size(minhash_sig(text, 3, 32)) AS k,
        |  size(winnow_fingerprints(text, 8, 4)) AS nfp
        |FROM docs_ext ORDER BY doc_id""".stripMargin).collect()
    assert(viaSql.length == 20)
    assert(viaSql.forall(_.getAs[Int]("k") == 32))
    assert(viaSql.forall(_.getAs[Int]("nfp") > 0))
    // cross-check one value against the direct kernel
    val first = viaSql.head
    val text = spark.sql("SELECT text FROM docs_ext ORDER BY doc_id").head.getString(0)
    assert(first.getAs[Long]("sh") ==
      functions.TextHashAlgos.simhash(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)))
  }

  test("areaspec SQL family matches the Spatial query twins on the point locus") {
    // the same golden-angle point locus the Spatial queries scan
    spark.read.parquet(s"${SparkTestSession.sf}/customer.parquet")
      .selectExpr("c_custkey AS k", "(c_custkey*137 % 36000)/100.0 AS ra",
        "(c_custkey*97 % 17000)/100.0 - 85.0 AS decl")
      .createOrReplaceTempView("obj_ext")
    // circle: SQL registration wires the args onto the same Column
    // tree (bit-identical predicate), and agrees with qConeSearch on
    // everything off the rounding boundary
    import org.apache.spark.sql.functions.{col, lit}
    val cone = spark.sql(
      "SELECT k FROM obj_ext WHERE areaspec_circle(ra, decl, 180.0, 20.0, 25.0)")
    val coneTwin = spark.table("obj_ext")
      .where(functions.AreaSpec.circle(col("ra"), col("decl"),
        lit(180.0), lit(20.0), lit(25.0)))
      .select("k")
    assert(cone.count() > 0 && cone.exceptAll(coneTwin).count() == 0
      && coneTwin.exceptAll(cone).count() == 0)
    // box ≡ qBoxSearch
    val box = spark.sql(
      "SELECT k FROM obj_ext WHERE areaspec_box(ra, decl, 30.0, -30.0, 90.0, 30.0)").collect()
      .map(_.getLong(0)).toSet
    val boxTwin = queries.Spatial.qBoxSearch(SparkTestSession.spark, SparkTestSession.sf)
      .collect().map(_.getLong(0)).toSet
    assert(box == boxTwin && box.nonEmpty)
    // poly over qPolySearch's vertex ring matches it
    val vargs = queries.Spatial.PolyVerts
      .map { case (x, y) => s"$x, $y" }.mkString(", ")
    val poly = spark.sql(
      s"SELECT k FROM obj_ext WHERE areaspec_poly(ra, decl, $vargs)").collect()
      .map(_.getLong(0)).toSet
    val polyTwin = queries.Spatial.qPolySearch(SparkTestSession.spark, SparkTestSession.sf)
      .collect().map(_.getLong(0)).toSet
    assert(poly == polyTwin && poly.nonEmpty)
    // ellipse ≡ qEllipseSearch (same center/axes/PA)
    val ell = spark.sql(
      "SELECT k FROM obj_ext WHERE areaspec_ellipse(ra, decl, 165.0, 31.0, 40.0, 25.0, 30.0)")
      .collect().map(_.getLong(0)).toSet
    val ellTwin = queries.Spatial.qEllipseSearch(SparkTestSession.spark, SparkTestSession.sf)
      .collect().map(_.getLong(0)).toSet
    assert(ell == ellTwin && ell.nonEmpty)
    // literal parameters + built-in expressions: the predicate stays
    // codegen'd and the plan contains no UDF/eval node
    val plan = cone.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // a clockwise vertex ring fails at analysis time with the reason —
    // the half-plane conjunction would otherwise silently match nothing
    val cw = queries.Spatial.PolyVerts.reverse
      .map { case (x, y) => s"$x, $y" }.mkString(", ")
    val err = intercept[Exception](spark.sql(
      s"SELECT k FROM obj_ext WHERE areaspec_poly(ra, decl, $cw)").collect())
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + messages(t.getCause)
    assert(messages(err).contains("CLOCKWISE"), s"got: ${messages(err)}")
  }

  test("int_vec_dot / int_vec_norm_sq work from SQL") {
    val row = spark.sql(
      "SELECT int_vec_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d, " +
        "int_vec_norm_sq(array(3L, 4L)) AS n").head
    assert(row.getLong(0) == 32L)
    assert(row.getLong(1) == 25L)
  }

  test("wrong arity raises a clear analysis-time error, not a runtime surprise") {
    for (bad <- Seq(
      "SELECT simhash64()",
      "SELECT simhash64('a', 'b')",
      "SELECT int_vec_dot(array(1L))",
      "SELECT int_vec_norm_sq()",
      "SELECT minhash_sig('a', 1)")) {
      val e = intercept[Exception](spark.sql(bad).collect())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
        s"$bad threw ${e.getClass} without an IllegalArgumentException cause: ${e.getMessage}")
    }
  }

  test("row_number()<=k window filter is rewritten onto the bounded-heap TopK operator") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    def topn(s: org.apache.spark.sql.SparkSession) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
      s.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    }
    val rewritten = topn(spark)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"TopKRewrite did not fire:\n$plan")
    // byte-identical rows vs the plain window plan in the vanilla session
    val got = rewritten.collect().map(_.toString).sorted.toSeq
    val want = topn(SparkTestSession.spark).collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // shapes the rule must NOT touch: rank() instead of row_number(),
    // and a float-typed partition key (0.0/-0.0 normalization happens
    // in a later optimizer batch our node would miss)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_quantity").desc)
    val ranked = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("rk", rank().over(w2)).filter(col("rk") <= 3)
    assert(!ranked.queryExecution.executedPlan.toString.contains("PartialTopK"))
    assert(ranked.count() > 0)
    val w3 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_quantity")).orderBy(col("l_orderkey"))
    val floatKeyed = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("rn", row_number().over(w3)).filter(col("rn") <= 1)
    assert(!floatKeyed.queryExecution.executedPlan.toString.contains("PartialTopK"),
      "rewrite must not fire on a double partition key")
  }

  test("TopKPerKey rejects k < 1 and resolves columns case-insensitively") {
    val s = SparkTestSession.spark
    import s.implicits._
    val df = Seq((1, 10.0), (1, 20.0), (2, 5.0)).toDF("grp", "score")
    intercept[IllegalArgumentException] {
      plans.TopKPerKey(df, Seq("grp"), Seq("score" -> false), 0)
    }
    // case-insensitive resolution (spark.sql.caseSensitive=false default)
    val top = plans.TopKPerKey(df, Seq("GRP"), Seq("SCORE" -> false), 1)
    assert(top.count() == 2)
  }

  test("registerTables exposes the SQL surface; a plain SQL query matches the DataFrame API") {
    val s = SparkTestSession.spark
    SparkEntry.registerTables(s, SparkTestSession.sf)
    val viaSql = s.sql(
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    import org.apache.spark.sql.functions._
    val viaDf = Tables.lineitem(s, SparkTestSession.sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag")).collect()
    assert(viaSql.map(_.toSeq).toSeq == viaDf.map(_.toSeq).toSeq)
    assert(s.catalog.tableExists("documents") && s.catalog.tableExists("events"))
    // the events view carries the engine-wide bigint-ns ts contract
    assert(s.table("events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("the Pserv catalog views compose with the areaspec SQL surface") {
    val s = spark // extension-bearing session
    SparkEntry.registerTables(s, SparkTestSession.sf)
    // the reference's cone-search idiom, verbatim
    val cone = s.sql(
      """SELECT objectId FROM object
        |WHERE areaspec_circle(ra, decl, 180.0, 20.0, 25.0)""".stripMargin)
    val twin = queries.Spatial.qConeSearch(SparkTestSession.spark, SparkTestSession.sf)
      .select("k").collect().map(_.getLong(0)).toSet
    val got = cone.collect().map(_.getLong(0)).toSet
    // qConeSearch rounds the reported distance to 6 dp before its
    // cutoff; the raw predicate may disagree only inside that 5e-7
    // boundary shell, which the 2-decimal locus never hits
    assert(got == twin && got.nonEmpty)
    // the light-curve SQL: per-object forced-source stats over the
    // ForcedSource view match the TimeSeries engine query
    val viaSql = s.sql(
      """SELECT objectId, COUNT(*) AS n, SUM(flux_c100) AS sum_c100
        |FROM forcedsource WHERE objectId IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaDf = queries.TimeSeries.qLightcurveStats(SparkTestSession.spark, SparkTestSession.sf)
      .filter("user_id IS NOT NULL")
      .selectExpr("user_id", "n", "sum_c100").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaSql.toSeq == viaDf.toSeq && viaSql.nonEmpty)
    // ccdvisit partitions forcedsource exactly: every source falls in
    // its visit's window and the per-visit counts sum to the table
    val bad = s.sql(
      """SELECT COUNT(*) AS n FROM forcedsource f JOIN ccdvisit v USING (visitId)
        |WHERE f.tmid_us < v.obs_start_us OR f.tmid_us > v.obs_end_us""".stripMargin)
      .head.getLong(0)
    assert(bad == 0)
    val total = s.sql("SELECT SUM(n_src) FROM ccdvisit").head.getLong(0)
    assert(total == s.table("forcedsource").count())
    // the reference's PER-FILTER idiom: GROUP BY objectId, filterName
    // over the view matches the q_lightcurve_band engine query
    val perFilter = s.sql(
      """SELECT objectId, filterName, COUNT(*) AS n, SUM(flux_c100) AS s
        |FROM forcedsource GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bandDf = queries.TimeSeries.qLightcurveBand(SparkTestSession.spark, SparkTestSession.sf)
      .selectExpr("user_id", "band", "n", "sum_c100").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(perFilter.toSeq == bandDf.toSeq && perFilter.nonEmpty)
  }

  test("SQL-surface parity sweep: twelve reference idioms match their DataFrame twins") {
    val s = spark // extension-bearing session (areaspec functions live there)
    val base = SparkTestSession.spark
    val sf = SparkTestSession.sf
    SparkEntry.registerTables(s, sf)
    import org.apache.spark.sql.functions._

    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    def sqlRows(q: String): Seq[Seq[Any]] = rows(s.sql(q))

    val fsrc = queries.TimeSeries.bandedSeries(base, sf)
      .selectExpr("user_id AS objectId", "event_id AS srcId", "tus",
        s"tus DIV ${queries.TimeSeries.VisitUs} AS visitId",
        "xc AS flux_c100", "band AS filterName")
    val polyArgs = queries.Spatial.PolyVerts
      .flatMap { case (x, y) => Seq(x, y) }.mkString(", ")

    // (idiom, the SQL a reference user writes, the DataFrame twin)
    val idioms: Seq[(String, String, org.apache.spark.sql.DataFrame)] = Seq(
      ("cone search",
        "SELECT objectId FROM object WHERE areaspec_circle(ra, decl, 180.0, 20.0, 25.0)",
        queries.Spatial.qConeSearch(base, sf).select("k")),
      ("box search",
        "SELECT objectId FROM object WHERE areaspec_box(ra, decl, 30.0, -30.0, 90.0, 30.0)",
        queries.Spatial.qBoxSearch(base, sf).select("k")),
      ("polygon search",
        s"SELECT objectId FROM object WHERE areaspec_poly(ra, decl, $polyArgs)",
        queries.Spatial.qPolySearch(base, sf).select("k")),
      ("ellipse search",
        "SELECT objectId FROM object WHERE areaspec_ellipse(ra, decl, 165.0, 31.0, 40.0, 25.0, 30.0)",
        queries.Spatial.qEllipseSearch(base, sf).select("k")),
      ("density map",
        """SELECT CAST(FLOOR((decl + 90.0) / 5.0) AS BIGINT) AS zone5,
          |  CAST(FLOOR(ra / 5.0) AS BIGINT) AS ra_cell, COUNT(*) AS n
          |FROM object GROUP BY 1, 2""".stripMargin,
        queries.Spatial.qSpatialDensity(base, sf)
          .select("zone5", "ra_cell", "n")),
      ("light-curve stats",
        """SELECT objectId, COUNT(*) AS n, SUM(flux_c100) AS sum_c100
          |FROM forcedsource WHERE objectId IS NOT NULL GROUP BY 1""".stripMargin,
        queries.TimeSeries.qLightcurveStats(base, sf)
          .filter("user_id IS NOT NULL")
          .selectExpr("user_id", "n", "sum_c100")),
      ("per-filter photometry",
        """SELECT objectId, filterName, COUNT(*) AS n, SUM(flux_c100) AS s
          |FROM forcedsource GROUP BY 1, 2""".stripMargin,
        queries.TimeSeries.qLightcurveBand(base, sf)
          .selectExpr("user_id", "band", "n", "sum_c100")),
      ("visit summary",
        "SELECT visitId, COUNT(*) AS n_src FROM forcedsource GROUP BY 1",
        fsrc.groupBy(col("visitId")).agg(count(lit(1)).as("n_src"))),
      ("director-index lookup",
        "SELECT srcId, flux_c100 FROM forcedsource WHERE objectId = 7",
        fsrc.filter(col("objectId") === 7).select("srcId", "flux_c100")),
      ("top-N brightest",
        """SELECT objectId, SUM(flux_c100) AS s FROM forcedsource
          |WHERE objectId IS NOT NULL
          |GROUP BY 1 ORDER BY s DESC, objectId LIMIT 10""".stripMargin,
        fsrc.filter(col("objectId").isNotNull)
          .groupBy(col("objectId")).agg(sum(col("flux_c100")).as("s"))
          .orderBy(col("s").desc, col("objectId")).limit(10)),
      ("time-window scan",
        """SELECT COUNT(*) AS n FROM forcedsource
          |WHERE tmid_us >= 3600000000 AND tmid_us < 36000000000""".stripMargin,
        fsrc.filter(col("tus") >= 3600000000L && col("tus") < 36000000000L)
          .agg(count(lit(1)).as("n"))),
      ("cone + light-curve shared scan",
        // cone centered on the low-key corner of the locus, where the
        // forced-source objectIds live
        """SELECT f.objectId, COUNT(*) AS n
          |FROM forcedsource f JOIN object o ON f.objectId = o.objectId
          |WHERE areaspec_circle(o.ra, o.decl, 10.0, -78.0, 15.0)
          |GROUP BY 1""".stripMargin,
        fsrc.join(
          queries.Spatial.points(base, sf)
            .filter(queries.Spatial.distDeg(
              col("ra"), col("decl"), lit(10.0), lit(-78.0)) < 15.0)
            .select(col("k").as("objectId")),
          Seq("objectId"))
          .groupBy(col("objectId")).agg(count(lit(1)).as("n"))))

    for ((name, q, twin) <- idioms) {
      val got = sqlRows(q)
      val want = rows(twin)
      assert(got.nonEmpty, s"$name: SQL idiom returned no rows")
      assert(got == want, s"$name: SQL surface diverged from the DataFrame twin")
    }
  }
}
