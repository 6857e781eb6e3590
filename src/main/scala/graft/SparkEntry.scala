package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreOlap.q01(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreOlap.defs ++ TimeSeries.defs ++ Spatial.defs ++ Text.defs ++
      Dedup.defs ++ Ann.defs ++ Multimodal.defs ++ Sketches.defs ++
      Behavior.defs ++ Quality.defs ++ Bpe.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreOlap.oracles ++ TimeSeries.oracles ++ Spatial.oracles ++
      Text.oracles ++ Dedup.oracles ++ Ann.oracles ++ Multimodal.oracles ++
      Sketches.oracles ++ Behavior.oracles ++ Quality.oracles ++ Bpe.oracles

  /** SQL surface: register every catalog table of `dir` as a temp
    * view so `spark.sql("SELECT ... FROM lineitem ...")` works — the
    * reference's users write SQL, and with `GraftExtensions` active
    * the custom functions (minhash_sig, areaspec_circle, …) resolve
    * there too. Views are lazy and every table reads with its declared
    * schema, so registration starts no Spark job.
    *
    * Every table of `Catalog.schemas` registers through [[Tables]], so
    * SQL sees the same types as the DataFrame queries (`events.ts` as
    * bigint nanoseconds). On top of the raw tables, the Pserv catalog
    * schema (Object / ForcedSource — the names the reference's SQL
    * workload queries) is registered as derived views over the same
    * deterministic mappings every spatial/light-curve query uses, so
    * e.g. `SELECT * FROM object WHERE areaspec_circle(ra, decl, 180,
    * 20, 25)` is exactly the reference's cone-search idiom. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    graft.sources.Catalog.schemas.keys.foreach { t =>
      Tables.read(spark, dir, t).createOrReplaceTempView(t)
    }
    // Pserv's Object table: THE golden-angle point locus — built
    // from queries.Spatial.points, so the SQL view and every spatial
    // query share one derivation by construction
    graft.queries.Spatial.points(spark, dir)
      .selectExpr("k AS objectId", "ra", "decl")
      .createOrReplaceTempView("object")
    // Pserv's ForcedSource table: per-object photometry series —
    // queries.TimeSeries.bandedSeries (integer micros + centi-flux +
    // the deterministic ugriz band), with the hour-bucket visit id
    // joining it to ccdvisit below. `filterName` makes the
    // reference's per-filter idiom (`GROUP BY objectId, filterName`)
    // answerable directly in SQL.
    graft.queries.TimeSeries.bandedSeries(spark, dir)
      .selectExpr("user_id AS objectId", "event_id AS srcId",
        "tus AS tmid_us", s"tus DIV ${graft.queries.TimeSeries.VisitUs} AS visitId",
        "xc AS flux_c100", "band AS filterName")
      .createOrReplaceTempView("forcedsource")
    // Pserv's CcdVisit table: one row per (hour-bucket) visit with
    // its observation window and source count — an aggregate view, so
    // SQL joins against it plan as a groupBy + equi-join on visitId
    spark.sql(
      """SELECT visitId, MIN(tmid_us) AS obs_start_us,
        |  MAX(tmid_us) AS obs_end_us, COUNT(*) AS n_src
        |FROM forcedsource GROUP BY visitId""".stripMargin)
      .createOrReplaceTempView("ccdvisit")
  }
}
