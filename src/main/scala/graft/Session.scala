package graft
import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains ([[Bench]], [[Verify]],
  * [[Explain]]): every tool plans and times queries under the same
  * settings, so a plan audited by Explain is the plan Bench runs. */
object Session {
  /** A local session on `cpus` cores.
    *
    * Deliberately leaves `spark.sql.warehouse.dir` unset: Bench's
    * isolated child JVM points its warehouse elsewhere through a
    * `-Dspark.sql.warehouse.dir`, which a builder setting would
    * override. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // dogfood the library's own extension point: SQL functions,
      // TopK strategy and the row_number-rewrite rule are active for
      // every query
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // local test files are ~1-10 MB; the 128 MB default split would
      // scan each table in one task. On a real cluster the inputs are
      // many-file and this setting is irrelevant; here it restores the
      // scan parallelism the cluster would naturally have.
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
