package graft
import org.apache.spark.sql.execution.ExplainMode

/** Plan audit: dump formatted plans of the named registry queries
  * (default: [[Bench.headline10]]) for pushdown, pruning, join
  * strategies and codegen spans, under the same session settings
  * [[Bench]] times them with:
  * `sbt "runMain graft.Explain q_a q_b"` against `SPARK_GRAFT_SF_DIR`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline10
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // SPARK_GRAFT_EXPLAIN_EXECUTE=1: materialize first, then print the
    // FINAL adaptive plan (AQE join selection, stage/exchange reuse,
    // skew splits are only visible post-execution).
    val execute = sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTE").contains("1")
    for (n <- names) {
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // drive df's OWN QueryExecution (a noop write would execute a
      // separate one and leave this plan initial), without collecting
      // any rows to the driver
      if (execute) df.queryExecution.toRdd.foreachPartition(_ => ())
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
