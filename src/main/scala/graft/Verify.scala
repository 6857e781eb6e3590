package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/parity.py`). A
  * failing query does not stop the dump, but the run exits non-zero
  * naming every failed query and its exception class. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset, for focused
    // re-verification of one oracle without the full 100+-query dump
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // JSON string escape (shared by the marker and oracle dumps below)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Subset mode leaves stale result dirs for unselected queries in
    // place, and the downstream compare walks whichever dirs exist —
    // record WHICH queries this run re-executes so fresh results are
    // distinguishable from leftovers of older code. The marker is
    // written BEFORE the query loop (it records intent) and each
    // selected query's previous result dir is removed up front: a run
    // killed mid-loop then surfaces as MISSING results for the
    // unfinished queries, never as stale dirs compared as fresh. A
    // full run removes any previous marker (everything is fresh).
    val markerPath = Paths.get(s"$outDir/_subset.json")
    Files.deleteIfExists(markerPath)
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
    only.foreach { names =>
      names.toSeq.sorted.foreach(n => rmTree(Paths.get(s"$outDir/$n")))
      Files.writeString(markerPath,
        names.toSeq.sorted.map(q).mkString("[", ",", "]"))
    }
    val failed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (!selected(name)) None
      else
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"$name (${e.getClass.getName})")
        }
    }
    // ALWAYS dump the full oracle map, even in subset mode: a focused
    // re-run into a previously-full outDir must not shrink
    // oracle_sql.json and silently exempt every other query from the
    // next DuckDB compare (the dump is cheap; the compare walks
    // whichever result dirs exist)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
