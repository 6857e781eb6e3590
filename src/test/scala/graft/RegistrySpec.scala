package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object RegistryRows {
  type Query = (SparkSession, String) => DataFrame

  /** The registry split into one slice per domain spec: each spec's
    * smoke tests keep that spec's test ids. [[RegistrySpec]] checks
    * that the slices cover [[SparkEntry.queries]] exactly once. */
  val slices: Map[Class[_], Map[String, Query]] = Map(
    classOf[CoreOlapSpec] -> queries.CoreOlap.defs,
    classOf[TimeSeriesSpec] -> queries.TimeSeries.defs,
    classOf[SpatialSpec] -> queries.Spatial.defs,
    classOf[TextSpec] -> queries.Text.defs,
    classOf[DedupAnnSpec] -> (queries.Dedup.defs ++ queries.Ann.defs),
    classOf[MultimodalSpec] -> queries.Multimodal.defs,
    classOf[SketchesSpec] -> queries.Sketches.defs,
    classOf[BehaviorSpec] -> queries.Behavior.defs,
    classOf[QualitySpec] -> queries.Quality.defs,
    classOf[BpeSpec] -> queries.Bpe.defs)

  /** Queries that may legitimately return 0 rows at tiny scale factors. */
  val zeroOk: Set[String] = Set("q_anti_join")

  def testName(query: String): String = s"$query runs and returns rows at sf0.001"
}

/** The registry smoke loop: one "runs and returns rows at sf0.001"
  * test per [[SparkEntry.queries]] entry in the mixing spec's slice
  * ([[RegistryRows.slices]]). */
trait RegistryRows { this: AnyFunSuite =>
  import SparkTestSession._

  private val slice = RegistryRows.slices(getClass).keySet
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if slice(name)) {
    test(RegistryRows.testName(name)) {
      val df = fn(spark, sf)
      val n = df.count()
      if (!RegistryRows.zeroOk(name)) assert(n > 0, s"$name returned no rows")
      assert(df.columns.nonEmpty)
    }
  }
}

class RegistrySpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keySet

  test("the spec slices cover every registered query exactly once") {
    val owned = RegistryRows.slices.values.toSeq.flatMap(_.keys)
    assert(owned.size == owned.distinct.size, "a query sits in two slices")
    assert(owned.toSet == keys)
  }

  test("every slice's spec registers one rows test per query in its slice") {
    for ((cls, slice) <- RegistryRows.slices) {
      val names = cls.getDeclaredConstructor().newInstance()
        .asInstanceOf[AnyFunSuite].testNames
      val missing = slice.keys.filterNot(q => names(RegistryRows.testName(q)))
      assert(missing.isEmpty, s"${cls.getSimpleName} lacks rows tests: ${missing.toSeq.sorted}")
    }
  }

  test("SURVEY.md §2, SparkEntry.queries and SparkEntry.oracleSql keys match both ways") {
    val survey = new java.io.File("SURVEY.md")
    assert(survey.isFile, s"SURVEY.md not found from ${new java.io.File(".").getAbsolutePath}")
    val row = """\| `(q[^`]+)`""".r
    var inS2 = false
    val src = scala.io.Source.fromFile(survey, "UTF-8")
    val surveyed = try src.getLines().flatMap { line =>
      if (line.startsWith("## ")) inS2 = line.startsWith("## §2")
      if (inS2) row.findPrefixMatchOf(line).map(_.group(1)) else None
    }.toSet finally src.close()
    val oracles = SparkEntry.oracleSql.keySet
    def diff(a: Set[String], b: Set[String]) = (a -- b).toSeq.sorted
    assert(diff(surveyed, keys).isEmpty, "SURVEY.md §2 keys not registered")
    assert(diff(keys, surveyed).isEmpty, "registered queries missing from SURVEY.md §2")
    assert(diff(keys, oracles).isEmpty, "registered queries without an oracle")
    assert(diff(oracles, keys).isEmpty, "oracles without a registered query")
  }
}
