package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Catalog-wide analysis gate: every declared query must at least pass
  * Catalyst analysis against the real sf0.001 tables. Plan-only — no
  * execution — so the whole catalog costs seconds, and a broken query
  * surfaces by name at commit time instead of as a buried budget failure.
  * (The round-4 TIMESTAMP_NTZ loader regression would have been caught
  * here: 9 queries failed analysis, not execution.)
  */
class AnalyzeAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every SparkEntry.queries entry analyzes on sf0.001") {
    val failures = Registry.entries.flatMap {
      case Registry.Entry(name, _, build, _) =>
        try {
          build(spark, sfDir).queryExecution.analyzed
          None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" "))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail analysis:\n" + failures.mkString("\n"))
  }
}
