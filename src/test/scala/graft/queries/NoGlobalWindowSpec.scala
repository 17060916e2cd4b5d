package graft.queries

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Catalog-wide plan gate: NO query may contain an unpartitioned Window
  * (empty partitionSpec — "Moving all data to a single partition"). At
  * 100 TB an unpartitioned window is one executor sorting the table.
  * Global order statistics go through operators.OrderStats (two-phase
  * range-partitioned running aggregates / bounded TakeOrdered top-k);
  * whole-frame totals ride as broadcast 1-row aggregates. Plan-only —
  * the whole catalog costs seconds.
  */
class NoGlobalWindowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def globalWindows(p: SparkPlan): Seq[WindowExec] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
      case _ => Nil
    }
    val kids = p.children.flatMap(globalWindows) ++ (p match {
      case a: AdaptiveSparkPlanExec => globalWindows(a.inputPlan)
      case _ => Nil
    })
    here ++ kids ++ p.subqueries.flatMap(globalWindows)
  }

  test("no catalog query plans an unpartitioned window") {
    val offenders = Registry.entries.flatMap {
      case Registry.Entry(name, _, build, _) =>
        val ws = globalWindows(build(spark, sfDir).queryExecution.executedPlan)
        if (ws.isEmpty) None
        else Some(s"$name: ${ws.map(_.windowExpression.mkString(",").take(60)).mkString(" | ")}")
    }
    assert(offenders.isEmpty,
      s"${offenders.size} queries plan single-partition windows:\n" +
        offenders.mkString("\n"))
  }
}
