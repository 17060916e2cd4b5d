package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.queries.Registry

/** Lists catalog queries whose physical plan contains an unpartitioned
  * Window (all rows to one partition). Plan-only; no execution.
  */
object WindowScan {
  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      val kids = p.children.flatMap(windows) ++ (p match {
        case a: AdaptiveSparkPlanExec => windows(a.inputPlan)
        case _ => Nil
      })
      here ++ kids ++ p.subqueries.flatMap(windows)
    }
    Registry.entries.foreach { case Registry.Entry(name, _, fn, _) =>
      try {
        val ws = windows(fn(spark, dir).queryExecution.executedPlan)
        if (ws.nonEmpty)
          println(s"[windowscan] $name: ${ws.size} unpartitioned window(s): " +
            ws.map(_.windowExpression.mkString(",").take(80)).mkString(" | "))
      } catch {
        case e: Throwable => println(s"[windowscan] $name ERROR ${e.getMessage}")
      }
    }
    println("[windowscan] done")
    spark.stop()
  }
}
