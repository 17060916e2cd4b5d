package graft

/** Full `.explain("formatted")` dump for named catalog queries — the
  * companion to ExplainAudit's one-line triage when you need to read the
  * actual operators (WindowGroupLimit presence, pushed filters, reused
  * exchanges), in catalog order. Usage: `sbt "runMain graft.PlanDump
  * [--sf <dir>] [q_foo ...]"` (no names: all; default tables sf0.001).
  *
  * Call sites print without their line number (`localCheckpoint at
  * Ckpt.scala`, not `Ckpt.scala:78`), so a dump changes only when the
  * plan does, not when an edit moves a line above a checkpoint.
  */
object PlanDump {
  private val CallSiteLine = """(\bat \w+\.scala):\d+""".r

  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case "--sf" :: dir :: rest => (dir, rest)
      case rest => ("/root/testdata/sf0.001", rest)
    }
    val selected = queries.Registry.select(names)
    // The session that serves, planned on its AQE-off variant so a dump
    // is the static plan, comparable across changes (the plans/ records)
    // rather than an unexecuted AdaptiveSparkPlan. SPARK_GRAFT_CONF lets
    // plan dumps flip conf-hooked plan branches (fan-out, quantile-sketch
    // checkpoint) for before/after captures.
    val spark = SparkEngine.session()
    val planning = SparkEngine.variant(spark, "spark.sql.adaptive.enabled" -> "false")
    selected.foreach { e =>
      println(s"\n===== ${e.name} =====")
      val plan = e.build(planning, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(CallSiteLine.replaceAllIn(plan, "$1"))
    }
    spark.stop()
  }
}
