package graft

/** Full `.explain("formatted")` dump for named catalog queries — the
  * companion to ExplainAudit's one-line triage when you need to read the
  * actual operators (WindowGroupLimit presence, pushed filters, reused
  * exchanges). Usage: `sbt "runMain graft.PlanDump q_foo [q_bar ...]"`;
  * optional first arg `--sf <dir>` overrides the default sf0.001 tables.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case "--sf" :: dir :: rest => (dir, rest)
      case rest => ("/root/testdata/sf0.001", rest)
    }
    // The session that serves, planned on its AQE-off variant so a dump
    // is the static plan, comparable across changes (the plans/ records)
    // rather than an unexecuted AdaptiveSparkPlan. SPARK_GRAFT_CONF lets
    // plan dumps flip conf-hooked plan branches (fan-out, quantile-sketch
    // checkpoint) for before/after captures.
    val spark = SparkEngine.session()
    val planning = SparkEngine.variant(spark, "spark.sql.adaptive.enabled" -> "false")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(planning, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
