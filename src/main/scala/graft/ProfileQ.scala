package graft

/** Per-query cost breakdown for optimization triage (round 11): splits a
  * catalog query's wall time into (1) DataFrame construction — includes
  * any eager localCheckpoint jobs the builder runs, (2) analysis+
  * optimization+physical planning (forcing `executedPlan`), and
  * (3) execution via the noop sink. Also counts jobs/stages/tasks via a
  * listener, so "many tiny sequential jobs" and "giant plan" are
  * distinguishable — the two driver-side costs the bench's
  * wall−run/cores residual cannot separate.
  *
  * Usage: `sbt "runMain graft.ProfileQ [--sf <dir>] [q_foo ...]"` (no names: all).
  * Same session as Bench (the factory's one session) and the same
  * listener (CpuListener).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = args.toList match {
      case "--sf" :: dir :: rest => (dir, rest)
      case rest => ("/root/testdata/sf0.1", rest)
    }
    val selected = queries.Registry.select(names)
    val spark = SparkEngine.session()
    val listener = new CpuListener
    spark.sparkContext.addSparkListener(listener)
    def snap(): MetricSnap = {
      org.apache.spark.graftbridge.CoreBridge.flushListenerBus(spark.sparkContext)
      listener.snapshot()
    }
    // Warm pass absorbs first-use costs (codegen compiler, parquet
    // footers) so the breakdown reflects Bench's pass-2 steady state.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    selected.foreach { case queries.Registry.Entry(name, _, fn, _) =>
      (1 to passes).foreach { p =>
        val m0 = snap()
        val c0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val c1 = System.nanoTime()
        val mC = listener.snapshot() - m0 // unflushed: keeps the flush untimed
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val c2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val c3 = System.nanoTime()
        val mA = snap() - m0
        println(f"[profile] $name pass$p total=${(c3 - c0) / 1e9}%.2fs " +
          f"construct=${(c1 - c0) / 1e9}%.2fs (jobs=${mC.jobs} stages=${mC.stages}) " +
          f"plan=${(c2 - c1) / 1e9}%.2fs exec=${(c3 - c2) / 1e9}%.2fs " +
          f"jobs=${mA.jobs} stages=${mA.stages} tasks=${mA.tasks}")
        Ckpt.releaseAll(spark)
      }
    }
    spark.stop()
  }
}
