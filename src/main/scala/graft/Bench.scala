package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run the query catalog on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with total + per-query seconds.
  *
  * Measurement is `write.format("noop")` — materializes the complete
  * physical plan (a bare `count()` lets the optimizer eliminate sorts and
  * prune most of the plan, under-measuring on purpose-built queries).
  *
  * Steady-state methodology: two passes over the catalog, per-query
  * minimum reported. Pass 1 absorbs one-time JVM costs (codegen class
  * compilation, parquet footer caches, C2 warmup); pass 2 is the
  * reproducible throughput number.
  * Set SPARK_GRAFT_BENCH_PASSES=1 for a cold single-pass run.
  *
  * Outlier retry: the round-2 driver run recorded 191s for a query that
  * reproduces at 2.1s — the JVM's own safepoint log showed
  * time-to-safepoint stalls of 68s/29s and a 25s full GC, i.e. a
  * machine-level freeze spanning several minutes. Min-over-passes cannot
  * absorb a stall wider than one query×pass, because both passes of a
  * slow query sit inside the same window. So after the main passes, any
  * query whose best time exceeds SPARK_GRAFT_BENCH_RETRY_SEC (default
  * 10s) is re-run up to two more times at the END of the run — time-
  * shifted out of the stall window — and the overall minimum is
  * reported. Every reported number is still a complete end-to-end
  * execution of the query's plan.
  *
  * Executor CPU (round 8): a SparkListener accumulates per-task
  * executorCpuTime/executorRunTime, snapshotted around each run after a
  * listener-bus flush, and the JSON line carries per-query `cpu`/`run`
  * second maps (of the min-wall run). Wall time can't distinguish "plan
  * does more work" from "machine was contended"; CPU can — the codec
  * wall-ratio adjudications in BENCH_SCALE.md cite these. The same
  * snapshot also carries `spill_disk` and `shuffle_write` byte maps
  * (non-zero queries only): spill>0-but-completed is the
  * memory-pressure evidence, and shuffle bytes is the per-query
  * footprint the shuffle-minimization claims cite. `compiles` and
  * `compile_ms` (stderr line and ledger row) count the generated classes
  * the run compiled, so a ledger shows whether pass 2 ran warm.
  *
  * Noise forensics (round 6): two driver rounds running were contaminated
  * by a contended bench machine (r4 ~1.27× inflated catalog-wide; r5 tail
  * spikes to 7.5× that did not reproduce on a quiet box). So the JSON now
  * carries the evidence to adjudicate noise WITHOUT a re-run: per-query
  * `retried` (did it need the time-shifted retry path) and the machine's
  * 1-minute loadavg sampled before and after the run (a loadavg well
  * above the core count = contended machine, distrust the tail).
  */
object Bench {
  /** /proc/loadavg first field; -1 when unreadable (non-Linux). */
  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadAvg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args restrict to the named queries (local iteration; the
    // driver always calls with no args → full catalog).
    val catalog = queries.Registry.select(args.toSeq)
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // ONE listener instance across any session rebuild: its counters are
    // cumulative, so per-query deltas stay correct through a restart.
    val cpuListener = new CpuListener
    def buildSession(): SparkSession = {
      val s = SparkEngine.session()
      s.sparkContext.addSparkListener(cpuListener)
      s
    }
    var spark = buildSession()
    // An executor-thread OOM in local mode stops the whole SparkContext;
    // without a rebuild, every remaining query "fails" in 10ms with
    // "Cannot call methods on a stopped SparkContext" and one bad query
    // voids the rest of the run (observed: a 2 GiB-heap sweep lost 20
    // queries to one OOM). A memory-pressure bench needs per-query
    // failure isolation, so each run starts from a live session.
    def session(): SparkSession = {
      if (spark.sparkContext.isStopped) {
        System.err.println("[bench] SparkContext is stopped — rebuilding session")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        // The OOM-triggered stop() runs on another thread and only clears
        // the active-context registration at its END; until then
        // getOrCreate hands back the stopping context and the new
        // SparkSession's assertNotStopped throws (observed in the 2 GiB
        // sweep: the rebuild itself died mid-stop). Wait it out.
        var built: SparkSession = null
        var attempt = 0
        while (built == null) {
          attempt += 1
          try built = buildSession()
          catch {
            case e: IllegalStateException if attempt < 60 =>
              Thread.sleep(500)
              SparkSession.clearActiveSession()
              SparkSession.clearDefaultSession()
          }
        }
        spark = built
      }
      spark
    }
    // Per-query executor metrics from the run that produced the
    // reported (min) wall time — recorded so scale/noise adjudication
    // can cite CPU ∝ work instead of wall-clock on a contended box.
    val cpuOfBest = scala.collection.mutable.Map[String, MetricSnap]()
    // Classes compiled by that run and their compile ms, from Spark's
    // JVM-wide codegen counters (Bench runs one query at a time).
    val codegenOfBest = scala.collection.mutable.Map[String, (Long, Double)]()
    def codegen(): (Long, Double) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
    val timingsBest = scala.collection.mutable.Map[String, Double]()
    val retrySec = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_SEC", "10").toDouble
    // A failed pass records None, never its (fast) elapsed time: a crash
    // must not be able to improve the min-over-passes headline number.
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               tag: String): Option[Double] = {
      // A rebuild that cannot produce a live session within its retry
      // budget fails THIS query, not the whole run.
      val s = try session() catch {
        case e: Exception =>
          System.err.println(s"[bench] $name failed: session rebuild: ${e.getMessage}")
          return None
      }
      org.apache.spark.graftbridge.CoreBridge.flushListenerBus(s.sparkContext)
      val before = cpuListener.snapshot()
      val cg0 = codegen()
      val t0 = System.nanoTime()
      val ok =
        try { fn(s, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Post-run bookkeeping is best-effort: a query that stopped the
      // context mid-run can't be flushed (the next runOne rebuilds).
      if (!s.sparkContext.isStopped)
        org.apache.spark.graftbridge.CoreBridge.flushListenerBus(s.sparkContext)
      val d = cpuListener.snapshot() - before
      val cg = codegen()
      val (compiles, compileMs) = (cg._1 - cg0._1, cg._2 - cg0._2)
      if (ok && sec < timingsBest.getOrElse(name, Double.MaxValue)) {
        cpuOfBest(name) = d
        codegenOfBest(name) = (compiles, compileMs)
        timingsBest(name) = sec
      }
      System.err.println(
        f"[bench] $tag $name $sec%.2fs cpu=${d.cpuS}%.2fs run=${d.runS}%.2fs" +
          f" spill=${d.spillDisk}%d shw=${d.shufWrite}%d" +
          f" compiles=$compiles%d compile_ms=$compileMs%.1f${if (ok) "" else " FAILED"}")
      // Drop the blocks pinned by this run's eager localCheckpoints
      // (graph edge frames, OrderStats partitionings, ...) BEFORE the
      // next run. Checkpointed RDDs stay in the block manager until the
      // driver GC happens to collect their handles; across hundreds of
      // query×pass executions they accumulate gigabytes of storage,
      // squeeze execution memory, and surface as the multi-minute GC /
      // time-to-safepoint stalls both contaminated driver rounds showed.
      // Outside the timed window; the finished query's frames are dead.
      Ckpt.releaseAll(s)
      if (ok) Some(sec) else None
    }
    val timings = (1 to passes).map { pass =>
      catalog.map(e => e.name -> runOne(e.name, e.build, s"pass$pass")).toMap
    }
    val results = catalog.map { case queries.Registry.Entry(name, _, fn, _) =>
      // Time-shifted retries for stall-window victims (see scaladoc):
      // up to 2 extra runs while the best-so-far stays over threshold.
      var attempts = timings.flatMap(_(name)).toList
      var retry = 0
      while (retry < 2 && attempts.forall(_ > retrySec)) {
        retry += 1
        attempts = attempts ++ runOne(name, fn, s"retry$retry").toList
      }
      name -> (attempts.minOption, retry > 0)
    }
    val failed = results.collect { case (name, (None, _)) => name }
    val qs = results.collect { case (k, (Some(v), _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val retried = results.collect { case (name, (_, true)) => name }
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2._1).sum
    // The driver stores a truncated tail of the JSON line; a stderr
    // summary of the worst cases keeps every round's ledger inspectable
    // without a re-run.
    val slowest = results.collect { case (n, (Some(v), _)) => n -> v }
      .sortBy(-_._2).take(10)
    // Failures FIRST and unmissable: the stored tail may truncate the JSON
    // head, so the failure list and totals must survive on stderr
    // regardless of truncation.
    System.err.println(s"[bench] RESULT total=${results.size} ok=${results.size - failed.size} failed=${failed.size}")
    System.err.println(s"[bench] RESULT failed_queries=$failedJson")
    if (failed.nonEmpty)
      System.err.println(s"[bench] *** INCOMPLETE RUN: ${failed.size} queries FAILED: ${failed.mkString(", ")} ***")
    System.err.println("[bench] top-10 slowest:")
    slowest.foreach { case (n, v) => System.err.println(f"[bench]   $n $v%.2fs") }
    val loadAfter = loadAvg1m()
    System.err.println(s"[bench] loadavg before=$loadBefore after=$loadAfter retried=$retriedJson")
    // cpu/run maps carry the executor metrics of each query's reported
    // (min-wall) run. Placed LAST in the line: the driver stores a
    // truncated tail, and the established fields must survive first.
    def metricJson(sel: MetricSnap => Double): String =
      results.collect { case (k, (Some(_), _)) =>
        cpuOfBest.get(k).map(v => "\"" + k + "\":" + sel(v)).getOrElse("")
      }.filter(_.nonEmpty).mkString("{", ",", "}")
    val cpuJson = metricJson(_.cpuS)
    val runJson = metricJson(_.runS)
    // Spill/shuffle maps only list non-zero queries (most spill nothing;
    // keeping the line compact protects the driver's truncated tail).
    def bytesJson(sel: MetricSnap => Long): String =
      results.collect { case (k, (Some(_), _)) =>
        cpuOfBest.get(k).filter(v => sel(v) > 0)
          .map(v => "\"" + k + "\":" + sel(v)).getOrElse("")
      }.filter(_.nonEmpty).mkString("{", ",", "}")
    val spillJson = bytesJson(_.spillDisk)
    val shufJson = bytesJson(_.shufWrite)
    // Field order matters: the driver stores only a TRUNCATED TAIL of this
    // line, so the per-query wall-time map goes LAST with failed/complete/
    // sf right behind it — the tail then always carries the end of the
    // times map plus the verdict fields (the r7 shape). The bulky
    // cpu/run/spill/shuffle diagnostics print FIRST and are expendable;
    // their full values live in bench_history.jsonl anyway. (Round-8
    // lesson: appending them after `queries` displaced the whole times
    // map out of the 2000-char tail.)
    println(s"""{"metric":"total","value":$total,"unit":"sec","cpu":$cpuJson,"run":$runJson,"spill_disk":$spillJson,"shuffle_write":$shufJson,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"retried":$retriedJson,"queries":$qs,"failed":$failedJson,"complete":${failed.isEmpty},"sf":"$sfDir"}""")
    // Self-contained ledger (round-9 verdict item 2): the driver stores
    // only a ~2000-char TAIL of the stdout line — at 341 queries that
    // kept ~68 per-query times and made cross-round comparison
    // archaeology. So Bench itself appends every per-query row to
    // bench_history.jsonl (same row shape tools/bench_history.py
    // writes), on EVERY full-catalog run including harness-invoked
    // ones; the round-end snapshot commit then carries the full ledger.
    // Restricted runs (explicit query args) skip the append unless a
    // label is given — local iteration must not spam the ledger.
    // SPARK_GRAFT_BENCH_LABEL overrides the timestamped default;
    // SPARK_GRAFT_BENCH_LEDGER=0 disables.
    val ledgerOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEDGER", "1") == "1" &&
      (args.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_LABEL"))
    if (ledgerOn) try {
      val sfName = new java.io.File(sfDir).getName
      val stamp = new java.text.SimpleDateFormat("yyyyMMdd'T'HHmm")
        .format(new java.util.Date())
      val label = sys.env.getOrElse("SPARK_GRAFT_BENCH_LABEL",
        s"auto-$sfName-$stamp")
      val ledger = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_LEDGER_PATH", "bench_history.jsonl"))
      def opt(m: MetricSnap => Double, k: String, q: String): String =
        cpuOfBest.get(q).map(v => s""","$k":${m(v)}""").getOrElse("")
      def optB(m: MetricSnap => Long, k: String, q: String): String =
        cpuOfBest.get(q).filter(v => m(v) > 0)
          .map(v => s""","$k":${m(v)}""").getOrElse("")
      val rows = results.collect { case (q, (Some(v), _)) =>
        s"""{"label":${functions.JsonRows.quote(label)},"loadavg_after":$loadAfter,""" +
          s""""loadavg_before":$loadBefore,"query":"$q","sec":$v""" +
          opt(_.cpuS, "cpu_s", q) + opt(_.runS, "run_s", q) +
          optB(_.spillDisk, "spill_disk", q) +
          optB(_.shufWrite, "shuffle_write", q) +
          codegenOfBest.get(q).map { case (n, ms) =>
            f""","compiles":$n%d,"compile_ms":$ms%.1f""" }.getOrElse("") + "}\n"
      }.mkString
      java.nio.file.Files.writeString(ledger, rows,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      System.err.println(s"[bench] ledger: appended ${results.count(_._2._1.isDefined)} rows as '$label' to $ledger")
    } catch { case e: Exception =>
      // The ledger is diagnostics; its failure must never fail a bench.
      System.err.println(s"[bench] ledger append failed: ${e.getMessage}")
    }
    // Driver-parsable COMPACT line, printed LAST (round-10 verdict item
    // 6): the harness stores only a ~2000-char stdout tail, which the
    // full 341-query times map (~10 KB) can never fit — so BENCH_rN.json
    // kept recording "parsed": null. This closing line is a complete
    // JSON object well inside the tail window: run verdict, wall-time
    // distribution, and the slowest queries. Full per-query times live
    // in the big line above and in bench_history.jsonl.
    {
      val times = results.collect { case (q, (Some(v), _)) => (q, v) }
        .toSeq.sortBy(_._2)
      val med = if (times.isEmpty) 0.0 else times(times.size / 2)._2
      val p95 =
        if (times.isEmpty) 0.0 else times(((times.size - 1) * 95) / 100)._2
      val slowest = times.takeRight(12).reverse
        .map { case (q, v) => s"${functions.JsonRows.quote(q)}:$v" }.mkString("{", ",", "}")
      println(s"""BENCH_JSON {"metric":"total","value":$total,"unit":"sec","sf":${functions.JsonRows.quote(sfDir)},"complete":${failed.isEmpty},"n_ok":${times.size},"n_failed":${failed.size},"median_s":$med,"p95_s":$p95,"slowest":$slowest}""")
    }
    spark.stop()
  }
}
