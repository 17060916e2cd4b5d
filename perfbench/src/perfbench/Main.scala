package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.server.HttpShell

/** Benchmark JVM: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --lake DIR --sf DIR --work DIR --out FILE`.
  *
  * Writes one JSON result to FILE: the op counts, the metrics of the
  * requested kind (end-to-end when untraced, per layer when traced) and
  * the run's evidence. `perfbench/run.py` launches it and adds the
  * oracle check of the catalog outputs.
  */
object Main {
  val Master = "local[4]"
  val ShufflePartitions = 4
  val CsvClients = 4
  /** Unmeasured cycles per client before the window, about 9 s of
    * requests for serve-csv and 4 s for serve-stream. JIT compilation
    * still runs through the window; longer warm-ups steady serve-csv
    * further but do not fit the run budget.
    */
  val CsvWarmCycles = 6
  val StreamWarmCycles = 5
  /** Concurrent catalog callers, each on its own session of the shared
    * context, and the passes each runs after the check pass: unmeasured
    * warm-up passes, then measured ones. Fixed counts, not a time window:
    * a faster pass must not change how many warm passes a run measures.
    * Not one sequential caller: its JIT warm-up went differently from
    * JVM to JVM, and in ten alternating runs of each on one host its
    * latency and throughput spread 0.24 (interquartile range over
    * median) against 0.07 for four callers. The C2 compiler threads stay
    * busy through the window, and how much they still compile there
    * sets most of the run-to-run spread: 2 warm-up and 3 measured
    * passes spread 0.17–0.20 over eight runs, 4 and 4 0.07–0.08 over ten
    * but took up to 92 s a run, 3 and 4 spread 0.12–0.15 over ten on a
    * busier host.
    */
  val CatalogCallers = 4
  val CatalogWarmPasses = 3
  val CatalogPasses = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      lake: String, sf: String, work: String, out: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("lake"), m("sf"), m("work"), m("out"))
    // Exit explicitly either way: the shell's and Spark's non-daemon
    // threads would keep the JVM alive. Spark's shutdown hook stops the
    // session.
    try {
      val result = run(a)
      Files.write(Paths.get(a.out), Json(result).getBytes(StandardCharsets.UTF_8))
      System.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
  }

  final case class Env(spark: SparkSession, shell: Option[HttpShell], port: Int)

  /** Program set-up as a user pays it: the production session factory,
    * plus the HTTP shell for the serve workloads.
    */
  private def setUp(serveLake: Option[String]): (Env, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.SparkEngine.session(Master, ShufflePartitions)
    val shell = serveLake.map(l => new HttpShell(spark, l, 0))
    val port = shell.map(_.start()).getOrElse(0)
    (Env(spark, shell, port), (System.nanoTime() - t0) / 1e9)
  }

  def run(a: Args): Map[String, Any] = {
    val serve = a.workload.startsWith("serve-")
    require(Set("serve-csv", "serve-stream", "catalog")(a.workload), s"unknown workload ${a.workload}")
    // The JVM's one, cold set-up, as `HttpShell.main` pays it; the median
    // over runs smooths it.
    val (env, setupS) = setUp(if (serve) Some(a.lake) else None)
    val common = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "master" -> Master, "nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Jvm.maxHeapMb)
    val body =
      if (serve) runServe(a, env, setupS)
      else runCatalog(a, env, setupS)
    common ++ body ++ Map("jit_ms_total" -> Jvm.jitMs, "gc_pause_ms_total" -> Jvm.gcPauseMs)
  }

  /** Runs `steps` starting at step `op` mod their count, so that no step
    * always runs first on the op's warm caches or last.
    */
  private def inRotation(op: Long, steps: Seq[() => Unit]): Unit = {
    val k = (op % steps.length).toInt
    (steps.drop(k) ++ steps.take(k)).foreach(_())
  }

  /** `body(i)` for i in 0 until n, each on its own thread; the results
    * in order once all have ended.
    */
  private def concurrently[T](n: Int)(body: Int => T): IndexedSeq[T] = {
    val results = new java.util.concurrent.atomic.AtomicReferenceArray[Either[Throwable, T]](n)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => results.set(i, try Right(body(i)) catch { case e: Throwable => Left(e) }),
        s"perfbench-caller-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    (0 until n).map(i => results.get(i).fold(e => throw e, identity))
  }

  /** `body`, or None when it throws: a failed op, not a failed run. */
  private def attempt[T](body: => T): Option[T] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op failed: $e")
        None
    }

  // ---- end-to-end metrics -------------------------------------------------

  private def e2e(setupS: Double, samples: Seq[Sample], windowS: Double,
      cpuMs: Double, heapMb: Double): (Map[String, Map[String, Any]], Map[String, Any]) = {
    // A wrong answer still took its time: latency covers every op, and
    // only throughput is restricted to correct ones.
    val ok = samples.filter(_.ok)
    val byType = samples.groupMap(_.kind)(_.ms)
    val metrics = Map(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ok.length / windowS, "1/s"),
      "latency_p50_ms" -> (Stats.typedMedian(byType), "ms"),
      "latency_tail_ms" -> (Stats.typedTail(byType), "ms"),
      "cpu_ms_per_op" -> (cpuMs / samples.length, "ms"),
      "live_heap_peak_mb" -> (heapMb, "MB"))
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val perType = byType.map { case (k, xs) =>
      val tail = Stats.tail(xs)
      k -> Map("n" -> xs.length, "median_ms" -> Stats.median(xs),
        "tail_ms" -> tail, "beyond_tail" -> xs.count(_ > tail))
    }
    (metrics, Map("window_s" -> windowS, "per_type" -> perType))
  }

  /** Runs `body` as the measured window, which starts when `body` calls
    * its argument: process CPU, live heap, JIT and GC pause over it.
    */
  private def measured[T](body: (() => Unit) => T): (T, Double, Double, Map[String, Double]) = {
    val heap = new Jvm.LiveHeapPeak
    var (cpu0, jit0, gc0) = (0.0, 0.0, 0.0)
    val r = body(() => { cpu0 = Jvm.cpuMs; jit0 = Jvm.jitMs; gc0 = Jvm.gcPauseMs; heap.arm() })
    val (cpu, jit, gc) = (Jvm.cpuMs - cpu0, Jvm.jitMs - jit0, Jvm.gcPauseMs - gc0)
    val peak = heap.disarm()
    heap.close()
    (r, cpu, peak, Map("window_jit_ms" -> jit, "window_gc_pause_ms" -> gc))
  }

  // ---- serve workloads ----------------------------------------------------

  private def runServe(a: Args, env: Env, setupS: Double): Map[String, Any] = {
    val rows = Reference.load(Paths.get(a.lake, s"${Serve.CsvDataset}.csv"))
    val serve = new Serve(env.spark, env.port, a.lake, rows)
    val calls =
      if (a.workload == "serve-csv") Serve.csvCycles(a.seed, CsvClients) else Serve.streamCycles
    val cycles = calls.map(_.map(serve.req))
    if (!a.trace) {
      val warmCycles = if (a.workload == "serve-csv") CsvWarmCycles else StreamWarmCycles
      val (w, cpu, heap, jvm) = measured(start => serve.closedLoop(cycles, warmCycles, a.seconds, start))
      val (metrics, detail) = e2e(setupS, w.samples, w.seconds, cpu, heap)
      Map("attempted" -> w.samples.length, "failed" -> w.samples.count(!_.ok),
        "metrics" -> metrics, "detail" -> (detail ++ jvm))
    } else {
      // One request at a time, client cycles interleaved: the request over
      // HTTP, its traced replay and its untraced replay, in rotating order.
      val sequence = cycles.head.indices.flatMap(j => cycles.map(_(j)))
      val http = serve.client()
      sequence.foreach { r => serve.timedHttp(http, r); serve.replay(r.call, None, 0) }
      val probe = new EngineProbe(env.spark)
      val tracer = new Tracer(env.spark.sparkContext)
      val traces = mutable.ArrayBuffer.empty[OpTrace]
      var attempted, failed = 0
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var op = 0L
      while (System.nanoTime() < deadline) sequence.foreach { r =>
        op += 1
        var http0: Option[(Double, Double, Boolean)] = None
        var traced: (OpTrace, Option[(Array[Byte], Long)]) = null
        var untraced: Option[(Array[Byte], Long)] = None
        var untracedMs = 0.0
        inRotation(op, Seq(
          () => http0 = attempt(serve.timedHttp(http, r)),
          () => traced = OpTrace.traced(op, r.call.kind, probe, tracer)(attempt(serve.replay(r.call, Some(tracer), op))),
          () => {
            val u0 = System.nanoTime()
            untraced = attempt(serve.replay(r.call, None, 0))
            untracedMs = (System.nanoTime() - u0) / 1e6
          }))
        val (ttfb, total, httpOk) = http0.getOrElse((0.0, 0.0, false))
        val (body, n) = traced._2.getOrElse((Array.emptyByteArray, 0L))
        traces += traced._1.copy(untracedMs = untracedMs, rows = n,
          bytes = if (r.call.kind == "regression") 0 else body.length,
          http = Some((ttfb, total)))
        attempted += 3
        failed += Seq(httpOk, traced._2.exists(o => r.checkBody(o._1)),
          untraced.exists(o => r.checkBody(o._1))).count(!_)
      }
      probe.drain()
      val metrics = OpTrace.layerMetrics(traces.toSeq, probe, tracer)
      OpTrace.writeSpans(Paths.get(a.work, "spans.jsonl"), tracer)
      probe.close()
      Map("attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
        "detail" -> Map("traced_ops" -> traces.length))
    }
  }

  // ---- catalog ------------------------------------------------------------

  private def runCatalog(a: Args, env: Env, setupS: Double): Map[String, Any] = {
    val outDir = Paths.get(a.work, "catalog_out").toString
    val cat = new Catalog(env.spark, a.sf, outDir)
    val c0 = System.nanoTime()
    val expected = cat.checkPass()
    val checkPassS = (System.nanoTime() - c0) / 1e9
    val opsByQuery = mutable.Map.empty[String, (Int, Int)].withDefaultValue((0, 0))
    def count(q: String, ok: Boolean): Unit = {
      val (n, f) = opsByQuery(q)
      opsByQuery(q) = (n + 1, f + (if (ok) 0 else 1))
    }
    val check = Map("out_dir" -> outDir, "oracle_sql" -> Catalog.oracleSql)
    // Caller i runs the queries in order from the i-th, so that callers
    // overlap different queries. Op ids are unique across callers and
    // apart from the traced pass's: they name each op's result in the
    // sink.
    val callers = (0 until CatalogCallers).map(_ => new Catalog(env.spark.newSession(), a.sf, outDir))
    val ops = new java.util.concurrent.atomic.AtomicLong(1L << 32)
    def passes(i: Int, n: Int): Seq[Sample] = {
      val k = i % Catalog.Queries.length
      val order = Catalog.Queries.drop(k) ++ Catalog.Queries.take(k)
      for (_ <- 1 to n; q <- order) yield {
        val q0 = System.nanoTime()
        val ok = attempt(callers(i).run(q, None, ops.incrementAndGet())).flatten.contains(expected(q))
        Sample(q, (System.nanoTime() - q0) / 1e6, ok)
      }
    }
    // Warm-up after the check pass, unmeasured like the serve warm-up
    // cycles; `--seconds` is not used.
    val w0 = System.nanoTime()
    concurrently(CatalogCallers)(passes(_, CatalogWarmPasses))
    val warmS = (System.nanoTime() - w0) / 1e9
    if (!a.trace) {
      val (w, cpu, heap, jvm) = measured { start =>
        start()
        val t0 = System.nanoTime()
        val samples = concurrently(CatalogCallers)(passes(_, CatalogPasses)).flatten
        Window(samples, (System.nanoTime() - t0) / 1e9)
      }
      w.samples.foreach(s => count(s.kind, s.ok))
      val (metrics, detail) = e2e(setupS, w.samples, w.seconds, cpu, heap)
      Map("attempted" -> w.samples.length, "failed" -> w.samples.count(!_.ok),
        "metrics" -> metrics,
        "detail" -> (detail ++ jvm ++ Map("check_pass_s" -> checkPassS, "warm_passes_s" -> warmS)),
        "catalog_check" -> (check + ("ops" -> opsByQuery.map { case (q, (n, f)) => q -> Seq(n, f) })))
    } else {
      val probe = new EngineProbe(env.spark)
      val tracer = new Tracer(env.spark.sparkContext)
      val traces = mutable.ArrayBuffer.empty[OpTrace]
      var op = 0L
      // One pass after the warm-up, each query traced and untraced.
      Catalog.Queries.foreach { q =>
        op += 1
        var traced: (OpTrace, Option[Fingerprint]) = null
        var untraced: Option[Fingerprint] = None
        var untracedMs = 0.0
        inRotation(op, Seq(
          () => traced = OpTrace.traced(op, q, probe, tracer)(attempt(cat.run(q, Some(tracer), op)).flatten),
          () => {
            val u0 = System.nanoTime()
            untraced = attempt(cat.run(q, None, 0)).flatten
            untracedMs = (System.nanoTime() - u0) / 1e6
          }))
        traces += traced._1.copy(untracedMs = untracedMs)
        count(q, traced._2.contains(expected(q)))
        count(q, untraced.contains(expected(q)))
      }
      probe.drain()
      val metrics = OpTrace.layerMetrics(traces.toSeq, probe, tracer)
      OpTrace.writeSpans(Paths.get(a.work, "spans.jsonl"), tracer)
      probe.close()
      val ops = opsByQuery.values
      Map("attempted" -> ops.map(_._1).sum, "failed" -> ops.map(_._2).sum, "metrics" -> metrics,
        "detail" -> Map("traced_ops" -> traces.length), "catalog_check" -> (check + ("ops" -> opsByQuery.map { case (q, (n, f)) => q -> Seq(n, f) })))
    }
  }
}
