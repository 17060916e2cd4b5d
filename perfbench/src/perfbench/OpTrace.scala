package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** What the traced run learned about one op. `untracedMs` is the same op
  * run again without spans; `http` is (time to response headers, total)
  * of the same request over HTTP.
  */
final case class OpTrace(op: Long, kind: String, startMs: Long, endMs: Long, wallMs: Double,
    codegenMs: Double, compiles: Long, gcPauseMs: Double, jitMs: Double, ckptBytes: Long,
    untracedMs: Double = 0, rows: Long = 0, bytes: Long = 0, http: Option[(Double, Double)] = None)

object OpTrace {

  /** Runs `body` as op `op`, with the process counters read around it. */
  def traced[T](op: Long, kind: String, probe: EngineProbe, tracer: Tracer)(body: => T): (OpTrace, T) = {
    probe.drain()
    val stored0 = probe.storedBytes
    val (cg0, cc0) = EngineProbe.codegen()
    val (gc0, jit0) = (Jvm.gcPauseMs, Jvm.jitMs)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e6
    val s1 = System.currentTimeMillis()
    val (cg1, cc1) = EngineProbe.codegen()
    val (gc1, jit1) = (Jvm.gcPauseMs, Jvm.jitMs)
    probe.drain()
    (OpTrace(op, kind, s0, s1, wall, cg1 - cg0, cc1 - cc0, gc1 - gc0, jit1 - jit0,
      probe.storedBytes - stored0), r)
  }

  /** Per-layer metrics, each a mean per traced op.
    *
    * The span layers (sources, queries, operators, jsonrows) partition
    * an op's wall time together with `unattributed_ms`; a sources job
    * that runs inside another layer's span is moved from that span to
    * sources. `plans.*` and `engine.*` are measured inside those spans
    * by the listeners and are not added to the partition.
    */
  def layerMetrics(traces: Seq[OpTrace], probe: EngineProbe, tracer: Tracer): Map[String, Map[String, Any]] = {
    require(traces.nonEmpty, "no traced op finished")
    val n = traces.length.toDouble
    def mean(f: OpTrace => Double): Double = traces.map(f).sum / n
    def eng(t: OpTrace) = probe.engine(t.op)
    def span(t: OpTrace, layer: String) = tracer.layerMs(t.op).getOrElse(layer, 0.0)
    def self(t: OpTrace, layer: String) = span(t, layer) - eng(t).nestedSourcesMs.getOrElse(layer, 0.0)
    def phase(t: OpTrace, p: String) = probe.phaseMs(t.startMs, t.endMs).getOrElse(p, 0.0)
    def http(t: OpTrace, f: ((Double, Double)) => Double) = t.http.fold(0.0)(f)
    val spanLayers = Seq("sources", "queries", "operators", "jsonrows")
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    Map(
      "sources.load_ms" -> m(mean(t => span(t, "sources") + eng(t).nestedSourcesMs.values.sum), "ms"),
      "sources.load_jobs" -> m(mean(eng(_).jobs.getOrElse("sources", 0).toDouble), "count"),
      "queries.build_ms" -> m(mean(self(_, "queries")), "ms"),
      "queries.build_jobs" -> m(mean(eng(_).jobs.getOrElse("queries", 0).toDouble), "count"),
      "queries.ckpt_bytes" -> m(mean(_.ckptBytes.toDouble), "bytes"),
      "operators.exec_ms" -> m(mean(self(_, "operators")), "ms"),
      "plans.analysis_ms" -> m(mean(phase(_, "analysis")), "ms"),
      "plans.optimization_ms" -> m(mean(phase(_, "optimization")), "ms"),
      "plans.planning_ms" -> m(mean(phase(_, "planning")), "ms"),
      "plans.codegen_ms" -> m(mean(_.codegenMs), "ms"),
      "plans.codegen_compiles" -> m(mean(_.compiles.toDouble), "count"),
      "engine.jobs" -> m(mean(eng(_).totalJobs.toDouble), "count"),
      "engine.stages" -> m(mean(eng(_).stages.toDouble), "count"),
      "engine.tasks" -> m(mean(eng(_).tasks.toDouble), "count"),
      "engine.cpu_ms" -> m(mean(eng(_).cpuMs), "ms"),
      "engine.gc_ms" -> m(mean(eng(_).gcMs), "ms"),
      "engine.sched_delay_ms" -> m(mean(eng(_).schedMs), "ms"),
      "engine.shuffle_write_bytes" -> m(mean(eng(_).shuffleWrite.toDouble), "bytes"),
      "engine.fetch_wait_ms" -> m(mean(eng(_).fetchWaitMs), "ms"),
      "engine.spill_bytes" -> m(mean(eng(_).spill.toDouble), "bytes"),
      "engine.failed_tasks" -> m(mean(eng(_).failedTasks.toDouble), "count"),
      "jsonrows.serialize_ms" -> m(mean(span(_, "jsonrows")), "ms"),
      "jsonrows.rows" -> m(mean(_.rows.toDouble), "count"),
      "jsonrows.bytes" -> m(mean(_.bytes.toDouble), "bytes"),
      "server.ttfb_ms" -> m(mean(http(_, _._1)), "ms"),
      "server.transfer_ms" -> m(mean(http(_, h => h._2 - h._1)), "ms"),
      "server.overhead_ms" -> m(mean(t => http(t, _._2 - t.untracedMs)), "ms"),
      "jvm.gc_pause_ms" -> m(mean(_.gcPauseMs), "ms"),
      "jvm.jit_ms" -> m(mean(_.jitMs), "ms"),
      "unattributed_ms" -> m(mean(t => t.wallMs - spanLayers.map(span(t, _)).sum), "ms"),
      "trace_overhead_frac" -> m(math.exp(mean(t => math.log(t.wallMs / t.untracedMs))) - 1, "frac"))
  }

  def writeSpans(path: Path, tracer: Tracer): Unit =
    Files.write(path, tracer.all.map(s => Json(Map("op" -> s.op, "layer" -> s.layer,
      "start_ns" -> s.startNs, "dur_ns" -> s.durNs))).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}
