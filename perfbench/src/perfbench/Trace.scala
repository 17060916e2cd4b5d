package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, made by the benchmark's own code. Spans
  * of one op share `op`. `durNs` may be an accumulated total when the
  * layer's calls interleave with another's (the row stream).
  */
final case class Span(op: Long, layer: String, startNs: Long, durNs: Long)

/** Spans kept in memory for the traced run, written out at the end.
  *
  * Every Spark job started inside a span carries the span's op and layer
  * as a local property, which [[EngineProbe]] reads to attribute jobs,
  * stages and tasks.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](op: Long, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tagged(op, layer)(body)
    finally record(op, layer, t0, System.nanoTime() - t0)
  }

  /** Runs `body` with its Spark jobs attributed to `op` and `layer`. */
  def tagged[T](op: Long, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.TagKey)
    sc.setLocalProperty(Tracer.TagKey, s"$op/$layer")
    try body
    finally sc.setLocalProperty(Tracer.TagKey, prev)
  }

  def record(op: Long, layer: String, startNs: Long, durNs: Long): Unit =
    synchronized { spans += Span(op, layer, startNs, durNs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total span time per layer for `op`, in ms. */
  def layerMs(op: Long): Map[String, Double] =
    all.filter(_.op == op).groupMapReduce(_.layer)(_.durNs / 1e6)(_ + _)
}

object Tracer {
  val TagKey = "perfbench.span"
}

/** Per-op engine and planner counts, gathered by listeners the benchmark
  * registers on the session. Jobs are attributed through the span tag;
  * a job with a stage created in `Tables` or `DataLake` belongs to the
  * sources layer even when it runs inside another layer's span (schema
  * discovery inside a query builder).
  */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import EngineProbe._

  private val byOp = new ConcurrentHashMap[Long, Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOwner = new ConcurrentHashMap[Int, (Long, String, String, Long)]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile private var ckptBytes = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def acc(op: Long): Acc = byOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey))).foreach { tag =>
      val Array(op, spanLayer) = tag.split("/", 2)
      // A stage is named after the call site that created it.
      val fromSource = e.stageInfos.exists(si => SourceSite.findFirstIn(si.name).isDefined)
      val layer = if (fromSource) "sources" else spanLayer
      jobOwner.put(e.jobId, (op.toLong, spanLayer, layer, e.time))
      e.stageIds.foreach(s => stageOwner.put(s, op.toLong))
      val a = acc(op.toLong)
      a.synchronized { a.jobs(layer) = a.jobs.getOrElse(layer, 0) + 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (op, spanLayer, layer, t0) =>
      // A sources job inside another layer's span: that span's self time
      // excludes it.
      if (layer != spanLayer) {
        val a = acc(op)
        a.synchronized {
          a.nestedSourcesMs(spanLayer) = a.nestedSourcesMs.getOrElse(spanLayer, 0.0) + (e.time - t0)
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { op =>
      val a = acc(op.longValue); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { op =>
      val a = acc(op.longValue)
      val m = e.taskMetrics
      val i = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (!i.successful) a.failedTasks += 1
        if (m != null) {
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          // Spark UI's scheduler delay: task wall minus what the executor
          // accounts for.
          a.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      synchronized { ckptBytes += b.memSize + b.diskSize }
  }

  /** RDD block bytes stored so far (checkpoints and caches). */
  def storedBytes: Long = synchronized(ckptBytes)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.durationMs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until every listener event so far has been handled. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def engine(op: Long): Acc = Option(byOp.get(op)).getOrElse(new Acc)

  /** Planner phase ms (analysis, optimization, planning) that started
    * inside the wall-clock window [fromMs, toMs].
    */
  def phaseMs(fromMs: Long, toMs: Long): Map[String, Double] =
    phases.asScala.toSeq.filter { case (_, t, _) => t >= fromMs && t <= toMs }
      .groupMapReduce(_._1)(_._3.toDouble)(_ + _)
}

object EngineProbe {
  private val SourceSite = """\b(Tables|DataLake)\.scala""".r

  final class Acc {
    val jobs = mutable.Map.empty[String, Int]
    /** ms of sources jobs that ran inside each other layer's span. */
    val nestedSourcesMs = mutable.Map.empty[String, Double]
    var stages, tasks, failedTasks = 0
    var cpuMs, gcMs, schedMs, fetchWaitMs = 0.0
    var shuffleWrite, spill = 0L
    def totalJobs: Int = jobs.values.sum
  }

  /** Cumulative codegen counters: (compile ms, compiles). */
  def codegen(): (Double, Long) =
    (CodeGenerator.compileTime / 1e6, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
