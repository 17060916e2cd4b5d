package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Cumulative task-metric snapshot: executor cpu/run seconds, the
  * memory evidence (spill + shuffle bytes), and job/stage/task counts.
  * Spill says whether a plan SURVIVES memory pressure by degrading
  * (spill > 0, completes) instead of dying (OOM) — the property a 100 TB
  * run actually needs; shuffle-write bytes is the per-query shuffle
  * footprint the "minimize shuffles" claims can cite as a number. The
  * counts tell "many tiny sequential jobs" from "one giant plan".
  */
final case class MetricSnap(
    cpuS: Double, runS: Double,
    spillMem: Long, spillDisk: Long, shufWrite: Long,
    jobs: Long, stages: Long, tasks: Long) {
  def -(o: MetricSnap): MetricSnap = MetricSnap(
    cpuS - o.cpuS, runS - o.runS, spillMem - o.spillMem,
    spillDisk - o.spillDisk, shufWrite - o.shufWrite,
    jobs - o.jobs, stages - o.stages, tasks - o.tasks)
}

/** Cumulative executor task metrics, fed by the listener bus. Wall
  * time alone cannot separate "the plan does more work" from "the
  * machine was contended" — executorCpuTime ∝ actual work, and
  * runTime−cpuTime exposes scheduling/IO wait. Callers snapshot around
  * each query run after a listener-bus flush (see
  * CoreBridge.flushListenerBus) so the delta is per-query exact. Jobs
  * count at start, stages and their tasks at stage completion.
  */
final class CpuListener extends SparkListener {
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val spillMem = new AtomicLong
  private val spillDisk = new AtomicLong
  private val shufWrite = new AtomicLong
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  /** Cumulative metrics since listener registration. */
  def snapshot(): MetricSnap = MetricSnap(
    cpuNs.get / 1e9, runMs.get / 1e3,
    spillMem.get, spillDisk.get, shufWrite.get,
    jobs.get, stages.get, tasks.get)
}
