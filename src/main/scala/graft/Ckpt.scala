package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Executor-aware `localCheckpoint` policy.
  *
  * `localCheckpoint` TRUNCATES lineage: its blocks become the only copy
  * of the frame, and Spark's default level stores each block on exactly
  * one executor. On a multi-executor cluster a single executor loss —
  * the fault a 1000-executor run takes daily — then kills every query
  * holding such a checkpoint with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
  * (measured: `graft.tools.ExecutorLossProbe`, BENCH_INVARIANCE.md;
  * the same probe shows a ×2-replicated level surviving the identical
  * kill with an unchanged result fingerprint).
  *
  * Policy: when the session's master URL admits more than one executor
  * (anything but `local`/`local[...]`), checkpoint at the requested
  * base level with replication 2 — every block has a replica on
  * another executor, so any SINGLE loss leaves a live copy and the
  * query keeps running (a second concurrent loss can still hit both
  * replicas; that is the same residual risk HDFS replication accepts).
  * Single-JVM sessions (local[...], the oracle gate, every spec) have
  * nowhere to replicate to and keep the base level bit-for-bit — plans
  * and results are unchanged there. Override with
  * `spark.graft.checkpointReplicas` (int; `auto` = the above).
  *
  * All operator/query `localCheckpoint` sites route through here; the
  * replication is storage-only and never changes values, which the
  * executor-loss probe's fingerprint equality pins.
  */
object Ckpt extends org.apache.spark.internal.Logging {
  /** Whether the session CAN have more than one executor — decided from
    * the master URL, not the instantaneous executor registry. A
    * registry-based check races with executor registration (startup,
    * dynamic allocation, churn): a checkpoint taken while only one
    * executor happens to be registered would be silently unreplicated
    * for its whole lifetime — exactly the single-copy loss this policy
    * exists to prevent. The master URL is fixed for the context's
    * lifetime, so the policy is deterministic: any non-`local[...]`
    * master (local-cluster, spark://, yarn, k8s) replicates. Requesting
    * 2 replicas while only one executor is live is safe — the block
    * lands single-copy with a BlockManager warning and gains its
    * replica via the proactive re-replication SparkEngine pins.
    */
  private def multiExecutor(spark: SparkSession): Boolean = {
    val m = spark.sparkContext.master
    !(m == "local" || (m.startsWith("local[") && m.endsWith("]")))
  }

  private def replicas(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.checkpointReplicas") match {
      case Some(n) if n != "auto" => n.toInt
      case _ => if (multiExecutor(spark)) 2 else 1
    }

  /** `base` with the session's replication policy applied. Warns when a
    * replicated write cannot be satisfied yet (fewer live executors than
    * replicas): the block lands single-copy until re-replication, so a
    * loss in that window is still fatal — visible, not silent.
    */
  def level(spark: SparkSession,
      base: StorageLevel = StorageLevel.MEMORY_AND_DISK): StorageLevel = {
    val r = replicas(spark)
    // getExecutorInfos includes the driver, so `<= r` means fewer than
    // `r` real executors are registered right now.
    if (r > 1 && spark.sparkContext.statusTracker.getExecutorInfos.length <= r)
      logWarning(s"[ckpt] replication $r requested with " +
        "fewer live executors — blocks start single-copy until peers register")
    if (r == base.replication) base
    else StorageLevel(base.useDisk, base.useMemory, base.useOffHeap,
      base.deserialized, r)
  }

  /** Drop-in for `df.localCheckpoint()` (eager), replication-aware. */
  def local(df: DataFrame,
      base: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(true, level(df.sparkSession, base))

  /** `import graft.Ckpt.CkptOps` and write `.ckpt()` where
    * `.localCheckpoint()` used to sit — same chain position, policy
    * applied.
    */
  implicit final class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(base: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      local(df, base)
  }
}
