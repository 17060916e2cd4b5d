package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
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
  *
  * This is the one checkpoint primitive: [[local]] (the eager write,
  * optionally layout-keeping), [[sized]] (the scale-adaptive level
  * rule) and [[shared]] (materialize a multiply-referenced frame). None
  * of them writes the caller's session conf, so queries may be built
  * concurrently on one session.
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

  /** Drop-in for `df.localCheckpoint()` (eager), replication-aware.
    *
    * `keepLayout` plans the checkpoint with AQE off: an AQE-planned
    * checkpoint reports UnknownPartitioning, so every downstream keyed
    * join re-shuffles the blocks (q_pagerank's edges). It is planned on
    * an AQE-off clone of the caller's session ([[SparkEngine.variant]])
    * and re-bound to the caller's session, whose conf is never written.
    * (`SQLConf.withExistingConf` does not work on Spark 4.1.2: the
    * checkpoint still planned with the session's AQE.) Without
    * `keepLayout` the checkpoint plans under the session's own setting.
    */
  def local(df: DataFrame,
      base: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      keepLayout: Boolean = false): DataFrame = {
    val s = df.sparkSession
    val planned =
      if (!keepLayout) df
      else Bridge.ofRows(SparkEngine.variant(s, "spark.sql.adaptive.enabled" -> "false"),
        Bridge.logicalPlan(df))
    val c = planned.localCheckpoint(true, level(s, base))
    if (keepLayout) Bridge.ofRows(s, Bridge.logicalPlan(c)) else c
  }

  /** Scale-adaptive level for a checkpoint whose size follows a SOURCE
    * table (round 11): the in-memory level is the fast path while the
    * frame plausibly fits, DISK_ONLY the memory-independent level above.
    * r10 measured both in-memory levels DYING at a 2 GiB heap on the ×10
    * corpus in block unroll, before any task could spill, while
    * DISK_ONLY costs serde CPU on every read (+23 % q_pagerank wall at
    * the standard heap, 10.8 → 13.3 s at ×10).
    *
    * The estimate is the source's plan-time size × `sizeFactor` —
    * derived-frame estimates above joins/aggregates are unreliable, the
    * scan estimate is not. The default ×10 is the measured
    * deserialization factor (sf0.1: 11.5 MB lineitem parquet → ~115 MB
    * of MEMORY_AND_DISK edge blocks); sites materializing a frame known
    * to be much SMALLER than the source (aggregated pair outputs) pass a
    * smaller factor so scale does not needlessly force them to disk.
    * For the graph edges the rule reproduces every r10 data point:
    * gate/24 GiB → memory, ×10/24 GiB → memory (the measured 10.8 s),
    * ×10/2 GiB → disk (the measured OOM boundary), ×100+ → disk.
    * The budget is a quarter of the executor heap: `spark.executor.memory`
    * when set, else this JVM's max heap — right in local mode, where the
    * driver IS the executor; a cluster deploy must set the executor conf
    * or this would track the wrong process.
    */
  def sized(source: DataFrame, sizeFactor: Double = 10.0): StorageLevel =
    sized(source.queryExecution.optimizedPlan.stats.sizeInBytes, sizeFactor,
      budget(source.sparkSession))

  /** A quarter of the executor heap: `spark.executor.memory` when set,
    * else this JVM's max heap.
    */
  def budget(spark: SparkSession): BigInt =
    BigInt(spark.conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(Runtime.getRuntime.maxMemory)) / 4

  /** The pure rule: memory while `sourceBytes × sizeFactor` fits the
    * budget. The `budget > 0` guard is strict, so a zero budget picks
    * DISK_ONLY even for an empty source at any factor.
    */
  def sized(sourceBytes: BigInt, sizeFactor: Double,
      budget: BigInt): StorageLevel = {
    val est = (BigDecimal(sourceBytes) * sizeFactor).toBigInt
    if (budget > 0 && est <= budget) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.DISK_ONLY
  }

  /** Materialize a MULTIPLY-REFERENCED derived frame once (round 11,
    * guide §2.4/§5), layout kept, at the [[sized]] level of its
    * `source`. Exchange reuse only dedupes identical exchange subtrees:
    * the final aggregate above a reused shuffle re-executes per
    * reference, and pushed-filter/read-schema asymmetry between
    * references (a join side's IsNotNull vs a groupBy's) makes the
    * subtrees non-identical so the whole scan duplicates — q_lift_rules
    * scanned lineitem 3× and ran its distinct 4× before this.
    *
    * Apply ONLY where a frame is referenced ≥2× and the references
    * cannot share one exchange — single-reference sites pay the
    * checkpoint write for nothing (the q_common_neighbors lesson: a
    * ckpt can also forfeit a filter pushdown that made one
    * "re-execution" nearly free; measure per site).
    *
    * `spark.graft.sharedCkpt.enabled=false` is the identity
    * pass-through (the A/B and spec hook). Values never change:
    * materialization is storage-only, and every catalog query is
    * shuffle-order-free by construction (BENCH_INVARIANCE).
    */
  def shared(source: DataFrame, df: DataFrame,
      sizeFactor: Double = 10.0): DataFrame = {
    val on = df.sparkSession.conf.getOption("spark.graft.sharedCkpt.enabled")
      .forall(_.trim.toBoolean)
    if (on) local(df, sized(source, sizeFactor), keepLayout = true) else df
  }

  /** Frees the blocks of every persistent RDD of the session's context:
    * the checkpoints of a finished query (graph edge frames, OrderStats
    * partitionings, ...), which otherwise stay until the driver GC
    * collects their handles. Only for the gate and probe mains, between
    * queries: a frame still in use cannot recompute past its truncated
    * lineage. `RDD.unpersist` would log a WARN per local checkpoint for
    * exactly that; this release does not.
    */
  def releaseAll(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (!sc.isStopped)
      sc.getPersistentRDDs.keys.foreach(
        org.apache.spark.graftbridge.CoreBridge.unpersistRDD(sc, _, blocking = false))
  }

  /** `import graft.Ckpt.CkptOps` and write `.ckpt()` where
    * `.localCheckpoint()` used to sit — same chain position, policy
    * applied.
    */
  implicit final class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(base: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        keepLayout: Boolean = false): DataFrame =
      local(df, base, keepLayout)
  }
}
