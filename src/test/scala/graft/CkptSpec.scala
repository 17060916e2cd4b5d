package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the executor-aware checkpoint policy ([[Ckpt]]) that every
  * operator `localCheckpoint` site routes through. The policy basis is
  * the MASTER URL, not the instantaneous executor registry — a
  * registry-based check races with executor registration (startup,
  * dynamic allocation, churn) and would leave checkpoints taken in the
  * race window silently unreplicated for their whole lifetime (the
  * exact single-copy loss `graft.tools.ExecutorLossProbe` measured as
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). These tests pin both the
  * single-JVM identity (the oracle gate's plans are byte-for-byte
  * unchanged) and the explicit-override escape hatch; the
  * multi-executor ×2 path itself is exercised by ExecutorLossProbe on a
  * real local-cluster.
  */
class CkptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("local[...] master keeps the base level bit-for-bit") {
    assert(spark.sparkContext.master.startsWith("local["))
    for (base <- Seq(StorageLevel.MEMORY_AND_DISK, StorageLevel.DISK_ONLY,
        StorageLevel.MEMORY_ONLY))
      assert(Ckpt.level(spark, base) eq base,
        s"single-JVM session must not rewrite $base")
  }

  test("explicit spark.graft.checkpointReplicas override wins") {
    spark.conf.set("spark.graft.checkpointReplicas", "3")
    try {
      val l = Ckpt.level(spark, StorageLevel.MEMORY_AND_DISK)
      assert(l.replication === 3)
      assert(l.useDisk && l.useMemory && !l.useOffHeap && l.deserialized,
        "override must change replication ONLY, never the base flags")
    } finally spark.conf.set("spark.graft.checkpointReplicas", "auto")
  }

  test("'auto' override behaves like no override") {
    spark.conf.set("spark.graft.checkpointReplicas", "auto")
    assert(Ckpt.level(spark, StorageLevel.MEMORY_AND_DISK) eq
      StorageLevel.MEMORY_AND_DISK)
  }

  test("ckpt() materializes and truncates lineage at the policy level") {
    import Ckpt.CkptOps
    import spark.implicits._
    val df = (1 to 100).toDF("x").ckpt()
    assert(df.count() === 100)
    // localCheckpoint replaces the plan with a scan of the materialized
    // blocks — the policy's chain position is a drop-in for the old
    // bare .localCheckpoint() call sites.
    assert(df.queryExecution.optimizedPlan.collectLeaves().exists(
      _.getClass.getSimpleName.contains("LogicalRDD")))
  }

  test("releaseAll frees every persistent RDD without the lineage WARN") {
    import Ckpt.CkptOps
    import spark.implicits._
    val sc = spark.sparkContext
    val truncated = "was locally checkpointed"
    def rddWarnings(body: => Unit): String = LogCapture.warnings("org.apache.spark.rdd")(body)
    // The WARN that RDD.unpersist logs, captured: the check below can see it.
    val before = sc.getPersistentRDDs.keySet
    (1 to 10).toDF("x").ckpt()
    val rdd = sc.getPersistentRDDs.values.filterNot(r => before(r.id)).head
    assert(rddWarnings(rdd.unpersist(blocking = true)).contains(truncated))
    (1 to 100).toDF("x").ckpt().count()
    (1 to 100).toDF("y").ckpt(StorageLevel.MEMORY_AND_DISK_SER).count()
    assert(sc.getPersistentRDDs.size >= 2)
    val warned = rddWarnings(Ckpt.releaseAll(spark))
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
    assert(!warned.contains(truncated), warned)
  }
}
