package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Ckpt, SparkEntry, Tables, TestSpark}

import org.apache.spark.storage.StorageLevel

/** Round-11 optimization internals: the shared-frame materialization
  * (Ckpt.shared) behind the measured multiply-referenced-subtree
  * winners (q_dedup_containment, q_dedup_ngram_jaccard,
  * q_dedup_threshold_curve, q_freq_triples, q_heaps_law,
  * q_vocab_coverage). Storage-only physical choice — these specs pin
  * (a) the kill-switch actually flips the plan, (b) the adaptive level
  * rule, and (c) query values identical on both paths.
  */
class SharedCkptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val onKey = "spark.graft.sharedCkpt.enabled"

  private def bytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("Ckpt.shared: checkpoint leaf when on, identity when disabled") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val derived = docs.select("doc_id").distinct()
    // Default (enabled): the frame becomes a checkpointed RDD leaf.
    val on = Ckpt.shared(docs, derived)
      .queryExecution.executedPlan.toString
    assert(on.contains("Scan ExistingRDD"), on)
    // Kill switch: identity — the original plan, no RDD leaf.
    spark.conf.set(onKey, "false")
    try {
      val off = Ckpt.shared(docs, derived)
        .queryExecution.executedPlan.toString
      assert(!off.contains("Scan ExistingRDD"), off)
      assert(off.contains("Scan parquet"), off)
    } finally spark.conf.unset(onKey)
  }

  test("Ckpt.sized: memory under the budget, disk above/at 0") {
    val docs = Tables(spark, dir, "documents")
    // Default budget (quarter heap) dwarfs the sf0.001 source: memory.
    assert(Ckpt.sized(docs) == StorageLevel.MEMORY_AND_DISK)
    val est = bytes(docs) * 10
    assert(Ckpt.sized(bytes(docs), 10.0, est) == StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.sized(bytes(docs), 10.0, 0) == StorageLevel.DISK_ONLY,
      "budget 0 must pick DISK_ONLY")
    // A budget just under the 10x source estimate must pick disk too.
    assert(Ckpt.sized(bytes(docs), 10.0, est - 1) == StorageLevel.DISK_ONLY)
  }

  test("materialized and pass-through paths value-identical") {
    // One operator-level site (containmentPairs' shingle frame) and one
    // query-level site (q_freq_triples' distinct item sets).
    for (q <- Seq("q_dedup_containment", "q_freq_triples")) {
      def run(on: String) = {
        spark.conf.set(onKey, on)
        try SparkEntry.queries(q)(spark, dir).collect()
        finally spark.conf.unset(onKey)
      }
      val ckpt = run("true")
      val plain = run("false")
      assert(ckpt.length == plain.length && ckpt.nonEmpty, q)
      ckpt.zip(plain).foreach { case (a, b) => assert(a == b, q) }
    }
  }

  test("round-12 sites value-identical on both paths (ANN + audit wave)") {
    // Round-12 materializations: the ANN quantized/sub-vector frames
    // (Similarity.quantized, pqSubvectors call sites) and the
    // audit-driven tiny shared frames (markov transition matrix,
    // entropy type-pairs, active-users distinct pairs, bpe word table,
    // topk-turnover top lists, approx-sketches hash stream).
    for (q <- Seq("q_embed_pq", "q_embed_ivfpq_res", "q_markov_stationary",
        "q_topk_turnover")) {
      def run(on: String) = {
        spark.conf.set(onKey, on)
        try SparkEntry.queries(q)(spark, dir).collect()
        finally spark.conf.unset(onKey)
      }
      val ckpt = run("true")
      val plain = run("false")
      assert(ckpt.length == plain.length && ckpt.nonEmpty, q)
      ckpt.zip(plain).foreach { case (a, b) => assert(a == b, q) }
    }
  }

  test("sizeFactor hint scales the level estimate (round-11 advice)") {
    val src = bytes(Tables(spark, dir, "documents"))
    // Budget just under the default x10 estimate: disk at the default
    // factor, but a site declaring its frame much smaller than the
    // source (sizeFactor 0.1) stays on the memory level.
    val budget = src * 10 - 1
    assert(Ckpt.sized(src, 10.0, budget) == StorageLevel.DISK_ONLY)
    assert(Ckpt.sized(src, 0.1, budget) == StorageLevel.MEMORY_AND_DISK)
    // Strict zero guard: budget 0 picks DISK_ONLY at ANY factor, even
    // one that rounds the estimate to 0 (round-11 advice).
    for (f <- Seq(0.0, 0.1, 10.0))
      assert(Ckpt.sized(src, f, 0) == StorageLevel.DISK_ONLY, s"factor $f")
    assert(Ckpt.sized(0, 10.0, 0) == StorageLevel.DISK_ONLY, "empty source")
  }

  test("q_tpch21 plans one lineitem scan and a per-order window (round 12)") {
    // The per-order totals ride a window over the per-supplier
    // aggregate instead of a groupBy + self-join: exactly one lineitem
    // scan (plus the broadcast supplier side) and a Window node.
    val plan = SparkEntry.queries("q_tpch21")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    val lineitemScans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(lineitemScans == 1, s"expected 1 lineitem scan, got $lineitemScans\n$plan")
  }
}
