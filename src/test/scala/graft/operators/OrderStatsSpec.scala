package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class OrderStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = spark.range(0, 997)
    .select(col("id"), ((col("id") * 37) % 101).as("k"), (col("id") % 5 + 1).as("v"))

  test("running row number equals the single-partition window row_number") {
    val got = OrderStats.running(df, Seq(col("k"), col("id")), Some("rn"))
      .select(col("id"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = df.collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy(identity).zipWithIndex
      .map { case ((_, id), i) => (id, i + 1L) }.toMap
    assert(got == want)
  }

  test("running cumulative sum equals the prefix sum of the total order") {
    val got = OrderStats.running(df, Seq(col("k"), col("id")), None,
        Seq("v" -> "cum_v"))
      .select(col("id"), col("cum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    var acc = 0L
    val want = df.collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
      .map { case (_, id, v) => acc += v; (id, acc) }.toMap
    assert(got == want)
  }

  test("descending sort and multiple running sums") {
    val got = OrderStats.running(df, Seq(col("k").desc, col("id").desc),
        Some("rn"), Seq("v" -> "cv", "id" -> "cid"))
      .select(col("id"), col("rn"), col("cv"), col("cid"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    var (cv, cid) = (0L, 0L)
    val want = df.collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .sortBy(t => (-t._1, -t._2))
      .zipWithIndex.map { case ((_, id, v), i) =>
        cv += v; cid += id; (id, (i + 1L, cv, cid))
      }.toMap
    assert(got == want)
  }

  test("nulls in a running-sum column count as zero") {
    val d = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "v")
    val got = OrderStats.running(d, Seq(col("id")), Some("rn"), Seq("v" -> "cv"))
      .select(col("id"), col("cv")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> 5L, 3L -> 12L))
  }

  test("empty input yields an empty result with the extended schema") {
    val out = OrderStats.running(df.limit(0), Seq(col("id")), Some("rn"),
      Seq("v" -> "cv"))
    assert(out.columns.toSeq == Seq("id", "k", "v", "rn", "cv"))
    assert(out.count() == 0)
  }

  test("topK matches sort-limit with a correct 1-based rank") {
    val got = OrderStats.topK(df, Seq(col("k").desc, col("id")), 25, "rk")
      .select(col("rk"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val want = df.collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy(t => (-t._1, t._2)).take(25).zipWithIndex
      .map { case ((_, id), i) => (i + 1L, id) }.toSeq
    assert(got == want)
  }

  test("topK's MapPartitions prints a stable name, not a lambda identity") {
    // Plan dumps are compared byte for byte across runs; a lambda prints
    // its per-JVM class and identity hash there.
    def line() = OrderStats.topK(df, Seq(col("k").desc), 25, "rk", Seq("v" -> "cv"))
      .queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("MapPartitions")).map(_.replaceAll("#\\d+", "#")).toList
    val first = line()
    assert(first.length == 1, first)
    assert(!first.head.contains("$$Lambda") && first.head.contains("OrderStats.TopKRank(2)"),
      first.head)
    assert(line() == first)
  }

  test("row number is correct across MULTIPLE range partitions (AQE off)") {
    // With AQE on and small data, everything coalesces into ONE partition
    // and the cross-partition offset logic is never exercised — exactly
    // how a broken offset accumulation once passed this suite while
    // misranking 15k real rows. Pin the multi-partition path.
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = OrderStats.running(df, Seq(col("k"), col("id")), Some("rn"),
        Seq("v" -> "cv"))
      assert(out.rdd.getNumPartitions > 1,
        "fixture must span multiple partitions for this test to bite")
      val got = out.select(col("id"), col("rn"), col("cv"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      var acc = 0L
      val want = df.collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).zipWithIndex
        .map { case ((_, id, v), i) => acc += v; (id, (i + 1L, acc)) }.toMap
      assert(got == want)
      // and the rn-only path (no running sums) must accumulate the same
      // count offsets — a regression once skipped count accumulation
      // whenever the sums list was empty
      val rnOnly = OrderStats.running(df, Seq(col("k"), col("id")), Some("rn"))
        .select(col("id"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rnOnly == want.map { case (id, (rn, _)) => (id, rn) })
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("Ckpt.releaseAll drops every block a chained OrderStats query pinned") {
    val sc = spark.sparkContext
    // Baseline: release anything earlier tests in this shared session
    // left behind, so the counts below are this query's own.
    graft.Ckpt.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    // A chained two-call query: second running() consumes the first's
    // output, so two checkpoints materialize and stay pinned.
    val first = OrderStats.running(df, Seq(col("k"), col("id")), Some("rn"),
      Seq("v" -> "cum_v"))
    val second = OrderStats.running(
      first.select(col("id"), col("rn"), col("cum_v")),
      Seq(col("cum_v"), col("id")), Some("rn2"))
    assert(second.count() == 997)
    assert(sc.getPersistentRDDs.size == 2)
    // After egress: the release the gate mains run between queries
    // leaves nothing persistent.
    graft.Ckpt.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
  }

  test("neither path plans an unpartitioned window") {
    val plans = Seq(
      OrderStats.running(df, Seq(col("k")), Some("rn")),
      OrderStats.topK(df, Seq(col("k")), 10, "rk"))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach(p => assert(!p.contains("Window"), p))
  }
}
