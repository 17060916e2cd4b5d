package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Ckpt, SparkEntry, Tables, TestSpark}

import org.apache.spark.storage.StorageLevel

/** Round-11 optimization internals: the size-thresholded scan fan-out
  * (Tables.fanOutSmall) and the scale-adaptive edge-checkpoint level
  * (Ckpt.sized of lineitem). Both are pure physical choices — these
  * specs pin (a) the fan-out conf hook actually flips the plan and the
  * level rule picks by budget, and (b) query values are identical on
  * both fan-out paths.
  */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val fanKey = "spark.graft.scan.fanoutMaxBytes"

  test("fanOutSmall: repartitions under the threshold, identity above/at 0") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def shape(maxBytes: String): String = {
      spark.conf.set(fanKey, maxBytes)
      try Tables.fanOutSmall(spark, docs).queryExecution.optimizedPlan.toString
      finally spark.conf.unset(fanKey)
    }
    assert(shape((1L << 30).toString).contains("Repartition"),
      "small table under the threshold must fan out")
    assert(!shape("0").contains("Repartition"),
      "fanoutMaxBytes=0 must force the pass-through production path")
    assert(!shape("1").contains("Repartition"),
      "a table above the threshold must not fan out")
  }

  test("fanOutSmall: fanned and pass-through paths value-identical") {
    // q_minhash_sig routes through Dedup.shingles, the operator-level
    // fan-out site covering the whole MinHash/shingle dedup family.
    def run(maxBytes: String) = {
      spark.conf.set(fanKey, maxBytes)
      try SparkEntry.queries("q_minhash_sig")(spark, dir).collect()
      finally spark.conf.unset(fanKey)
    }
    val fanned = run((1L << 30).toString)
    val serial = run("0")
    assert(fanned.length == serial.length && fanned.nonEmpty)
    fanned.zip(serial).foreach { case (a, b) => assert(a == b) }
  }

  test("fanOutSmall: pushdown survives the fan-out exchange") {
    spark.conf.set(fanKey, (1L << 30).toString)
    try {
      val p = Tables.fanOutSmall(spark,
          spark.read.parquet(s"$dir/documents.parquet"))
        .filter(org.apache.spark.sql.functions.col("doc_id") < 10)
        .select("doc_id")
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)"), p)
    } finally spark.conf.unset(fanKey)
  }

  test("edge checkpoint level: memory under the budget, disk above and at 0") {
    val li = Tables(spark, dir, "lineitem")
    // Default budget (quarter heap) dwarfs the sf0.001 source: memory.
    assert(Ckpt.sized(li) == StorageLevel.MEMORY_AND_DISK)
    val src = li.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(Ckpt.sized(src, 10.0, src * 10) == StorageLevel.MEMORY_AND_DISK)
    assert(Ckpt.sized(src, 10.0, 0) == StorageLevel.DISK_ONLY,
      "budget 0 must pick DISK_ONLY")
    // A budget just under the 10x source estimate must pick disk too.
    assert(Ckpt.sized(src, 10.0, src * 10 - 1) == StorageLevel.DISK_ONLY)
  }
}
