package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Semantics checks for the sixth batch (merge upsert, Z-order,
  * collocations, LM scoring, PageRank) that the row-hash oracle can't
  * express: bit-level Z-order properties, rank-mass conservation, and
  * merge-status classification on the harness tables.
  */
class Pipeline6Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("merge upsert classifies every key and keeps the latest state") {
    val rows = Pipeline6.queries("q_merge_upsert")(spark, sf).collect()
    val statuses = rows.map(_.getString(1)).toSet
    assert(statuses.subsetOf(Set("insert", "update", "carry")))
    // keys are unique — a MERGE emits each target key once
    val keys = rows.map(_.getLong(0))
    assert(keys.toSet.size === keys.length)
    // every merged value still satisfies the high-value predicate
    assert(rows.forall(_.getDouble(2) > 150))
  }

  test("z-order interleave is invertible and buckets cover the table") {
    val df = Pipeline6.queries("q_zorder")(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).forall(b => b >= 0 && b < 256))
    val total = rows.map(_.getLong(1)).sum
    val n = graft.Tables(spark, sf, "lineitem").count()
    assert(total === n)
    // z_min/z_max of each bucket stay inside the bucket's 12-bit span
    rows.foreach { r =>
      val (b, zmin, zmax) = (r.getLong(0), r.getLong(4), r.getLong(5))
      assert(zmin >> 12 === b)
      assert(zmax >> 12 === b)
      assert(zmin <= zmax)
    }
  }

  test("z-order locality: parts per bucket is far below global distinct") {
    // The point of z-ordering: each 1/256th of z-space touches a small
    // slice of BOTH key domains (data-skipping would prune on either).
    val rows = Pipeline6.queries("q_zorder")(spark, sf).collect()
    val distinctParts = graft.Tables(spark, sf, "lineitem")
      .select(col("l_partkey")).distinct().count()
    val maxPerBucket = rows.map(_.getLong(2)).max
    assert(maxPerBucket.toDouble / distinctParts < 0.35,
      s"bucket spans $maxPerBucket of $distinctParts parts — no locality")
  }

  test("collocations rank densely with support threshold enforced") {
    val rows = Pipeline6.queries("q_collocations")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    assert(rows.forall(_.getLong(3) >= 20))
  }

  test("LM surprisal ranks rare-token documents above common-token ones") {
    val rows = Pipeline6.queries("q_lm_score")(spark, sf).collect()
    assert(rows.length === 30)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 30L))
    // the top-surprisal docs should carry at least as many rare tokens
    // per token as the bottom of the list (montonic-ish sanity)
    val top = rows.take(5).map(r => r.getLong(3).toDouble / r.getLong(2)).sum
    val bot = rows.takeRight(5).map(r => r.getLong(3).toDouble / r.getLong(2)).sum
    assert(top >= bot)
  }

  test("pagerank conserves rank mass and is shuffle-deterministic") {
    val e = graft.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = e.as("a").join(e.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val nNodes = edges.select(col("src")).distinct().count()
    val top = Pipeline6.queries("q_pagerank")(spark, sf).collect()
    assert(top.length === 30)
    // rank values live in PageRank's stationary band: pr ≥ 0.15, and the
    // top-30 of a ~nNodes-mass distribution can't exceed nNodes
    assert(top.forall(_.getDouble(3) >= 0.15))
    assert(top.map(_.getDouble(3)).sum < nNodes)
    // exact determinism: a second run (fresh plan, new shuffles) must
    // reproduce every double bit-for-bit — the decimal-sum design
    val again = Pipeline6.queries("q_pagerank")(spark, sf).collect()
    assert(top.map(_.getDouble(3)).toSeq === again.map(_.getDouble(3)).toSeq)
  }

  test("graph queries restore the AQE conf after building their plans") {
    // q_pagerank / q_bfs_hops take their eager checkpoints with AQE off
    // (an adaptive plan reports UnknownPartitioning and would forget the
    // hash(src) layout). That setting must never leak into the session —
    // every later query in a bench run would silently lose AQE.
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    Pipeline6.queries("q_pagerank")(spark, sf)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === before)
    Pipeline6.queries("q_bfs_hops")(spark, sf)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === before)
    // checkpointed edges really do carry their partitioning: the rank
    // join must plan with NO exchange on the edge side (the only
    // hash(src,*) exchanges allowed are below the checkpoint, which is
    // a leaf here)
    val plan = Pipeline6.queries("q_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    val srcExchanges = "Exchange hashpartitioning\\(src#".r
      .findAllIn(plan).length
    assert(srcExchanges === 0,
      s"edge side re-shuffled $srcExchanges times — checkpoint lost its layout:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("graph queries build concurrently without writing the session's AQE conf") {
    // Two builders on one AQE-on session, each taking layout-keeping
    // checkpoints, while a third thread reads the session's AQE flag. A
    // set/restore bracket around a checkpoint shows the reader `false`
    // (and any query planned in that window loses AQE); the clone route
    // in Ckpt.local never writes the caller's conf.
    val aqe = "spark.sql.adaptive.enabled"
    val s = spark.newSession()
    assert(s.conf.get(aqe) === "true")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sawOff = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      while (!done.get()) {
        if (s.conf.get(aqe) != "true") sawOff.incrementAndGet()
        reads.incrementAndGet()
      })
    reader.setDaemon(true)
    reader.start()
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val plans =
      try {
        val builds = Seq("q_pagerank", "q_bfs_hops").map { q =>
          Future((1 to 5).map { _ =>
            Pipeline6.queries(q)(s, sf).queryExecution.executedPlan.toString
          })
        }
        builds.flatMap(Await.result(_, scala.concurrent.duration.Duration(10, "min")))
      } finally {
        pool.shutdownNow()
        done.set(true)
        reader.join()
      }
    assert(reads.get() > 0)
    assert(sawOff.get() === 0,
      s"the session's AQE flag read false ${sawOff.get()} times of ${reads.get()}")
    assert(plans.length === 10)
    plans.foreach { plan =>
      val srcExchanges = "Exchange hashpartitioning\\(src#".r.findAllIn(plan).length
      assert(srcExchanges === 0,
        s"edge side re-shuffled $srcExchanges times — checkpoint lost its layout:\n" +
          plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
  }
}
