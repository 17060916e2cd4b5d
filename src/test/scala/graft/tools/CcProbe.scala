package graft.tools

import org.apache.spark.sql.functions._

/** Worst-case probe for `Dedup.resolveClusters` (not a test): a single
  * PATH graph (0-1-2-…-N) spanning every partition — component diameter
  * = edge count, the adversarial case for any propagation scheme and
  * the one the fuzz corpora never produce. Measures, at two partition
  * counts and two edge layouts (hash-scattered vs path-ordered):
  *
  *  - contraction level count (must stay ≤ maxIter, and in practice
  *    ≤ 3: partition-local union-find → one root-root forest →
  *    single-task finish);
  *  - cross-edge count per level (the "single-task finish size" the
  *    operator scaladoc bounds), logged by `Dedup` at INFO — the probe
  *    raises the `graft.operators.Dedup` logger to INFO for that;
  *  - wall time and correctness (every node must land in component 0).
  *
  * Run: sbt "Test/runMain graft.tools.CcProbe [nEdges]"
  * Results recorded in IMPLEMENTATION.md (round 8).
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = graft.SparkEngine.session("local[32]", shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.operators.Dedup", org.apache.logging.log4j.Level.INFO)
    import spark.implicits._

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cc-probe] $tag ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }

    for (parts <- Seq(8, 32); ordered <- Seq(false, true)) {
      val tag = s"n=$n parts=$parts ${if (ordered) "path-ordered" else "hash-scattered"}"
      // Path edges (i, i+1). Hash-scattered: repartition by edge hash —
      // an interior node's two edges usually land in different
      // partitions, the worst layout. Path-ordered: range layout, only
      // partition-boundary nodes cross.
      val base = spark.range(0, n, 1, parts)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val edges = if (ordered) base else base.repartition(parts, col("a_id"))
      val resolved = time(tag) {
        // maxIter = 3 turns the correctness assertion below into a
        // LEVEL-BOUND assertion: if contraction needed more than 3
        // levels, composition would truncate and components > 1.
        val r = graft.operators.Dedup.resolveClusters(
          edges.localCheckpoint(), maxIter = 3)
        val stats = r.agg(
          count(lit(1)).as("nodes"),
          max(col("keep_id")).as("max_root"),
          countDistinct(col("keep_id")).as("components")).head()
        println(s"[cc-probe] $tag nodes=${stats.getLong(0)} " +
          s"components=${stats.getLong(2)} maxRoot=${stats.getLong(1)}")
        assert(stats.getLong(2) == 1L && stats.getLong(1) == 0L,
          s"path graph must resolve to ONE component rooted at 0: $stats")
        r
      }
      resolved.unpersist()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
