package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected catalog query's result → parquet, plus
  * their oracle SQL in oracle_sql.json, for the DuckDB compare (tools/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args → full catalog).
    val selected = queries.Registry.select(rest)
    // The session that serves (AQE on, GraftExtensions), so the oracle
    // gates what ships, extension rewrites included. SPARK_GRAFT_MASTER
    // overrides the master — the round-8 invariance sweep runs the FULL
    // catalog on local-cluster[2,16,…] (two real executor processes:
    // serde, netty shuffle, and the replicated-Ckpt write path that
    // single-JVM local[] can never exercise); the factory forwards the
    // app classpath to those executors.
    val spark = SparkEngine.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case queries.Registry.Entry(name, _, fn, _) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same hygiene as Bench: drop blocks pinned by this query's eager
      // localCheckpoints so a 200+-query dump doesn't accumulate
      // gigabytes of dead checkpoint storage (GC/safepoint stalls).
      Ckpt.releaseAll(spark)
    }
    // Escaped in full (JsonRows.quote): a tab or CR in authored SQL would
    // make json.load of the whole file fail and zero the correctness gate.
    val q = functions.JsonRows.quote _
    val json = selected
      .map(e => s"${q(e.name)}: ${q(e.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
