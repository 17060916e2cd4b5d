package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args → full catalog).
    val only = rest.toSet
    // The session that serves (AQE on, GraftExtensions), so the oracle
    // gates what ships, extension rewrites included. SPARK_GRAFT_MASTER
    // overrides the master — the round-8 invariance sweep runs the FULL
    // catalog on local-cluster[2,16,…] (two real executor processes:
    // serde, netty shuffle, and the replicated-Ckpt write path that
    // single-JVM local[] can never exercise); the factory forwards the
    // app classpath to those executors.
    val spark = SparkEngine.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
