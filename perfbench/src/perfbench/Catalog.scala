package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The catalog workload: a fixed list of queries built through
  * `SparkEntry.queries` on `spark` and run into [[FingerprintSink]] in
  * whole passes.
  */
final class Catalog(spark: SparkSession, sfDir: String, outDir: String) {

  /** Writes each query's output as parquet for the oracle comparison and
    * returns its fingerprint, which every timed op must reproduce.
    */
  def checkPass(): Map[String, Fingerprint] =
    Catalog.Queries.map { q =>
      val dir = s"$outDir/$q"
      build(q).write.mode("overwrite").parquet(dir)
      q -> fingerprint(spark.read.parquet(dir), s"$q-check")
        .getOrElse(sys.error(s"no fingerprint for the checked output of $q"))
    }.toMap

  def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

  private def fingerprint(df: DataFrame, id: String): Option[Fingerprint] = {
    df.write.format(classOf[FingerprintSink].getName).option("id", id).mode("append").save()
    FingerprintSink.take(id)
  }

  /** One op: build the DataFrame (eager checkpoints run here), then run
    * it into the sink.
    */
  def run(q: String, tracer: Option[Tracer], op: Long): Option[Fingerprint] = {
    def span[T](layer: String)(body: => T): T = tracer.fold(body)(_.span(op, layer)(body))
    val df = span("queries")(build(q))
    span("operators")(fingerprint(df, s"$q-$op"))
  }
}

object Catalog {
  /** Fixed-overhead parity queries (`q_preview`, `q_regression`),
    * shuffle/executor-bound queries (`q1_agg`, `q_tpch21`), and a query
    * whose DataFrame construction runs eager checkpoint jobs
    * (`q_pagerank`). Few enough that a run measures each query a dozen
    * times.
    */
  val Queries: IndexedSeq[String] = IndexedSeq(
    "q_preview", "q_regression", "q1_agg", "q_tpch21", "q_pagerank")

  def oracleSql: Map[String, String] = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}
