package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: pre-shuffle once at write time so repeated
  * joins/aggregations on the bucket key run with NO exchange.
  *
  * At 100 TB the dominant cost of a fact-fact join is shuffling both
  * sides; bucketing both tables on the join key with equal bucket counts
  * makes every future join on that key zip-partition bucket files
  * directly (`SortMergeJoin` with no `Exchange` child). The write pays
  * one shuffle; every downstream query skips it. No query writes a
  * bucketed table, so this lives in the test tree beside BucketsSpec,
  * which pins the exchange-free plan.
  */
object Buckets {

  /** Write `df` as a bucketed+sorted managed table (parquet).
    *
    * Pre-shuffles so each writer task owns exactly one bucket (Spark's
    * bucket id uses the same hash): one file per bucket. With multiple
    * files per bucket the reader must re-Sort before a merge join —
    * one-file buckets make the join exchange-free AND (with the
    * SPARK-28746 opt-in, safe exactly when buckets are single-file)
    * sort-free. Bucket count is also the file-count contract: pick it
    * for the TARGET scale, e.g. 4096 buckets at 100 TB keeps ~25 GB of
    * raw fact data per bucket, splittable by parquet row groups.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite")
      .saveAsTable(table) // managed: lives under spark.sql.warehouse.dir

  /** Join two same-bucketed tables on their bucket key — plans with zero
    * shuffle when bucket counts match.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
