package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write side of the data lake. The reference only egresses JSON rows over
  * HTTP (main.rs:207-255, rebuilt as [[graft.functions.JsonRows]]); a
  * 100 TB pipeline additionally needs durable, partitioned, prunable
  * output — these are the standard lake layouts.
  *
  * Scale notes:
  *  - `partitionBy` columns become directory levels (`lang=en/...`), which
  *    Catalyst turns into partition PRUNING on read — a filter on the
  *    partition column never touches non-matching files;
  *  - parquet row groups carry min/max stats, so non-partition predicates
  *    still skip pages on read;
  *  - writers inherit the caller's parallelism: one file per task per
  *    partition value. Callers repartition first when they need bounded
  *    file counts (`df.repartition(col("lang"))` → one file per value).
  */
object Sinks {

  /** Partitioned parquet — the lake-scale default. */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Header CSV (reference ingest convention, write side). */
  def writeCsv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Line-delimited JSON (one object per row — the interchange format
    * for text-pipeline corpora).
    */
  def writeJsonl(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Partitioned ORC — the other columnar lake format Spark ships a
    * vectorized reader for. Same pruning/pushdown properties as parquet
    * (stripe-level min/max stats); interoperates with Hive-era lakes.
    */
  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
