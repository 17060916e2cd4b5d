package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** The catalog for callers outside `src/main` (SURVEY.md §7): `queries`
  * is `graft.queries.Registry` by name, and each query is hash-compared
  * against DuckDB running its `oracleSql` twin on the same tables.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.entries.map(e => e.name -> e.build).toMap

  lazy val oracleSql: Map[String, String] =
    Registry.entries.map(e => e.name -> e.oracleSql).toMap
}
