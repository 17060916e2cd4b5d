package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` APIs (Spark 4 removed the public
  * `Column(expr)` constructor and `.expr`/`Dataset.ofRows` accessors in
  * favor of ColumnNode). Standard extension-library escape hatch: a tiny
  * shim compiled inside the org.apache.spark.sql namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a raw logical plan (custom operators). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A copy of `spark`'s session state with `conf` set on the copy only:
    * plans built on it see the overrides, the caller's session never
    * does. Shares the caller's SparkContext, cache and external catalog;
    * temp views and registered functions are copied.
    */
  def cloneSession(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Key of the static conf that sizes Spark's generated-code cache
    * (`ConfigEntry` is `private[spark]`).
    */
  val CodegenCacheMaxEntries: String =
    org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan
}
