package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Regression, SortedDelays}
import Qs._

/** Reference-parity query paths (SURVEY.md §2 S1, O1-O4, A1-A2, P1-P4)
  * expressed over the harness testdata so the DuckDB oracle can check
  * them. The harness tables have no "delay" columns, so the SortedDelays
  * operator is exercised with an explicit needle — the operator logic
  * (substring discovery, shared direction, nulls-first, optional limit)
  * is identical to the reference's `delay` path.
  */
object Parity extends Batch {

  val queries: Map[String, Q] = Map(
    // S1 scan + O1 head/limit (deterministic ordering added for the hash
    // compare; plan is TakeOrderedAndProject — distributed top-k).
    "q_preview" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.select(li.columns.map {
          case c @ "l_shipdate" => tsS(col(c)).as(c)
          case c                => col(c)
        }.toSeq: _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },
    // O2+O3: substring-discovered sort columns, shared direction,
    // descending nulls-first, with limit → top-k.
    "q_sort_limit" -> { (s, dir) =>
      SortedDelays
        .run(t(s, dir, "orders"), Some(SortedDelays.Desc), Some(500), needle = "orderkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    // O2 no-limit branch (quirk (e)): whole dataset, global sort.
    "q_sort_full" -> { (s, dir) =>
      SortedDelays
        .run(t(s, dir, "events"), Some(SortedDelays.Asc), None, needle = "event_id")
        .select(col("event_id"), col("event_type"), col("value"))
    },
    // A1+A2: OLS regression as a single six-sum aggregate + closed forms.
    "q_regression" -> { (s, dir) =>
      Regression.asDataFrame(t(s, dir, "lineitem"), "l_quantity", "l_discount", exact = true)
    })

  private val regSums =
    """WITH s AS (SELECT
      |  CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_preview" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey DESC NULLS FIRST LIMIT 500""".stripMargin,
    "q_sort_full" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id ASC NULLS FIRST""".stripMargin,
    "q_regression" ->
      s"""$regSums
        |SELECT
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
        |  CASE WHEN (n * syy - sy * sy) = 0.0 THEN NULL
        |       ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |            / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
        |FROM s""".stripMargin)
}
