package graft.queries

import org.apache.spark.sql.functions._

import Qs._

/** Forty-second batch: small demand-mix diagnostics — the exact PMF of
  * basket sizes, customer repeat rates per segment, and revenue lift by
  * discount band. All single-scan keyed aggregates; nothing downstream
  * exceeds the band/segment/size cardinality.
  */
object Pipeline42 extends Batch {

  val queries: Map[String, Q] = Map(
    // Exact basket-size PMF: the empirical distribution the NBD fit
    // (q_basket_nbd) is matched against.
    "q_basket_pmf" -> { (s, dir) =>
      val k = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("k"))
      val n = k.agg(count(lit(1)).cast("long").as("n_orders"))
      k.groupBy(col("k")).agg(count(lit(1)).cast("long").as("n"))
        .crossJoin(broadcast(n))
        .withColumn("share", col("n").cast("double") /
          col("n_orders").cast("double"))
        .select(col("k"), col("n"), col("share"))
        .orderBy(col("k"))
    },

    // Repeat purchase rate per market segment: share of customers with
    // two or more orders — the loyalty headline number.
    "q_repeat_rate" -> { (s, dir) =>
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"))
      per.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).cast("long")
            .as("n_repeat"),
          sum(col("n_orders")).cast("long").as("n_orders"))
        .withColumn("repeat_rate", col("n_repeat").cast("double") /
          col("n_customers").cast("double"))
        .select(col("c_mktsegment"), col("n_customers"), col("n_repeat"),
          col("n_orders"), col("repeat_rate"))
        .orderBy(col("c_mktsegment"))
    },

    // Revenue per line by discount band (exact percent bands): does a
    // deeper discount move bigger lines?
    "q_discount_lift" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("disc_pct"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("disc_pct"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("cents")).cast("long").as("revenue_cents"),
          sum(col("qty")).cast("long").as("total_qty"))
        .withColumn("avg_line_cents", col("revenue_cents").cast("double") /
          col("n_lines").cast("double"))
        .withColumn("avg_qty", col("total_qty").cast("double") /
          col("n_lines").cast("double"))
        .select(col("disc_pct"), col("n_lines"), col("revenue_cents"),
          col("avg_line_cents"), col("avg_qty"))
        .orderBy(col("disc_pct"))
    })

  val oracle: Map[String, String] = Map(
    "q_basket_pmf" ->
      """WITH k AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM lineitem GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM k)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(n_orders AS DOUBLE) AS share
        |FROM k, n GROUP BY k, n_orders ORDER BY k""".stripMargin,
    "q_repeat_rate" ->
      """WITH per AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN per.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeat,
        |  CAST(SUM(per.n_orders) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN per.n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS repeat_rate
        |FROM per JOIN customer ON c_custkey = per.o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_discount_lift" ->
      """SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_line_cents,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY disc_pct""".stripMargin)
}
