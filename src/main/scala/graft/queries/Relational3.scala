package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Classic TPC-H query shapes (Q3/Q5/Q10, adapted to the harness
  * schema's columns) — the canonical multi-join analytics benchmarks.
  *
  * Scale design: dimension tables (nation, region) broadcast explicitly;
  * fact-fact joins (lineitem⋈orders) shuffle on the join key once; every
  * revenue aggregate runs partial+final through the exact decimal route
  * (Qs.dec) so the result is order-independent and oracle-exact. The
  * top-N finishes with TakeOrderedAndProject, never a global sort.
  */
object Relational3 extends Batch {

  private def revenue = sum(
    dec(col("l_extendedprice"), 12, 2) *
      (lit(1) - dec(col("l_discount"), 4, 2))).cast("double")

  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"

  val queries: Map[String, Q] = Map(
    // TPC-H Q3: unshipped-orders revenue for one market segment.
    // customer is filtered BEFORE the join (segment selectivity ~1/5),
    // lineitem/orders carry their date predicates into the parquet scan.
    "q_tpch3" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < "1996-03-15")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > "1996-03-15")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(revenue.as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5: local-supplier revenue per nation in one region/year —
    // the 6-table join. nation/region broadcast; the c_nationkey =
    // s_nationkey "local" condition rides on the supplier join.
    "q_tpch5" -> { (s, dir) =>
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q10: customers who returned items in a quarter, by lost
    // revenue, top 20. Fact side shuffles once on orderkey, then once on
    // the customer grouping key; nation broadcasts.
    "q_tpch10" -> { (s, dir) =>
      val n = broadcast(t(s, dir, "nation"))
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-10-01" &&
          col("o_orderdate") < "1997-01-01")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenue.as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // CDC snapshot diff: per-user purchase state at two cutoffs, keyed
    // left join new←old, each key classified added/changed/unchanged
    // (removed can't occur on an append-only log — documented, not
    // synthesized). The lakehouse "what changed since the last load"
    // primitive; both snapshots are one keyed aggregation each.
    "q_cdc_diff" -> { (s, dir) =>
      val hv = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 150)
      def snap(cut: String) = hv.filter(col("ts") < cut)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 12, 2).as("total"))
      val s1 = snap("2024-01-20").as("s1")
      val s2 = snap("2024-01-27").as("s2")
      s2.join(s1, col("s1.user_id") === col("s2.user_id"), "left")
        .select(
          col("s2.user_id").as("user_id"),
          when(col("s1.user_id").isNull, "added")
            .when(col("s1.n") =!= col("s2.n"), "changed")
            .otherwise("unchanged").as("change"),
          col("s1.n").as("old_n"), col("s2.n").as("new_n"),
          col("s1.total").as("old_total"), col("s2.total").as("new_total"))
        .orderBy(col("user_id"))
    },

    // Exact rolling median over the trailing 7 events per user — the
    // robust-statistics window (rolling mean is one outlier away from
    // useless). collect_list over a ROWS frame keeps the state bounded
    // by the frame, sort_array + middle elements give the exact median;
    // identical list arithmetic on the DuckDB side.
    "q_rolling_median" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("l", sort_array(collect_list(col("value")).over(w)))
        .select(col("event_id"), col("user_id"), col("value"),
          ((element_at(col("l"), floor((size(col("l")) + 1) / 2).cast("int")) +
            element_at(col("l"), (floor(size(col("l")) / 2) + 1).cast("int"))) / 2.0)
            .as("roll_med"))
        .orderBy(col("event_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_tpch3" ->
      s"""SELECT l_orderkey, $revenueSql AS revenue,
         |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-03-15'
         |  AND l_shipdate > TIMESTAMP '1996-03-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch5" ->
      s"""SELECT n_name, $revenueSql AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch10" ->
      s"""SELECT c_custkey, c_name, $revenueSql AS revenue, c_acctbal, n_name
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-10-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_cdc_diff" ->
      """WITH hv AS (SELECT * FROM events
        |    WHERE event_type = 'purchase' AND value > 150),
        |s1 AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM hv WHERE ts < TIMESTAMP '2024-01-20' GROUP BY user_id),
        |s2 AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM hv WHERE ts < TIMESTAMP '2024-01-27' GROUP BY user_id)
        |SELECT s2.user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s1.n <> s2.n THEN 'changed' ELSE 'unchanged' END AS change,
        |  s1.n AS old_n, s2.n AS new_n,
        |  s1.total AS old_total, s2.total AS new_total
        |FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
        |ORDER BY s2.user_id""".stripMargin,
    "q_rolling_median" ->
      """WITH ev AS (SELECT event_id, user_id, value, ts FROM events
        |    WHERE value IS NOT NULL),
        |w AS (SELECT event_id, user_id, value,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
        |  FROM ev)
        |SELECT event_id, user_id, value,
        |  (l[CAST(FLOOR((len(l) + 1) / 2) AS INT)] +
        |   l[CAST(FLOOR(len(l) / 2) + 1 AS INT)]) / 2.0 AS roll_med
        |FROM w ORDER BY event_id""".stripMargin)
}
