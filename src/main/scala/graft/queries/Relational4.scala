package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Qs._

/** The rest of the TPC-H suite (Q3/Q5/Q10 live in [[Relational3]]; Q1 is
  * `q1_agg`). The harness star schema has no `partsupp` table and no
  * commit/receipt/shipmode columns, so the queries that depend on them
  * (Q2, Q9, Q11, Q12, Q16, Q20, Q21, Q22) are adapted: same plan shape —
  * the correlated subquery, the OR-of-ANDs pushdown, the double-EXISTS —
  * on the columns that exist. Q11's partsupp "stock value" becomes
  * lineitem extendedprice × quantity, keeping its defining scalar-
  * subquery fraction threshold.
  *
  * Scale design notes (the suite is the canonical 100 TB join benchmark):
  *  - part/supplier/nation are broadcast everywhere they appear — they
  *    are the small side at every scale factor (part is 0.2% of
  *    lineitem's row count).
  *  - every aggregate routes through exact decimals (Qs.dsum) so results
  *    are order-independent → oracle-exact under any partitioning.
  *  - date/brand/size predicates sit directly on the scan so they push
  *    into parquet (PushedFilters), and only needed columns are selected
  *    before each join (ReadSchema stays narrow).
  *  - group-by-then-having (Q18) and two-level aggregations (Q13, Q21)
  *    are partial+final; no driver-side loops anywhere.
  */
object Relational4 extends Batch {

  private def prod = dec(col("l_extendedprice"), 12, 2) *
    (lit(1) - dec(col("l_discount"), 4, 2))

  private def revenue = sum(prod).cast("double")

  private val prodSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
  private val revenueSql = s"CAST(SUM($prodSql) AS DOUBLE)"

  val queries: Map[String, Q] = Map(
    // Q2 (adapted — no partsupp): cheapest supplier per part. Unit cost
    // comes from lineitem (extendedprice/quantity); suppliers restricted
    // to one region. The classic correlated-min subquery becomes a
    // min-per-part aggregate joined back on equality — one shuffle on
    // partkey, dims broadcast.
    "q_tpch2" -> { (s, dir) =>
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE"))
      val sup = broadcast(
        t(s, dir, "supplier")
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name")))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
        .select(col("p_partkey"), col("p_name")))
      val cost = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"))
        .agg(min(col("unit_cost")).as("cost"))
      // Per-part minimum as a window over the aggregate (keyed by the
      // same p_partkey the aggregate shuffled on) — one lineitem scan,
      // no self-join re-read of the fact table.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
      cost.withColumn("best_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("best_cost"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"), col("cost"))
        .orderBy(col("p_partkey"), col("s_name"))
    },

    // Q4: priority check — orders in a quarter with at least one returned
    // line. LEFT SEMI join: lineitem never multiplies order rows.
    "q_tpch4" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-07-01" && col("o_orderdate") < "1996-10-01")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // Q6: forecasting revenue change — the pure-scan aggregate. All three
    // predicates push into the parquet reader; the plan is scan → partial
    // agg → final agg, zero shuffles of data rows.
    "q_tpch6" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice"), 12, 2) * dec(col("l_discount"), 4, 2))
          .cast("double").as("revenue"))
    },

    // Q7: volume shipping between two nations, by direction and year.
    // nation broadcasts twice (supplier side, customer side); the
    // symmetric pair filter rides on the joined row.
    "q_tpch7" -> { (s, dir) =>
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenue.as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // Q8: national market share — NATION_5's slice of ECONOMY-part
    // revenue sold into EUROPE, by order year. Numerator and denominator
    // are both exact decimal sums; the division happens once, on doubles,
    // identically in both engines.
    "q_tpch8" -> { (s, dir) =>
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE"))
      val nCust = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nc_key"), col("n_regionkey")))
      val nSupp = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation")))
      val p = broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey")))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(nCust, col("c_nationkey") === col("nc_key"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nSupp, col("s_nationkey") === col("ns_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_5", prod)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(prod).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    // Q9 (adapted — no partsupp.ps_supplycost): product-line profit by
    // supplier nation and year, with unit cost proxied as 80% of
    // p_retailprice. Every term stays in exact decimals until the final
    // cast; part/supplier/nation broadcast.
    "q_tpch9" -> { (s, dir) =>
      val n = broadcast(t(s, dir, "nation"))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")))
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_name").contains("bolt"))
        .select(col("p_partkey"), col("p_retailprice")))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val amount = prod -
        dec(col("p_retailprice"), 12, 2) * lit(0.8).cast(DecimalType(2, 1)) *
          dec(col("l_quantity"), 12, 2)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // Q12 (adapted — no l_shipmode/commitdate): returned lines by line
    // status, split into high/low order priority. One fact-fact join,
    // conditional aggregation.
    // Q11 (adapted — no partsupp): important stock per part. "Stock
    // value" is lineitem extendedprice × quantity restricted to one
    // nation's suppliers; parts whose value exceeds a fixed fraction of
    // the nation total survive. The classic scalar-subquery threshold is
    // a broadcast 1-row aggregate; supplier/nation broadcast, one
    // shuffle on partkey, values exact decimals until the final cast.
    "q_tpch11" -> { (s, dir) =>
      val sup = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val vals = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (dec(col("l_extendedprice"), 12, 2) * dec(col("l_quantity"), 12, 2)).as("v"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("v")).as("vd"))
      val tot = vals.agg(sum(col("vd")).cast("double").as("total"))
      vals.crossJoin(broadcast(tot))
        .withColumn("value", col("vd").cast("double"))
        .filter(col("value") > col("total") * lit(0.0001))
        .select(col("l_partkey").as("ps_partkey"), col("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },

    "q_tpch12" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .cast("long").as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0).otherwise(1))
            .cast("long").as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },

    // Q13: customer order-count distribution. LEFT OUTER join so
    // zero-order customers land in the c_count=0 bucket; two-level
    // aggregation, both partial+final.
    "q_tpch13" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // Q14: promotion effect — share of revenue from PROMO parts in a
    // month. Both operands of the division are exact decimal sums.
    "q_tpch14" -> { (s, dir) =>
      val p = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type")))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-03-01" && col("l_shipdate") < "1997-04-01")
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", prod)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(prod).cast("double")).as("promo_revenue"))
    },

    // Q15: top supplier — quarterly revenue per supplier, keep the
    // max-revenue row(s). The 1-row max aggregate broadcasts back onto
    // the per-supplier revenue (scalar-subquery shape, no driver collect).
    "q_tpch15" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1997-04-01")
        .groupBy(col("l_suppkey"))
        .agg(revenue.as("total_revenue"))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")))
      val best = rev.agg(max(col("total_revenue")).as("best_rev"))
      rev.join(broadcast(best), col("total_revenue") === col("best_rev"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // Q16 (adapted — supplier relationships via lineitem, not partsupp):
    // distinct suppliers per surviving (brand, type, size) combo. The
    // distinct is the shuffle; part broadcasts.
    "q_tpch16" -> { (s, dir) =>
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // Q17: small-quantity-order revenue — lines under 20% of their
    // part's average quantity, for one brand. The per-part average is a
    // broadcast join back (correlated-subquery shape); the threshold
    // arithmetic is identical IEEE ops in both engines.
    "q_tpch17" -> { (s, dir) =>
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey")))
      // Per-part average via a window instead of aggregate + join-back:
      // one lineitem scan, one shuffle on partkey. Same exact-decimal
      // arithmetic as the SQL twin.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .withColumn("avg_qty",
          sum(dec(col("l_quantity"), 12, 2)).over(w).cast("double") /
            count(lit(1)).over(w).cast("double"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice"), 14, 2) / lit(7.0)).as("avg_yearly"))
    },

    // Q18: large-volume orders — group-by-having on the fact table, then
    // enrich with customer. The having prunes before the customer join,
    // so only qualifying orders shuffle.
    "q_tpch18" -> { (s, dir) =>
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity"), 12, 2).as("sum_qty"))
        .filter(col("sum_qty") > 190)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val c = broadcast(t(s, dir, "customer").select(col("c_custkey"), col("c_name")))
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // Q19: discounted revenue over an OR-of-ANDs predicate — the
    // disjunction spans both tables, so it evaluates on the joined row
    // while the partkey equi-join stays the only join condition (no
    // cartesian fallback; part broadcasts).
    "q_tpch19" -> { (s, dir) =>
      val p = broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(revenue.as("revenue"))
    },

    // Q20 (adapted — no partsupp availability): suppliers who shipped
    // substantial volume of red parts in a year, with their nation.
    // Aggregate-then-having keyed on suppkey; part and supplier broadcast.
    "q_tpch20" -> { (s, dir) =>
      val p = broadcast(t(s, dir, "part")
        .filter(col("p_name").startsWith("red")).select(col("p_partkey")))
      val n = broadcast(t(s, dir, "nation"))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"), col("s_nationkey")))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-01-01" && col("l_shipdate") < "1998-01-01")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_quantity"), 12, 2).as("red_qty"))
        .filter(col("red_qty") > 300)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("red_qty"))
        .orderBy(col("s_name"))
    },

    // Q21 (adapted — returnflag as the "failed delivery" signal):
    // suppliers who were the SOLE returning supplier on a multi-supplier
    // order. The classic EXISTS / NOT-EXISTS pair becomes two keyed
    // aggregations (per order-supplier, then per order) — set semantics
    // without row multiplication, exactly like the reference pattern.
    "q_tpch21" -> { (s, dir) =>
      val perSupp = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("failed"))
      // Per-order totals as WINDOW sums over perSupp instead of a
      // separate groupBy + self-join (round 12, guide §2.4): the join
      // referenced perSupp twice, so the lineitem scan and the
      // (orderkey, suppkey) aggregation each executed twice. The window
      // sees the post-aggregation per-supplier rows (≤ suppliers/order),
      // needs one hash(l_orderkey) exchange where the old plan paid the
      // same exchange for the join anyway, and computes the identical
      // n_supp/n_fail values. Plan: 2 lineitem scans → 1.
      val perOrder = Window.partitionBy(col("l_orderkey"))
      val sup = broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")))
      perSupp
        .withColumn("n_supp", count(lit(1)).over(perOrder))
        .withColumn("n_fail", sum(col("failed")).over(perOrder))
        .filter(col("failed") === 1 && col("n_supp") > 1 && col("n_fail") === 1)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // Q22 (adapted — nation instead of phone country code): wealthy
    // customers with no recent orders, per nation. Scalar subquery (the
    // exact global average) broadcasts; the NOT EXISTS is a left-anti
    // join on custkey.
    "q_tpch22" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = c.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal"), 14, 2) / count(lit(1)).cast("double")).as("avg_bal"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1999-01-01")
        .select(col("o_custkey"))
      val n = broadcast(t(s, dir, "nation"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal"), 14, 2).as("totacctbal"))
        .orderBy(col("nation"))
    })

  val oracle: Map[String, String] = Map(
    "q_tpch2" ->
      """WITH cost AS (
        |  SELECT p_partkey, p_name, s_name, n_name,
        |    MIN(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'LARGE' AND p_size <= 10 AND r_name = 'EUROPE'
        |  GROUP BY p_partkey, p_name, s_name, n_name),
        |best AS (SELECT p_partkey AS bp, MIN(cost) AS best_cost FROM cost GROUP BY 1)
        |SELECT p_partkey, p_name, s_name, n_name, cost
        |FROM cost JOIN best ON p_partkey = bp AND cost = best_cost
        |ORDER BY p_partkey, s_name""".stripMargin,
    "q_tpch4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |  CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_tpch7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year, $revenueSql AS volume
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch8" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $prodSql ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM($prodSql) AS DOUBLE) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch9" ->
      s"""SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM($prodSql - CAST(p_retailprice AS DECIMAL(12,2)) *
         |    CAST(0.8 AS DECIMAL(2,1)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         |    AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%bolt%'
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q_tpch11" ->
      """WITH sup AS (SELECT s_suppkey FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_3'),
        |v AS (SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))) AS vd
        |  FROM lineitem l JOIN sup ON l.l_suppkey = sup.s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(vd) AS DOUBLE) AS total FROM v)
        |SELECT l_partkey AS ps_partkey, CAST(vd AS DOUBLE) AS value
        |FROM v, tot
        |WHERE CAST(vd AS DOUBLE) > total * CAST(0.0001 AS DOUBLE)
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q_tpch12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_tpch13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch14" ->
      s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN $prodSql ELSE 0 END) AS DOUBLE)
         |  / CAST(SUM($prodSql) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
         |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q_tpch15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $revenueSql AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q_tpch16" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 9, 13, 17, 21)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch17" ->
      """WITH l AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'),
        |a AS (SELECT l_partkey AS ap,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |  FROM l GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM l JOIN a ON l_partkey = ap
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q_tpch18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 190
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_tpch19" ->
      s"""SELECT $revenueSql AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch20" ->
      """SELECT s_name, n_name, red_qty FROM (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS red_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_name""".stripMargin,
    "q_tpch21" ->
      """WITH per_supp AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS failed
        |  FROM lineitem GROUP BY l_orderkey, l_suppkey),
        |per_order AS (
        |  SELECT l_orderkey AS ok, COUNT(*) AS n_supp, SUM(failed) AS n_fail
        |  FROM per_supp GROUP BY 1)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM per_supp
        |JOIN per_order ON l_orderkey = ok
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE failed = 1 AND n_supp > 1 AND n_fail = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q_tpch22" ->
      """SELECT n_name AS nation, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n_name ORDER BY nation""".stripMargin)
}
