package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.OrderStats
import Qs._

/** Thirty-fifth batch: engagement and demand-shape analytics — DAU/MAU
  * stickiness, the customer repurchase cycle, a negative-binomial fit of
  * basket sizes, log-log price elasticity per brand, the new-vs-returning
  * order mix, and Church–Gale term burstiness.
  *
  * Scale design notes (100 TB):
  *  - q_dau_mau is two distinct-count aggregations keyed by calendar
  *    units; the join is |days| × 1 on the month key.
  *  - q_repurchase_cycle's lag window partitions by customer — never
  *    global — and reduces to |segments| rows.
  *  - q_basket_nbd / q_new_returning are single-shuffle keyed aggregates
  *    (order key / customer key) followed by scalar or per-month math.
  *  - q_price_elasticity groups to (brand, part, month) unit-value
  *    points, rounds logs to DECIMAL(10,5), and runs the exact-decimal
  *    OLS per brand — |brands| result rows.
  *  - q_term_burstiness ranks collection frequency via OrderStats.topK
  *    (per-partition top-k + bounded merge); cf and df come from one
  *    token explode each.
  */
object Pipeline35 extends Batch {

  val queries: Map[String, Q] = Map(
    // DAU/MAU stickiness per month: average daily actives over monthly
    // actives — the engagement ratio product teams steer by.
    "q_dau_mau" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("day"),
        (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("m"))
      val dau = ev.groupBy(col("m"), col("day"))
        .agg(countDistinct(col("user_id")).cast("long").as("dau"))
      val mau = ev.groupBy(col("m"))
        .agg(countDistinct(col("user_id")).cast("long").as("mau"))
      dau.groupBy(col("m"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("dau")).cast("long").as("s_dau"))
        .join(broadcast(mau), Seq("m"))
        .withColumn("avg_dau", col("s_dau").cast("double") /
          col("n_days").cast("double"))
        .withColumn("stickiness", col("avg_dau") / col("mau").cast("double"))
        .select(col("m"), col("n_days"), col("avg_dau"), col("mau"),
          col("stickiness"))
        .orderBy(col("m"))
    },

    // Repurchase cycle: days between a customer's consecutive orders,
    // summarized per market segment — the replenishment clock.
    "q_repurchase_cycle" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("gap_days",
          datediff(col("o_orderdate"),
            lag(col("o_orderdate"), 1).over(w)).cast("long"))
        .filter(col("gap_days").isNotNull)
      gaps.join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          (sum(col("gap_days")).cast("double") /
            count(lit(1)).cast("double")).as("mean_gap_days"),
          min(col("gap_days")).cast("long").as("min_gap_days"),
          max(col("gap_days")).cast("long").as("max_gap_days"))
        .orderBy(col("c_mktsegment"))
    },

    // Negative-binomial moment fit of basket sizes (lines per order):
    // p = m/v, r = m²/(v−m). The overdispersion-aware demand model every
    // basket simulator starts from.
    "q_basket_nbd" -> { (s, dir) =>
      val k = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("k"))
      k.agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("k")).cast("long").as("sk"),
          sum(dec(col("k"), 38, 0) * dec(col("k"), 38, 0)).cast("double")
            .as("skk"))
        .withColumn("mean_lines", col("sk").cast("double") /
          col("n_orders").cast("double"))
        .withColumn("var_lines", col("skk") / col("n_orders").cast("double") -
          col("mean_lines") * col("mean_lines"))
        .withColumn("nbd_p", col("mean_lines") / col("var_lines"))
        .withColumn("nbd_r", col("mean_lines") * col("mean_lines") /
          (col("var_lines") - col("mean_lines")))
        .select(col("n_orders"), col("mean_lines"), col("var_lines"),
          col("nbd_r"), col("nbd_p"))
    },

    // Log-log price elasticity per brand: OLS of ln(quantity) on
    // ln(unit value) over (part, month) demand points, logs rounded to
    // DECIMAL(10,5) so the product sums are exact in both engines.
    "q_price_elasticity" -> { (s, dir) =>
      val pts = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("m"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .join(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .select(col("p_brand"),
          log(col("cents").cast("double") / col("qty").cast("double"))
            .cast(DecimalType(10, 5)).as("x"),
          log(col("qty").cast("double")).cast(DecimalType(10, 5)).as("y"))
      // Product sums are DECIMAL(*,10) whose unscaled value passes 2^53
      // at sf0.1 — the scaled-decimal cross-engine limit. dblBigScaled
      // rescales to an exact integer, converts via the mirrored hi/lo
      // split, and divides back (sf0.1 sweep, round 7).
      pts.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n_points"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).as("sxy0"),
          sum(col("x") * col("x")).as("sxx0"))
        .withColumn("sxy", dblBigScaled("sxy0", 10))
        .withColumn("sxx", dblBigScaled("sxx0", 10))
        .withColumn("elasticity",
          (col("n_points").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n_points").cast("double") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (col("sy") - col("elasticity") * col("sx")) /
            col("n_points").cast("double"))
        .select(col("p_brand"), col("n_points"), col("elasticity"),
          col("intercept"))
        .orderBy(col("p_brand"))
    },

    // New vs returning order mix per month: an order is "new" when it
    // falls on its customer's first order date (all first-day orders
    // count as new).
    "q_new_returning" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"))
      val first = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_date"))
      o.join(first, Seq("o_custkey"))
        .withColumn("is_new",
          when(col("o_orderdate") === col("first_date"), 1L).otherwise(0L))
        .groupBy(col("m"))
        .agg(sum(col("is_new")).cast("long").as("n_new"),
          sum(lit(1L) - col("is_new")).cast("long").as("n_returning"))
        .withColumn("new_share", col("n_new").cast("double") /
          (col("n_new") + col("n_returning")).cast("double"))
        .select(col("m"), col("n_new"), col("n_returning"), col("new_share"))
        .orderBy(col("m"))
    },

    // Church–Gale burstiness of the top-100 terms by collection
    // frequency: cf/df says how much a term clumps into few documents
    // (stopwords ≈ docs-per-term ≈ uniform; content terms burst).
    "q_term_burstiness" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val cf = tok.groupBy(col("w")).agg(count(lit(1)).cast("long").as("cf"))
      val df = tok.distinct()
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("df"))
      val nDocs = t(s, dir, "documents")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val top = OrderStats.topK(cf.join(df, Seq("w")),
        Seq(col("cf").desc, col("w")), 100, "rk")
      top.crossJoin(broadcast(nDocs))
        .withColumn("burstiness", col("cf").cast("double") /
          col("df").cast("double"))
        .withColumn("idf",
          log(col("n_docs").cast("double") / col("df").cast("double"))
            .cast(DecimalType(18, 10)).cast("double"))
        .select(col("rk"), col("w"), col("cf"), col("df"),
          col("burstiness"), col("idf"))
        .orderBy(col("rk"))
    })

  val oracle: Map[String, String] = Map(
    "q_dau_mau" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(YEAR(ts) * 12 + MONTH(ts) AS BIGINT) AS m FROM events),
        |dau AS (SELECT m, day, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |      AS dau
        |  FROM ev GROUP BY 1, 2),
        |mau AS (SELECT m, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM ev GROUP BY 1),
        |a AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dau) AS BIGINT) AS s_dau
        |  FROM dau GROUP BY 1)
        |SELECT a.m, n_days,
        |  CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_dau, mau,
        |  (CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE))
        |    / CAST(mau AS DOUBLE) AS stickiness
        |FROM a JOIN mau ON mau.m = a.m ORDER BY a.m""".stripMargin,
    "q_repurchase_cycle" ->
      """WITH g AS (SELECT o_custkey,
        |    CAST(DATEDIFF('day', LAG(o_orderdate, 1) OVER (PARTITION BY
        |      o_custkey ORDER BY o_orderdate, o_orderkey), o_orderdate)
        |      AS BIGINT) AS gap_days
        |  FROM orders),
        |f AS (SELECT o_custkey, gap_days FROM g WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_gap_days,
        |  CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
        |  CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
        |FROM f JOIN customer ON c_custkey = f.o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_basket_nbd" ->
      """WITH k AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM lineitem GROUP BY 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(k) AS BIGINT) AS sk,
        |    CAST(SUM(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS DOUBLE)
        |      AS skk
        |  FROM k),
        |b AS (SELECT n_orders,
        |    CAST(sk AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_lines,
        |    skk / CAST(n_orders AS DOUBLE)
        |      - (CAST(sk AS DOUBLE) / CAST(n_orders AS DOUBLE))
        |        * (CAST(sk AS DOUBLE) / CAST(n_orders AS DOUBLE)) AS var_lines
        |  FROM a)
        |SELECT n_orders, mean_lines, var_lines,
        |  mean_lines * mean_lines / (var_lines - mean_lines) AS nbd_r,
        |  mean_lines / var_lines AS nbd_p
        |FROM b""".stripMargin,
    "q_price_elasticity" ->
      s"""WITH mp AS (SELECT l_partkey,
        |    CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS BIGINT) AS m,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |pts AS (SELECT p_brand,
        |    CAST(LN(CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE))
        |      AS DECIMAL(10,5)) AS x,
        |    CAST(LN(CAST(qty AS DOUBLE)) AS DECIMAL(10,5)) AS y
        |  FROM mp JOIN part ON p_partkey = mp.l_partkey),
        |a0 AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_points,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    SUM(x * y) AS sxy0, SUM(x * x) AS sxx0
        |  FROM pts GROUP BY 1),
        |a AS (SELECT p_brand, n_points, sx, sy,
        |    ${dblBigScaledSql("sxy0", 10)} AS sxy,
        |    ${dblBigScaledSql("sxx0", 10)} AS sxx
        |  FROM a0)
        |SELECT p_brand, n_points,
        |  (CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS elasticity,
        |  (sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_points AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n_points AS DOUBLE) AS intercept
        |FROM a ORDER BY p_brand""".stripMargin,
    "q_new_returning" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS BIGINT) AS m
        |  FROM orders),
        |f AS (SELECT o_custkey, MIN(o_orderdate) AS first_date
        |  FROM o GROUP BY 1),
        |j AS (SELECT o.m, CASE WHEN o.o_orderdate = f.first_date
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM o JOIN f ON f.o_custkey = o.o_custkey)
        |SELECT m, CAST(SUM(is_new) AS BIGINT) AS n_new,
        |  CAST(SUM(1 - is_new) AS BIGINT) AS n_returning,
        |  CAST(SUM(is_new) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS new_share
        |FROM j GROUP BY 1 ORDER BY m""".stripMargin,
    "q_term_burstiness" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |cf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf FROM tok GROUP BY 1),
        |df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, w FROM tok) t GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |top AS (SELECT cf.w, cf.cf, df.df,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cf.cf DESC, cf.w) AS BIGINT)
        |      AS rk
        |  FROM cf JOIN df ON df.w = cf.w)
        |SELECT rk, w, cf, df,
        |  CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness,
        |  CAST(CAST(LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |    AS DECIMAL(18,10)) AS DOUBLE) AS idf
        |FROM top, nd WHERE rk <= 100 ORDER BY rk""".stripMargin)
}
