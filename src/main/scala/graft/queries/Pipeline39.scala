package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.OrderStats
import Qs._

/** Thirty-ninth batch: storage/reporting planners — Freedman–Diaconis
  * histogram sizing, exact-dedup storage savings, monthly order-value
  * quantile drift, and top-customer revenue concentration per nation.
  *
  * Scale design notes (100 TB):
  *  - q_histogram_plan needs three exact order statistics (q1, q3, max)
  *    and min — one OrderStats range-shuffled numbering of the order
  *    frame, then rank-equality picks; no global window, no sort of
  *    anything wider than the value column.
  *  - q_dedup_savings is the exact-dedup groupBy (32-byte md5 keys)
  *    with byte arithmetic — the "what would dedup buy" readout.
  *  - q_quantile_drift ranks within month (partitioned windows) and
  *    picks exact rank-based p50/p90 — |months| rows out.
  *  - q_top_customer_share ranks customers within nation (partitioned)
  *    and compares the top-10 mass to the nation total.
  */
object Pipeline39 extends Batch {

  val queries: Map[String, Q] = Map(
    // Freedman–Diaconis histogram plan for order values: bin width
    // 2·IQR/n^(1/3) from exact rank-based quartiles, and the implied
    // bin count over the exact value range.
    "q_histogram_plan" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val ranked = OrderStats.running(o,
        Seq(col("cents"), col("o_orderkey")), Some("rn"))
      val nf = o.agg(count(lit(1)).cast("long").as("n"),
        min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      val quarts = ranked.crossJoin(broadcast(nf))
        .agg(max(when(col("rn") === expr("(n + 1) DIV 4"), col("cents")))
            .as("q1_cents"),
          max(when(col("rn") === expr("(3 * (n + 1)) DIV 4"), col("cents")))
            .as("q3_cents"))
      nf.crossJoin(broadcast(quarts))
        .withColumn("iqr_cents", col("q3_cents") - col("q1_cents"))
        .withColumn("bin_width_cents",
          lit(2.0) * col("iqr_cents").cast("double") /
            pow(col("n").cast("double"), lit(1.0) / 3.0))
        .withColumn("n_bins",
          ceil((col("hi") - col("lo")).cast("double") /
            col("bin_width_cents")).cast("long"))
        .select(col("n"), col("lo"), col("hi"), col("q1_cents"),
          col("q3_cents"), col("bin_width_cents"), col("n_bins"))
    },

    // Exact-dedup storage savings: bytes held by non-canonical copies
    // per source, from the md5(text) groupBy — what a content-addressed
    // rewrite reclaims.
    "q_dedup_savings" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("source"), col("n_chars"), md5(col("text")).as("h"))
      val g = d.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).cast("long").as("n_copies"),
          sum(col("n_chars")).cast("long").as("bytes_all"),
          min(col("n_chars")).cast("long").as("bytes_keep"))
      g.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_distinct"),
          sum(col("n_copies")).cast("long").as("n_docs"),
          sum(col("bytes_all")).cast("long").as("bytes_total"),
          sum(col("bytes_all") - col("bytes_keep")).cast("long")
            .as("bytes_saved"))
        .withColumn("savings_ratio", col("bytes_saved").cast("double") /
          col("bytes_total").cast("double"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          col("bytes_total"), col("bytes_saved"), col("savings_ratio"))
        .orderBy(col("source"))
    },

    // Monthly p50/p90 drift of order values: exact rank-based quantiles
    // inside month-partitioned windows — the distribution-shift trend a
    // static histogram hides.
    "q_quantile_drift" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"), col("o_orderkey"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val byM = Window.partitionBy(col("m"))
        .orderBy(col("cents"), col("o_orderkey"))
      val ranked = o.withColumn("rn", row_number().over(byM).cast("long"))
      val nm = o.groupBy(col("m")).agg(count(lit(1)).cast("long").as("n"))
      ranked.join(broadcast(nm), Seq("m"))
        .groupBy(col("m"), col("n"))
        .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col("cents")))
            .as("p50_cents"),
          max(when(col("rn") === expr("(9 * (n + 1)) DIV 10"), col("cents")))
            .as("p90_cents"))
        .select(col("m"), col("n").as("n_orders"), col("p50_cents"),
          col("p90_cents"))
        .orderBy(col("m"))
    },

    // Top-10-customer revenue share per nation: how concentrated each
    // market is on its biggest accounts.
    "q_top_customer_share" -> { (s, dir) =>
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          Seq("c_nationkey"))
      val byNation = Window.partitionBy(col("n_name"))
        .orderBy(col("cents").desc, col("o_custkey"))
      rev.withColumn("rk", row_number().over(byNation))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum(col("cents")).cast("long").as("total_cents"),
          sum(when(col("rk") <= 10, col("cents")).otherwise(0L))
            .cast("long").as("top10_cents"))
        .withColumn("top10_share", col("top10_cents").cast("double") /
          col("total_cents").cast("double"))
        .select(col("n_name"), col("n_customers"), col("total_cents"),
          col("top10_cents"), col("top10_share"))
        .orderBy(col("n_name"))
    })

  val oracle: Map[String, String] = Map(
    "q_histogram_plan" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY cents,
        |      o_orderkey) AS BIGINT) AS rn
        |  FROM o),
        |nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(MIN(cents) AS BIGINT) AS lo,
        |    CAST(MAX(cents) AS BIGINT) AS hi FROM o),
        |q AS (SELECT
        |    MAX(CASE WHEN rn = (n + 1) // 4 THEN cents END) AS q1_cents,
        |    MAX(CASE WHEN rn = (3 * (n + 1)) // 4 THEN cents END)
        |      AS q3_cents
        |  FROM r, nf)
        |SELECT n, lo, hi, q1_cents, q3_cents,
        |  2.0 * CAST(q3_cents - q1_cents AS DOUBLE)
        |    / POW(CAST(n AS DOUBLE), 1.0 / 3.0) AS bin_width_cents,
        |  CAST(CEIL(CAST(hi - lo AS DOUBLE)
        |    / (2.0 * CAST(q3_cents - q1_cents AS DOUBLE)
        |      / POW(CAST(n AS DOUBLE), 1.0 / 3.0))) AS BIGINT) AS n_bins
        |FROM nf, q""".stripMargin,
    "q_dedup_savings" ->
      """WITH d AS (SELECT source, n_chars, MD5(text) AS h FROM documents),
        |g AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS n_copies,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes_all,
        |    CAST(MIN(n_chars) AS BIGINT) AS bytes_keep
        |  FROM d GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(bytes_all) AS BIGINT) AS bytes_total,
        |  CAST(SUM(bytes_all - bytes_keep) AS BIGINT) AS bytes_saved,
        |  CAST(SUM(bytes_all - bytes_keep) AS DOUBLE)
        |    / CAST(SUM(bytes_all) AS DOUBLE) AS savings_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q_quantile_drift" ->
      """WITH o AS (SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)
        |      AS BIGINT) AS m, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT m, cents, CAST(ROW_NUMBER() OVER (PARTITION BY m
        |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn
        |  FROM o),
        |nm AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1)
        |SELECT r.m, nm.n AS n_orders,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
        |  MAX(CASE WHEN rn = (9 * (n + 1)) // 10 THEN cents END)
        |    AS p90_cents
        |FROM r JOIN nm ON nm.m = r.m
        |GROUP BY r.m, nm.n ORDER BY r.m""".stripMargin,
    "q_top_customer_share" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT rev.o_custkey, rev.cents, n.n_name
        |  FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
        |    JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |r AS (SELECT n_name, cents, ROW_NUMBER() OVER (PARTITION BY n_name
        |    ORDER BY cents DESC, o_custkey) AS rk
        |  FROM j)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(SUM(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS BIGINT)
        |    AS top10_cents,
        |  CAST(SUM(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(cents) AS DOUBLE) AS top10_share
        |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin)
}
