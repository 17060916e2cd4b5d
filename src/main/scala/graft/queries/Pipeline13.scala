package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Thirteenth batch: distribution-shape statistics and data-quality
  * audits — Gini concentration of customer revenue, a Benford
  * first-digit audit, day-of-week seasonal indices, and per-group mode.
  *
  * Scale design:
  *  - Gini works entirely in integer cents: per-customer revenue sums,
  *    a global rank, and the Σ(2i−n−1)·x_i numerator are all BIGINT-
  *    exact, so the coefficient is reproducible under any shuffle
  *    order. The global rank is the one single-partition window (on
  *    the post-aggregation |customers| frame); at petabyte scale it
  *    swaps for the blocked prefix-sum (q_sample_weighted's recipe).
  *  - Benford needs one aggregation over leading digits; expected
  *    shares are embedded as literals, NOT computed with log10() at
  *    runtime — engines may disagree by an ulp on transcendentals.
  *    The SQL side routes them through STRING literals: DuckDB parses
  *    bare numeric literals as DECIMAL first, and the decimal→double
  *    hop rounds differently than a direct string→double parse.
  *  - Seasonal indices derive every double from exact decimal sums at
  *    the (day-of-week) grain — 7 rows after one partial+final pass.
  *    Day-of-week is epoch-day arithmetic, not locale-dependent
  *    calendar functions (engines disagree on week start).
  *  - Mode is the argmax of a two-level count: |groups|·|values|
  *    intermediate, one WindowGroupLimit pass picks each group's
  *    winner with deterministic ties (count desc, value asc).
  */
object Pipeline13 extends Batch {

  /** Benford expected shares as literal doubles (log10(1+1/d), d=1..9),
    * identical text in the Spark and DuckDB formulations.
    */
  private[queries] val benford: Seq[(Int, String)] = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829993", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  val queries: Map[String, Q] = Map(
    // Gini coefficient of per-customer revenue: exact integer-cents
    // arithmetic end-to-end, double only at the final ratio.
    "q_gini" -> { (s, dir) =>
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("long").as("cents"))
      // Global rank over every customer — two-phase range-partitioned
      // numbering (OrderStats), not a single-partition window.
      val ranked = graft.operators.OrderStats.running(
        rev, Seq(col("cents"), col("o_custkey")), Some("i"))
      val n = ranked.agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("total_cents"))
      ranked.crossJoin(broadcast(n))
        .agg(first(col("n")).as("n_customers"),
          first(col("total_cents")).as("total_cents"),
          sum((lit(2L) * col("i") - col("n") - 1L) * col("cents"))
            .cast("long").as("num"))
        .select(col("n_customers"), col("total_cents"),
          (col("num").cast("double") /
            (col("n_customers") * col("total_cents")).cast("double"))
            .as("gini"))
    },

    // Benford first-digit audit of order totals: observed digit shares
    // against the literal-encoded expected distribution.
    "q_benford" -> { (s, dir) =>
      import s.implicits._
      val digits = t(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).cast("long").as("n"))
      val exp = benford.map { case (d, p) =>
        (d.toLong, p.toDouble)
      }.toDF("digit", "exp_share")
      val tot = digits.agg(sum(col("n")).cast("long").as("tot"))
      digits.join(broadcast(exp), "digit").crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("obs_share"),
          col("exp_share"))
        .withColumn("dev", col("obs_share") - col("exp_share"))
        .orderBy(col("digit"))
    },

    // Day-of-week seasonal index of event values: dow from epoch-day
    // arithmetic (0 = Thursday, 1970-01-01), means from exact decimal
    // sums, index = dow mean / overall mean.
    "q_seasonal_index" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((datediff(to_date(col("ts")), lit("1970-01-01")) % 7)
          .cast("long").as("dow"), col("value"))
      val byDow = ev.groupBy(col("dow"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(dec(col("value"), 14, 2)).as("sv"))
      val overall = byDow.agg(sum(col("n")).cast("long").as("tn"),
        sum(col("sv")).as("tv"))
      byDow.crossJoin(broadcast(overall))
        .select(col("dow"), col("n"),
          (col("sv").cast("double") / col("n").cast("double")).as("dow_mean"),
          ((col("sv").cast("double") / col("n").cast("double")) /
            (col("tv").cast("double") / col("tn").cast("double"))).as("sidx"))
        .orderBy(col("dow"))
    },

    // Per-segment modal order priority: deterministic argmax over the
    // (segment, priority) count table (count desc, priority asc).
    "q_mode_per_group" -> { (s, dir) =>
      val counts = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).cast("long").as("n"))
      counts.withColumn("rk", row_number().over(
          Window.partitionBy(col("segment"))
            .orderBy(col("n").desc, col("priority"))))
        .filter(col("rk") === 1)
        .select(col("segment"), col("priority").as("mode_priority"), col("n"))
        .orderBy(col("segment"))
    })

  val oracle: Map[String, String] = Map(
    "q_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT cents, CAST(ROW_NUMBER() OVER (
        |    ORDER BY cents, o_custkey) AS BIGINT) AS i FROM rev),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents FROM rk)
        |SELECT n AS n_customers, total_cents,
        |  CAST(CAST(SUM((2 * i - n - 1) * cents) AS BIGINT) AS DOUBLE) /
        |    CAST(n * total_cents AS DOUBLE) AS gini
        |FROM rk, n GROUP BY n, total_cents""".stripMargin,
    "q_benford" ->
      s"""WITH d AS (SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM orders GROUP BY 1),
         |e(digit, exp_share) AS (VALUES ${Pipeline13.benford
            .map { case (dg, p) => s"(CAST($dg AS BIGINT), CAST('$p' AS DOUBLE))" }
            .mkString(", ")}),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
         |SELECT d.digit, n, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS obs_share,
         |  exp_share,
         |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - exp_share AS dev
         |FROM d JOIN e ON d.digit = e.digit, t ORDER BY d.digit""".stripMargin,
    "q_seasonal_index" ->
      """WITH ev AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) % 7 AS BIGINT) AS dow, value FROM events),
        |bd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(14,2))) AS sv FROM ev GROUP BY dow),
        |o AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(sv) AS tv FROM bd)
        |SELECT dow, n, CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS dow_mean,
        |  (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(tv AS DOUBLE) / CAST(tn AS DOUBLE)) AS sidx
        |FROM bd, o ORDER BY dow""".stripMargin,
    "q_mode_per_group" ->
      """WITH c AS (SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1, 2)
        |SELECT segment, priority AS mode_priority, n FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY segment
        |    ORDER BY n DESC, priority) AS rk FROM c)
        |WHERE rk = 1 ORDER BY segment""".stripMargin)
}
