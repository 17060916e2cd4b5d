package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.OrderStats
import Qs._

/** Thirty-sixth batch: causal/distributional diagnostics — a
  * difference-in-differences estimate, third/fourth moments of order
  * values, AR(1) mean reversion of daily revenue, an exponential fit +
  * KS distance of event inter-arrivals, monthly Gini of order values,
  * and a lognormal fit of order totals.
  *
  * Scale design notes (100 TB):
  *  - q_diff_in_diff / q_higher_moments / q_lognormal_fit are one-scan
  *    exact-moment aggregations (scale-0 decimal sums up to the fourth
  *    power — 2.5e15-cent⁴ terms fit DECIMAL(38,0) and HUGEINT alike).
  *  - q_mean_reversion self-joins the calendar-bounded daily frame on
  *    rn+1 after one bounded OrderStats numbering.
  *  - q_exp_fit_ks pays one range shuffle to rank all gaps (OrderStats,
  *    never a global window); the KS sup runs map-side as a max of
  *    decimal-rounded per-row deviations.
  *  - q_gini_monthly ranks within month — a partitioned window — and
  *    reduces to |months| rows.
  */
object Pipeline36 extends Batch {

  val queries: Map[String, Q] = Map(
    // Difference-in-differences: deep-discount lines (treated) vs rest,
    // before/after the 1999 ship-date cut (the generated data ships 1995-2001). The four cell means and the
    // DiD estimate, all from exact sums.
    "q_diff_in_diff" -> { (s, dir) =>
      val cells = t(s, dir, "lineitem")
        .select(
          when(col("l_discount") > 0.05, 1L).otherwise(0L).as("treated"),
          when(year(col("l_shipdate")) >= 1999, 1L).otherwise(0L).as("post"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("sc"))
        .withColumn("mean_cents", col("sc").cast("double") /
          col("n").cast("double"))
      val wide = cells.groupBy()
        .pivot(concat(col("treated"), lit("_"), col("post")),
          Seq("0_0", "0_1", "1_0", "1_1"))
        .agg(first(col("mean_cents")))
      wide.select(
          col("0_0").as("control_pre"), col("0_1").as("control_post"),
          col("1_0").as("treated_pre"), col("1_1").as("treated_post"))
        .withColumn("did",
          (col("treated_post") - col("treated_pre")) -
            (col("control_post") - col("control_pre")))
    },

    // Skewness and excess kurtosis of order values from the first four
    // exact raw moments — the tail-shape audit beyond mean/variance.
    "q_higher_moments" -> { (s, dir) =>
      val c = dec(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"), 38, 0)
      // Power sums reach 1e20 (s2) / 1e36 (s4): far past the ~2^63 limit
      // where a bare decimal→double cast converts identically in both
      // engines — dblBig splits hi/lo so the conversion is mirrored
      // (caught by the sf0.1 sweep, round 7). s4 sits within ~10× of
      // dblBig's own ~9.2e36 long-quotient ceiling, so it takes the
      // two-level dblBig2 split — good to the DECIMAL(38)/HUGEINT edge
      // (the exact accumulator's own bound).
      t(s, dir, "orders")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(c).cast("double").as("s1"),
          sum(c * c).as("s2x"), sum(c * c * c).as("s3x"),
          sum(c * c * c * c).as("s4x"))
        .withColumn("s2", dblBig("s2x"))
        .withColumn("s3", dblBig("s3x"))
        .withColumn("s4", dblBig2("s4x"))
        .withColumn("mu", col("s1") / col("n").cast("double"))
        .withColumn("m2", col("s2") / col("n").cast("double") -
          col("mu") * col("mu"))
        .withColumn("m3", col("s3") / col("n").cast("double") -
          lit(3.0) * col("mu") * (col("s2") / col("n").cast("double")) +
          lit(2.0) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4", col("s4") / col("n").cast("double") -
          lit(4.0) * col("mu") * (col("s3") / col("n").cast("double")) +
          lit(6.0) * col("mu") * col("mu") *
            (col("s2") / col("n").cast("double")) -
          lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
        .withColumn("skewness", col("m3") / pow(col("m2"), 1.5))
        .withColumn("excess_kurtosis",
          col("m4") / (col("m2") * col("m2")) - 3.0)
        .select(col("n"), col("mu"), col("m2"), col("skewness"),
          col("excess_kurtosis"))
    },

    // AR(1) mean reversion of daily revenue: OLS of y_t on y_{t−1} over
    // the calendar-bounded series; half-life from the slope when the
    // series actually reverts (0 < φ < 1).
    "q_mean_reversion" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val st = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        boundedInput = true)
      val pairs = st.as("a")
        .join(st.as("b"), col("b.rn") === col("a.rn") + 1)
        .select(col("a.cents").as("x"), col("b.cents").as("y"))
      // Daily-cents products reach ~2.5e19 at sf0.1 — past the ~2^63
      // mirrored-conversion limit; hi/lo split keeps both engines
      // identical (proactive, same class the sf0.1 sweep flagged).
      pairs.agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(dec(col("x"), 38, 0)).cast("double").as("sx"),
          sum(dec(col("y"), 38, 0)).cast("double").as("sy"),
          sum(dec(col("x"), 38, 0) * dec(col("y"), 38, 0)).as("sxy0"),
          sum(dec(col("x"), 38, 0) * dec(col("x"), 38, 0)).as("sxx0"))
        .withColumn("sxy", dblBig("sxy0"))
        .withColumn("sxx", dblBig("sxx0"))
        .withColumn("phi",
          (col("n_pairs").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n_pairs").cast("double") * col("sxx") - col("sx") * col("sx")))
        .withColumn("alpha", (col("sy") - col("phi") * col("sx")) /
          col("n_pairs").cast("double"))
        .withColumn("half_life_days",
          when(col("phi") > 0.0 && col("phi") < 1.0,
            -log(lit(2.0)) / log(col("phi"))).otherwise(lit(null)))
        .select(col("n_pairs"), col("phi"), col("alpha"),
          col("half_life_days"))
    },

    // Exponential fit of event inter-arrival gaps (rate = 1/mean) and
    // the KS sup-distance between the empirical and fitted CDFs — the
    // "is traffic Poisson" goodness-of-fit.
    "q_exp_fit_ks" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .select(col("user_id"), col("event_id"), col("gap"))
      val tot = gaps.agg(count(lit(1)).cast("long").as("n"),
        sum(col("gap")).cast("long").as("sg"))
      val ranked = OrderStats.running(gaps,
        Seq(col("gap"), col("user_id"), col("event_id")), Some("rn"))
      val dev = ranked.crossJoin(broadcast(tot))
        .withColumn("f_exp", lit(1.0) -
          exp(-(col("n").cast("double") / col("sg").cast("double")) *
            col("gap").cast("double")))
        .withColumn("d_plus",
          (col("rn").cast("double") / col("n").cast("double") - col("f_exp"))
            .cast(DecimalType(18, 10)))
        .withColumn("d_minus",
          (col("f_exp") - (col("rn") - 1).cast("double") / col("n").cast("double"))
            .cast(DecimalType(18, 10)))
      dev.groupBy(col("n"), col("sg"))
        .agg(greatest(max(col("d_plus")), max(col("d_minus")))
          .cast("double").as("ks_stat"))
        .withColumn("lambda_per_hour",
          col("n").cast("double") / col("sg").cast("double") * 3.6e9)
        .select(col("n").as("n_gaps"), col("lambda_per_hour"), col("ks_stat"))
    },

    // Monthly Gini of order values: rank within month (partitioned
    // window), G = 2·Σ i·x / (n·Σx) − (n+1)/n. The concentration trend,
    // one row per month.
    "q_gini_monthly" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"), col("o_orderkey"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val byM = Window.partitionBy(col("m"))
        .orderBy(col("cents"), col("o_orderkey"))
      o.withColumn("i", row_number().over(byM).cast("long"))
        .groupBy(col("m"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(dec(col("cents"), 38, 0)).cast(DecimalType(38, 0)).as("sx"),
          sum(dec(col("i"), 38, 0) * dec(col("cents"), 38, 0))
            .cast(DecimalType(38, 0)).as("six"))
        // rank-weighted sums pass ~2^63 past sf100 — mirrored hi/lo
        // conversion keeps the gini identical cross-engine at any SF.
        .withColumn("gini",
          lit(2.0) * dblBig("six") /
            (col("n_orders").cast("double") * dblBig("sx")) -
            (col("n_orders") + 1).cast("double") / col("n_orders").cast("double"))
        .select(col("m"), col("n_orders"), col("gini"))
        .orderBy(col("m"))
    },

    // Lognormal fit of order totals by log-moment matching, with the
    // implied median and mean — the standard heavy-tail revenue model.
    "q_lognormal_fit" -> { (s, dir) =>
      val lx = log(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        .cast("double")).cast(DecimalType(10, 5))
      t(s, dir, "orders")
        .select(lx.as("lx"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("lx")).cast("double").as("sl"),
          sum(col("lx") * col("lx")).cast("double").as("sll"))
        .withColumn("mu_log", col("sl") / col("n").cast("double"))
        .withColumn("sigma2_log", col("sll") / col("n").cast("double") -
          col("mu_log") * col("mu_log"))
        .withColumn("implied_median_cents",
          exp(col("mu_log")).cast(DecimalType(18, 4)).cast("double"))
        .withColumn("implied_mean_cents",
          exp(col("mu_log") + col("sigma2_log") / 2)
            .cast(DecimalType(18, 4)).cast("double"))
        .select(col("n"), col("mu_log"), col("sigma2_log"),
          col("implied_median_cents"), col("implied_mean_cents"))
    })

  val oracle: Map[String, String] = Map(
    "q_diff_in_diff" ->
      """WITH c AS (SELECT
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS treated,
        |    CASE WHEN YEAR(l_shipdate) >= 1999 THEN 1 ELSE 0 END AS post,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |g AS (SELECT treated, post,
        |    CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS mean_cents
        |  FROM c GROUP BY 1, 2),
        |w AS (SELECT
        |    MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_cents END)
        |      AS control_pre,
        |    MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_cents END)
        |      AS control_post,
        |    MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_cents END)
        |      AS treated_pre,
        |    MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_cents END)
        |      AS treated_post
        |  FROM g)
        |SELECT control_pre, control_post, treated_pre, treated_post,
        |  (treated_post - treated_pre) - (control_post - control_pre) AS did
        |FROM w""".stripMargin,
    "q_higher_moments" ->
      s"""WITH b AS (SELECT CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      AS HUGEINT) AS c
        |  FROM orders),
        |ax AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS DOUBLE) AS s1,
        |    SUM(c * c) AS s2x, SUM(c * c * c) AS s3x,
        |    SUM(c * c * c * c) AS s4x
        |  FROM b),
        |a AS (SELECT n, s1, ${dblBigSql("s2x")} AS s2,
        |    ${dblBigSql("s3x")} AS s3, ${dblBig2Sql("s4x")} AS s4
        |  FROM ax),
        |m AS (SELECT n, s1 / CAST(n AS DOUBLE) AS mu,
        |    s2 / CAST(n AS DOUBLE) AS r2, s3 / CAST(n AS DOUBLE) AS r3,
        |    s4 / CAST(n AS DOUBLE) AS r4
        |  FROM a),
        |cm AS (SELECT n, mu, r2 - mu * mu AS m2,
        |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
        |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m)
        |SELECT n, mu, m2, m3 / POW(m2, 1.5) AS skewness,
        |  m4 / (m2 * m2) - 3.0 AS excess_kurtosis
        |FROM cm""".stripMargin,
    "q_mean_reversion" ->
      s"""WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
        |      AS rn
        |  FROM d),
        |p AS (SELECT a.cents AS x, b.cents AS y
        |  FROM r a JOIN r b ON b.rn = a.rn + 1),
        |a0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy0,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx0
        |  FROM p),
        |a AS (SELECT n_pairs, sx, sy, ${dblBigSql("sxy0")} AS sxy,
        |    ${dblBigSql("sxx0")} AS sxx
        |  FROM a0),
        |f AS (SELECT n_pairs,
        |    (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_pairs AS DOUBLE) * sxx - sx * sx) AS phi, sx, sy
        |  FROM a)
        |SELECT n_pairs, phi,
        |  (sy - phi * sx) / CAST(n_pairs AS DOUBLE) AS alpha,
        |  CASE WHEN phi > 0.0 AND phi < 1.0
        |    THEN -LN(2.0) / LN(phi) ELSE NULL END AS half_life_days
        |FROM f""".stripMargin,
    "q_exp_fit_ks" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, event_id,
        |    us - LAG(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap
        |  FROM e),
        |f AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(gap) AS BIGINT) AS sg FROM f),
        |r AS (SELECT gap, CAST(ROW_NUMBER() OVER (ORDER BY gap, user_id,
        |      event_id) AS BIGINT) AS rn
        |  FROM f),
        |dv AS (SELECT n, sg,
        |    CAST(CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (1.0 - EXP(-(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE))
        |        * CAST(gap AS DOUBLE))) AS DECIMAL(18,10)) AS d_plus,
        |    CAST((1.0 - EXP(-(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE))
        |        * CAST(gap AS DOUBLE)))
        |      - CAST(rn - 1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(18,10)) AS d_minus
        |  FROM r, tt)
        |SELECT n AS n_gaps,
        |  CAST(n AS DOUBLE) / CAST(sg AS DOUBLE) * 3.6e9 AS lambda_per_hour,
        |  CAST(GREATEST(MAX(d_plus), MAX(d_minus)) AS DOUBLE) AS ks_stat
        |FROM dv GROUP BY n, sg""".stripMargin,
    "q_gini_monthly" ->
      s"""WITH o AS (SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)
        |      AS BIGINT) AS m, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT m, cents, CAST(ROW_NUMBER() OVER (PARTITION BY m
        |      ORDER BY cents, o_orderkey) AS BIGINT) AS i
        |  FROM o),
        |a AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(i AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT)
        |      AS six
        |  FROM r GROUP BY 1)
        |SELECT m, n_orders,
        |  2.0 * ${dblBigSql("six")}
        |    / (CAST(n_orders AS DOUBLE) * ${dblBigSql("sx")})
        |    - CAST(n_orders + 1 AS DOUBLE) / CAST(n_orders AS DOUBLE) AS gini
        |FROM a ORDER BY m""".stripMargin,
    "q_lognormal_fit" ->
      """WITH b AS (SELECT CAST(LN(CAST(CAST(ROUND(o_totalprice * 100)
        |      AS BIGINT) AS DOUBLE)) AS DECIMAL(10,5)) AS lx
        |  FROM orders),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lx) AS DOUBLE) AS sl,
        |    CAST(SUM(lx * lx) AS DOUBLE) AS sll
        |  FROM b),
        |m AS (SELECT n, sl / CAST(n AS DOUBLE) AS mu_log,
        |    sll / CAST(n AS DOUBLE)
        |      - (sl / CAST(n AS DOUBLE)) * (sl / CAST(n AS DOUBLE))
        |      AS sigma2_log
        |  FROM a)
        |SELECT n, mu_log, sigma2_log,
        |  CAST(CAST(EXP(mu_log) AS DECIMAL(18,4)) AS DOUBLE)
        |    AS implied_median_cents,
        |  CAST(CAST(EXP(mu_log + sigma2_log / 2) AS DECIMAL(18,4))
        |    AS DOUBLE) AS implied_mean_cents
        |FROM m""".stripMargin)
}
