package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.OrderStats
import Qs._

/** Thirty-eighth batch: attribution/forecasting/vocabulary planners —
  * exponential time-decay multi-touch attribution, the top-k vocabulary
  * coverage curve, and naive-vs-seasonal forecast baselines.
  *
  * Scale design notes (100 TB):
  *  - q_time_decay_attribution joins touches to purchases on the USER
  *    key with a 30-day window predicate — per-user pair space, never
  *    cross-user; per-conversion normalization is one keyed aggregate
  *    joined back by conversion id.
  *  - q_vocab_coverage ranks shingle frequencies with OrderStats.topK
  *    (bounded merge) and reads three coverage points off one ranked
  *    frame via a broadcast 3-row grid.
  *  - q_forecast_baselines evaluates lag-1 and lag-7 naive forecasts on
  *    the calendar-bounded daily frame — two bounded self-joins on the
  *    OrderStats row number.
  */
object Pipeline38 extends Batch {

  val queries: Map[String, Q] = Map(
    // Exponential time-decay attribution: every non-purchase touch in
    // the 30 days before a user's purchase earns weight 2^(−Δdays/7),
    // normalized within the conversion; summed credit per channel.
    "q_time_decay_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("us").as("conv_us"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .join(conv, Seq("user_id"))
        .filter(col("us") < col("conv_us") &&
          col("us") >= col("conv_us") - lit(30L * 86400000000L))
        .withColumn("w",
          pow(lit(2.0), -(col("conv_us") - col("us")).cast("double") /
            lit(7.0 * 86400000000L)))
        // ROUND(double·1e10)→long instead of CAST(double AS DECIMAL):
        // the decimal cast rounds the double's STRING repr in Spark but
        // its BINARY expansion in DuckDB, and at sf0.1 one row landed on
        // a boundary where they disagree (sweep, round 7). Rounding the
        // shared double product to integer units is identical in both.
        .withColumn("w_u", expr("CAST(ROUND(w * 1e10) AS BIGINT)"))
      // NOT Ckpt.shared (round 12, measured): touches feeds both the
      // per-conversion totals and the credit join (4 events scans in
      // the audit), but the frame is conversion-window-sized (data-
      // proportional) — the eager checkpoint's full-width write/read
      // serde cost more than the duplicate pruned scans it saved: A/B
      // at sf0.1 measured wall 1.23→1.65s, CPU 8.1→9.7s. WORSE.
      val totals = touches.groupBy(col("conv_id"))
        .agg(sum(dec(col("w_u"), 38, 0)).cast("double").as("w_tot_u"))
      touches.join(totals, Seq("conv_id"))
        .withColumn("credit_u",
          expr("CAST(ROUND(w / (w_tot_u / 1e10) * 1e10) AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(dec(col("credit_u"), 38, 0)).as("cu"))
        .withColumn("credit", dblBig("cu") / lit(1e10))
        .select(col("event_type"), col("n_touches"), col("credit"))
        .orderBy(col("event_type"))
    },

    // Vocabulary coverage curve: what fraction of all shingle instances
    // the top-k shingles by frequency cover, at k = 100 / 1000 / 10000.
    // The "how big must the vocab be" planner readout.
    "q_vocab_coverage" -> { (s, dir) =>
      val sh = graft.operators.Dedup.shingles(t(s, dir, "documents"))
      // cf feeds both the corpus totals and the top-k ranking: the
      // per-shingle count re-executed per reference — materialize once
      // (round 11, Ckpt.shared).
      val cf = graft.Ckpt.shared(t(s, dir, "documents"),
        sh.groupBy(col("shingle")).agg(count(lit(1)).cast("long").as("c")))
      val tot = cf.agg(sum(col("c")).cast("long").as("total"),
        count(lit(1)).cast("long").as("n_distinct"))
      val ranked = OrderStats.topK(cf, Seq(col("c").desc, col("shingle")),
        10000, "rk")
      val grid = s.range(2, 5)
        .select(expr("CAST(POW(10.0, id) AS BIGINT)").as("k"))
      ranked.join(broadcast(grid), col("rk") <= col("k"))
        .groupBy(col("k"))
        .agg(sum(col("c")).cast("long").as("covered"))
        .crossJoin(broadcast(tot))
        .withColumn("coverage", col("covered").cast("double") /
          col("total").cast("double"))
        .select(col("k"), col("covered"), col("total"), col("n_distinct"),
          col("coverage"))
        .orderBy(col("k"))
    },

    // Forecast baselines on daily revenue: naive (previous observed day)
    // vs seasonal-naive (7 OBSERVED days back — rn−7 over the observed
    // series, which is the same weekday only when the calendar has no
    // gaps) MAE/MAPE and the seasonal skill ratio — the floor every real
    // forecaster must beat. The oracle mirrors the rn−7 convention.
    "q_forecast_baselines" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val st = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        boundedInput = true)
      def lagJoin(k: Int) = st.as("a")
        .join(st.as("b"), col("a.rn") === col("b.rn") + k)
        .select(col("a.rn").as("rn"), col("a.cents").as("y"),
          col("b.cents").as("yhat"))
      val n1 = lagJoin(1).withColumnRenamed("yhat", "yhat1")
      val n7 = lagJoin(7).withColumnRenamed("yhat", "yhat7")
      n1.join(n7.select(col("rn"), col("yhat7")), Seq("rn"))
        .agg(count(lit(1)).cast("long").as("n_eval"),
          sum(abs(col("y") - col("yhat1"))).cast("long").as("sae1"),
          sum(abs(col("y") - col("yhat7"))).cast("long").as("sae7"),
          sum((abs(col("y") - col("yhat1")).cast("double") /
            col("y").cast("double")).cast(DecimalType(18, 10)))
            .cast("double").as("sape1"),
          sum((abs(col("y") - col("yhat7")).cast("double") /
            col("y").cast("double")).cast(DecimalType(18, 10)))
            .cast("double").as("sape7"))
        .withColumn("mae_naive", col("sae1").cast("double") /
          col("n_eval").cast("double"))
        .withColumn("mae_seasonal", col("sae7").cast("double") /
          col("n_eval").cast("double"))
        .withColumn("mape_naive", col("sape1") / col("n_eval").cast("double"))
        .withColumn("mape_seasonal", col("sape7") / col("n_eval").cast("double"))
        .withColumn("seasonal_skill", col("mae_seasonal") / col("mae_naive"))
        .select(col("n_eval"), col("mae_naive"), col("mae_seasonal"),
          col("mape_naive"), col("mape_seasonal"), col("seasonal_skill"))
    })

  val oracle: Map[String, String] = Map(
    "q_time_decay_attribution" ->
      s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |conv AS (SELECT user_id, event_id AS conv_id, us AS conv_us
        |  FROM ev WHERE event_type = 'purchase'),
        |touches AS (SELECT e.event_type, conv.conv_id,
        |    CAST(ROUND(POW(2.0, -CAST(conv.conv_us - e.us AS DOUBLE)
        |      / 604800000000.0) * 1e10) AS BIGINT) AS w_u,
        |    POW(2.0, -CAST(conv.conv_us - e.us AS DOUBLE)
        |      / 604800000000.0) AS w
        |  FROM ev e JOIN conv ON conv.user_id = e.user_id
        |  WHERE e.event_type <> 'purchase' AND e.us < conv.conv_us
        |    AND e.us >= conv.conv_us - 2592000000000),
        |tt AS (SELECT conv_id, CAST(SUM(w_u) AS DOUBLE) AS w_tot_u
        |  FROM touches GROUP BY 1),
        |cr AS (SELECT event_type,
        |    CAST(ROUND(w / (w_tot_u / 1e10) * 1e10) AS BIGINT) AS credit_u
        |  FROM touches JOIN tt ON tt.conv_id = touches.conv_id),
        |ag AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |    SUM(CAST(credit_u AS HUGEINT)) AS cu
        |  FROM cr GROUP BY 1)
        |SELECT event_type, n_touches, ${dblBigSql("cu")} / 1e10 AS credit
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH ${Pipeline.shinglesSql},
        |cf AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM sh GROUP BY 1),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct FROM cf),
        |r AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, shingle)
        |      AS BIGINT) AS rk
        |  FROM cf),
        |grid AS (SELECT CAST(POW(10.0, i) AS BIGINT) AS k
        |  FROM (SELECT UNNEST(GENERATE_SERIES(2, 4)) AS i) g),
        |cv AS (SELECT k, CAST(SUM(c) AS BIGINT) AS covered
        |  FROM r JOIN grid ON r.rk <= grid.k GROUP BY 1)
        |SELECT k, covered, total, n_distinct,
        |  CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        |FROM cv, tt ORDER BY k""".stripMargin,
    "q_forecast_baselines" ->
      """WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
        |      AS rn
        |  FROM d),
        |j AS (SELECT a.rn, a.cents AS y, b1.cents AS yhat1, b7.cents AS yhat7
        |  FROM r a JOIN r b1 ON a.rn = b1.rn + 1
        |    JOIN r b7 ON a.rn = b7.rn + 7),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    CAST(SUM(ABS(y - yhat1)) AS BIGINT) AS sae1,
        |    CAST(SUM(ABS(y - yhat7)) AS BIGINT) AS sae7,
        |    CAST(SUM(CAST(CAST(ABS(y - yhat1) AS DOUBLE) / CAST(y AS DOUBLE)
        |      AS DECIMAL(18,10))) AS DOUBLE) AS sape1,
        |    CAST(SUM(CAST(CAST(ABS(y - yhat7) AS DOUBLE) / CAST(y AS DOUBLE)
        |      AS DECIMAL(18,10))) AS DOUBLE) AS sape7
        |  FROM j)
        |SELECT n_eval,
        |  CAST(sae1 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae_naive,
        |  CAST(sae7 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae_seasonal,
        |  sape1 / CAST(n_eval AS DOUBLE) AS mape_naive,
        |  sape7 / CAST(n_eval AS DOUBLE) AS mape_seasonal,
        |  (CAST(sae7 AS DOUBLE) / CAST(n_eval AS DOUBLE))
        |    / (CAST(sae1 AS DOUBLE) / CAST(n_eval AS DOUBLE))
        |    AS seasonal_skill
        |FROM a""".stripMargin)
}
