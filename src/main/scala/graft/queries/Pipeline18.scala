package graft.queries

import org.apache.spark.sql.functions._

import Qs._

/** Eighteenth batch: classical nonparametric statistics and risk series —
  * the evaluation toolkit a data platform runs AFTER the pipelines: did
  * the distribution shift (KS), does the ranking discriminate (AUC), how
  * long do users survive (Nelson–Aalen), how bad did the trend get
  * (max drawdown).
  *
  * Scale design:
  *  - Every statistic reduces to ONE keyed aggregation over the fact
  *    table followed by window math on the per-distinct-value frame —
  *    150k orders collapse to ~distinct-price rows before any
  *    unpartitioned window touches them, and the survival/drawdown
  *    frames are per-user / per-day (thousands, not millions).
  *  - All comparisons stay in exact integer space: the KS D statistic is
  *    max|c1·n2 − c2·n1| (cross-multiplied, no division until the final
  *    scalar), AUC works on 2×-scaled tie-averaged ranks (min+max rank,
  *    always integer), the hazard accumulates micro-units via integer
  *    DIV, and drawdown detrends with n_days-scaled cents. The only
  *    doubles are final single divisions — bit-identical across engines.
  */
object Pipeline18 extends Batch {

  val queries: Map[String, Q] = Map(
    // Two-sample Kolmogorov–Smirnov: does order value distribute
    // differently for urgent (1-URGENT/2-HIGH) vs relaxed priorities?
    // D = max over v of |F1(v) - F2(v)|, computed exactly as
    // max|c1·n2 - c2·n1| / (n1·n2); ks_scaled is the sqrt-normalized
    // statistic (sqrt is correctly rounded IEEE, so still deterministic).
    "q_ks_test" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("g"))
      val per = o.groupBy(col("v"))
        .agg(sum(col("g")).cast("long").as("a1"),
          sum(lit(1L) - col("g")).cast("long").as("a2"))
      // Both empirical CDFs in ONE two-phase range-partitioned pass
      // (OrderStats) — distinct-value cardinality scales with the data,
      // so no single-partition window.
      val cum = graft.operators.OrderStats.running(
        per, Seq(col("v")), None, Seq("a1" -> "c1", "a2" -> "c2"))
      val ns = per.agg(sum(col("a1")).cast("long").as("n1"),
        sum(col("a2")).cast("long").as("n2"))
      cum.crossJoin(broadcast(ns))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          (col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("ks_d"),
          (col("d_num").cast("double") /
            (col("n1") * col("n2")).cast("double") *
            sqrt((col("n1") * col("n2")).cast("double") /
              (col("n1") + col("n2")).cast("double"))).as("ks_scaled"))
    },

    // Ranking AUC via the Mann–Whitney U statistic with tie-averaged
    // ranks: score = order value, label = finished order. Ties share the
    // average of their rank span; 2×rank (min+max) keeps everything
    // integer, so AUC = (R2 − n1(n1+1)) / (2·n1·n0) with an exact
    // integer numerator. One aggregation, one window over distinct
    // scores, one scalar division.
    "q_auc_rank" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
      val per = o.groupBy(col("v"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("pos")).cast("long").as("npos"))
      // Running count over every distinct score — cardinality scales
      // with the data, so the cumulative sum goes through the two-phase
      // range-partitioned OrderStats, not a single-partition window.
      val ranked = graft.operators.OrderStats.running(
        per, Seq(col("v")), None, Seq("cnt" -> "cum"))
        // min rank = cum-cnt+1, max rank = cum; their sum is 2× the
        // tie-averaged rank shared by every row at this value.
        .withColumn("r2_contrib",
          col("npos") * (col("cum") - col("cnt") + 1 + col("cum")))
      ranked.agg(
          sum(col("npos")).cast("long").as("n_pos"),
          sum(col("cnt") - col("npos")).cast("long").as("n_neg"),
          sum(col("r2_contrib")).cast("long").as("r2"))
        .select(col("n_pos"), col("n_neg"),
          (col("r2") - col("n_pos") * (col("n_pos") + 1)).as("u2"),
          ((col("r2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
    },

    // Nelson–Aalen cumulative hazard of user lifetime (seconds between
    // first and last event, floored to days). Censoring is a
    // deterministic 1-in-4 flag so both engines agree without a clock.
    // At each death time d: hazard += deaths·1e12 DIV at-risk (integer
    // micro-units — truncation is identical in both engines). The
    // per-user frame is tiny next to the events table; the only
    // data-sized pass is the per-user min/max aggregation.
    "q_survival_hazard" -> { (s, dir) =>
      val life = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(((unix_timestamp(max(col("ts"))) -
          unix_timestamp(min(col("ts")))) / 86400).cast("long").as("d"))
        .withColumn("observed",
          when(pmod(col("user_id"), lit(4)) =!= 0, 1L).otherwise(0L))
      val per = life.groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("observed")).cast("long").as("deaths"))
      // ONE fused OrderStats pass (round 6): at-risk at d = everyone whose
      // lifetime >= d = the DESCENDING cumulative count, derived from the
      // ascending pass as total − exclusive prefix; the hazard increment
      // (deaths·1e12 DIV at-risk, integer micro-units) is a derived column
      // over that output, and its cumulative rides the same materialized
      // partitioning — one exchange total, where round 5 paid two range
      // shuffles + two checkpoints. The frame is post-groupBy(d): ≤ a few
      // thousand distinct lifetime days at ANY sf, hence boundedInput.
      val stats = graft.operators.OrderStats.running(
        per, Seq(col("d")), None,
        cumDesc = Seq("cnt" -> "n_risk"),
        derived = Seq("hazard_micro" -> ((r: org.apache.spark.sql.Row) =>
          if (r.getAs[Long]("deaths") > 0)
            Long.box(r.getAs[Long]("deaths") * 1000000000000L /
              r.getAs[Long]("n_risk"))
          else null)),
        derivedCum = Seq("hazard_micro" -> "cum_hazard_micro"),
        boundedInput = true)
      stats.filter(col("deaths") > 0)
        .select(col("d").as("d_days"), col("deaths"), col("n_risk"),
          col("hazard_micro"),
          (col("cum_hazard_micro").cast("double") / lit(1e12))
            .as("cum_hazard"))
        .orderBy(col("d_days"))
    },

    // Max drawdown of the detrended daily-revenue series: v_d =
    // Σ(daily·n_days − total) stays integer (scaling by n_days instead
    // of subtracting the fractional mean), running max − current = the
    // drawdown, and the trough row pins WHERE the worst slump bottomed
    // out. Single row out; the daily frame is ~2.4k rows at any sf.
    "q_max_drawdown" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val tot = daily.agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("cents")).cast("long").as("total"))
      // ONE fused OrderStats pass (round 6): cumMaxOfCum emits the running
      // detrended sum v AND the exclusive running max of v from the same
      // exchange (pass 1 additionally tracks each partition's max local
      // prefix, so cross-partition max offsets come from metadata) — round
      // 5 chained two running() calls here. Daily frame is ~2.4k rows at
      // any sf (bounded by the calendar), hence boundedInput.
      val series = graft.operators.OrderStats.running(
          daily.crossJoin(broadcast(tot))
            .withColumn("dev", col("cents") * col("n_days") - col("total")),
          Seq(col("day")), None,
          cumMaxOfCum = Seq(("dev", "v", "pm")),
          boundedInput = true)
        .withColumn("peak", greatest(coalesce(col("pm"), col("v")), col("v")))
        .withColumn("dd", col("peak") - col("v"))
      series.agg(max(col("n_days")).as("n_days"),
          max(col("dd")).as("dd_scaled"))
        .crossJoin(broadcast(series.select(col("day"), col("dd"))))
        .filter(col("dd") === col("dd_scaled"))
        .groupBy(col("n_days"), col("dd_scaled"))
        .agg(min(col("day")).as("trough"))
        .select(col("n_days"), col("dd_scaled"),
          (col("dd_scaled").cast("double") /
            (col("n_days").cast("double") * 100.0)).as("max_drawdown_usd"),
          date_format(col("trough"), "yyyy-MM-dd").as("trough_day"))
    })

  val oracle: Map[String, String] = Map(
    "q_ks_test" ->
      """WITH o AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS g
        |  FROM orders),
        |per AS (SELECT v, CAST(SUM(g) AS BIGINT) AS a1,
        |    CAST(SUM(1 - g) AS BIGINT) AS a2 FROM o GROUP BY v),
        |cum AS (SELECT v, a1, a2,
        |    SUM(a1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS c1,
        |    SUM(a2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS c2 FROM per),
        |ns AS (SELECT CAST(SUM(a1) AS BIGINT) AS n1,
        |    CAST(SUM(a2) AS BIGINT) AS n2 FROM per)
        |SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
        |  CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
        |  CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE) /
        |    CAST(MAX(n1) * MAX(n2) AS DOUBLE) AS ks_d,
        |  CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE) /
        |    CAST(MAX(n1) * MAX(n2) AS DOUBLE) *
        |    SQRT(CAST(MAX(n1) * MAX(n2) AS DOUBLE) /
        |      CAST(MAX(n1) + MAX(n2) AS DOUBLE)) AS ks_scaled
        |FROM cum CROSS JOIN ns""".stripMargin,
    "q_auc_rank" ->
      """WITH o AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS pos FROM orders),
        |per AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(pos) AS BIGINT) AS npos FROM o GROUP BY v),
        |rk AS (SELECT cnt, npos,
        |    SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum FROM per)
        |SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
        |  CAST(SUM(cnt - npos) AS BIGINT) AS n_neg,
        |  CAST(SUM(npos * (cum - cnt + 1 + cum)) -
        |    SUM(npos) * (SUM(npos) + 1) AS BIGINT) AS u2,
        |  CAST(SUM(npos * (cum - cnt + 1 + cum)) -
        |    SUM(npos) * (SUM(npos) + 1) AS DOUBLE) /
        |    (2.0 * CAST(SUM(npos) AS DOUBLE) *
        |      CAST(SUM(cnt - npos) AS DOUBLE)) AS auc
        |FROM rk""".stripMargin,
    "q_survival_hazard" ->
      """WITH life AS (SELECT user_id,
        |    date_diff('second', MIN(ts), MAX(ts)) // 86400 AS d,
        |    CASE WHEN user_id % 4 <> 0 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS observed
        |  FROM events GROUP BY user_id),
        |per AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(observed) AS BIGINT) AS deaths FROM life GROUP BY d),
        |risk AS (SELECT d, cnt, deaths,
        |    SUM(cnt) OVER (ORDER BY d DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS n_risk FROM per),
        |hz AS (SELECT d, deaths, n_risk,
        |    deaths * 1000000000000 // n_risk AS hazard_micro
        |  FROM risk WHERE deaths > 0)
        |SELECT d AS d_days, deaths, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(hazard_micro AS BIGINT) AS hazard_micro,
        |  CAST(SUM(hazard_micro) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e12 AS cum_hazard
        |FROM hz ORDER BY d_days""".stripMargin,
    "q_max_drawdown" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(cents) AS BIGINT) AS total FROM daily),
        |ser AS (SELECT day,
        |    SUM(cents * n_days - total) OVER (ORDER BY day ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS v, n_days
        |  FROM daily CROSS JOIN tot),
        |dd AS (SELECT day, n_days,
        |    MAX(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - v AS dd FROM ser),
        |mx AS (SELECT MAX(n_days) AS n_days, MAX(dd) AS dd_scaled FROM dd)
        |SELECT CAST(mx.n_days AS BIGINT) AS n_days,
        |  CAST(mx.dd_scaled AS BIGINT) AS dd_scaled,
        |  CAST(mx.dd_scaled AS DOUBLE) /
        |    (CAST(mx.n_days AS DOUBLE) * 100.0) AS max_drawdown_usd,
        |  strftime(MIN(dd.day), '%Y-%m-%d') AS trough_day
        |FROM mx JOIN dd ON dd.dd = mx.dd_scaled
        |GROUP BY mx.n_days, mx.dd_scaled""".stripMargin)
}
