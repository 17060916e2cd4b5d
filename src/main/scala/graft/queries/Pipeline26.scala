package graft.queries

import org.apache.spark.sql.functions._

import Qs._

/** Twenty-sixth batch: operational calendar analytics — the
  * hour-of-week load heatmap, conversion-stage latency distribution,
  * per-source curation gate matrix, and weekend revenue lift.
  *
  * Scale design: every query is one or two keyed aggregations over the
  * fact table with bounded group counts (7×24 cells, log2 latency
  * bands, |sources| rows) — partial+final aggregation all the way, no
  * windows, no joins wider than a broadcast of per-user firsts.
  * Cross-engine parity notes: Spark `dayofweek` is 1-based
  * (Sunday = 1) while DuckDB's `dow` is 0-based (Sunday = 0), so the
  * Spark side subtracts 1; timestamps are micros in both engines and
  * the session is pinned UTC.
  */
object Pipeline26 extends Batch {

  val queries: Map[String, Q] = Map(
    // Hour-of-week load heatmap: event count and exact value cents per
    // (day-of-week, hour) cell — the capacity-planning view.
    "q_hour_dow_heatmap" -> { (s, dir) =>
      t(s, dir, "events")
        .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("cents")).cast("long").as("value_cents"))
        .orderBy(col("dow"), col("hod"))
    },

    // Conversion latency: per user, the gap from first click to the
    // first purchase AT OR AFTER that click, banded by exact integer
    // log2 of the microsecond gap. Users without the pair drop out; the
    // per-user firsts are two tiny aggregates joined back.
    "q_stage_latency" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val firstClick = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("us")).as("click_us"))
      val firstBuy = e.join(firstClick, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("us") >= col("click_us"))
        .groupBy(col("user_id"), col("click_us"))
        .agg(min(col("us")).as("buy_us"))
        .withColumn("gap_us", col("buy_us") - col("click_us"))
      firstBuy
        .withColumn("band",
          when(col("gap_us") === 0, lit(0L))
            .otherwise((length(bin(col("gap_us"))) - 1).cast("long")))
        .groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy(col("band"))
    },

    // Curation gate matrix per source: the batch-24 funnel broken out by
    // provenance, so a single bad feed shows up as ITS row, not a
    // diluted corpus-wide rate.
    "q_source_gate_matrix" -> { (s, dir) =>
      val tokStats = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("source"), col("n_chars"), col("tok"))
        .agg(count(lit(1)).cast("long").as("ct"))
        .groupBy(col("doc_id"), col("source"), col("n_chars"))
        .agg(sum(col("ct")).cast("long").as("n_tok"),
          count(lit(1)).cast("long").as("n_distinct"),
          max(col("ct")).cast("long").as("max_ct"))
      tokStats
        .withColumn("g1", col("n_chars") >= 100 && col("n_chars") <= 20000)
        .withColumn("g2", col("n_tok") >= 10)
        .withColumn("g3", col("n_distinct") * 10 >= col("n_tok") * 3)
        .withColumn("g4", col("max_ct") * 5 <= col("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("g1"), 1L).otherwise(0L)).cast("long").as("pass_len"),
          sum(when(col("g2"), 1L).otherwise(0L)).cast("long").as("pass_tok"),
          sum(when(col("g3"), 1L).otherwise(0L)).cast("long").as("pass_diversity"),
          sum(when(col("g4"), 1L).otherwise(0L)).cast("long").as("pass_dominance"),
          sum(when(col("g1") && col("g2") && col("g3") && col("g4"), 1L)
            .otherwise(0L)).cast("long").as("pass_all"))
        .withColumn("keep_rate",
          col("pass_all").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("source"))
    },

    // Weekend revenue lift: exact integer sums and counts per calendar
    // class; the lift ratio is the only double, cross-multiplied from
    // exact terms — (weekend_cents · weekday_orders) /
    // (weekday_cents · weekend_orders).
    "q_weekend_lift" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
          ((dayofweek(col("o_orderdate")) - 1).isin(0, 6)).as("weekend"))
      o.groupBy(col("weekend"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("weekend"))
    })

  val oracle: Map[String, String] = Map(
    "q_hour_dow_heatmap" ->
      """SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
        |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stage_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |fc AS (SELECT user_id, MIN(us) AS click_us FROM e
        |  WHERE event_type = 'click' GROUP BY 1),
        |fb AS (SELECT e.user_id, fc.click_us, MIN(e.us) AS buy_us
        |  FROM e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= fc.click_us
        |  GROUP BY 1, 2),
        |g AS (SELECT buy_us - click_us AS gap_us FROM fb)
        |SELECT CASE WHEN gap_us = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(LENGTH(BIN(gap_us)) - 1 AS BIGINT) END AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_source_gate_matrix" ->
      """WITH tc AS (SELECT doc_id, source, n_chars, tok,
        |    CAST(COUNT(*) AS BIGINT) AS ct FROM (
        |    SELECT doc_id, source, n_chars,
        |      UNNEST(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2, 3, 4),
        |st AS (SELECT doc_id, source, n_chars,
        |    CAST(SUM(ct) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(ct) AS BIGINT) AS max_ct
        |  FROM tc GROUP BY 1, 2, 3),
        |fl AS (SELECT source,
        |    n_chars >= 100 AND n_chars <= 20000 AS g1,
        |    n_tok >= 10 AS g2,
        |    n_distinct * 10 >= n_tok * 3 AS g3,
        |    max_ct * 5 <= n_tok AS g4
        |  FROM st)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        |  CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_tok,
        |  CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pass_diversity,
        |  CAST(SUM(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pass_dominance,
        |  CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS pass_all,
        |  CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate
        |FROM fl GROUP BY source ORDER BY source""".stripMargin,
    "q_weekend_lift" ->
      """SELECT EXTRACT(dow FROM o_orderdate) IN (0, 6) AS weekend,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
