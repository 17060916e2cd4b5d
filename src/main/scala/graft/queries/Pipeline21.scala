package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.OrderStats
import Qs._

/** Twenty-first batch: pretraining data-mixture planning, Gopher-style
  * repetition signals, funnel conversion, SCD2 interval construction,
  * integer-exact truncated EWMA, a Deequ-style data-quality audit,
  * bitmap-index distinct rollups, and ordered triangle counting.
  *
  * Scale design:
  *  - q_doc_mix is three keyed aggregations; the temperature weight
  *    avoids any cross-group float sum (w_rel is per-row IEEE sqrt of a
  *    ratio of exact longs against the broadcast max), so no
  *    renormalization nondeterminism exists to begin with.
  *  - q_repetition_stats shuffles (doc, gram) pairs — never documents —
  *    and both gram streams collapse map-side (partial count/distinct).
  *  - q_funnel is the keyed-min ladder: one aggregation per step, each
  *    joined user-keyed; no windows, no per-user state machines.
  *  - q_scd2 uses only user-partitioned windows (change detection via
  *    lag, interval close via lead) — the frame per key is a user's
  *    event history, never the table.
  *  - q_ewma gets the day's dense rank from OrderStats (range-partitioned
  *    two-phase), then the 8-day weighted window is a broadcast
  *    rank-range self-join over the calendar-bounded daily frame with
  *    power-of-two integer weights — numerator/denominator stay exact
  *    BIGINT, one double division at the end.
  *  - q_dq_audit: every rule is one partial+final aggregation (the RI
  *    rule an orderkey-shuffled anti join); the report is a union of
  *    1-row frames. This is the constraint-report shape (completeness,
  *    uniqueness, range, referential) a 100 TB ingest gate runs.
  *  - q_bitmap_index packs users into 63-bit words per (type, bucket) —
  *    the roaring-style rollup: distinct-by-popcount equals the exact
  *    distinct while storing |users|/63 words; the verification column
  *    recomputes countDistinct alongside.
  *  - q_triangle_count orients every edge low→high so each triangle is
  *    counted exactly once; two hash joins over the oriented edge list,
  *    with the subgraph cut (keys < 400) bounding the pair explosion the
  *    same way the dedup family caps candidate fan-out.
  */
object Pipeline21 extends Batch {

  val queries: Map[String, Q] = Map(
    // Pretraining mixture report: token mass per (lang, source) with
    // corpus share and sqrt-temperature sampling weight relative to the
    // heaviest group (alpha = 0.5 — the standard multilingual upweight).
    "q_doc_mix" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("toks")).cast("long").as("n_tokens"))
      val tot = g.agg(sum(col("n_tokens")).cast("long").as("t_all"),
        max(col("n_tokens")).cast("long").as("t_max"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("t_all").cast("double"))
            .as("share"),
          sqrt(col("n_tokens").cast("double") / col("t_max").cast("double"))
            .as("w_rel"))
        .orderBy(col("lang"), col("source"))
    },

    // Gopher-style repetition signals per doc: duplicate-trigram
    // fraction and top-bigram share. Degenerate docs (< 3 tokens) carry
    // no trigrams and are excluded the same way on both engines.
    "q_repetition_stats" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
      val tg = d.select(col("doc_id"), explode(when(size(col("l")) >= 3,
          expr("transform(sequence(1, size(l) - 2)," +
            " i -> concat_ws(' ', l[i-1], l[i], l[i+1]))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n3"),
          countDistinct(col("g")).cast("long").as("d3"))
      val bg = d.select(col("doc_id"), explode(when(size(col("l")) >= 2,
          expr("zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1)," +
            " (a, b) -> concat_ws(' ', a, b))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).cast("long").as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).cast("long").as("top2_n"),
          sum(col("c")).cast("long").as("n2"))
      tg.join(bg, Seq("doc_id"))
        .select(col("doc_id"), col("n3"), col("d3"),
          (lit(1.0) - col("d3").cast("double") / col("n3").cast("double"))
            .as("dup3_frac"),
          col("top2_n"), col("n2"),
          (col("top2_n").cast("double") / col("n2").cast("double"))
            .as("top2_share"))
        .orderBy(col("doc_id"))
    },

    // Ordered funnel view → click → purchase: each step's earliest
    // qualifying time must strictly follow the previous step's. One
    // keyed aggregation per step; single-row report.
    "q_funnel_strict" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      // NOT Ckpt.shared (round 12, measured): v and c are each referenced
      // twice and the audit counts 6 events scans, but every duplicate
      // is a type-filtered pruned scan + tiny per-user aggregate running
      // as parallel stages inside one job; two eager checkpoints
      // serialized two extra jobs and measured wall 0.62→0.73s at flat
      // CPU. WORSE at the gate.
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
      v.agg(count(lit(1)).cast("long").as("n_view")).crossJoin(
          broadcast(c.agg(count(lit(1)).cast("long").as("n_click"))))
        .crossJoin(broadcast(p.agg(count(lit(1)).cast("long").as("n_buy"))))
        .select(col("n_view"), col("n_click"), col("n_buy"),
          (col("n_click").cast("double") / col("n_view").cast("double"))
            .as("view_to_click"),
          (col("n_buy").cast("double") / col("n_click").cast("double"))
            .as("click_to_buy"))
    },

    // SCD2 interval construction: a user's event_type stream becomes
    // [valid_from, valid_to) state intervals (change detection by lag,
    // close by lead — user-partitioned windows only), reported per state.
    "q_scd2_report" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val starts = ev
        .withColumn("prev", lag(col("event_type"), 1).over(wu))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(wu))
      starts.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_intervals"),
          sum(when(col("valid_to").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_closed"),
          sum(when(col("valid_to").isNotNull,
            unix_micros(col("valid_to")) - unix_micros(col("ts")))
            .otherwise(0L)).cast("long").as("dur_micros"))
        .select(col("event_type"), col("n_intervals"), col("n_closed"),
          col("dur_micros"),
          expr("dur_micros DIV greatest(n_closed, 1L)").as("avg_micros"))
        .orderBy(col("event_type"))
    },

    // Truncated EWMA (alpha = 1/2, window 8 days) of daily revenue:
    // weights are powers of two, so numerator and denominator are exact
    // BIGINTs; a single double division emits the smoothed value.
    "q_ewma_trunc" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val ranked = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        boundedInput = true)
      val a = ranked.select(col("day"), col("cents"), col("rn"))
      val b = broadcast(ranked.select(col("rn").as("brn"),
        col("cents").as("bcents")))
      a.join(b, col("brn").between(col("rn") - 7, col("rn")))
        .withColumn("w",
          expr("CAST(POWER(2, 7 - (rn - brn)) AS BIGINT)"))
        .groupBy(col("day"))
        .agg(max(col("cents")).as("cents"),
          sum(col("w") * col("bcents")).cast("long").as("num"),
          sum(col("w")).cast("long").as("den"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          col("cents"), col("num"), col("den"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("ewma_cents"))
        .orderBy(col("day_s"))
    },

    // Deequ-style data-quality audit: completeness, range, uniqueness,
    // referential integrity — each rule one aggregation, unioned into
    // the ingest-gate report.
    "q_dq_audit" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val docs = t(s, dir, "documents")
      def rule(name: String, checked: org.apache.spark.sql.Column,
          viol: org.apache.spark.sql.Column, df: org.apache.spark.sql.DataFrame) =
        df.agg(sum(checked).cast("long").as("n_checked"),
            sum(viol).cast("long").as("n_violations"))
          .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
            (lit(1.0) - col("n_violations").cast("double") /
              col("n_checked").cast("double")).as("pass_rate"))
      val one = lit(1L)
      val r1 = rule("lineitem.quantity_in_1_50", one,
        when(col("l_quantity").isNull ||
          col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L), li)
      val r2 = rule("orders.totalprice_positive", one,
        when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
          .otherwise(0L), o)
      val r3 = rule("documents.nonempty", one,
        when(col("n_chars").isNull || col("n_chars") <= 0, 1L).otherwise(0L),
        docs)
      // uniqueness: duplicate orderkeys = rows - distinct keys
      val r4 = o.agg(count(lit(1)).cast("long").as("n_checked"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).cast("long")
            .as("n_violations"))
        .select(lit("orders.orderkey_unique").as("rule"), col("n_checked"),
          col("n_violations"),
          (lit(1.0) - col("n_violations").cast("double") /
            col("n_checked").cast("double")).as("pass_rate"))
      // referential integrity: lineitem rows whose orderkey has no order
      val orphans = li.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
      val r5 = li.agg(count(lit(1)).cast("long").as("n_checked"))
        .crossJoin(broadcast(
          orphans.agg(count(lit(1)).cast("long").as("n_violations"))))
        .select(lit("lineitem.orderkey_exists").as("rule"), col("n_checked"),
          col("n_violations"),
          (lit(1.0) - col("n_violations").cast("double") /
            col("n_checked").cast("double")).as("pass_rate"))
      r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
        .orderBy(col("rule"))
    },

    // Bitmap-index distinct rollup: users packed into 63-bit words per
    // (event_type, bucket); popcount-summed distinct equals the exact
    // distinct (verified side-by-side) while the index stores
    // |users|/63 words per type.
    "q_bitmap_index" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id"))
      val words = ev
        // Floor division + non-negative modulus (the repo's range-join
        // shape): plain DIV/% truncate toward zero and carry the dividend
        // sign, so a negative user_id would feed shiftleft a negative bit
        // position and corrupt the packed word. pmod keeps the bit in
        // [0, 63) over the whole long domain.
        .withColumn("bucket", expr(
          "CASE WHEN user_id % 63 < 0 THEN user_id DIV 63 - 1 " +
            "ELSE user_id DIV 63 END"))
        .withColumn("bit", expr("shiftleft(1L, CAST(pmod(user_id, 63) AS INT))"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(bit_or(col("bit")).as("word"))
      val packed = words.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(bit_count(col("word"))).cast("long").as("bitmap_distinct"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).cast("long").as("exact_distinct"))
      packed.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_words"), col("bitmap_distinct"),
          col("exact_distinct"),
          (col("bitmap_distinct") === col("exact_distinct")).as("agrees"))
        .orderBy(col("event_type"))
    },

    // Triangle count on the low-key co-purchase subgraph: edges oriented
    // low→high (each triangle counted once), two hash joins; the key cut
    // bounds the pair explosion.
    "q_triangle_count" -> { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .filter(col("l_partkey") < 400)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      val b = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("v"))
      // Materialize the oriented edge list once: the three-way triangle
      // self-join otherwise re-derives it (and re-scans lineitem) per
      // branch — 8 scans / 22 exchanges observed before the checkpoint.
      val edges = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
        .select(col("u"), col("v")).distinct().ckpt()
      val e1 = edges.select(col("u").as("x"), col("v").as("y"))
      val e2 = edges.select(col("u").as("y"), col("v").as("z"))
      val e3 = edges.select(col("u").as("x"), col("v").as("z"))
      val tri = e1.join(e2, Seq("y")).join(e3, Seq("x", "z"))
        .agg(count(lit(1)).cast("long").as("n_triangles"))
      edges.agg(count(lit(1)).cast("long").as("n_edges"),
          countDistinct(col("u")).cast("long").as("nu"))
        .crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_triangles"))
    })

  val oracle: Map[String, String] = Map(
    "q_doc_mix" ->
      """WITH g AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_all,
        |    CAST(MAX(n_tokens) AS BIGINT) AS t_max FROM g)
        |SELECT lang, source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(t_all AS DOUBLE) AS share,
        |  SQRT(CAST(n_tokens AS DOUBLE) / CAST(t_max AS DOUBLE)) AS w_rel
        |FROM g, tot ORDER BY lang, source""".stripMargin,

    "q_repetition_stats" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |tg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n3,
        |    CAST(COUNT(DISTINCT g) AS BIGINT) AS d3
        |  FROM (SELECT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g
        |        FROM d, UNNEST(generate_series(1, len(l) - 2)) AS t(i))
        |  GROUP BY doc_id),
        |bgc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, l[i] || ' ' || l[i + 1] AS g
        |        FROM d, UNNEST(generate_series(1, len(l) - 1)) AS t(i))
        |  GROUP BY doc_id, g),
        |bg AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_n,
        |    CAST(SUM(c) AS BIGINT) AS n2 FROM bgc GROUP BY doc_id)
        |SELECT tg.doc_id, n3, d3,
        |  1.0 - CAST(d3 AS DOUBLE) / CAST(n3 AS DOUBLE) AS dup3_frac,
        |  top2_n, n2, CAST(top2_n AS DOUBLE) / CAST(n2 AS DOUBLE) AS top2_share
        |FROM tg JOIN bg ON tg.doc_id = bg.doc_id
        |ORDER BY tg.doc_id""".stripMargin,

    "q_funnel_strict" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
        |    JOIN v ON e.user_id = v.user_id
        |    WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t_buy FROM events e
        |    JOIN c ON e.user_id = c.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_buy,
        |  CAST((SELECT COUNT(*) FROM c) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM v) AS DOUBLE) AS view_to_click,
        |  CAST((SELECT COUNT(*) FROM p) AS DOUBLE) /
        |    CAST((SELECT COUNT(*) FROM c) AS DOUBLE) AS click_to_buy""".stripMargin,

    "q_scd2_report" ->
      """WITH ev AS (SELECT user_id, event_type, ts, event_id FROM events),
        |marked AS (SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER w AS prev
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (SELECT user_id, event_type, ts,
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM marked WHERE prev IS NULL OR prev <> event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_closed,
        |  CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN
        |      epoch_us(valid_to) - epoch_us(ts) ELSE 0 END) AS BIGINT)
        |    AS dur_micros,
        |  CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN
        |      epoch_us(valid_to) - epoch_us(ts) ELSE 0 END) //
        |    GREATEST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END), 1)
        |    AS BIGINT) AS avg_micros
        |FROM starts GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_ewma_trunc" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |ranked AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn FROM daily)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day_s,
        |  CAST(MAX(a.cents) AS BIGINT) AS cents,
        |  CAST(SUM(CAST(POWER(2, 7 - (a.rn - b.rn)) AS BIGINT) * b.cents)
        |    AS BIGINT) AS num,
        |  CAST(SUM(CAST(POWER(2, 7 - (a.rn - b.rn)) AS BIGINT)) AS BIGINT)
        |    AS den,
        |  CAST(SUM(CAST(POWER(2, 7 - (a.rn - b.rn)) AS BIGINT) * b.cents)
        |      AS DOUBLE) /
        |    CAST(SUM(CAST(POWER(2, 7 - (a.rn - b.rn)) AS BIGINT)) AS DOUBLE)
        |    AS ewma_cents
        |FROM ranked a JOIN ranked b ON b.rn BETWEEN a.rn - 7 AND a.rn
        |GROUP BY a.day ORDER BY day_s""".stripMargin,

    "q_dq_audit" ->
      """WITH r1 AS (SELECT 'lineitem.quantity_in_1_50' AS rule,
        |    CAST(COUNT(*) AS BIGINT) AS n_checked,
        |    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |      OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |  FROM lineitem),
        |r2 AS (SELECT 'orders.totalprice_positive',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders),
        |r3 AS (SELECT 'documents.nonempty', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM documents),
        |r4 AS (SELECT 'orders.orderkey_unique', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders),
        |r5 AS (SELECT 'lineitem.orderkey_exists',
        |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
        |    CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS BIGINT)),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
        |  UNION ALL SELECT * FROM r5)
        |SELECT rule, n_checked, n_violations,
        |  1.0 - CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE)
        |    AS pass_rate
        |FROM u ORDER BY rule""".stripMargin,

    "q_bitmap_index" ->
      """WITH words AS (SELECT event_type, user_id // 63 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) <<
        |      CAST(((user_id % 63) + 63) % 63 AS INT)) AS word
        |  FROM events GROUP BY event_type, bucket),
        |packed AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(bit_count(word)) AS BIGINT) AS bitmap_distinct
        |  FROM words GROUP BY event_type),
        |ex AS (SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT p.event_type, n_words, bitmap_distinct, exact_distinct,
        |  bitmap_distinct = exact_distinct AS agrees
        |FROM packed p JOIN ex ON p.event_type = ex.event_type
        |ORDER BY p.event_type""".stripMargin,

    "q_triangle_count" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |    WHERE l_partkey < 400),
        |edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        |    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
        |  (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin)
}
