package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import Qs._

/** Seventh batch: graph analytics (triangle counting), robust statistics
  * (z-score anomalies, winsorization), streaming-semantics sliding
  * windows in batch, and temperature-scaled source mixing.
  *
  * Scale design:
  *  - Triangle counting orients every edge from its lower-degree endpoint
  *    to its higher-degree one before enumerating wedges. That bounds a
  *    node's out-degree by O(√m) on any graph, so the wedge join never
  *    explodes on hubs — the standard fix for the quadratic hot spot in
  *    co-occurrence graphs. The edge list itself is support-filtered
  *    (≥2 co-purchases) so the graph stays sparse at any scale factor.
  *  - Z-score and winsorize compute per-group stats as exact decimal sums
  *    (order-independent), broadcast the tiny per-group stat table back,
  *    and do per-row arithmetic map-side — one shuffle per query.
  *  - The sliding-window query uses Spark's native `window(ts, len,
  *    slide)`; each event lands in len/slide windows map-side, then one
  *    keyed aggregation.
  */
object Pipeline7 extends Batch {

  val queries: Map[String, Q] = Map(
    // Triangle count on the co-purchase part graph. Edges: two parts in
    // the same order (qty > 45 keeps the graph sparse), kept only with
    // support ≥ 2 orders. Degree-ordered orientation, wedge join, closing-
    // edge semi join — each triangle counted exactly once.
    "q_triangles" -> { (s, dir) =>
      val lp = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = lp.as("a").join(lp.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("u"), col("v"))
        .ckpt() // feeds degrees + orientation + closing join
      val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      // Orient from lower (degree, id) to higher — total order, no global
      // rank needed; out-degree is then O(√m) for every node.
      val lt = (col("du") < col("dv")) ||
        (col("du") === col("dv") && col("u") < col("v"))
      val eo = e
        .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
        .select(
          when(lt, col("u")).otherwise(col("v")).as("src"),
          when(lt, struct(col("dv").as("d"), col("v").as("n")))
            .otherwise(struct(col("du").as("d"), col("u").as("n"))).as("dk"))
        .select(col("src"), col("dk.n").as("dst"), col("dk").as("dstkey"))
      val wedges = eo.as("x").join(eo.as("y"),
          col("x.src") === col("y.src") && col("x.dstkey") < col("y.dstkey"))
        .select(col("x.dst").as("b"), col("y.dst").as("c"))
      wedges.join(eo.as("z"),
          col("b") === col("z.src") && col("c") === col("z.dst"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    },

    // Per-type z-score anomalies: events more than 3 σ from their type's
    // mean. Stats from exact decimal sums; the per-row z is identical
    // IEEE arithmetic in both engines.
    "q_zscore_anomaly" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy(col("event_type").as("et"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dec(col("value"), 14, 2)).cast("double").as("sx"),
          sum(dec(col("value"), 14, 2) * dec(col("value"), 14, 2)).cast("double").as("sxx"))
        .select(col("et"), (col("sx") / col("n")).as("mean"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n") * (col("n") - lit(1.0)))).as("std"))
      ev.join(broadcast(stats), col("event_type") === col("et"))
        .withColumn("z", (col("value") - col("mean")) / col("std"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_id"))
    },

    // Sliding event-time windows in batch — Spark's window(ts, 10m, 5m)
    // assigns each event to its 2 containing windows map-side.
    "q_sliding_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 14, 2).as("sum_value"))
        .select(tsS(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // Winsorization: clamp each value into its type's exact [p05, p95].
    // The tiny per-type quantile table broadcasts back; the clamp is
    // map-side least/greatest.
    //
    // The bounds are computed by rank arithmetic over the grouped
    // (type, value) histogram — the q_quantile_sketch shape: OrderStats
    // prefix counts at full shuffle parallelism, never the percentile()
    // builtin's ObjectHashAggregate buffering a type's every value in
    // one task. The interpolation is written out in the SAME
    // two-product form DuckDB's QUANTILE_CONT computes,
    // (ceil−idx)·lo + (idx−floor)·hi: Spark's percentile() lerps
    // lo + (hi−lo)·frac instead, and the two forms disagree when the
    // two bracketing values are EQUAL and frac carries representation
    // error — the coefficients don't sum to exactly 1, so QUANTILE_CONT
    // returns 2.5200000000000005 where the lerp returns 2.52. Caught by
    // the ×10-corpus oracle sweep (sf1 p05 of 'error' landed on a tied
    // value with frac = .95); invisible at every gate sf.
    // COST (measured, round-9 PercentileCostProbe): the builtin stays
    // ~1.4-2× faster through ×1000 (it partially aggregates a
    // value→count map, so it never hit the predicted one-task buffering
    // wall on this value domain); the explicit form is kept for oracle
    // exactness, and the gap NARROWS with scale (1.96× → 1.37×).
    "q_winsorize" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val byVal = ev.groupBy(col("event_type"), col("value"))
        .agg(count(lit(1)).cast("long").as("c"))
      val cnts = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      val cumg = graft.operators.OrderStats.running(
        byVal, Seq(col("event_type"), col("value")), None,
        Seq("c" -> "cumg"))
      val offs = graft.operators.OrderStats.running(
          cnts, Seq(col("event_type")), None, Seq("n" -> "cumn"),
          boundedInput = true)
        .select(col("event_type"), (col("cumn") - col("n")).as("off"),
          col("n"))
      val cum = cumg.join(broadcast(offs), Seq("event_type"))
        .withColumn("cumf", col("cumg") - col("off"))
      def pick(p: Double, tag: String) = {
        val idx = lit(p) * (col("n") - 1).cast("double")
        val lo = floor(idx).cast("long") + 1
        val hi = ceil(idx).cast("long") + 1
        Seq(
          max(when(col("cumf") >= lo && col("cumf") - col("c") < lo,
            col("value"))).as(s"l$tag"),
          max(when(col("cumf") >= hi && col("cumf") - col("c") < hi,
            col("value"))).as(s"h$tag"))
      }
      def interp(p: Double, tag: String) = {
        val idx = lit(p) * (col("n") - 1).cast("double")
        val loD = floor(idx)
        val hiD = ceil(idx)
        when(loD === hiD, col(s"l$tag"))
          .otherwise((hiD - idx) * col(s"l$tag") + (idx - loD) * col(s"h$tag"))
      }
      val qs = cum.groupBy(col("event_type").as("et"), col("n"))
        .agg((pick(0.05, "05") ++ pick(0.95, "95")).head,
          (pick(0.05, "05") ++ pick(0.95, "95")).tail: _*)
        .select(col("et"), interp(0.05, "05").as("lo"),
          interp(0.95, "95").as("hi"))
      ev.join(broadcast(qs), col("event_type") === col("et"))
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("lo")), col("hi")).as("w_value"))
        .orderBy(col("event_id"))
    },

    // Cross-source contamination matrix: for every source pair, how many
    // distinct 10-token passages they share. The per-(hash, source)
    // distinct bounds the self-join at C(#sources, 2) rows per passage —
    // boilerplate shared by every source costs 190 pairs, not n².
    // Shuffles move 32-byte hashes, never text.
    "q_source_overlap" -> { (s, dir) =>
      val hs = t(s, dir, "documents")
        .select(col("source"), explode(expr(
          "transform(sequence(0, CAST((size(split(text, ' ')) + 9) DIV 10 AS INT) - 1), " +
            "i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))"))
          .as("passage"))
        .select(md5f(col("passage")).as("h"), col("source"))
        .distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(countDistinct(col("a.h")).as("n_shared"))
        .orderBy(col("n_shared").desc, col("src_a"), col("src_b"))
    },

    // Content-defined chunking (the storage-dedup boundary trick, on
    // text): a boundary opens wherever the rolling 4-token hash starts
    // with 0 or 1 (hex → P ≈ 1/8, mean chunk ≈ 8 tokens), so chunk
    // edges survive insertions/deletions that shift token positions —
    // unlike fixed-width passages. Emits chunks repeated across the
    // corpus. All windows partition by doc_id: per-document work,
    // embarrassingly parallel at corpus scale.
    "q_cdc_chunks" -> { (s, dir) =>
      val wg = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(-3, 0)
      val wc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("h", md5f(concat_ws(" ", collect_list(col("tok")).over(wg))))
        .withColumn("bd", when(col("pos") >= 3 &&
          substring(col("h"), 1, 1).isin("0", "1"), 1).otherwise(0))
        .withColumn("cid", sum(col("bd")).over(wc))
        .groupBy(col("doc_id"), col("cid"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"), " ")
          .as("chunk"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("chunk"))
        .limit(50)
    },

    // Exponentially weighted moving average over each user's trailing 16
    // events: ewma = 0.5·ewma_prev + 0.5·x, seeded with the oldest frame
    // element. A fixed-order left fold over the frame list — Spark's
    // aggregate() HOF and DuckDB's list_reduce fold identically, and
    // α = 0.5 keeps every multiply exact-rounded IEEE, so the result is
    // bit-identical. Frame bounded at 16 rows → state O(1) per row at
    // any scale (an unbounded-preceding list would grow with history).
    "q_ewma" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-15, 0)
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          expr("aggregate(slice(l, 2, size(l) - 1), element_at(l, 1)," +
            " (acc, x) -> acc * 0.5d + x * 0.5d)").as("ewma"))
        .orderBy(col("event_id"))
    },

    // Incremental aggregate maintenance: the base (pre-cutoff) partial
    // aggregate merges with the delta's via sum-of-sums / sum-of-counts —
    // no rescan of base data. The oracle computes the full aggregate from
    // scratch, so a green row proves merged == recomputed (the algebraic-
    // aggregate property that makes incremental view maintenance sound).
    "q_incr_agg" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"), col("ts"))
      def partial(f: org.apache.spark.sql.DataFrame) =
        f.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(dec(col("value"), 14, 2)).as("total"))
      val base = partial(ev.filter(col("ts") < "2024-01-20"))
      val delta = partial(ev.filter(col("ts") >= "2024-01-20"))
      base.union(delta)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n"), sum(col("total")).cast("double").as("total"))
        .withColumn("avg_value", col("total") / col("n").cast("double"))
        .orderBy(col("user_id"))
    },

    // Temperature-scaled source mixing (α = 0.5): per-source sampling
    // weight √n relative to the largest source — the standard flattening
    // of a skewed corpus mix, with √ chosen because IEEE sqrt is exactly
    // rounded (bit-identical across engines, unlike pow).
    "q_source_temperature" -> { (s, dir) =>
      val counts = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val top = counts.agg(max(col("n_docs")).as("max_docs"))
      counts.join(broadcast(top))
        .select(col("source"), col("n_docs"), col("n_chars"),
          (sqrt(col("n_docs").cast("double")) / sqrt(col("max_docs").cast("double")))
            .as("rel_weight"))
        .orderBy(col("source"))
    })

  val oracle: Map[String, String] = Map(
    "q_triangles" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |    FROM lineitem WHERE l_quantity > 45),
        |e AS (SELECT a.pk AS u, b.pk AS v
        |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.v = e2.u
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "q_zscore_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events
        |    WHERE value IS NOT NULL),
        |st AS (SELECT event_type AS et,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2)))
        |      AS DOUBLE) AS sxx
        |  FROM ev GROUP BY 1),
        |sd AS (SELECT et, sx / n AS mean,
        |    SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) AS std FROM st)
        |SELECT event_id, event_type, value, (value - mean) / std AS z
        |FROM ev JOIN sd ON event_type = et
        |WHERE ABS((value - mean) / std) > 3.0
        |ORDER BY event_id""".stripMargin,
    "q_sliding_window" ->
      s"""WITH b AS (SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS b5,
         |    event_type, value FROM events),
         |w AS (SELECT b5 AS ws, event_type, value FROM b
         |  UNION ALL
         |  SELECT b5 - INTERVAL 5 MINUTES, event_type, value FROM b)
         |SELECT ${tsSqlS("ws")} AS window_start, event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
         |FROM w GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin,
    "q_winsorize" ->
      """WITH ev AS (SELECT event_id, event_type, value FROM events
        |    WHERE value IS NOT NULL),
        |q AS (SELECT event_type AS et,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM ev GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  LEAST(GREATEST(value, lo), hi) AS w_value
        |FROM ev JOIN q ON event_type = et
        |ORDER BY event_id""".stripMargin,
    "q_source_overlap" ->
      """WITH p AS (SELECT source, unnest(
        |    list_transform(range((len(string_split(text, chr(32))) + 9) // 10),
        |      i -> array_to_string(
        |        list_slice(string_split(text, chr(32)), i * 10 + 1, i * 10 + 10),
        |        chr(32)))) AS passage
        |  FROM documents),
        |hs AS (SELECT DISTINCT md5(passage) AS h, source FROM p)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(DISTINCT a.h) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY n_shared DESC, src_a, src_b""".stripMargin,
    "q_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(32)), 1) AS pos,
        |    unnest(string_split(text, chr(32))) AS tok
        |  FROM documents),
        |g AS (SELECT doc_id, pos, tok, md5(string_agg(tok, chr(32)) OVER
        |    (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS h
        |  FROM toks),
        |b AS (SELECT doc_id, pos, tok,
        |    CASE WHEN pos >= 4 AND left(h, 1) IN ('0','1') THEN 1 ELSE 0 END AS bd
        |  FROM g),
        |c AS (SELECT doc_id, pos, tok,
        |    SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS cid FROM b),
        |ch AS (SELECT doc_id, cid,
        |    string_agg(tok, chr(32) ORDER BY pos) AS chunk FROM c GROUP BY 1, 2)
        |SELECT chunk, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM ch GROUP BY chunk HAVING COUNT(*) >= 2
        |ORDER BY n DESC, chunk LIMIT 50""".stripMargin,
    "q_ewma" ->
      """WITH ev AS (SELECT event_id, user_id, value, ts FROM events
        |    WHERE value IS NOT NULL),
        |w AS (SELECT event_id, user_id, value,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM ev)
        |SELECT event_id, user_id, value,
        |  list_reduce(l, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
        |FROM w ORDER BY event_id""".stripMargin,
    "q_incr_agg" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_source_temperature" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |    FROM documents GROUP BY 1)
        |SELECT source, n_docs, n_chars,
        |  SQRT(CAST(n_docs AS DOUBLE)) /
        |    SQRT(CAST((SELECT MAX(n_docs) FROM c) AS DOUBLE)) AS rel_weight
        |FROM c ORDER BY source""".stripMargin)
}
