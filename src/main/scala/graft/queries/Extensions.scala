package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.{AsofJoin, Dedup, Multimodal, RangeJoin, Similarity, SkewJoin}
import Qs._

/** Third batch: temporal as-of join, event-time windowing in batch mode,
  * the full analytic window-function family, embedding-cosine near-dup
  * dedup, and oracle-checked multimodal metadata extraction.
  */
object Extensions extends Batch {

  val queries: Map[String, Q] = Map(
    // As-of join: each purchase event picks up the latest preceding click
    // (same user, click.ts <= purchase.ts). One shuffle on user_id —
    // see operators/AsofJoin for the union+window sweep.
    "q_asof_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsofJoin.leftAsof(purchases, clicks, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "value"), tieBreak = "event_id")
        .select(
          col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
          col("asof_event_id").as("click_id"), col("asof_value").as("click_value"))
        .orderBy(col("event_id"))
    },

    // As-of with a tolerance bound (polars join_asof tolerance=): same
    // shape as q_asof_join but a click older than 15 minutes is no match.
    "q_asof_tolerance" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsofJoin.leftAsof(purchases, clicks, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "value"), tieBreak = "event_id",
          strategy = AsofJoin.Backward,
          tolerance = Some(expr("INTERVAL 15 MINUTES")))
        .select(
          col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
          col("asof_event_id").as("click_id"), col("asof_value").as("click_value"))
        .orderBy(col("event_id"))
    },

    // Forward as-of (polars strategy="forward"): each click attributes to
    // the NEXT purchase by the same user within one hour.
    "q_asof_forward" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsofJoin.leftAsof(clicks, purchases, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "value"), tieBreak = "event_id",
          strategy = AsofJoin.Forward,
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(
          col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
          col("asof_event_id").as("purchase_id"),
          col("asof_value").as("purchase_value"))
        .orderBy(col("event_id"))
    },

    // Nearest as-of (polars strategy="nearest"): closest click either
    // side of each purchase; equidistant resolves backward.
    "q_asof_nearest" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsofJoin.leftAsof(purchases, clicks, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "value"), tieBreak = "event_id",
          strategy = AsofJoin.Nearest)
        .select(
          col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
          col("asof_event_id").as("click_id"), col("asof_value").as("click_value"))
        .orderBy(col("event_id"))
    },

    // Staged conversion funnel: view → click (at or after the user's
    // first view) → purchase (at or after that click). Three grouped
    // passes, each one hash-shuffle on user_id; stage timestamps are
    // MINs so the result is deterministic.
    "q_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val tv = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"))
      val tc = ev.join(tv, Seq("user_id"))
        .groupBy(col("user_id"), col("tv"))
        .agg(min(when(col("event_type") === "click" && col("ts") >= col("tv"),
          col("ts"))).as("tc"))
      val tp = ev.join(tc, Seq("user_id"))
        .groupBy(col("user_id"), col("tv"), col("tc"))
        .agg(min(when(col("event_type") === "purchase" && col("ts") >= col("tc"),
          col("ts"))).as("tp"))
      tp.agg(
          count(col("tv")).as("n_view"),
          count(col("tc")).as("n_view_click"),
          count(col("tp")).as("n_view_click_purchase"))
        .select(
          expr("stack(3, 'view', n_view, 'view_click', n_view_click, " +
            "'view_click_purchase', n_view_click_purchase) AS (stage, n_users)"))
        .orderBy(col("stage"))
    },

    // Tumbling event-time window aggregation in batch (same semantics a
    // Structured Streaming job would produce after watermark close).
    "q_events_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 14, 2).as("sum_value"))
        .select(
          tsS(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // Full analytic window family over the orders timeline per customer.
    "q_window_funcs" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(w).as("first_price"),
          dense_rank().over(w).cast("long").as("drank"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Embedding-cosine near-dup pairs (the dedup-family member over
    // vectors): sign-LSH candidates, exact-cosine >= 0.3 verify.
    // Adaptive per-bucket salting (floor 8, ~16M pair-checks per task)
    // spreads each bucket's pair production over as many tasks as its
    // observed population requires (partitioning-only — identical
    // pairs, no oracle change): the hot-bucket straggler guard, see
    // BENCH_SCALE round-8 skew + ×100 sections.
    "q_dedup_embed" -> { (s, dir) =>
      Similarity.cosineNearDupPairs(
        Similarity.withNorm(t(s, dir, "embeddings")), threshold = 0.3,
        bits = 4, salts = 8, taskPairBudget = 16000000L)
    },

    // RANGE window frame: 7-day trailing revenue per customer — value
    // ranges (not row counts) define the frame, the time-series shape
    // ROWS frames can't express.
    "q_window_range" -> { (s, dir) =>
      val days = datediff(col("o_orderdate"), lit("1990-01-01")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(days)
        .rangeBetween(-6, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          sum(dec(col("o_totalprice"), 14, 2)).over(w).cast("double")
            .as("trailing_7d_revenue"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Edit-distance fuzzy dedup: LSH-banded candidates verified by
    // levenshtein on 40-char prefixes (identical DP algorithm in both
    // engines) — the fourth near-dup family next to Jaccard / MinHash /
    // SimHash / cosine.
    "q_dedup_editdist" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, t10 = 5)
        .select(col("a_id"), col("b_id"))
      val txt = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
      pairs
        .join(txt.as("ta"), col("a_id") === col("ta.doc_id"))
        .join(txt.as("tb"), col("b_id") === col("tb.doc_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("ta.prefix"), col("tb.prefix")).cast("long").as("edit_dist"))
        .filter(col("edit_dist") <= 10)
        .orderBy(col("a_id"), col("b_id"))
    },

    // End-to-end dedup: LSH near-dup pairs resolved to clusters
    // (connected components via iterated min-label propagation) — the
    // survivor-selection step that turns pair detection into dedup.
    "q_dedup_clusters" -> { (s, dir) =>
      Dedup.resolveClusters(Dedup.minhashLshPairs(t(s, dir, "documents"), t10 = 8))
        .orderBy(col("doc_id"))
    },

    // Batch sessionization: 30-min-gap sessions per user via windows
    // (lag → gap flag → running session index), the batch twin of
    // Streams.sessionizeTws — no state store, two window passes.
    "q_sessionize" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          tsS(min(col("ts"))).as("session_start"),
          tsS(max(col("ts"))).as("session_end"),
          dsum(col("value"), 14, 2).as("total_value"))
        .orderBy(col("user_id"), col("session_idx"))
    },

    // Multimodal frame sampling: every-4th 16-byte window of the payload
    // as a "frame" (video-column plumbing); frames decoded back to string
    // for the cross-engine compare.
    "q_multimodal_frames" -> { (s, dir) =>
      val withPayload = Multimodal.attachPayload(t(s, dir, "documents"))
      Multimodal.frameSample(withPayload, everyN = 4, frameBytes = 16)
        .select(
          col("doc_id"),
          size(col("frames")).cast("long").as("n_frames"),
          expr("CAST(frames[0] AS STRING)").as("first_frame"))
        .orderBy(col("doc_id"))
    },

    // Forward-fill (LOCF): carry each user's last purchase value across
    // subsequent events — the gap-filling primitive of time-series
    // pipelines, as one window pass (no self-join).
    "q_ffill" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("purchase_value",
          when(col("event_type") === "purchase", col("value")))
        .select(
          col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
          last(col("purchase_value"), ignoreNulls = true).over(w)
            .as("last_purchase_value"))
        .orderBy(col("event_id"))
    },

    // SCD2 dimension build from a changelog: each user's event stream
    // becomes versioned rows with [valid_from, valid_to) intervals — the
    // lead of the next version closes the current one, the latest stays
    // open (is_current). One window over one shuffle; the lakehouse
    // upsert-history shape.
    "q_scd2" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"), col("ts"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(
          col("user_id"), col("event_id"), col("value"),
          tsS(col("ts")).as("valid_from"),
          coalesce(tsS(col("next_ts")), lit("9999-12-31 00:00:00")).as("valid_to"),
          col("next_ts").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    },

    // Linear interpolation between known observations: values are kept
    // only where event_id % 3 == 0 (simulated sparsity); the rest
    // interpolate between the previous and next known (value, time)
    // pairs, falling back to whichever side exists at the edges. Two
    // windows over one shuffle; per-row IEEE arithmetic in a fixed
    // order, so the oracle matches bit-for-bit.
    "q_interpolate" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val back = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = byUser.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val known = col("event_id") % 3 === 0
      val ev = t(s, dir, "events")
        .withColumn("kv", when(known, col("value")))
        .withColumn("kt", when(known, unix_micros(col("ts"))))
        .withColumn("pv", last(col("kv"), ignoreNulls = true).over(back))
        .withColumn("pt", last(col("kt"), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("kv"), ignoreNulls = true).over(fwd))
        .withColumn("nt", first(col("kt"), ignoreNulls = true).over(fwd))
      ev.select(
        col("event_id"), col("user_id"), tsS(col("ts")).as("ts_s"),
        when(known, col("value"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("nt") === col("pt"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((unix_micros(col("ts")) - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double")))
          .as("value_interp"))
        .orderBy(col("event_id"))
    },

    // Deterministic hash sampling: ~10% of documents via an md5-derived
    // bucket — reproducible on any engine/partitioning, unlike rand().
    "q_sample_hash" -> { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("bucket",
          conv(substring(md5f(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 10)
        .filter(col("bucket") === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    },

    // Nested types + higher-order functions: collect_list (sorted — bare
    // collect_list order is partitioning-dependent), lambda transform /
    // filter / aggregate, array predicates. Array-valued columns are
    // egressed as JSON strings: the driver's hash compare sorts rows in
    // pandas, which cannot hash ndarray cells — scalars only on the wire.
    "q_collections" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(
          col("o_custkey"),
          to_json(col("ks")).as("order_keys"),
          size(col("ks")).cast("long").as("n_orders"),
          to_json(expr("transform(ks, k -> k * 2)")).as("doubled"),
          to_json(expr("filter(ks, k -> k % 2 = 0)")).as("even_keys"),
          expr("aggregate(ks, 0L, (acc, k) -> acc + k)").as("key_sum"),
          array_contains(col("ks"), 7L).as("has_7"))
        .orderBy(col("o_custkey"))
    },

    // Salted skew join: identical rows to the plain join (the salt only
    // respreads partitions), so the oracle is the unsalted SQL join.
    "q_salted_join" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      SkewJoin.saltedInner(o, c, "o_custkey", salts = 8, dimKey = "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 14, 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },

    // Bucketized range join: purchases landing inside each user's first
    // 15 minutes of activity. Long micros arithmetic on both engines.
    "q_range_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
      val intervals = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("start_us"))
        .select(col("user_id"), col("start_us"),
          (col("start_us") + lit(15L * 60 * 1000000)).as("end_us"))
      RangeJoin.pointInInterval(points, intervals, "p_us", "start_us", "end_us",
          bucketWidth = 15L * 60 * 1000000)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases_in_window"))
        .orderBy(col("user_id"))
    },

    // IVF-flat ANN with the PRODUCTION cell sizing inside the gate
    // (round-8): nCells = max(16, ⌊√N⌋) derived from the corpus count —
    // the measured balance of assignment (N·cells) vs within-cell
    // search (N²/cells) — mirrored exactly by the oracle's
    // GREATEST(16, FLOOR(SQRT(COUNT(*)))) scalar subquery, so the gated
    // plan IS the plan that stays sub-quadratic at any sf (29.4s at
    // cells∝N vs 6.7s at √N on the 30× corpus; 110s at the round-6
    // fixed 16). 2 Lloyd rounds over exact decimal means
    // (deterministic, oracle-replayable), queries probe their 2 nearest
    // cells, top-3 by exact cosine within probed cells. The count() is a
    // metadata-cheap distributed aggregate used only to size the knob —
    // the same statistics pass any IVF build performs.
    "q_embed_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfKnn(Similarity.withNorm(emb),
        nCells = Similarity.scaledCells(emb.count()), k = 3, iters = 2,
        nprobe = 2)
    },

    // Multimodal metadata decode over binary payloads (stub decoder —
    // deterministic from the bytes, so the oracle can replay it; the
    // mapPartitions batch shape is the real plumbing under test).
    "q_multimodal_meta" -> { (s, dir) =>
      val withPayload = Multimodal.attachPayload(t(s, dir, "documents"))
      Multimodal.decodeMeta(withPayload, decoder = Multimodal.StubDecoder)
        .select(
          col("doc_id"),
          col("image_meta.width").cast("long").as("w"),
          col("image_meta.height").cast("long").as("h"),
          col("image_meta.format").as("fmt"),
          col("image_meta.n_bytes").as("n_bytes"))
        .orderBy(col("doc_id"))
    },

    // REAL codec round-trip: every document rendered as a genuine PNG
    // (grayscale pixels = utf-8 bytes, near-square) then decoded with the
    // javax.imageio reader — header-only metadata read, true PNG parsing.
    // The oracle replays the closed-form dimensions from length(text);
    // format comes from the codec itself, so a hash match proves real
    // decode, not arithmetic replay.
    "q_multimodal_imageio" -> { (s, dir) =>
      val withPng = Multimodal.attachImagePayload(t(s, dir, "documents"))
      Multimodal.decodeMeta(withPng, decoder = Multimodal.ImageIoDecoder)
        .select(
          col("doc_id"),
          col("image_meta.width").cast("long").as("w"),
          col("image_meta.height").cast("long").as("h"),
          col("image_meta.format").as("fmt"))
        .orderBy(col("doc_id"))
    },

    // Full-pixel decode through the real codec: the luminance histogram
    // of a generated grayscale PNG is exactly the byte histogram of the
    // text (plus zero-padding to the w×h raster), so the oracle replays
    // the feature vector from character counts. Float32 divisions of
    // small exact integers are correctly rounded identically in both
    // engines; widening to double afterwards preserves the bits.
    "q_multimodal_features" -> { (s, dir) =>
      val withPng = Multimodal.attachImagePayload(t(s, dir, "documents"))
      Multimodal.extractFeatures(withPng, dim = 4,
          decoder = Multimodal.ImageIoDecoder)
        .select(
          col("doc_id"),
          element_at(col("features"), 1).cast("double").as("f0"),
          element_at(col("features"), 2).cast("double").as("f1"),
          element_at(col("features"), 3).cast("double").as("f2"),
          element_at(col("features"), 4).cast("double").as("f3"))
        .orderBy(col("doc_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_asof_join" ->
      s"""SELECT p.event_id, p.user_id, ${tsSqlS("p.ts")} AS ts_s,
        |  c.event_id AS click_id, c.value AS click_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // DuckDB ASOF has no tolerance bound, so the bounded/nearest oracles
    // are LATERAL top-1 — the executable definition of the semantics.
    "q_asof_tolerance" ->
      s"""SELECT p.event_id, p.user_id, ${tsSqlS("p.ts")} AS ts_s,
        |  c.click_id, c.click_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id AS click_id, e.value AS click_value
        |  FROM events e
        |  WHERE e.event_type = 'click' AND e.user_id = p.user_id
        |    AND e.ts <= p.ts AND e.ts >= p.ts - INTERVAL 15 MINUTE
        |  ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
        |) c ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "q_asof_forward" ->
      s"""SELECT cl.event_id, cl.user_id, ${tsSqlS("cl.ts")} AS ts_s,
        |  p.purchase_id, p.purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') cl
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id AS purchase_id, e.value AS purchase_value
        |  FROM events e
        |  WHERE e.event_type = 'purchase' AND e.user_id = cl.user_id
        |    AND e.ts >= cl.ts AND e.ts <= cl.ts + INTERVAL 1 HOUR
        |  ORDER BY e.ts ASC, e.event_id DESC LIMIT 1
        |) p ON TRUE
        |ORDER BY cl.event_id""".stripMargin,
    "q_asof_nearest" ->
      s"""SELECT p.event_id, p.user_id, ${tsSqlS("p.ts")} AS ts_s,
        |  c.click_id, c.click_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT e.event_id AS click_id, e.value AS click_value
        |  FROM events e
        |  WHERE e.event_type = 'click' AND e.user_id = p.user_id
        |  ORDER BY ABS(date_diff('microsecond', e.ts, p.ts)) ASC,
        |    (e.ts > p.ts) ASC, e.event_id DESC LIMIT 1
        |) c ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "q_funnel" ->
      """WITH tv AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS tv
        |  FROM events GROUP BY user_id),
        |tc AS (SELECT e.user_id, tv.tv,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= tv.tv
        |      THEN e.ts END) AS tc
        |  FROM events e JOIN tv ON e.user_id = tv.user_id
        |  GROUP BY e.user_id, tv.tv),
        |tp AS (SELECT e.user_id, tc.tv, tc.tc,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= tc.tc
        |      THEN e.ts END) AS tp
        |  FROM events e JOIN tc ON e.user_id = tc.user_id
        |  GROUP BY e.user_id, tc.tv, tc.tc),
        |agg AS (SELECT COUNT(tv) AS n_view, COUNT(tc) AS n_view_click,
        |    COUNT(tp) AS n_view_click_purchase
        |  FROM tp)
        |SELECT stage, n_users FROM (
        |  SELECT 'view' AS stage, n_view AS n_users FROM agg UNION ALL
        |  SELECT 'view_click', n_view_click FROM agg UNION ALL
        |  SELECT 'view_click_purchase', n_view_click_purchase FROM agg) s
        |ORDER BY stage""".stripMargin,
    "q_events_window" ->
      s"""SELECT ${tsSqlS("time_bucket(INTERVAL 1 HOUR, ts)")} AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS prank,
        |  CUME_DIST() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |b AS (SELECT vec_id, emb, nrm,
        |  (CASE WHEN emb[1] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[2] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[3] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[4] > 0 THEN '1' ELSE '0' END) AS bucket FROM e)
        |SELECT a.vec_id AS a_id, c.vec_id AS b_id,
        |  list_inner_product(a.emb, c.emb) / (a.nrm * c.nrm) AS cos
        |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        |WHERE list_inner_product(a.emb, c.emb) / (a.nrm * c.nrm) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1990-01-01', o_orderdate)
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_7d_revenue
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_dedup_editdist" ->
      s"""WITH ${Pipeline.shinglesSql},
        |${Pipeline.minhashSigSql},
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, MD5(mh1 || mh2) AS band_val FROM sig UNION ALL
        |  SELECT doc_id, 1, MD5(mh3 || mh4) FROM sig UNION ALL
        |  SELECT doc_id, 2, MD5(mh5 || mh6) FROM sig UNION ALL
        |  SELECT doc_id, 3, MD5(mh7 || mh8) FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
        |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |co AS (SELECT a_id, b_id, COUNT(*) AS common
        |  FROM cand JOIN sh sa ON a_id = sa.doc_id
        |  JOIN sh sb ON b_id = sb.doc_id AND sa.shingle = sb.shingle
        |  GROUP BY a_id, b_id),
        |pairs AS (SELECT a_id, b_id
        |  FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
        |  WHERE common * 10 >= 5 * (za.n + zb.n - common)),
        |txt AS (SELECT doc_id, SUBSTR(text, 1, 40) AS prefix FROM documents)
        |SELECT a_id, b_id,
        |  CAST(levenshtein(ta.prefix, tb.prefix) AS BIGINT) AS edit_dist
        |FROM pairs JOIN txt ta ON a_id = ta.doc_id JOIN txt tb ON b_id = tb.doc_id
        |WHERE levenshtein(ta.prefix, tb.prefix) <= 10
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
        |${Pipeline.shinglesSql},
        |${Pipeline.minhashSigSql},
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, MD5(mh1 || mh2) AS band_val FROM sig UNION ALL
        |  SELECT doc_id, 1, MD5(mh3 || mh4) FROM sig UNION ALL
        |  SELECT doc_id, 2, MD5(mh5 || mh6) FROM sig UNION ALL
        |  SELECT doc_id, 3, MD5(mh7 || mh8) FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
        |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |co AS (SELECT a_id, b_id, COUNT(*) AS common
        |  FROM cand JOIN sh sa ON a_id = sa.doc_id
        |  JOIN sh sb ON b_id = sb.doc_id AND sa.shingle = sb.shingle
        |  GROUP BY a_id, b_id),
        |pairs AS (SELECT a_id, b_id
        |  FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
        |  WHERE common * 10 >= 8 * (za.n + zb.n - common)),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a AS src, b AS dst FROM sym
        |  UNION SELECT a AS src, a AS dst FROM sym
        |  UNION SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT src AS doc_id, MIN(dst) AS keep_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS (SELECT *, LAG(epoch_us(ts), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS ns FROM e),
        |g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  ${tsSqlS("MIN(ts)")} AS session_start,
        |  ${tsSqlS("MAX(ts)")} AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_multimodal_frames" ->
      """SELECT doc_id,
        |  CAST((GREATEST(STRLEN(text) - 1, 0) // 64) + 1 AS BIGINT) AS n_frames,
        |  SUBSTR(text, 1, 16) AS first_frame
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_scd2" ->
      s"""WITH v AS (SELECT user_id, event_id, value, ts,
        |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id, value,
        |  ${tsSqlS("ts")} AS valid_from,
        |  COALESCE(${tsSqlS("next_ts")}, '9999-12-31 00:00:00') AS valid_to,
        |  next_ts IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q_interpolate" ->
      s"""WITH e AS (SELECT event_id, user_id, ts, value,
        |    CASE WHEN event_id % 3 = 0 THEN value END AS kv,
        |    CASE WHEN event_id % 3 = 0 THEN epoch_us(ts) END AS kt
        |  FROM events),
        |w AS (SELECT *,
        |    LAST_VALUE(kv IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(kt IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    FIRST_VALUE(kv IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(kt IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM e)
        |SELECT event_id, user_id, ${tsSqlS("ts")} AS ts_s,
        |  CASE WHEN event_id % 3 = 0 THEN value
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    WHEN nt = pt THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(epoch_us(ts) - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS value_interp
        |FROM w ORDER BY event_id""".stripMargin,
    "q_ffill" ->
      s"""SELECT event_id, user_id, ${tsSqlS("ts")} AS ts_s,
        |  LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_sample_hash" ->
      """SELECT lang, COUNT(*) AS n_sampled
        |FROM documents
        |WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_collections" ->
      """SELECT o_custkey,
        |  CAST(to_json(LIST_SORT(LIST(o_orderkey))) AS VARCHAR) AS order_keys,
        |  CAST(LEN(LIST(o_orderkey)) AS BIGINT) AS n_orders,
        |  CAST(to_json(LIST_TRANSFORM(LIST_SORT(LIST(o_orderkey)), k -> k * 2))
        |    AS VARCHAR) AS doubled,
        |  CAST(to_json(LIST_FILTER(LIST_SORT(LIST(o_orderkey)), k -> k % 2 = 0))
        |    AS VARCHAR) AS even_keys,
        |  CAST(LIST_AGGREGATE(LIST(o_orderkey), 'sum') AS BIGINT) AS key_sum,
        |  LIST_CONTAINS(LIST(o_orderkey), 7) AS has_7
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id, epoch_us(ts) AS p_us FROM events
        |  WHERE event_type = 'purchase'),
        |iv AS (SELECT user_id, MIN(epoch_us(ts)) AS start_us,
        |    MIN(epoch_us(ts)) + 900000000 AS end_us
        |  FROM events GROUP BY user_id)
        |SELECT user_id, COUNT(*) AS n_purchases_in_window
        |FROM p JOIN iv ON start_us <= p_us AND p_us < end_us
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Replays ivfKnn(nCells = max(16, ⌊√N⌋), iters=2, nprobe=2)
    // bit-for-bit: the knob itself is the `kn` scalar subquery (IEEE
    // sqrt is correctly rounded in both engines, exact on N < 2^53 —
    // same value as Similarity.scaledCells), the Lloyd means
    // aggregate DECIMAL(10,3) quantized values (exact in any order),
    // every dot product is the same left-to-right fold in both engines.
    "q_embed_ivf" ->
      """WITH kn AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(
        |    CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS ncells
        |  FROM embeddings),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id, emb, nrm,
        |    list_transform(emb, v -> ROUND(v, 3)) AS qemb,
        |    list_transform(emb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3))) AS qd
        |  FROM e),
        |c0 AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm
        |  FROM e WHERE vec_id < (SELECT ncells FROM kn)),
        |a1 AS (SELECT vec_id, qd, cell FROM (
        |  SELECT v.vec_id, v.qd, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM q v CROSS JOIN c0 c) x WHERE rk = 1),
        |d1 AS (SELECT cell, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS cv FROM (
        |  SELECT cell, generate_subscripts(qd, 1) AS pos, unnest(qd) AS qv
        |  FROM a1) u GROUP BY cell, pos),
        |c1 AS (SELECT cell AS c_id, LIST(cv ORDER BY pos) AS c_emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS c_nrm
        |  FROM d1 GROUP BY cell),
        |a2 AS (SELECT vec_id, qd, cell FROM (
        |  SELECT v.vec_id, v.qd, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM q v CROSS JOIN c1 c) x WHERE rk = 1),
        |d2 AS (SELECT cell, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS cv FROM (
        |  SELECT cell, generate_subscripts(qd, 1) AS pos, unnest(qd) AS qv
        |  FROM a2) u GROUP BY cell, pos),
        |c2 AS (SELECT cell AS c_id, LIST(cv ORDER BY pos) AS c_emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS c_nrm
        |  FROM d2 GROUP BY cell),
        |ca AS (SELECT vec_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM q v CROSS JOIN c2 c) x WHERE rk = 1),
        |qa AS (SELECT vec_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM q v CROSS JOIN c2 c) x WHERE rk <= 2),
        |p AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |    list_inner_product(eq.emb, ec.emb) / (eq.nrm * ec.nrm) AS cos
        |  FROM qa qq JOIN ca cc ON qq.cell = cc.cell AND qq.vec_id <> cc.vec_id
        |  JOIN e eq ON eq.vec_id = qq.vec_id
        |  JOIN e ec ON ec.vec_id = cc.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM p) ranked
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    // Stub decoder replay: payload = utf8(text) (ASCII corpus, so byte i
    // == codepoint of char i); w/h from the first two bytes, format from
    // byte-length parity — mirrors Multimodal.StubDecoder exactly.
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(16 + CASE WHEN LENGTH(text) >= 1
        |    THEN ascii(SUBSTR(text, 1, 1)) % 128 ELSE 0 END AS BIGINT) AS w,
        |  CAST(16 + CASE WHEN LENGTH(text) >= 2
        |    THEN ascii(SUBSTR(text, 2, 1)) % 128 ELSE 0 END AS BIGINT) AS h,
        |  CASE WHEN STRLEN(text) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(STRLEN(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Closed form of attachImagePayload's near-square layout: the Spark
    // side reads w/h back out of the PNG IHDR with a real codec; the
    // oracle recomputes them from the byte length (STRLEN = bytes in
    // DuckDB). Both sides use correctly-rounded IEEE sqrt, so
    // CEIL(SQRT(n)) agrees exactly.
    "q_multimodal_imageio" ->
      """WITH d AS (SELECT doc_id, STRLEN(text) AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |  GREATEST(1, CAST(CEIL(SQRT(n)) AS BIGINT)) AS w FROM d)
        |SELECT doc_id, w, CAST(GREATEST(1, (n + w - 1) // w) AS BIGINT) AS h,
        |  'png' AS fmt
        |FROM s ORDER BY doc_id""".stripMargin,
    // The 4-bin luminance histogram of the generated grayscale PNG is
    // the byte histogram of the text plus zero-padding to the w×h
    // raster: bin0 = bytes 0x00-0x3f (+ padding), bin1 = 0x40-0x7f;
    // the ASCII corpus has no bytes >= 0x80, so f2 = f3 = 0 (the hash
    // gate would catch a corpus that violates this). REAL divisions of
    // small exact integers round identically in both engines.
    "q_multimodal_features" ->
      """WITH d AS (SELECT doc_id, text, STRLEN(text) AS n FROM documents),
        |s AS (SELECT doc_id, text, n,
        |  GREATEST(1, CAST(CEIL(SQRT(n)) AS BIGINT)) AS w FROM d),
        |g AS (SELECT doc_id, text, n, w,
        |  GREATEST(1, (n + w - 1) // w) AS h FROM s),
        |c AS (SELECT doc_id, n, w * h AS total,
        |  STRLEN(REGEXP_REPLACE(text, '[^\x00-\x3f]', '', 'g')) AS c0,
        |  STRLEN(REGEXP_REPLACE(text, '[^\x40-\x7f]', '', 'g')) AS c1
        |  FROM g)
        |SELECT doc_id,
        |  CAST(CAST(c0 + (total - n) AS REAL) / CAST(total AS REAL) AS DOUBLE)
        |    AS f0,
        |  CAST(CAST(c1 AS REAL) / CAST(total AS REAL) AS DOUBLE) AS f1,
        |  CAST(0 AS DOUBLE) AS f2,
        |  CAST(0 AS DOUBLE) AS f3
        |FROM c ORDER BY doc_id""".stripMargin)
}
