package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.AsofJoin

import Qs._

/** Sixteenth batch: corpus novelty curves, marketing attribution,
  * planner-grade cardinality estimation, dataset-split hygiene, and
  * frequent itemsets.
  *
  * Scale design:
  *  - N-gram novelty shuffles md5 hashes of shingles, never text; the
  *    first-introducer is a per-hash window min (one shuffle), and the
  *    per-doc report is one more partial+final aggregation.
  *  - Last-touch attribution reuses the as-of operator (union + window
  *    sweep — ONE shuffle, no pair space), so "which click gets the
  *    credit" costs the same as any keyed sort at any event volume.
  *  - Join-cardinality estimation computes Σcₖ² exactly from the
  *    per-key count frame (the join never runs), and the KMV-sampled
  *    estimate prunes bottom-k per hash bucket BEFORE the global rank —
  *    the same two-stage top-k that keeps every sketch here shuffle-safe.
  *  - Temporal-leakage and frequent-triples are bounded joins: leakage
  *    is two semi-join counts on user grain; triples fan out C(d,3) per
  *    order — bounded by per-order degree, never |parts|³.
  */
object Pipeline16 extends Batch {

  val queries: Map[String, Q] = Map(
    // Per-doc 5-gram novelty: the share of a doc's distinct shingles that
    // no lower-id doc contains — the "how much new text does each source
    // add" curation curve.
    "q_ngram_novelty" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // Size-thresholded fan-out (round 11) replaces the former
      // unconditional repartition: same gate-scale plan, no full-corpus
      // shuffle at production sizes.
      val grams = graft.Tables.fanOutSmall(s, docs)
        .select(col("doc_id"), explode(expr(
          "CASE WHEN size(split(text, ' ')) >= 5 THEN " +
            "transform(sequence(0, size(split(text, ' ')) - 5), " +
            "i -> array_join(slice(split(text, ' '), i + 1, 5), ' ')) " +
            "ELSE CAST(array() AS ARRAY<STRING>) END")).as("shingle"))
        .select(col("doc_id"), md5f(col("shingle")).as("h"))
        .distinct()
      val withFirst = grams.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      val per = withFirst.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .cast("long").as("n_novel"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (col("n_novel").cast("double") / col("n_grams").cast("double"))
            .as("novelty"))
        .orderBy(col("doc_id"))
    },

    // Last-touch attribution: each purchase credits the latest click by
    // the same user within 7 days (the as-of operator); daily attributed
    // revenue in exact cents, unmatched purchases under 'none'.
    "q_last_touch_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsofJoin.leftAsof(purchases, clicks, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "ts"), tieBreak = "event_id",
          strategy = AsofJoin.Backward,
          tolerance = Some(expr("INTERVAL 7 DAYS")))
        .select(col("cents"),
          coalesce(date_format(to_date(col("asof_ts")), "yyyy-MM-dd"),
            lit("none")).as("click_day"))
        .groupBy(col("click_day"))
        .agg(count(lit(1)).cast("long").as("n_purchases"),
          sum(col("cents")).cast("long").as("att_cents"))
        .orderBy(col("click_day"))
    },

    // Sketch-based join-size estimation: |lineitem ⋈ lineitem on partkey|
    // = Σcₖ² computed exactly from per-key counts (no join executed), next
    // to a bottom-512-by-md5 KMV sample estimate — the optimizer's
    // cardinality estimator as a first-class query.
    "q_join_cardinality" -> { (s, dir) =>
      val c = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("ck"))
        .withColumn("h", conv(substring(md5f(concat(lit("jc|"),
          col("l_partkey").cast("string"))), 1, 13), 16, 10).cast("long"))
      val exact = c.agg(sum(col("ck") * col("ck")).cast("long")
          .as("exact_rows"),
        count(lit(1)).cast("long").as("d_keys"))
      // Two-stage bottom-k: per hash-bucket prune (≤512 survivors per
      // bucket, map-side-friendly) then the global rank touches ≤512×32
      // rows — no full sort of the key domain.
      val pruned = c.withColumn("rb", row_number().over(
          Window.partitionBy(col("h") % 32)
            .orderBy(col("h"), col("l_partkey"))))
        .filter(col("rb") <= 512)
      // Global bottom-512 over the ≤512×32 bucket survivors via bounded
      // TakeOrdered + sequential rank (no unpartitioned window).
      val sampled = graft.operators.OrderStats.topK(
        pruned, Seq(col("h"), col("l_partkey")), 512, "rg")
      val est = sampled.agg(sum(col("ck") * col("ck")).cast("long")
          .as("samp_sq"),
        count(lit(1)).cast("long").as("k"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_rows"), col("d_keys"), col("k"),
          (col("samp_sq").cast("double") * col("d_keys").cast("double") /
            col("k").cast("double")).as("est_rows"))
        .withColumn("rel_err",
          (col("est_rows") - col("exact_rows").cast("double")) /
            col("exact_rows").cast("double"))
    },

    // Train/test temporal-split leakage: users (and (user, event_type)
    // pairs) active on both sides of the cutoff — the quiet eval
    // contaminator in behavioral datasets.
    "q_temporal_leakage" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          (col("ts") < lit("2024-01-21").cast("timestamp")).as("is_train"))
      val users = ev.groupBy(col("user_id"))
        .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("tr"),
          max(when(!col("is_train"), 1L).otherwise(0L)).as("te"))
      val pairs = ev.groupBy(col("user_id"), col("event_type"))
        .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("tr"),
          max(when(!col("is_train"), 1L).otherwise(0L)).as("te"))
      val u = users.agg(
        sum(col("tr")).cast("long").as("n_train_users"),
        sum(col("te")).cast("long").as("n_test_users"),
        sum(col("tr") * col("te")).cast("long").as("n_leaked_users"))
      val p = pairs.agg(
        sum(col("te")).cast("long").as("n_test_pairs"),
        sum(col("tr") * col("te")).cast("long").as("n_leaked_pairs"))
      u.crossJoin(broadcast(p))
        .select(col("n_train_users"), col("n_test_users"),
          col("n_leaked_users"),
          (col("n_leaked_users").cast("double") /
            col("n_test_users").cast("double")).as("user_leak_rate"),
          col("n_test_pairs"), col("n_leaked_pairs"),
          (col("n_leaked_pairs").cast("double") /
            col("n_test_pairs").cast("double")).as("pair_leak_rate"))
    },

    // Frequent brand triples (A-priori support counting at the 3-itemset
    // level): within-order distinct brands, ordered triples via two
    // self-joins on the order key — fan-out bounded by per-order degree.
    "q_freq_triples" -> { (s, dir) =>
      // items feeds all three self-join sides of the triple expansion:
      // the distinct re-executed per side above the one reused exchange —
      // materialize once (round 11, Ckpt.shared).
      val items = graft.Ckpt.shared(t(s, dir, "lineitem"),
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
          .distinct())
      val a = items.select(col("ok"), col("b").as("b1"))
      val b = items.select(col("ok").as("ok2"), col("b").as("b2"))
      val cc = items.select(col("ok").as("ok3"), col("b").as("b3"))
      a.join(b, col("ok") === col("ok2") && col("b1") < col("b2"))
        .join(cc, col("ok") === col("ok3") && col("b2") < col("b3"))
        .groupBy(col("b1"), col("b2"), col("b3"))
        .agg(count(lit(1)).cast("long").as("support"))
        .filter(col("support") >= 3)
        .orderBy(col("support").desc, col("b1"), col("b2"), col("b3"))
        .limit(50)
    })

  val oracle: Map[String, String] = Map(
    "q_ngram_novelty" ->
      """WITH g AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM (
        |  SELECT doc_id, UNNEST(CASE WHEN LEN(ws) >= 5 THEN
        |      LIST_TRANSFORM(GENERATE_SERIES(0, LEN(ws) - 5),
        |        i -> ARRAY_TO_STRING(ws[i + 1 : i + 5], ' '))
        |    ELSE [] END) AS shingle
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
        |    FROM documents) w) x),
        |wf AS (SELECT doc_id, h,
        |    MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM g),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM wf GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
        |  COALESCE(n_novel, 0) AS n_novel,
        |  CAST(COALESCE(n_novel, 0) AS DOUBLE) /
        |    CAST(n_grams AS DOUBLE) AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_last_touch_attribution" ->
      """WITH att AS (SELECT
        |    CAST(ROUND(p.value * 100) AS BIGINT) AS cents,
        |    COALESCE(strftime(CAST(c.cts AS DATE), '%Y-%m-%d'), 'none')
        |      AS click_day
        |  FROM (SELECT event_id, user_id, ts, value FROM events
        |    WHERE event_type = 'purchase') p
        |  LEFT JOIN LATERAL (
        |    SELECT e.ts AS cts FROM events e
        |    WHERE e.event_type = 'click' AND e.user_id = p.user_id
        |      AND e.ts <= p.ts AND e.ts >= p.ts - INTERVAL 7 DAY
        |    ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
        |  ) c ON TRUE)
        |SELECT click_day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS att_cents
        |FROM att GROUP BY click_day ORDER BY click_day""".stripMargin,
    "q_join_cardinality" ->
      """WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS ck,
        |    CAST(('0x' || SUBSTR(MD5('jc|' || l_partkey), 1, 13)) AS BIGINT)
        |      AS h
        |  FROM lineitem GROUP BY l_partkey),
        |ex AS (SELECT CAST(SUM(ck * ck) AS BIGINT) AS exact_rows,
        |    CAST(COUNT(*) AS BIGINT) AS d_keys FROM c),
        |sm AS (SELECT ck FROM (SELECT ck,
        |    ROW_NUMBER() OVER (ORDER BY h, l_partkey) AS rg FROM c) x
        |  WHERE rg <= 512),
        |es AS (SELECT CAST(SUM(ck * ck) AS BIGINT) AS samp_sq,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM sm)
        |SELECT exact_rows, d_keys, k,
        |  CAST(samp_sq AS DOUBLE) * CAST(d_keys AS DOUBLE) /
        |    CAST(k AS DOUBLE) AS est_rows,
        |  (CAST(samp_sq AS DOUBLE) * CAST(d_keys AS DOUBLE) /
        |    CAST(k AS DOUBLE) - CAST(exact_rows AS DOUBLE)) /
        |    CAST(exact_rows AS DOUBLE) AS rel_err
        |FROM ex, es""".stripMargin,
    "q_temporal_leakage" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    ts < TIMESTAMP '2024-01-21' AS is_train FROM events),
        |us AS (SELECT user_id,
        |    MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS tr,
        |    MAX(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS te
        |  FROM ev GROUP BY user_id),
        |pr AS (SELECT user_id, event_type,
        |    MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS tr,
        |    MAX(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS te
        |  FROM ev GROUP BY user_id, event_type),
        |u AS (SELECT CAST(SUM(tr) AS BIGINT) AS n_train_users,
        |    CAST(SUM(te) AS BIGINT) AS n_test_users,
        |    CAST(SUM(tr * te) AS BIGINT) AS n_leaked_users FROM us),
        |p AS (SELECT CAST(SUM(te) AS BIGINT) AS n_test_pairs,
        |    CAST(SUM(tr * te) AS BIGINT) AS n_leaked_pairs FROM pr)
        |SELECT n_train_users, n_test_users, n_leaked_users,
        |  CAST(n_leaked_users AS DOUBLE) / CAST(n_test_users AS DOUBLE)
        |    AS user_leak_rate,
        |  n_test_pairs, n_leaked_pairs,
        |  CAST(n_leaked_pairs AS DOUBLE) / CAST(n_test_pairs AS DOUBLE)
        |    AS pair_leak_rate
        |FROM u, p""".stripMargin,
    // Per-order combination enumeration, NOT a triple self-join: DuckDB
    // inlines the multiply-referenced DISTINCT CTE and its triple join
    // ran >45 min at the ×10 corpus (the Spark plan takes 8.8s there —
    // purely an oracle-side cost). Enumerating i<j<k over each order's
    // sorted distinct-brand list is linear in orders (per-order degree
    // bounded) and replays the same triples: 164s at ×10, identical 50
    // rows.
    "q_freq_triples" ->
      """WITH ob AS (SELECT l_orderkey AS ok,
        |    list_sort(list(DISTINCT p_brand)) AS bs
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
        |SELECT bs[i] AS b1, bs[j] AS b2, bs[k] AS b3,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM ob,
        |  UNNEST(GENERATE_SERIES(1, LEN(bs))) AS r1(i),
        |  UNNEST(GENERATE_SERIES(1, LEN(bs))) AS r2(j),
        |  UNNEST(GENERATE_SERIES(1, LEN(bs))) AS r3(k)
        |WHERE i < j AND j < k
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
        |ORDER BY support DESC, b1, b2, b3 LIMIT 50""".stripMargin)
}
