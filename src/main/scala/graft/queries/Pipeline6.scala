package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Qs._

/** Sixth batch: lakehouse-style MERGE upsert, Z-order layout clustering,
  * PMI collocation mining, unigram-LM surprisal scoring, and PageRank
  * over the co-purchase graph.
  *
  * Scale notes (100 TB):
  *  - the MERGE upsert is the standard non-Delta upsert shape — latest
  *    state per key on each side (one window shuffle keyed on the merge
  *    key each) stitched by a keyed full outer join; no driver state;
  *  - Z-order values are pure per-row bit arithmetic (narrow, codegen'd);
  *    the histogram is one keyed aggregation — the same computation that
  *    would drive a `repartitionByRange(zval)` layout write;
  *  - collocations and LM scoring shuffle (token/bigram, count) pairs,
  *    never documents; both scores use `ln` for ORDERING only (or route
  *    it through an exact decimal sum) per the Pipeline2 float rules;
  *  - PageRank is join+aggregate per iteration with a bounded iteration
  *    count; edges/degrees are localCheckpoint-materialized so the
  *    per-order self-join runs once, and rank mass flows through an
  *    exact DECIMAL(16,10) sum, making every iteration deterministic
  *    under any partitioning (and bit-replayable by the SQL oracle).
  */
object Pipeline6 extends Batch {

  /** Latest high-value purchase state per user within a time slice. */
  private def latestState(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("value"), col("ts"))
  }

  /** Morton/Z-order interleave of the low 10 bits of two keys. */
  private def zval(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    (0 until 10).map { i =>
      shiftleft(shiftright(x.bitwiseAND(lit(1023L)), i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftright(y.bitwiseAND(lit(1023L)), i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  val queries: Map[String, Q] = Map(
    // MERGE INTO without a table format: base = latest high-value
    // purchase per user before the cutoff, updates = after. Full outer
    // join on the merge key classifies each output row as
    // insert (new key) / update (both sides) / carry (no change).
    "q_merge_upsert" -> { (s, dir) =>
      val hv = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 150)
      val base = latestState(hv.filter(col("ts") < "2024-01-20"))
      val upd = latestState(hv.filter(col("ts") >= "2024-01-20"))
      base.as("b").join(upd.as("u"),
          col("b.user_id") === col("u.user_id"), "full_outer")
        .select(
          coalesce(col("u.user_id"), col("b.user_id")).as("user_id"),
          when(col("b.user_id").isNull, "insert")
            .when(col("u.user_id").isNull, "carry")
            .otherwise("update").as("status"),
          coalesce(col("u.value"), col("b.value")).as("last_value"),
          tsS(coalesce(col("u.ts"), col("b.ts"))).as("last_ts"))
        .orderBy(col("user_id"))
    },

    // Z-order layout histogram: interleave part/supplier key bits into a
    // Morton value, then profile 256 z-buckets. Rows close in zval are
    // close in BOTH key dimensions — sorting a write by zval gives
    // multi-dimensional data skipping (min/max pruning works for filters
    // on either key), which is the layout a 100 TB fact table wants.
    "q_zorder" -> { (s, dir) =>
      val z = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          zval(col("l_partkey"), col("l_suppkey")).as("zval"))
      z.groupBy(shiftright(col("zval"), 12).as("z_bucket"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          min(col("zval")).as("z_min"),
          max(col("zval")).as("z_max"))
        .orderBy(col("z_bucket"))
    },

    // PMI collocations: adjacent-token bigrams scored by
    // ln(P(xy) / P(x)P(y)), thresholded on support, top 40. Bigrams come
    // from zipping each token array with its own tail — no window, no
    // per-document shuffle; only (bigram, count) pairs move.
    "q_collocations" -> { (s, dir) =>
      val sp = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
      val big = sp.select(explode(expr(
          "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1)," +
            " (a, b) -> struct(a AS w1, b AS w2))")).as("z"))
        .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
      val bg = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
      val uc = sp.select(explode(col("l")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val tot = big.agg(count(lit(1)).as("nb"))
      val scored = bg
        .join(uc.select(col("w").as("w1"), col("n").as("n_x")), Seq("w1"))
        .join(uc.select(col("w").as("w2"), col("n").as("n_y")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .filter(col("n_xy") >= 20)
      // ln is ORDERING-only (Pipeline2 float rules): emitted columns are
      // the exact integer counts behind the score.
      val pmi = log(col("n_xy").cast("double") * col("nb") /
        (col("n_x") * col("n_y")))
      // Top-40 via bounded TakeOrdered + sequential rank, not a global
      // single-partition window over every surviving bigram.
      graft.operators.OrderStats.topK(
          scored.withColumn("pmi_ord", pmi),
          Seq(col("pmi_ord").desc, col("w1"), col("w2")), 40, "rk")
        .select(col("rk"), col("w1"), col("w2"), col("n_xy"),
          col("n_x"), col("n_y"))
        .orderBy(col("rk"))
    },

    // Unigram-LM surprisal (the perplexity-proxy quality score): each
    // token's -ln p(w) under the corpus unigram model, summed per doc
    // through an exact DECIMAL(18,10) (order-free under shuffle), ranked
    // by average surprisal. High scores = rare-token-heavy documents —
    // the "weird text" end of a quality-filter pipeline.
    "q_lm_score" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val uc = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
      val tot = toks.agg(count(lit(1)).as("t"))
      val sc = toks.join(uc, Seq("w")).crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n"),
          (-log(col("n") / col("t").cast("double")))
            .cast(DecimalType(18, 10)).as("surp"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("surp")).as("s"),
          count(lit(1)).as("n_tokens"),
          sum(when(col("n") < 10, 1L).otherwise(0L)).as("n_rare"))
      // Top-30 via bounded TakeOrdered + sequential rank.
      graft.operators.OrderStats.topK(
          sc.withColumn("surp_ord", col("s").cast("double") / col("n_tokens")),
          Seq(col("surp_ord").desc, col("doc_id")), 30, "rk")
        .select(col("rk"), col("doc_id"), col("n_tokens"), col("n_rare"))
        .orderBy(col("rk"))
    },

    // DataSource V2 generated dimension (sources/RangeSource): the scan
    // absorbs the id bounds into partition planning (no splits outside
    // [1000, 50000)) and prunes the payload column the query never
    // touches. The aggregate is ordinary Catalyst on top of the custom
    // connector. `dir` is unused — the source synthesizes its rows.
    "q_dsv2_range" -> { (s, _) =>
      s.read.format("graft.sources.RangeSource")
        .option("start", "0").option("end", "100000")
        .option("rowsPerSplit", "8192")
        .load()
        .filter(col("id") >= 1000 && col("id") < 50000)
        .groupBy(col("mod7"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          min(col("hex")).as("hex_min"))
        .orderBy(col("mod7"))
    },

    // PageRank over the co-purchase graph (parts sharing an order).
    // Three Lloyd-style rounds of join+aggregate; contributions cross
    // the shuffle as exact DECIMAL(16,10), so the double chain
    // 0.15 + 0.85·Σ is bit-deterministic and oracle-replayable.
    //
    // Shuffle story (6.6s → ~3.7s warm at sf0.1, and the shape a 1000-
    // executor run wants):
    //  - Edges come from ONE hash(ok) aggregation + a map-side pair
    //    explode, not a lineitem self-join (saves two wide exchanges).
    //  - One hash(src) shuffle then serves THREE purposes with zero
    //    further edge exchanges: partition-local (src,dst) dedup
    //    (hash(src) satisfies the (src,dst) clustering), the
    //    partition-by-src degree window, and co-location for every
    //    iteration's rank join.
    //  - Every checkpoint keeps its layout (Ckpt.local keepLayout,
    //    planned with AQE off on a session clone): an AQE-planned
    //    localCheckpoint FORGETS the hash(src) layout and every later
    //    join re-shuffles all edges — the dominant cost of the previous
    //    version.
    //  - Rank joins hint shuffle_hash: the statically-sized rank frame
    //    otherwise plans as a per-round driver collect + broadcast,
    //    which both serializes each round here and cannot exist at
    //    billion-node scale. With the hint, both sides are already
    //    co-partitioned: the ONLY per-iteration exchange is the
    //    contribution aggregation itself — PageRank's floor.
    "q_pagerank" -> { (s, dir) =>
      // Edge build: Pipeline12.coEdges — the shared collect_set +
      // degree-cap builder (oracle mirrors the cap via the shared
      // ranked/kept CTE). Its hash(src) repartition is what makes this
      // plan: one exchange serves the (src,dst) dedup, the degree
      // window below, and every iteration join.
      val li = t(s, dir, "lineitem")
      val edges = Pipeline12.coEdges(li)
        .withColumn("d", count(lit(1)).over(Window.partitionBy(col("src"))))
      // Node frame (src, d): ew is hash(src)-partitioned, so this
      // aggregate plans with NO exchange. It is referenced TWICE (rank
      // init + the final degree join) and each lazy reference would
      // re-run the 4.5M-edge pass — checkpoint the ~node-sized result
      // once (round 6), layout kept like the edges'.
      // The edge frame is DATA-sized (~4.5M rows per sf0.1-equivalent);
      // its checkpoint level is the scale-adaptive Ckpt.sized:
      // DISK_ONLY once the (source-derived) estimate outgrows a
      // quarter of the heap — both in-memory levels are
      // heap-proportional to the DATA through the 32-way-concurrent
      // block unroll, which is unmanaged allocation that outruns its
      // own size estimates — measured at a 2 GiB heap on the ×10
      // corpus, MEMORY_AND_DISK dies in UnsafeRow copies and
      // MEMORY_AND_DISK_SER kills the JVM in SerializedValuesHolder
      // chunk allocation, BEFORE any task can spill. DISK_ONLY streams
      // each partition straight to local disk — the same shape as a
      // shuffle file, and exactly what a 1000-executor run does with
      // its edge partitions; executor memory then serves only
      // execution (sorts/aggs), which degrades by spilling instead of
      // dying (404 MB spilled, completed, at a 3 GiB heap). Its warm-
      // path cost is why it is no longer unconditional: serde CPU on
      // the 4 edge reads measured +23% wall at the standard 24 GiB
      // heap (10.8→13.3s at ×10) where the in-memory level is safe.
      // The node-sized degree frame stays at the default in-memory
      // level.
      val ew = edges.ckpt(graft.Ckpt.sized(li), keepLayout = true)
      val deg = ew.groupBy(col("src")).agg(max(col("d")).as("d"))
        .ckpt(keepLayout = true)
      var pr = deg.select(col("src").as("node"), lit(1.0).as("pr"))
      // Each round's rank frame is CHECKPOINTED (node-sized, cheap):
      // without the truncation, round i+1's lineage keeps round i's
      // contribution shuffle (≈20 GB at ×1000) referenced until the
      // query ends, so the per-round shuffles ACCUMULATE on disk —
      // measured round 10 at the ×1000 corpus: edge ckpt + dedup
      // exchange + three live iteration shuffles exhausted a 58 GB
      // scratch disk twice. With per-round truncation (and the session
      // periodic-GC cleaner, see SparkEngine), round i's shuffle files
      // become garbage the moment round i+1's ckpt materializes — peak
      // scratch is ONE iteration's shuffle, not all of them. Layout
      // kept like the edge ckpt so the hash(node) layout survives into
      // the next round's shuffle_hash join.
      for (_ <- 1 to 3) {
        pr = ew.join(pr.hint("shuffle_hash"), ew("src") === pr("node"))
          .select(col("dst"),
            (col("pr") / col("d")).cast(DecimalType(16, 10)).as("c"))
          .groupBy(col("dst"))
          .agg((lit(0.15) + lit(0.85) * sum(col("c")).cast("double")).as("pr"))
          .select(col("dst").as("node"), col("pr"))
          .ckpt(keepLayout = true)
      }
      // Top-30 nodes via bounded TakeOrdered + sequential rank — no
      // single-partition window over the full node set.
      graft.operators.OrderStats.topK(
          pr.join(deg.hint("shuffle_hash"), pr("node") === deg("src")),
          Seq(col("pr").desc, col("node")), 30, "rk")
        .select(col("rk"), col("node").as("part_key"),
          col("d").as("degree"), col("pr"))
        .orderBy(col("rk"))
    },

    // Multi-source BFS over the co-purchase graph: 3 bounded hops from
    // the seed set (part_key < 100), min-hop per reached node — the
    // "distance to a labeled set" feature extractor. Same scale shape
    // as q_pagerank: edges checkpointed hash(src) with the layout kept,
    // frontier exits each round's distinct hash(node)-partitioned,
    // and the shuffle_hash hint keeps the
    // frontier join co-partitioned instead of a per-round broadcast.
    // Frontier levels carry no visited-set subtraction: a node can
    // re-enter at a later hop, and the final min(hop) aggregate picks
    // its true distance (matching the recursive-CTE oracle's UNION).
    "q_bfs_hops" -> { (s, dir) =>
      // Shared capped edge builder (see q_pagerank): hash(src)-
      // partitioned distinct pairs, degree-capped, oracle-mirrored.
      val liB = t(s, dir, "lineitem")
      // Every checkpoint in the build (edges AND frontier levels) keeps
      // its layout: an AQE-planned localCheckpoint forgets its hash
      // layout (UnknownPartitioning), forcing re-shuffles downstream.
      // Scale-adaptive level for the data-sized edge frame (see
      // q_pagerank / Ckpt.sized): frontier levels are seed-bounded and
      // stay in memory.
      val edges = Pipeline12.coEdges(liB)
        .ckpt(graft.Ckpt.sized(liB), keepLayout = true)
      // Frontier levels carry no visited-set subtraction: a node can
      // re-enter at a later hop and the final min(hop) picks its true
      // distance. Each level is localCheckpoint-ed: level h is then
      // computed exactly ONCE — the union and level h+1's parent both
      // read the materialized RDD — instead of leaning on exchange
      // reuse through a 4-way union, and each per-level join is a
      // tiny materialized frontier against the co-partitioned edge
      // frame. (An anti-join "expand only new nodes" variant was
      // measured 2.7× slower here: the visited chain re-evaluates
      // earlier levels.)
      var frontier = edges.select(col("src").as("node"))
        .where(col("node") < 100).distinct()
        .withColumn("hop", lit(0L)).ckpt(keepLayout = true)
      val levels = scala.collection.mutable.ArrayBuffer(frontier)
      for (h <- 1 to 3) {
        frontier = edges
          .join(frontier.hint("shuffle_hash"), edges("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .withColumn("hop", lit(h.toLong))
        if (h < 3) frontier = frontier.ckpt(keepLayout = true)
        levels += frontier
      }
      levels.reduce(_ union _)
        .groupBy(col("node").as("part_key"))
        .agg(min(col("hop")).as("hop"))
        .orderBy(col("part_key"))
    })

  private val zSql: String = (0 until 10).map { i =>
    s"(((((l_partkey & 1023) >> $i) & 1) << ${2 * i + 1}) | " +
      s"((((l_suppkey & 1023) >> $i) & 1) << ${2 * i}))"
  }.mkString(" | ")

  val oracle: Map[String, String] = Map(
    "q_merge_upsert" ->
      """WITH hv AS (SELECT * FROM events
        |    WHERE event_type = 'purchase' AND value > 150),
        |base AS (SELECT user_id, value, ts FROM (
        |    SELECT user_id, value, ts, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |    FROM hv WHERE ts < TIMESTAMP '2024-01-20') x WHERE rn = 1),
        |upd AS (SELECT user_id, value, ts FROM (
        |    SELECT user_id, value, ts, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |    FROM hv WHERE ts >= TIMESTAMP '2024-01-20') x WHERE rn = 1)
        |SELECT COALESCE(u.user_id, b.user_id) AS user_id,
        |  CASE WHEN b.user_id IS NULL THEN 'insert'
        |       WHEN u.user_id IS NULL THEN 'carry' ELSE 'update' END AS status,
        |  COALESCE(u.value, b.value) AS last_value,
        |  strftime(COALESCE(u.ts, b.ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id
        |ORDER BY user_id""".stripMargin,
    "q_zorder" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey, ($zSql) AS zval FROM lineitem)
         |SELECT CAST(zval >> 12 AS BIGINT) AS z_bucket, COUNT(*) AS n,
         |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
         |  CAST(MIN(zval) AS BIGINT) AS z_min,
         |  CAST(MAX(zval) AS BIGINT) AS z_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_collocations" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |big AS (SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
        |  FROM sp),
        |bg AS (SELECT w1, w2, COUNT(*) AS n_xy FROM big GROUP BY 1, 2),
        |ug AS (SELECT unnest(l) AS w FROM sp),
        |uc AS (SELECT w, COUNT(*) AS n FROM ug GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nb FROM big)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY
        |    LN(CAST(n_xy AS DOUBLE) * nb / (ux.n * uy.n)) DESC, w1, w2)
        |    AS BIGINT) AS rk,
        |  w1, w2, CAST(n_xy AS BIGINT) AS n_xy,
        |  CAST(ux.n AS BIGINT) AS n_x, CAST(uy.n AS BIGINT) AS n_y
        |FROM bg JOIN uc ux ON bg.w1 = ux.w JOIN uc uy ON bg.w2 = uy.w
        |CROSS JOIN tot
        |WHERE n_xy >= 20 QUALIFY rk <= 40 ORDER BY rk""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |uc AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS t FROM toks),
        |sc AS (SELECT doc_id,
        |    SUM(CAST(-LN(uc.n / CAST(tot.t AS DOUBLE)) AS DECIMAL(18,10))) AS s,
        |    COUNT(*) AS n_tokens,
        |    SUM(CASE WHEN uc.n < 10 THEN 1 ELSE 0 END) AS n_rare
        |  FROM toks JOIN uc USING (w) CROSS JOIN tot GROUP BY doc_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY
        |    CAST(s AS DOUBLE) / n_tokens DESC, doc_id) AS BIGINT) AS rk,
        |  doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_rare AS BIGINT) AS n_rare
        |FROM sc QUALIFY rk <= 30 ORDER BY rk""".stripMargin,
    "q_dsv2_range" ->
      """SELECT id % 7 AS mod7, COUNT(*) AS n,
        |  CAST(SUM(id) AS BIGINT) AS sum_id,
        |  MIN(UPPER(TO_HEX(id))) AS hex_min
        |FROM range(0, 100000) t(id)
        |WHERE id >= 1000 AND id < 50000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pagerank" ->
      s"""WITH ${Pipeline12.cappedEdgeSql},
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |p0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
        |p1 AS (SELECT e.dst AS node,
        |    0.15 + 0.85 * CAST(SUM(CAST(p0.pr / deg.d AS DECIMAL(16,10)))
        |      AS DOUBLE) AS pr
        |  FROM e JOIN p0 ON e.src = p0.node JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |p2 AS (SELECT e.dst AS node,
        |    0.15 + 0.85 * CAST(SUM(CAST(p1.pr / deg.d AS DECIMAL(16,10)))
        |      AS DOUBLE) AS pr
        |  FROM e JOIN p1 ON e.src = p1.node JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst),
        |p3 AS (SELECT e.dst AS node,
        |    0.15 + 0.85 * CAST(SUM(CAST(p2.pr / deg.d AS DECIMAL(16,10)))
        |      AS DOUBLE) AS pr
        |  FROM e JOIN p2 ON e.src = p2.node JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY p3.pr DESC, p3.node)
        |    AS BIGINT) AS rk,
        |  p3.node AS part_key, CAST(deg.d AS BIGINT) AS degree, p3.pr AS pr
        |FROM p3 JOIN deg ON deg.src = p3.node
        |QUALIFY rk <= 30 ORDER BY rk""".stripMargin,
    // Recursive-CTE twin: UNION (distinct) recursion keeps the state to
    // (node, hop) pairs — bounded by 4×|nodes| — while min(hop) at the
    // end selects each node's true distance.
    "q_bfs_hops" ->
      s"""WITH RECURSIVE ${Pipeline12.cappedEdgeSql},
        |bfs AS (
        |  SELECT DISTINCT src AS node, 0 AS hop FROM e WHERE src < 100
        |  UNION
        |  SELECT e.dst, b.hop + 1 FROM bfs b
        |  JOIN e ON e.src = b.node WHERE b.hop < 3)
        |SELECT node AS part_key, CAST(MIN(hop) AS BIGINT) AS hop
        |FROM bfs GROUP BY node ORDER BY part_key""".stripMargin)
}
