package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Twelfth batch: the tokenizer family end-to-end (per-document token
  * counts under the learned BPE), graph analytics over the co-purchase
  * graph (degree distribution, common-neighbor link prediction for a
  * seeded candidate set), and exact weighted median.
  *
  * Scale design:
  *  - Per-doc BPE token counts never re-tokenize documents: the encode
  *    table (vocabulary-sized) broadcasts into the doc→word stream, so
  *    the corpus-side work is one explode + one aggregation. Words
  *    outside the trained alphabet cost a single UNK token, keeping the
  *    join a LEFT join with a coalesce — no corpus-sized state.
  *  - The degree histogram collapses |E| → |V| → |distinct degrees| in
  *    two aggregations; edge construction groups per order and explodes
  *    within the group (never a lineitem×lineitem self-join, whose
  *    shuffle would carry every pair twice).
  *  - Common-neighbor link prediction bounds the path-2 fan-out to a
  *    seeded candidate set (src < 500) BEFORE the wedge join — the
  *    candidate-generation discipline every production link predictor
  *    uses; the adjacency exclusion is a left-anti equi-join against
  *    the (symmetric) edge list. All three edge uses share one
  *    identical aggregation subtree, so exchange reuse materializes the
  *    edge list once.
  *  - Weighted median pre-aggregates to (group, value) weight sums,
  *    then one window pass finds the first value whose doubled running
  *    weight crosses the total — integer weight arithmetic only, the
  *    value itself is never summed.
  */
object Pipeline12 extends Batch {

  /** Learned-BPE encode table: word → token count (see
    * [[Pipeline11]] q_bpe_encode for the full sequence form).
    */
  private def bpeTokenCounts(docs: org.apache.spark.sql.DataFrame) = {
    // NOT Ckpt.shared (round 12, measured): the 9 audited documents scans
    // are cheap parallel subtrees inside one job; an eager checkpoint of
    // the word table serialized an extra job and measured wall
    // 1.64→2.17s, CPU 2.4→4.6s. WORSE (contrast Pipeline10.bpeWords,
    // where it wins because q_bpe_learn's output is only 3 argmax rows).
    var words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")).between(2, 20))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("n"))
      .select(col("w"), col("n"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("toks"))
    (1 to 3).foreach { _ =>
      val best = Pipeline10.bpePairCounts(words)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      words = Pipeline10.bpeMerge(words, best)
    }
    words.select(col("w"), size(col("toks")).cast("long").as("n_tokens"))
  }

  /** Degree cap on the per-order pair explosion, shared by every
    * co-purchase edge builder. The explosion is quadratic per order:
    * TPC-H orders have ≤7 lines, but a pathological 10k-line order
    * would emit 1e8 pairs for zero graph information. Every consumer's
    * oracle SQL mirrors the cap (ROW_NUMBER ≤ [[degreeCap]] over
    * sorted distinct items per order — [[keptPartsSql]]), so query and
    * oracle agree even on data that actually trips it.
    */
  private[queries] val degreeCap = 1000

  /** Per-order capped distinct item sets: `(ok, items)` where `items`
    * is the order's `collect_set` of `item`, truncated to the
    * [[degreeCap]] smallest under `sort_array`'s total order when the
    * set is larger. `collect_set`, not `collect_list`: duplicate items
    * within an order multiply the quadratic explosion for zero
    * information (pairs are deduped downstream anyway). The `item`
    * column must sort deterministically so the oracle can mirror the
    * truncation with ROW_NUMBER over the same ORDER BY.
    */
  private[queries] def cappedOrderSets(rows: org.apache.spark.sql.DataFrame,
      ok: org.apache.spark.sql.Column,
      item: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    rows.groupBy(ok.as("ok")).agg(collect_set(item).as("items"))
      .withColumn("items", when(size(col("items")) <= degreeCap, col("items"))
        .otherwise(slice(sort_array(col("items")), 1, degreeCap)))

  /** Distinct co-purchase edges (src ≠ dst, both directions), built by
    * per-order grouping with the [[degreeCap]] guard — the q_bfs_hops /
    * q_pagerank graph. The exploded pair stream is repartitioned by
    * `src` BEFORE the dedup: hash(src) satisfies the (src, dst)
    * clustering, so the dedup aggregation plans with no further
    * exchange and the output stays hash(src)-partitioned — one exchange
    * serves dedup, any degree window, and downstream src-keyed joins.
    */
  private[queries] def coEdges(li: org.apache.spark.sql.DataFrame) =
    cappedOrderSets(
        li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
        col("ok"), col("pk"))
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(lit(1).as("one"))
      .select(col("src"), col("dst"))

  /** [[coEdges]] materialized ONCE, layout kept, at the scale-adaptive
    * `Ckpt.sized` level of its lineitem source (round 11). For
    * consumers that reference the edge list more than once (wedge join
    * sides, degree frames, adjacency anti-joins): exchange reuse only
    * caches the EXCHANGE — the (src,dst) dedup aggregate above it
    * re-executes per reference (~8 CPU-s each at sf0.1, ×3 in
    * q_graph_assortativity / q_common_neighbors). The kept hash(src)
    * layout spares every downstream src-keyed join a re-shuffle.
    * Single-reference consumers (q_graph_degrees, q_friendship_paradox)
    * must NOT use this — materialization would be pure overhead there.
    */
  private[queries] def ckptEdges(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    coEdges(li).ckpt(graft.Ckpt.sized(li), keepLayout = true)

  /** Oracle-side mirror of [[cappedOrderSets]] over lineitem parts:
    * `ranked`/`kept` CTE bodies selecting each order's [[degreeCap]]
    * smallest distinct partkeys. Splice as `WITH $keptPartsSql, …`;
    * `where` pre-filters lineitem (e.g. " WHERE l_partkey < 300").
    */
  private[queries] def keptPartsSql(where: String = ""): String =
    s"""ranked AS (SELECT l_orderkey, l_partkey,
       |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey)
       |      AS r
       |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem$where)),
       |kept AS (SELECT l_orderkey, l_partkey FROM ranked WHERE r <= $degreeCap)""".stripMargin

  /** Oracle-side mirror of [[coEdges]]: `kept` plus the distinct
    * directed edge list `e(src, dst)`.
    */
  private[queries] val cappedEdgeSql: String =
    keptPartsSql() + ",\n" +
      """e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |    FROM kept a JOIN kept b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Per-document token counts under the learned BPE: whitespace words
    // joined against the broadcast encode table, unknown words = 1 UNK
    // token. The doc-level cost model a data-mix planner budgets with.
    "q_bpe_doc_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val enc = bpeTokenCounts(docs)
      docs.select(col("doc_id"), col("n_chars"),
          explode(split(col("text"), " ")).as("w"))
        .join(broadcast(enc), Seq("w"), "left")
        .withColumn("tok", coalesce(col("n_tokens"), lit(1L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(col("tok")).cast("long").as("n_bpe_tokens"),
          first(col("n_chars")).as("n_chars"))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
          (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy(col("doc_id"))
    },

    // Degree distribution of the co-purchase graph: |E| → per-node
    // degree → histogram, two aggregations.
    "q_graph_degrees" -> { (s, dir) =>
      coEdges(t(s, dir, "lineitem"))
        .groupBy(col("src")).agg(count(lit(1)).cast("long").as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).cast("long").as("n_nodes"))
        .orderBy(col("degree"))
    },

    // Common-neighbor link prediction: for seed nodes (< 500), the top
    // 20 non-adjacent pairs by shared-neighbor count. Wedge join over
    // the seeded frontier, adjacency removed by a left-anti equi-join.
    "q_common_neighbors" -> { (s, dir) =>
      // NOT ckptEdges (round 11, measured): e is referenced three times,
      // but the seeded side's src<500 filter pushes BELOW the dedup
      // aggregate into the shared exchange, so one of the three
      // "re-executions" is nearly free — a materialized checkpoint
      // forfeits that pushdown and measured +23% CPU at flat wall.
      val e = coEdges(t(s, dir, "lineitem"))
      val wedges = e.as("x").filter(col("x.src") < 500)
        .join(e.as("y"), col("x.dst") === col("y.src") &&
          col("y.dst") > col("x.src"))
        .select(col("x.src").as("a"), col("y.dst").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("common_neighbors"))
      wedges.join(e, wedges("a") === e("src") && wedges("b") === e("dst"),
          "left_anti")
        .orderBy(col("common_neighbors").desc, col("a"), col("b"))
        .limit(20)
    },

    // Exact weighted median of extended price per return flag, weighted
    // by quantity: first value whose doubled running weight reaches the
    // group total.
    "q_weighted_median" -> { (s, dir) =>
      val wv = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("flag"), col("v")).agg(sum(col("q")).cast("long").as("w"))
      wv.withColumn("cum", sum(col("w")).over(
          Window.partitionBy(col("flag")).orderBy(col("v"))))
        .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("flag"))))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("flag")).agg(min(col("v")).as("wmedian"))
        .orderBy(col("flag"))
    })

  val oracle: Map[String, String] = Map(
    "q_bpe_doc_tokens" ->
      s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$') AND LEN(w) BETWEEN 2 AND 20
         |  GROUP BY w),
         |t0 AS (SELECT w, n, list_transform(generate_series(1, LEN(w)),
         |    i -> SUBSTR(w, i, 1)) AS toks FROM w0),
         |${Pipeline11.bpeEncodeRoundSql(1, "t0")},
         |${Pipeline11.bpeEncodeRoundSql(2, "t1")},
         |${Pipeline11.bpeEncodeRoundSql(3, "t2")},
         |enc AS (SELECT w, CAST(LEN(toks) AS BIGINT) AS n_tokens FROM t3),
         |tf AS (SELECT doc_id, n_chars, UNNEST(STRING_SPLIT(text, ' ')) AS w
         |  FROM documents),
         |j AS (SELECT doc_id, n_chars, COALESCE(n_tokens, 1) AS tok
         |  FROM tf LEFT JOIN enc USING (w)),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(tok) AS BIGINT) AS n_bpe_tokens,
         |    MIN(n_chars) AS n_chars
         |  FROM j GROUP BY doc_id)
         |SELECT doc_id, n_words, n_bpe_tokens,
         |  CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
         |    AS chars_per_token
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q_graph_degrees" ->
      s"""WITH $cappedEdgeSql,
        |d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY src)
        |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM d GROUP BY degree ORDER BY degree""".stripMargin,
    "q_common_neighbors" ->
      s"""WITH $cappedEdgeSql,
        |cn AS (SELECT x.src AS a, y.dst AS b,
        |    CAST(COUNT(*) AS BIGINT) AS common_neighbors
        |  FROM e x JOIN e y ON x.dst = y.src
        |  WHERE x.src < 500 AND y.dst > x.src GROUP BY 1, 2)
        |SELECT a, b, common_neighbors FROM cn
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = cn.a AND e.dst = cn.b)
        |ORDER BY common_neighbors DESC, a, b LIMIT 20""".stripMargin,
    "q_weighted_median" ->
      """WITH wv AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT flag, v,
        |    CAST(SUM(w) OVER (PARTITION BY flag ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tot FROM wv)
        |SELECT flag, MIN(v) AS wmedian FROM c
        |WHERE cum * 2 >= tot GROUP BY flag ORDER BY flag""".stripMargin)
}
