package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, OrderStats}
import Qs._

/** Twenty-second batch: connected components as a first-class graph
  * query, context-window sequence packing, and exact rank-based
  * per-group quantiles.
  *
  * Scale design:
  *  - q_cc_histogram exposes the dedup family's union-find contraction
  *    (Dedup.resolveClusters) on the co-purchase graph: per-partition
  *    union-find, cross-partition root edges shrinking geometrically,
  *    job count independent of component diameter. The oracle replays
  *    connectivity as a recursive CTE — exact agreement proves the
  *    contraction computes true components, not an approximation.
  *  - q_context_pack is the pre-tokenization packing report: global
  *    token offsets come from the two-phase OrderStats prefix sum (one
  *    range shuffle, no single-partition window), and each doc lands in
  *    the 2048-token bin holding its start offset — deterministic,
  *    replayable packing at any corpus size.
  *  - q_group_quantiles avoids engine-specific percentile interpolation
  *    entirely: quantiles are defined by integer rank arithmetic
  *    (ceil(p·n) over the group's sorted order, user-partitioned
  *    windows), so both engines compute identical BIGINTs.
  */
object Pipeline22 extends Batch {

  val queries: Map[String, Q] = Map(
    // Connected components of the low-key co-purchase graph: component
    // size histogram. resolveClusters is exact (oracle = recursive CTE).
    "q_cc_histogram" -> { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .filter(col("l_partkey") < 300)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
      val b = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("v"))
      val pairs = a.join(b, col("ok") === col("ok2") && col("u") < col("v"))
        .select(col("u").as("a_id"), col("v").as("b_id")).distinct()
      Dedup.resolveClusters(pairs)
        .groupBy(col("keep_id"))
        .agg(count(lit(1)).cast("long").as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).cast("long").as("n_components"))
        .orderBy(col("component_size"))
    },

    // Context-window packing report: docs in doc_id order, each assigned
    // to the 2048-token bin its global start offset falls in; per-bin
    // doc count, token mass, and fill fraction (docs straddling a
    // boundary count toward their start bin, so fill can exceed 1 — the
    // packing loss this report exists to measure).
    "q_context_pack" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      val cum = OrderStats.running(docs, Seq(col("doc_id")), None,
        Seq("toks" -> "cum_toks"))
      cum.withColumn("bin", expr("(cum_toks - toks) DIV 2048"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("toks")).cast("long").as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .withColumn("fill_frac",
          col("bin_tokens").cast("double") / lit(2048.0))
        .orderBy(col("bin"))
    },

    // Exact per-group quantiles by integer rank arithmetic: value at
    // ceil(p·n) in the group's (cents, orderkey) order — no float
    // interpolation, so engines cannot disagree.
    "q_group_quantiles" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val w = Window.partitionBy(col("priority"))
        .orderBy(col("cents"), col("o_orderkey"))
      val ranked = o
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("priority"))))
      def pick(pct: Int) =
        max(when(col("rn") === expr(s"(n * $pct + 99) DIV 100"), col("cents")))
      ranked.groupBy(col("priority"))
        .agg(max(col("n")).as("n"),
          pick(25).as("p25_cents"), pick(50).as("p50_cents"),
          pick(75).as("p75_cents"), pick(95).as("p95_cents"))
        .orderBy(col("priority"))
    })

  val oracle: Map[String, String] = Map(
    "q_cc_histogram" ->
      """WITH RECURSIVE
        |items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_partkey < 300),
        |edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |und AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
        |reach(n, r) AS (
        |  SELECT u AS n, u AS r FROM (SELECT u FROM und
        |    UNION SELECT v AS u FROM und)
        |  UNION
        |  SELECT und.v AS n, reach.r FROM reach JOIN und ON und.u = reach.n),
        |comp AS (SELECT n, MIN(r) AS root FROM reach GROUP BY n),
        |sizes AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY root)
        |SELECT sz AS component_size, CAST(COUNT(*) AS BIGINT) AS n_components
        |FROM sizes GROUP BY sz ORDER BY component_size""".stripMargin,

    "q_context_pack" ->
      """WITH docs AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |cum AS (SELECT doc_id, toks,
        |    CAST(SUM(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_toks
        |  FROM docs)
        |SELECT (cum_toks - toks) // 2048 AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS bin_tokens,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS last_doc,
        |  CAST(SUM(toks) AS DOUBLE) / 2048.0 AS fill_frac
        |FROM cum GROUP BY bin ORDER BY bin""".stripMargin,

    "q_group_quantiles" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |ranked AS (SELECT priority, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY priority
        |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
        |  FROM o)
        |SELECT priority, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p25_cents,
        |  CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p50_cents,
        |  CAST(MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p75_cents,
        |  CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END)
        |    AS BIGINT) AS p95_cents
        |FROM ranked GROUP BY priority ORDER BY priority""".stripMargin)
}
