package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.OrderStats
import Qs._

/** Twenty-third batch: customer analytics on exact rank arithmetic (RFM
  * quintile segmentation, Lorenz decile concentration), robust statistics
  * (median-absolute-deviation outlier screen), privacy risk
  * (t-closeness), a prefix-filtering set-similarity join (the AllPairs /
  * PPJoin family — the non-LSH scalable path to exact Jaccard pairs), a
  * bounded k-core peel, and an exact-duplicate source-contamination
  * matrix.
  *
  * Scale design:
  *  - Every global rank rides the two-phase OrderStats range shuffle
  *    (never a single-partition window); NTILE bands are re-derived with
  *    the SQL remainder-bucket arithmetic proven in q_quantile_bands, so
  *    both engines compute identical BIGINT band ids.
  *  - q_prefix_simjoin bounds its candidate set the AllPairs way: tokens
  *    globally ordered by ascending document frequency, each doc emits
  *    only its |set| − ceil(t·|set|) + 1 rarest tokens as join keys —
  *    rare tokens fan out to few docs, so candidates stay near-linear
  *    while recall is PROVABLY total (two sets with Jaccard ≥ t must
  *    share a token inside both prefixes). Verification is
  *    candidate-restricted and stays in exact integers
  *    (8·|A∩B| ≥ 3·(|A|+|B|) ⟺ Jaccard ≥ 0.6).
  *  - q_kcore_peel runs a FIXED 3 peeling rounds (each round drops
  *    nodes of degree < 2), checkpointing each round like the BFS
  *    levels: bounded job count by construction, identical recurrence in
  *    the chained-CTE oracle — no data-dependent convergence loop.
  *  - q_tcloseness / q_mad_outliers / q_rfm_segments reduce to keyed
  *    aggregations plus bounded-grid or broadcast-scalar joins; the only
  *    data-sized passes are the initial fact-table aggregates.
  */
object Pipeline23 extends Batch {

  /** Exact NTILE over a precomputed 1-based dense rank: SQL gives the
    * first N % k buckets one extra row (same formula as
    * q_quantile_bands; the DIV-by-zero branch is unreachable because
    * rn ≤ N < k lands in the first CASE arm).
    */
  private def ntileExpr(k: Int, rn: String, n: String): Column = expr(
    s"""CASE WHEN $rn <= ($n % $k) * ($n DIV $k + 1)
       |     THEN ($rn - 1) DIV ($n DIV $k + 1) + 1
       |     ELSE ($n % $k) + ($rn - ($n % $k) * ($n DIV $k + 1) - 1)
       |            DIV ($n DIV $k) + 1 END""".stripMargin)

  val queries: Map[String, Q] = Map(
    // RFM segmentation: per customer, recency (days from the corpus'
    // last order date to the customer's last order), frequency (order
    // count), monetary (lifetime cents). Each dimension quintiled by
    // exact rank arithmetic (ascending: band 1 = smallest metric), then
    // segments rolled up. Three OrderStats rank passes over the
    // customer frame — each one range shuffle, no global windows.
    "q_rfm_segments" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val mx = o.agg(max(col("day")).as("maxd"))
      val cust = o.groupBy(col("o_custkey")).agg(
          max(col("day")).as("lastd"),
          count(lit(1)).cast("long").as("freq"),
          sum(col("cents")).cast("long").as("mon"))
        .crossJoin(broadcast(mx))
        .withColumn("rec", datediff(col("maxd"), col("lastd")).cast("long"))
        .select(col("o_custkey"), col("rec"), col("freq"), col("mon"))
      val n = cust.agg(count(lit(1)).cast("long").as("n"))
      val r1 = OrderStats.running(cust, Seq(col("rec"), col("o_custkey")), Some("rn_r"))
      val r2 = OrderStats.running(r1, Seq(col("freq"), col("o_custkey")), Some("rn_f"))
      val r3 = OrderStats.running(r2, Seq(col("mon"), col("o_custkey")), Some("rn_m"))
      r3.crossJoin(broadcast(n))
        .withColumn("r_band", ntileExpr(5, "rn_r", "n"))
        .withColumn("f_band", ntileExpr(5, "rn_f", "n"))
        .withColumn("m_band", ntileExpr(5, "rn_m", "n"))
        .groupBy(col("r_band"), col("f_band"), col("m_band"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          sum(col("mon")).cast("long").as("seg_cents"))
        .withColumn("avg_monetary_usd",
          col("seg_cents").cast("double") /
            (col("n_cust").cast("double") * 100.0))
        .orderBy(col("r_band"), col("f_band"), col("m_band"))
    },

    // Median absolute deviation outlier screen per order priority:
    // med = value at rank (n+1) DIV 2 (lower median — pure integer, no
    // interpolation), mad = lower median of |x − med|, outliers beyond
    // 3·mad. Grouped windows (5 priority groups) follow the
    // q_group_quantiles precedent; everything stays in integer cents.
    "q_mad_outliers" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      val w = Window.partitionBy(col("priority"))
        .orderBy(col("cents"), col("o_orderkey"))
      val ranked = o.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy(col("priority"))).cast("long"))
      val med = ranked.filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("priority"), col("cents").as("med_cents"))
      val dev = o.join(broadcast(med), Seq("priority"))
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      val w2 = Window.partitionBy(col("priority"))
        .orderBy(col("adev"), col("o_orderkey"))
      val mad = dev.withColumn("rn", row_number().over(w2).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy(col("priority"))).cast("long"))
        .filter(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("priority"), col("adev").as("mad_cents"))
      dev.join(broadcast(mad), Seq("priority"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).cast("long").as("n"),
          max(col("med_cents")).as("med_cents"),
          max(col("mad_cents")).as("mad_cents"),
          sum(when(col("adev") > lit(3) * col("mad_cents"), 1L)
            .otherwise(0L)).cast("long").as("n_outliers"))
        .withColumn("outlier_pct",
          col("n_outliers").cast("double") * 100.0 / col("n").cast("double"))
        .orderBy(col("priority"))
    },

    // t-closeness of the order-priority distribution within market
    // segments (QI = c_mktsegment, sensitive = o_orderpriority): total
    // variation distance between each segment's distribution and the
    // global one, cross-multiplied into exact integers —
    // tv_num = Σ_v |cnt_gv·N − cnt_v·n_g|, t = tv_num / (2·N·n_g). The
    // 5×5 (segment, priority) grid is bounded, so missing cells
    // materialize from a broadcast cross of the two marginals.
    "q_tcloseness" -> { (s, dir) =>
      val j = t(s, dir, "orders").join(
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as(("pri")))
      val cells = j.groupBy(col("seg"), col("pri"))
        .agg(count(lit(1)).cast("long").as("c_gv"))
      val glob = j.groupBy(col("pri")).agg(count(lit(1)).cast("long").as("c_v"))
      val segs = j.groupBy(col("seg")).agg(count(lit(1)).cast("long").as("n_g"))
      val tot = j.agg(count(lit(1)).cast("long").as("nn"))
      segs.crossJoin(broadcast(glob))
        .join(cells, Seq("seg", "pri"), "left")
        .na.fill(0L, Seq("c_gv"))
        .crossJoin(broadcast(tot))
        .groupBy(col("seg"), col("n_g"), col("nn"))
        .agg(sum(abs(col("c_gv") * col("nn") - col("c_v") * col("n_g")))
          .cast("long").as("tv_num"))
        .select(col("seg"), col("n_g"), col("tv_num"),
          (col("tv_num").cast("double") /
            (lit(2.0) * col("nn").cast("double") * col("n_g").cast("double")))
            .as("t_closeness"))
        .orderBy(col("seg"))
    },

    // Lorenz-curve deciles of customer lifetime revenue: customers
    // ranked ascending by cents (OrderStats), exact NTILE(10) bands,
    // per-decile share and running cumulative share (the Lorenz curve
    // the Gini scalar integrates). The 10-row cumulative rides a
    // bounded OrderStats pass.
    "q_lorenz_deciles" -> { (s, dir) =>
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val n = cust.agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("total"))
      val ranked = OrderStats.running(
        cust, Seq(col("cents"), col("o_custkey")), Some("rn"))
      val deciles = ranked.crossJoin(broadcast(n))
        .withColumn("decile", ntileExpr(10, "rn", "n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          sum(col("cents")).cast("long").as("dec_cents"),
          max(col("total")).as("total"))
      OrderStats.running(deciles, Seq(col("decile")), None,
          Seq("dec_cents" -> "cum_cents"), boundedInput = true)
        .select(col("decile"), col("n_cust"),
          (col("dec_cents").cast("double") / col("total").cast("double"))
            .as("decile_share"),
          (col("cum_cents").cast("double") / col("total").cast("double"))
            .as("cum_share"))
        .orderBy(col("decile"))
    },

    // Prefix-filtering set-similarity join (AllPairs/PPJoin family):
    // screen a PROBE batch (doc_id < 20 — the "newly arrived docs"
    // shape) against the whole corpus for token-set Jaccard ≥ 0.6.
    // Tokens are globally ordered by (df, token) ascending via one
    // OrderStats rank pass; both sides keep only their
    // m − ceil(0.6·m) + 1 rarest tokens, and two sets with Jaccard ≥ t
    // MUST share a token inside both prefixes — so the candidate join is
    // equi on rare tokens, the probe side is bounded, and verification
    // (exact integers: 8·|A∩B| ≥ 3·(|A|+|B|)) touches candidates only.
    // The unbounded all-pairs variant is intrinsically quadratic in its
    // OUTPUT on templated corpora (this corpus: >50% of all pairs pass
    // 0.6) — no candidate scheme fixes result cardinality, so the
    // bounded-probe form IS the one that scales.
    "q_prefix_simjoin" -> { (s, dir) =>
      // Checkpoint the exploded token set once: five consumers (sizes,
      // df, the ordered prefixes, and both sides of the verification
      // join) would otherwise each re-run the scan + explode + distinct.
      // Size-thresholded fan-out (round 11) replaces the former
      // unconditional repartition: same gate-scale plan, no full-corpus
      // shuffle at production sizes where the scan is already wide.
      val toks = graft.Tables.fanOutSmall(s, t(s, dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
        .ckpt()
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("m"))
      val df = toks.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("df"))
      val rankedTok = OrderStats.running(
        df, Seq(col("df"), col("tok")), Some("trk"))
      val ordered = toks.join(rankedTok.select(col("tok"), col("trk")), Seq("tok"))
        .join(sizes, Seq("doc_id"))
        // prefix length = m − ceil(0.6m) + 1; ceil(6m/10) = (6m+9) DIV 10
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("trk"))).cast("long"))
      val prefix = ordered
        .filter(col("prn") <= col("m") - expr("(6 * m + 9) DIV 10") + 1)
        .select(col("tok"), col("doc_id"), col("m"))
      val probe = prefix.filter(col("doc_id") < 20)
      val cands = probe.as("a").join(prefix.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.m").as("ma"), col("b.m").as("mb"))
        .distinct()
      val inter = cands
        .join(toks.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
        .join(toks.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
        .groupBy(col("doc_a"), col("doc_b"), col("ma"), col("mb"))
        .agg(count(lit(1)).cast("long").as("inter"))
      inter
        // Jaccard ≥ 0.6 ⟺ 10·i ≥ 6·(ma+mb−i) ⟺ 8·i ≥ 3·(ma+mb)
        .filter(col("inter") * 8 >= (col("ma") + col("mb")) * 3)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          (col("ma") + col("mb") - col("inter")).as("uni"),
          (col("inter").cast("double") /
            (col("ma") + col("mb") - col("inter")).cast("double"))
            .as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Bounded 2-core peel of the low-key co-purchase graph: exactly 3
    // rounds, each dropping nodes with degree < 2 and the edges touching
    // them; one row per round with surviving node/edge counts. Each
    // round's edge set is checkpointed (computed once; the next round
    // and the report both read the materialized frame) — fixed job
    // count, no data-dependent convergence loop.
    "q_kcore_peel" -> { (s, dir) =>
      // Shared degree-capped per-order part sets (Pipeline12), exploded
      // within the capped group — no lineitem×lineitem self-join. The
      // l_partkey < 300 cut keeps the subgraph small; the cap is the
      // same skew guard every co-purchase builder now carries.
      var edges = Pipeline12.cappedOrderSets(
          t(s, dir, "lineitem").filter(col("l_partkey") < 300)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
          col("ok"), col("pk"))
        .select(explode(col("items")).as("u"), col("items"))
        .select(col("u"), explode(col("items")).as("v"))
        .filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct().ckpt()
      val rounds = (1 to 3).map { r =>
        val und = edges.select(col("u").as("node"))
          .union(edges.select(col("v").as("node")))
        val keep = und.groupBy(col("node"))
          .agg(count(lit(1)).cast("long").as("deg"))
          .filter(col("deg") >= 2)
          .select(col("node"))
        edges = edges
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")).ckpt()
        val stats = edges.agg(
          count(lit(1)).cast("long").as("n_edges")).crossJoin(
          edges.select(col("u").as("node"))
            .union(edges.select(col("v").as("node"))).distinct()
            .agg(count(lit(1)).cast("long").as("n_nodes")))
        stats.select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ union _).orderBy(col("round"))
    },

    // Exact-duplicate source-contamination matrix: documents sharing an
    // identical text (md5 groups with > 1 member) generate one row per
    // unordered source pair per duplicate pair — which provenances leak
    // into each other, and how hard. Dup groups are tiny, so the
    // within-group pair expansion is bounded; the only data-sized pass
    // is the md5 aggregation.
    "q_dup_source_matrix" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5f(col("text")).as("h"))
      val dupg = d.groupBy(col("h")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") > 1).select(col("h"))
      val members = d.join(dupg, Seq("h"))
      members.as("x").join(members.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(least(col("x.source"), col("y.source")).as("source_a"),
          greatest(col("x.source"), col("y.source")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).cast("long").as("n_dup_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    })

  val oracle: Map[String, String] = Map(
    "q_rfm_segments" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mx AS (SELECT MAX(day) AS maxd FROM o),
        |cust AS (SELECT o_custkey,
        |    CAST(date_diff('day', MAX(day), (SELECT maxd FROM mx)) AS BIGINT)
        |      AS rec,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(cents) AS BIGINT) AS mon
        |  FROM o GROUP BY o_custkey),
        |banded AS (SELECT mon,
        |    CAST(NTILE(5) OVER (ORDER BY rec, o_custkey) AS BIGINT) AS r_band,
        |    CAST(NTILE(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_band,
        |    CAST(NTILE(5) OVER (ORDER BY mon, o_custkey) AS BIGINT) AS m_band
        |  FROM cust)
        |SELECT r_band, f_band, m_band, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(mon) AS BIGINT) AS seg_cents,
        |  CAST(SUM(mon) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 100.0)
        |    AS avg_monetary_usd
        |FROM banded GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_mad_outliers" ->
      """WITH o AS (SELECT o_orderpriority AS priority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |r1 AS (SELECT priority, cents,
        |    ROW_NUMBER() OVER (PARTITION BY priority
        |      ORDER BY cents, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY priority) AS n FROM o),
        |med AS (SELECT priority, cents AS med_cents FROM r1
        |  WHERE rn = (n + 1) // 2),
        |dev AS (SELECT o.priority, o.cents, o.o_orderkey, med.med_cents,
        |    ABS(o.cents - med.med_cents) AS adev
        |  FROM o JOIN med ON o.priority = med.priority),
        |r2 AS (SELECT priority, adev,
        |    ROW_NUMBER() OVER (PARTITION BY priority
        |      ORDER BY adev, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY priority) AS n FROM dev),
        |mad AS (SELECT priority, adev AS mad_cents FROM r2
        |  WHERE rn = (n + 1) // 2)
        |SELECT dev.priority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(dev.med_cents) AS BIGINT) AS med_cents,
        |  CAST(MAX(mad.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END)
        |    AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE) AS outlier_pct
        |FROM dev JOIN mad ON dev.priority = mad.priority
        |GROUP BY dev.priority ORDER BY dev.priority""".stripMargin,
    "q_tcloseness" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS c_gv
        |  FROM j GROUP BY 1, 2),
        |gdist AS (SELECT pri, CAST(COUNT(*) AS BIGINT) AS c_v
        |  FROM j GROUP BY 1),
        |segs AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g
        |  FROM j GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM j)
        |SELECT seg, n_g,
        |  CAST(SUM(ABS(COALESCE(c_gv, 0) * nn - c_v * n_g)) AS BIGINT)
        |    AS tv_num,
        |  CAST(SUM(ABS(COALESCE(c_gv, 0) * nn - c_v * n_g)) AS DOUBLE) /
        |    (2.0 * CAST(MAX(nn) AS DOUBLE) * CAST(MAX(n_g) AS DOUBLE))
        |    AS t_closeness
        |FROM segs CROSS JOIN gdist
        |  LEFT JOIN cells USING (seg, pri) CROSS JOIN tot
        |GROUP BY seg, n_g ORDER BY seg""".stripMargin,
    "q_lorenz_deciles" ->
      """WITH cust AS (SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT cents,
        |    CAST(NTILE(10) OVER (ORDER BY cents, o_custkey) AS BIGINT)
        |      AS decile FROM cust),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM cust),
        |d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(cents) AS BIGINT) AS dec_cents FROM b GROUP BY 1)
        |SELECT decile, n_cust,
        |  CAST(dec_cents AS DOUBLE) / CAST(total AS DOUBLE) AS decile_share,
        |  CAST(SUM(dec_cents) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS cum_share
        |FROM d CROSS JOIN tot ORDER BY decile""".stripMargin,
    "q_prefix_simjoin" ->
      """WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM toks GROUP BY 1),
        |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM toks GROUP BY 1),
        |rk AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY df, tok) AS trk
        |  FROM df),
        |ordered AS (SELECT t.doc_id, t.tok, s.m,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY rk.trk) AS prn
        |  FROM toks t JOIN rk ON t.tok = rk.tok
        |  JOIN sizes s ON t.doc_id = s.doc_id),
        |prefix AS (SELECT tok, doc_id, m FROM ordered
        |  WHERE prn <= m - (6 * m + 9) // 10 + 1),
        |probe AS (SELECT tok, doc_id, m FROM prefix WHERE doc_id < 20),
        |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.m AS ma, b.m AS mb
        |  FROM probe a JOIN prefix b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |inter AS (SELECT c.doc_a, c.doc_b, c.ma, c.mb,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cands c
        |  JOIN toks ta ON ta.doc_id = c.doc_a
        |  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, inter,
        |  CAST(ma + mb - inter AS BIGINT) AS uni,
        |  CAST(inter AS DOUBLE) / CAST(ma + mb - inter AS DOUBLE) AS jaccard
        |FROM inter WHERE inter * 8 >= (ma + mb) * 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_kcore_peel" ->
      s"""WITH ${Pipeline12.keptPartsSql(" WHERE l_partkey < 300")},
        |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM kept a JOIN kept b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |k1 AS (SELECT node FROM (
        |    SELECT node, COUNT(*) AS deg FROM (
        |      SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) x
        |    GROUP BY node) d WHERE deg >= 2),
        |e1 AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
        |k2 AS (SELECT node FROM (
        |    SELECT node, COUNT(*) AS deg FROM (
        |      SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) x
        |    GROUP BY node) d WHERE deg >= 2),
        |e2 AS (SELECT u, v FROM e1
        |  WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)),
        |k3 AS (SELECT node FROM (
        |    SELECT node, COUNT(*) AS deg FROM (
        |      SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) x
        |    GROUP BY node) d WHERE deg >= 2),
        |e3 AS (SELECT u, v FROM e2
        |  WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3)),
        |stats AS (
        |  SELECT 1 AS round,
        |    (SELECT COUNT(*) FROM (SELECT u FROM e1 UNION SELECT v FROM e1) t)
        |      AS n_nodes,
        |    (SELECT COUNT(*) FROM e1) AS n_edges
        |  UNION ALL SELECT 2,
        |    (SELECT COUNT(*) FROM (SELECT u FROM e2 UNION SELECT v FROM e2) t),
        |    (SELECT COUNT(*) FROM e2)
        |  UNION ALL SELECT 3,
        |    (SELECT COUNT(*) FROM (SELECT u FROM e3 UNION SELECT v FROM e3) t),
        |    (SELECT COUNT(*) FROM e3))
        |SELECT CAST(round AS BIGINT) AS round,
        |  CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges
        |FROM stats ORDER BY round""".stripMargin,
    "q_dup_source_matrix" ->
      """WITH d AS (SELECT doc_id, source, MD5(text) AS h FROM documents),
        |dupg AS (SELECT h FROM d GROUP BY h HAVING COUNT(*) > 1),
        |m AS (SELECT d.* FROM d JOIN dupg USING (h))
        |SELECT LEAST(x.source, y.source) AS source_a,
        |  GREATEST(x.source, y.source) AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
        |FROM m x JOIN m y ON x.h = y.h AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
