package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot
import graft.operators.OrderStats
import Qs._

/** Twenty-fourth batch: corpus statistics and governance for the LLM
  * pipeline — Zipf rank-band structure, a Kneser–Ney smoothed bigram LM,
  * embedding-cohort drift, the quality-gate attrition funnel, duplicate
  * leakage across train/val/test splits, and a schema/statistics drift
  * report between time halves.
  *
  * Scale design:
  *  - Vocabulary-sized ranks (Zipf) go through the OrderStats range
  *    shuffle; rank bands are floor(log2(rank)) computed EXACTLY as
  *    length(bin(rank)) − 1 — integer string length, no floating log,
  *    bit-identical in both engines.
  *  - The KN model is three keyed aggregations over the bigram table
  *    (c(w1,w2) → c(w1·) + N1+(w1·) → N1+(·w2)) and one broadcast
  *    scalar (bigram type count); the probability formula is written
  *    with the same association order in both engines, over exact
  *    integer counts and the exactly-representable discount 0.75.
  *  - Embedding means use the quantize-to-decimal trick from the IVF
  *    path (ROUND(v,3) → DECIMAL sums — exact, shuffle-order-free);
  *    cohort cosine runs over the assembled mean vectors with the same
  *    codegen'd dot expression the ANN family uses.
  *  - Attrition/leakage/drift reduce to single-pass aggregations with
  *    broadcast scalars — nothing wider than the fact-table scan.
  */
object Pipeline24 extends Batch {

  private def splitOf(c: org.apache.spark.sql.Column) = {
    val h = substring(md5(c.cast("string")), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  val queries: Map[String, Q] = Map(
    // Zipf band report: tokens ranked by descending corpus frequency
    // (ties by token), grouped into rank bands [2^k, 2^{k+1}). A
    // Zipf-shaped corpus shows near-constant mass per band; deviations
    // localize where the vocabulary is template-heavy or truncated.
    "q_token_zipf_bands" -> { (s, dir) =>
      val freq = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("f"))
      val ranked = OrderStats.running(
        freq, Seq(col("f").desc, col("tok")), Some("rn"))
      val tot = freq.agg(sum(col("f")).cast("long").as("mass"),
        count(lit(1)).cast("long").as("vocab"))
      ranked
        .withColumn("band", (length(bin(col("rn"))) - 1).cast("long"))
        .groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(col("f")).cast("long").as("band_mass"),
          min(col("rn")).as("min_rank"), max(col("rn")).as("max_rank"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_tokens"), col("band_mass"),
          col("min_rank"), col("max_rank"),
          (col("band_mass").cast("double") / col("mass").cast("double"))
            .as("mass_share"))
        .orderBy(col("band"))
    },

    // Interpolated Kneser–Ney bigram probabilities (D = 0.75, exactly
    // representable) for the 20 most frequent bigrams:
    //   P(w2|w1) = max(c−D,0)/c(w1·) + (D·N1+(w1·)/c(w1·)) · (N1+(·w2)/T)
    // where N1+ are continuation type counts and T the bigram type
    // total. Adjacent-token bigrams come from a per-doc position join.
    "q_kn_bigram" -> { (s, dir) =>
      val pos = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      val bi = pos.as("a").join(pos.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("b.p") === col("a.p") + 1)
        .select(col("a.w").as("w1"), col("b.w").as("w2"))
      val c12 = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c"))
      val left = c12.groupBy(col("w1")).agg(
        sum(col("c")).cast("long").as("c1"),
        count(lit(1)).cast("long").as("n1fwd"))
      val cont = c12.groupBy(col("w2"))
        .agg(count(lit(1)).cast("long").as("n1rev"))
      val tt = c12.agg(count(lit(1)).cast("long").as("tt"))
      c12.join(left, Seq("w1")).join(cont, Seq("w2"))
        .crossJoin(broadcast(tt))
        .withColumn("p_kn",
          (greatest(col("c").cast("double") - lit(0.75), lit(0.0)) /
            col("c1").cast("double")) +
            ((lit(0.75) * col("n1fwd").cast("double") /
              col("c1").cast("double")) *
              (col("n1rev").cast("double") / col("tt").cast("double"))))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("c"), col("c1"),
          col("n1fwd"), col("n1rev"), col("p_kn"))
    },

    // Embedding cohort drift: per label, the cosine between the mean
    // vectors of the even- and odd-id cohorts (a two-sample drift check
    // on the embedding space). Means are exact decimal sums of the
    // quantized values divided back in double, assembled into ordered
    // arrays; cosine via the codegen'd dot expression.
    "q_embed_drift" -> { (s, dir) =>
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(expr(
            "transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE), 3)" +
              " AS DECIMAL(10,3)))")).as(Seq("pos", "qv")))
        .withColumn("half", pmod(col("vec_id"), lit(2)))
      val means = dims.groupBy(col("label"), col("half"), col("pos"))
        .agg((sum(col("qv")).cast("double") / count(lit(1))).as("cv"))
      val vecs = means.groupBy(col("label"), col("half"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv)))," +
          " s -> s.cv)").as("v"))
      val ns = t(s, dir, "embeddings")
        .groupBy(col("label").cast("long").as("label"),
          pmod(col("vec_id"), lit(2)).as("half"))
        .agg(count(lit(1)).cast("long").as("n"))
      val a = vecs.filter(col("half") === 0)
        .join(ns.filter(col("half") === 0), Seq("label", "half"))
        .select(col("label"), col("v").as("va"), col("n").as("n_even"))
      val b = vecs.filter(col("half") === 1)
        .join(ns.filter(col("half") === 1), Seq("label", "half"))
        .select(col("label"), col("v").as("vb"), col("n").as("n_odd"))
      a.join(b, Seq("label"))
        .select(col("label"), col("n_even"), col("n_odd"),
          (dot(col("va"), col("vb")) /
            (sqrt(dot(col("va"), col("va"))) *
              sqrt(dot(col("vb"), col("vb"))))).as("cos_drift"))
        .orderBy(col("label"))
    },

    // Quality-gate attrition funnel: how many documents survive each
    // successive curation gate — length, token count, lexical diversity
    // (distinct/total ≥ 0.3), max-token dominance (≤ 20%) — all
    // integer-ratio comparisons, one row out.
    "q_gate_attrition" -> { (s, dir) =>
      val tokStats = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("n_chars"), col("tok"))
        .agg(count(lit(1)).cast("long").as("ct"))
        .groupBy(col("doc_id"), col("n_chars"))
        .agg(sum(col("ct")).cast("long").as("n_tok"),
          count(lit(1)).cast("long").as("n_distinct"),
          max(col("ct")).cast("long").as("max_ct"))
      val flagged = tokStats
        .withColumn("g1", col("n_chars") >= 100 && col("n_chars") <= 20000)
        .withColumn("g2", col("n_tok") >= 10)
        .withColumn("g3", col("n_distinct") * 10 >= col("n_tok") * 3)
        .withColumn("g4", col("max_ct") * 5 <= col("n_tok"))
      flagged.agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("g1"), 1L).otherwise(0L)).cast("long").as("pass_len"),
          sum(when(col("g1") && col("g2"), 1L).otherwise(0L))
            .cast("long").as("pass_tok"),
          sum(when(col("g1") && col("g2") && col("g3"), 1L).otherwise(0L))
            .cast("long").as("pass_diversity"),
          sum(when(col("g1") && col("g2") && col("g3") && col("g4"), 1L)
            .otherwise(0L)).cast("long").as("pass_all"))
        .withColumn("keep_rate",
          col("pass_all").cast("double") / col("n_docs").cast("double"))
    },

    // Duplicate leakage across the md5 train/val/test split (the audit
    // that catches test contamination BEFORE training): exact-duplicate
    // pairs whose members land in different splits, counted per
    // unordered split pair. Dup groups are tiny; the data-sized pass is
    // the md5 aggregation.
    "q_split_leakage" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
          md5(col("text")).as("h"))
      val dupg = d.groupBy(col("h")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") > 1).select(col("h"))
      val m = d.join(dupg, Seq("h"))
      m.as("x").join(m.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(least(col("x.split"), col("y.split")).as("split_a"),
          greatest(col("x.split"), col("y.split")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .withColumn("leaks", col("split_a") =!= col("split_b"))
        .orderBy(col("split_a"), col("split_b"))
    },

    // Statistics drift between the first and second half of the order
    // history (split at 1998-01-01): row mass, revenue mean, priority
    // mix entropy proxy (distinct count), customer coverage — the
    // monitoring report that catches silent upstream schema/behavior
    // changes. One metric per row, exact integers + one double ratio.
    "q_schema_drift" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        (to_date(col("o_orderdate")) < lit("1998-01-01")).as("early"))
      def side(early: Boolean) = o.filter(col("early") === early).agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("cents")).cast("long").as("sum_cents"),
        countDistinct(col("o_custkey")).cast("long").as("n_cust"),
        countDistinct(col("o_orderpriority")).cast("long").as("n_pri"))
      // One materialized 1-row frame; without it each unioned metric row
      // would lazily re-run both aggregations (8 scans for 4 metrics).
      val ab = side(early = true).crossJoin(side(early = false).select(
          col("n_rows").as("b_n_rows"), col("sum_cents").as("b_sum_cents"),
          col("n_cust").as("b_n_cust"), col("n_pri").as("b_n_pri")))
        .ckpt()
      val metrics = Seq(
        ("n_rows", "row count"), ("sum_cents", "revenue cents"),
        ("n_cust", "distinct customers"), ("n_pri", "distinct priorities"))
      val rows = metrics.map { case (c, label) =>
        ab.select(lit(label).as("metric"),
          col(c).as("first_half"), col(s"b_$c").as("second_half"))
      }
      rows.reduce(_ union _)
        // An empty first half (all data on one side of the cut) makes
        // the drift ratio undefined → NULL, not an ANSI crash (fuzz
        // sweep, round 7).
        .withColumn("ratio",
          when(coalesce(col("first_half"), lit(0L)) === 0,
            lit(null).cast("double"))
            .otherwise(col("second_half").cast("double") /
              col("first_half").cast("double")))
        .orderBy(col("metric"))
    })

  val oracle: Map[String, String] = Map(
    "q_token_zipf_bands" ->
      """WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM toks GROUP BY 1),
        |ranked AS (SELECT f,
        |    CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS BIGINT) AS rn
        |  FROM freq),
        |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS mass FROM freq)
        |SELECT CAST(LENGTH(BIN(rn)) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(f) AS BIGINT) AS band_mass,
        |  CAST(MIN(rn) AS BIGINT) AS min_rank,
        |  CAST(MAX(rn) AS BIGINT) AS max_rank,
        |  CAST(SUM(f) AS DOUBLE) / CAST(MAX(mass) AS DOUBLE) AS mass_share
        |FROM ranked CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kn_bigram" ->
      """WITH pos AS (SELECT doc_id, i - 1 AS p, toks[i] AS w FROM (
        |    SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |    UNNEST(generate_series(1, LEN(toks))) AS t(i)),
        |bi AS (SELECT a.w AS w1, b.w AS w2 FROM pos a JOIN pos b
        |  ON a.doc_id = b.doc_id AND b.p = a.p + 1),
        |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bi GROUP BY 1, 2),
        |lft AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS n1fwd FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1rev
        |  FROM c12 GROUP BY 1),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM c12)
        |SELECT w1, w2, c, c1, n1fwd, n1rev,
        |  (GREATEST(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)) +
        |    ((0.75 * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE)) *
        |      (CAST(n1rev AS DOUBLE) / CAST(tt AS DOUBLE))) AS p_kn
        |FROM c12 JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN tt
        |ORDER BY c DESC, w1, w2 LIMIT 20""".stripMargin,
    "q_embed_drift" ->
      """WITH dims AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    vec_id % 2 AS half, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(ROUND(CAST(emb[i] AS DOUBLE), 3) AS DECIMAL(10,3)) AS qv
        |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |    FROM embeddings),
        |    UNNEST(generate_series(1, LEN(emb))) AS t(i)),
        |means AS (SELECT label, half, pos,
        |    CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS cv
        |  FROM dims GROUP BY 1, 2, 3),
        |vecs AS (SELECT label, half,
        |    list_transform(list_sort(list({'pos': pos, 'cv': cv})),
        |      s -> s.cv) AS v
        |  FROM means GROUP BY 1, 2),
        |ns AS (SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1, 2)
        |SELECT a.label, na.n AS n_even, nb.n AS n_odd,
        |  list_inner_product(a.v, b.v) /
        |    (SQRT(list_inner_product(a.v, a.v)) *
        |      SQRT(list_inner_product(b.v, b.v))) AS cos_drift
        |FROM vecs a JOIN vecs b ON a.label = b.label
        |  AND a.half = 0 AND b.half = 1
        |JOIN ns na ON na.label = a.label AND na.half = 0
        |JOIN ns nb ON nb.label = a.label AND nb.half = 1
        |ORDER BY a.label""".stripMargin,
    "q_gate_attrition" ->
      """WITH tc AS (SELECT doc_id, n_chars, tok,
        |    CAST(COUNT(*) AS BIGINT) AS ct FROM (
        |    SELECT doc_id, n_chars, UNNEST(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id, n_chars,
        |    CAST(SUM(ct) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(ct) AS BIGINT) AS max_ct
        |  FROM tc GROUP BY 1, 2),
        |fl AS (SELECT *,
        |    n_chars >= 100 AND n_chars <= 20000 AS g1,
        |    n_tok >= 10 AS g2,
        |    n_distinct * 10 >= n_tok * 3 AS g3,
        |    max_ct * 5 <= n_tok AS g4
        |  FROM st)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        |  CAST(SUM(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pass_tok,
        |  CAST(SUM(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pass_diversity,
        |  CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS pass_all,
        |  CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate
        |FROM fl""".stripMargin,
    "q_split_leakage" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
        |      THEN 'train'
        |      WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
        |      THEN 'val' ELSE 'test' END AS split,
        |    MD5(text) AS h
        |  FROM documents),
        |dupg AS (SELECT h FROM d GROUP BY h HAVING COUNT(*) > 1),
        |m AS (SELECT d.* FROM d JOIN dupg USING (h))
        |SELECT LEAST(x.split, y.split) AS split_a,
        |  GREATEST(x.split, y.split) AS split_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  LEAST(x.split, y.split) <> GREATEST(x.split, y.split) AS leaks
        |FROM m x JOIN m y ON x.h = y.h AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_schema_drift" ->
      """WITH o AS (SELECT o_custkey, o_orderpriority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) < DATE '1998-01-01' AS early
        |  FROM orders),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pri
        |  FROM o WHERE early),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pri
        |  FROM o WHERE NOT early),
        |rows_ AS (
        |  SELECT 'row count' AS metric, a.n_rows AS first_half,
        |    b.n_rows AS second_half FROM a CROSS JOIN b
        |  UNION ALL SELECT 'revenue cents', a.sum_cents, b.sum_cents
        |    FROM a CROSS JOIN b
        |  UNION ALL SELECT 'distinct customers', a.n_cust, b.n_cust
        |    FROM a CROSS JOIN b
        |  UNION ALL SELECT 'distinct priorities', a.n_pri, b.n_pri
        |    FROM a CROSS JOIN b)
        |SELECT metric, first_half, second_half,
        |  CASE WHEN COALESCE(first_half, 0) = 0 THEN NULL
        |    ELSE CAST(second_half AS DOUBLE) / CAST(first_half AS DOUBLE)
        |  END AS ratio
        |FROM rows_ ORDER BY metric""".stripMargin)
}
