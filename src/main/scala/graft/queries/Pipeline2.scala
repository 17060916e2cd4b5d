package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import Qs._

/** Second batch of training-data pipeline operators: sparse lexical
  * similarity (TF-IDF ranking, count-vector cosine), corpus quality
  * signals (Gopher-style repetition/composition filters), and stratified
  * sampling.
  *
  * Oracle-exactness design: every aggregate that crosses a shuffle is
  * INTEGER (term counts, squared norms, dot products of counts), so
  * results are order-independent and the DuckDB twin matches bit-for-bit.
  * The only floats are derived per-row from already-exact integers
  * (ratios, sqrt), where IEEE correct rounding makes both engines agree;
  * TF-IDF's `ln` is used for ORDERING only and never emitted — the two
  * engines' libm may differ in the last ulp, but equal (tf, df) pairs get
  * equal scores within each engine, and distinct pairs are never within
  * an ulp on real corpora.
  *
  * Scale notes (100 TB):
  *  - the term-pair join in [[q_doc_sim_cosine]] runs over a DF-pruned
  *    vocabulary (df ≤ N/10, relative so selectivity is scale-stable):
  *    stopword-grade terms are the quadratic hot spot of sparse
  *    similarity, same escape hatch as the shingle DF cap in Dedup;
  *    norms use the same pruned space, so cosine is exact within it
  *    (identical docs score 1); surviving hot terms are adaptively
  *    salted (s ∝ df², derived in the dfreq pass the query already
  *    pays) so no single task owns a hot term's pair production;
  *  - stratified sampling is one window per stratum — a single shuffle
  *    keyed on the stratum, the distributed reservoir-sample shape;
  *  - everything else is groupBy/window over hash-partitionable keys.
  */
object Pipeline2 extends Batch {

  /** doc_id, term, tf for whitespace tokens. Materialized once
    * (localCheckpoint): every consumer fans out into 2-4 aggregations
    * and joins over it, and an unmaterialized plan would re-run the
    * explode+groupBy per branch.
    */
  private def termFreq(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .ckpt()

  val queries: Map[String, Q] = Map[String, Q](
    // Top-3 TF-IDF terms per document. Integer outputs; ln used only to
    // rank (see scaladoc). N comes from a broadcast 1-row aggregate —
    // no driver-side count.
    "q_tfidf_topterms" -> { (s, dir) =>
      val tf = termFreq(s, dir)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(
        (col("tf") * log((col("n") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double"))).desc,
        col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // BM25 retrieval for a fixed 3-term query (k1=1.2, b=0.75): top-20
    // docs by the summed per-term score. Like TF-IDF above, the float
    // score only ORDERS — egress is integer (rank, per-term tf, dl), so
    // the oracle hash-matches despite libm ulp differences.
    "q_bm25" -> { (s, dir) =>
      bm25Top20(s, dir)
        .select(col("rk"), col("doc_id"), col("dl"),
          coalesce(col("tf_spark"), lit(0L)).as("tf_spark"),
          coalesce(col("tf_query"), lit(0L)).as("tf_query"),
          coalesce(col("tf_stream"), lit(0L)).as("tf_stream"))
        .orderBy(col("rk"))
    },

    // Two-stage retrieval (the RAG shape): BM25 recalls 20 candidates,
    // an exact count-vector cosine reranks them. Stage 2 only touches
    // the candidate set, so its per-doc norm join is 20 rows against a
    // broadcastable aggregate — retrieval narrows before expensive
    // scoring, the pattern that survives corpus scale-up.
    "q_rerank" -> { (s, dir) =>
      val terms = Seq("spark", "query", "stream")
      val tfAll = termFreq(s, dir)
      val nsq = tfAll.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nsq"))
      val dot = tfAll.filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("dot"))
      val reranked = bm25Top20(s, dir).select(col("doc_id"), col("rk").as("bm25_rk"))
        .join(dot, Seq("doc_id"))
        .join(nsq, Seq("doc_id"))
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(lit(3.0)) * sqrt(col("nsq").cast("double"))))
      // Rank the 20-candidate set with the same bounded topK path (input
      // is already ≤ 20 rows; no unpartitioned window).
      graft.operators.OrderStats.topK(
          reranked, Seq(col("cos").desc, col("doc_id")), 20, "rerank_rk")
        .select(col("rerank_rk"), col("bm25_rk"), col("doc_id"),
          col("dot"), col("nsq"), col("cos"))
        .orderBy(col("rerank_rk"))
    }) ++ moreQueries

  /** Shared BM25 stage: per-doc summed score over the fixed 3-term query,
    * ranked, top 20. Kept private so q_bm25 (egress) and q_rerank
    * (candidate generation) stay the same computation.
    */
  private def bm25Top20(s: org.apache.spark.sql.SparkSession, dir: String) = {
      val terms = Seq("spark", "query", "stream")
      val tf = termFreq(s, dir).filter(col("term").isin(terms: _*))
      val dl = t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val perTerm = tf.join(dfreq, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
      // idf(t)·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), avgdl = sum_dl/n
      val score = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) +
          lit(0.75) * col("dl") * col("n") / col("sum_dl")))
      // Per-term scores pivot into fixed columns and add LEFT-TO-RIGHT:
      // a bare sum(score) would add the ≤3 term scores in shuffle order,
      // which is nondeterministic for doubles.
      val scored = perTerm
        .groupBy(col("doc_id"), col("dl"))
        .agg(
          sum(when(col("term") === "spark", score)).as("s1"),
          sum(when(col("term") === "query", score)).as("s2"),
          sum(when(col("term") === "stream", score)).as("s3"),
          sum(when(col("term") === "spark", col("tf"))).as("tf_spark"),
          sum(when(col("term") === "query", col("tf"))).as("tf_query"),
          sum(when(col("term") === "stream", col("tf"))).as("tf_stream"))
        .withColumn("s", coalesce(col("s1"), lit(0.0)) +
          coalesce(col("s2"), lit(0.0)) + coalesce(col("s3"), lit(0.0)))
      // Top-20 via TakeOrderedAndProject + bounded sequential rank
      // (OrderStats.topK): per-partition top-k then a 20-row merge —
      // never a full-corpus single-partition window sort.
      graft.operators.OrderStats.topK(
        scored, Seq(col("s").desc, col("doc_id")), 20, "rk")
  }

  private lazy val moreQueries: Map[String, Q] = Map(
    // Count-vector cosine similarity pairs >= 0.5 via sparse term
    // equi-join over the DF-pruned vocabulary (df ≤ N/10 — RELATIVE, so
    // the prune keeps the same selectivity at every corpus size; an
    // absolute cap silently empties the vocabulary at 10× scale).
    // Corpus-frequent terms carry no signal and are the quadratic hot
    // spot; norms use the SAME pruned space, so identical docs score
    // exactly 1. The integer threshold test (num² ≥ ¼·na·nb) decides
    // membership exactly; the emitted cosine derives from the same
    // exact integers.
    "q_doc_sim_cosine" -> { (s, dir) =>
      // MEMORY FLOOR (measured, BENCH_MEM rounds 9-10): the salted pair
      // join feeding the output-quadratic (a,b) aggregation needs
      // ≥~150 MiB of execution memory PER TASK at sf1's 87.5M-pair
      // volume (OOMs at ≤75 MiB/task; passes at 8g×32t and 4g×8t).
      // Partition count does NOT move it (128→256p identical failure,
      // r9) and neither does SALT granularity (budgets 4e6/1e6/2.5e5
      // all OOM identically at 4g×32t, r10 — the b side explodes to
      // ALL salts, so each (term,salt) bucket still buffers the term's
      // full df rows; salt splits a-side ownership, not per-task
      // machinery). At a fixed heap the knob is executor CONCURRENCY.
      val tf = termFreq(s, dir)
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      // Adaptive per-term salting (the cosineNearDupPairs move applied
      // to a TERM join): the term is the only join key, so one task
      // computes a hot term's df² pairs — measured at the ×10 ScaleGen
      // corpus as 712s wall against ~100× the output (the straggler
      // signature: ~3.5× over the output-bound floor). s(term) =
      // clamp(ceil(df²/4e6), 1, 1024) rides along the dfreq join — no
      // extra shuffle, no broadcast of the (unbounded) vocabulary — and
      // the gate's corpora (df² ≪ 4e6) keep s = 1, i.e. the gated plan
      // is byte-identical. Salts shape PARTITIONING only: `a` carries
      // one salt, `b` explodes to all of its term's salts, so every
      // (a < b, term) contribution meets exactly once. The per-task
      // pair budget is conf-tunable (`spark.graft.docSim.taskPairBudget`,
      // default 4e6): a smaller budget = finer salt = each task owns a
      // smaller slice of a hot term's pair block — the round-10 memory
      // experiment's knob; any value yields identical rows.
      val pairBudget = s.conf.getOption("spark.graft.docSim.taskPairBudget")
        .map(_.toDouble).getOrElse(4e6)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 10 <= col("n_docs"))
        .withColumn("__s", least(lit(1024L), greatest(lit(1L),
          ceil(col("df").cast("double") * col("df") / lit(pairBudget))
            .cast("long"))).cast("int"))
        .select(col("term"), col("__s"))
      // Materialized once: `rare` feeds four branches below (both join
      // sides of `num` and both `nsq` aliases); unmaterialized, Catalyst
      // re-plans the vocabulary prune — including its 1-row corpus-count
      // broadcast — per branch, so the prune would run 4×.
      val rare = tf.join(dfreq, Seq("term")).ckpt()
      val nsq = rare.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("nsq"))
      val num = rare
        .withColumn("__salt", pmod(hash(col("doc_id")), col("__s"))).as("a")
        .join(rare.withColumn("__salt",
            explode(sequence(lit(0), col("__s") - 1))).as("b"),
          col("a.term") === col("b.term") &&
            col("a.__salt") === col("b.__salt") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(sum(col("a.tf") * col("b.tf")).as("num"))
      num
        .join(nsq.as("za"), col("a_id") === col("za.doc_id"))
        .join(nsq.as("zb"), col("b_id") === col("zb.doc_id"))
        .select(col("a_id"), col("b_id"), col("num"),
          col("za.nsq").as("nsq_a"), col("zb.nsq").as("nsq_b"),
          (col("num").cast("double") /
            (sqrt(col("za.nsq").cast("double")) *
              sqrt(col("zb.nsq").cast("double")))).as("cos"))
        .filter(col("num") * col("num") * 4 >= col("nsq_a") * col("nsq_b"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Gopher-style quality signals: composition ratios and the top-bigram
    // repetition fraction, plus the resulting keep/drop decision. All
    // comparisons run on exact integer-derived values.
    "q_quality_signals" -> { (s, dir) =>
      // `ws` is materialized as a column first: the lambda expressions
      // below are not common-subexpression-eliminated across projections,
      // so inlining `split` would re-tokenize per signal.
      // Fan out the single-split gate-scale scan before the per-row
      // lambda/regex signal battery (round 11, measured −0.3s wall;
      // no-op at scale).
      val withWs = graft.Tables.fanOutSmall(s, t(s, dir, "documents"))
        .withColumn("ws", split(col("text"), " "))
      val bigrams = when(size(col("ws")) >= 2,
        expr("transform(sequence(0, size(ws)-2), " +
          "i -> concat_ws(' ', ws[i], ws[i+1]))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
      val top2 = withWs
        .select(col("doc_id"), explode(bigrams).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
      val stops = "('the','a','of','and','is','to','in')"
      val base = withWs.select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr(s"CAST(size(filter(ws, w -> w IN $stops)) AS BIGINT)")
          .as("n_stop"),
        expr("CAST(aggregate(transform(ws, w -> length(w)), 0, " +
          "(acc, x) -> acc + x) AS BIGINT)").as("sum_wlen"),
        size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_symbols"),
        length(col("text")).cast("long").as("n_chars"))
      base.join(top2, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("n_words"), col("n_stop"),
          (col("sum_wlen").cast("double") / col("n_words")).as("mean_wlen"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          (coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
            greatest(col("n_words") - 1, lit(1L))).as("top_bigram_frac"),
          // Empty documents: NULL ratio instead of an ANSI
          // divide-by-zero crash (full-catalog fuzz sweep, round 7).
          when(col("n_chars") === 0, lit(null).cast("double"))
            .otherwise(col("n_symbols").cast("double") / col("n_chars"))
            .as("symbol_ratio"),
          // Gopher-ish gate: enough words, some stopwords, sane word
          // length, bounded repetition. Integer cross-multiplied forms.
          (col("n_words") >= 10 && col("n_stop") * 100 >= col("n_words") &&
            col("sum_wlen") >= col("n_words") * 2 &&
            col("sum_wlen") <= col("n_words") * 12 &&
            coalesce(col("top_bigram_n"), lit(0L)) * 5 <=
              greatest(col("n_words") - 1, lit(1L))).as("keep"))
        .orderBy(col("doc_id"))
    },

    // Token-length histogram: fixed-width (10-word) buckets with exact
    // shares — corpus shape at a glance, two-phase agg + one tiny window.
    "q_token_histogram" -> { (s, dir) =>
      val hist = t(s, dir, "documents")
        .select(expr("CAST(size(split(text, ' ')) DIV 10 AS BIGINT) * 10")
          .as("bucket_lo"))
        .groupBy(col("bucket_lo")).agg(count(lit(1)).as("n_docs"))
      // grand total as a broadcast 1-row aggregate, not a whole-frame
      // window (which would move every bucket to one partition)
      hist.crossJoin(broadcast(hist.agg(sum(col("n_docs")).as("tot"))))
        .withColumn("share", col("n_docs").cast("double") / col("tot"))
        .select(col("bucket_lo"), col("n_docs"), col("share"))
        .orderBy(col("bucket_lo"))
    },

    // Stratified sample: exactly min(|stratum|, 20) docs per language,
    // picked by md5 order — deterministic, replayable, one shuffle.
    "q_sample_stratified" -> { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5f(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    })

  val oracle: Map[String, String] = Map(
    "q_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, rk, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
        |      tf.tf * LN((n.n + 1) / CAST(dfreq.df + 1 AS DOUBLE)) DESC,
        |      tf.term) AS BIGINT) AS rk
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n) x
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'query', 'stream') GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl),
        |pt AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
        |    LN((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n / stats.sum_dl))
        |      AS score
        |  FROM tf
        |  JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |sc AS (SELECT doc_id, dl,
        |    SUM(CASE WHEN term = 'spark' THEN score END) AS s1,
        |    SUM(CASE WHEN term = 'query' THEN score END) AS s2,
        |    SUM(CASE WHEN term = 'stream' THEN score END) AS s3,
        |    SUM(CASE WHEN term = 'spark' THEN tf END) AS tf_spark,
        |    SUM(CASE WHEN term = 'query' THEN tf END) AS tf_query,
        |    SUM(CASE WHEN term = 'stream' THEN tf END) AS tf_stream
        |  FROM pt GROUP BY doc_id, dl)
        |SELECT rk, doc_id, dl,
        |  CAST(COALESCE(tf_spark, 0) AS BIGINT) AS tf_spark,
        |  CAST(COALESCE(tf_query, 0) AS BIGINT) AS tf_query,
        |  CAST(COALESCE(tf_stream, 0) AS BIGINT) AS tf_stream
        |FROM (SELECT doc_id, dl, tf_spark, tf_query, tf_stream,
        |    CAST(ROW_NUMBER() OVER (ORDER BY
        |      COALESCE(s1, 0.0) + COALESCE(s2, 0.0) + COALESCE(s3, 0.0) DESC,
        |      doc_id) AS BIGINT) AS rk
        |  FROM sc) x
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q_rerank" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM documents),
        |tfa AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |tf AS (SELECT * FROM tfa WHERE term IN ('spark', 'query', 'stream')),
        |dl AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl),
        |pt AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
        |    LN((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n / stats.sum_dl))
        |      AS score
        |  FROM tf
        |  JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |sc AS (SELECT doc_id,
        |    COALESCE(SUM(CASE WHEN term = 'spark' THEN score END), 0.0)
        |    + COALESCE(SUM(CASE WHEN term = 'query' THEN score END), 0.0)
        |    + COALESCE(SUM(CASE WHEN term = 'stream' THEN score END), 0.0) AS s
        |  FROM pt GROUP BY doc_id),
        |top AS (SELECT doc_id, rk AS bm25_rk FROM (
        |    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id)
        |      AS BIGINT) AS rk FROM sc) x
        |  WHERE rk <= 20),
        |nsq AS (SELECT doc_id, SUM(tf * tf) AS nsq FROM tfa GROUP BY doc_id),
        |dt AS (SELECT doc_id, SUM(tf) AS dot FROM tf GROUP BY doc_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
        |    AS rerank_rk,
        |  bm25_rk, doc_id, CAST(dot AS BIGINT) AS dot,
        |  CAST(nsq AS BIGINT) AS nsq, cos
        |FROM (SELECT top.doc_id, top.bm25_rk, dt.dot, nsq.nsq,
        |    CAST(dt.dot AS DOUBLE) / (SQRT(3.0) * SQRT(CAST(nsq.nsq AS DOUBLE)))
        |      AS cos
        |  FROM top JOIN dt USING (doc_id) JOIN nsq USING (doc_id)) y
        |ORDER BY rerank_rk""".stripMargin,
    "q_doc_sim_cosine" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |rare AS (SELECT tf.* FROM tf JOIN dfreq USING (term)
        |  WHERE dfreq.df * 10 <= (SELECT COUNT(*) FROM documents)),
        |nsq AS (SELECT doc_id, SUM(tf * tf) AS nsq FROM rare GROUP BY doc_id),
        |num AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    SUM(a.tf * b.tf) AS num
        |  FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, CAST(num AS BIGINT) AS num,
        |  CAST(za.nsq AS BIGINT) AS nsq_a, CAST(zb.nsq AS BIGINT) AS nsq_b,
        |  CAST(num AS DOUBLE) /
        |    (SQRT(CAST(za.nsq AS DOUBLE)) * SQRT(CAST(zb.nsq AS DOUBLE))) AS cos
        |FROM num JOIN nsq za ON a_id = za.doc_id JOIN nsq zb ON b_id = zb.doc_id
        |WHERE num * num * 4 >= za.nsq * zb.nsq
        |ORDER BY a_id, b_id""".stripMargin,
    "q_quality_signals" ->
      """WITH bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w,
        |  UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 1, 0))) AS t(i)),
        |top2 AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM (
        |  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg) x
        |  GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
        |    w -> w IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
        |  CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text, ' '),
        |    w -> LENGTH(w))) AS BIGINT) AS sum_wlen,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9 ]')) AS BIGINT) AS n_symbols,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT base.doc_id, n_words, n_stop,
        |  CAST(sum_wlen AS DOUBLE) / n_words AS mean_wlen,
        |  COALESCE(top_bigram_n, 0) AS top_bigram_n,
        |  CAST(COALESCE(top_bigram_n, 0) AS DOUBLE)
        |    / GREATEST(n_words - 1, 1) AS top_bigram_frac,
        |  CASE WHEN n_chars = 0 THEN NULL
        |    ELSE CAST(n_symbols AS DOUBLE) / n_chars END AS symbol_ratio,
        |  (n_words >= 10 AND n_stop * 100 >= n_words
        |    AND sum_wlen >= n_words * 2 AND sum_wlen <= n_words * 12
        |    AND COALESCE(top_bigram_n, 0) * 5 <= GREATEST(n_words - 1, 1)) AS keep
        |FROM base LEFT JOIN top2 ON base.doc_id = top2.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    "q_token_histogram" ->
      """WITH b AS (SELECT (LEN(STRING_SPLIT(text, ' ')) // 10) * 10 AS bucket_lo
        |  FROM documents)
        |SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
        |FROM b GROUP BY bucket_lo ORDER BY bucket_lo""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents) x
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin)
}
