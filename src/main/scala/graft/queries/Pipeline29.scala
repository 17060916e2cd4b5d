package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{OrderStats, Similarity}
import Qs._

/** Twenty-ninth batch: classifier-style evaluation and distributional
  * fits — kNN label voting (confusion matrix), ship-lag service bands,
  * per-source length-distribution KL divergence, Flesch readability, and
  * the Zipf log-log slope.
  *
  * Scale design notes (100 TB):
  *  - q_knn_classify bounds the probe side like q_ann_recall — the vote
  *    join and both rank windows touch at most probes × k rows.
  *  - q_ship_lag_bands is a fact-fact equi-join on the order key (both
  *    sides naturally keyed) followed by a bounded groupBy
  *    (priorities × 4 bands), exact integer cents.
  *  - q_length_kl aggregates to ≤ |sources| × 64 band cells before any
  *    arithmetic; KL terms round to DECIMAL(18,10) pre-sum (the entropy
  *    parity trick), so the double sum is order-free.
  *  - q_readability is a single narrow scan with per-row regex counts —
  *    embarrassingly parallel, no shuffle at all before the sort.
  *  - q_zipf_slope ranks the top-1000 terms via OrderStats.topK
  *    (TakeOrderedAndProject: per-partition top-k, one bounded merge —
  *    no global sort), then fits OLS on decimal-rounded logs.
  */
object Pipeline29 extends Batch {

  val queries: Map[String, Q] = Map(
    // kNN classifier eval: predict each probe's label by majority vote
    // of its 5 exact nearest neighbors (ties → smallest label); output
    // the confusion matrix against the probe's true label.
    "q_knn_classify" -> { (s, dir) =>
      val e = Similarity.withNorm(t(s, dir, "embeddings"))
      val lbl = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val probe = e.filter(col("vec_id") < 200)
      val votes = Similarity.bruteForceKnn(probe, e, k = 5)
        .join(lbl.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val byVotes = Window.partitionBy(col("query_id"))
        .orderBy(col("cnt").desc, col("label"))
      val pred = votes.withColumn("rk", row_number().over(byVotes))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("label").as("pred_label"))
      pred
        .join(lbl.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("true_label"), col("pred_label"))
    },

    // Order-to-ship service-level bands per priority: days from order
    // date to each line's ship date, bucketed 0-6 / 7-13 / 14-29 / 30+,
    // with exact line counts and revenue cents.
    "q_ship_lag_bands" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag_days",
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
        .withColumn("band",
          when(col("lag_days") < 7, "0-6")
            .when(col("lag_days") < 14, "7-13")
            .when(col("lag_days") < 30, "14-29")
            .otherwise("30+"))
        .groupBy(col("o_orderpriority").as("priority"), col("band"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("cents")).cast("long").as("rev_cents"),
          min(col("lag_days")).as("min_lag"), max(col("lag_days")).as("max_lag"))
        .orderBy(col("priority"), col("band"))
    },

    // Distribution drift per source: KL(source length-band mix ||
    // corpus length-band mix) over log2 bands of n_chars — flags feeds
    // whose size profile diverges from the corpus.
    "q_length_kl" -> { (s, dir) =>
      val banded = t(s, dir, "documents")
        .select(col("source"),
          when(col("n_chars") <= 0, 0L)
            .otherwise((length(bin(col("n_chars"))) - 1).cast("long")).as("band"))
      val corpus = banded.groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_b"))
      val nTot = banded.agg(count(lit(1)).cast("long").as("n_all"))
      val perSource = banded.groupBy(col("source"), col("band"))
        .agg(count(lit(1)).cast("long").as("ns_b"))
      val totS = banded.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("tot_s"))
      perSource
        .join(broadcast(totS), Seq("source"))
        .join(broadcast(corpus), Seq("band"))
        .crossJoin(broadcast(nTot))
        .select(col("source"), col("tot_s"),
          ((col("ns_b").cast("double") / col("tot_s").cast("double")) *
            log((col("ns_b").cast("double") / col("tot_s").cast("double")) /
              (col("n_b").cast("double") / col("n_all").cast("double"))))
            .cast(DecimalType(18, 10)).as("term"))
        .groupBy(col("source"), col("tot_s"))
        .agg(sum(col("term")).cast("double").as("kl"))
        .select(col("source"), col("tot_s").as("n_docs"), col("kl"))
        .orderBy(col("source"))
    },

    // Flesch reading ease per document from exact regex counts:
    // sentences = [.!?]+ runs (min 1), syllables = vowel runs (min 1) —
    // the classic 206.835 − 1.015·(W/S) − 84.6·(Sy/W).
    "q_readability" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long"), lit(1L)).as("n_sentences"),
          greatest(size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
            .cast("long"), lit(1L)).as("n_syllables"))
        .withColumn("flesch",
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")))
        .orderBy(col("doc_id"))
    },

    // Zipf's-law fit: OLS slope of ln(freq) on ln(rank) over the top
    // 1000 corpus terms (rank ties broken by token). Logs round to
    // DECIMAL(10,5) before the exact sums — scale 5 keeps the product
    // sums' unscaled magnitude under 2^53, so the final decimal→double
    // casts are exact in BOTH engines (the q_twap lesson; scale 10
    // products overflow that bound and round differently).
    "q_zipf_slope" -> { (s, dir) =>
      val f = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("cnt"))
      val ranked = OrderStats.topK(f, Seq(col("cnt").desc, col("w")), 1000, "zr")
      val terms = ranked.select(
        log(col("zr").cast("double")).cast(DecimalType(10, 5)).as("x"),
        log(col("cnt").cast("double")).cast(DecimalType(10, 5)).as("y"))
      terms.agg(count(lit(1)).cast("long").as("n_terms"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .withColumn("slope",
          (col("n_terms").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms").cast("double") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept",
          (col("sy") - col("slope") * col("sx")) / col("n_terms").cast("double"))
        .select(col("n_terms"), col("slope"), col("intercept"))
    })

  val oracle: Map[String, String] = Map(
    "q_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |knn AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) DESC,
        |      c.vec_id) AS rk
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 200) t
        |  WHERE rk <= 5),
        |votes AS (SELECT knn.query_id, e.label,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM knn JOIN e ON knn.neighbor_id = e.vec_id GROUP BY 1, 2),
        |pred AS (SELECT query_id, label AS pred_label FROM (
        |  SELECT query_id, label, ROW_NUMBER() OVER
        |    (PARTITION BY query_id ORDER BY cnt DESC, label) AS rk
        |  FROM votes) t WHERE rk = 1)
        |SELECT e.label AS true_label, pred.pred_label,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM pred JOIN e ON pred.query_id = e.vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ship_lag_bands" ->
      """WITH j AS (SELECT o.o_orderpriority AS priority,
        |    CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
        |      AS lag_days,
        |    CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |b AS (SELECT priority, lag_days, cents,
        |    CASE WHEN lag_days < 7 THEN '0-6'
        |         WHEN lag_days < 14 THEN '7-13'
        |         WHEN lag_days < 30 THEN '14-29'
        |         ELSE '30+' END AS band
        |  FROM j)
        |SELECT priority, band, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
        |  CAST(MIN(lag_days) AS BIGINT) AS min_lag,
        |  CAST(MAX(lag_days) AS BIGINT) AS max_lag
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_length_kl" ->
      """WITH banded AS (SELECT source,
        |    CASE WHEN n_chars <= 0 THEN 0
        |         ELSE CAST(LENGTH(BIN(n_chars)) - 1 AS BIGINT) END AS band
        |  FROM documents),
        |corpus AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_b
        |  FROM banded GROUP BY 1),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM banded),
        |ps AS (SELECT source, band, CAST(COUNT(*) AS BIGINT) AS ns_b
        |  FROM banded GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot_s
        |  FROM banded GROUP BY 1),
        |terms AS (SELECT ps.source, ts.tot_s,
        |    CAST((CAST(ns_b AS DOUBLE) / CAST(tot_s AS DOUBLE))
        |      * LN((CAST(ns_b AS DOUBLE) / CAST(tot_s AS DOUBLE))
        |        / (CAST(n_b AS DOUBLE) / CAST(n_all AS DOUBLE)))
        |      AS DECIMAL(18,10)) AS term
        |  FROM ps JOIN ts ON ps.source = ts.source
        |  JOIN corpus ON ps.band = corpus.band, nt)
        |SELECT source, tot_s AS n_docs, CAST(SUM(term) AS DOUBLE) AS kl
        |FROM terms GROUP BY source, tot_s ORDER BY source""".stripMargin,
    "q_readability" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |    GREATEST(CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')) AS BIGINT),
        |      1) AS n_sentences,
        |    GREATEST(CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiou]+')) AS BIGINT),
        |      1) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE)
        |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_zipf_slope" ->
      """WITH f AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |r AS (SELECT cnt, zr FROM (
        |  SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w)
        |    AS BIGINT) AS zr FROM f) t WHERE zr <= 1000),
        |terms AS (SELECT
        |    CAST(LN(CAST(zr AS DOUBLE)) AS DECIMAL(10,5)) AS x,
        |    CAST(LN(CAST(cnt AS DOUBLE)) AS DECIMAL(10,5)) AS y
        |  FROM r),
        |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM terms),
        |sl AS (SELECT *,
        |    (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope
        |  FROM mo)
        |SELECT n_terms, slope,
        |  (sy - slope * sx) / CAST(n_terms AS DOUBLE) AS intercept
        |FROM sl""".stripMargin)
}
