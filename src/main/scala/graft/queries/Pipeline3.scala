package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BloomFunctions
import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.{Dedup, Similarity}
import Qs._

/** Third batch of training-data pipeline operators: passage-level
  * deduplication (global keep-first and incremental bloom-screened
  * ingest) and eval-set decontamination.
  *
  * All three work on fixed-width 10-token passages / 5-token shingles of
  * `documents.text` — the chunk shapes a real pretraining pipeline
  * dedups and decontaminates on.
  *
  * Scale notes (100 TB):
  *  - passage/shingle joins and windows key on md5 of the chunk, so
  *    shuffles move 32-byte hashes plus positions, not text (the oracle
  *    keys on the raw chunk — same equivalence classes);
  *  - [[q_dedup_bloom]] reduces the whole corpus side to one ~200 KB
  *    bloom sketch (partial+final `BloomFilterAggregate`, the runtime-
  *    filter machinery) and screens batch passages map-side BEFORE the
  *    exact-verification shuffle — zero false negatives, so the result
  *    is exact while the join input shrinks to bloom-positives;
  *  - [[q_decontaminate]] broadcasts the eval-set shingles (test sets
  *    are tiny vs the corpus), so the contamination join is map-side
  *    with no shuffle of the training side's shingles.
  */
object Pipeline3 extends Batch {

  /** (doc_id, pos, passage): non-overlapping 10-token windows, in order.
    * `(n+9) DIV 10` passages per doc; the tail passage may be short.
    */
  private[queries] def passages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, CAST((size(split(text, ' ')) + 9) DIV 10 AS INT) - 1), " +
          "i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))"))
        .as(Seq("pos", "passage")))

  val queries: Map[String, Q] = Map(
    // Global passage dedup, keep-first: the first (doc_id, pos)
    // occurrence of each passage survives; later occurrences drop.
    // Emits per-doc passage counts and the reassembled clean text.
    // One shuffle keyed on the passage hash, one on doc_id.
    "q_passage_dedup" -> { (s, dir) =>
      val w = Window.partitionBy(md5f(col("passage")))
        .orderBy(col("doc_id"), col("pos"))
      passages(s, dir)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_passages"),
          sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"),
          // collect_list skips the nulls `when` leaves for dropped
          // passages; array_sort orders the kept structs by pos.
          array_join(expr("transform(array_sort(collect_list(" +
            "CASE WHEN rk = 1 THEN struct(pos, passage) END)), x -> x.passage)"),
            " ").as("text_clean"))
        .orderBy(col("doc_id"))
    },

    // Intra-document repetition removal (the RefinedWeb in-doc dedup
    // step): repeated 10-token passages WITHIN a document collapse to
    // their first occurrence; other documents are unaffected. Window
    // keyed on (doc, passage hash) — partitions by doc_id, so at corpus
    // scale this shuffles each document once, independent of corpus size.
    "q_intradoc_dedup" -> { (s, dir) =>
      val w = Window.partitionBy(col("doc_id"), md5f(col("passage")))
        .orderBy(col("pos"))
      passages(s, dir)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_passages"),
          sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"),
          array_join(expr("transform(array_sort(collect_list(" +
            "CASE WHEN rk = 1 THEN struct(pos, passage) END)), x -> x.passage)"),
            " ").as("text_clean"))
        .orderBy(col("doc_id"))
    },

    // Vocabulary building: global term counts, top-100 by frequency with
    // deterministic tie-break — the counting pass under tokenizer/vocab
    // training. Two-phase agg then TakeOrdered: no global sort at any
    // corpus size.
    "q_vocab_topk" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(100)
    },

    // Incremental ingest dedup: docs with doc_id % 5 == 4 are the new
    // batch; the rest are the existing corpus. A bloom filter over the
    // corpus passages screens batch passages map-side ("definitely new"
    // skips the join); bloom-positives are verified exactly with a semi
    // join, so false positives never reach the result.
    "q_dedup_bloom" -> { (s, dir) =>
      // Materialized once: corpus feeds the bloom build (its own action)
      // plus the verify join; batch feeds the screen and the per-doc
      // totals.
      val p = passages(s, dir).ckpt()
      val corpus = p.filter(col("doc_id") % 5 =!= 4).select(col("passage"))
      val batch = p.filter(col("doc_id") % 5 === 4)
      // Sized for ~200k corpus passages (sf0.1 holds ~24k): 1.6 Mbit
      // ≈ 200 KB sketch. At production scale, size from the corpus row
      // estimate; oversizing only costs sketch bytes, never correctness.
      val bf = BloomFunctions.build(corpus, col("passage"), 200000L, 1600000L)
      // semi join needs no distinct on the corpus side — existence is
      // existence, and the pre-dedup would cost a full corpus shuffle
      val dup = batch
        .filter(BloomFunctions.mightContain(bf, col("passage")))
        .join(corpus, Seq("passage"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      batch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_passages"))
        .join(dup, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("n_passages"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          (coalesce(col("n_dup"), lit(0L)) === 0).as("is_clean"))
        .orderBy(col("doc_id"))
    },

    // Containment dedup: documents ≥80% contained in another document by
    // 3-gram shingles — the asymmetric overlap Jaccard dilutes away
    // (a quote inside a 10× larger doc has tiny Jaccard but containment 1).
    "q_dedup_containment" -> { (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), t10 = 8)
    },

    // Semantic dedup (the SemDeDup shape): embedding near-dup pairs from
    // sign-LSH buckets, transitively closed into clusters, one min-id
    // representative kept per cluster; vectors in no pair represent
    // themselves. Composes two verified operators — candidate generation
    // stays LSH-bounded and cluster resolution is the iterated
    // join+aggregate with checkpointed lineage, nothing driver-side.
    "q_dedup_semantic" -> { (s, dir) =>
      val pairs = Similarity.cosineNearDupPairs(
        Similarity.withNorm(t(s, dir, "embeddings")), threshold = 0.3,
        bits = 4, salts = 8, taskPairBudget = 16000000L)
      val clusters = Dedup.resolveClusters(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(clusters, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          coalesce(col("keep_id"), col("vec_id")).as("keep_id"),
          (coalesce(col("keep_id"), col("vec_id")) === col("vec_id"))
            .as("is_representative"))
        .orderBy(col("vec_id"))
    },

    // Corpus mixing under a per-source token budget: within each source,
    // docs are taken in deterministic md5 order while the running token
    // total stays within budget — the "sample N tokens per domain" step
    // of assembling a training mixture. One shuffle keyed on source;
    // exact integer running sums.
    "q_mix_budget" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(md5f(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 600)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"))
    },

    // Privacy scrub with k-anonymity (k=5) on the quasi-identifier pair
    // (nation, segment): names pseudonymize to a stable md5, rare QI
    // combinations suppress to '*', account balance generalizes to a
    // 1000-unit band. Group sizes come from a two-phase agg broadcast
    // back over the fact side.
    "q_kanon" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val groups = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("qi_n"))
      cust.join(broadcast(groups), Seq("c_nationkey", "c_mktsegment"))
        .select(
          md5f(col("c_name")).as("pseudo_id"),
          when(col("qi_n") >= 5, col("c_nationkey").cast("string"))
            .otherwise("*").as("nation_qi"),
          when(col("qi_n") >= 5, col("c_mktsegment"))
            .otherwise("*").as("segment_qi"),
          (floor(col("c_acctbal") / 1000.0) * 1000).cast("long").as("acctbal_band"),
          col("qi_n"))
        .orderBy(col("pseudo_id"))
    },

    // Eval-set decontamination: docs with doc_id % 50 == 0 form the
    // held-out set; a training doc is contaminated if it shares any
    // 5-token shingle with any eval doc. Joins on md5(shingle); the
    // (small) eval side is broadcast.
    "q_decontaminate" -> { (s, dir) =>
      // Fan out the single-split gate-scale scan before the 5-gram
      // explode + md5 (round 11, measured −1.0s wall; no-op at scale).
      val sh = graft.Tables.fanOutSmall(s, t(s, dir, "documents")
        .select(col("doc_id"), col("text"))).select(
        col("doc_id"),
        explode(expr(
          "CASE WHEN size(split(text, ' ')) >= 5 THEN " +
            "transform(sequence(0, CAST(size(split(text, ' ')) AS INT) - 5), " +
            "i -> array_join(slice(split(text, ' '), i + 1, 5), ' ')) " +
            "ELSE CAST(array() AS ARRAY<STRING>) END")).as("shingle"))
        .select(col("doc_id"), md5f(col("shingle")).as("h"))
        .distinct()
      val evalSh = sh.filter(col("doc_id") % 50 === 0).select(col("h")).distinct()
      val hits = sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalSh), Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    })

  private[queries] val passagesSql: String =
    """p AS (SELECT doc_id,
      |    UNNEST(GENERATE_SERIES(0, (LEN(ws) + 9) // 10 - 1)) AS pos,
      |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(0, (LEN(ws) + 9) // 10 - 1),
      |      i -> ARRAY_TO_STRING(ws[i * 10 + 1 : i * 10 + 10], ' '))) AS passage
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_containment" ->
      s"""WITH ${Pipeline.shinglesSql},
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, common, za.n AS n_a, zb.n AS n_b
        |FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
        |WHERE common * 10 >= za.n * 8
        |ORDER BY a_id, b_id""".stripMargin,
    "q_passage_dedup" ->
      s"""WITH $passagesSql,
        |m AS (SELECT doc_id, pos, passage,
        |    ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, pos) AS rk
        |  FROM p)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(STRING_AGG(CASE WHEN rk = 1 THEN passage END, ' ' ORDER BY pos),
        |    '') AS text_clean
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_intradoc_dedup" ->
      s"""WITH $passagesSql,
        |m AS (SELECT doc_id, pos, passage,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id, passage ORDER BY pos) AS rk
        |  FROM p)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(STRING_AGG(CASE WHEN rk = 1 THEN passage END, ' ' ORDER BY pos),
        |    '') AS text_clean
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab_topk" ->
      """SELECT term, COUNT(*) AS n
        |FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents) x
        |GROUP BY term ORDER BY n DESC, term LIMIT 100""".stripMargin,
    "q_dedup_bloom" ->
      s"""WITH $passagesSql,
        |corpus AS (SELECT DISTINCT passage FROM p WHERE doc_id % 5 <> 4),
        |batch AS (SELECT doc_id, passage FROM p WHERE doc_id % 5 = 4)
        |SELECT b.doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN c.passage IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  SUM(CASE WHEN c.passage IS NOT NULL THEN 1 ELSE 0 END) = 0 AS is_clean
        |FROM batch b LEFT JOIN corpus c USING (passage)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q_dedup_semantic" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |b AS (SELECT vec_id, emb, nrm,
        |  (CASE WHEN emb[1] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[2] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[3] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[4] > 0 THEN '1' ELSE '0' END) AS bucket FROM e),
        |pairs AS (SELECT a.vec_id AS a_id, c.vec_id AS b_id
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        |  WHERE list_inner_product(a.emb, c.emb) / (a.nrm * c.nrm) >= 0.3),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a AS src, b AS dst FROM sym
        |  UNION SELECT a AS src, a AS dst FROM sym
        |  UNION SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a),
        |lab AS (SELECT src AS vec_id, MIN(dst) AS keep_id
        |  FROM reach GROUP BY src)
        |SELECT m.vec_id, COALESCE(lab.keep_id, m.vec_id) AS keep_id,
        |  COALESCE(lab.keep_id, m.vec_id) = m.vec_id AS is_representative
        |FROM embeddings m LEFT JOIN lab ON m.vec_id = lab.vec_id
        |ORDER BY m.vec_id""".stripMargin,
    "q_mix_budget" ->
      """SELECT source, doc_id, n_tokens, cum_tokens FROM (
        |  SELECT source, doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) OVER (
        |      PARTITION BY source
        |      ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS cum_tokens
        |  FROM documents) x
        |WHERE cum_tokens <= 600 ORDER BY source, cum_tokens""".stripMargin,
    "q_kanon" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS qi_n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT MD5(c_name) AS pseudo_id,
        |  CASE WHEN qi_n >= 5 THEN CAST(c.c_nationkey AS VARCHAR)
        |    ELSE '*' END AS nation_qi,
        |  CASE WHEN qi_n >= 5 THEN c.c_mktsegment ELSE '*' END AS segment_qi,
        |  CAST(FLOOR(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_band,
        |  qi_n
        |FROM customer c JOIN g
        |  ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment
        |ORDER BY pseudo_id""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, UNNEST(CASE WHEN LEN(ws) >= 5 THEN
        |      LIST_TRANSFORM(GENERATE_SERIES(0, LEN(ws) - 5),
        |        i -> ARRAY_TO_STRING(ws[i + 1 : i + 5], ' '))
        |    ELSE [] END) AS shingle
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w) x),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        |hits AS (SELECT s.doc_id, COUNT(*) AS n_shared
        |  FROM sh s JOIN ev USING (shingle) WHERE s.doc_id % 50 <> 0
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
        |  COALESCE(n_shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin)
}
