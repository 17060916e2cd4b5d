package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.{Dedup, Similarity}
import Qs._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * deduplication (exact / n-gram Jaccard / MinHash+LSH), similarity search
  * (brute-force cosine top-k / LSH-bucketed ANN), and text analysis
  * (language-ID, quality stats, token counting, fingerprinting).
  *
  * These go beyond the reference surface (SURVEY.md §2 explicitly lists
  * them absent there; §7 phase E) — they are the operators a 100 TB
  * text+embedding corpus pipeline needs. Everything is pure DataFrame
  * transformations (shuffle-aware, AQE-friendly); hash functions are
  * md5-based so the DuckDB oracle can reproduce them bit-for-bit.
  *
  * Scale design notes:
  *  - exact dedup groups on md5(text), not text: the shuffle then moves
  *    32-byte keys instead of whole documents;
  *  - the shingle→pairs joins are bounded by LSH banding (candidates
  *    only), the standard way to keep near-dup detection sub-quadratic;
  *  - the Jaccard threshold test is pure integer arithmetic
  *    (`common*10 >= 8*(union)`) — no float nondeterminism;
  *  - ANN buckets via coordinate-sign LSH keep the pair space per-bucket;
  *    brute-force cosine stays as the oracle baseline.
  */
object Pipeline extends Batch {

  val queries: Map[String, Q] = Map(
    // Exact dedup: group on md5(text) so only 32-byte keys shuffle.
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy(col("keep_id"))
    },

    // Near-dup pairs by word-3-gram Jaccard >= 0.8 (integer threshold).
    // All-pairs-sharing-a-shingle formulation: correct baseline; the LSH
    // variant below is the scale path. Measured on the 25%-hot skew
    // corpus (BENCH_SCALE round-8): 18× CPU from the hot n-grams'
    // (0.25N)² real candidate pairs, parallelism held (11× wall) — the
    // capped-shingle/banded twins hold at 1.2× and are what a 100 TB
    // pipeline runs.
    "q_dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), t10 = 8)
    },

    // MinHash signatures (8 md5 hash functions over shingle sets).
    "q_minhash_sig" -> { (s, dir) =>
      Dedup.minhashSignature(Dedup.shingles(t(s, dir, "documents"))).orderBy(col("doc_id"))
    },

    // MinHash + LSH banding (4 bands × 2 rows): candidates share >=1 band
    // bucket; exact-Jaccard verify at 0.8. Sub-quadratic: the only joins
    // are equi-joins on band values and candidate-restricted shingles.
    "q_dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), t10 = 8)
    },

    // 60-bit SimHash signatures (md5-derived token hashes — replayable in
    // the DuckDB oracle, unlike xxhash64).
    "q_dedup_simhash" -> { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents")).orderBy(col("doc_id"))
    },

    // Brute-force cosine top-5 (the ANN oracle baseline). Query side kept
    // bounded (vec_id < 500) so the pair space is #queries × N, not N².
    "q_embed_knn" -> { (s, dir) =>
      val e = Similarity.withNorm(t(s, dir, "embeddings"))
      Similarity.bruteForceKnn(e.filter(col("vec_id") < 500), e, k = 5)
    },

    // ANN via coordinate-sign LSH with the PRODUCTION bit sizing inside
    // the gate (round-8): bits = ceil(log2(N/16)), floored at 8 —
    // constant expected bucket population, derived from the corpus count
    // (Similarity.scaledBits) and mirrored exactly by the oracle's
    // LENGTH(BIN(...)) scalar subquery. Bucket = signs of the first
    // `bits` dims (axis hyperplanes); candidates restricted to the
    // bucket, top-3 by exact cosine within it.
    // maxBucket=512 is the hot-bucket straggler guard: on skewed data
    // (one bucket holding 25% of vectors) it cuts the single-task pair
    // space from pop² to pop·512 — measured 21.5s → see BENCH_SCALE
    // skew section. Uniform buckets sit orders of magnitude below it,
    // so small-sf oracle results are unchanged; the skewed-corpus
    // oracle replay (check.py on the ScaleGen skew output) exercises
    // the cap in its BITING state.
    "q_embed_ann_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.annLshKnn(Similarity.withNorm(emb), k = 3,
        bits = Similarity.scaledBits(emb.count()), maxBucket = 512,
        salts = 8)
    },

    // Quality / length stats per document.
    "q_text_stats" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(regexp_extract_all(col("text"), lit("[aeiou]"), lit(0)))
            .cast("long").as("n_vowels"),
          // Empty documents exist in any real corpus: an unguarded
          // division crashes under ANSI mode (found by FuzzCatalogSpec,
          // round 7). alpha_ratio of nothing is NULL, mirrored in SQL.
          when(length(col("text")) === 0, lit(null).cast("double"))
            .otherwise(
              size(regexp_extract_all(col("text"), lit("[a-z]"), lit(0))).cast("double") /
                length(col("text")).cast("double")).as("alpha_ratio"),
          (length(col("text")) < 100).as("is_short"))
        .orderBy(col("doc_id"))
    },

    // Token counting: BPE-ish regex tokens + type/token ratio.
    "q_text_tokens" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"),
          (size(array_distinct(split(col("text"), " "))).cast("double") /
            size(split(col("text"), " ")).cast("double")).as("type_token_ratio"))
        .orderBy(col("doc_id"))
    },

    // Language-ID: stopword-marker n-gram heuristic with deterministic
    // argmax (en > de > fr > es on ties).
    "q_text_langid" -> { (s, dir) =>
      def score(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
      val sEn = score("\\b(the|a|of|and|is)\\b")
      val sDe = score("\\b(der|die|das|und|ist)\\b")
      val sFr = score("\\b(le|la|les|et|est)\\b")
      val sEs = score("\\b(el|los|las|y|es)\\b")
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"),
          when(sEn >= sDe && sEn >= sFr && sEn >= sEs, lit("en"))
            .when(sDe >= sFr && sDe >= sEs, lit("de"))
            .when(sFr >= sEs, lit("fr"))
            .otherwise(lit("es")).as("pred_lang"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprints: full-text md5, min-shingle sketch, prefix.
    "q_text_fingerprint" -> { (s, dir) =>
      val sh = Dedup.shingles(t(s, dir, "documents"))
        .groupBy(col("doc_id")).agg(min(md5f(col("shingle"))).as("min_shingle_fp"))
      t(s, dir, "documents")
        .join(sh, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          md5f(col("text")).as("full_fp"),
          col("min_shingle_fp"),
          md5f(substring(col("text"), 1, 64)).as("prefix_fp"))
        .orderBy(col("doc_id"))
    })

  private[queries] val shinglesSql =
    """sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w,
      |  UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws)-2, 0))) AS t(i))""".stripMargin

  private[queries] val jaccardSql =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |co AS (SELECT a_id, b_id, COUNT(*) AS common
      |  FROM cand JOIN sh sa ON a_id = sa.doc_id
      |  JOIN sh sb ON b_id = sb.doc_id AND sa.shingle = sb.shingle
      |  GROUP BY a_id, b_id)
      |SELECT a_id, b_id, common, za.n AS n_a, zb.n AS n_b
      |FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
      |WHERE common * 10 >= 8 * (za.n + zb.n - common)
      |ORDER BY a_id, b_id""".stripMargin

  private[queries] val minhashSigSql =
    """sig AS (SELECT doc_id,
      |  MIN(MD5('1|' || shingle)) AS mh1, MIN(MD5('2|' || shingle)) AS mh2,
      |  MIN(MD5('3|' || shingle)) AS mh3, MIN(MD5('4|' || shingle)) AS mh4,
      |  MIN(MD5('5|' || shingle)) AS mh5, MIN(MD5('6|' || shingle)) AS mh6,
      |  MIN(MD5('7|' || shingle)) AS mh7, MIN(MD5('8|' || shingle)) AS mh8
      |  FROM sh GROUP BY doc_id)""".stripMargin

  private val embSql =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |  SQRT(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id,
        |    ('0x' || SUBSTR(MD5(t.tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        |    FROM documents) t),
        |bitsum AS (SELECT doc_id, b.b,
        |    SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS b) b
        |  GROUP BY doc_id, b.b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
        |    AS simhash
        |FROM bitsum GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY MD5(text) ORDER BY keep_id""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH $shinglesSql,
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |$jaccardSql""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH $shinglesSql,
        |$minhashSigSql
        |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_lsh" ->
      s"""WITH $shinglesSql,
        |$minhashSigSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, MD5(mh1 || mh2) AS band_val FROM sig UNION ALL
        |  SELECT doc_id, 1, MD5(mh3 || mh4) FROM sig UNION ALL
        |  SELECT doc_id, 2, MD5(mh5 || mh6) FROM sig UNION ALL
        |  SELECT doc_id, 3, MD5(mh7 || mh8) FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
        |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
        |$jaccardSql""".stripMargin,
    "q_embed_knn" ->
      s"""WITH $embSql,
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 500)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM p) ranked
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // The `kn` scalar subquery IS Similarity.scaledBits: exact integer
    // ceil-log2 via the binary-string length (bin() in both engines).
    "q_embed_ann_lsh" ->
      s"""WITH $embSql,
        |kn AS (SELECT LEAST(64, GREATEST(8,
        |    LENGTH(BIN(GREATEST((COUNT(*) + 15) // 16 - 1, 0))))) AS bits
        |  FROM embeddings),
        |b AS (SELECT vec_id, emb, nrm,
        |  array_to_string(list_transform(
        |    list_slice(emb, 1, (SELECT bits FROM kn)),
        |    v -> CASE WHEN v > 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM e),
        |c AS (SELECT vec_id, emb, nrm, bucket FROM (
        |  SELECT b.*, ROW_NUMBER() OVER (PARTITION BY bucket
        |    ORDER BY vec_id) AS bp FROM b) x WHERE bp <= 512),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
        |  FROM b q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM p) ranked
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  CASE WHEN LENGTH(text) = 0 THEN NULL
        |    ELSE CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]')) AS DOUBLE)
        |      / CAST(LENGTH(text) AS DOUBLE) END AS alpha_ratio,
        |  LENGTH(text) < 100 AS is_short
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
        |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_types,
        |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
        |    / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS type_token_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      """WITH sc AS (SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|is)\b')) AS BIGINT) AS s_en,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(der|die|das|und|ist)\b')) AS BIGINT) AS s_de,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(le|la|les|et|est)\b')) AS BIGINT) AS s_fr,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(el|los|las|y|es)\b')) AS BIGINT) AS s_es
        |  FROM documents)
        |SELECT doc_id, s_en, s_de, s_fr, s_es,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      s"""WITH $shinglesSql,
        |fp AS (SELECT doc_id, MIN(MD5(shingle)) AS min_shingle_fp FROM sh GROUP BY doc_id)
        |SELECT d.doc_id, MD5(d.text) AS full_fp, fp.min_shingle_fp,
        |  MD5(SUBSTR(d.text, 1, 64)) AS prefix_fp
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin)
}
