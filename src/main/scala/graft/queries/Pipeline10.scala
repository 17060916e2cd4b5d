package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.functions.VectorFunctions.dot
import graft.operators.Dedup
import Qs._

/** Tenth batch: tokenizer-training and statistics primitives a training-
  * data pipeline runs between dedup and export — BPE merge learning,
  * chi-square independence cells, exact-integer autocorrelation, KMV
  * sketch set operations (union / intersection / Jaccard estimates),
  * quality-aware canonical selection over near-dup clusters, and
  * contrastive (anchor, positive, negatives) pair generation for
  * embedding training.
  *
  * Scale design:
  *  - BPE learning never materializes token sequences per document: it
  *    folds the corpus to a word-frequency table first (vocabulary-sized,
  *    not corpus-sized — the standard BPE trick), so each merge round is
  *    a pair-count aggregation over the vocabulary plus a 1-row broadcast
  *    of the argmax pair. Rounds are a fixed constant (3 here), not
  *    data-dependent; the per-word merge is a left-to-right array fold
  *    inside codegen, no UDF.
  *  - Chi-square cells come from one equi-join + one aggregation; the
  *    margins are window sums over the 25-cell contingency frame (post-
  *    aggregation, so the windows see cells, never rows).
  *  - ACF multiplies out the mean: with S = Σx and n = |days|, the lag-k
  *    numerator Σ(n·x_t − S)(n·x_{t+k} − S) is pure BIGINT arithmetic —
  *    exact in any execution order, no floating-point accumulation — and
  *    only the final num/den ratio is a double. Lags come from one
  *    window pass over the (tiny, post-aggregation) daily series.
  *  - KMV set ops shuffle 60-bit hashes, never values: the union sketch
  *    of two sets is the bottom-k of the merged hash streams (KMV's
  *    closure under union — the reason it scales to sketch-and-forget
  *    ingestion), and the intersection estimate is the Jaccard of the
  *    union's bottom-k, scaled by the union estimate. A per-shuffle-
  *    partition top-k prune bounds what reaches the global rank, the
  *    same guard q_approx_sketches uses.
  *  - Keep-best reuses [[Dedup.resolveClusters]] (two-level union-find
  *    contraction) and adds the survivor-selection policy production
  *    dedup actually ships: per cluster keep the highest-quality member
  *    (longest text, doc_id tie-break), not the arbitrary min-id.
  *  - Contrastive negatives avoid the non-equi "label ≠ label" nested
  *    loop: a tiny (|labels|²) label-pair frame turns different-label
  *    matching into two equi-joins, and hash-seeded ranking picks 2
  *    deterministic negatives per anchor. Positives are an equi-join on
  *    label (the per-class search a contrastive sampler means anyway).
  */
object Pipeline10 extends Batch {

  /** Word-frequency table for BPE: lowercase-alpha words of length 2–20,
    * with their corpus counts and initial character token arrays.
    *
    * MATERIALIZED ONCE (round 12, Ckpt.shared): every BPE merge
    * round's pair-count argmax AND every merged-words reference chains
    * back to this frame, so without a checkpoint the corpus scan +
    * word-frequency aggregation re-executes once per path — the
    * round-12 audit counted 9 documents scans in q_bpe_doc_tokens and 6
    * in q_bpe_learn. The frame is VOCABULARY-sized (the standard BPE
    * trick), so the checkpoint is tiny at any corpus size
    * (sizeFactor 0.05) and every merge round re-executes only
    * vocabulary-sized lineage above it. Plan: 9 scans → 1.
    */
  private[queries] def bpeWords(docs: DataFrame): DataFrame =
    graft.Ckpt.shared(docs,
      docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")).between(2, 20))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("n"))
        .select(col("n"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .as("toks")),
      sizeFactor = 0.05)

  /** Adjacent-pair counts over the current token arrays, weighted by word
    * frequency. posexplode + filter (not `sequence(0, size-2)`) because
    * Spark's `sequence` flips to a descending step when start > stop — a
    * single-token word would otherwise fabricate pairs.
    */
  private[queries] def bpePairCounts(words: DataFrame): DataFrame =
    words.select(col("n"), col("toks"), posexplode(col("toks")).as(Seq("i", "a")))
      .filter(col("i") < size(col("toks")) - 1)
      .select(col("n"), col("a"), expr("toks[i + 1]").as("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).cast("long").as("cnt"))

  /** One BPE merge round: replace every left-to-right non-overlapping
    * (ma, mb) adjacency with the merged symbol. The fold starts from the
    * first token (matching DuckDB's `list_reduce` seeding), so the
    * accumulator is never empty; after a merge the new last element
    * `ma||mb` can itself pair with a following `mb` only via a fresh
    * match — exactly BPE's greedy scan.
    */
  private[queries] def bpeMerge(words: DataFrame, best: DataFrame): DataFrame =
    words.crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
      .withColumn("toks", expr(
        """aggregate(slice(toks, 2, size(toks) - 1), array(toks[0]),
          |  (acc, t) -> IF(element_at(acc, -1) = ma AND t = mb,
          |    concat(slice(acc, 1, size(acc) - 1), array(concat(ma, mb))),
          |    concat(acc, array(t))))""".stripMargin))
      .drop("ma", "mb")

  val queries: Map[String, Q] = Map(
    // Byte-pair-encoding merge learning, 3 rounds: the tokenizer-training
    // primitive. Each round counts adjacent symbol pairs over the word-
    // frequency table, broadcasts the (count desc, pair asc) argmax, and
    // rewrites every word's token array by the greedy left-to-right merge.
    "q_bpe_learn" -> { (s, dir) =>
      var words = bpeWords(t(s, dir, "documents"))
      val merges = (1 to 3).map { r =>
        val best = bpePairCounts(words)
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        words = bpeMerge(words, best)
        best.select(lit(r).cast("long").as("round"),
          col("a").as("lhs"), col("b").as("rhs"),
          concat(col("a"), col("b")).as("merged"), col("cnt"))
      }
      merges.reduce(_.unionAll(_)).orderBy(col("round"))
    },

    // Chi-square independence cells: market segment × order priority.
    // Margins via window sums over the contingency cells; expected counts
    // and contributions are exact-integer products pushed to double only
    // at the final division.
    "q_chi2_mkt" -> { (s, dir) =>
      val cells = t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).cast("long").as("obs"))
      cells
        .withColumn("row_total",
          sum(col("obs")).over(Window.partitionBy(col("segment"))))
        .withColumn("col_total",
          sum(col("obs")).over(Window.partitionBy(col("priority"))))
        .crossJoin(broadcast(cells.agg(sum(col("obs")).cast("long").as("grand"))))
        .withColumn("expected",
          (col("row_total") * col("col_total")).cast("double") /
            col("grand").cast("double"))
        .withColumn("d", col("obs").cast("double") - col("expected"))
        .select(col("segment"), col("priority"), col("obs"),
          col("row_total"), col("col_total"), col("expected"),
          (col("d") * col("d") / col("expected")).as("contrib"))
        .orderBy(col("segment"), col("priority"))
    },

    // Autocorrelation of the daily event-count series at lags 1–5.
    // Mean-multiplied integer form: num_k = Σ(n·x_t − S)(n·x_{t+k} − S),
    // den = Σ(n·x_t − S)² — both exact BIGINT sums, so the only double
    // is the final ratio.
    "q_acf" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val tot = daily.agg(sum(col("cnt")).cast("long").as("s"),
        count(lit(1)).cast("long").as("n"))
      // lead(dev, k) re-expressed as an equi-join on the day's dense
      // global rank (two-phase OrderStats): row at rank r pairs with
      // rank r+k. The lag table fans each row to its 5 lags; missing
      // partners drop in the inner join — exactly lead()'s null filter.
      import s.implicits._
      val ranked = graft.operators.OrderStats.running(
        daily.crossJoin(broadcast(tot))
          .withColumn("dev", col("n") * col("cnt") - col("s")),
        Seq(col("day")), Some("rn"), boundedInput = true)
      val den = ranked.agg(sum(col("dev") * col("dev")).cast("long").as("den"))
      val lags = Seq(1L, 2L, 3L, 4L, 5L).toDF("lag")
      ranked.select(col("dev"), col("rn"))
        .crossJoin(broadcast(lags))
        .join(broadcast(ranked.select(col("rn").as("rn2"),
          col("dev").as("ldev"))),
          col("rn2") === col("rn") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("dev") * col("ldev")).cast("long").as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          (col("num").cast("double") / col("den").cast("double")).as("acf"))
        .orderBy(col("lag"))
    },

    // KMV sketch set operations between part-key populations of the three
    // return flags: union estimate from the merged bottom-k, intersection
    // estimate from the bottom-k Jaccard × union estimate, with exact
    // counts alongside for error accounting. k=256; 60-bit md5 hashes.
    "q_sketch_set_ops" -> { (s, dir) =>
      val k = 256
      // NOT Ckpt.shared (round 12, measured): h and members are each
      // referenced twice (6 lineitem scans in the audit), but the
      // duplicate subtrees run as parallel stages inside one job while
      // eager checkpoints serialize extra jobs — A/B at sf0.1 measured
      // wall 1.47→1.89s, CPU 3.9→5.5s with both materialized. WORSE.
      val h = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"),
          conv(substring(md5f(col("l_partkey").cast("string")), 1, 15), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val flags = h.select(col("f")).distinct()
      val pairs = flags.as("x").join(flags.as("y"), col("x.f") < col("y.f"))
        .select(col("x.f").as("fa"), col("y.f").as("fb"))
      val members = pairs
        .select(col("fa"), col("fb"), explode(array(col("fa"), col("fb"))).as("f"))
        .join(h, "f")
        .groupBy(col("fa"), col("fb"), col("h"))
        .agg(max(when(col("f") === col("fa"), 1L).otherwise(0L)).as("ina"),
          max(when(col("f") === col("fb"), 1L).otherwise(0L)).as("inb"))
      // per-shuffle-partition prune: the global k smallest hashes always
      // survive any local top-k, so the global rank sees ≤ k·P rows.
      val pruned = members.withColumn("p", spark_partition_id())
        .withColumn("lrn", row_number().over(
          Window.partitionBy(col("fa"), col("fb"), col("p")).orderBy(col("h"))))
        .filter(col("lrn") <= k)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fa"), col("fb")).orderBy(col("h"))))
      val exact = members.groupBy(col("fa"), col("fb"))
        .agg(count(lit(1)).cast("long").as("exact_union"),
          sum(col("ina") * col("inb")).cast("long").as("exact_inter"))
      val sk = pruned.groupBy(col("fa"), col("fb"))
        .agg(max(when(col("rn") === k, col("h"))).as("hk"),
          sum(when(col("rn") <= k, col("ina") * col("inb")).otherwise(0L))
            .cast("long").as("inter_topk"))
      exact.join(sk, Seq("fa", "fb"))
        .withColumn("est_union",
          when(col("exact_union") < k, col("exact_union").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
              col("hk").cast("double")))
        .withColumn("est_inter",
          when(col("exact_union") < k, col("exact_inter").cast("double"))
            .otherwise(col("inter_topk").cast("double") / lit(k.toDouble) *
              col("est_union")))
        .select(col("fa"), col("fb"), col("exact_union"), col("exact_inter"),
          col("est_union"), col("est_inter"),
          (col("est_inter") / col("est_union")).as("est_jaccard"))
        .orderBy(col("fa"), col("fb"))
    },

    // Near-dup clusters with quality-aware survivor selection: per
    // cluster, the canonical member is the longest document (doc_id
    // tie-break) — the "keep best", not "keep first", policy.
    "q_dedup_keep_best" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val members = Dedup.resolveClusters(Dedup.minhashLshPairs(docs, t10 = 8))
        .select(col("doc_id"), col("keep_id").as("cluster_id"))
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val canon = members
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster_id"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("canonical_id"))
      members.join(canon, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("is_canonical"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Contrastive training pairs over the embedding table: for each
    // anchor (every 20th vec), the hardest positive (max exact cosine,
    // same label) plus two hash-seeded negatives from other labels.
    // Different-label matching goes through a |labels|² pair frame so
    // both joins stay equi-joins.
    "q_contrastive_pairs" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      val a = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("aid"), col("label").as("albl"),
          col("emb").as("aemb"), col("nrm").as("anrm"))
      val pos = a.join(e, col("albl") === col("label") && col("aid") =!= col("vec_id"))
        .select(col("aid"), col("vec_id"),
          (dot(col("aemb"), col("emb")) / (col("anrm") * col("nrm"))).as("cos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("aid")).orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("aid"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
      val lbls = e.select(col("label")).distinct()
      val lp = lbls.as("x").join(lbls.as("y"), col("x.label") =!= col("y.label"))
        .select(col("x.label").as("albl"), col("y.label").as("nlbl"))
      val negs = a.select(col("aid"), col("albl"))
        .join(broadcast(lp), "albl")
        .join(e.select(col("vec_id"), col("label").as("nlbl")), "nlbl")
        .select(col("aid"), col("vec_id"),
          md5f(concat(col("aid").cast("string"), lit("|"),
            col("vec_id").cast("string"))).as("hh"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("aid")).orderBy(col("hh"), col("vec_id"))))
        .filter(col("rn") <= 2)
        .groupBy(col("aid"))
        .agg(min(when(col("rn") === 1, col("vec_id"))).as("neg1_id"),
          min(when(col("rn") === 2, col("vec_id"))).as("neg2_id"))
      pos.join(negs, "aid")
        .select(col("aid").as("anchor_id"), col("pos_id"), col("pos_cos"),
          col("neg1_id"), col("neg2_id"))
        .orderBy(col("anchor_id"))
    })

  /** DuckDB fragment: one BPE pair-count + argmax + merge stage. `prev`
    * is the CTE with (n, toks); emits `p{r}` (pair counts), `m{r}` (the
    * argmax pair as ma/mb), `t{r}` (merged token arrays). The merge is
    * the same greedy fold as the Spark side: `list_reduce` seeds from
    * the first element, so tokens are lifted to singleton lists to give
    * the accumulator a list type (a struct accumulator miscomputes in
    * DuckDB — see q_quantile_sketch's notes).
    */
  private def bpeRoundSql(r: Int, prev: String): String =
    s"""p$r AS (SELECT p.a AS a, p.b AS b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
       |    SELECT n, UNNEST(list_transform(generate_series(1, len(toks) - 1),
       |      i -> {'a': toks[i], 'b': toks[i + 1]})) AS p
       |    FROM $prev) GROUP BY p.a, p.b),
       |m$r AS (SELECT a AS ma, b AS mb, cnt FROM p$r
       |  ORDER BY cnt DESC, a, b LIMIT 1),
       |t$r AS (SELECT n, list_reduce(list_transform(toks, t -> [t]),
       |    (acc, x) -> CASE WHEN acc[-1] = ma AND x[1] = mb
       |      THEN acc[1:len(acc) - 1] || [ma || mb] ELSE acc || x END) AS toks
       |  FROM $prev, m$r)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bpe_learn" ->
      s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$') AND LEN(w) BETWEEN 2 AND 20
         |  GROUP BY w),
         |t0 AS (SELECT n, list_transform(generate_series(1, LEN(w)),
         |    i -> SUBSTR(w, i, 1)) AS toks FROM w0),
         |${bpeRoundSql(1, "t0")},
         |${bpeRoundSql(2, "t1")},
         |${bpeRoundSql(3, "t2")}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, ma AS lhs, mb AS rhs,
         |    ma || mb AS merged, cnt FROM m1
         |  UNION ALL SELECT 2, ma, mb, ma || mb, cnt FROM m2
         |  UNION ALL SELECT 3, ma, mb, ma || mb, cnt FROM m3)
         |ORDER BY round""".stripMargin,
    "q_chi2_mkt" ->
      """WITH cells AS (SELECT c_mktsegment AS segment,
        |    o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1, 2),
        |m AS (SELECT segment, priority, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY segment) AS BIGINT) AS row_total,
        |    CAST(SUM(obs) OVER (PARTITION BY priority) AS BIGINT) AS col_total,
        |    CAST(SUM(obs) OVER () AS BIGINT) AS grand FROM cells),
        |x AS (SELECT segment, priority, obs, row_total, col_total,
        |    CAST(row_total * col_total AS DOUBLE) / CAST(grand AS DOUBLE)
        |      AS expected FROM m),
        |y AS (SELECT *, CAST(obs AS DOUBLE) - expected AS d FROM x)
        |SELECT segment, priority, obs, row_total, col_total, expected,
        |  d * d / expected AS contrib
        |FROM y ORDER BY segment, priority""".stripMargin,
    "q_acf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |dv AS (SELECT day, n * cnt - s AS dev FROM daily, tot),
        |ld AS (SELECT dev,
        |    LEAD(dev, 1) OVER (ORDER BY day) AS l1,
        |    LEAD(dev, 2) OVER (ORDER BY day) AS l2,
        |    LEAD(dev, 3) OVER (ORDER BY day) AS l3,
        |    LEAD(dev, 4) OVER (ORDER BY day) AS l4,
        |    LEAD(dev, 5) OVER (ORDER BY day) AS l5 FROM dv),
        |den AS (SELECT CAST(SUM(dev * dev) AS BIGINT) AS den FROM ld),
        |nums AS (
        |  SELECT CAST(1 AS BIGINT) AS lag, CAST(COUNT(l1) AS BIGINT) AS n_pairs,
        |    CAST(SUM(dev * l1) AS BIGINT) AS num FROM ld WHERE l1 IS NOT NULL
        |  UNION ALL SELECT 2, COUNT(l2), CAST(SUM(dev * l2) AS BIGINT)
        |    FROM ld WHERE l2 IS NOT NULL
        |  UNION ALL SELECT 3, COUNT(l3), CAST(SUM(dev * l3) AS BIGINT)
        |    FROM ld WHERE l3 IS NOT NULL
        |  UNION ALL SELECT 4, COUNT(l4), CAST(SUM(dev * l4) AS BIGINT)
        |    FROM ld WHERE l4 IS NOT NULL
        |  UNION ALL SELECT 5, COUNT(l5), CAST(SUM(dev * l5) AS BIGINT)
        |    FROM ld WHERE l5 IS NOT NULL)
        |SELECT lag, n_pairs, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
        |FROM nums, den ORDER BY lag""".stripMargin,
    "q_sketch_set_ops" ->
      """WITH h AS (SELECT DISTINCT l_returnflag AS f,
        |    ('0x' || SUBSTR(MD5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |fl AS (SELECT DISTINCT f FROM h),
        |pr AS (SELECT x.f AS fa, y.f AS fb FROM fl x JOIN fl y ON x.f < y.f),
        |mem AS (SELECT fa, fb, h.h,
        |    MAX(CASE WHEN h.f = fa THEN 1 ELSE 0 END) AS ina,
        |    MAX(CASE WHEN h.f = fb THEN 1 ELSE 0 END) AS inb
        |  FROM pr JOIN h ON h.f = fa OR h.f = fb GROUP BY fa, fb, h.h),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fa, fb ORDER BY h)
        |    AS rn FROM mem),
        |ex AS (SELECT fa, fb, CAST(COUNT(*) AS BIGINT) AS exact_union,
        |    CAST(SUM(ina * inb) AS BIGINT) AS exact_inter
        |  FROM mem GROUP BY fa, fb),
        |sk AS (SELECT fa, fb, MAX(CASE WHEN rn = 256 THEN h END) AS hk,
        |    CAST(SUM(CASE WHEN rn <= 256 THEN ina * inb ELSE 0 END) AS BIGINT)
        |      AS inter_topk
        |  FROM rk GROUP BY fa, fb),
        |u AS (SELECT ex.fa, ex.fb, exact_union, exact_inter,
        |    CASE WHEN exact_union < 256 THEN CAST(exact_union AS DOUBLE)
        |      ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |      AS est_union,
        |    inter_topk
        |  FROM ex JOIN sk ON ex.fa = sk.fa AND ex.fb = sk.fb),
        |v AS (SELECT fa, fb, exact_union, exact_inter, est_union,
        |    CASE WHEN exact_union < 256 THEN CAST(exact_inter AS DOUBLE)
        |      ELSE CAST(inter_topk AS DOUBLE) / 256.0 * est_union END
        |      AS est_inter FROM u)
        |SELECT fa, fb, exact_union, exact_inter, est_union, est_inter,
        |  est_inter / est_union AS est_jaccard
        |FROM v ORDER BY fa, fb""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE
         |${Pipeline.shinglesSql},
         |${Pipeline.minhashSigSql},
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, MD5(mh1 || mh2) AS band_val FROM sig UNION ALL
         |  SELECT doc_id, 1, MD5(mh3 || mh4) FROM sig UNION ALL
         |  SELECT doc_id, 2, MD5(mh5 || mh6) FROM sig UNION ALL
         |  SELECT doc_id, 3, MD5(mh7 || mh8) FROM sig),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y ON x.band_idx = y.band_idx
         |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |co AS (SELECT a_id, b_id, COUNT(*) AS common
         |  FROM cand JOIN sh sa ON a_id = sa.doc_id
         |  JOIN sh sb ON b_id = sb.doc_id AND sa.shingle = sb.shingle
         |  GROUP BY a_id, b_id),
         |pairs AS (SELECT a_id, b_id
         |  FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
         |  WHERE common * 10 >= 8 * (za.n + zb.n - common)),
         |sym AS (SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a AS src, b AS dst FROM sym
         |  UNION SELECT a AS src, a AS dst FROM sym
         |  UNION SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a),
         |cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         |  FROM reach GROUP BY src),
         |mems AS (SELECT cl.doc_id, cluster_id, n_chars
         |  FROM cl JOIN documents USING (doc_id)),
         |canon AS (SELECT cluster_id, doc_id AS canonical_id FROM (
         |    SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
         |    FROM mems) WHERE rk = 1)
         |SELECT mems.doc_id, mems.cluster_id, canonical_id,
         |  mems.doc_id = canonical_id AS is_canonical, n_chars
         |FROM mems JOIN canon USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "q_contrastive_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
        |a AS (SELECT vec_id AS aid, label AS albl, emb AS aemb, nrm AS anrm
        |  FROM e WHERE vec_id % 20 = 0),
        |pc AS (SELECT aid, vec_id,
        |    list_inner_product(aemb, emb) / (anrm * nrm) AS cos
        |  FROM a JOIN e ON albl = label AND aid <> vec_id),
        |pos AS (SELECT aid, vec_id AS pos_id, cos AS pos_cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY aid
        |      ORDER BY cos DESC, vec_id) AS rn FROM pc) WHERE rn = 1),
        |lb AS (SELECT DISTINCT label FROM e),
        |lp AS (SELECT x.label AS albl, y.label AS nlbl
        |  FROM lb x JOIN lb y ON x.label <> y.label),
        |nc AS (SELECT aid, vec_id,
        |    MD5(CAST(aid AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR)) AS hh
        |  FROM a JOIN lp USING (albl) JOIN e ON e.label = lp.nlbl),
        |nr AS (SELECT aid, vec_id, ROW_NUMBER() OVER (PARTITION BY aid
        |    ORDER BY hh, vec_id) AS rn FROM nc),
        |ng AS (SELECT aid,
        |    MIN(CASE WHEN rn = 1 THEN vec_id END) AS neg1_id,
        |    MIN(CASE WHEN rn = 2 THEN vec_id END) AS neg2_id
        |  FROM nr WHERE rn <= 2 GROUP BY aid)
        |SELECT aid AS anchor_id, pos_id, pos_cos, neg1_id, neg2_id
        |FROM pos JOIN ng USING (aid) ORDER BY anchor_id""".stripMargin)
}
