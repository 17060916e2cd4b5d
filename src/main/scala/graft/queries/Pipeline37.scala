package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import Qs._

/** Thirty-seventh batch: dedup/experiment operations — the near-dup
  * yield curve across Jaccard thresholds, a storage shard planner, the
  * sample-ratio-mismatch gate, and a cohort incidence-rate (hazard)
  * ratio.
  *
  * Scale design notes (100 TB):
  *  - q_dedup_threshold_curve reuses the banded LSH candidate machinery
  *    (never all-pairs) and evaluates all five thresholds from ONE
  *    verified candidate frame via exact integer cross-multiplication —
  *    the threshold sweep costs one extra broadcast grid, not five
  *    passes.
  *  - q_shard_plan derives per-source shard counts from exact byte
  *    sums — the "how many output files" planner, no data movement
  *    beyond one keyed aggregate.
  *  - q_srm_check / q_hazard_ratio are single-scan exact-count
  *    aggregations with scalar math.
  */
object Pipeline37 extends Batch {

  val queries: Map[String, Q] = Map(
    // Dedup yield curve: LSH candidates verified once, then counted at
    // Jaccard thresholds 0.5–0.9. Pair survival and the number of
    // documents touched tell you what each threshold would delete.
    "q_dedup_threshold_curve" -> { (s, dir) =>
      // verified feeds both the pair counts and the docs-touched branch:
      // the entire LSH candidate + verification stack executed twice —
      // materialize the (small) verified pair frame once (round 11,
      // Ckpt.shared). sizeFactor 0.1 (round-11 advice): the frame
      // is the VERIFIED near-dup pair output — band-pruned, far smaller
      // than the corpus — so sizing it at source×10 would force
      // DISK_ONLY at scale for a frame that trivially fits in memory.
      val verified = graft.Ckpt.shared(t(s, dir, "documents"),
        Dedup.minhashLshPairs(t(s, dir, "documents"), t10 = 0),
        sizeFactor = 0.1)
      val grid = s.range(5, 10).select(col("id").cast("long").as("t10"))
      val qual = verified.join(broadcast(grid),
          col("common") * 10 >=
            (col("n_a") + col("n_b") - col("common")) * col("t10"))
      val pairs = qual.groupBy(col("t10"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
      val docs = qual
        .select(col("t10"), explode(array(col("a_id"), col("b_id"))).as("d"))
        .groupBy(col("t10"))
        .agg(countDistinct(col("d")).cast("long").as("n_docs_touched"))
      grid.join(pairs, Seq("t10"), "left")
        .join(docs, Seq("t10"), "left")
        .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
        .withColumn("n_docs_touched", coalesce(col("n_docs_touched"), lit(0L)))
        .orderBy(col("t10"))
    },

    // Shard planner: per-source document bytes → how many 128 MiB
    // output shards a rewrite of each source needs, from exact sums
    // (64-byte per-row overhead assumed for ids/metadata).
    "q_shard_plan" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .withColumn("avg_doc_bytes",
          col("total_chars").cast("double") / col("n_docs").cast("double")
            + 64.0)
        .withColumn("docs_per_shard",
          floor(lit(134217728.0) / col("avg_doc_bytes")).cast("long"))
        .withColumn("n_shards",
          ceil(col("n_docs").cast("double") / col("docs_per_shard")
            .cast("double")).cast("long"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("avg_doc_bytes"), col("docs_per_shard"), col("n_shards"))
        .orderBy(col("source"))
    },

    // Sample-ratio-mismatch gate on the hash split (train/val/test
    // expected 12/2/2 of 16): Pearson chi-square against the design
    // ratios, flagged at the df=2, alpha=0.05 critical value.
    "q_srm_check" -> { (s, dir) =>
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      val counts = t(s, dir, "documents")
        .select(when(h < "c", "train").when(h < "e", "val")
          .otherwise("test").as("split"))
        .groupBy(col("split")).agg(count(lit(1)).cast("long").as("c"))
      val wide = counts.groupBy()
        .pivot(col("split"), Seq("train", "val", "test"))
        .agg(first(col("c")))
        .select(coalesce(col("train"), lit(0L)).as("n_train"),
          coalesce(col("val"), lit(0L)).as("n_val"),
          coalesce(col("test"), lit(0L)).as("n_test"))
        .withColumn("n_docs", col("n_train") + col("n_val") + col("n_test"))
      def cell(o: String, p: Double) = {
        val e = col("n_docs").cast("double") * p
        (col(o).cast("double") - e) * (col(o).cast("double") - e) / e
      }
      wide
        .withColumn("chi2", cell("n_train", 0.75) + cell("n_val", 0.125) +
          cell("n_test", 0.125))
        .withColumn("srm_detected", col("chi2") > 5.991)
        .select(col("n_docs"), col("n_train"), col("n_val"), col("n_test"),
          col("chi2"), col("srm_detected"))
    },

    // Incidence-rate (crude hazard) ratio between even and odd user-id
    // cohorts: deaths per person-day of observed lifetime, same
    // censoring convention as the survival queries.
    "q_hazard_ratio" -> { (s, dir) =>
      val life = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(((unix_timestamp(max(col("ts"))) -
          unix_timestamp(min(col("ts")))) / 86400).cast("long").as("d"))
        .withColumn("observed",
          when(pmod(col("user_id"), lit(4)) =!= 0, 1L).otherwise(0L))
        .withColumn("cohort", pmod(col("user_id"), lit(2)))
      val g = life.groupBy(col("cohort"))
        .agg(sum(col("observed")).cast("long").as("deaths"),
          sum(col("d") + 1).cast("long").as("exposure_days"))
        .withColumn("rate", col("deaths").cast("double") /
          col("exposure_days").cast("double"))
      val wide = g.groupBy()
        .pivot(col("cohort"), Seq(0, 1))
        .agg(first(col("deaths")).as("deaths"),
          first(col("exposure_days")).as("exposure"),
          first(col("rate")).as("rate"))
      wide.select(col("0_deaths").as("deaths_even"),
          col("0_exposure").as("exposure_even"),
          col("0_rate").as("rate_even"),
          col("1_deaths").as("deaths_odd"),
          col("1_exposure").as("exposure_odd"),
          col("1_rate").as("rate_odd"))
        .withColumn("hazard_ratio", col("rate_odd") / col("rate_even"))
    })

  val oracle: Map[String, String] = Map(
    "q_dedup_threshold_curve" ->
      s"""WITH ${Pipeline.shinglesSql},
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
        |    JOIN sh sb ON b_id = sb.doc_id AND sa.shingle = sb.shingle
        |  GROUP BY 1, 2),
        |v AS (SELECT a_id, b_id, common, za.n AS n_a, zb.n AS n_b
        |  FROM co JOIN sz za ON za.doc_id = a_id
        |    JOIN sz zb ON zb.doc_id = b_id),
        |grid AS (SELECT CAST(t10 AS BIGINT) AS t10
        |  FROM (SELECT UNNEST(GENERATE_SERIES(5, 9)) AS t10) g),
        |q AS (SELECT grid.t10, a_id, b_id
        |  FROM v JOIN grid ON common * 10 >= (n_a + n_b - common) * grid.t10),
        |p AS (SELECT t10, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM q GROUP BY 1),
        |d AS (SELECT t10, CAST(COUNT(DISTINCT doc) AS BIGINT)
        |      AS n_docs_touched
        |  FROM (SELECT t10, a_id AS doc FROM q
        |        UNION ALL SELECT t10, b_id FROM q) u
        |  GROUP BY 1)
        |SELECT grid.t10, COALESCE(p.n_pairs, 0) AS n_pairs,
        |  COALESCE(d.n_docs_touched, 0) AS n_docs_touched
        |FROM grid LEFT JOIN p ON p.t10 = grid.t10
        |  LEFT JOIN d ON d.t10 = grid.t10
        |ORDER BY grid.t10""".stripMargin,
    "q_shard_plan" ->
      """WITH a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY 1),
        |b AS (SELECT *, CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |      + 64.0 AS avg_doc_bytes
        |  FROM a),
        |c AS (SELECT *, CAST(FLOOR(134217728.0 / avg_doc_bytes) AS BIGINT)
        |      AS docs_per_shard
        |  FROM b)
        |SELECT source, n_docs, total_chars, avg_doc_bytes, docs_per_shard,
        |  CAST(CEIL(CAST(n_docs AS DOUBLE) / CAST(docs_per_shard AS DOUBLE))
        |    AS BIGINT) AS n_shards
        |FROM c ORDER BY source""".stripMargin,
    "q_srm_check" ->
      """WITH sp AS (SELECT CASE
        |    WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |    WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents),
        |w AS (SELECT
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train,
        |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_val,
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM sp)
        |SELECT n_docs, n_train, n_val, n_test,
        |  (CAST(n_train AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.75)
        |    * (CAST(n_train AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.75)
        |    / (CAST(n_docs AS DOUBLE) * 0.75)
        |  + (CAST(n_val AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    * (CAST(n_val AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    / (CAST(n_docs AS DOUBLE) * 0.125)
        |  + (CAST(n_test AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    * (CAST(n_test AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    / (CAST(n_docs AS DOUBLE) * 0.125) AS chi2,
        |  ((CAST(n_train AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.75)
        |    * (CAST(n_train AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.75)
        |    / (CAST(n_docs AS DOUBLE) * 0.75)
        |  + (CAST(n_val AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    * (CAST(n_val AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    / (CAST(n_docs AS DOUBLE) * 0.125)
        |  + (CAST(n_test AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    * (CAST(n_test AS DOUBLE) - CAST(n_docs AS DOUBLE) * 0.125)
        |    / (CAST(n_docs AS DOUBLE) * 0.125)) > 5.991 AS srm_detected
        |FROM w""".stripMargin,
    "q_hazard_ratio" ->
      """WITH life AS (SELECT user_id,
        |    date_diff('second', MIN(ts), MAX(ts)) // 86400 AS d,
        |    CASE WHEN user_id % 4 <> 0 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS observed
        |  FROM events GROUP BY user_id),
        |g AS (SELECT user_id % 2 AS cohort,
        |    CAST(SUM(observed) AS BIGINT) AS deaths,
        |    CAST(SUM(d + 1) AS BIGINT) AS exposure_days
        |  FROM life GROUP BY 1),
        |w AS (SELECT
        |    MAX(CASE WHEN cohort = 0 THEN deaths END) AS deaths_even,
        |    MAX(CASE WHEN cohort = 0 THEN exposure_days END)
        |      AS exposure_even,
        |    MAX(CASE WHEN cohort = 1 THEN deaths END) AS deaths_odd,
        |    MAX(CASE WHEN cohort = 1 THEN exposure_days END) AS exposure_odd
        |  FROM g)
        |SELECT deaths_even, exposure_even,
        |  CAST(deaths_even AS DOUBLE) / CAST(exposure_even AS DOUBLE)
        |    AS rate_even,
        |  deaths_odd, exposure_odd,
        |  CAST(deaths_odd AS DOUBLE) / CAST(exposure_odd AS DOUBLE)
        |    AS rate_odd,
        |  (CAST(deaths_odd AS DOUBLE) / CAST(exposure_odd AS DOUBLE))
        |    / (CAST(deaths_even AS DOUBLE) / CAST(exposure_even AS DOUBLE))
        |    AS hazard_ratio
        |FROM w""".stripMargin)
}
