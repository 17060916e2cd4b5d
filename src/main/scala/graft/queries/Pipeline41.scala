package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.OrderStats
import Qs._

/** Forty-first batch: market-structure and dedup audits — supplier
  * revenue concentration per nation, metadata-inconsistent near-dups,
  * unit-price dispersion per part, and brand return-rate z-scores.
  *
  * Scale design notes (100 TB):
  *  - q_supplier_hhi reduces lineitem to (nation, supplier) revenue,
  *    then |nations| rows of decimal-rounded share-square sums.
  *  - q_near_dup_inconsistent rides the LSH band-bucket candidate join
  *    (minhashLshPairs — sub-quadratic, verification restricted to
  *    candidates) and joins the surviving pairs to per-doc metadata to
  *    flag lang/source mismatches; no exact-dup groupBy anywhere.
  *  - q_price_dispersion aggregates (part, unit-price moments) in one
  *    shuffle and ranks the most-dispersed parts via OrderStats.topK.
  *  - q_return_rate_z is a |brands|-row aggregate plus one broadcast
  *    pooled rate; the z shape is fixed-form on exact counts.
  */
object Pipeline41 extends Batch {

  val queries: Map[String, Q] = Map(
    // Supplier HHI per nation: Σ share² of supplier revenue — which
    // markets depend on few suppliers.
    "q_supplier_hhi" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey")),
          Seq("l_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
          Seq("s_nationkey"))
      val tot = rev.groupBy(col("n_name"))
        .agg(sum(dec(col("cents"), 38, 0)).cast(DecimalType(38, 0)).as("tc"))
      rev.join(broadcast(tot), Seq("n_name"))
        .withColumn("share", col("cents").cast("double") / col("tc").cast("double"))
        .withColumn("sq", (col("share") * col("share")).cast(DecimalType(18, 10)))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("long").as("n_suppliers"),
          sum(col("sq")).cast("double").as("hhi"))
        .orderBy(col("n_name"))
    },

    // Metadata-inconsistent near-duplicates: LSH near-dup pairs
    // (Jaccard ≥ 0.8) whose two documents disagree on language or
    // source label — the mislabeling audit a multilingual corpus needs
    // before language- or source-stratified sampling. (The generated
    // corpus has no EXACT duplicates at all, so this runs on the banded
    // near-dup candidates.)
    "q_near_dup_inconsistent" -> { (s, dir) =>
      val pairs = graft.operators.Dedup
        .minhashLshPairs(t(s, dir, "documents"), t10 = 8)
      val meta = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
      pairs
        .join(meta.select(col("doc_id").as("a_id"), col("lang").as("lang_a"),
          col("source").as("source_a")), Seq("a_id"))
        .join(meta.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
          col("source").as("source_b")), Seq("b_id"))
        .withColumn("lang_mismatch", col("lang_a") =!= col("lang_b"))
        .withColumn("source_mismatch", col("source_a") =!= col("source_b"))
        .filter(col("lang_mismatch") || col("source_mismatch"))
        .select(col("a_id"), col("b_id"), col("lang_a"), col("lang_b"),
          col("source_a"), col("source_b"), col("lang_mismatch"),
          col("source_mismatch"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Unit-price dispersion: top-25 parts by coefficient of variation
    // of per-line unit value (min 5 lines) — where pricing is least
    // consistent.
    "q_price_dispersion" -> { (s, dir) =>
      // unit value in exact 1e-4-cent units (scale-0 longs): decimal
      // squares of scaled values overflow DuckDB's multiply, and scale-0
      // sums convert to double identically in both engines
      val u = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          round((expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)") * 10000)
            .cast("double") / col("l_quantity").cast("double"))
            .cast("long").as("p"))
      val m = u.groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("p")).cast("long").as("s1l"),
          sum(dec(col("p"), 38, 0) * dec(col("p"), 38, 0)).cast("double")
            .as("s2"))
        .filter(col("n_lines") >= 5)
        .withColumn("s1", col("s1l").cast("double"))
        .withColumn("mean_p", col("s1") / col("n_lines").cast("double") / 1e4)
        .withColumn("cv", sqrt(col("s2") / col("n_lines").cast("double") -
          (col("s1") / col("n_lines").cast("double")) *
            (col("s1") / col("n_lines").cast("double"))) /
          (col("s1") / col("n_lines").cast("double")))
      OrderStats.topK(m, Seq(col("cv").desc, col("l_partkey")), 25, "rk")
        .select(col("rk"), col("l_partkey"), col("n_lines"), col("mean_p"),
          col("cv"))
        .orderBy(col("rk"))
    },

    // Brand return rates with a two-proportion z against the pooled
    // rate — which brands return anomalously often.
    "q_return_rate_z" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .select(col("p_brand"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      val pooled = li.agg(count(lit(1)).cast("long").as("n_all"),
        sum(col("ret")).cast("long").as("r_all"))
      li.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("ret")).cast("long").as("n_returns"))
        .crossJoin(broadcast(pooled))
        .withColumn("rate", col("n_returns").cast("double") /
          col("n_lines").cast("double"))
        .withColumn("pooled_rate", col("r_all").cast("double") /
          col("n_all").cast("double"))
        .withColumn("z",
          (col("rate") - col("pooled_rate")) /
            sqrt(col("pooled_rate") * (lit(1.0) - col("pooled_rate")) /
              col("n_lines").cast("double")))
        .select(col("p_brand"), col("n_lines"), col("n_returns"),
          col("rate"), col("pooled_rate"), col("z"))
        .orderBy(col("p_brand"))
    })

  val oracle: Map[String, String] = Map(
    "q_supplier_hhi" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT rev.cents, n.n_name
        |  FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
        |    JOIN nation n ON n.n_nationkey = s.s_nationkey),
        |tot AS (SELECT n_name, CAST(SUM(CAST(cents AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS tc
        |  FROM j GROUP BY 1),
        |sh AS (SELECT j.n_name,
        |    CAST((CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      * (CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      AS DECIMAL(18,10)) AS sq
        |  FROM j JOIN tot ON tot.n_name = j.n_name)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(sq) AS DOUBLE) AS hhi
        |FROM sh GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_near_dup_inconsistent" ->
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
        |v AS (SELECT a_id, b_id
        |  FROM co JOIN sz za ON za.doc_id = a_id
        |    JOIN sz zb ON zb.doc_id = b_id
        |  WHERE common * 10 >= (za.n + zb.n - common) * 8)
        |SELECT a_id, b_id, da.lang AS lang_a, db.lang AS lang_b,
        |  da.source AS source_a, db.source AS source_b,
        |  da.lang <> db.lang AS lang_mismatch,
        |  da.source <> db.source AS source_mismatch
        |FROM v JOIN documents da ON da.doc_id = a_id
        |  JOIN documents db ON db.doc_id = b_id
        |WHERE da.lang <> db.lang OR da.source <> db.source
        |ORDER BY a_id, b_id""".stripMargin,
    "q_price_dispersion" ->
      """WITH u AS (SELECT l_partkey,
        |    CAST(ROUND(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * 10000 AS DOUBLE) / CAST(l_quantity AS DOUBLE)) AS BIGINT)
        |      AS p
        |  FROM lineitem),
        |m AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CAST(p AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(p AS HUGEINT) * CAST(p AS HUGEINT)) AS DOUBLE)
        |      AS s2
        |  FROM u GROUP BY 1 HAVING COUNT(*) >= 5),
        |c AS (SELECT l_partkey, n_lines,
        |    s1 / CAST(n_lines AS DOUBLE) / 1e4 AS mean_p,
        |    SQRT(s2 / CAST(n_lines AS DOUBLE)
        |      - (s1 / CAST(n_lines AS DOUBLE)) * (s1 / CAST(n_lines AS DOUBLE)))
        |      / (s1 / CAST(n_lines AS DOUBLE)) AS cv
        |  FROM m)
        |SELECT rk, l_partkey, n_lines, mean_p, cv FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cv DESC, l_partkey)
        |    AS BIGINT) AS rk FROM c) t
        |WHERE rk <= 25 ORDER BY rk""".stripMargin,
    "q_return_rate_z" ->
      """WITH li AS (SELECT p_brand,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |pooled AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(ret) AS BIGINT) AS r_all FROM li),
        |g AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(ret) AS BIGINT) AS n_returns
        |  FROM li GROUP BY 1)
        |SELECT p_brand, n_lines, n_returns,
        |  CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS rate,
        |  CAST(r_all AS DOUBLE) / CAST(n_all AS DOUBLE) AS pooled_rate,
        |  (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |    - CAST(r_all AS DOUBLE) / CAST(n_all AS DOUBLE))
        |  / SQRT((CAST(r_all AS DOUBLE) / CAST(n_all AS DOUBLE))
        |    * (1.0 - CAST(r_all AS DOUBLE) / CAST(n_all AS DOUBLE))
        |    / CAST(n_lines AS DOUBLE)) AS z
        |FROM g, pooled ORDER BY p_brand""".stripMargin)
}
