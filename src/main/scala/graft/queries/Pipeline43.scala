package graft.queries

import graft.operators.Dedup
import Qs._

/** Forty-third batch (round 7): the dedup SCALE KNOBS, oracle-checked in
  * their ON state. `maxShingleDf` / `maxBandDf` are the caps that make
  * the all-pairs / LSH candidate joins survive boilerplate-heavy corpora
  * at 100 TB (a shingle or band bucket shared by d docs creates d·(d−1)/2
  * join rows). They are recall/cost knobs, so every other catalog query
  * runs them off for exact parity — which meant the code path a 100-TB
  * run would actually use had spec coverage but no oracle. These two
  * queries mirror the cap INTO the DuckDB SQL (the q_pagerank degree-cap
  * pattern) so the capped candidate generation is hash-checked
  * end-to-end.
  *
  * Scale design notes (100 TB):
  *  - q_dedup_capped_shingle: shingles with document frequency > 4 are
  *    excluded from candidate generation but still count toward each
  *    doc's shingle total (denominators exact, `common` conservatively
  *    undercounted). At sf0.01 the cap demonstrably bites: 20 of the 25
  *    uncapped pairs survive.
  *  - q_dedup_capped_band: LSH band buckets holding > 2 docs are
  *    excluded; true near-dups still meet through their other 3 bands
  *    (22 of 25 pairs survive at sf0.01). Both queries keep the banded /
  *    capped equi-join shape — never all-pairs over the corpus.
  */
object Pipeline43 extends Batch {

  val queries: Map[String, Q] = Map(
    // DF-capped all-pairs Jaccard: the quadratic hot spot (boilerplate
    // shingles) excluded from candidate generation, denominators exact.
    "q_dedup_capped_shingle" -> { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), t10 = 8, maxShingleDf = 4)
    },

    // Bucket-capped MinHash LSH: degenerate band buckets excluded from
    // the candidate join; verification unchanged (uncapped shingles).
    "q_dedup_capped_band" -> { (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), t10 = 8, maxBandDf = 2)
    })

  val oracle: Map[String, String] = Map(
    "q_dedup_capped_shingle" ->
      s"""WITH ${Pipeline.shinglesSql},
        |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 4),
        |shc AS (SELECT s.* FROM sh s ANTI JOIN hot h ON s.shingle = h.shingle),
        |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
        |  FROM shc a JOIN shc b
        |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        |SELECT a_id, b_id, common, za.n AS n_a, zb.n AS n_b
        |FROM co JOIN sz za ON a_id = za.doc_id JOIN sz zb ON b_id = zb.doc_id
        |WHERE common * 10 >= 8 * (za.n + zb.n - common)
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_capped_band" ->
      s"""WITH ${Pipeline.shinglesSql},
        |${Pipeline.minhashSigSql},
        |bands AS (
        |  SELECT doc_id, 0 AS band_idx, MD5(mh1 || mh2) AS band_val FROM sig UNION ALL
        |  SELECT doc_id, 1, MD5(mh3 || mh4) FROM sig UNION ALL
        |  SELECT doc_id, 2, MD5(mh5 || mh6) FROM sig UNION ALL
        |  SELECT doc_id, 3, MD5(mh7 || mh8) FROM sig),
        |hotb AS (SELECT band_idx, band_val FROM bands
        |  GROUP BY 1, 2 HAVING COUNT(*) > 2),
        |bc AS (SELECT b.* FROM bands b ANTI JOIN hotb h
        |  ON b.band_idx = h.band_idx AND b.band_val = h.band_val),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bc x JOIN bc y ON x.band_idx = y.band_idx
        |  AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
        |${Pipeline.jaccardSql}""".stripMargin)
}
