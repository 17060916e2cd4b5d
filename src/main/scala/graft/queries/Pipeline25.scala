package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.functions.VectorFunctions.dot
import graft.operators.{Dedup, OrderStats}
import Qs._

/** Twenty-fifth batch: sketch fidelity measurement, embedding outlier
  * screening, operational distributions (event-gap and join-key-skew
  * histograms), and customer decile mobility.
  *
  * Scale design:
  *  - q_minhash_fidelity joins signatures only over LSH candidate pairs
  *    (band equi-join, never all-pairs) and verifies with the
  *    candidate-restricted shingle join — the estimate/exact error
  *    report costs the same as the dedup it audits.
  *  - q_embed_outliers keeps the diagonal-Mahalanobis arithmetic exact
  *    until the last step: per-dimension moments are DECIMAL sums, the
  *    per-dimension ratio is ((n·x − Σx)²) / (n·Σx² − (Σx)²) — the n²
  *    factors cancel — and the over-dimensions sum runs through the
  *    codegen'd sequential dot product against a ones vector, so the
  *    double additions happen in array order, not shuffle order.
  *  - Histograms band on length(bin(v)) − 1 (exact integer log2), the
  *    same engine-portable trick as the Zipf report.
  *  - q_decile_transition is two OrderStats rank passes over the
  *    joined-cohort frame plus the exact NTILE arithmetic — no
  *    single-partition windows at any cardinality.
  */
object Pipeline25 extends Batch {

  private def ntileExpr(k: Int, rn: String, n: String) = expr(
    s"""CASE WHEN $rn <= ($n % $k) * ($n DIV $k + 1)
       |     THEN ($rn - 1) DIV ($n DIV $k + 1) + 1
       |     ELSE ($n % $k) + ($rn - ($n % $k) * ($n DIV $k + 1) - 1)
       |            DIV ($n DIV $k) + 1 END""".stripMargin)

  val queries: Map[String, Q] = Map(
    // MinHash fidelity report: for every LSH candidate pair, the
    // signature-agreement Jaccard estimate (matches/8) next to the
    // exact shingle Jaccard and the absolute error — the measurement
    // that justifies (or indicts) the sketch parameters.
    "q_minhash_fidelity" -> { (s, dir) =>
      // sh feeds the signature build AND the exact-Jaccard verification
      // (ha, hb) AND the size totals; cand feeds the signature-match and
      // common-shingle branches — both re-executed per reference before
      // round 11 (4 parquet scans of documents). Materialize each once.
      val sh = graft.Ckpt.shared(t(s, dir, "documents"),
        Dedup.shingles(t(s, dir, "documents")))
      val sig = Dedup.minhashSignature(sh).ckpt()
      val bands = (0 until 4).map { b =>
        sig.select(col("doc_id"), lit(b).as("band_idx"),
          md5f(concat(col(s"mh${2 * b + 1}"), col(s"mh${2 * b + 2}")))
            .as("band_val"))
      }.reduce(_ union _)
      val cand = graft.Ckpt.shared(t(s, dir, "documents"),
        bands.as("x").join(bands.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
              col("x.band_val") === col("y.band_val") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct())
      val withSigs = cand
        .join(sig.as("sa"), col("a_id") === col("sa.doc_id"))
        .join(sig.as("sb"), col("b_id") === col("sb.doc_id"))
        .withColumn("matches", (1 to 8).map(j =>
          when(col(s"sa.mh$j") === col(s"sb.mh$j"), 1L).otherwise(0L))
          .reduce(_ + _))
        .select(col("a_id"), col("b_id"), col("matches"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n"))
      val common = cand
        .join(sh.as("ha"), col("a_id") === col("ha.doc_id"))
        .join(sh.as("hb"), col("b_id") === col("hb.doc_id") &&
          col("ha.shingle") === col("hb.shingle"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).cast("long").as("common"))
      withSigs.join(common, Seq("a_id", "b_id"), "left")
        .na.fill(0L, Seq("common"))
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("matches"), col("common"),
          (col("matches").cast("double") / lit(8.0)).as("est_jaccard"),
          (col("common").cast("double") /
            (col("n_a") + col("n_b") - col("common")).cast("double"))
            .as("exact_jaccard"))
        .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Embedding outlier screen: diagonal-covariance Mahalanobis
    // distance², exact until the final double division —
    // d² = Σ_dims (n·x − Σx)² / (n·Σx² − (Σx)²) (zero-variance dims
    // contribute 0). Top-10 most anomalous vectors.
    "q_embed_outliers" -> { (s, dir) =>
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(expr(
            "transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE), 3)" +
              " AS DECIMAL(10,3)))")).as(Seq("pos", "qv")))
      val stats = dims.groupBy(col("pos")).agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("qv")).as("s1"),
        sum(col("qv") * col("qv")).as("s2"))
      // Moment sums stay DECIMAL (exact, shuffle-order-free) and convert
      // to double exactly (magnitudes << 2^53 quanta); the squaring and
      // division run in double with the formula text mirrored in the
      // oracle — squaring decimals would pass precision 38 and the two
      // engines round overflow differently.
      val contrib = dims.join(broadcast(stats), Seq("pos"))
        .withColumn("x", col("qv").cast("double"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("s1d", col("s1").cast("double"))
        .withColumn("s2d", col("s2").cast("double"))
        .withColumn("dn", col("nd") * col("x") - col("s1d"))
        .withColumn("dden", col("nd") * col("s2d") - col("s1d") * col("s1d"))
        .withColumn("r", when(col("dden") === 0.0, lit(0.0))
          .otherwise((col("dn") * col("dn")) / col("dden")))
      val arrs = contrib.groupBy(col("vec_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, r)))," +
          " s -> s.r)").as("contribs"))
        .withColumn("ones", expr("transform(contribs, x -> CAST(1.0 AS DOUBLE))"))
        .select(col("vec_id"), dot(col("contribs"), col("ones")).as("d2"))
      arrs.orderBy(col("d2").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), col("d2"))
    },

    // Inter-event gap distribution: per user, the microsecond gap to the
    // previous event (ordered by ts, event_id), banded by exact integer
    // log2 and grouped by the later event's type — the latency shape a
    // sessionization timeout should be calibrated against.
    "q_gap_bands" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .withColumn("band", (length(bin(col("gap_us"))) - 1).cast("long"))
        .groupBy(col("event_type"), col("band"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy(col("event_type"), col("band"))
    },

    // Join-key skew histogram: per-orderkey lineitem multiplicities
    // banded by exact log2, with the per-band key count and row mass —
    // the report that says whether a shuffle join on this key needs
    // salting. Pure two-level aggregation.
    "q_join_skew_report" -> { (s, dir) =>
      val f = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("f"))
      val tot = f.agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("f")).cast("long").as("n_rows"))
      f.withColumn("band", (length(bin(col("f"))) - 1).cast("long"))
        .groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_keys_band"),
          sum(col("f")).cast("long").as("rows_band"),
          max(col("f")).as("max_f"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_keys_band"), col("rows_band"),
          col("max_f"),
          (col("rows_band").cast("double") / col("n_rows").cast("double"))
            .as("row_share"))
        .orderBy(col("band"))
    },

    // Customer revenue-decile transition matrix between the two halves
    // of the order history (split 1998-01-01): for customers active in
    // BOTH halves, which early-decile → late-decile cells they land in —
    // the mobility report behind "are our best customers still our
    // best". Two OrderStats rank passes + exact NTILE arithmetic.
    "q_decile_transition" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        (to_date(col("o_orderdate")) < lit("1998-01-01")).as("early"))
      def half(early: Boolean, out: String) =
        o.filter(col("early") === early)
          .groupBy(col("o_custkey"))
          .agg(sum(col("cents")).cast("long").as(out))
      val both = half(early = true, "c_early")
        .join(half(early = false, "c_late"), Seq("o_custkey"))
      val n = both.agg(count(lit(1)).cast("long").as("n"))
      val r1 = OrderStats.running(both,
        Seq(col("c_early"), col("o_custkey")), Some("rn_e"))
      val r2 = OrderStats.running(r1,
        Seq(col("c_late"), col("o_custkey")), Some("rn_l"))
      r2.crossJoin(broadcast(n))
        .withColumn("d_early", ntileExpr(10, "rn_e", "n"))
        .withColumn("d_late", ntileExpr(10, "rn_l", "n"))
        .groupBy(col("d_early"), col("d_late"))
        .agg(count(lit(1)).cast("long").as("n_cust"))
        .orderBy(col("d_early"), col("d_late"))
    })

  val oracle: Map[String, String] = Map(
    "q_minhash_fidelity" ->
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
        |ws AS (SELECT a_id, b_id,
        |    CAST((CASE WHEN sa.mh1 = sb.mh1 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh2 = sb.mh2 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh3 = sb.mh3 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh4 = sb.mh4 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh5 = sb.mh5 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh6 = sb.mh6 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh7 = sb.mh7 THEN 1 ELSE 0 END) +
        |      (CASE WHEN sa.mh8 = sb.mh8 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS matches
        |  FROM cand JOIN sig sa ON a_id = sa.doc_id
        |  JOIN sig sb ON b_id = sb.doc_id),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM sh GROUP BY 1),
        |com AS (SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS common
        |  FROM cand JOIN sh ha ON a_id = ha.doc_id
        |  JOIN sh hb ON b_id = hb.doc_id AND ha.shingle = hb.shingle
        |  GROUP BY 1, 2)
        |SELECT ws.a_id, ws.b_id, matches,
        |  CAST(COALESCE(common, 0) AS BIGINT) AS common,
        |  CAST(matches AS DOUBLE) / 8.0 AS est_jaccard,
        |  CAST(COALESCE(common, 0) AS DOUBLE) /
        |    CAST(za.n + zb.n - COALESCE(common, 0) AS DOUBLE) AS exact_jaccard,
        |  ABS(CAST(matches AS DOUBLE) / 8.0 -
        |    CAST(COALESCE(common, 0) AS DOUBLE) /
        |      CAST(za.n + zb.n - COALESCE(common, 0) AS DOUBLE)) AS abs_err
        |FROM ws LEFT JOIN com ON ws.a_id = com.a_id AND ws.b_id = com.b_id
        |JOIN sz za ON ws.a_id = za.doc_id
        |JOIN sz zb ON ws.b_id = zb.doc_id
        |ORDER BY ws.a_id, ws.b_id""".stripMargin,
    "q_embed_outliers" ->
      """WITH dims AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |    CAST(ROUND(CAST(emb[i] AS DOUBLE), 3) AS DECIMAL(10,3)) AS qv
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |    FROM embeddings),
        |    UNNEST(generate_series(1, LEN(emb))) AS t(i)),
        |st AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(qv) AS s1, SUM(qv * qv) AS s2
        |  FROM dims GROUP BY 1),
        |contrib AS (SELECT vec_id, pos,
        |    CASE WHEN nd * s2d - s1d * s1d = 0.0 THEN 0.0
        |      ELSE ((nd * x - s1d) * (nd * x - s1d)) /
        |        (nd * s2d - s1d * s1d) END AS r
        |  FROM (SELECT vec_id, dims.pos AS pos,
        |      CAST(qv AS DOUBLE) AS x, CAST(n AS DOUBLE) AS nd,
        |      CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d
        |    FROM dims JOIN st ON dims.pos = st.pos) d),
        |arrs AS (SELECT vec_id,
        |    list_transform(list_sort(list({'pos': pos, 'r': r})),
        |      s -> s.r) AS contribs
        |  FROM contrib GROUP BY 1)
        |SELECT vec_id,
        |  list_inner_product(contribs,
        |    list_transform(contribs, x -> 1.0)) AS d2
        |FROM arrs ORDER BY d2 DESC, vec_id LIMIT 10""".stripMargin,
    "q_gap_bands" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - LAG(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap_us
        |  FROM e)
        |SELECT event_type, CAST(LENGTH(BIN(gap_us)) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_join_skew_report" ->
      """WITH f AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(f) AS BIGINT) AS n_rows FROM f)
        |SELECT CAST(LENGTH(BIN(f)) - 1 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys_band,
        |  CAST(SUM(f) AS BIGINT) AS rows_band,
        |  CAST(MAX(f) AS BIGINT) AS max_f,
        |  CAST(SUM(f) AS DOUBLE) / CAST(MAX(n_rows) AS DOUBLE) AS row_share
        |FROM f CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_decile_transition" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o_orderdate AS DATE) < DATE '1998-01-01' AS early
        |  FROM orders),
        |a AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS c_early
        |  FROM o WHERE early GROUP BY 1),
        |b AS (SELECT o_custkey, CAST(SUM(cents) AS BIGINT) AS c_late
        |  FROM o WHERE NOT early GROUP BY 1),
        |pres AS (SELECT a.o_custkey, c_early, c_late
        |  FROM a JOIN b ON a.o_custkey = b.o_custkey),
        |banded AS (SELECT
        |    CAST(NTILE(10) OVER (ORDER BY c_early, o_custkey) AS BIGINT)
        |      AS d_early,
        |    CAST(NTILE(10) OVER (ORDER BY c_late, o_custkey) AS BIGINT)
        |      AS d_late
        |  FROM pres)
        |SELECT d_early, d_late, CAST(COUNT(*) AS BIGINT) AS n_cust
        |FROM banded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
