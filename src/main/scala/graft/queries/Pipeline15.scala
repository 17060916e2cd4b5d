package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.functions.VectorFunctions.dot

import Qs._

/** Fifteenth batch: embedding-space model evaluation, engagement
  * windows, and resampling statistics.
  *
  * Scale design:
  *  - Nearest-centroid classification is the IVF assignment shape
  *    reused for supervised eval: per-label centroids from exact
  *    DECIMAL(10,3) sums (order-free, oracle-replayable), broadcast as
  *    a |labels|×D table, one narrow N×k scoring pass — a boundedBnlj
  *    by construction, never an N² join.
  *  - Trailing-7-day active users expands each distinct (user, day)
  *    pair to the ≤7 window days it covers, then two-phase distinct
  *    counts — no global window, no non-equi join; the 7× fan-out is
  *    map-side and bounded by the window width.
  *  - The bootstrap is the POISSON bootstrap (the resampling scheme
  *    that actually distributes): each row draws its replicate
  *    multiplicity from a hash-seeded uniform against literal-encoded
  *    Poisson(1) CDF thresholds (integer compares — deterministic,
  *    retry-safe, bit-replayable in SQL), so all B resamples happen in
  *    ONE pass with map-side partial aggregation. No row ever moves;
  *    only B partial sums per partition do.
  *  - The JL projection keeps every projected coordinate an exact
  *    DECIMAL sum (signs ±1 from md5 parity — the databases agree on
  *    the hash, hence on the whole matrix) — the cheap 64→8 sketch that
  *    fronts ANN at billion-vector scale.
  */
object Pipeline15 extends Batch {

  /** floor(P(Poisson(1) ≤ k) · 2^32) for k = 0..7 — identical literals
    * in the Spark and DuckDB formulations; a 32-bit md5-derived uniform
    * compared against them yields the replicate multiplicity. 32-bit
    * resolution quantizes the CDF by ≤2⁻³², statistically invisible,
    * and lets ONE md5 digest (32 hex chars) carry FOUR uniforms — the
    * hash is the dominant per-row cost at scale.
    */
  private[queries] val poissonThresholds: Seq[Long] = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L,
    4279248373L, 4292415291L, 4294609777L, 4294923276L)

  val queries: Map[String, Q] = Map(
    // Nearest-centroid classifier: train per-label centroids on even
    // vec_ids (exact decimal means), classify odd vec_ids by
    // rank-equivalent cosine (query norm constant per vector), emit the
    // confusion matrix.
    "q_nearest_centroid" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, v -> ROUND(CAST(v AS DOUBLE), 3))")
            .as("qemb"))
        .withColumn("qd", expr("transform(qemb, v -> CAST(v AS DECIMAL(10,3)))"))
      val train = e.filter(col("vec_id") % 2 === 0)
      val test = e.filter(col("vec_id") % 2 === 1)
      val dims = train
        .select(col("label"), posexplode(col("qd")).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("qv")).cast("double") / count(lit(1))).as("cv"))
      val cents = dims.groupBy(col("label").as("c_label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
          .as("c_emb"))
        .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb"))))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("c_label"))
      test.join(broadcast(cents))
        .withColumn("score", dot(col("qemb"), col("c_emb")) / col("c_nrm"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("label"), col("c_label").as("pred_label"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("label"), col("pred_label"))
    },

    // Trailing-7-day distinct active users per observed day, next to the
    // same-day count: the DAU/WAU engagement pair.
    "q_active_users_window" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      // pairs (distinct day×user) feeds days, cover AND act1 — three
      // full events scans + distincts in the round-12 audit. Materialize
      // once (sizeFactor 0.5: distinct-reduced, narrower than events).
      val pairs = graft.Ckpt.shared(ev,
        ev.select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
            .as("d"), col("user_id"))
          .distinct(),
        sizeFactor = 0.5)
      val days = pairs.select(col("d")).distinct()
      val cover = pairs
        .select(col("user_id"),
          explode(sequence(col("d"), col("d") + 6)).as("cd"))
        .distinct()
      val act7 = cover.join(days, cover("cd") === days("d"))
        .groupBy(col("cd"))
        .agg(count(lit(1)).cast("long").as("n_active_7d"))
      val act1 = pairs.groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("n_active_today"))
      act7.join(act1, act7("cd") === act1("d"))
        .select(date_format(date_add(lit("1970-01-01").cast("date"),
          col("cd").cast("int")), "yyyy-MM-dd").as("day_s"),
          col("n_active_today"), col("n_active_7d"))
        .orderBy(col("day_s"))
    },

    // Poisson-bootstrap 90% CI for the mean order value: B=64 replicates
    // in one pass; weights from md5-seeded uniforms vs the literal CDF
    // thresholds; CI endpoints are the 4th and 61st order statistics of
    // the replicate means (ceil(0.05·64), ceil(0.95·64)).
    "q_bootstrap_ci" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      // One md5 digest carries FOUR 32-bit uniforms (hex chars 1-8, 9-16,
      // 17-24, 25-32), so 16 hash blocks cover 64 replicates — the hash
      // is the hot per-row cost at scale, not the explode.
      def wexpr(h: org.apache.spark.sql.Column) = poissonThresholds.map(tk =>
        when(h >= tk, 1L).otherwise(0L)).reduce(_ + _)
      // The small parquet reads as ONE split; the 16× explode and per-row
      // hashing after it are embarrassingly parallel, so fan out first —
      // one narrow shuffle of (key, cents) buys 32-way hash throughput.
      // Round 11: size-thresholded (Tables.fanOutSmall) — at production
      // sizes the scan is already wide and the extra exchange would be
      // pure overhead.
      val blk = graft.Tables.fanOutSmall(s, o)
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(15))).as("blk"))
        .withColumn("hx", md5f(concat(lit("boot|"),
          col("o_orderkey").cast("string"), lit("|"),
          col("blk").cast("string"))))
      val withW = (1 to 4).foldLeft(blk) { (df, j) =>
        df.withColumn(s"w$j", wexpr(
          conv(substring(col("hx"), 1 + 8 * (j - 1), 8), 16, 10).cast("long")))
      }
      val perBlk = withW.groupBy(col("blk"))
        .agg(sum(col("w1") * col("cents")).cast("long").as("wc1"),
          sum(col("w1")).cast("long").as("wn1"),
          sum(col("w2") * col("cents")).cast("long").as("wc2"),
          sum(col("w2")).cast("long").as("wn2"),
          sum(col("w3") * col("cents")).cast("long").as("wc3"),
          sum(col("w3")).cast("long").as("wn3"),
          sum(col("w4") * col("cents")).cast("long").as("wc4"),
          sum(col("w4")).cast("long").as("wn4"))
      // Order statistics of the 64 replicate means via bounded
      // TakeOrdered + sequential rank (B is a constant; no window).
      // Round 11: the old 4-way union referenced perBlk once PER branch
      // and `means` twice (ci_lo, ci_hi) — only the fan-out exchange was
      // reused, so the 16×-explode + md5 weight pass re-executed 8 times
      // (plan audit: 9 parquet scans, 41 executor-CPU-s at sf0.1). The
      // widening to (rep, m) is now a 4-struct explode (ONE reference)
      // and both CI endpoints come out of one conditional aggregate over
      // the 64-row ranked frame: one scan, one hash pass, same values.
      val means = graft.operators.OrderStats.topK(
        perBlk.select(explode(array((1 to 4).map(j =>
            struct((col("blk") * 4 + (j - 1)).cast("long").as("rep"),
              (col(s"wc$j").cast("double") / col(s"wn$j").cast("double"))
                .as("m"))): _*)).as("r"))
          .select(col("r.rep").as("rep"), col("r.m").as("m")),
        Seq(col("m"), col("rep")), 64, "rk")
      // Empty-input contract (round-11 advice): on an EMPTY orders table
      // this global aggregate emits one all-null row (the pre-r11 plan
      // emitted zero rows). Values are oracle-proven identical for every
      // non-empty input, and the harness corpora are never empty at any
      // sf; the oracle SQL aggregates the same way, so both engines
      // agree on the degenerate shape too.
      val ci = means
        .agg(max(when(col("rk") === 4, col("m"))).as("ci_lo"),
          max(when(col("rk") === 61, col("m"))).as("ci_hi"))
      val full = o.agg(count(lit(1)).cast("long").as("n_orders"),
        (sum(col("cents")).cast("double") / count(lit(1))).as("mean_cents"))
      full.crossJoin(broadcast(ci))
        .select(col("n_orders"), col("mean_cents"), col("ci_lo"),
          col("ci_hi"), lit(64L).as("b"))
    },

    // Johnson–Lindenstrauss signed random projection 64→8: sign matrix
    // from md5 parity on (input dim, output dim), projections as exact
    // conditional DECIMAL sums — one narrow pass, no shuffle beyond the
    // per-vector aggregation.
    "q_jl_projection" -> { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE), 3)" +
            " AS DECIMAL(10,3)))").as("qd"))
      val dims = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("j")
      // Same fan-out rationale as q_bootstrap_ci: the 512× (dims×k)
      // expansion below is embarrassingly parallel but the source parquet
      // is one split. Size-thresholded since round 11 (no-op at scale).
      val signed = graft.Tables.fanOutSmall(s, e)
        .select(col("vec_id"), posexplode(col("qd")).as(Seq("pos", "qv")))
        .withColumn("i", col("pos") + 1)
        .crossJoin(broadcast(dims))
        .withColumn("sgn",
          when(conv(substring(md5f(concat(lit("jl|"), col("i").cast("string"),
            lit("|"), col("j").cast("string"))), 1, 13), 16, 10)
            .cast("long") % 2 === 0, 1L).otherwise(-1L))
      val projections = (1 to 8).map(k =>
        sum(when(col("j") === k, col("sgn") * col("qv"))).cast("double")
          .as(s"p$k"))
      signed.groupBy(col("vec_id"))
        .agg(projections.head, projections.tail: _*)
        .orderBy(col("vec_id"))
    })

  private def thresholdsSql(h: String): String =
    poissonThresholds
      .map(tk => s"CASE WHEN $h >= $tk THEN 1 ELSE 0 END")
      .mkString(" + ")

  val oracle: Map[String, String] = Map(
    "q_nearest_centroid" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]), v -> ROUND(v, 3))
        |      AS qemb,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(ROUND(v, 3) AS DECIMAL(10,3))) AS qd
        |  FROM embeddings),
        |dims AS (SELECT label, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS cv
        |  FROM (SELECT label, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qv
        |    FROM e WHERE vec_id % 2 = 0) u
        |  GROUP BY label, pos),
        |c AS (SELECT label AS c_label, LIST(cv ORDER BY pos) AS c_emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS c_nrm
        |  FROM dims GROUP BY label),
        |pred AS (SELECT label, c_label FROM (
        |  SELECT v.label, c.c_label,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_label)
        |      AS rk
        |  FROM e v CROSS JOIN c WHERE v.vec_id % 2 = 1) x WHERE rk = 1)
        |SELECT label, c_label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pred GROUP BY label, c_label ORDER BY label, pred_label""".stripMargin,
    "q_active_users_window" ->
      """WITH pairs AS (SELECT DISTINCT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS d, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM pairs),
        |cover AS (SELECT DISTINCT user_id, cd FROM (
        |  SELECT user_id, UNNEST(generate_series(d, d + 6)) AS cd
        |  FROM pairs) x),
        |a7 AS (SELECT cd, CAST(COUNT(*) AS BIGINT) AS n_active_7d
        |  FROM cover JOIN days ON cd = d GROUP BY cd),
        |a1 AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_active_today
        |  FROM pairs GROUP BY d)
        |SELECT strftime(DATE '1970-01-01' + CAST(cd AS INTEGER), '%Y-%m-%d')
        |    AS day_s,
        |  n_active_today, n_active_7d
        |FROM a7 JOIN a1 ON cd = d ORDER BY day_s""".stripMargin,
    "q_bootstrap_ci" ->
      s"""WITH o AS (SELECT o_orderkey,
         |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         |r AS (SELECT o_orderkey, cents, UNNEST(generate_series(0, 15)) AS blk
         |  FROM o),
         |hx AS (SELECT cents, blk, MD5('boot|' || o_orderkey || '|' || blk)
         |    AS hex FROM r),
         |hw AS (SELECT cents, blk,
         |    CAST(('0x' || SUBSTR(hex, 1, 8)) AS BIGINT) AS h1,
         |    CAST(('0x' || SUBSTR(hex, 9, 8)) AS BIGINT) AS h2,
         |    CAST(('0x' || SUBSTR(hex, 17, 8)) AS BIGINT) AS h3,
         |    CAST(('0x' || SUBSTR(hex, 25, 8)) AS BIGINT) AS h4
         |  FROM hx),
         |wts AS (SELECT cents, blk, ${thresholdsSql("h1")} AS w1,
         |    ${thresholdsSql("h2")} AS w2, ${thresholdsSql("h3")} AS w3,
         |    ${thresholdsSql("h4")} AS w4 FROM hw),
         |pb AS (SELECT blk,
         |    CAST(SUM(w1 * cents) AS BIGINT) AS wc1,
         |    CAST(SUM(w1) AS BIGINT) AS wn1,
         |    CAST(SUM(w2 * cents) AS BIGINT) AS wc2,
         |    CAST(SUM(w2) AS BIGINT) AS wn2,
         |    CAST(SUM(w3 * cents) AS BIGINT) AS wc3,
         |    CAST(SUM(w3) AS BIGINT) AS wn3,
         |    CAST(SUM(w4 * cents) AS BIGINT) AS wc4,
         |    CAST(SUM(w4) AS BIGINT) AS wn4
         |  FROM wts GROUP BY blk),
         |m AS (SELECT CAST(blk * 4 AS BIGINT) AS rep,
         |    CAST(wc1 AS DOUBLE) / CAST(wn1 AS DOUBLE) AS m FROM pb
         |  UNION ALL
         |  SELECT CAST(blk * 4 + 1 AS BIGINT) AS rep,
         |    CAST(wc2 AS DOUBLE) / CAST(wn2 AS DOUBLE) AS m FROM pb
         |  UNION ALL
         |  SELECT CAST(blk * 4 + 2 AS BIGINT) AS rep,
         |    CAST(wc3 AS DOUBLE) / CAST(wn3 AS DOUBLE) AS m FROM pb
         |  UNION ALL
         |  SELECT CAST(blk * 4 + 3 AS BIGINT) AS rep,
         |    CAST(wc4 AS DOUBLE) / CAST(wn4 AS DOUBLE) AS m FROM pb),
         |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rk FROM m),
         |fl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         |    CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents FROM o)
         |SELECT n_orders, mean_cents,
         |  (SELECT m FROM rk WHERE rk = 4) AS ci_lo,
         |  (SELECT m FROM rk WHERE rk = 61) AS ci_hi,
         |  CAST(64 AS BIGINT) AS b
         |FROM fl""".stripMargin,
    "q_jl_projection" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(ROUND(v, 3) AS DECIMAL(10,3))) AS qd
        |  FROM embeddings),
        |x AS (SELECT vec_id, generate_subscripts(qd, 1) AS i, unnest(qd) AS qv
        |  FROM e),
        |sj AS (SELECT vec_id, i, qv, j,
        |    CASE WHEN CAST(('0x' || SUBSTR(MD5('jl|' || i || '|' || j), 1, 13))
        |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM x CROSS JOIN (SELECT UNNEST(generate_series(1, 8)) AS j) d)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN j = 1 THEN sgn * qv END) AS DOUBLE) AS p1,
        |  CAST(SUM(CASE WHEN j = 2 THEN sgn * qv END) AS DOUBLE) AS p2,
        |  CAST(SUM(CASE WHEN j = 3 THEN sgn * qv END) AS DOUBLE) AS p3,
        |  CAST(SUM(CASE WHEN j = 4 THEN sgn * qv END) AS DOUBLE) AS p4,
        |  CAST(SUM(CASE WHEN j = 5 THEN sgn * qv END) AS DOUBLE) AS p5,
        |  CAST(SUM(CASE WHEN j = 6 THEN sgn * qv END) AS DOUBLE) AS p6,
        |  CAST(SUM(CASE WHEN j = 7 THEN sgn * qv END) AS DOUBLE) AS p7,
        |  CAST(SUM(CASE WHEN j = 8 THEN sgn * qv END) AS DOUBLE) AS p8
        |FROM sj GROUP BY vec_id ORDER BY vec_id""".stripMargin)
}
