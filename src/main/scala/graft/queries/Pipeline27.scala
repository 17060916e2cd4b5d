package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot
import graft.operators.{OrderStats, Similarity}
import Qs._

/** Twenty-seventh batch: evaluation + detection analytics — ANN recall
  * measurement, LSH bucket purity against labels, Benjamini–Hochberg
  * multiple-testing screening, single-changepoint detection, a storage
  * compressibility audit, U-shaped multi-touch attribution, and peak
  * session concurrency.
  *
  * Scale design notes (100 TB):
  *  - q_ann_recall bounds the probe side (vec_id < 200) so both the
  *    exact pass (probe × N) and the LSH pass (probe × bucket) stay
  *    linear in the corpus — never N².
  *  - q_bucket_purity's group space is ≤ 2^bits buckets × |labels|;
  *    everything after the first groupBy is tiny.
  *  - q_bh_fdr aggregates to ≤ |segments|×|priorities| rows before any
  *    ordering; the global rank runs on that provably-bounded frame
  *    (OrderStats boundedInput). Global moments come from exact decimal
  *    sums, so the z-scores are order-independent doubles.
  *  - q_changepoint_bss scans once into a per-day frame (bounded by the
  *    calendar), then does all split evaluation on prefix sums — the
  *    between-group-SS identity needs no sum of squares, so exact long
  *    prefix sums suffice at any scale factor.
  *  - q_compress_estimate's windows are partitioned by l_orderkey
  *    (≤ 7 rows each — TPC-H line numbers), so the lag pass is one
  *    natural-key shuffle; the 4-way COUNT(DISTINCT) expansion is the
  *    documented cost of an exact audit and runs in the same job.
  *  - q_position_attribution keeps all credit arithmetic in exact
  *    integer micro-cents (weights 1.0/0.5/0.4 scaled by 1e6, middles
  *    via integer DIV) — no order-dependent double sums anywhere.
  *  - q_concurrency_peak is the classic distributed sweep: sessionize
  *    (per-user partitioned windows), emit ±1 transitions, one
  *    OrderStats range-partitioned running sum, then a per-day max.
  */
object Pipeline27 extends Batch {

  /** Exact cosine top-3 (query_id, neighbor_id) of `pairs`. */
  private def top3(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  val queries: Map[String, Q] = Map(
    // ANN quality as a first-class query: recall@3 of the 8-bit sign-LSH
    // index vs the exact brute-force ranking, for a bounded probe set.
    // Output: how many probes got 0/1/2/3 of their true top-3 back.
    "q_ann_recall" -> { (s, dir) =>
      val e = Similarity.withNorm(t(s, dir, "embeddings"))
      val b = Similarity.signBucket(e, bits = 8)
      val probe = b.filter(col("vec_id") < 200)
      val exact = Similarity.bruteForceKnn(probe, e, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = top3(probe.as("q")
        .join(b.as("c"), col("q.bucket") === col("c.bucket") &&
          col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          (dot(col("q.emb"), col("c.emb")) / (col("q.nrm") * col("c.nrm"))).as("cos")))
      val hits = exact.join(lsh, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).cast("long").as("n_hit"))
      probe.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .groupBy(col("n_hit"))
        .agg(count(lit(1)).cast("long").as("n_queries"))
        .orderBy(col("n_hit"))
    },

    // Does the LSH index cluster like the labels? Per 8-bit sign bucket:
    // size, majority label (ties → smallest label), and purity.
    "q_bucket_purity" -> { (s, dir) =>
      val e = Similarity.withNorm(t(s, dir, "embeddings"))
      val lbl = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val counts = Similarity.signBucket(e, bits = 8)
        .select(col("vec_id"), col("bucket"))
        .join(lbl, Seq("vec_id"))
        .groupBy(col("bucket"), col("label"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val byCnt = Window.partitionBy(col("bucket"))
        .orderBy(col("cnt").desc, col("label"))
      counts
        .withColumn("rk", row_number().over(byCnt))
        .withColumn("n_vecs",
          sum(col("cnt")).over(Window.partitionBy(col("bucket"))).cast("long"))
        .filter(col("rk") === 1)
        .select(col("bucket"), col("n_vecs"), col("label").as("maj_label"),
          col("cnt").as("n_maj"),
          (col("cnt").cast("double") / col("n_vecs").cast("double")).as("purity"))
        .orderBy(col("bucket"))
    },

    // Benjamini–Hochberg FDR screening over the 25 (segment, priority)
    // mean-revenue cells: z vs the global mean (exact decimal moments),
    // a rational tail surrogate p = 1/(1+z²) (monotone in |z| — BH only
    // needs the ordering plus a fixed threshold shape, and the rational
    // form is bit-reproducible across engines where erf/exp are not),
    // then the step-up rule at q = 0.10.
    "q_bh_fdr" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"), col("cents"))
      val tot = j.agg(count(lit(1)).cast("long").as("n_all"),
          sum(dec(col("cents"), 38, 0)).cast("double").as("s_all"),
          sum(dec(col("cents") * col("cents"), 38, 0)).cast("double").as("ss_all"))
        .withColumn("mean_all", col("s_all") / col("n_all").cast("double"))
        .withColumn("var_all", col("ss_all") / col("n_all").cast("double") -
          col("mean_all") * col("mean_all"))
      val scored = j.groupBy(col("segment"), col("priority"))
        .agg(count(lit(1)).cast("long").as("n_g"), sum(col("cents")).as("s_g"))
        .crossJoin(broadcast(tot))
        .withColumn("mean_g", col("s_g").cast("double") / col("n_g").cast("double"))
        .withColumn("z", (col("mean_g") - col("mean_all")) /
          sqrt(col("var_all") / col("n_g").cast("double")))
        .withColumn("psur", lit(1.0) / (lit(1.0) + col("z") * col("z")))
        .select(col("segment"), col("priority"), col("n_g"), col("mean_g"),
          col("z"), col("psur"))
      val ranked = OrderStats.running(scored,
        Seq(col("psur"), col("segment"), col("priority")), Some("p_rank"),
        boundedInput = true)
      val flagged = ranked
        .crossJoin(broadcast(ranked.agg(count(lit(1)).cast("long").as("m"))))
        .withColumn("bh_thresh", lit(0.10) * col("p_rank").cast("double") /
          col("m").cast("double"))
      flagged
        .crossJoin(broadcast(flagged.agg(
          coalesce(max(when(col("psur") <= col("bh_thresh"), col("p_rank"))),
            lit(0L)).as("k_max"))))
        .withColumn("reject", col("p_rank") <= col("k_max"))
        .select(col("segment"), col("priority"), col("n_g"), col("mean_g"),
          col("z"), col("psur"), col("p_rank"), col("bh_thresh"), col("reject"))
        .orderBy(col("p_rank"))
    },

    // Best single changepoint of the daily-revenue series by maximizing
    // between-group sum of squares (equivalently minimizing within-SSE,
    // since the total SS is fixed) — needs only exact long prefix sums.
    "q_changepoint_bss" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val run = OrderStats.running(daily, Seq(col("day")), Some("t"),
        cumLong = Seq("cents" -> "s_t"), boundedInput = true)
      val tot = daily.agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).as("s"))
      run.crossJoin(broadcast(tot)).filter(col("t") < col("n"))
        .withColumn("mean_all", col("s").cast("double") / col("n").cast("double"))
        .withColumn("mean_left", col("s_t").cast("double") / col("t").cast("double"))
        .withColumn("mean_right", (col("s") - col("s_t")).cast("double") /
          (col("n") - col("t")).cast("double"))
        .withColumn("bss",
          col("t").cast("double") *
            ((col("mean_left") - col("mean_all")) * (col("mean_left") - col("mean_all"))) +
          (col("n") - col("t")).cast("double") *
            ((col("mean_right") - col("mean_all")) * (col("mean_right") - col("mean_all"))))
        .orderBy(col("bss").desc, col("day"))
        .limit(1)
        .select(date_format(col("day"), "yyyy-MM-dd").as("split_day"),
          col("t").as("n_left"), (col("n") - col("t")).as("n_right"),
          col("mean_left"), col("mean_right"), col("mean_all"), col("bss"))
    },

    // Storage-engine compressibility audit of four lineitem columns in
    // the table's natural (l_orderkey, l_linenumber) clustering: run
    // count and max adjacent delta within each order (RLE / delta-bit
    // estimate), plus exact global distinct counts.
    "q_compress_estimate" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"))
      // The generated data repeats (l_orderkey, l_linenumber) pairs, so
      // the sort must be total over every audited column — ties beyond
      // that have identical audited tuples, so run/delta metrics are
      // order-invariant.
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"),
        col("pk"), col("sk"), col("qty"), col("price_c"))
      val lagged = li.select(col("pk"), col("sk"), col("qty"), col("price_c"),
        lag(col("pk"), 1).over(w).as("pk_p"), lag(col("sk"), 1).over(w).as("sk_p"),
        lag(col("qty"), 1).over(w).as("qty_p"),
        lag(col("price_c"), 1).over(w).as("price_p"))
      def runs(v: Column, p: Column) =
        sum(when(p.isNull || v =!= p, 1L).otherwise(0L)).cast("long")
      def maxd(v: Column, p: Column) = coalesce(max(abs(v - p)), lit(0L))
      val a = lagged.agg(count(lit(1)).cast("long").as("n_rows"),
        runs(col("pk"), col("pk_p")).as("runs_pk"), maxd(col("pk"), col("pk_p")).as("d_pk"),
        runs(col("sk"), col("sk_p")).as("runs_sk"), maxd(col("sk"), col("sk_p")).as("d_sk"),
        runs(col("qty"), col("qty_p")).as("runs_qty"), maxd(col("qty"), col("qty_p")).as("d_qty"),
        runs(col("price_c"), col("price_p")).as("runs_price"),
        maxd(col("price_c"), col("price_p")).as("d_price"))
      val nd = li.agg(countDistinct(col("pk")).cast("long").as("nd_pk"),
        countDistinct(col("sk")).cast("long").as("nd_sk"),
        countDistinct(col("qty")).cast("long").as("nd_qty"),
        countDistinct(col("price_c")).cast("long").as("nd_price"))
      def entry(name: String, ndC: String, runsC: String, dC: String) =
        struct(lit(name).as("col_name"), col("n_rows").as("n_rows"),
          col(ndC).as("n_distinct"), col(runsC).as("n_runs"),
          col(dC).as("max_abs_delta"))
      a.crossJoin(broadcast(nd))
        .select(explode(array(
          entry("l_partkey", "nd_pk", "runs_pk", "d_pk"),
          entry("l_suppkey", "nd_sk", "runs_sk", "d_sk"),
          entry("l_quantity", "nd_qty", "runs_qty", "d_qty"),
          entry("l_extendedprice", "nd_price", "runs_price", "d_price"))).as("r"))
        .select(col("r.*"))
        .withColumn("est_bits", when(col("max_abs_delta") <= 0, lit(1L))
          .otherwise(length(bin(col("max_abs_delta"))).cast("long")))
        .withColumn("run_ratio",
          col("n_runs").cast("double") / col("n_rows").cast("double"))
        .orderBy(col("col_name"))
    },

    // U-shaped (position-based) multi-touch attribution: each user's
    // clicks strictly before their first purchase share that purchase —
    // 40/20/40 across first/middles/last, all in exact integer
    // micro-cents (middle shares via integer DIV, remainder dropped).
    "q_position_attribution" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(byUser)).filter(col("rn") === 1)
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
          round(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("c_us"), col("ts").as("c_ts"))
        .join(firstPurchase, Seq("user_id"))
        .filter(col("c_us") < col("p_us"))
      val byClick = Window.partitionBy(col("user_id")).orderBy(col("c_us"), col("event_id"))
      clicks
        .withColumn("idx", row_number().over(byClick).cast("long"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("user_id"))).cast("long"))
        .withColumn("credit_u",
          when(col("n") === 1, col("cents") * 1000000L)
            .when(col("n") === 2, col("cents") * 500000L)
            .when(col("idx") === 1 || col("idx") === col("n"), col("cents") * 400000L)
            .otherwise(expr("(cents * 200000) DIV (n - 2)")))
        .groupBy(date_format(col("c_ts"), "yyyy-MM-dd").as("click_day"))
        .agg(count(lit(1)).cast("long").as("n_touches"),
          sum(col("credit_u")).cast("long").as("att_microcents"))
        .orderBy(col("click_day"))
    },

    // Peak concurrent sessions per day: 30-minute-gap sessions, then a
    // ±1 sweep (acquire at start, release at end+1µs; releases sort
    // before acquires at the same instant) with one range-partitioned
    // running sum.
    "q_concurrency_peak" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = ev.groupBy(col("user_id"), col("session_idx"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
      // ±1 sweep rows via ONE explode, not a 2-way unionAll: the union
      // referenced `sessions` once per branch, so the whole events scan
      // + sessionization window re-executed twice (round 12 — the
      // q_bootstrap_ci single-reference-widening pattern, guide §2.4).
      // Same multiset of (us, delta) rows; the downstream running sum
      // sorts by (us, delta), so produce-order is irrelevant.
      val sweep = sessions.select(explode(array(
          struct(col("start_us").as("us"), lit(1L).as("delta")),
          struct((col("end_us") + 1).as("us"), lit(-1L).as("delta")))).as("r"))
        .select(col("r.us").as("us"), col("r.delta").as("delta"))
      OrderStats.running(sweep, Seq(col("us"), col("delta")), None,
          cumLong = Seq("delta" -> "cum"))
        .groupBy(date_format(timestamp_micros(col("us")), "yyyy-MM-dd").as("day"))
        .agg(max(col("cum")).cast("long").as("peak_concurrency"),
          count(lit(1)).cast("long").as("n_transitions"))
        .orderBy(col("day"))
    })

  private val bucketSql =
    (1 to 8).map(i =>
      s"(CASE WHEN emb[$i] > 0 THEN '1' ELSE '0' END)").mkString(" || ")

  private val embSql =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |  SQRT(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ann_recall" ->
      s"""WITH $embSql,
        |b AS (SELECT vec_id, emb, nrm, $bucketSql AS bucket FROM e),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) DESC, c.vec_id) AS rk
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 200) t
        |  WHERE rk <= 3),
        |ls AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) DESC, c.vec_id) AS rk
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 200) t WHERE rk <= 3),
        |h AS (SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM ex JOIN ls ON ex.query_id = ls.query_id
        |    AND ex.neighbor_id = ls.neighbor_id
        |  GROUP BY 1),
        |pq AS (SELECT e.vec_id AS query_id, COALESCE(h.n_hit, 0) AS n_hit
        |  FROM e LEFT JOIN h ON e.vec_id = h.query_id WHERE e.vec_id < 200)
        |SELECT CAST(n_hit AS BIGINT) AS n_hit,
        |  CAST(COUNT(*) AS BIGINT) AS n_queries
        |FROM pq GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bucket_purity" ->
      s"""WITH $embSql,
        |b AS (SELECT vec_id, $bucketSql AS bucket FROM e),
        |l AS (SELECT b.bucket, CAST(em.label AS BIGINT) AS label
        |  FROM b JOIN embeddings em ON b.vec_id = em.vec_id),
        |c AS (SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM l GROUP BY 1, 2),
        |r AS (SELECT bucket, label, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY cnt DESC, label) AS rk,
        |    SUM(cnt) OVER (PARTITION BY bucket) AS n_vecs FROM c)
        |SELECT bucket, CAST(n_vecs AS BIGINT) AS n_vecs, label AS maj_label,
        |  cnt AS n_maj, CAST(cnt AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS purity
        |FROM r WHERE rk = 1 ORDER BY bucket""".stripMargin,
    "q_bh_fdr" ->
      """WITH j AS (SELECT c.c_mktsegment AS segment,
        |    o.o_orderpriority AS priority,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |tot0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
        |    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS s_all,
        |    CAST(SUM(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE) AS ss_all
        |  FROM j),
        |tot AS (SELECT n_all, s_all, ss_all,
        |    s_all / CAST(n_all AS DOUBLE) AS mean_all,
        |    ss_all / CAST(n_all AS DOUBLE)
        |      - (s_all / CAST(n_all AS DOUBLE)) * (s_all / CAST(n_all AS DOUBLE))
        |      AS var_all
        |  FROM tot0),
        |g AS (SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(cents) AS BIGINT) AS s_g FROM j GROUP BY 1, 2),
        |sc AS (SELECT segment, priority, n_g,
        |    CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS mean_g,
        |    (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) - mean_all)
        |      / SQRT(var_all / CAST(n_g AS DOUBLE)) AS z
        |  FROM g, tot),
        |p AS (SELECT *,
        |    CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + z * z) AS psur FROM sc),
        |r AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (ORDER BY psur, segment, priority) AS BIGINT)
        |      AS p_rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM p),
        |f AS (SELECT *, CAST(0.10 AS DOUBLE) * CAST(p_rank AS DOUBLE)
        |      / CAST(m AS DOUBLE) AS bh_thresh FROM r),
        |k AS (SELECT COALESCE(MAX(CASE WHEN psur <= bh_thresh THEN p_rank END),
        |    0) AS k_max FROM f)
        |SELECT segment, priority, n_g, mean_g, z, psur, p_rank, bh_thresh,
        |  p_rank <= k_max AS reject
        |FROM f, k ORDER BY p_rank""".stripMargin,
    "q_changepoint_bss" ->
      """WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(SUM(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_t
        |  FROM d),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s FROM d),
        |b AS (SELECT day, t, s_t, n, s,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_all,
        |    CAST(s_t AS DOUBLE) / CAST(t AS DOUBLE) AS mean_left,
        |    CAST(s - s_t AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_right
        |  FROM r, tot WHERE t < n),
        |bb AS (SELECT *,
        |    CAST(t AS DOUBLE) * ((mean_left - mean_all) * (mean_left - mean_all))
        |      + CAST(n - t AS DOUBLE)
        |        * ((mean_right - mean_all) * (mean_right - mean_all)) AS bss
        |  FROM b)
        |SELECT strftime(day, '%Y-%m-%d') AS split_day, t AS n_left,
        |  n - t AS n_right, mean_left, mean_right, mean_all, bss
        |FROM bb ORDER BY bss DESC, day LIMIT 1""".stripMargin,
    "q_compress_estimate" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |    CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk,
        |    CAST(ROUND(l_quantity) AS BIGINT) AS qty,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |lg AS (SELECT pk, sk, qty, price_c,
        |    LAG(pk, 1) OVER w AS pk_p, LAG(sk, 1) OVER w AS sk_p,
        |    LAG(qty, 1) OVER w AS qty_p, LAG(price_c, 1) OVER w AS price_p
        |  FROM li WINDOW w AS (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, pk, sk, qty, price_c)),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN pk_p IS NULL OR pk <> pk_p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs_pk,
        |    CAST(COALESCE(MAX(ABS(pk - pk_p)), 0) AS BIGINT) AS d_pk,
        |    CAST(SUM(CASE WHEN sk_p IS NULL OR sk <> sk_p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs_sk,
        |    CAST(COALESCE(MAX(ABS(sk - sk_p)), 0) AS BIGINT) AS d_sk,
        |    CAST(SUM(CASE WHEN qty_p IS NULL OR qty <> qty_p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs_qty,
        |    CAST(COALESCE(MAX(ABS(qty - qty_p)), 0) AS BIGINT) AS d_qty,
        |    CAST(SUM(CASE WHEN price_p IS NULL OR price_c <> price_p THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs_price,
        |    CAST(COALESCE(MAX(ABS(price_c - price_p)), 0) AS BIGINT) AS d_price
        |  FROM lg),
        |nd AS (SELECT CAST(COUNT(DISTINCT pk) AS BIGINT) AS nd_pk,
        |    CAST(COUNT(DISTINCT sk) AS BIGINT) AS nd_sk,
        |    CAST(COUNT(DISTINCT qty) AS BIGINT) AS nd_qty,
        |    CAST(COUNT(DISTINCT price_c) AS BIGINT) AS nd_price
        |  FROM li),
        |st AS (
        |  SELECT 'l_partkey' AS col_name, n_rows, nd_pk AS n_distinct,
        |    runs_pk AS n_runs, d_pk AS max_abs_delta FROM a, nd
        |  UNION ALL SELECT 'l_suppkey', n_rows, nd_sk, runs_sk, d_sk FROM a, nd
        |  UNION ALL SELECT 'l_quantity', n_rows, nd_qty, runs_qty, d_qty FROM a, nd
        |  UNION ALL SELECT 'l_extendedprice', n_rows, nd_price, runs_price,
        |    d_price FROM a, nd)
        |SELECT col_name, n_rows, n_distinct, n_runs, max_abs_delta,
        |  CASE WHEN max_abs_delta <= 0 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(LENGTH(BIN(max_abs_delta)) AS BIGINT) END AS est_bits,
        |  CAST(n_runs AS DOUBLE) / CAST(n_rows AS DOUBLE) AS run_ratio
        |FROM st ORDER BY col_name""".stripMargin,
    "q_position_attribution" ->
      """WITH fp AS (SELECT user_id, p_us, cents FROM (
        |    SELECT user_id, epoch_us(ts) AS p_us,
        |      CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') t WHERE rn = 1),
        |cl AS (SELECT e.user_id, e.event_id, epoch_us(e.ts) AS c_us,
        |    e.ts AS c_ts, fp.cents
        |  FROM events e JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) < fp.p_us),
        |pos AS (SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY c_us, event_id)
        |      AS BIGINT) AS idx,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM cl),
        |cr AS (SELECT c_ts,
        |    CASE WHEN n = 1 THEN cents * 1000000
        |         WHEN n = 2 THEN cents * 500000
        |         WHEN idx = 1 OR idx = n THEN cents * 400000
        |         ELSE (cents * 200000) // (n - 2) END AS credit_u
        |  FROM pos)
        |SELECT strftime(c_ts, '%Y-%m-%d') AS click_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(credit_u) AS BIGINT) AS att_microcents
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_concurrency_peak" ->
      """WITH e AS (SELECT *, LAG(epoch_us(ts), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS ns FROM e),
        |g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f),
        |s AS (SELECT user_id, session_idx, MIN(epoch_us(ts)) AS start_us,
        |    MAX(epoch_us(ts)) AS end_us FROM g GROUP BY 1, 2),
        |sw AS (SELECT start_us AS us, 1 AS delta FROM s
        |  UNION ALL SELECT end_us + 1, -1 FROM s),
        |c AS (SELECT us, delta, SUM(delta) OVER (ORDER BY us, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sw)
        |SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
        |  CAST(MAX(cum) AS BIGINT) AS peak_concurrency,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
}
