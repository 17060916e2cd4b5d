package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Qs._

/** Thirty-third batch: capacity/experiment planners and dependence
  * diagnostics — the empirical Markov entropy rate of user journeys, the
  * friendship paradox on the co-purchase graph, Bloom-filter and A/B
  * sample-size sizing from exact corpus moments, partial correlation,
  * intraclass correlation of line prices within orders, smoothed target
  * encoding, and the degree CCDF.
  *
  * Scale design notes (100 TB):
  *  - q_entropy_rate reduces the event stream to (type, next_type)
  *    counts (one user-keyed window + one shuffle); everything after is
  *    |types|² rows.
  *  - q_friendship_paradox / q_degree_ccdf are one aggregate over the
  *    degree frame; the CCDF thresholds are an 11-row static grid.
  *  - q_bloom_sizing / q_power_analysis derive their whole output from
  *    one scalar aggregate row crossed with a literal parameter grid —
  *    the "plan before you pay" pattern: sizing the filter/experiment
  *    WITHOUT building it.
  *  - q_partial_corr / q_icc_orders are single-scan exact moment
  *    aggregations (the ICC's per-order moments shuffle once on the
  *    natural key).
  *  - q_target_encoding is the k-category groupBy + one global scalar —
  *    the leakage-free encoder shape (priors broadcast, no row-level
  *    state).
  */
object Pipeline33 extends Batch {

  val queries: Map[String, Q] = Map(
    // Empirical Markov entropy rate of the event-type chain: per-state
    // conditional entropy H_i = −Σ_j p(j|i) ln p(j|i), weighted by the
    // state's share of transitions. How predictable is the next user
    // action, in nats.
    "q_entropy_rate" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
      // tr is ≤ |event types|² rows but its lineage (events scan +
      // per-user window) re-executed per reference (outTot, terms →
      // rate AND the final grouping): 6 events scans in the round-12
      // audit. Materialize once (sizeFactor 1e-4: type-pair-bounded).
      val tr = graft.Ckpt.shared(ev,
        ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).cast("long").as("n")),
        sizeFactor = 1e-4)
      val outTot = tr.groupBy(col("event_type"))
        .agg(sum(col("n")).cast("long").as("n_out"))
      val all = outTot.agg(sum(col("n_out")).cast("long").as("n_all"))
      val terms = tr.join(broadcast(outTot), Seq("event_type"))
        .crossJoin(broadcast(all))
        .withColumn("h_term",
          (-(col("n") / col("n_out")) * log(col("n") / col("n_out")))
            .cast(DecimalType(18, 10)))
        .withColumn("rate_term",
          (-(col("n") / col("n_all")) * log(col("n") / col("n_out")))
            .cast(DecimalType(18, 10)))
      val rate = terms.agg(sum(col("rate_term")).cast("double").as("entropy_rate"))
      terms.groupBy(col("event_type"), col("n_out"))
        .agg(sum(col("h_term")).cast("double").as("h_cond"))
        .crossJoin(broadcast(rate))
        .select(col("event_type"), col("n_out"), col("h_cond"),
          col("entropy_rate"))
        .orderBy(col("event_type"))
    },

    // Friendship paradox on the co-purchase graph: the degree-weighted
    // mean neighbor degree Σd²/Σd always dominates the plain mean Σd/n.
    // The sampling-bias number behind "your neighbors have more edges
    // than you".
    "q_friendship_paradox" -> { (s, dir) =>
      val deg = Pipeline12.coEdges(t(s, dir, "lineitem"))
        .groupBy(col("src")).agg(count(lit(1)).cast("long").as("d"))
      deg.agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(col("d")).cast("long").as("sd"),
          sum(dec(col("d"), 38, 0) * dec(col("d"), 38, 0)).cast("double").as("sdd"))
        .withColumn("mean_degree", col("sd").cast("double") /
          col("n_nodes").cast("double"))
        .withColumn("mean_neighbor_degree", col("sdd") / col("sd").cast("double"))
        .withColumn("paradox_ratio",
          col("mean_neighbor_degree") / col("mean_degree"))
        .select(col("n_nodes"), col("mean_degree"),
          col("mean_neighbor_degree"), col("paradox_ratio"))
    },

    // Bloom-filter sizing for the distinct-document key set at four
    // target false-positive rates: m = ceil(−n·ln p / ln²2), k =
    // round((m/n)·ln 2). Sizing the dedup filter WITHOUT building it.
    "q_bloom_sizing" -> { (s, dir) =>
      val n = t(s, dir, "documents")
        .agg(countDistinct(md5(col("text"))).cast("long").as("n_keys"))
      val grid = Seq(0.1, 0.01, 0.001, 0.0001)
      n.select(col("n_keys"),
          explode(array(grid.map(lit): _*)).as("target_fpr"))
        .withColumn("m_bits", ceil(-col("n_keys").cast("double") *
          log(col("target_fpr")) / (log(lit(2.0)) * log(lit(2.0))))
          .cast("long"))
        .withColumn("k_hashes", round(col("m_bits").cast("double") /
          col("n_keys").cast("double") * log(lit(2.0))).cast("long"))
        .withColumn("bits_per_key", col("m_bits").cast("double") /
          col("n_keys").cast("double"))
        .select(col("target_fpr"), col("n_keys"), col("m_bits"),
          col("k_hashes"), col("bits_per_key"))
        .orderBy(col("target_fpr").desc)
    },

    // Two-sample A/B sizing from the observed order-value variance:
    // n per arm = ceil(2·(z_α/2+z_β)²·σ²/δ²) for detecting a 1/2/5%
    // lift of the mean at α=0.05, power 0.8.
    "q_power_analysis" -> { (s, dir) =>
      val m = t(s, dir, "orders")
        .select(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
        .agg(count(lit(1)).cast("long").as("n_obs"),
          sum(dec(col("cents"), 38, 0)).cast("double").as("sx"),
          // cents-squared sums pass 2^63 at sf0.1 — mirrored hi/lo
          // conversion (proactive, same class the sf0.1 sweep flagged).
          sum(dec(col("cents"), 38, 0) * dec(col("cents"), 38, 0)).as("sxx0"))
        .withColumn("sxx", dblBig("sxx0"))
        .withColumn("mean_cents", col("sx") / col("n_obs").cast("double"))
        .withColumn("var_cents", col("sxx") / col("n_obs").cast("double") -
          col("mean_cents") * col("mean_cents"))
      m.select(col("n_obs"), col("mean_cents"), col("var_cents"),
          explode(array(lit(0.01), lit(0.02), lit(0.05))).as("lift_frac"))
        .withColumn("delta", col("lift_frac") * col("mean_cents"))
        .withColumn("n_per_arm", ceil(
          lit(2.0) * (lit(1.959963984540054) + lit(0.8416212335729143)) *
            (lit(1.959963984540054) + lit(0.8416212335729143)) *
            col("var_cents") / (col("delta") * col("delta"))).cast("long"))
        .select(col("lift_frac"), col("n_obs"), col("mean_cents"),
          col("delta"), col("n_per_arm"))
        .orderBy(col("lift_frac"))
    },

    // Partial correlation of quantity and revenue controlling for
    // discount, from one scan of exact moments: does the qty–revenue
    // association survive removing the discount channel?
    "q_partial_corr" -> { (s, dir) =>
      val m = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("y"),
          expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("z"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(dec(col("x"), 38, 0)).cast("double").as("sx"),
          sum(dec(col("y"), 38, 0)).cast("double").as("sy"),
          sum(dec(col("z"), 38, 0)).cast("double").as("sz"),
          // Product sums (cents x cents reaches ~6e19 at sf0.1) convert
          // via the mirrored hi/lo split — past ~2^63 a bare double cast
          // diverges between engines (sf0.1 sweep, round 7).
          sum(dec(col("x"), 38, 0) * dec(col("y"), 38, 0)).as("sxy0"),
          sum(dec(col("x"), 38, 0) * dec(col("z"), 38, 0)).as("sxz0"),
          sum(dec(col("y"), 38, 0) * dec(col("z"), 38, 0)).as("syz0"),
          sum(dec(col("x"), 38, 0) * dec(col("x"), 38, 0)).as("sxx0"),
          sum(dec(col("y"), 38, 0) * dec(col("y"), 38, 0)).as("syy0"),
          sum(dec(col("z"), 38, 0) * dec(col("z"), 38, 0)).as("szz0"))
        .withColumn("sxy", dblBig("sxy0")).withColumn("sxz", dblBig("sxz0"))
        .withColumn("syz", dblBig("syz0")).withColumn("sxx", dblBig("sxx0"))
        .withColumn("syy", dblBig("syy0")).withColumn("szz", dblBig("szz0"))
      def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        (col("n").cast("double") * col(sab) - col(sa) * col(sb)) /
          sqrt((col("n").cast("double") * col(saa) - col(sa) * col(sa)) *
            (col("n").cast("double") * col(sbb) - col(sb) * col(sb)))
      m.withColumn("r_xy", r("sxy", "sx", "sy", "sxx", "syy"))
        .withColumn("r_xz", r("sxz", "sx", "sz", "sxx", "szz"))
        .withColumn("r_yz", r("syz", "sy", "sz", "syy", "szz"))
        .withColumn("partial_r_xy_z",
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
              (lit(1.0) - col("r_yz") * col("r_yz"))))
        .select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"),
          col("partial_r_xy_z"))
    },

    // Intraclass correlation of line revenue within orders (one-way
    // random effects, unequal group sizes): how much of line-price
    // variance is explained by which order it belongs to.
    "q_icc_orders" -> { (s, dir) =>
      val g = t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("l_orderkey"))
        // Sum-of-squares and S²/n terms in exact integer MEGA-cents²
        // (per-row/per-group integral division — identical truncation in
        // both engines). Unit choice is the oracle-parity rule, twice
        // over: (1) scaled-decimal sums diverge past 2^53 unscaled (the
        // q_twap trap); (2) even SCALE-0 sums diverge past ~2^63,
        // because DuckDB's HUGEINT→DOUBLE computes hi·2^64+lo in double
        // arithmetic (two roundings) while Java BigDecimal rounds once —
        // caught live at sf0.1, where Σcents² ≈ 2.2e19 > 2^64 differed
        // by one ulp. Mega-units keep the totals < 2^63 through sf1000.
        .agg(count(lit(1)).cast("long").as("ng"),
          sum(col("cents")).cast("long").as("sg"),
          sum(expr("CAST((CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) DIV 1000000 AS BIGINT)")).as("qg"))
        .withColumn("tg", expr(
          "CAST((CAST(sg AS DECIMAL(38,0)) * CAST(sg AS DECIMAL(38,0))) DIV (CAST(ng AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
      g.agg(count(lit(1)).cast("long").as("k_groups"),
          sum(col("ng")).cast("long").as("n_rows"),
          sum(col("sg")).cast("long").as("s_all"),
          sum(dec(col("ng"), 38, 0) * dec(col("ng"), 38, 0))
            .cast("double").as("snn"),
          (sum(dec(col("qg"), 38, 0)).cast("double") * 1e6).as("q_all"),
          (sum(dec(col("tg"), 38, 0)).cast("double") * 1e6).as("t_all"))
        .withColumn("ssb", col("t_all") -
          col("s_all").cast("double") * col("s_all").cast("double") /
            col("n_rows").cast("double"))
        .withColumn("ssw", col("q_all") - col("t_all"))
        .withColumn("msb", col("ssb") / (col("k_groups") - 1).cast("double"))
        .withColumn("msw", col("ssw") /
          (col("n_rows") - col("k_groups")).cast("double"))
        .withColumn("k0", (col("n_rows").cast("double") -
          col("snn") / col("n_rows").cast("double")) /
          (col("k_groups") - 1).cast("double"))
        .withColumn("icc", (col("msb") - col("msw")) /
          (col("msb") + (col("k0") - 1) * col("msw")))
        .select(col("k_groups"), col("n_rows"), col("msb"), col("msw"),
          col("k0"), col("icc"))
    },

    // Smoothed target encoding of order priority against order value:
    // enc = (S_c + m·μ)/(n_c + m) with prior weight m=20 — the
    // leakage-free categorical encoder, exact sums, one global prior.
    "q_target_encoding" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
      val global = o.agg((sum(dec(col("cents"), 38, 0)).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
      o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_c"),
          sum(col("cents")).cast("long").as("s_c"))
        .crossJoin(broadcast(global))
        .withColumn("mean_c", col("s_c").cast("double") / col("n_c").cast("double"))
        .withColumn("encoding",
          (col("s_c").cast("double") + lit(20.0) * col("mu")) /
            (col("n_c").cast("double") + lit(20.0)))
        .select(col("o_orderpriority"), col("n_c"), col("mean_c"),
          col("mu"), col("encoding"))
        .orderBy(col("o_orderpriority"))
    },

    // Degree CCDF of the co-purchase graph at power-of-two thresholds:
    // the log-log tail every "is this scale-free" argument starts from.
    "q_degree_ccdf" -> { (s, dir) =>
      // deg is referenced twice (threshold join + the n_nodes scalar):
      // one node-sized ckpt saves a full re-run of the edge dedup +
      // degree aggregation (round 11).
      val deg = Pipeline12.coEdges(t(s, dir, "lineitem"))
        .groupBy(col("src")).agg(count(lit(1)).cast("long").as("d"))
        .ckpt()
      val n = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      val grid = s.range(0, 11)
        .select(expr("shiftleft(1L, CAST(id AS INT))").as("t"))
      deg.join(broadcast(grid), col("d") >= col("t"))
        .groupBy(col("t"))
        .agg(count(lit(1)).cast("long").as("n_ge"))
        .crossJoin(broadcast(n))
        .withColumn("frac", col("n_ge").cast("double") /
          col("n_nodes").cast("double"))
        .select(col("t"), col("n_ge"), col("n_nodes"), col("frac"))
        .orderBy(col("t"))
    })

  val oracle: Map[String, String] = Map(
    "q_entropy_rate" ->
      """WITH e AS (SELECT user_id, event_type, LEAD(event_type, 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |tr AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |ot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_out
        |  FROM tr GROUP BY 1),
        |al AS (SELECT CAST(SUM(n_out) AS BIGINT) AS n_all FROM ot),
        |terms AS (SELECT tr.event_type, ot.n_out,
        |    CAST(-(CAST(tr.n AS DOUBLE) / CAST(ot.n_out AS DOUBLE))
        |      * LN(CAST(tr.n AS DOUBLE) / CAST(ot.n_out AS DOUBLE))
        |      AS DECIMAL(18,10)) AS h_term,
        |    CAST(-(CAST(tr.n AS DOUBLE) / CAST(al.n_all AS DOUBLE))
        |      * LN(CAST(tr.n AS DOUBLE) / CAST(ot.n_out AS DOUBLE))
        |      AS DECIMAL(18,10)) AS rate_term
        |  FROM tr JOIN ot ON ot.event_type = tr.event_type, al),
        |rt AS (SELECT CAST(SUM(rate_term) AS DOUBLE) AS entropy_rate
        |  FROM terms)
        |SELECT event_type, n_out, CAST(SUM(h_term) AS DOUBLE) AS h_cond,
        |  entropy_rate
        |FROM terms, rt GROUP BY event_type, n_out, entropy_rate
        |ORDER BY event_type""".stripMargin,
    "q_friendship_paradox" ->
      s"""WITH ${Pipeline12.cappedEdgeSql},
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(d) AS BIGINT) AS sd,
        |    CAST(SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE)
        |      AS sdd
        |  FROM deg)
        |SELECT n_nodes,
        |  CAST(sd AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS mean_degree,
        |  sdd / CAST(sd AS DOUBLE) AS mean_neighbor_degree,
        |  (sdd / CAST(sd AS DOUBLE))
        |    / (CAST(sd AS DOUBLE) / CAST(n_nodes AS DOUBLE)) AS paradox_ratio
        |FROM a""".stripMargin,
    "q_bloom_sizing" ->
      """WITH n AS (SELECT CAST(COUNT(DISTINCT MD5(text)) AS BIGINT)
        |    AS n_keys FROM documents),
        |g AS (SELECT UNNEST([0.1, 0.01, 0.001, 0.0001]) AS target_fpr),
        |s AS (SELECT target_fpr, n_keys,
        |    CAST(CEIL(-CAST(n_keys AS DOUBLE) * LN(target_fpr)
        |      / (LN(2.0) * LN(2.0))) AS BIGINT) AS m_bits
        |  FROM n, g)
        |SELECT target_fpr, n_keys, m_bits,
        |  CAST(ROUND(CAST(m_bits AS DOUBLE) / CAST(n_keys AS DOUBLE)
        |    * LN(2.0)) AS BIGINT) AS k_hashes,
        |  CAST(m_bits AS DOUBLE) / CAST(n_keys AS DOUBLE) AS bits_per_key
        |FROM s ORDER BY target_fpr DESC""".stripMargin,
    "q_power_analysis" ->
      s"""WITH m0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |      AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT))
        |      AS sxx0
        |  FROM orders),
        |m AS (SELECT n_obs, sx, ${dblBigSql("sxx0")} AS sxx FROM m0),
        |v AS (SELECT n_obs, sx / CAST(n_obs AS DOUBLE) AS mean_cents,
        |    sxx / CAST(n_obs AS DOUBLE)
        |      - (sx / CAST(n_obs AS DOUBLE)) * (sx / CAST(n_obs AS DOUBLE))
        |      AS var_cents
        |  FROM m),
        |g AS (SELECT UNNEST([0.01, 0.02, 0.05]) AS lift_frac)
        |SELECT lift_frac, n_obs, mean_cents,
        |  lift_frac * mean_cents AS delta,
        |  CAST(CEIL(2.0 * (1.959963984540054 + 0.8416212335729143)
        |    * (1.959963984540054 + 0.8416212335729143) * var_cents
        |    / ((lift_frac * mean_cents) * (lift_frac * mean_cents)))
        |    AS BIGINT) AS n_per_arm
        |FROM v, g ORDER BY lift_frac""".stripMargin,
    "q_partial_corr" ->
      s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS z
        |  FROM lineitem),
        |m0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(z AS HUGEINT)) AS DOUBLE) AS sz,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy0,
        |    SUM(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)) AS sxz0,
        |    SUM(CAST(y AS HUGEINT) * CAST(z AS HUGEINT)) AS syz0,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx0,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy0,
        |    SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz0
        |  FROM b),
        |m AS (SELECT n, sx, sy, sz, ${dblBigSql("sxy0")} AS sxy,
        |    ${dblBigSql("sxz0")} AS sxz, ${dblBigSql("syz0")} AS syz,
        |    ${dblBigSql("sxx0")} AS sxx, ${dblBigSql("syy0")} AS syy,
        |    ${dblBigSql("szz0")} AS szz
        |  FROM m0),
        |r AS (SELECT n,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r_xy,
        |    (CAST(n AS DOUBLE) * sxz - sx * sz)
        |      / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
        |        * (CAST(n AS DOUBLE) * szz - sz * sz)) AS r_xz,
        |    (CAST(n AS DOUBLE) * syz - sy * sz)
        |      / SQRT((CAST(n AS DOUBLE) * syy - sy * sy)
        |        * (CAST(n AS DOUBLE) * szz - sz * sz)) AS r_yz
        |  FROM m)
        |SELECT n, r_xy, r_xz, r_yz,
        |  (r_xy - r_xz * r_yz)
        |    / SQRT((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
        |    AS partial_r_xy_z
        |FROM r""".stripMargin,
    "q_icc_orders" ->
      """WITH g AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sg,
        |    CAST(SUM((CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT))
        |      // 1000000) AS BIGINT) AS qg
        |  FROM lineitem GROUP BY 1),
        |g2 AS (SELECT *, CAST((CAST(sg AS HUGEINT) * CAST(sg AS HUGEINT))
        |      // (CAST(ng AS HUGEINT) * 1000000) AS BIGINT) AS tg
        |  FROM g),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(ng) AS BIGINT) AS n_rows,
        |    CAST(SUM(sg) AS BIGINT) AS s_all,
        |    CAST(SUM(CAST(ng AS HUGEINT) * CAST(ng AS HUGEINT)) AS DOUBLE)
        |      AS snn,
        |    CAST(SUM(CAST(qg AS HUGEINT)) AS DOUBLE) * 1e6 AS q_all,
        |    CAST(SUM(CAST(tg AS HUGEINT)) AS DOUBLE) * 1e6 AS t_all
        |  FROM g2),
        |b AS (SELECT k_groups, n_rows,
        |    (t_all - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |      / CAST(n_rows AS DOUBLE)) / CAST(k_groups - 1 AS DOUBLE) AS msb,
        |    (q_all - t_all) / CAST(n_rows - k_groups AS DOUBLE) AS msw,
        |    (CAST(n_rows AS DOUBLE) - snn / CAST(n_rows AS DOUBLE))
        |      / CAST(k_groups - 1 AS DOUBLE) AS k0
        |  FROM a)
        |SELECT k_groups, n_rows, msb, msw, k0,
        |  (msb - msw) / (msb + (k0 - 1) * msw) AS icc
        |FROM b""".stripMargin,
    "q_target_encoding" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |gl AS (SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mu
        |  FROM o),
        |c AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_c,
        |    CAST(SUM(cents) AS BIGINT) AS s_c
        |  FROM o GROUP BY 1)
        |SELECT o_orderpriority, n_c,
        |  CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS mean_c, mu,
        |  (CAST(s_c AS DOUBLE) + 20.0 * mu) / (CAST(n_c AS DOUBLE) + 20.0)
        |    AS encoding
        |FROM c, gl ORDER BY o_orderpriority""".stripMargin,
    "q_degree_ccdf" ->
      s"""WITH ${Pipeline12.cappedEdgeSql},
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
        |grid AS (SELECT CAST(1 << i AS BIGINT) AS t
        |  FROM (SELECT UNNEST(GENERATE_SERIES(0, 10)) AS i) s)
        |SELECT t, CAST(COUNT(*) AS BIGINT) AS n_ge, n_nodes,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS frac
        |FROM deg JOIN grid ON deg.d >= grid.t, n
        |GROUP BY t, n_nodes ORDER BY t""".stripMargin)
}
