package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Seventeenth batch: storage-layout analytics, experiment-analysis
  * machinery, and entity resolution.
  *
  * Scale design:
  *  - Zone-map pruning is a SIMULATOR for the min/max (BRIN) indexes a
  *    100 TB lakehouse keeps per row-group: the per-zone min/max frame is
  *    a keyed aggregation over zone ids (at real scale it is parquet
  *    footer metadata, read without touching data), and the verdict per
  *    layout is a ~600-row frame — the query quantifies WHY sort order
  *    matters before anyone pays for a rewrite.
  *  - CUPED runs entirely on exact integer cents: per-user pre/post sums
  *    are one keyed aggregation, and θ plus the per-arm variance report
  *    come from second-moment sums (Σx, Σy, Σx², Σxy, Σy²) in
  *    DECIMAL(38,0) — five numbers per arm, no row-level residual pass,
  *    identical in any engine at any data size.
  *  - Record linkage blocks candidate pairs by nation (the classic
  *    blocking-key move: |pairs| = Σ_b n_b², never N²), scores with
  *    integer field-agreement weights, and picks each left record's best
  *    match with one window — the Fellegi–Sunter shape with the
  *    probabilities replaced by fixed weights.
  *  - Calibration bins come from a rank (not raw doubles), so every
  *    downstream stat — mean predicted score, empirical positive rate,
  *    per-bin Brier term — is a ratio of exact integer sums; the only
  *    doubles are final divisions.
  *  - IPF raking never leaves integer space: weights live in micro-units
  *    (w × 1e6 as BIGINT), margin scalings are integer DIV, and both
  *    engines replay the identical four half-steps on a ≤|nations×segments|
  *    cell frame (the aggregation to cells is the only data-sized pass).
  */
object Pipeline17 extends Batch {

  /** Zone size for the zone-map simulator — small enough that sf0.001
    * still yields several zones, large enough that sf0.1 stays ~600. */
  private val ZoneRows = 1024

  val queries: Map[String, Q] = Map(
    // Zone-map (BRIN) pruning effectiveness: per-zone min/max of
    // l_shipdate under two physical layouts — insertion order vs
    // shipdate-sorted — scored against a one-month predicate. The
    // scan-fraction gap is the argument for sorting 100 TB by ship date.
    "q_zonemap_prune" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-02-01").cast("timestamp")
      def layout(name: String, orderCols: Seq[String]) = {
        // Global row position via the range-partitioned two-phase rank
        // (OrderStats.running), not a single-partition window — this is
        // a full-table numbering, exactly the shape that dies at scale
        // under Window.orderBy with no partition spec.
        val zoned = graft.operators.OrderStats
          .running(li, orderCols.map(col), Some("rn1"))
          .withColumn("rn", col("rn1") - 1)
          .withColumn("zone", expr(s"rn DIV $ZoneRows"))
        zoned.groupBy(col("zone"))
          .agg(min(col("l_shipdate")).as("z_min"),
            max(col("l_shipdate")).as("z_max"),
            count(lit(1)).cast("long").as("z_rows"),
            sum(when(col("l_shipdate") >= lo && col("l_shipdate") < hi, 1L)
              .otherwise(0L)).cast("long").as("z_match"))
          .agg(count(lit(1)).cast("long").as("n_zones"),
            sum(when(col("z_max") < lo || col("z_min") >= hi, 1L)
              .otherwise(0L)).cast("long").as("n_pruned"),
            sum(when(col("z_max") < lo || col("z_min") >= hi, 0L)
              .otherwise(col("z_rows"))).cast("long").as("rows_scanned"),
            sum(col("z_match")).cast("long").as("rows_matched"),
            sum(col("z_rows")).cast("long").as("rows_total"))
          .select(lit(name).as("layout"), col("n_zones"), col("n_pruned"),
            col("rows_scanned"), col("rows_matched"),
            (col("rows_scanned").cast("double") /
              col("rows_total").cast("double")).as("scan_frac"))
      }
      layout("natural", Seq("l_orderkey", "l_linenumber"))
        .unionAll(layout("shipdate",
          Seq("l_shipdate", "l_orderkey", "l_linenumber")))
        .orderBy(col("layout"))
    },

    // CUPED variance reduction: arm = user_id parity, pre-period covariate
    // x = cents before Jan 16, outcome y = cents after; pooled
    // θ = cov(x,y)/var(x); report per-arm raw vs adjusted variance. All
    // moments are exact decimal sums of integer cents.
    "q_cuped" -> { (s, dir) =>
      val cut = lit("2024-01-16").cast("timestamp")
      val per = t(s, dir, "events")
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          (col("ts") < cut).as("pre"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("pre"), col("cents")).otherwise(0L))
            .cast("long").as("x"),
          sum(when(!col("pre"), col("cents")).otherwise(0L))
            .cast("long").as("y"))
        .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
      // Pooled second moments → θ (population covariance / variance).
      val pool = per.agg(count(lit(1)).cast("long").as("n"),
        sum(dec(col("x"), 38, 0)).as("sx"),
        sum(dec(col("y"), 38, 0)).as("sy"),
        sum(dec(col("x"), 38, 0) * dec(col("x"), 38, 0)).as("sxx"),
        sum(dec(col("x"), 38, 0) * dec(col("y"), 38, 0)).as("sxy"))
      // Zero pre-period variance (e.g. no pre-period events at all):
      // θ is undefined → NULL, not an ANSI crash (fuzz sweep, round 7);
      // NULL propagates into the adjusted columns, raw ones stay exact.
      val varx = col("sxx").cast("double") - col("sx").cast("double") *
        col("sx").cast("double") / col("n").cast("double")
      val theta = pool.select(
        when(varx === 0.0, lit(null).cast("double"))
          .otherwise(
            (col("sxy").cast("double") - col("sx").cast("double") *
              col("sy").cast("double") / col("n").cast("double")) / varx)
          .as("theta"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu_x"))
      val arms = per.groupBy(col("arm"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(dec(col("x"), 38, 0)).as("sx"),
          sum(dec(col("y"), 38, 0)).as("sy"),
          sum(dec(col("x"), 38, 0) * dec(col("x"), 38, 0)).as("sxx"),
          sum(dec(col("x"), 38, 0) * dec(col("y"), 38, 0)).as("sxy"),
          sum(dec(col("y"), 38, 0) * dec(col("y"), 38, 0)).as("syy"))
      arms.crossJoin(broadcast(theta))
        .select(col("arm"), col("n_users"), col("theta"),
          (col("sy").cast("double") / col("n_users").cast("double"))
            .as("mean_y"),
          ((col("sy").cast("double") - col("theta") *
            (col("sx").cast("double") - col("mu_x") *
              col("n_users").cast("double"))) /
            col("n_users").cast("double")).as("mean_y_adj"),
          (col("syy").cast("double") / col("n_users").cast("double") -
            (col("sy").cast("double") / col("n_users").cast("double")) *
            (col("sy").cast("double") / col("n_users").cast("double")))
            .as("var_y"),
          ((col("syy").cast("double") / col("n_users").cast("double") -
            (col("sy").cast("double") / col("n_users").cast("double")) *
            (col("sy").cast("double") / col("n_users").cast("double"))) -
           lit(2.0) * col("theta") *
            (col("sxy").cast("double") / col("n_users").cast("double") -
             (col("sx").cast("double") / col("n_users").cast("double")) *
             (col("sy").cast("double") / col("n_users").cast("double"))) +
           col("theta") * col("theta") *
            (col("sxx").cast("double") / col("n_users").cast("double") -
             (col("sx").cast("double") / col("n_users").cast("double")) *
             (col("sx").cast("double") / col("n_users").cast("double"))))
            .as("var_y_adj"))
        .orderBy(col("arm"))
    },

    // Record linkage with blocking: customers vs a deterministically
    // perturbed copy (case-folded names, shifted balances, dropped
    // segments), candidate pairs within nation blocks, integer agreement
    // score (name 4 / segment 2 / balance 1), best-match-per-left via one
    // window, then a per-score quality summary: how many links, how many
    // correct.
    "q_record_linkage" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val left = cust.select(col("c_custkey").as("lk"),
        col("c_nationkey").cast("long").as("ln"),
        col("c_name").as("lname"), col("c_mktsegment").as("lseg"),
        round(col("c_acctbal") * 100).cast("long").as("lbal"))
      val right = cust.select(col("c_custkey").as("rk"),
        col("c_nationkey").cast("long").as("rn"),
        when(pmod(col("c_custkey"), lit(4)) === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("rname"),
        when(pmod(col("c_custkey"), lit(11)) === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("rseg"),
        (round(col("c_acctbal") * 100).cast("long") +
          when(pmod(col("c_custkey"), lit(7)) === 0, 25L).otherwise(0L))
          .as("rbal"))
      // The published filter keeps only score >= 4, and the name term is
      // the ONLY way to reach 4 (segment 2 + balance 1 max out at 3) —
      // so blocking on (nation, case-folded name) is EXACTLY equivalent
      // to nation-only blocking here, and turns Σ|block|² candidate
      // pairs (quadratic in per-nation population) into a hash equi-join
      // whose fan-out is the name-collision rate. This is the blocking
      // key a 100 TB linkage job needs; the nation-block variant dies at
      // a few million customers per nation.
      val scored = left.join(right,
          col("ln") === col("rn") &&
            lower(col("lname")) === lower(col("rname")))
        .withColumn("score",
          lit(4L) +
          when(col("lseg") === col("rseg"), 2L).otherwise(0L) +
          when(abs(col("lbal") - col("rbal")) <= 100L, 1L).otherwise(0L))
      val best = scored.withColumn("pick", row_number().over(
          Window.partitionBy(col("lk"))
            .orderBy(col("score").desc, col("rk"))))
        .filter(col("pick") === 1)
      best.groupBy(col("score"))
        .agg(count(lit(1)).cast("long").as("n_links"),
          sum(when(col("lk") === col("rk"), 1L).otherwise(0L))
            .cast("long").as("n_correct"))
        .withColumn("link_precision",
          col("n_correct").cast("double") / col("n_links").cast("double"))
        .orderBy(col("score"))
    },

    // Model-calibration report: "model score" = rank of o_totalprice
    // (normalized), label = finished order; 10 rank-deciles, each with
    // mean predicted score, empirical positive rate, and Brier term —
    // every stat a ratio of exact integer sums.
    "q_calibration" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("label"))
      // Global score rank via the range-partitioned two-phase numbering;
      // the total count rides in as a broadcast 1-row aggregate instead
      // of an unpartitioned whole-frame window.
      val nrow = broadcast(o.agg(count(lit(1)).cast("long").as("n")))
      val ranked = graft.operators.OrderStats.running(
          o, Seq(col("o_totalprice"), col("o_orderkey")), Some("r1"))
        .withColumn("r", col("r1") - 1)
        .crossJoin(nrow)
        .withColumn("bin", expr("r * 10 DIV n"))
      ranked.groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n_bin"),
          sum(dec(col("r"), 38, 0)).as("sr"),
          sum(col("label")).cast("long").as("n_pos"),
          sum(dec((col("r") - col("label") * (col("n") - 1)) *
            (col("r") - col("label") * (col("n") - 1)), 38, 0)).as("sq"),
          max(col("n")).as("n"))
        .select(col("bin"), col("n_bin"),
          (col("sr").cast("double") /
            (col("n_bin").cast("double") * (col("n") - 1).cast("double")))
            .as("mean_score"),
          (col("n_pos").cast("double") / col("n_bin").cast("double"))
            .as("frac_pos"),
          (col("sq").cast("double") /
            (col("n_bin").cast("double") * (col("n") - 1).cast("double") *
              (col("n") - 1).cast("double"))).as("brier"))
        .orderBy(col("bin"))
    },

    // Survey raking (iterative proportional fitting, 2 rounds): reweight a
    // 1-in-3 customer sample so nation and segment margins match the full
    // population. Weights are exact integer micro-units updated by integer
    // DIV — bit-identical across engines — and the report shows per-cell
    // sample size, population size, and the raked weight.
    "q_ipf_raking" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"))
      val cells = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).cast("long").as("n_samp"))
      val popN = cust.groupBy(col("nat"))
        .agg(count(lit(1)).cast("long").as("pop_nat"))
      val popS = cust.groupBy(col("seg"))
        .agg(count(lit(1)).cast("long").as("pop_seg"))
      val popCell = cust.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).cast("long").as("n_pop"))
      val raked = cells
        .join(broadcast(popN), Seq("nat"))
        .join(broadcast(popS), Seq("seg"))
        // w in micro-units; four IPF half-steps, all integer arithmetic.
        // Margin sums stay in micro-units (NO inner truncation — a per-term
        // DIV loses whole units when cells hold 1-2 samples) so the scale
        // factor is exact to 1e-6: f = pop*1e12 DIV Σ(n·w_micros). Fits in
        // a long through sf10 (pop*1e12 ≲ 1.5e18).
        .withColumn("w", lit(1000000L))
        .withColumn("w", expr(
          "w * (pop_nat * 1000000000000L DIV sum(n_samp * w) OVER " +
            "(PARTITION BY nat)) DIV 1000000L"))
        .withColumn("w", expr(
          "w * (pop_seg * 1000000000000L DIV sum(n_samp * w) OVER " +
            "(PARTITION BY seg)) DIV 1000000L"))
        .withColumn("w", expr(
          "w * (pop_nat * 1000000000000L DIV sum(n_samp * w) OVER " +
            "(PARTITION BY nat)) DIV 1000000L"))
        .withColumn("w", expr(
          "w * (pop_seg * 1000000000000L DIV sum(n_samp * w) OVER " +
            "(PARTITION BY seg)) DIV 1000000L"))
      raked.join(popCell, Seq("nat", "seg"), "left")
        .select(col("nat"), col("seg"), col("n_samp"),
          coalesce(col("n_pop"), lit(0L)).as("n_pop"),
          (col("w").cast("double") / lit(1000000.0)).as("weight"),
          (col("n_samp") * col("w")).cast("long").as("weighted_micro"))
        .orderBy(col("nat"), col("seg"))
    })

  val oracle: Map[String, String] = Map(
    "q_zonemap_prune" -> {
      // Window-in-GROUP-BY is awkward in both engines: compute the zone id
      // in a subquery, aggregate per zone, then score the zone frame.
      def layout2(name: String, order: String) =
        s"""SELECT '$name' AS layout,
           |  CAST(COUNT(*) AS BIGINT) AS n_zones,
           |  CAST(SUM(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pruned,
           |  CAST(SUM(CASE WHEN pruned THEN 0 ELSE z_rows END) AS BIGINT)
           |    AS rows_scanned,
           |  CAST(SUM(z_match) AS BIGINT) AS rows_matched,
           |  CAST(SUM(CASE WHEN pruned THEN 0 ELSE z_rows END) AS DOUBLE) /
           |    CAST(SUM(z_rows) AS DOUBLE) AS scan_frac
           |FROM (SELECT zone,
           |    MAX(l_shipdate) < TIMESTAMP '1997-01-01'
           |      OR MIN(l_shipdate) >= TIMESTAMP '1997-02-01' AS pruned,
           |    CAST(COUNT(*) AS BIGINT) AS z_rows,
           |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
           |      AND l_shipdate < TIMESTAMP '1997-02-01' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS z_match
           |  FROM (SELECT l_shipdate,
           |      ((ROW_NUMBER() OVER (ORDER BY $order)) - 1) // 1024 AS zone
           |    FROM lineitem) r GROUP BY zone) z""".stripMargin
      layout2("natural", "l_orderkey, l_linenumber") + "\nUNION ALL\n" +
        layout2("shipdate", "l_shipdate, l_orderkey, l_linenumber") +
        "\nORDER BY layout"
    },
    "q_cuped" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY user_id),
        |pool AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        |  FROM per),
        |th AS (SELECT
        |    CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |        * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) = 0.0 THEN NULL
        |      ELSE (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |        / CAST(n AS DOUBLE)) /
        |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |        / CAST(n AS DOUBLE)) END AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu_x FROM pool),
        |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
        |  FROM per GROUP BY arm)
        |SELECT arm, n_users, theta,
        |  CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
        |  (CAST(sy AS DOUBLE) - theta * (CAST(sx AS DOUBLE) - mu_x *
        |    CAST(n_users AS DOUBLE))) / CAST(n_users AS DOUBLE)
        |    AS mean_y_adj,
        |  CAST(syy AS DOUBLE) / CAST(n_users AS DOUBLE) -
        |    (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)) *
        |    (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)) AS var_y,
        |  (CAST(syy AS DOUBLE) / CAST(n_users AS DOUBLE) -
        |    (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)) *
        |    (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE))) -
        |  2.0 * theta * (CAST(sxy AS DOUBLE) / CAST(n_users AS DOUBLE) -
        |    (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE)) *
        |    (CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE))) +
        |  theta * theta *
        |    (CAST(sxx AS DOUBLE) / CAST(n_users AS DOUBLE) -
        |    (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE)) *
        |    (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE))) AS var_y_adj
        |FROM arms CROSS JOIN th ORDER BY arm""".stripMargin,
    "q_record_linkage" ->
      """WITH l AS (SELECT c_custkey AS lk,
        |    CAST(c_nationkey AS BIGINT) AS ln, c_name AS lname,
        |    c_mktsegment AS lseg,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS lbal FROM customer),
        |r AS (SELECT c_custkey AS rk, CAST(c_nationkey AS BIGINT) AS rn,
        |    CASE WHEN c_custkey % 4 = 0 THEN UPPER(c_name) ELSE c_name END
        |      AS rname,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'UNKNOWN'
        |      ELSE c_mktsegment END AS rseg,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) +
        |      CASE WHEN c_custkey % 7 = 0 THEN 25 ELSE 0 END AS rbal
        |  FROM customer),
        |sc AS (SELECT lk, rk,
        |    CAST(CASE WHEN LOWER(lname) = LOWER(rname) THEN 4 ELSE 0 END +
        |      CASE WHEN lseg = rseg THEN 2 ELSE 0 END +
        |      CASE WHEN ABS(lbal - rbal) <= 100 THEN 1 ELSE 0 END
        |      AS BIGINT) AS score
        |  FROM l JOIN r ON ln = rn),
        |best AS (SELECT lk, rk, score, ROW_NUMBER() OVER
        |    (PARTITION BY lk ORDER BY score DESC, rk) AS pick FROM sc)
        |SELECT score, CAST(COUNT(*) AS BIGINT) AS n_links,
        |  CAST(SUM(CASE WHEN lk = rk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST(SUM(CASE WHEN lk = rk THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS link_precision
        |FROM best WHERE pick = 1 AND score >= 4
        |GROUP BY score ORDER BY score""".stripMargin,
    "q_calibration" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS label FROM orders),
        |rk AS (SELECT label,
        |    CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1
        |      AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n FROM o)
        |SELECT CAST(r * 10 // n AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_bin,
        |  CAST(SUM(CAST(r AS DECIMAL(38,0))) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(n) - 1 AS DOUBLE))
        |    AS mean_score,
        |  CAST(SUM(label) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
        |  CAST(SUM(CAST((r - label * (n - 1)) * (r - label * (n - 1))
        |      AS DECIMAL(38,0))) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(n) - 1 AS DOUBLE) *
        |      CAST(MAX(n) - 1 AS DOUBLE)) AS brier
        |FROM rk GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_ipf_raking" ->
      """WITH cust AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg FROM customer),
        |cells AS (SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n_samp
        |  FROM cust WHERE c_custkey % 3 = 0 GROUP BY nat, seg),
        |pn AS (SELECT nat, CAST(COUNT(*) AS BIGINT) AS pop_nat
        |  FROM cust GROUP BY nat),
        |ps AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS pop_seg
        |  FROM cust GROUP BY seg),
        |pc AS (SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n_pop
        |  FROM cust GROUP BY nat, seg),
        |w0 AS (SELECT cells.*, pop_nat, pop_seg,
        |    CAST(1000000 AS BIGINT) AS w
        |  FROM cells JOIN pn USING (nat) JOIN ps USING (seg)),
        |w1 AS (SELECT * REPLACE (CAST(w * (pop_nat * 1000000000000 //
        |    SUM(n_samp * w) OVER (PARTITION BY nat)) // 1000000 AS BIGINT)
        |    AS w) FROM w0),
        |w2 AS (SELECT * REPLACE (CAST(w * (pop_seg * 1000000000000 //
        |    SUM(n_samp * w) OVER (PARTITION BY seg)) // 1000000 AS BIGINT)
        |    AS w) FROM w1),
        |w3 AS (SELECT * REPLACE (CAST(w * (pop_nat * 1000000000000 //
        |    SUM(n_samp * w) OVER (PARTITION BY nat)) // 1000000 AS BIGINT)
        |    AS w) FROM w2),
        |w4 AS (SELECT * REPLACE (CAST(w * (pop_seg * 1000000000000 //
        |    SUM(n_samp * w) OVER (PARTITION BY seg)) // 1000000 AS BIGINT)
        |    AS w) FROM w3)
        |SELECT nat, seg, n_samp, COALESCE(n_pop, 0) AS n_pop,
        |  CAST(w AS DOUBLE) / 1000000.0 AS weight,
        |  CAST(n_samp * w AS BIGINT) AS weighted_micro
        |FROM w4 LEFT JOIN pc USING (nat, seg)
        |ORDER BY nat, seg""".stripMargin)
}
