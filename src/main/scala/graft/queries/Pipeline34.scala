package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.OrderStats
import Qs._

/** Thirty-fourth batch: merchandising and survival analytics — ABC
  * revenue classification, Laspeyres/Paasche price indices, the
  * Kaplan–Meier product-limit survival curve, Hill diversity numbers of
  * the monthly part mix, the dispersion index of daily demand, and
  * association-rule lift over co-purchased part pairs.
  *
  * Scale design notes (100 TB):
  *  - q_abc_class pays one range shuffle (OrderStats over the per-part
  *    revenue frame) and classifies with exact integer boundary tests
  *    (100·cum vs 80·total), then reduces to 3 rows.
  *  - q_price_index joins consecutive months on the part key — the
  *    common-basket terms are per-(month, part) aggregates, one shuffle
  *    each side, rounded-decimal term sums.
  *  - q_kaplan_meier rides the SAME fused at-risk pass as
  *    q_survival_hazard; the log-term cumulative is a second
  *    boundedInput pass over the ≤few-thousand-row distinct-lifetime
  *    frame (two one-task prefix scans total, no unbounded window).
  *  - q_hill_numbers / q_dispersion are keyed aggregates with
  *    decimal-rounded entropy terms — nothing downstream exceeds
  *    |months| / 1 row.
  *  - q_lift_rules reuses the distinct-items order join (pair space
  *    bounded by per-order line counts), then broadcasts per-part order
  *    counts back onto the top pairs.
  */
object Pipeline34 extends Batch {

  val queries: Map[String, Q] = Map(
    // ABC inventory classification: parts ranked by revenue; A = first
    // 80% of cumulative revenue, B = next 15%, C = tail. Boundary tests
    // in exact integers (100·cum ≤ 80·total), never fractional shares.
    "q_abc_class" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      val ranked = OrderStats.running(rev,
        Seq(col("cents").desc, col("l_partkey")), None,
        cumLong = Seq(("cents", "cum")))
      val total = rev.agg(sum(dec(col("cents"), 38, 0)).cast(DecimalType(38, 0))
        .as("t_all"))
      ranked.crossJoin(broadcast(total))
        .withColumn("abc_class",
          when(dec(col("cum"), 38, 0) * 100 <= col("t_all") * 80, "A")
            .when(dec(col("cum"), 38, 0) * 100 <= col("t_all") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          sum(col("cents")).cast("long").as("revenue_cents"))
        .crossJoin(broadcast(total))
        .withColumn("rev_share", col("revenue_cents").cast("double") /
          col("t_all").cast("double"))
        .select(col("abc_class"), col("n_parts"), col("revenue_cents"),
          col("rev_share"))
        .orderBy(col("abc_class"))
    },

    // Laspeyres (base-quantity) and Paasche (current-quantity) price
    // indices between consecutive months over the common part basket,
    // from per-(month, part) unit values.
    "q_price_index" -> { (s, dir) =>
      val mp = t(s, dir, "lineitem")
        .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("m"), col("l_partkey"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .withColumn("p", col("cents").cast("double") / col("qty").cast("double"))
      mp.as("a")
        .join(mp.as("b"), col("b.m") === col("a.m") + 1 &&
          col("b.l_partkey") === col("a.l_partkey"))
        // terms as exact longs in 1e-4-cent units: scale-0 sums convert
        // to double identically in both engines at any magnitude, where
        // a scale-10 decimal sum does not (the q_twap trap)
        .select(col("a.m").as("month_a"), col("b.m").as("month_b"),
          round(col("b.p") * col("a.qty").cast("double") * 1e4).cast("long")
            .as("p1q0"),
          round(col("a.p") * col("a.qty").cast("double") * 1e4).cast("long")
            .as("p0q0"),
          round(col("b.p") * col("b.qty").cast("double") * 1e4).cast("long")
            .as("p1q1"),
          round(col("a.p") * col("b.qty").cast("double") * 1e4).cast("long")
            .as("p0q1"))
        .groupBy(col("month_a"), col("month_b"))
        .agg(count(lit(1)).cast("long").as("n_common"),
          (sum(dec(col("p1q0"), 38, 0)).cast("double") /
            sum(dec(col("p0q0"), 38, 0)).cast("double")).as("laspeyres"),
          (sum(dec(col("p1q1"), 38, 0)).cast("double") /
            sum(dec(col("p0q1"), 38, 0)).cast("double")).as("paasche"))
        .orderBy(col("month_a"))
    },

    // Kaplan–Meier product-limit survival of user lifetimes (same
    // censoring convention and fused at-risk pass as q_survival_hazard):
    // S(t) = Π_{death days ≤ t} (1 − d/n), realized as exp of a
    // decimal-rounded log-sum so the product is order-independent.
    "q_kaplan_meier" -> { (s, dir) =>
      val life = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(((unix_timestamp(max(col("ts"))) -
          unix_timestamp(min(col("ts")))) / 86400).cast("long").as("d"))
        .withColumn("observed",
          when(pmod(col("user_id"), lit(4)) =!= 0, 1L).otherwise(0L))
      val per = life.groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("observed")).cast("long").as("deaths"))
      val risk = OrderStats.running(per, Seq(col("d")), None,
        cumDesc = Seq("cnt" -> "n_risk"), boundedInput = true)
      // log term in 1e-10 units as an exact long; the absorbing row
      // (deaths = n_risk, only possible on the last death day) carries 0
      // and is patched to survival 0 on output.
      val steps = risk.filter(col("deaths") > 0)
        .withColumn("term_e10",
          when(col("deaths") < col("n_risk"),
            round(log(lit(1.0) - col("deaths").cast("double") /
              col("n_risk").cast("double")) * 1e10).cast("long"))
            .otherwise(0L))
      val km = OrderStats.running(steps, Seq(col("d")), None,
        cumLong = Seq(("term_e10", "cum_e10")), boundedInput = true)
      km.withColumn("survival",
          when(col("deaths") < col("n_risk"),
            exp(col("cum_e10").cast("double") / lit(1e10))
              .cast(DecimalType(18, 6)).cast("double"))
            .otherwise(lit(0.0)))
        .select(col("d").as("d_days"), col("deaths"), col("n_risk"),
          col("survival"))
        .orderBy(col("d_days"))
    },

    // Hill diversity numbers of the monthly part-revenue mix: N0 =
    // richness, N1 = exp(Shannon), N2 = inverse Simpson. The "effective
    // catalog size" triple every assortment planner reads.
    "q_hill_numbers" -> { (s, dir) =>
      val mp = t(s, dir, "lineitem")
        .groupBy((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("m"), col("l_partkey"))
        .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      val tot = mp.groupBy(col("m"))
        .agg(sum(dec(col("cents"), 38, 0)).cast(DecimalType(38, 0)).as("tc"))
      mp.join(broadcast(tot), Seq("m"))
        .withColumn("pr", col("cents").cast("double") / col("tc").cast("double"))
        .withColumn("h_term", (-col("pr") * log(col("pr")))
          .cast(DecimalType(18, 10)))
        .withColumn("s_term", (col("pr") * col("pr")).cast(DecimalType(18, 10)))
        .groupBy(col("m"))
        .agg(count(lit(1)).cast("long").as("n0"),
          exp(sum(col("h_term")).cast("double")).cast(DecimalType(18, 6))
            .cast("double").as("n1"),
          (lit(1.0) / sum(col("s_term")).cast("double"))
            .cast(DecimalType(18, 6)).cast("double").as("n2"))
        .withColumn("evenness", col("n1") / col("n0").cast("double"))
        .select(col("m"), col("n0"), col("n1"), col("n2"), col("evenness"))
        .orderBy(col("m"))
    },

    // Dispersion (variance-to-mean) index of daily order counts — the
    // "is demand Poisson" overdispersion check, from exact moments.
    "q_dispersion" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate"))
        .agg(count(lit(1)).cast("long").as("c"))
      daily.agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("c")).cast("long").as("sc"),
          sum(dec(col("c"), 38, 0) * dec(col("c"), 38, 0)).cast("double")
            .as("scc"))
        .withColumn("mean_cnt", col("sc").cast("double") /
          col("n_days").cast("double"))
        .withColumn("var_cnt", col("scc") / col("n_days").cast("double") -
          col("mean_cnt") * col("mean_cnt"))
        .withColumn("dispersion_index", col("var_cnt") / col("mean_cnt"))
        .select(col("n_days"), col("mean_cnt"), col("var_cnt"),
          col("dispersion_index"))
    },

    // Association rules over co-purchased part pairs: support,
    // directional confidences, and lift for the top-50 pairs by lift
    // (min support 3 orders; ranked on the exactly-computed double).
    "q_lift_rules" -> { (s, dir) =>
      // items is referenced 4× (nOrders, perPart, both pair-join sides)
      // and filter/schema asymmetry defeats exchange reuse (lineitem
      // scans 3×), but materializing it was measured FLAT-TO-WORSE at
      // BOTH decades (sf0.1 AND ×10 A/B, ledger r11b-*: wall 1.02×,
      // CPU +7% at sf1): the duplicate passes are narrow column-pruned
      // scans + map-side-combined distincts that cost less than the
      // checkpoint barrier + block serde ×4. Left shared-by-reuse.
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val nOrders = items.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).cast("long").as("n_orders"))
      val perPart = items.groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("n_part"))
      val pairs = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("p_a"))
        .join(items.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("p_b")),
          col("ok") === col("ok_b") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b"))
        .agg(count(lit(1)).cast("long").as("n_ab"))
        .filter(col("n_ab") >= 3)
      val scored = pairs
        .join(perPart.select(col("l_partkey").as("p_a"), col("n_part").as("n_a")),
          Seq("p_a"))
        .join(perPart.select(col("l_partkey").as("p_b"), col("n_part").as("n_b")),
          Seq("p_b"))
        .crossJoin(broadcast(nOrders))
        .withColumn("support", col("n_ab").cast("double") /
          col("n_orders").cast("double"))
        .withColumn("conf_a_b", col("n_ab").cast("double") /
          col("n_a").cast("double"))
        .withColumn("conf_b_a", col("n_ab").cast("double") /
          col("n_b").cast("double"))
        .withColumn("lift",
          (dec(col("n_ab"), 38, 0) * dec(col("n_orders"), 38, 0)).cast("double") /
            (dec(col("n_a"), 38, 0) * dec(col("n_b"), 38, 0)).cast("double"))
      OrderStats.topK(scored,
          Seq(col("lift").desc, col("p_a"), col("p_b")), 50, "rk")
        .select(col("rk"), col("p_a"), col("p_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("support"), col("conf_a_b"), col("conf_b_a"),
          col("lift"))
        .orderBy(col("rk"))
    })

  val oracle: Map[String, String] = Map(
    "q_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT cents, CAST(SUM(cents) OVER (ORDER BY cents DESC,
        |      l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM rev),
        |tt AS (SELECT CAST(SUM(cents) AS HUGEINT) AS t_all FROM rev),
        |cl AS (SELECT cents,
        |    CASE WHEN CAST(cum AS HUGEINT) * 100 <= t_all * 80 THEN 'A'
        |         WHEN CAST(cum AS HUGEINT) * 100 <= t_all * 95 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM r, tt)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
        |  CAST(SUM(cents) AS DOUBLE) / CAST(tt.t_all AS DOUBLE) AS rev_share
        |FROM cl, tt GROUP BY abc_class, tt.t_all
        |ORDER BY abc_class""".stripMargin,
    "q_price_index" ->
      """WITH mp AS (SELECT CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate)
        |      AS BIGINT) AS m, l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT m, l_partkey, qty,
        |    CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE) AS p FROM mp),
        |j AS (SELECT a.m AS month_a, b.m AS month_b,
        |    CAST(ROUND(b.p * CAST(a.qty AS DOUBLE) * 1e4) AS BIGINT) AS p1q0,
        |    CAST(ROUND(a.p * CAST(a.qty AS DOUBLE) * 1e4) AS BIGINT) AS p0q0,
        |    CAST(ROUND(b.p * CAST(b.qty AS DOUBLE) * 1e4) AS BIGINT) AS p1q1,
        |    CAST(ROUND(a.p * CAST(b.qty AS DOUBLE) * 1e4) AS BIGINT) AS p0q1
        |  FROM p a JOIN p b ON b.m = a.m + 1 AND b.l_partkey = a.l_partkey)
        |SELECT month_a, month_b, CAST(COUNT(*) AS BIGINT) AS n_common,
        |  CAST(SUM(CAST(p1q0 AS HUGEINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(p0q0 AS HUGEINT)) AS DOUBLE) AS laspeyres,
        |  CAST(SUM(CAST(p1q1 AS HUGEINT)) AS DOUBLE)
        |    / CAST(SUM(CAST(p0q1 AS HUGEINT)) AS DOUBLE) AS paasche
        |FROM j GROUP BY 1, 2 ORDER BY month_a""".stripMargin,
    "q_kaplan_meier" ->
      """WITH life AS (SELECT user_id,
        |    date_diff('second', MIN(ts), MAX(ts)) // 86400 AS d,
        |    CASE WHEN user_id % 4 <> 0 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS observed
        |  FROM events GROUP BY user_id),
        |per AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(observed) AS BIGINT) AS deaths
        |  FROM life GROUP BY 1),
        |risk AS (SELECT d, deaths, CAST(SUM(cnt) OVER (ORDER BY d DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM per),
        |steps AS (SELECT d, deaths, n_risk,
        |    CASE WHEN deaths < n_risk
        |      THEN CAST(ROUND(LN(1.0 - CAST(deaths AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)) * 1e10) AS BIGINT)
        |      ELSE 0 END AS term_e10
        |  FROM risk WHERE deaths > 0),
        |km AS (SELECT d, deaths, n_risk,
        |    CAST(SUM(term_e10) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_e10
        |  FROM steps)
        |SELECT d AS d_days, deaths, n_risk,
        |  CASE WHEN deaths < n_risk
        |    THEN CAST(CAST(EXP(CAST(cum_e10 AS DOUBLE) / 1e10)
        |      AS DECIMAL(18,6)) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS survival
        |FROM km ORDER BY d_days""".stripMargin,
    "q_hill_numbers" ->
      """WITH mp AS (SELECT CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate)
        |      AS BIGINT) AS m, l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT m, CAST(SUM(CAST(cents AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS tc
        |  FROM mp GROUP BY 1),
        |terms AS (SELECT mp.m,
        |    CAST(-(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      * LN(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      AS DECIMAL(18,10)) AS h_term,
        |    CAST((CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      * (CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE))
        |      AS DECIMAL(18,10)) AS s_term
        |  FROM mp JOIN tot ON tot.m = mp.m),
        |a AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(CAST(EXP(CAST(SUM(h_term) AS DOUBLE)) AS DECIMAL(18,6))
        |      AS DOUBLE) AS n1,
        |    CAST(CAST(CAST(1 AS DOUBLE) / CAST(SUM(s_term) AS DOUBLE)
        |      AS DECIMAL(18,6)) AS DOUBLE) AS n2
        |  FROM terms GROUP BY 1)
        |SELECT m, n0, n1, n2, n1 / CAST(n0 AS DOUBLE) AS evenness
        |FROM a ORDER BY m""".stripMargin,
    "q_dispersion" ->
      """WITH d AS (SELECT o_orderdate, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
        |      AS scc
        |  FROM d)
        |SELECT n_days, CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_cnt,
        |  scc / CAST(n_days AS DOUBLE)
        |    - (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |      * (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)) AS var_cnt,
        |  (scc / CAST(n_days AS DOUBLE)
        |    - (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
        |      * (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)))
        |  / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)) AS dispersion_index
        |FROM a""".stripMargin,
    "q_lift_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |  FROM items),
        |pp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
        |  FROM items GROUP BY 1),
        |pairs AS (SELECT a.l_partkey AS p_a, b.l_partkey AS p_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |sc AS (SELECT p_a, p_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
        |    no.n_orders,
        |    CAST(n_ab AS DOUBLE) / CAST(no.n_orders AS DOUBLE) AS support,
        |    CAST(n_ab AS DOUBLE) / CAST(pa.n_part AS DOUBLE) AS conf_a_b,
        |    CAST(n_ab AS DOUBLE) / CAST(pb.n_part AS DOUBLE) AS conf_b_a,
        |    CAST(CAST(n_ab AS HUGEINT) * CAST(no.n_orders AS HUGEINT)
        |      AS DOUBLE)
        |    / CAST(CAST(pa.n_part AS HUGEINT) * CAST(pb.n_part AS HUGEINT)
        |      AS DOUBLE) AS lift
        |  FROM pairs JOIN pp pa ON pa.l_partkey = pairs.p_a
        |    JOIN pp pb ON pb.l_partkey = pairs.p_b, no)
        |SELECT rk, p_a, p_b, n_ab, n_a, n_b, support, conf_a_b, conf_b_a,
        |  lift
        |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, p_a,
        |    p_b) AS BIGINT) AS rk FROM sc) t
        |WHERE rk <= 50 ORDER BY rk""".stripMargin)
}
