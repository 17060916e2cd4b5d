package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}

import Qs._

/** Second relational batch: outer/cross join family, pivot/unpivot,
  * union-all, approximate sketches, exists-style correlated filters,
  * calendar gap-fill.
  */
object Relational2 extends Batch {

  /** Per-key calendar spine for 1995: one row per (key-row, day), via a
    * narrow `sequence` explode — NOT a cross join against a calendar
    * table, which would plan as a nested-loop join and serialize on the
    * broadcast at a large key count. The explode fans out map-side
    * inside the key rows' own partitions.
    */
  private def withDays(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    keys.withColumn("day", explode(expr(
      "sequence(to_date('1995-01-01'), to_date('1995-12-31'), interval 1 day)")))

  val queries: Map[String, Q] = Map(
    // Left outer: every customer, orders aggregated where present.
    "q_left_outer" -> { (s, dir) =>
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(
          count(o("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice"), 14, 2).as("spend"))
        .orderBy(col("c_custkey"))
    },

    // Full outer with key coalescing: supplier and customer balances per
    // nation side-by-side (disjoint aggregates stitched by nation key).
    "q_full_outer" -> { (s, dir) =>
      val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(dsum(col("s_acctbal"), 12, 2).as("supp_bal"))
      val cus = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(dsum(col("c_acctbal"), 12, 2).as("cust_bal"))
      sup.as("s").join(cus.as("c"), col("s.nk") === col("c.nk"), "full_outer")
        .select(
          coalesce(col("s.nk"), col("c.nk")).as("nationkey"),
          col("supp_bal"), col("cust_bal"))
        .orderBy(col("nationkey"))
    },

    // Cross join (small × small): the full region × orderstatus grid.
    "q_cross_grid" -> { (s, dir) =>
      val r = t(s, dir, "region").select(col("r_name"))
      val st = t(s, dir, "orders").select(col("o_orderstatus")).distinct()
      r.crossJoin(st).orderBy(col("r_name"), col("o_orderstatus"))
    },

    // Pivot: order counts and exact revenue per priority × status.
    "q_pivot" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority"))
    },

    // UNION ALL of two differently-filtered projections (bag semantics,
    // unlike q_setops' set semantics).
    "q_union_all" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(lit("fulfilled").as("tag"), col("o_orderkey"))
        .unionAll(
          o.filter(col("o_totalprice") > 200000)
            .select(lit("big").as("tag"), col("o_orderkey")))
        .orderBy(col("tag"), col("o_orderkey"))
    },

    // Approximate sketches, deterministically: a KMV (k-minimum-values)
    // distinct estimator and a fixed-bin histogram median. Unlike the
    // engine-native HLL/KLL sketches (whose internals differ per engine,
    // so their values can never hash-match an oracle), both of these are
    // exact functions of the data — md5-keyed, so DuckDB reproduces them
    // bit-for-bit — while still being genuine bounded-memory mergeable
    // sketches. Scale shape: the distinct-hash set is reduced by a
    // partial-agg shuffle keyed on (flag, hash); a per-shuffle-partition
    // top-k prune (the global k smallest always survive any local top-k)
    // bounds the final per-group rank to k·P rows. The histogram is one
    // keyed aggregation over (flag, bin).
    "q_approx_sketches" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = 4096
      val li = t(s, dir, "lineitem")
      // 60-bit md5 prefix as the KMV hash (both engines: lowercase hex,
      // identical int-to-string casts).
      // h feeds both the exact distinct counts and the pruned-rank
      // sketch: the lineitem scan + md5 + distinct executed twice
      // (round-12 audit: 3 lineitem scans incl. the histogram branch).
      // Materialize once; distinct-reduced (flag, hash) rows.
      val h = graft.Ckpt.shared(li,
        li.select(col("l_returnflag"),
            conv(substring(md5f(col("l_partkey").cast("string")), 1, 15), 16, 10)
              .cast("long").as("h"))
          .distinct(),
        sizeFactor = 0.5)
      val nd = h.groupBy(col("l_returnflag")).agg(count(lit(1)).as("nd"))
      val pruned = h.withColumn("p", spark_partition_id())
        .withColumn("lrn", row_number().over(
          Window.partitionBy(col("l_returnflag"), col("p")).orderBy(col("h"))))
        .filter(col("lrn") <= k)
      val hk = pruned
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("h"))))
        .filter(col("rn") === k)
        .select(col("l_returnflag"), col("h").as("hk"))
      // est = (k-1) / (hk / 2^60); exact-double arithmetic in both engines.
      val kmv = nd.join(hk, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"),
          when(col("nd") < k, col("nd").cast("double"))
            .otherwise(lit(4095.0) * lit(1152921504606846976.0) /
              col("hk").cast("double"))
            .as("approx_parts"))
      // Histogram median: smallest $100 bin whose cumulative count passes
      // half the total; report the bin midpoint.
      val bins = li.groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") / 100.0).cast("long").as("b"))
        .agg(count(lit(1)).as("n"))
      val med = bins
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("b"))))
        .withColumn("tot", sum(col("n")).over(
          Window.partitionBy(col("l_returnflag"))))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag")).agg(min(col("b")).as("mb"))
        .select(col("l_returnflag"),
          ((col("mb") + lit(0.5)) * 100.0).as("approx_median_price"))
      kmv.join(med, Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },

    // Unpivot/melt (pivot's inverse): wide per-line measures → long
    // (metric, value) rows. Values pass through unchanged — no float
    // arithmetic, so the hash compare is exact. Narrow op: no shuffle,
    // output is a projection explosion handled by codegen.
    "q_unpivot" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    },

    // Time-series gap-fill: every (nation × day of 1995) row exists even
    // when no orders landed — generate the calendar with `sequence`,
    // left-join the daily aggregate, zero-fill. The calendar side is
    // O(keys × days) regardless of fact size, and the only shuffle is
    // the daily aggregation keyed on (nation, day).
    "q_gapfill" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate").between("1995-01-01", "1995-12-31"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val daily = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 14, 2).as("revenue"))
      val days = withDays(t(s, dir, "customer").select(col("c_nationkey")).distinct())
      days.join(daily,
          days("c_nationkey") === daily("nk") && days("day") === daily("day"), "left")
        .select(
          days("c_nationkey").as("nation_key"),
          date_format(days("day"), "yyyy-MM-dd").as("day_s"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy(col("nation_key"), col("day_s"))
    },

    // Correlated EXISTS as a row filter (not just counts): orders from
    // customers in a named market segment.
    "q_exists_filter" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 14, 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },

    // Column profiler: one pass over lineitem computing per-column
    // row/null/exact-distinct counts and min/max — the data-quality
    // summary every ingestion pipeline runs first. Spark plans the
    // multi-column exact distinct via one Expand (single shuffle);
    // `stack` pivots the wide aggregate row into one row per column.
    "q_profile" -> { (s, dir) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val wide = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
          countDistinct(col(c)).as(s"ndv_$c"),
          min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c"))): _*)
      wide.select(expr("stack(4, " + cols.map(c =>
          s"'$c', n, null_$c, ndv_$c, min_$c, max_$c").mkString(", ") +
          ") AS (col_name, n, n_null, n_distinct, min_v, max_v)"))
        .orderBy(col("col_name"))
    },

    // Retention cohorts: users bucketed by their first active week
    // (integer micros DIV week, exact in any engine), then distinct
    // active users per (cohort, week offset) — two keyed aggregations.
    "q_retention" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) DIV 604800000000").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_wk"), col("offset_wk"))
    })

  val oracle: Map[String, String] = Map(
    "q_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_full_outer" ->
      """WITH s AS (SELECT s_nationkey AS nk,
        |    CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS supp_bal
        |  FROM supplier GROUP BY s_nationkey),
        |c AS (SELECT c_nationkey AS nk,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS cust_bal
        |  FROM customer GROUP BY c_nationkey)
        |SELECT COALESCE(s.nk, c.nk) AS nationkey, supp_bal, cust_bal
        |FROM s FULL OUTER JOIN c ON s.nk = c.nk
        |ORDER BY nationkey""".stripMargin,
    "q_cross_grid" ->
      """SELECT r_name, o_orderstatus
        |FROM (SELECT r_name FROM region) r
        |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Deterministic KMV + histogram-median twins of the Spark sketches —
    // exact functions of the data, so the value hash matches.
    "q_approx_sketches" ->
      """WITH h AS (SELECT DISTINCT l_returnflag,
        |    ('0x' || SUBSTR(MD5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |nd AS (SELECT l_returnflag, COUNT(*) AS nd FROM h GROUP BY 1),
        |rk AS (SELECT l_returnflag, h,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h),
        |hk AS (SELECT l_returnflag, h AS hk FROM rk WHERE rn = 4096),
        |bins AS (SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS b, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |med AS (SELECT l_returnflag, MIN(b) AS mb FROM (
        |    SELECT l_returnflag, b,
        |      SUM(n) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
        |      SUM(n) OVER (PARTITION BY l_returnflag) AS tot
        |    FROM bins) x
        |  WHERE cum * 2 >= tot GROUP BY 1)
        |SELECT nd.l_returnflag,
        |  CASE WHEN nd.nd < 4096 THEN CAST(nd.nd AS DOUBLE)
        |       ELSE 4095.0 * 1152921504606846976.0 / CAST(hk.hk AS DOUBLE)
        |  END AS approx_parts,
        |  (med.mb + 0.5) * 100.0 AS approx_median_price
        |FROM nd
        |LEFT JOIN hk USING (l_returnflag)
        |JOIN med USING (l_returnflag)
        |ORDER BY nd.l_returnflag""".stripMargin,
    "q_union_all" ->
      """SELECT 'fulfilled' AS tag, o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'big' AS tag, o_orderkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY tag, o_orderkey""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    l_discount, l_tax FROM lineitem WHERE l_orderkey <= 100) w
        |UNPIVOT (value FOR metric IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q_gapfill" ->
      """WITH cal AS (SELECT UNNEST(GENERATE_SERIES(DATE '1995-01-01',
        |    DATE '1995-12-31', INTERVAL 1 DAY))::DATE AS day),
        |nk AS (SELECT DISTINCT c_nationkey FROM customer),
        |daily AS (SELECT c.c_nationkey AS nk, CAST(o.o_orderdate AS DATE) AS day,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE o.o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
        |  GROUP BY 1, 2)
        |SELECT nk.c_nationkey AS nation_key,
        |  strftime(cal.day, '%Y-%m-%d') AS day_s,
        |  COALESCE(daily.n, 0) AS n_orders,
        |  COALESCE(daily.revenue, 0.0) AS revenue
        |FROM nk CROSS JOIN cal
        |LEFT JOIN daily ON nk.c_nationkey = daily.nk AND cal.day = daily.day
        |ORDER BY nation_key, day_s""".stripMargin,
    "q_exists_filter" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v
           |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT cohort_wk, ev.wk - cohort_wk AS offset_wk,
        |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active
        |FROM ev JOIN cohort USING (user_id)
        |GROUP BY cohort_wk, offset_wk
        |ORDER BY cohort_wk, offset_wk""".stripMargin)
}
