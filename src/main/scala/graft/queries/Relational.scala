package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** The general relational operator surface: aggregation, joins (broadcast /
  * shuffle / semi / anti), windows, set ops, rollup/cube/grouping sets,
  * string/regex/date/JSON scalar families, subqueries, percentiles,
  * correlation. The reference compiles these capabilities in via polars
  * feature flags without exercising them (SURVEY.md §2 capability table);
  * here each is a first-class, oracle-checked query.
  *
  * Scale notes are per-query; the common theme: aggregations are
  * partial+final (map-side combine), dimension joins are broadcast, big-big
  * joins shuffle on their keys and rely on AQE for skew.
  */
object Relational extends Batch {

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg
    // (partial per partition + final after a 2-key shuffle) → sort.
    "q1_agg" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_quantity") < 45)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 12, 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 12, 2).as("sum_base_price"),
          sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
            .cast("double").as("sum_disc_price"),
          (dsum(col("l_quantity"), 12, 2) / count(lit(1)).cast("double")).as("avg_qty"),
          (dsum(col("l_extendedprice"), 12, 2) / count(lit(1)).cast("double")).as("avg_price"),
          (dsum(col("l_discount"), 8, 2) / count(lit(1)).cast("double")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Per-group stats incl. exact distinct (shuffle on group key; distinct
    // expands then collapses — at 100 TB prefer approx_count_distinct,
    // kept exact here for the oracle).
    "q_agg_stats" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // Fact⋈fact shuffle join + broadcast dimension join → agg.
    "q_join_nation_rev" -> { (s, dir) =>
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(dsum(col("o_totalprice"), 14, 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },

    // TPC-H Q5 shape: 5-way join, two broadcast dims, revenue per region.
    "q_join_region_rev" -> { (s, dir) =>
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"))
        .agg(
          sum(dec(col("l_extendedprice"), 12, 2) * (lit(1) - dec(col("l_discount"), 4, 2)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"))
    },

    // Top-k per group: window row_number + filter (one shuffle on the
    // partition key; no global sort of the fact table).
    "q_topk_per_group" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    },

    // Running/frame windows + lag + rank over a fully-ordered frame.
    "q_window_running" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          sum(dec(col("o_totalprice"), 14, 2)).over(wf).cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("rn"))
    },

    // Set operations (EXCEPT/INTERSECT are build-side hash aggregates).
    "q_setops" -> { (s, dir) =>
      val ck = t(s, dir, "customer").select(col("c_custkey"))
      val ok = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      ck.except(ok).withColumn("op", lit("except"))
        .unionByName(ck.intersect(ok).withColumn("op", lit("intersect")))
        .select(col("op"), col("c_custkey"))
        .orderBy(col("op"), col("c_custkey"))
    },

    // Semi/anti joins (EXISTS / NOT EXISTS — no row multiplication).
    "q_semi_anti" -> { (s, dir) =>
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders"))
      semi.crossJoin(anti)
    },

    // Scalar subquery: orders above the (exact) global average price.
    "q_scalar_subquery" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val avg = o.agg(
        (dsum(col("o_totalprice"), 14, 2) / count(lit(1)).cast("double")).as("avg_price"))
      o.crossJoin(broadcast(avg))
        .filter(col("o_totalprice") > col("avg_price"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // ROLLUP hierarchy totals.
    "q_rollup" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 14, 2).as("revenue"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"))
        .orderBy(
          col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    // CUBE over two lineitem dimensions.
    "q_cube" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity"), 12, 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .orderBy(
          col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // Explicit GROUPING SETS (via SQL — not expressible in the DataFrame
    // DSL; same Catalyst Expand node as rollup/cube underneath).
    "q_grouping_sets" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio,
          |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    // DISTINCT (hash aggregate without measures).
    "q_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // String function family (all codegen'd built-ins — SURVEY.md §2
    // `strings` feature row).
    "q_string_funcs" -> { (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          size(split(col("p_name"), " ")).cast("long").as("n_words"),
          lpad(col("p_brand"), 12, ".").as("brand_padded"),
          trim(col("p_name")).as("name_trim"),
          reverse(col("p_brand")).as("brand_rev"))
        .orderBy(col("p_partkey"))
    },

    // Regex family (`regex` feature row). Patterns stay in the
    // Java∩RE2 common dialect so Spark and DuckDB agree.
    "q_regex_funcs" -> { (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          col("p_name").rlike("(green|red|blue)").as("has_color"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
            .cast("long").as("n_vowels"),
          regexp_replace(col("p_type"), "[aeiou]", "*").as("type_novowels"))
        .orderBy(col("p_partkey"))
    },

    // Date/time family over the orders timeline.
    "q_datetime" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(date_add(col("o_orderdate").cast("date"), 7), "yyyy-MM-dd").as("plus7"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_95"))
        .orderBy(col("o_orderkey"))
    },

    // JSON extraction from the events.props payload (`json` feature row).
    "q_json_funcs" -> { (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    },

    // CASE/NULL handling family.
    "q_case_null" -> { (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          when(col("value") > 100, lit("high"))
            .when(col("value") > 50, lit("mid"))
            .otherwise(lit("low")).as("band"),
          coalesce(nullif(col("event_type"), lit("error")), lit("(err)")).as("etype"))
        .orderBy(col("event_id"))
    },

    // Exact percentiles (linear interpolation) per group.
    "q_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy(col("l_returnflag"))
    },

    // Correlation / covariance per group via exact six-sum closed forms
    // (`cov` feature row; bit-identical association order vs the oracle).
    "q_corr" -> { (s, dir) =>
      val x = dec(coalesce(col("l_quantity"), lit(0.0)), 18, 2)
      val y = dec(coalesce(col("l_discount"), lit(0.0)), 18, 2)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
        .select(
          col("l_returnflag"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_disc"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - lit(1.0)))
            .as("covar_qty_disc"))
        .orderBy(col("l_returnflag"))
    })

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_quantity < 45
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_nation_rev" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_join_region_rev" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) sub
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_setops" ->
      """SELECT 'except' AS op, c_custkey FROM
        |  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) e
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM
        |  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) i
        |ORDER BY op, c_custkey""".stripMargin,
    "q_semi_anti" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
        |  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |  / CAST(COUNT(*) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  SUBSTR(p_name, 1, 8) AS name_prefix,
        |  REPLACE(p_type, ' ', '_') AS type_snake,
        |  p_brand || '#' || p_type AS brand_type,
        |  CAST(LEN(STRING_SPLIT(p_name, ' ')) AS BIGINT) AS n_words,
        |  LPAD(p_brand, 12, '.') AS brand_padded,
        |  TRIM(p_name) AS name_trim,
        |  REVERSE(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_regex_funcs" ->
      """SELECT p_partkey,
        |  REGEXP_EXTRACT(p_name, '^([a-z]+)', 1) AS first_word,
        |  REGEXP_MATCHES(p_name, '(green|red|blue)') AS has_color,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  REGEXP_REPLACE(p_type, '[aeiou]', '*', 'g') AS type_novowels
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_datetime" ->
      """SELECT o_orderkey,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS y,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS m,
        |  CAST(DAY(o_orderdate) AS BIGINT) AS d,
        |  STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  STRFTIME(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS plus7,
        |  CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id,
        |  CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q_case_null" ->
      """SELECT event_id,
        |  CASE WHEN value > 100 THEN 'high' WHEN value > 50 THEN 'mid'
        |       ELSE 'low' END AS band,
        |  COALESCE(NULLIF(event_type, 'error'), '(err)') AS etype
        |FROM events ORDER BY event_id""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  QUANTILE_CONT(l_quantity, 0.25) AS p25,
        |  QUANTILE_CONT(l_quantity, 0.5) AS p50,
        |  QUANTILE_CONT(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_corr" ->
      """WITH s AS (SELECT l_returnflag,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_qty_disc,
        |  (sxy - sx * sy / n) / (n - 1.0) AS covar_qty_disc
        |FROM s ORDER BY l_returnflag""".stripMargin)
}
