package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import Qs._

/** Nineteenth batch: privacy auditing (l-diversity), MOSS-style winnowing
  * fingerprints, robust Theil–Sen trend slopes, and a grid-bucketed
  * spatial join.
  *
  * Scale design:
  *  - l-diversity is two stacked keyed aggregations (group × sensitive,
  *    then group) — the frame never exceeds |quasi-groups × priorities|.
  *  - Winnowing hashes every word 3-gram once, then selects each sliding
  *    window's minimum with ONE partitioned window pass (no
  *    gram-vs-gram self-join); the fingerprint set per document is the
  *    w-fold-smaller sketch that scales document dedup to 100 TB corpora.
  *  - Theil–Sen bounds the quadratic pair space by construction: slopes
  *    pair only the ≤31 daily points inside one month per priority, so
  *    the self-join is |group|² with |group| fixed, not data-sized.
  *  - The geo join replicates each supplier to its 3×3 neighbor cells
  *    and hash-joins on the cell id — the standard grid-bucket spatial
  *    equi-join that replaces an N×M cross product with per-cell
  *    micro-joins; the distance filter runs in exact integer
  *    micro-degrees (squared, no trig, no floats until egress).
  */
object Pipeline19 extends Batch {

  val queries: Map[String, Q] = Map(
    // l-diversity audit: quasi-identifier (nation, segment) against the
    // sensitive order priority. A group is l-diverse when it contains at
    // least l distinct sensitive values; max_frac is the attacker's
    // confidence in the modal value.
    "q_ldiversity" -> { (s, dir) =>
      val cells = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"))
        .join(t(s, dir, "orders").select(col("o_custkey"),
          col("o_orderpriority").as("sens")),
          col("c_custkey") === col("o_custkey"))
        .groupBy(col("nat"), col("seg"), col("sens"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      cells.groupBy(col("nat"), col("seg"))
        .agg(sum(col("cnt")).cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_sensitive"),
          max(col("cnt")).cast("long").as("max_cnt"))
        .select(col("nat"), col("seg"), col("n_rows"), col("n_sensitive"),
          (col("n_sensitive") >= 3).as("meets_l3"),
          (col("max_cnt").cast("double") / col("n_rows").cast("double"))
            .as("max_frac"))
        .orderBy(col("nat"), col("seg"))
    },

    // Winnowing (MOSS) fingerprints: hash every word 3-gram, slide a
    // w=4 window over gram positions, keep each window's minimum hash.
    // Guarantees: any shared run of ≥ w+2 words between two documents
    // shares a fingerprint, with a sketch ~w× smaller than the gram set.
    "q_winnow_fingerprint" -> { (s, dir) =>
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(
          when(size(col("ws")) >= 3,
            expr("transform(sequence(1, size(ws) - 2), " +
              "i -> named_struct('pos', CAST(i AS BIGINT), " +
              "'g', concat_ws(' ', ws[i-1], ws[i], ws[i+1])))"))
            .otherwise(expr(
              "CAST(array() AS ARRAY<STRUCT<pos: BIGINT, g: STRING>>)")))
          .as("pg"))
        .select(col("doc_id"), col("pg.pos").as("pos"),
          conv(substring(md5f(col("pg.g")), 1, 15), 16, 10).cast("long")
            .as("h"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-3, Window.currentRow)
      val fp = grams
        .withColumn("n_grams", count(lit(1)).over(
          Window.partitionBy(col("doc_id"))))
        .withColumn("wmin", min(col("h")).over(win))
        .filter(col("pos") >= 4) // full windows only
        .groupBy(col("doc_id"))
        .agg(max(col("n_grams")).cast("long").as("n_grams"),
          countDistinct(col("wmin")).cast("long").as("n_fp"),
          min(col("wmin")).as("min_fp"), max(col("wmin")).as("max_fp"))
      t(s, dir, "documents").select(col("doc_id"))
        .join(fp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          col("min_fp"), col("max_fp"))
        .orderBy(col("doc_id"))
    },

    // Theil–Sen robust trend: median of pairwise slopes of daily order
    // counts within January 1995, per priority. Slopes are exact-rounded
    // double divisions of integer deltas; the median picks the
    // lower-middle element under a total (slope, day-pair) order, so
    // both engines select the identical row.
    "q_theil_sen" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .groupBy(col("o_orderpriority").as("prio"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val a = daily.select(col("prio"), col("d").as("da"), col("cnt").as("ca"))
      val b = daily.select(col("prio").as("prio_b"), col("d").as("db"),
        col("cnt").as("cb"))
      val pairs = a.join(b, col("prio") === col("prio_b") && col("da") < col("db"))
        .select(col("prio"), col("da"), col("db"),
          ((col("cb") - col("ca")).cast("double") /
            (col("db") - col("da")).cast("double")).as("slope"))
      val ranked = pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col("prio"))
            .orderBy(col("slope"), col("da"), col("db"))))
        .withColumn("n_pairs", count(lit(1)).over(
          Window.partitionBy(col("prio"))))
      // integer DIV, not Column./ (which is double division and would
      // never equal rn for even pair counts)
      ranked.filter(col("rn") === expr("(n_pairs + 1) DIV 2"))
        .select(col("prio"), col("n_pairs").cast("long").as("n_pairs"),
          col("slope").as("median_slope"))
        .orderBy(col("prio"))
    },

    // Grid-bucketed spatial join: deterministic micro-degree coordinates
    // from the keys, suppliers replicated to their 3×3 neighbor cells,
    // hash join on cell id, exact integer squared-distance filter.
    // Reports per-nation neighbor statistics.
    "q_geo_grid_join" -> { (s, dir) =>
      val cell = 2000000L // 2M micro-degrees per grid cell = search radius
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").cast("long").as("nat"),
        (col("c_custkey") * 7919 % 170000001).as("clat"),
        (col("c_custkey") * 104729 % 340000001).as("clon"))
        .withColumn("cell_lat", expr(s"clat DIV $cell"))
        .withColumn("cell_lon", expr(s"clon DIV $cell"))
      val supp = t(s, dir, "supplier").select(
        col("s_suppkey"),
        (col("s_suppkey") * 15485863 % 170000001).as("slat"),
        (col("s_suppkey") * 32452843 % 340000001).as("slon"))
      val offsets = Seq(-1L, 0L, 1L)
      val suppRep = supp
        .withColumn("dlat", explode(typedLit(offsets)))
        .withColumn("dlon", explode(typedLit(offsets)))
        .withColumn("cell_lat", expr(s"slat DIV $cell") + col("dlat"))
        .withColumn("cell_lon", expr(s"slon DIV $cell") + col("dlon"))
      val near = cust.join(suppRep, Seq("cell_lat", "cell_lon"))
        .filter((col("clat") - col("slat")) * (col("clat") - col("slat")) +
          (col("clon") - col("slon")) * (col("clon") - col("slon"))
          <= lit(cell * cell))
        .groupBy(col("c_custkey"), col("nat"))
        .agg(count(lit(1)).cast("long").as("n_near"))
      cust.select(col("c_custkey"), col("nat"))
        .join(near.select(col("c_custkey"), col("n_near")),
          Seq("c_custkey"), "left")
        .groupBy(col("nat"))
        .agg(count(lit(1)).cast("long").as("n_cust"),
          sum(when(col("n_near").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_with_neighbor"),
          sum(coalesce(col("n_near"), lit(0L))).cast("long").as("n_pairs"))
        .orderBy(col("nat"))
    })

  val oracle: Map[String, String] = Map(
    "q_ldiversity" ->
      """WITH cells AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg, o_orderpriority AS sens,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT nat, seg, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_sensitive,
        |  COUNT(*) >= 3 AS meets_l3,
        |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS max_frac
        |FROM cells GROUP BY nat, seg ORDER BY nat, seg""".stripMargin,
    "q_winnow_fingerprint" ->
      """WITH grams AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ('0x' || SUBSTR(MD5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
        |      1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w,
        |  UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws) - 2, 0))) AS t(i)),
        |win AS (SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM grams),
        |fp AS (SELECT doc_id, CAST(MAX(n_grams) AS BIGINT) AS n_grams,
        |    CAST(COUNT(DISTINCT wmin) AS BIGINT) AS n_fp,
        |    MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
        |  FROM win WHERE pos >= 4 GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(fp.n_grams, 0) AS n_grams,
        |  COALESCE(fp.n_fp, 0) AS n_fp, fp.min_fp, fp.max_fp
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_theil_sen" ->
      """WITH daily AS (SELECT o_orderpriority AS prio,
        |    CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-02-01'
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a.prio, a.d AS da, b.d AS db,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
        |      AS slope
        |  FROM daily a JOIN daily b ON a.prio = b.prio AND a.d < b.d),
        |rk AS (SELECT prio, slope,
        |    ROW_NUMBER() OVER (PARTITION BY prio
        |      ORDER BY slope, da, db) AS rn,
        |    COUNT(*) OVER (PARTITION BY prio) AS n_pairs FROM pairs)
        |SELECT prio, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  slope AS median_slope
        |FROM rk WHERE rn = (n_pairs + 1) // 2 ORDER BY prio""".stripMargin,
    "q_geo_grid_join" ->
      """WITH cust AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nat,
        |    c_custkey * 7919 % 170000001 AS clat,
        |    c_custkey * 104729 % 340000001 AS clon
        |  FROM customer),
        |cu AS (SELECT *, clat // 2000000 AS cell_lat,
        |    clon // 2000000 AS cell_lon FROM cust),
        |supp AS (SELECT s_suppkey,
        |    s_suppkey * 15485863 % 170000001 AS slat,
        |    s_suppkey * 32452843 % 340000001 AS slon FROM supplier),
        |srep AS (SELECT s_suppkey, slat, slon,
        |    slat // 2000000 + dlat AS cell_lat,
        |    slon // 2000000 + dlon AS cell_lon
        |  FROM supp, UNNEST([-1, 0, 1]) AS t1(dlat),
        |    UNNEST([-1, 0, 1]) AS t2(dlon)),
        |near AS (SELECT c_custkey, nat, CAST(COUNT(*) AS BIGINT) AS n_near
        |  FROM cu JOIN srep USING (cell_lat, cell_lon)
        |  WHERE (clat - slat) * (clat - slat) +
        |    (clon - slon) * (clon - slon) <= 4000000000000
        |  GROUP BY c_custkey, nat)
        |SELECT cu.nat, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CASE WHEN near.n_near IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_with_neighbor,
        |  CAST(SUM(COALESCE(near.n_near, 0)) AS BIGINT) AS n_pairs
        |FROM cu LEFT JOIN near ON cu.c_custkey = near.c_custkey
        |GROUP BY cu.nat ORDER BY cu.nat""".stripMargin)
}
