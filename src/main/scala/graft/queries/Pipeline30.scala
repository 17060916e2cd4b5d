package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.{Dedup, OrderStats}
import Qs._

/** Thirtieth batch: planning + profiling analytics — event-type audience
  * overlap, the LSH band-width planner, per-column value entropy, SAX
  * symbolization of the revenue series, and per-user idle-time profiles.
  *
  * Scale design notes (100 TB):
  *  - q_user_overlap_jaccard distincts (type, user) once — the heavy
  *    step, one shuffle — then self-joins on the USER key (each user
  *    carries ≤ |types| rows); the 5×5 result grid is driver-trivial but
  *    assembled distributed (size cross of two ≤|types| frames).
  *  - q_lsh_band_planner estimates candidate-pair counts for four band
  *    widths from bucket histograms alone — Σ c·(c−1)/2 — never
  *    materializing a single candidate pair; this is how you size r
  *    BEFORE paying the banding join at corpus scale.
  *  - q_column_entropy stacks four columns into (col, value) rows in one
  *    scan (map-side explode ×4), one keyed count, then the
  *    DECIMAL(18,10) entropy-term sum per column.
  *  - q_sax_symbols runs on the per-day frame (bounded by calendar), one
  *    bounded OrderStats rank; global moments from exact decimal sums.
  *  - q_idle_time_user is sessionize (per-user windows) plus exact long
  *    interval arithmetic per user.
  */
object Pipeline30 extends Batch {

  val queries: Map[String, Q] = Map(
    // Audience overlap: exact Jaccard of distinct-user sets for every
    // event-type pair (a < b), zero-overlap pairs included.
    "q_user_overlap_jaccard" -> { (s, dir) =>
      val u = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = u.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
      val inter = u.as("a")
        .join(u.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      val grid = sizes.select(col("event_type").as("type_a"),
          col("n_users").as("n_a"))
        .crossJoin(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n_users").as("n_b"))))
        .filter(col("type_a") < col("type_b"))
      grid.join(inter, Seq("type_a", "type_b"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_common"), col("jaccard"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // LSH band planner: candidate-pair counts each band width would
    // generate (r = 1/2/4/8 of the 8-hash MinHash signature), estimated
    // from bucket histograms as Σ c·(c−1)/2 — the r-vs-cost curve
    // WITHOUT materializing any pairs.
    "q_lsh_band_planner" -> { (s, dir) =>
      // Materialize the signature frame once — four band widths read it;
      // without the checkpoint each agg would re-run shingling + the
      // signature groupBy (the q_quantile_sketch fan-out lesson).
      val sig = Dedup.minhashSignature(
        Dedup.shingles(t(s, dir, "documents"))).ckpt()
      def bucket(r: Int) =
        if (r == 1) col("mh1")
        else md5f(concat((1 to r).map(i => col(s"mh$i")): _*))
      val perR = (Seq(1, 2, 4, 8)).map { r =>
        sig.select(bucket(r).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).cast("long").as("c"))
          .agg(lit(r.toLong).as("r"),
            count(lit(1)).cast("long").as("n_buckets"),
            sum(expr("c * (c - 1) DIV 2")).cast("long").as("n_candidate_pairs"),
            max(col("c")).cast("long").as("max_bucket"))
      }
      perR.reduce(_.unionAll(_)).orderBy(col("r"))
    },

    // Per-column value entropy of lineitem (nats): the information
    // content the dictionary/RLE encoder competes against — companion to
    // q_compress_estimate's run/delta audit. One scan, explode ×4.
    "q_column_entropy" -> { (s, dir) =>
      val stacked = t(s, dir, "lineitem")
        .select(explode(array(
          struct(lit("l_partkey").as("col_name"),
            col("l_partkey").cast("long").as("v")),
          struct(lit("l_suppkey").as("col_name"),
            col("l_suppkey").cast("long").as("v")),
          struct(lit("l_quantity").as("col_name"),
            round(col("l_quantity")).cast("long").as("v")),
          struct(lit("l_extendedprice").as("col_name"),
            round(col("l_extendedprice") * 100).cast("long").as("v")))).as("r"))
        .select(col("r.*"))
      val counts = stacked.groupBy(col("col_name"), col("v"))
        .agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("col_name"))
        .agg(sum(col("c")).as("n"))
      counts.join(broadcast(totals), Seq("col_name"))
        .select(col("col_name"),
          (-(col("c") / col("n")) * log(col("c") / col("n")))
            .cast(DecimalType(18, 10)).as("term"))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).cast("long").as("n_distinct"),
          sum(col("term")).cast("double").as("entropy_nats"))
        .orderBy(col("col_name"))
    },

    // SAX symbolization of the daily-revenue series: 8 equal rank
    // segments (PAA), per-segment mean z-scored against the series'
    // exact global moments, mapped to a 4-symbol alphabet at the
    // standard Gaussian breakpoints ±0.6745 and 0.
    "q_sax_symbols" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val ranked = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        boundedInput = true)
      // Daily-cents squares sum to ~3e19 at sf0.1 — past the ~2^63
      // mirrored-conversion limit; hi/lo split (round-7 sweep class).
      val tot = daily.agg(count(lit(1)).cast("long").as("n"),
          sum(dec(col("cents"), 38, 0)).cast("double").as("sc"),
          sum(dec(col("cents"), 38, 0) * dec(col("cents"), 38, 0)).as("ssc0"))
        .withColumn("ssc", dblBig("ssc0"))
        .withColumn("mean_all", col("sc") / col("n").cast("double"))
        .withColumn("sd_all", sqrt(col("ssc") / col("n").cast("double") -
          col("mean_all") * col("mean_all")))
      ranked.crossJoin(broadcast(tot))
        .withColumn("seg", expr("(rn - 1) * 8 DIV n"))
        .groupBy(col("seg"), col("mean_all"), col("sd_all"))
        .agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("cents")).cast("long").as("seg_cents"))
        .withColumn("seg_mean",
          col("seg_cents").cast("double") / col("n_days").cast("double"))
        .withColumn("z", (col("seg_mean") - col("mean_all")) / col("sd_all"))
        .withColumn("symbol",
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d"))
        .select(col("seg"), col("n_days"), col("seg_mean"), col("z"),
          col("symbol"))
        .orderBy(col("seg"))
    },

    // Idle-time profile per user: 30-minute-gap sessions, total active
    // vs lifetime span in exact micros, idle share of the span.
    "q_idle_time_user" -> { (s, dir) =>
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window
            .currentRow)))
      ev.groupBy(col("user_id"), col("session_idx"))
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("end_us") - col("start_us")).cast("long").as("active_us"),
          (max(col("end_us")) - min(col("start_us"))).cast("long").as("span_us"))
        .withColumn("idle_ratio",
          when(col("span_us") === 0, lit(0.0))
            .otherwise(lit(1.0) - col("active_us").cast("double") /
              col("span_us").cast("double")))
        .orderBy(col("user_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_user_overlap_jaccard" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS n_users FROM u GROUP BY 1),
        |inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM u a JOIN u b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |grid AS (SELECT sa.event_type AS type_a, sa.n_users AS n_a,
        |    sb.event_type AS type_b, sb.n_users AS n_b
        |  FROM sz sa, sz sb WHERE sa.event_type < sb.event_type)
        |SELECT grid.type_a AS type_a, grid.type_b AS type_b, n_a, n_b,
        |  COALESCE(inter.n_common, 0) AS n_common,
        |  CAST(COALESCE(inter.n_common, 0) AS DOUBLE)
        |    / CAST(n_a + n_b - COALESCE(inter.n_common, 0) AS DOUBLE)
        |    AS jaccard
        |FROM grid LEFT JOIN inter
        |  ON grid.type_a = inter.type_a AND grid.type_b = inter.type_b
        |ORDER BY grid.type_a, grid.type_b""".stripMargin,
    "q_lsh_band_planner" ->
      s"""WITH ${Pipeline.shinglesSql},
        |${Pipeline.minhashSigSql},
        |b1 AS (SELECT mh1 AS bucket FROM sig),
        |b2 AS (SELECT MD5(mh1 || mh2) AS bucket FROM sig),
        |b4 AS (SELECT MD5(mh1 || mh2 || mh3 || mh4) AS bucket FROM sig),
        |b8 AS (SELECT MD5(mh1 || mh2 || mh3 || mh4 || mh5 || mh6 || mh7 || mh8)
        |    AS bucket FROM sig),
        |h1 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b1 GROUP BY 1),
        |h2 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b2 GROUP BY 1),
        |h4 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b4 GROUP BY 1),
        |h8 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b8 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS r, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_candidate_pairs,
        |  CAST(MAX(c) AS BIGINT) AS max_bucket FROM h1
        |UNION ALL SELECT 2, COUNT(*), CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |  MAX(c) FROM h2
        |UNION ALL SELECT 4, COUNT(*), CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |  MAX(c) FROM h4
        |UNION ALL SELECT 8, COUNT(*), CAST(SUM(c * (c - 1) // 2) AS BIGINT),
        |  MAX(c) FROM h8
        |ORDER BY r""".stripMargin,
    "q_column_entropy" ->
      """WITH stacked AS (
        |  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS BIGINT) AS v
        |    FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'l_quantity', CAST(ROUND(l_quantity) AS BIGINT)
        |    FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice',
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) FROM lineitem),
        |c AS (SELECT col_name, v, COUNT(*) AS c FROM stacked GROUP BY 1, 2),
        |n AS (SELECT col_name, SUM(c) AS n FROM c GROUP BY 1),
        |terms AS (SELECT c.col_name,
        |    CAST(-(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * LN(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      AS DECIMAL(18,10)) AS term
        |  FROM c JOIN n ON c.col_name = n.col_name)
        |SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(term) AS DOUBLE) AS entropy_nats
        |FROM terms GROUP BY col_name ORDER BY col_name""".stripMargin,
    "q_sax_symbols" ->
      s"""WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn FROM d),
        |tot0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sc,
        |    SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ssc0
        |  FROM d),
        |tot AS (SELECT n, sc, ${dblBigSql("ssc0")} AS ssc FROM tot0),
        |tm AS (SELECT n, sc, ssc, sc / CAST(n AS DOUBLE) AS mean_all,
        |    SQRT(ssc / CAST(n AS DOUBLE)
        |      - (sc / CAST(n AS DOUBLE)) * (sc / CAST(n AS DOUBLE))) AS sd_all
        |  FROM tot),
        |seg AS (SELECT ((rn - 1) * 8) // n AS seg, mean_all, sd_all,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(cents) AS BIGINT) AS seg_cents
        |  FROM r, tm GROUP BY 1, 2, 3),
        |z AS (SELECT seg, n_days,
        |    CAST(seg_cents AS DOUBLE) / CAST(n_days AS DOUBLE) AS seg_mean,
        |    (CAST(seg_cents AS DOUBLE) / CAST(n_days AS DOUBLE) - mean_all)
        |      / sd_all AS z
        |  FROM seg)
        |SELECT seg, n_days, seg_mean, z,
        |  CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |       WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
        |FROM z ORDER BY seg""".stripMargin,
    "q_idle_time_user" ->
      """WITH e AS (SELECT *, LAG(epoch_us(ts), 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS ns FROM e),
        |g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM f),
        |s AS (SELECT user_id, session_idx, MIN(epoch_us(ts)) AS start_us,
        |    MAX(epoch_us(ts)) AS end_us FROM g GROUP BY 1, 2),
        |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(SUM(end_us - start_us) AS BIGINT) AS active_us,
        |    CAST(MAX(end_us) - MIN(start_us) AS BIGINT) AS span_us
        |  FROM s GROUP BY 1)
        |SELECT user_id, n_sessions, active_us, span_us,
        |  CASE WHEN span_us = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(1 AS DOUBLE)
        |         - CAST(active_us AS DOUBLE) / CAST(span_us AS DOUBLE) END
        |    AS idle_ratio
        |FROM a ORDER BY user_id""".stripMargin)
}
