package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Fourteenth batch: time-series drift/lead-lag diagnostics, exact
  * substring-span dedup, and corpus-composition metrics.
  *
  * Scale design:
  *  - CUSUM and rolling OLS keep every deviation/moment in BIGINT by
  *    multiplying the mean out (n·xᵢ − S, the q_acf recipe), so running
  *    sums are exact under any execution order; doubles appear only in
  *    final per-row ratios. Both windows run over the post-aggregation
  *    daily frame (|days| rows), not the event stream.
  *  - Cross-correlation materializes |days|×|lags| pairs via an
  *    equi-join on `day + lag` — a hash join, never a non-equi nested
  *    loop — and the Pearson numerator/denominators are exact BIGINTs
  *    (sqrt is correctly rounded, so the final double is bit-stable).
  *  - Span dedup (the exact-substring shape of Lee et al. 2022,
  *    "Deduplicating Training Data Makes Language Models Better")
  *    hashes fixed 40-char windows at stride 20: the shuffle moves
  *    md5 hex strings, never document text, and the per-doc report is
  *    two partial+final aggregations — no pair materialization at all,
  *    unlike MinHash/Jaccard candidates.
  *  - HHI concentration and the coverage curve aggregate to |langs| and
  *    |vocab| grains first; the one global-rank window in the coverage
  *    curve runs on the post-agg vocabulary (swap for the blocked
  *    prefix sum of q_sample_weighted if the vocabulary itself is huge).
  */
object Pipeline14 extends Batch {

  val queries: Map[String, Q] = Map(
    // CUSUM drift detection on daily event value: running sum of exact
    // integer deviations n·xᵢ − S; the |cusum| peak marks the most
    // likely changepoint (emitted per day so the full trajectory is
    // checkable, flagged at the peak).
    "q_cusum_drift" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).cast("long").as("cents"))
      val tot = daily.agg(sum(col("cents")).cast("long").as("sc"),
        count(lit(1)).cast("long").as("n"))
      // Running CUSUM via the two-phase prefix sum; the day frame is
      // calendar-bounded (a few thousand rows at ANY sf), so boundedInput
      // swaps the range shuffle + its bounds-sampling job for a single
      // one-task prefix scan — same semantics, no single-partition window.
      val cs = graft.operators.OrderStats.running(
        daily.crossJoin(broadcast(tot))
          .withColumn("dev", col("n") * col("cents") - col("sc")),
        Seq(col("day")), None, Seq("dev" -> "cusum"),
        boundedInput = true)
      val peak = cs.agg(max(abs(col("cusum"))).cast("long").as("peak"))
      cs.crossJoin(broadcast(peak))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          col("cents"), col("cusum"),
          (abs(col("cusum")) === col("peak")).as("is_peak"))
        .orderBy(col("day_s"))
    },

    // Lead-lag cross-correlation: does today's click count predict
    // purchases k days later? Pearson r at lags 0..3 from exact BIGINT
    // sums; pairs built by an equi-join on day+lag.
    "q_xcorr_lagged" -> { (s, dir) =>
      import s.implicits._
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .cast("long").as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("p"))
        .withColumn("d", datediff(col("day"), lit("1970-01-01")).cast("long"))
      val lags = Seq(0L, 1L, 2L, 3L).toDF("lag")
      val a = daily.select(col("d"), col("c"))
      val b = daily.select(col("d").as("d2"), col("p"))
      a.crossJoin(broadcast(lags))
        .join(b, col("d2") === col("d") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("c")).cast("long").as("sc"),
          sum(col("p")).cast("long").as("sp"),
          sum(col("c") * col("p")).cast("long").as("scp"),
          sum(col("c") * col("c")).cast("long").as("scc"),
          sum(col("p") * col("p")).cast("long").as("spp"))
        .select(col("lag"), col("n_pairs"),
          when(col("n_pairs") * col("scc") - col("sc") * col("sc") > 0 &&
               col("n_pairs") * col("spp") - col("sp") * col("sp") > 0,
            (col("n_pairs") * col("scp") - col("sc") * col("sp")).cast("double") /
              (sqrt((col("n_pairs") * col("scc") - col("sc") * col("sc"))
                .cast("double")) *
               sqrt((col("n_pairs") * col("spp") - col("sp") * col("sp"))
                 .cast("double")))).as("r"))
        .orderBy(col("lag"))
    },

    // Trailing-7-day rolling OLS trend of daily order revenue: the six
    // regression sums as window aggregates over the daily frame, x = the
    // day's rank (small ints — no overflow at any calendar span), y =
    // revenue cents. Exact integers until the final two divisions.
    "q_rolling_ols" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
          .as("cents"))
      // x = the day's dense global rank (two-phase OrderStats), and the
      // 7-row sliding sums become a bounded broadcast range self-join on
      // rank (b.x ∈ [a.x−6, a.x] = the previous 6 rows + current, since
      // ranks are consecutive) — no single-partition sliding window.
      val ranked = graft.operators.OrderStats.running(
        daily, Seq(col("day")), Some("x"), boundedInput = true)
      val a = ranked.select(col("day"), col("cents"), col("x"))
      val b = broadcast(ranked.select(col("x").as("bx"),
        col("cents").as("bcents")))
      a.join(b, col("bx").between(col("x") - 6, col("x")))
        .groupBy(col("day"), col("cents"))
        .agg(count(lit(1)).cast("long").as("nw"),
          sum(col("bx")).cast("long").as("sx"),
          sum(col("bcents")).cast("long").as("sy"),
          sum(col("bx") * col("bcents")).cast("long").as("sxy"),
          sum(col("bx") * col("bx")).cast("long").as("sxx"))
        // Closed-form products in exact DECIMAL: sy·sxx reaches ~9e18 at
        // 30× data and overflows a long (caught by the scale-stress run,
        // round 7). The differences stay < 2^63, so the double casts
        // convert identically in both engines.
        .withColumn("det", dec(col("nw"), 38, 0) * dec(col("sxx"), 38, 0) -
          dec(col("sx"), 38, 0) * dec(col("sx"), 38, 0))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          col("cents"), col("nw"),
          when(col("det") =!= 0,
            (dec(col("nw"), 38, 0) * dec(col("sxy"), 38, 0) -
              dec(col("sx"), 38, 0) * dec(col("sy"), 38, 0)).cast("double") /
              col("det").cast("double"))
            .as("slope"),
          when(col("det") =!= 0,
            (dec(col("sy"), 38, 0) * dec(col("sxx"), 38, 0) -
              dec(col("sx"), 38, 0) * dec(col("sxy"), 38, 0)).cast("double") /
              col("det").cast("double"))
            .as("intercept"))
        .orderBy(col("day_s"))
    },

    // Exact substring-span dedup: md5 fingerprints of 40-char windows at
    // stride 20; a span seen in ≥2 distinct docs is "duplicated". Per-doc
    // report of total vs duplicated spans — the span-level signal behind
    // suffix-array substring dedup, at hash-shuffle cost.
    "q_dup_spans" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // One linear pipeline, no self-joins: (doc, hash) grain first (the
      // span stream never materializes twice), per-hash doc counts via a
      // window over h (|rows per h| = distinct docs holding it), then one
      // per-doc aggregation. Three shuffles total; only hashes move.
      // The documents parquet reads as one split; the ~26× span explode
      // and per-span md5 are embarrassingly parallel, so fan out first.
      val sph = docs.repartition(
          s.conf.get("spark.sql.shuffle.partitions").toInt)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - 39, lit(20))).as("pos"),
          col("text"))
        .select(col("doc_id"),
          md5(col("text").substr(col("pos"), lit(40))).as("h"))
        .groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val withNd = sph.withColumn("nd",
        count(lit(1)).over(Window.partitionBy(col("h"))).cast("long"))
      val per = withNd.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("long")
            .as("n_dup_spans"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
        .withColumn("has_dup", col("n_dup_spans") > 0)
        .orderBy(col("doc_id"))
    },

    // Herfindahl–Hirschman concentration of sources within each language:
    // HHI = Σ share² from exact integer counts; effective source count =
    // 1/HHI. The corpus-mix diversity gauge.
    "q_hhi_sources" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("long").as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_sources"),
          sum(col("n") * col("n")).cast("long").as("ssq"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          (col("ssq").cast("double") /
            (col("n_docs") * col("n_docs")).cast("double")).as("hhi"),
          ((col("n_docs") * col("n_docs")).cast("double") /
            col("ssq").cast("double")).as("eff_sources"))
        .orderBy(col("lang"))
    },

    // Vocabulary coverage curve: cumulative token share of the top-30
    // terms (count desc, term tie-break) — the Zipf head that tells a
    // tokenizer budget how much of the corpus the first k entries buy.
    "q_coverage_curve" -> { (s, dir) =>
      val vocab = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).cast("long").as("n"))
      val tot = vocab.agg(sum(col("n")).cast("long").as("tot"))
      // Top-30 terms AND their cumulative share in one bounded
      // TakeOrdered + sequential pass: the cumulative sum over the Zipf
      // head only needs the head, never a full-vocabulary window.
      graft.operators.OrderStats.topK(
          vocab, Seq(col("n").desc, col("term")), 30, "rank",
          Seq("n" -> "cum_n"))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("term"), col("n"), col("cum_n"),
          (col("cum_n").cast("double") / col("tot").cast("double")).as("share"))
        .orderBy(col("rank"))
    })

  val oracle: Map[String, String] = Map(
    "q_cusum_drift" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS sc,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |cs AS (SELECT day, cents,
        |    CAST(SUM(n * cents - sc) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum
        |  FROM daily, tot),
        |pk AS (SELECT CAST(MAX(ABS(cusum)) AS BIGINT) AS peak FROM cs)
        |SELECT strftime(day, '%Y-%m-%d') AS day_s, cents, cusum,
        |  ABS(cusum) = peak AS is_peak
        |FROM cs, pk ORDER BY day_s""".stripMargin,
    "q_xcorr_lagged" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM events GROUP BY 1),
        |d AS (SELECT CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT)
        |    AS d, c, p FROM daily),
        |lags(lag) AS (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)),
        |pr AS (SELECT lag, a.c AS c, b.p AS p
        |  FROM d a CROSS JOIN lags JOIN d b ON b.d = a.d + lag),
        |ag AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM(c * p) AS BIGINT) AS scp,
        |    CAST(SUM(c * c) AS BIGINT) AS scc,
        |    CAST(SUM(p * p) AS BIGINT) AS spp
        |  FROM pr GROUP BY lag)
        |SELECT lag, n_pairs,
        |  CASE WHEN n_pairs * scc - sc * sc > 0 AND n_pairs * spp - sp * sp > 0
        |    THEN CAST(n_pairs * scp - sc * sp AS DOUBLE) /
        |      (SQRT(CAST(n_pairs * scc - sc * sc AS DOUBLE)) *
        |       SQRT(CAST(n_pairs * spp - sp * sp AS DOUBLE))) END AS r
        |FROM ag ORDER BY lag""".stripMargin,
    "q_rolling_ols" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS x
        |  FROM daily),
        |r AS (SELECT day, cents,
        |    CAST(COUNT(*) OVER w7 AS BIGINT) AS nw,
        |    CAST(SUM(x) OVER w7 AS BIGINT) AS sx,
        |    CAST(SUM(cents) OVER w7 AS BIGINT) AS sy,
        |    CAST(SUM(x * cents) OVER w7 AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) OVER w7 AS BIGINT) AS sxx
        |  FROM w WINDOW w7 AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day_s, cents, nw,
        |  CASE WHEN CAST(nw AS HUGEINT) * CAST(sxx AS HUGEINT)
        |      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) <> 0
        |    THEN CAST(CAST(nw AS HUGEINT) * CAST(sxy AS HUGEINT)
        |        - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(nw AS HUGEINT) * CAST(sxx AS HUGEINT)
        |        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
        |    END AS slope,
        |  CASE WHEN CAST(nw AS HUGEINT) * CAST(sxx AS HUGEINT)
        |      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) <> 0
        |    THEN CAST(CAST(sy AS HUGEINT) * CAST(sxx AS HUGEINT)
        |        - CAST(sx AS HUGEINT) * CAST(sxy AS HUGEINT) AS DOUBLE) /
        |      CAST(CAST(nw AS HUGEINT) * CAST(sxx AS HUGEINT)
        |        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
        |    END AS intercept
        |FROM r ORDER BY day_s""".stripMargin,
    "q_dup_spans" ->
      """WITH sp AS (SELECT doc_id, md5(substr(text, CAST(pos AS INTEGER), 40))
        |    AS h
        |  FROM (SELECT doc_id, text,
        |      UNNEST(generate_series(1, length(text) - 39, 20)) AS pos
        |    FROM documents WHERE length(text) >= 40)),
        |dup AS (SELECT h FROM sp GROUP BY h
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
        |  FROM sp GROUP BY doc_id),
        |dd AS (SELECT doc_id, CAST(COUNT(DISTINCT sp.h) AS BIGINT)
        |    AS n_dup_spans
        |  FROM sp JOIN dup ON sp.h = dup.h GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans,
        |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
        |  COALESCE(n_dup_spans, 0) > 0 AS has_dup
        |FROM documents d LEFT JOIN per USING (doc_id)
        |  LEFT JOIN dd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_hhi_sources" ->
      """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_sources,
        |    CAST(SUM(n * n) AS BIGINT) AS ssq
        |  FROM c GROUP BY lang)
        |SELECT lang, n_docs, n_sources,
        |  CAST(ssq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS hhi,
        |  CAST(n_docs * n_docs AS DOUBLE) / CAST(ssq AS DOUBLE)
        |    AS eff_sources
        |FROM g ORDER BY lang""".stripMargin,
    "q_coverage_curve" ->
      """WITH vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term
        |    FROM documents) x
        |  GROUP BY term),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM vocab),
        |rk AS (SELECT term, n,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
        |    CAST(SUM(n) OVER (ORDER BY n DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n
        |  FROM vocab)
        |SELECT rank, term, n, cum_n,
        |  CAST(cum_n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
        |FROM rk, tot WHERE rank <= 30 ORDER BY rank""".stripMargin)
}
