package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{OrderStats, Similarity}
import Qs._

/** Thirty-first batch: distribution-drift and series-memory diagnostics —
  * month-over-month PSI, one-way ANOVA across sources, the
  * Wald–Wolfowitz runs test, 1-D Wasserstein distance between source
  * length distributions, Heaps'-law vocabulary growth, retrieval NDCG@10,
  * and the R/S Hurst exponent of the revenue series.
  *
  * Scale design notes (100 TB):
  *  - q_psi_drift reduces orders to a (month × price-band) count grid in
  *    one shuffle; months and bands are both calendar/domain-bounded, so
  *    the zero-filled grid, the consecutive-month self-join, and the PSI
  *    term sums all run on bounded frames.
  *  - q_anova_f is a single scan → per-source exact moments (k rows) →
  *    one scalar row. Nothing downstream of the first groupBy exceeds
  *    the number of sources.
  *  - q_runs_test / q_hurst_rs operate on the per-day aggregate (bounded
  *    by calendar), so the OrderStats bounded path is correct by
  *    construction; everything before it is one groupBy of orders.
  *  - q_wasserstein_lengths works on the (source × distinct-length)
  *    grid — the value domain is bounded by max document length, NOT by
  *    corpus size, so cumulative fractions via source-partitioned
  *    windows and the all-pairs join stay bounded at any sf. Terms are
  *    exact integers (counts cross-multiplied before division).
  *  - q_heaps_law pays one range shuffle (OrderStats over documents) to
  *    get a global document order, then joins token first-occurrence
  *    ranks against a broadcast 10-row checkpoint grid — the
  *    cumulative-vocabulary curve without any global window.
  *  - q_ndcg_retrieval bounds the query side (vec_id < 300) so the
  *    exact-cosine pair space is #queries × N; ideal DCG comes from a
  *    broadcast 10-row log-discount grid, not a per-query sort.
  */
object Pipeline31 extends Batch {

  val queries: Map[String, Q] = Map(
    // Population Stability Index between consecutive months' order-value
    // band mixes (bands of $50k on o_totalprice, Laplace-smoothed so
    // empty bands are well-defined). The standard "did my score/feature
    // distribution drift" gate, applied month-over-month.
    "q_psi_drift" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV 5000000")
          .as("band"))
      // NOT Ckpt.shared (round 12, measured): counts is referenced six
      // times (months/bands/nBands/totals + both filled sides) and the
      // audit counts 10 orders scans — but those duplicate subtrees run
      // as PARALLEL stages inside one job, each a cheap 2-column pruned
      // scan + tiny aggregation, while an eager checkpoint serializes a
      // full extra job ahead of the query. A/B at sf0.1: ckpt measured
      // wall 1.31→1.61s, CPU 2.3→3.1s — both WORSE. The re-execution
      // is the faster plan here.
      val counts = o.groupBy(col("m"), col("band"))
        .agg(count(lit(1)).cast("long").as("c"))
      val months = counts.select(col("m")).distinct()
      val bands = counts.select(col("band")).distinct()
      val nBands = bands.agg(count(lit(1)).cast("long").as("n_bands"))
      val totals = counts.groupBy(col("m")).agg(sum(col("c")).cast("long").as("n"))
      val filled = months.crossJoin(broadcast(bands))
        .join(counts, Seq("m", "band"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .join(broadcast(totals), Seq("m"))
        .crossJoin(broadcast(nBands))
        // Laplace smoothing: p = (c+1)/(n+B) — exact rationals realized
        // as one double division, the identical shape in the oracle.
        .withColumn("p", (col("c") + 1).cast("double") /
          (col("n") + col("n_bands")).cast("double"))
      filled.as("a")
        .join(filled.as("b"),
          col("b.m") === col("a.m") + 1 && col("b.band") === col("a.band"))
        .select(col("a.m").as("month_a"), col("b.m").as("month_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          ((col("a.p") - col("b.p")) * log(col("a.p") / col("b.p")))
            .cast(DecimalType(18, 10)).as("term"))
        .groupBy(col("month_a"), col("month_b"), col("n_a"), col("n_b"))
        .agg(sum(col("term")).cast("double").as("psi"))
        .orderBy(col("month_a"))
    },

    // One-way ANOVA F across sources on document length: SSB/(k−1) over
    // SSW/(N−k), everything derived from exact per-source moments
    // (count / sum / sum-of-squares) in a single scan.
    "q_anova_f" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("ng"),
          sum(col("n_chars")).cast("long").as("sg"),
          sum(dec(col("n_chars"), 38, 0) * dec(col("n_chars"), 38, 0)).as("qg"))
        // per-group S²/n in exact integer milli-units (scale-0 rule: a
        // scaled-decimal sum converts to double differently across
        // engines once the unscaled value passes ~2^53 — the q_twap /
        // q_price_index trap). Exact integral division of exact decimal
        // products is bit-identical everywhere at any magnitude.
        .withColumn("tg", expr(
          "CAST((CAST(sg AS DECIMAL(38,0)) * CAST(sg AS DECIMAL(38,0)) * 1000) DIV ng AS BIGINT)"))
      g.agg(count(lit(1)).cast("long").as("k_groups"),
          sum(col("ng")).cast("long").as("n_docs"),
          sum(col("sg")).cast("long").as("s_all"),
          sum(col("qg")).cast("double").as("q_all"),
          (sum(dec(col("tg"), 38, 0)).cast("double") / 1e3).as("t_all"))
        .withColumn("ss_between", col("t_all") -
          col("s_all").cast("double") * col("s_all").cast("double") /
            col("n_docs").cast("double"))
        .withColumn("ss_within", col("q_all") - col("t_all"))
        .withColumn("f_stat",
          (col("ss_between") / (col("k_groups") - 1).cast("double")) /
            (col("ss_within") / (col("n_docs") - col("k_groups")).cast("double")))
        .select(col("k_groups"), col("n_docs"), col("ss_between"),
          col("ss_within"), col("f_stat"))
    },

    // Wald–Wolfowitz runs test on the daily revenue series: is
    // above/below-median alternation consistent with randomness? Median
    // is the exact lower median by rank; ties with the median count as
    // "below" (documented, mirrored in the oracle).
    "q_runs_test" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val st = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        boundedInput = true)
      val nf = daily.agg(count(lit(1)).cast("long").as("n"))
      // the exact lower median of the VALUES (ranked by cents, not by
      // day), rooted at a scalar aggregate so the broadcast build
      // classifies scalar in the plan audit
      val byVal = OrderStats.running(daily, Seq(col("cents"), col("day")),
        Some("vrn"), boundedInput = true)
      val med = byVal.crossJoin(broadcast(nf))
        .agg(max(when(col("vrn") === expr("(n + 1) DIV 2"), col("cents")))
          .as("med"))
      val sgn = st.crossJoin(broadcast(med))
        .withColumn("sign", when(col("cents") > col("med"), 1L).otherwise(0L))
      val changes = sgn.as("a")
        .join(sgn.as("b"), col("b.rn") === col("a.rn") + 1)
        .agg(sum(when(col("a.sign") =!= col("b.sign"), 1L).otherwise(0L))
          .cast("long").as("n_changes"))
      sgn.agg(count(lit(1)).cast("long").as("n_days"),
          sum(col("sign")).cast("long").as("n_above"))
        .crossJoin(broadcast(changes))
        .withColumn("n_below", col("n_days") - col("n_above"))
        .withColumn("runs", col("n_changes") + 1)
        .withColumn("two_p", col("n_above") * col("n_below") * 2)
        .withColumn("mu", lit(1.0) +
          col("two_p").cast("double") / col("n_days").cast("double"))
        .withColumn("sigma", sqrt(
          (dec(col("two_p"), 38, 0) * dec(col("two_p") - col("n_days"), 38, 0))
            .cast("double") /
          (dec(col("n_days"), 38, 0) * dec(col("n_days"), 38, 0) *
            dec(col("n_days") - 1, 38, 0)).cast("double")))
        .withColumn("z", (col("runs").cast("double") - col("mu")) / col("sigma"))
        .select(col("n_days"), col("n_above"), col("n_below"),
          col("runs"), col("z"))
    },

    // 1-D Wasserstein (earth-mover) distance between every pair of
    // sources' document-length distributions: W1 = Σ_v |F_a − F_b|·gap,
    // with the CDF gap terms kept as exact cross-multiplied integers and
    // divided by n_a·n_b only once at the end.
    "q_wasserstein_lengths" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      // NOT Ckpt.shared (round 12, measured): vals/totals/filled are all
      // multiply-referenced (8 documents scans in the audit), but each
      // duplicate is a cheap 2-column pruned scan feeding tiny
      // aggregations that run as PARALLEL stages inside one job; three
      // eager checkpoints serialize three extra jobs ahead of the query
      // and measured wall 0.96→1.47s, CPU 3.9→4.4s — both WORSE.
      val vals = d.select(col("n_chars")).distinct()
      val stv = OrderStats.running(vals, Seq(col("n_chars")), Some("vrn"),
        boundedInput = true)
      val gaps = stv.as("a")
        .join(stv.as("b"), col("b.vrn") === col("a.vrn") + 1, "left")
        .select(col("a.n_chars").as("n_chars"),
          coalesce(col("b.n_chars") - col("a.n_chars"), lit(0L)).as("gap"))
      val counts = d.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).cast("long").as("c"))
      val sources = d.select(col("source")).distinct()
      val totals = d.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
      val filled = sources.crossJoin(broadcast(vals))
        .join(counts, Seq("source", "n_chars"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("f", sum(col("c")).over(Window.partitionBy(col("source"))
          .orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      filled.as("x")
        .join(filled.as("y"), col("x.n_chars") === col("y.n_chars") &&
          col("x.source") < col("y.source"))
        .join(gaps.withColumnRenamed("n_chars", "v"),
          col("x.n_chars") === col("v"))
        .join(broadcast(totals.select(col("source").as("source_a"),
          col("n").as("n_a"))), col("x.source") === col("source_a"))
        .join(broadcast(totals.select(col("source").as("source_b"),
          col("n").as("n_b"))), col("y.source") === col("source_b"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          (abs(dec(col("x.f"), 38, 0) * dec(col("n_b"), 38, 0) -
            dec(col("y.f"), 38, 0) * dec(col("n_a"), 38, 0)) *
            dec(col("gap"), 38, 0)).as("term"))
        .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
        .agg((sum(col("term")).cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("w1"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Heaps'-law vocabulary growth over 3-word shingles: distinct-shingle
    // count V against processed-shingle count N at ten corpus checkpoints
    // (documents in doc_id order), plus the fitted log-log slope β
    // (V ≈ K·N^β). Shingles, not words: the generated corpus has a
    // 31-word vocabulary that saturates within 50 docs (word-level β is
    // degenerately 0), and the shingle count is the quantity every
    // MinHash/LSH dedup budget planner actually sizes against. N counts
    // per-doc-distinct shingles — exactly what the LSH pipeline
    // processes downstream of Dedup.shingles.
    "q_heaps_law" -> { (s, dir) =>
      val docs = OrderStats.running(
        t(s, dir, "documents").select(col("doc_id")),
        Seq(col("doc_id")), Some("rn"))
      // sh (shingles ⋈ doc ranks) feeds both the vocabulary-growth and
      // token-count branches: the shingle explode + distinct + rank join
      // executed twice (documents scanned 2×) — materialize once
      // (round 11, Ckpt.shared).
      val sh = graft.Ckpt.shared(t(s, dir, "documents"),
        graft.operators.Dedup.shingles(t(s, dir, "documents"))
          .join(docs, Seq("doc_id")))
      val nf = t(s, dir, "documents").agg(count(lit(1)).cast("long").as("n"))
      // 10-row checkpoint grid: a range leaf crossed with a 1-row
      // aggregate — statically bounded, classified so by ExplainAudit
      val grid = s.range(1, 11).select(col("id").cast("long").as("j"))
        .crossJoin(broadcast(nf))
        .select(col("j"), expr("(j * n) DIV 10").as("k_docs"))
      val tokFirst = sh.groupBy(col("shingle")).agg(min(col("rn")).as("first_rn"))
      val vocab = tokFirst.join(broadcast(grid), col("first_rn") <= col("k_docs"))
        .groupBy(col("j"), col("k_docs"))
        .agg(count(lit(1)).cast("long").as("vocab"))
      val toks = sh
        .groupBy(col("rn")).agg(count(lit(1)).cast("long").as("c"))
        .join(broadcast(grid), col("rn") <= col("k_docs"))
        .groupBy(col("j"), col("k_docs"))
        .agg(sum(col("c")).cast("long").as("n_tokens"))
      // pts is TEN rows but is referenced twice (the OLS aggregate and
      // the final report), and each execution re-runs both corpus-sized
      // groupBys over the shingle blocks (tokFirst's distinct-shingle
      // min-rank is the expensive one). Materialize the 10-row frame
      // once (round 12; sizeFactor 1e-4 — grid-bounded, not
      // corpus-bounded).
      val pts = graft.Ckpt.shared(t(s, dir, "documents"),
        vocab.join(toks, Seq("j", "k_docs"))
          .withColumn("x", log(col("n_tokens").cast("double")).cast(DecimalType(10, 5)))
          .withColumn("y", log(col("vocab").cast("double")).cast(DecimalType(10, 5))),
        sizeFactor = 1e-4)
      val ols = pts.agg(count(lit(1)).cast("long").as("np"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(((col("np").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("np").cast("double") * col("sxx") - col("sx") * col("sx")))
          .as("beta"))
      pts.crossJoin(broadcast(ols))
        .select(col("j"), col("k_docs"), col("n_tokens"), col("vocab"), col("beta"))
        .orderBy(col("j"))
    },

    // Retrieval quality: NDCG@10 of exact-cosine ranking per probe
    // query, relevance = same label as the query. Ideal DCG from the
    // corpus-wide relevant count, so a perfectly-ordered index scores 1.
    "q_ndcg_retrieval" -> { (s, dir) =>
      val e = Similarity.withNorm(t(s, dir, "embeddings"))
      val lbl = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      // limit(300) is a no-op (vec_ids are unique, so the filter already
      // yields <= 300 rows) but pins the probe side statically bounded
      val knn = Similarity.bruteForceKnn(
        e.filter(col("vec_id") < 300).limit(300), e, k = 10)
      val dcg = knn
        .join(lbl.select(col("vec_id").as("query_id"), col("label").as("ql")),
          Seq("query_id"))
        .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          Seq("neighbor_id"))
        .withColumn("term",
          (when(col("ql") === col("nl"), 1.0).otherwise(0.0) /
            log2(col("rk").cast("double") + 1.0)).cast(DecimalType(18, 10)))
        .groupBy(col("query_id"), col("ql"))
        .agg(sum(col("term")).cast("double").as("dcg"))
      val labelCnt = lbl.groupBy(col("label"))
        .agg(count(lit(1)).cast("long").as("m_tot"))
      val discounts = s.range(1, 11)
        .select(col("id").cast("long").as("i"))
        .withColumn("dterm",
          (lit(1.0) / log2(col("i").cast("double") + 1.0))
            .cast(DecimalType(18, 10)))
      val idcg = dcg
        .join(broadcast(labelCnt), col("ql") === col("label"))
        .withColumn("n_rel", col("m_tot") - 1)
        .join(broadcast(discounts), col("i") <= least(lit(10L), col("n_rel")))
        .groupBy(col("query_id"), col("n_rel"), col("dcg"))
        .agg(sum(col("dterm")).cast("double").as("idcg"))
      dcg.select(col("query_id")).join(idcg, Seq("query_id"), "left")
        .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
        .withColumn("dcg2", coalesce(col("dcg"), lit(0.0)))
        .withColumn("idcg2", coalesce(col("idcg"), lit(0.0)))
        .withColumn("ndcg", when(col("idcg2") > 0.0, col("dcg2") / col("idcg2"))
          .otherwise(lit(0.0)))
        .select(col("query_id"), col("n_rel"), col("dcg2").as("dcg"),
          col("idcg2").as("idcg"), col("ndcg"))
        .orderBy(col("query_id"))
    },

    // R/S Hurst exponent of the daily-revenue series: rescaled range
    // over window sizes 8/16/32/64, fitted log-log. Deviations are kept
    // as exact scaled integers (w·prefix − j·segsum), so R/S =
    // R_scaled / √(w·Σx² − (Σx)²) needs exactly one sqrt per segment.
    "q_hurst_rs" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val st = OrderStats.running(daily, Seq(col("day")), Some("rn"),
        cumLong = Seq(("cents", "prefix")), boundedInput = true)
      val e = st.withColumn("w",
          explode(array(lit(8L), lit(16L), lit(32L), lit(64L))))
        .withColumn("seg", expr("(rn - 1) DIV w"))
        .withColumn("j", col("rn") - col("seg") * col("w"))
      val part = Window.partitionBy(col("w"), col("seg"))
      val rows = e
        .withColumn("base", min(col("prefix") - col("cents")).over(part))
        .withColumn("ssum", sum(col("cents")).over(part))
        .withColumn("cnt", count(lit(1)).over(part))
        .filter(col("cnt") === col("w"))
        .withColumn("dev",
          col("w") * (col("prefix") - col("base")) - col("j") * col("ssum"))
      val segs = rows.groupBy(col("w"), col("seg"), col("ssum"))
        .agg((max(col("dev")) - min(col("dev"))).as("rsc"),
          sum(dec(col("cents"), 38, 0) * dec(col("cents"), 38, 0)).as("q2"))
        .withColumn("denom2", dec(col("w"), 38, 0) * col("q2") -
          dec(col("ssum"), 38, 0) * dec(col("ssum"), 38, 0))
        .filter(col("denom2") > 0)
        // denom2 (w·Σc² − (Σc)²) passes ~2^63 at sf1 — mirrored hi/lo
        // conversion before the double sqrt (round-7 sweep class).
        .withColumn("lr", log(col("rsc").cast("double") /
          sqrt(dblBig("denom2"))).cast(DecimalType(10, 5)))
      val perW = segs.groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("n_segments"),
          (sum(col("lr")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_log_rs"))
        .withColumn("x", log(col("w").cast("double")).cast(DecimalType(10, 5)))
        .withColumn("y", col("mean_log_rs").cast(DecimalType(10, 5)))
      val ols = perW.agg(count(lit(1)).cast("long").as("np"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(((col("np").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("np").cast("double") * col("sxx") - col("sx") * col("sx")))
          .as("hurst"))
      perW.crossJoin(broadcast(ols))
        .select(col("w"), col("n_segments"), col("mean_log_rs"), col("hurst"))
        .orderBy(col("w"))
    })

  val oracle: Map[String, String] = Map(
    "q_psi_drift" ->
      """WITH o AS (SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)
        |      AS BIGINT) AS m,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000 AS band
        |  FROM orders),
        |counts AS (SELECT m, band, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM o GROUP BY 1, 2),
        |months AS (SELECT DISTINCT m FROM counts),
        |bands AS (SELECT DISTINCT band FROM counts),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bands FROM bands),
        |totals AS (SELECT m, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
        |filled AS (SELECT months.m, bands.band,
        |    COALESCE(counts.c, 0) AS c, totals.n, nb.n_bands,
        |    CAST(COALESCE(counts.c, 0) + 1 AS DOUBLE)
        |      / CAST(totals.n + nb.n_bands AS DOUBLE) AS p
        |  FROM months CROSS JOIN bands
        |  LEFT JOIN counts ON counts.m = months.m AND counts.band = bands.band
        |  JOIN totals ON totals.m = months.m
        |  CROSS JOIN nb)
        |SELECT a.m AS month_a, b.m AS month_b, a.n AS n_a, b.n AS n_b,
        |  CAST(SUM(CAST((a.p - b.p) * LN(a.p / b.p) AS DECIMAL(18,10)))
        |    AS DOUBLE) AS psi
        |FROM filled a JOIN filled b ON b.m = a.m + 1 AND b.band = a.band
        |GROUP BY 1, 2, 3, 4 ORDER BY month_a""".stripMargin,
    "q_anova_f" ->
      """WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(n_chars) AS BIGINT) AS sg,
        |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS qg,
        |    CAST((CAST(SUM(n_chars) AS HUGEINT) * CAST(SUM(n_chars) AS HUGEINT)
        |      * 1000) // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS tg
        |  FROM documents GROUP BY source),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |    CAST(SUM(ng) AS BIGINT) AS n_docs,
        |    CAST(SUM(sg) AS BIGINT) AS s_all,
        |    CAST(SUM(qg) AS DOUBLE) AS q_all,
        |    CAST(SUM(CAST(tg AS HUGEINT)) AS DOUBLE) / 1e3 AS t_all
        |  FROM g)
        |SELECT k_groups, n_docs,
        |  t_all - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) AS ss_between,
        |  q_all - t_all AS ss_within,
        |  ((t_all - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
        |      / CAST(n_docs AS DOUBLE)) / CAST(k_groups - 1 AS DOUBLE))
        |    / ((q_all - t_all) / CAST(n_docs - k_groups AS DOUBLE)) AS f_stat
        |FROM a""".stripMargin,
    "q_runs_test" ->
      """WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn FROM d),
        |v AS (SELECT cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cents, day) AS BIGINT) AS vrn
        |  FROM d),
        |nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        |med AS (SELECT cents AS med FROM v, nf WHERE vrn = (n + 1) // 2),
        |sgn AS (SELECT rn, CASE WHEN cents > med THEN 1 ELSE 0 END AS sign
        |  FROM r, med),
        |ch AS (SELECT CAST(SUM(CASE WHEN a.sign <> b.sign THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_changes
        |  FROM sgn a JOIN sgn b ON b.rn = a.rn + 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(sign) AS BIGINT) AS n_above FROM sgn)
        |SELECT n_days, n_above, n_days - n_above AS n_below,
        |  n_changes + 1 AS runs,
        |  (CAST(n_changes + 1 AS DOUBLE) -
        |    (CAST(1 AS DOUBLE) + CAST(2 * n_above * (n_days - n_above) AS DOUBLE)
        |      / CAST(n_days AS DOUBLE)))
        |  / SQRT(CAST(CAST(2 * n_above * (n_days - n_above) AS HUGEINT)
        |      * CAST(2 * n_above * (n_days - n_above) - n_days AS HUGEINT)
        |      AS DOUBLE)
        |    / CAST(CAST(n_days AS HUGEINT) * CAST(n_days AS HUGEINT)
        |      * CAST(n_days - 1 AS HUGEINT) AS DOUBLE)) AS z
        |FROM st, ch""".stripMargin,
    "q_wasserstein_lengths" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |vals AS (SELECT DISTINCT n_chars FROM d),
        |stv AS (SELECT n_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars) AS BIGINT) AS vrn
        |  FROM vals),
        |gaps AS (SELECT a.n_chars, COALESCE(b.n_chars - a.n_chars, 0) AS gap
        |  FROM stv a LEFT JOIN stv b ON b.vrn = a.vrn + 1),
        |counts AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |sources AS (SELECT DISTINCT source FROM d),
        |totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1),
        |filled AS (SELECT sources.source, vals.n_chars,
        |    SUM(COALESCE(counts.c, 0)) OVER (PARTITION BY sources.source
        |      ORDER BY vals.n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
        |  FROM sources CROSS JOIN vals
        |  LEFT JOIN counts ON counts.source = sources.source
        |    AND counts.n_chars = vals.n_chars)
        |SELECT x.source AS source_a, y.source AS source_b,
        |  ta.n AS n_a, tb.n AS n_b,
        |  CAST(SUM(ABS(CAST(x.f AS HUGEINT) * CAST(tb.n AS HUGEINT)
        |      - CAST(y.f AS HUGEINT) * CAST(ta.n AS HUGEINT))
        |    * CAST(gaps.gap AS HUGEINT)) AS DOUBLE)
        |    / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)) AS w1
        |FROM filled x JOIN filled y ON x.n_chars = y.n_chars
        |    AND x.source < y.source
        |  JOIN gaps ON gaps.n_chars = x.n_chars
        |  JOIN totals ta ON ta.source = x.source
        |  JOIN totals tb ON tb.source = y.source
        |GROUP BY 1, 2, 3, 4 ORDER BY source_a, source_b""".stripMargin,
    "q_heaps_law" ->
      s"""WITH ${Pipeline.shinglesSql},
        |r AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |jn AS (SELECT sh.shingle, r.rn FROM sh JOIN r ON sh.doc_id = r.doc_id),
        |nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |grid AS (SELECT CAST(j AS BIGINT) AS j, (CAST(j AS BIGINT) * n) // 10
        |      AS k_docs
        |  FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS j) s, nf),
        |tf AS (SELECT shingle, MIN(rn) AS first_rn FROM jn GROUP BY 1),
        |vocab AS (SELECT j, k_docs, CAST(COUNT(*) AS BIGINT) AS vocab
        |  FROM tf JOIN grid ON tf.first_rn <= grid.k_docs GROUP BY 1, 2),
        |dc AS (SELECT rn, CAST(COUNT(*) AS BIGINT) AS c FROM jn GROUP BY 1),
        |toks AS (SELECT j, k_docs, CAST(SUM(c) AS BIGINT) AS n_tokens
        |  FROM dc JOIN grid ON dc.rn <= grid.k_docs GROUP BY 1, 2),
        |pts AS (SELECT vocab.j, vocab.k_docs, toks.n_tokens, vocab.vocab,
        |    CAST(LN(CAST(toks.n_tokens AS DOUBLE)) AS DECIMAL(10,5)) AS x,
        |    CAST(LN(CAST(vocab.vocab AS DOUBLE)) AS DECIMAL(10,5)) AS y
        |  FROM vocab JOIN toks ON vocab.j = toks.j
        |    AND vocab.k_docs = toks.k_docs),
        |ols AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT j, k_docs, n_tokens, vocab,
        |  (CAST(np AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(np AS DOUBLE) * sxx - sx * sx) AS beta
        |FROM pts, ols ORDER BY j""".stripMargin,
    "q_ndcg_retrieval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |knn AS (SELECT query_id, neighbor_id, rk FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_inner_product(q.emb, c.emb) / (q.nrm * c.nrm) DESC,
        |      c.vec_id) AS BIGINT) AS rk
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 300) t
        |  WHERE rk <= 10),
        |dcg AS (SELECT knn.query_id, ql.label AS ql,
        |    CAST(SUM(CAST(
        |      (CASE WHEN ql.label = nl.label THEN CAST(1 AS DOUBLE)
        |            ELSE CAST(0 AS DOUBLE) END)
        |      / LOG2(CAST(rk AS DOUBLE) + 1.0) AS DECIMAL(18,10)))
        |      AS DOUBLE) AS dcg
        |  FROM knn JOIN e ql ON ql.vec_id = knn.query_id
        |    JOIN e nl ON nl.vec_id = knn.neighbor_id
        |  GROUP BY 1, 2),
        |lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS m_tot
        |  FROM e GROUP BY 1),
        |disc AS (SELECT CAST(i AS BIGINT) AS i,
        |    CAST(CAST(1 AS DOUBLE) / LOG2(CAST(i AS DOUBLE) + 1.0)
        |      AS DECIMAL(18,10)) AS dterm
        |  FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS i) s),
        |idcg AS (SELECT dcg.query_id, lc.m_tot - 1 AS n_rel, dcg.dcg,
        |    CAST(SUM(disc.dterm) AS DOUBLE) AS idcg
        |  FROM dcg JOIN lc ON lc.label = dcg.ql
        |    JOIN disc ON disc.i <= LEAST(10, lc.m_tot - 1)
        |  GROUP BY 1, 2, 3)
        |SELECT dcg.query_id, COALESCE(idcg.n_rel, 0) AS n_rel,
        |  COALESCE(idcg.dcg, 0.0) AS dcg, COALESCE(idcg.idcg, 0.0) AS idcg,
        |  CASE WHEN COALESCE(idcg.idcg, 0.0) > 0.0
        |       THEN COALESCE(idcg.dcg, 0.0) / idcg.idcg
        |       ELSE CAST(0 AS DOUBLE) END AS ndcg
        |FROM dcg LEFT JOIN idcg ON idcg.query_id = dcg.query_id
        |ORDER BY dcg.query_id""".stripMargin,
    "q_hurst_rs" ->
      s"""WITH d AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
        |    CAST(SUM(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS prefix
        |  FROM d),
        |e AS (SELECT r.*, CAST(w AS BIGINT) AS w,
        |    (rn - 1) // CAST(w AS BIGINT) AS seg,
        |    rn - ((rn - 1) // CAST(w AS BIGINT)) * CAST(w AS BIGINT) AS j
        |  FROM r, (SELECT UNNEST([8, 16, 32, 64]) AS w) ws),
        |g AS (SELECT *,
        |    MIN(prefix - cents) OVER (PARTITION BY w, seg) AS base,
        |    SUM(cents) OVER (PARTITION BY w, seg) AS ssum,
        |    COUNT(*) OVER (PARTITION BY w, seg) AS cnt
        |  FROM e),
        |h AS (SELECT w, seg, MAX(ssum) AS ssum,
        |    MAX(w * (prefix - base) - j * ssum)
        |      - MIN(w * (prefix - base) - j * ssum) AS rsc,
        |    SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS q2
        |  FROM g WHERE cnt = w GROUP BY w, seg),
        |i AS (SELECT w, rsc,
        |    CAST(w AS HUGEINT) * q2
        |      - CAST(ssum AS HUGEINT) * CAST(ssum AS HUGEINT) AS denom2
        |  FROM h),
        |terms AS (SELECT w,
        |    CAST(LN(CAST(rsc AS DOUBLE) / SQRT(${dblBigSql("denom2")}))
        |      AS DECIMAL(10,5)) AS lr
        |  FROM i WHERE denom2 > 0),
        |pw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |    CAST(SUM(lr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS mean_log_rs
        |  FROM terms GROUP BY 1),
        |pts AS (SELECT *, CAST(LN(CAST(w AS DOUBLE)) AS DECIMAL(10,5)) AS x,
        |    CAST(mean_log_rs AS DECIMAL(10,5)) AS y
        |  FROM pw),
        |ols AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT w, n_segments, mean_log_rs,
        |  (CAST(np AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(np AS DOUBLE) * sxx - sx * sx) AS hurst
        |FROM pts, ols ORDER BY w""".stripMargin)
}
