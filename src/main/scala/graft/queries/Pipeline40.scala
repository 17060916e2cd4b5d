package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Fortieth batch: data-quality and forecastability screens — an
  * embedding-norm audit, the p99/p50 tail-amplification ratio per event
  * type, and the demand coefficient-of-variation classification per
  * brand.
  *
  * Scale design notes (100 TB):
  *  - q_embed_norm_audit is a single scan; the norm is an ordered array
  *    fold (deterministic), and the moment sums run over
  *    DECIMAL(18,10)-rounded norms so they are order-independent.
  *  - q_tail_ratio ranks within event type (partitioned windows) and
  *    picks exact rank-based p50/p99 — |types| rows out.
  *  - q_demand_cv reduces lineitem to (brand, month) quantities, then
  *    |brands| exact-moment rows.
  */
object Pipeline40 extends Batch {

  val queries: Map[String, Q] = Map(
    // Embedding data-quality audit: norm moments plus degenerate-vector
    // counts — the "are these vectors usable" gate before any ANN work.
    "q_embed_norm_audit" -> { (s, dir) =>
      // Integer 1e-10 norm units (ROUND on the shared double product —
      // identical in both engines) instead of a double→DECIMAL cast,
      // whose string-vs-binary rounding can diverge at a boundary; and
      // squares integrally divided back down so every sum stays < 2^63
      // at any SF (the round-7 conversion rules).
      val e = graft.operators.Similarity.withNorm(t(s, dir, "embeddings"))
        .withColumn("nrm_u", expr("CAST(ROUND(nrm * 1e10) AS BIGINT)"))
      e.agg(count(lit(1)).cast("long").as("n_vectors"),
          (sum(dec(col("nrm_u"), 38, 0)).cast("double") / lit(1e10)).as("s1"),
          (sum(expr("CAST((CAST(nrm_u AS DECIMAL(38,0)) * CAST(nrm_u AS DECIMAL(38,0))) DIV 10000000000 AS BIGINT)"))
            .cast("double") / lit(1e10)).as("s2"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).cast("long")
            .as("n_zero"),
          sum(when(abs(col("nrm") - 1.0) <= 0.01, 1L).otherwise(0L))
            .cast("long").as("n_unit"))
        .withColumn("mean_norm", col("s1") / col("n_vectors").cast("double"))
        // the 1e-10 truncation can push a near-zero variance epsilon
        // negative — clamp (mirrored) so sqrt stays defined
        .withColumn("sd_norm", sqrt(greatest(
          col("s2") / col("n_vectors").cast("double") -
            col("mean_norm") * col("mean_norm"), lit(0.0))))
        .select(col("n_vectors"), col("mean_norm"), col("sd_norm"),
          col("n_zero"), col("n_unit"))
    },

    // Tail amplification per event type: exact rank-based p50 and p99
    // of the value column (in cents) and their ratio — the SLO-shape
    // readout.
    "q_tail_ratio" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val byT = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      val nt = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
      ev.withColumn("rn", row_number().over(byT).cast("long"))
        .join(broadcast(nt), Seq("event_type"))
        .groupBy(col("event_type"), col("n"))
        .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col("cents")))
            .as("p50_cents"),
          max(when(col("rn") === expr("(99 * (n + 1)) DIV 100"), col("cents")))
            .as("p99_cents"))
        .withColumn("tail_ratio", col("p99_cents").cast("double") /
          col("p50_cents").cast("double"))
        .select(col("event_type"), col("n").as("n_events"),
          col("p50_cents"), col("p99_cents"), col("tail_ratio"))
        .orderBy(col("event_type"))
    },

    // Demand forecastability per brand: coefficient of variation of
    // monthly quantities, classified smooth/erratic at the
    // Syntetos–Boylan CV² = 0.49 cutoff.
    "q_demand_cv" -> { (s, dir) =>
      val mq = t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .groupBy(col("p_brand"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("m"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      mq.groupBy(col("p_brand"))
        .agg(count(lit(1)).cast("long").as("n_months"),
          sum(col("qty")).cast("long").as("sq"),
          sum(dec(col("qty"), 38, 0) * dec(col("qty"), 38, 0))
            .cast("double").as("sqq"))
        .withColumn("mean_qty", col("sq").cast("double") /
          col("n_months").cast("double"))
        .withColumn("cv", sqrt(col("sqq") / col("n_months").cast("double") -
          col("mean_qty") * col("mean_qty")) / col("mean_qty"))
        .withColumn("demand_class",
          when(col("cv") * col("cv") < 0.49, "smooth").otherwise("erratic"))
        .select(col("p_brand"), col("n_months"), col("mean_qty"),
          col("cv"), col("demand_class"))
        .orderBy(col("p_brand"))
    })

  val oracle: Map[String, String] = Map(
    "q_embed_norm_audit" ->
      """WITH e AS (SELECT CAST(SQRT(list_inner_product(
        |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |      AS DOUBLE) AS nrm
        |  FROM embeddings),
        |d AS (SELECT nrm, CAST(ROUND(nrm * 1e10) AS BIGINT) AS nrm_u FROM e),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |    CAST(SUM(nrm_u) AS DOUBLE) / 1e10 AS s1,
        |    CAST(SUM((CAST(nrm_u AS HUGEINT) * CAST(nrm_u AS HUGEINT))
        |      // 10000000000) AS DOUBLE) / 1e10 AS s2,
        |    CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero,
        |    CAST(SUM(CASE WHEN ABS(nrm - 1.0) <= 0.01 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_unit
        |  FROM d)
        |SELECT n_vectors,
        |  s1 / CAST(n_vectors AS DOUBLE) AS mean_norm,
        |  SQRT(GREATEST(s2 / CAST(n_vectors AS DOUBLE)
        |    - (s1 / CAST(n_vectors AS DOUBLE))
        |      * (s1 / CAST(n_vectors AS DOUBLE)), 0.0)) AS sd_norm,
        |  n_zero, n_unit
        |FROM a""".stripMargin,
    "q_tail_ratio" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS BIGINT) AS rn
        |  FROM ev),
        |nt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1),
        |q AS (SELECT r.event_type, nt.n,
        |    MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
        |    MAX(CASE WHEN rn = (99 * (n + 1)) // 100 THEN cents END)
        |      AS p99_cents
        |  FROM r JOIN nt ON nt.event_type = r.event_type
        |  GROUP BY 1, 2)
        |SELECT event_type, n AS n_events, p50_cents, p99_cents,
        |  CAST(p99_cents AS DOUBLE) / CAST(p50_cents AS DOUBLE)
        |    AS tail_ratio
        |FROM q ORDER BY event_type""".stripMargin,
    "q_demand_cv" ->
      """WITH mq AS (SELECT p_brand,
        |    CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |a AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_months,
        |    CAST(SUM(qty) AS BIGINT) AS sq,
        |    CAST(SUM(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS DOUBLE)
        |      AS sqq
        |  FROM mq GROUP BY 1),
        |b AS (SELECT p_brand, n_months,
        |    CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE) AS mean_qty,
        |    SQRT(sqq / CAST(n_months AS DOUBLE)
        |      - (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE))
        |        * (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)))
        |      / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) AS cv
        |  FROM a)
        |SELECT p_brand, n_months, mean_qty, cv,
        |  CASE WHEN cv * cv < 0.49 THEN 'smooth' ELSE 'erratic' END
        |    AS demand_class
        |FROM b ORDER BY p_brand""".stripMargin)
}
