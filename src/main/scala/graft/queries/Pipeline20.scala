package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot
import Qs._

/** Twentieth batch: information-theoretic dependence (mutual information),
  * Markov-chain steady state, cohort lifetime value, and
  * centroid-vs-centroid embedding geometry.
  *
  * Scale design:
  *  - Mutual information needs only the |X|×|Y| contingency cells plus
  *    two marginal frames — three keyed aggregations over the fact
  *    table, window-free. Per-term rounding to DECIMAL(18,10) before
  *    the sum makes the float-log terms order-independent (the
  *    established entropy-parity trick from q_text_entropy).
  *  - The Markov stationary vector lives in integer micro-units and
  *    advances by three unrolled v·P steps — each a broadcast-size join
  *    over the |states|² transition frame; only the transition count is
  *    data-sized. Integer DIV truncation is replayed identically by
  *    both engines, so no float ever enters the iteration.
  *  - Cohort LTV is the canonical retention-revenue layout: one keyed
  *    aggregation to (cohort, age) cells, a partitioned running sum,
  *    and a broadcast of per-cohort sizes.
  *  - Centroid similarity reduces N vectors to k per-label centroids
  *    (exact decimal sums over rounded components) before any pairwise
  *    math, so the k² cosine matrix is driver-trivial at any N; dot
  *    products fold positions in order on both engines
  *    (dot ↔ list_inner_product).
  */
object Pipeline20 extends Batch {

  /** One v·P power-iteration step in integer micro-units. */
  private def markovStep(v: DataFrame, p: DataFrame): DataFrame =
    v.join(p, v("st") === p("a"))
      .groupBy(col("b"))
      .agg(expr("CAST(sum(vm * pm) DIV 1000000 AS BIGINT)").as("vm2"))
      .select(col("b").as("st"), col("vm2").as("vm"))

  val queries: Map[String, Q] = Map(
    // Mutual information between nation and market segment, with the
    // marginal entropies and the normalized MI. Terms are rounded to
    // DECIMAL(18,10) before the order-independent exact sum.
    "q_mutual_info" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select(
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"))
      val cells = cust.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).cast("long").as("nxy"))
      val mx = cust.groupBy(col("nat")).agg(count(lit(1)).cast("long").as("nx"))
      val my = cust.groupBy(col("seg")).agg(count(lit(1)).cast("long").as("ny"))
      val nn = cust.agg(count(lit(1)).cast("long").as("n"))
      val mi = cells.join(broadcast(mx), Seq("nat"))
        .join(broadcast(my), Seq("seg")).crossJoin(broadcast(nn))
        .select(dec((col("nxy") / col("n")) *
          log(col("nxy").cast("double") * col("n") /
            (col("nx") * col("ny"))), 18, 10).as("term"))
        .agg(sum(col("term")).cast("double").as("mi"))
      val hx = mx.crossJoin(broadcast(nn))
        .select(dec(-(col("nx") / col("n")) * log(col("nx") / col("n")),
          18, 10).as("term"))
        .agg(sum(col("term")).cast("double").as("h_nat"))
      val hy = my.crossJoin(broadcast(nn))
        .select(dec(-(col("ny") / col("n")) * log(col("ny") / col("n")),
          18, 10).as("term"))
        .agg(sum(col("term")).cast("double").as("h_seg"))
      nn.crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
        .crossJoin(broadcast(hy))
        .select(col("n"), col("mi"), col("h_nat"), col("h_seg"),
          (col("mi") / sqrt(col("h_nat") * col("h_seg"))).as("nmi"))
    },

    // Steady state of the event-type Markov chain: transition
    // probabilities in integer micro-units (count·1e6 DIV row-total),
    // uniform start, three v·P steps. Every intermediate is a long.
    "q_markov_stationary" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val seq0 = ev
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("nxt").isNotNull)
      // trans is |event types|² rows (a CONSTANT, ≤ ~25) but its lineage
      // — the full events scan + per-user window — re-executed once per
      // downstream reference (rows, p→k, p→v0, and each of the three
      // v·P steps): the round-12 audit counted TEN parquet scans of
      // events in this one plan. Materialize the tiny frame once
      // (Ckpt.shared; sizeFactor 1e-4 — the frame is bounded by
      // the type-pair domain, not the corpus, so it belongs in memory
      // at any scale). Plan: 10 scans → 1.
      val trans = graft.Ckpt.shared(ev,
        seq0.groupBy(col("event_type").as("a"), col("nxt").as("b"))
          .agg(count(lit(1)).cast("long").as("c")),
        sizeFactor = 1e-4)
      val rows = trans.groupBy(col("a").as("ra"))
        .agg(sum(col("c")).cast("long").as("ca"))
      val p = trans.join(broadcast(rows), col("a") === col("ra"))
        .select(col("a"), col("b"), expr("c * 1000000L DIV ca").as("pm"))
      val k = p.select(col("a")).distinct()
        .agg(count(lit(1)).cast("long").as("k"))
      val v0 = p.select(col("a").as("st")).distinct()
        .crossJoin(broadcast(k))
        .select(col("st"), expr("1000000L DIV k").as("vm"))
      val v3 = markovStep(markovStep(markovStep(v0, p), p), p)
      v3.select(col("st").as("event_type"), col("vm").as("stationary_micro"),
          (col("vm").cast("double") / lit(1e6)).as("stationary"))
        .orderBy(col("event_type"))
    },

    // Cohort lifetime value: cohort = calendar week of first event,
    // age = weeks since; cumulative revenue per cohort divided by the
    // cohort's user count. Cents stay integer until the final division.
    "q_cohort_ltv" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("di"),
        round(col("value") * 100).cast("long").as("cents"))
      val coh = ev.groupBy(col("user_id"))
        .agg(expr("CAST(min(di) DIV 7 AS BIGINT)").as("cw"))
      val sizes = coh.groupBy(col("cw"))
        .agg(count(lit(1)).cast("long").as("n_users"))
      val rev = ev.join(coh, Seq("user_id"))
        .groupBy(col("cw"), (expr("di DIV 7") - col("cw")).as("age"))
        .agg(sum(col("cents")).cast("long").as("wk_cents"))
      rev.withColumn("cum_cents", sum(col("wk_cents")).over(
          Window.partitionBy(col("cw")).orderBy(col("age"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(sizes), Seq("cw"))
        .select(col("cw").as("cohort_week"), col("age").cast("long").as("age_weeks"),
          col("n_users"), col("wk_cents"),
          col("cum_cents").cast("long").as("cum_cents"),
          (col("cum_cents").cast("double") /
            (col("n_users").cast("double") * 100.0)).as("ltv_usd"))
        .orderBy(col("cohort_week"), col("age_weeks"))
    },

    // Pairwise cosine similarity between per-label embedding centroids:
    // the k×k geometry report that tells you which classes an ANN index
    // will confuse. Components round to 3 decimals, centroid dims are
    // exact decimal means, and the dot folds positions in order.
    "q_centroid_sim" -> { (s, dir) =>
      val e = t(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        expr("transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE), 3) " +
          "AS DECIMAL(10,3)))").as("qd"))
      val dims = e.select(col("label"), posexplode(col("qd")).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("qv")).cast("double") / count(lit(1))).as("cv"))
      val cents = dims.groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), " +
          "s -> s.cv)").as("emb"))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
      val a = cents.select(col("label").as("label_a"), col("emb").as("ea"),
        col("nrm").as("na"))
      val b = cents.select(col("label").as("label_b"), col("emb").as("eb"),
        col("nrm").as("nb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
        .orderBy(col("label_a"), col("label_b"))
    })

  val oracle: Map[String, String] = Map(
    "q_mutual_info" ->
      """WITH cust AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    c_mktsegment AS seg FROM customer),
        |cells AS (SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS nxy
        |  FROM cust GROUP BY nat, seg),
        |mx AS (SELECT nat, CAST(COUNT(*) AS BIGINT) AS nx
        |  FROM cust GROUP BY nat),
        |my AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS ny
        |  FROM cust GROUP BY seg),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
        |mi AS (SELECT CAST(SUM(CAST((nxy / n) *
        |      LN(CAST(nxy AS DOUBLE) * n / (nx * ny)) AS DECIMAL(18,10)))
        |    AS DOUBLE) AS mi
        |  FROM cells JOIN mx USING (nat) JOIN my USING (seg) CROSS JOIN nn),
        |hx AS (SELECT CAST(SUM(CAST(-(nx / n) * LN(nx / n)
        |    AS DECIMAL(18,10))) AS DOUBLE) AS h_nat
        |  FROM mx CROSS JOIN nn),
        |hy AS (SELECT CAST(SUM(CAST(-(ny / n) * LN(ny / n)
        |    AS DECIMAL(18,10))) AS DOUBLE) AS h_seg
        |  FROM my CROSS JOIN nn)
        |SELECT n, mi, h_nat, h_seg, mi / SQRT(h_nat * h_seg) AS nmi
        |FROM nn CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin,
    "q_markov_stationary" ->
      """WITH seq AS (SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT)
        |    AS c FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |rw AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM tr GROUP BY a),
        |p AS (SELECT a, b, c * 1000000 // ca AS pm
        |  FROM tr JOIN rw USING (a)),
        |kk AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS k FROM p),
        |v0 AS (SELECT a AS st, 1000000 // k AS vm
        |  FROM (SELECT DISTINCT a FROM p) s CROSS JOIN kk),
        |v1 AS (SELECT b AS st, SUM(vm * pm) // 1000000 AS vm
        |  FROM v0 JOIN p ON st = a GROUP BY b),
        |v2 AS (SELECT b AS st, SUM(vm * pm) // 1000000 AS vm
        |  FROM v1 JOIN p ON st = a GROUP BY b),
        |v3 AS (SELECT b AS st, SUM(vm * pm) // 1000000 AS vm
        |  FROM v2 JOIN p ON st = a GROUP BY b)
        |SELECT st AS event_type, CAST(vm AS BIGINT) AS stationary_micro,
        |  CAST(vm AS DOUBLE) / 1e6 AS stationary
        |FROM v3 ORDER BY st""".stripMargin,
    "q_cohort_ltv" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS di,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |coh AS (SELECT user_id, CAST(MIN(di) // 7 AS BIGINT) AS cw
        |  FROM ev GROUP BY user_id),
        |sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM coh GROUP BY cw),
        |rev AS (SELECT cw, CAST(di // 7 - cw AS BIGINT) AS age,
        |    CAST(SUM(cents) AS BIGINT) AS wk_cents
        |  FROM ev JOIN coh USING (user_id) GROUP BY 1, 2)
        |SELECT cw AS cohort_week, age AS age_weeks, n_users, wk_cents,
        |  CAST(SUM(wk_cents) OVER (PARTITION BY cw ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents,
        |  CAST(SUM(wk_cents) OVER (PARTITION BY cw ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    (CAST(n_users AS DOUBLE) * 100.0) AS ltv_usd
        |FROM rev JOIN sizes USING (cw)
        |ORDER BY cohort_week, age_weeks""".stripMargin,
    "q_centroid_sim" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      v -> CAST(ROUND(v, 3) AS DECIMAL(10,3))) AS qd
        |  FROM embeddings),
        |dims AS (SELECT label, pos, CAST(SUM(qv) AS DOUBLE) / COUNT(*) AS cv
        |  FROM (SELECT label, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qv FROM e) u
        |  GROUP BY label, pos),
        |c AS (SELECT label, LIST(cv ORDER BY pos) AS emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS nrm
        |  FROM dims GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos_sim
        |FROM c a JOIN c b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin)
}
