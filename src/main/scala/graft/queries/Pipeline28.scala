package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Ckpt.CkptOps
import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.Dedup
import Qs._

/** Twenty-eighth batch: corpus composition + structure diagnostics —
  * Simpson language diversity per source, chi-square keyness terms,
  * inter-arrival burstiness, shingle-hash collision audit, co-purchase
  * degree assortativity, and per-user behavioral entropy.
  *
  * Scale design notes (100 TB):
  *  - q_simpson_diversity and q_session_entropy are pure keyed
  *    aggregations (group counts bounded by |sources|×|langs| and
  *    |users|×|event types|); the entropy terms round to DECIMAL(18,10)
  *    before the order-free sum (the q_text_entropy parity trick).
  *  - q_chi2_keyness computes 2×2 contingency cells from three keyed
  *    aggregations (token×source, source totals, token totals) — the
  *    source-totals join is a broadcast, token totals an equi-join on
  *    the token key; χ² itself is arithmetic on exact longs widened to
  *    double in a fixed expression shape.
  *  - q_hash_collision_audit distincts the shingle universe once, then
  *    one multi-countDistinct aggregate; truncated-hash distincts are
  *    the standard cardinality-vs-width audit for sketch sizing.
  *  - q_graph_assortativity reuses the bounded co-purchase edge build
  *    (per-order pair explosion, orders have ≤ a few lines); moment
  *    sums are exact longs, combined in double only at the end.
  *  - q_burstiness's lag is partitioned per event_type (bounded types,
  *    each a time-ordered slice); squared gaps go through decimal on
  *    the Spark side and HUGEINT in DuckDB — both exact, both
  *    correctly rounded on the final double cast.
  */
object Pipeline28 extends Batch {

  val queries: Map[String, Q] = Map(
    // Simpson diversity (1 − Σp²) of the language mix per source — the
    // "is this feed monolingual" curation signal, exact integer moments.
    "q_simpson_diversity" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_l"))
        .groupBy(col("source"))
        .agg(sum(col("n_l")).cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_langs"),
          sum(col("n_l") * col("n_l")).cast("long").as("ss"))
        .withColumn("simpson", lit(1.0) - col("ss").cast("double") /
          (col("n_docs") * col("n_docs")).cast("double"))
        .select(col("source"), col("n_docs"), col("n_langs"), col("simpson"))
        .orderBy(col("source"))
    },

    // Chi-square keyness: the 5 most source-characteristic tokens per
    // source vs the rest of the corpus (2×2 contingency per token ×
    // source, min count 5, ties broken by token).
    "q_chi2_keyness" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val cnt = tok.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).cast("long").as("a"))
      val totS = tok.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("tot_s"))
      val totW = tok.groupBy(col("w"))
        .agg(count(lit(1)).cast("long").as("tot_w"))
      val n = tok.agg(count(lit(1)).cast("long").as("n"))
      val cells = cnt.join(broadcast(totS), Seq("source"))
        .join(totW, Seq("w"))
        .crossJoin(broadcast(n))
        .filter(col("a") >= 5)
        .withColumn("b", col("tot_s") - col("a"))
        .withColumn("c", col("tot_w") - col("a"))
        .withColumn("d", col("n") - col("tot_s") - col("tot_w") + col("a"))
        .withColumn("diff", col("a") * col("d") - col("b") * col("c"))
        .withColumn("chi2",
          col("n").cast("double") *
            (col("diff").cast("double") * col("diff").cast("double")) /
          (((col("tot_s").cast("double") *
            (col("n") - col("tot_s")).cast("double")) *
            col("tot_w").cast("double")) *
            (col("n") - col("tot_w")).cast("double")))
      val bySource = Window.partitionBy(col("source"))
        .orderBy(col("chi2").desc, col("w"))
      cells.withColumn("rk", row_number().over(bySource).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("w").as("token"),
          col("a").as("n_in_source"), col("c").as("n_elsewhere"),
          col("chi2"), col("rk"))
        .orderBy(col("source"), col("rk"))
    },

    // Inter-arrival burstiness per event type: B = (σ−μ)/(σ+μ) of the
    // consecutive-gap distribution (B→−1 periodic, 0 Poisson, →1 bursty).
    "q_burstiness" -> { (s, dir) =>
      val byType = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byType))
        .filter(col("gap_us").isNotNull)
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          sum(col("gap_us")).cast("long").as("s_gap"),
          sum(col("gap_us").cast(DecimalType(38, 0)) *
            col("gap_us").cast(DecimalType(38, 0))).cast("double").as("ss_gap"))
        .withColumn("mean_gap_us",
          col("s_gap").cast("double") / col("n_gaps").cast("double"))
        .withColumn("sd_gap_us",
          sqrt(col("ss_gap") / col("n_gaps").cast("double") -
            col("mean_gap_us") * col("mean_gap_us")))
        .withColumn("burstiness", (col("sd_gap_us") - col("mean_gap_us")) /
          (col("sd_gap_us") + col("mean_gap_us")))
        .select(col("event_type"), col("n_gaps"), col("mean_gap_us"),
          col("sd_gap_us"), col("burstiness"))
        .orderBy(col("event_type"))
    },

    // Hash-width collision audit over the 3-gram shingle universe: how
    // many distinct shingles collapse under 24/36/48-bit truncated MD5 —
    // the evidence for sizing every hash-keyed sketch in the catalog.
    "q_hash_collision_audit" -> { (s, dir) =>
      val u = Dedup.shingles(t(s, dir, "documents"))
        .select(col("shingle")).distinct()
        .withColumn("h", md5f(col("shingle")))
      def trunc(chars: Int) =
        conv(substring(col("h"), 1, chars), 16, 10).cast("long")
      val a = u.agg(count(lit(1)).cast("long").as("n_shingles"),
        countDistinct(trunc(6)).cast("long").as("cd24"),
        countDistinct(trunc(9)).cast("long").as("cd36"),
        countDistinct(trunc(12)).cast("long").as("cd48"))
      def entry(bits: Int, cd: String) =
        struct(lit(bits.toLong).as("bits"), col("n_shingles").as("n_shingles"),
          col(cd).as("n_distinct_hashes"),
          (col("n_shingles") - col(cd)).as("n_collisions"))
      a.select(explode(array(entry(24, "cd24"), entry(36, "cd36"),
          entry(48, "cd48"))).as("r"))
        .select(col("r.*"))
        .orderBy(col("bits"))
    },

    // Degree assortativity of the co-purchase graph: Pearson r of
    // (deg(src), deg(dst)) over directed edges — do high-degree parts
    // co-occur with other high-degree parts? Exact long moments, double
    // only in the final ratio.
    "q_graph_assortativity" -> { (s, dir) =>
      // e is consumed by the degree build AND the xy pair stream, and
      // deg by BOTH join sides: materialize each once (round 11,
      // Pipeline12.ckptEdges + a node-sized ckpt) instead of re-running
      // the (src,dst) dedup aggregate per reference.
      val e = Pipeline12.ckptEdges(t(s, dir, "lineitem"))
      val deg = e.groupBy(col("src")).agg(count(lit(1)).cast("long").as("degree"))
        .ckpt()
      val xy = e
        .join(deg.select(col("src"), col("degree").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("degree").as("dy")), Seq("dst"))
      val nodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
      xy.agg(count(lit(1)).cast("long").as("n_edges"),
          sum(col("dx")).cast("long").as("sx"),
          sum(col("dy")).cast("long").as("sy"),
          sum(col("dx") * col("dy")).cast("long").as("sxy"),
          sum(col("dx") * col("dx")).cast("long").as("sxx"),
          sum(col("dy") * col("dy")).cast("long").as("syy"))
        .crossJoin(broadcast(nodes))
        // A regular graph (all degrees equal) has zero degree variance:
        // assortativity is undefined → NULL, not an ANSI crash
        // (full-catalog fuzz sweep, round 7).
        .withColumn("vprod",
          (col("n_edges").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n_edges").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double")))
        .withColumn("assortativity",
          when(col("vprod") <= 0.0, lit(null).cast("double"))
            .otherwise(
              (col("n_edges").cast("double") * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
              sqrt(col("vprod"))))
        .select(col("n_edges"), col("n_nodes"), col("assortativity"))
    },

    // Behavioral entropy per user: Shannon entropy of the event-type
    // mix (decimal-rounded terms, order-free sum) — the bot/power-user
    // profile signal.
    "q_session_entropy" -> { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
      val c = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val nu = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      c.join(nu, Seq("user_id"))
        .select(col("user_id"), col("n_events"),
          (-(col("c") / col("n_events")) * log(col("c") / col("n_events")))
            .cast(DecimalType(18, 10)).as("term"))
        .groupBy(col("user_id"), col("n_events"))
        .agg(count(lit(1)).cast("long").as("n_types"),
          sum(col("term")).cast("double").as("entropy"))
        .select(col("user_id"), col("n_events").cast("long").as("n_events"),
          col("n_types"), col("entropy"))
        .orderBy(col("user_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_simpson_diversity" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_l
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT source, CAST(SUM(n_l) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_langs,
        |    CAST(SUM(n_l * n_l) AS BIGINT) AS ss
        |  FROM c GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(1 AS DOUBLE) - CAST(ss AS DOUBLE)
        |    / CAST(n_docs * n_docs AS DOUBLE) AS simpson
        |FROM a ORDER BY source""".stripMargin,
    "q_chi2_keyness" ->
      """WITH tok AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a
        |  FROM tok GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tot_s
        |  FROM tok GROUP BY 1),
        |tw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS tot_w
        |  FROM tok GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |cells AS (SELECT cnt.source, cnt.w, a, tot_s, tot_w, n,
        |    tot_s - a AS b, tot_w - a AS c, n - tot_s - tot_w + a AS d
        |  FROM cnt JOIN ts ON cnt.source = ts.source
        |  JOIN tw ON cnt.w = tw.w, nn WHERE a >= 5),
        |x AS (SELECT source, w, a, c,
        |    CAST(n AS DOUBLE)
        |      * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE))
        |      / (((CAST(tot_s AS DOUBLE) * CAST(n - tot_s AS DOUBLE))
        |        * CAST(tot_w AS DOUBLE)) * CAST(n - tot_w AS DOUBLE)) AS chi2
        |  FROM cells),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER
        |    (PARTITION BY source ORDER BY chi2 DESC, w) AS BIGINT) AS rk
        |  FROM x)
        |SELECT source, w AS token, a AS n_in_source, c AS n_elsewhere,
        |  chi2, rk
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "q_burstiness" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
        |      (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(gap_us) AS BIGINT) AS s_gap,
        |    CAST(SUM(CAST(gap_us AS HUGEINT) * CAST(gap_us AS HUGEINT))
        |      AS DOUBLE) AS ss_gap
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1),
        |m AS (SELECT *, CAST(s_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |    AS mean_gap_us FROM a),
        |sd AS (SELECT *, SQRT(ss_gap / CAST(n_gaps AS DOUBLE)
        |    - mean_gap_us * mean_gap_us) AS sd_gap_us FROM m)
        |SELECT event_type, n_gaps, mean_gap_us, sd_gap_us,
        |  (sd_gap_us - mean_gap_us) / (sd_gap_us + mean_gap_us) AS burstiness
        |FROM sd ORDER BY event_type""".stripMargin,
    "q_hash_collision_audit" ->
      """WITH sh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |    AS shingle
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents) w,
        |  UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ws)-2, 0))) AS t(i)),
        |h AS (SELECT shingle, MD5(shingle) AS hh FROM sh),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |    CAST(COUNT(DISTINCT ('0x' || SUBSTR(hh, 1, 6))::BIGINT) AS BIGINT)
        |      AS cd24,
        |    CAST(COUNT(DISTINCT ('0x' || SUBSTR(hh, 1, 9))::BIGINT) AS BIGINT)
        |      AS cd36,
        |    CAST(COUNT(DISTINCT ('0x' || SUBSTR(hh, 1, 12))::BIGINT) AS BIGINT)
        |      AS cd48
        |  FROM h)
        |SELECT CAST(24 AS BIGINT) AS bits, n_shingles,
        |  cd24 AS n_distinct_hashes, n_shingles - cd24 AS n_collisions FROM a
        |UNION ALL SELECT 36, n_shingles, cd36, n_shingles - cd36 FROM a
        |UNION ALL SELECT 48, n_shingles, cd48, n_shingles - cd48 FROM a
        |ORDER BY bits""".stripMargin,
    "q_graph_assortativity" ->
      s"""WITH ${Pipeline12.cappedEdgeSql},
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM e GROUP BY src),
        |xy AS (SELECT dx.degree AS dxv, dy.degree AS dyv
        |  FROM e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src),
        |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |    CAST(SUM(dxv) AS BIGINT) AS sx, CAST(SUM(dyv) AS BIGINT) AS sy,
        |    CAST(SUM(dxv * dyv) AS BIGINT) AS sxy,
        |    CAST(SUM(dxv * dxv) AS BIGINT) AS sxx,
        |    CAST(SUM(dyv * dyv) AS BIGINT) AS syy
        |  FROM xy),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
        |vp AS (SELECT n_edges, sx, sy, sxy,
        |    (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vprod
        |  FROM mo)
        |SELECT n_edges, n_nodes,
        |  CASE WHEN vprod <= 0.0 THEN NULL
        |    ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / SQRT(vprod)
        |  END AS assortativity
        |FROM vp, nd""".stripMargin,
    "q_session_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |nu AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
        |terms AS (SELECT c.user_id, nu.n_events,
        |    CAST(-(CAST(c.c AS DOUBLE) / CAST(nu.n_events AS DOUBLE))
        |      * LN(CAST(c.c AS DOUBLE) / CAST(nu.n_events AS DOUBLE))
        |      AS DECIMAL(18,10)) AS term
        |  FROM c JOIN nu ON c.user_id = nu.user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(term) AS DOUBLE) AS entropy
        |FROM terms GROUP BY user_id, n_events ORDER BY user_id""".stripMargin)
}
