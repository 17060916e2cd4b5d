package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DecimalType

import graft.functions.CurveFunctions.hilbert
import graft.functions.HashFunctions.{md5fast => md5f}
import graft.operators.{Dedup, Multimodal}
import Qs._

/** Ninth batch: distributed skyline (Pareto frontier), per-group OLS,
  * an inverted index with DF pruning, a count-min sketch with exact
  * error accounting, Welch's t-test, unigram-entropy quality signals,
  * Hilbert-curve layout values, a multi-format (ORC + JSON-lines)
  * sink/source roundtrip, market-basket co-occurrence, exact equi-depth
  * histograms, hash-seeded differential privacy, Holt double-exponential
  * smoothing, and deterministic shuffle-sharding for training exports.
  *
  * Scale design:
  *  - Skyline avoids the classic N² dominance join: one groupBy collapses
  *    the data to max-size-per-price, a window over DISTINCT price levels
  *    (|prices|, not |rows|) computes the running frontier, and the
  *    verdict joins back as an equi-join. At petabyte scale the distinct
  *    level frame is what a pre-aggregated cube hands you anyway; the
  *    oracle cross-checks against the quadratic NOT EXISTS definition.
  *  - The count-min sketch is the constant-size mergeable shape: the
  *    d×w counter grid (4×256 here) aggregates with map-side partial
  *    combine; point queries join candidates against the broadcast grid.
  *    Unlike Misra–Gries (Pipeline8) it never needs a candidate pass,
  *    at the cost of one-sided overestimates — which this query measures
  *    exactly against true counts.
  *  - The inverted index prunes postings to mid-DF terms before the
  *    collect_list, so no posting list exceeds the DF cap — the same
  *    guard the dedup family puts on shingle frequency. Posting lists
  *    are doc-sorted strings, the layout an IR system would write.
  *  - Per-group OLS reuses the parity regression's exact-decimal six-sum
  *    recipe (Regression.scala), pushed through a single partial+final
  *    aggregation per group — the grouped generalization of A1.
  *  - Welch's t-test and entropy emit doubles derived ONLY from exact
  *    decimal/integer sums (Pipeline2 float rules), so both engines
  *    compute bit-identical IEEE results.
  *  - The Hilbert value is a codegen'd Catalyst expression
  *    (functions/SpaceFillingCurve.scala) — constant 8-round integer
  *    work per row inside WholeStageCodegen; the oracle replays the
  *    identical rounds as chained SQL CTEs. Hilbert ordering beats
  *    Z-order (q_zorder) on locality: every curve step moves one cell in
  *    one dimension, so a layout write clusters both keys with no
  *    Z-jump discontinuities.
  *  - The sink roundtrip proves the engine can egress/ingest ORC and
  *    JSON-lines with schema fidelity (both land in executor-parallel
  *    files; JSON re-read takes the writer's schema explicitly, never
  *    inference, matching how a production pipeline pins contracts).
  */
object Pipeline9 extends Batch {

  val queries: Map[String, Q] = Map(
    // 2-D skyline over part: minimize retail price, maximize size
    // ("cheapest for at least this size"). A part is on the frontier iff
    // no other part is <= price AND >= size with one strict. Sort-free
    // formulation: collapse to max(size) per distinct price, running max
    // over strictly-lower prices decides dominance.
    "q_skyline" -> { (s, dir) =>
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val g = p.groupBy(col("p_retailprice"))
        .agg(max(col("p_size")).cast("long").as("msize"))
      // Running max over strictly-lower prices (one row per distinct
      // price, so "preceding rows" = "strictly cheaper") via the
      // two-phase range-partitioned OrderStats exclusive max — distinct
      // prices scale with the part table, no single-partition window.
      val fr = graft.operators.OrderStats.running(
        g, Seq(col("p_retailprice")), None, Nil,
        Seq("msize" -> "runmax"))
      p.join(fr, Seq("p_retailprice"))
        // same-price dominance: some point at this price is strictly
        // bigger; lower-price dominance: a cheaper point is >= my size.
        .filter(col("p_size") === col("msize") &&
          (col("runmax").isNull || col("runmax") < col("p_size")))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_partkey"))
    },

    // Per-supplier OLS of discount on quantity: the parity regression
    // (A1/A2) generalized to grouped form. One partial+final aggregation
    // computes the six exact-decimal sums per group; slope/intercept/R²
    // are pure double arithmetic over those sums.
    "q_grouped_regression" -> { (s, dir) =>
      val xq = coalesce(col("l_quantity"), lit(0.0)).cast(DecimalType(18, 2))
      val yq = coalesce(col("l_discount"), lit(0.0)).cast(DecimalType(18, 2))
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          count(lit(1)).cast("double").as("n"),
          sum(xq).cast("double").as("sx"),
          sum(yq).cast("double").as("sy"),
          sum(xq * yq).cast("double").as("sxy"),
          sum(xq * xq).cast("double").as("sxx"),
          sum(yq * yq).cast("double").as("syy"))
      val dx = col("n") * col("sxx") - col("sx") * col("sx")
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / dx
      g.select(
          col("l_suppkey"), col("n_rows"),
          when(dx === 0.0, lit(null)).otherwise(slope).as("slope"),
          when(dx === 0.0, lit(null))
            .otherwise((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
          when(dx === 0.0 || col("n") * col("syy") - col("sy") * col("sy") === 0.0,
            lit(null))
            .otherwise(
              ((col("n") * col("sxy") - col("sx") * col("sy")) *
                (col("n") * col("sxy") - col("sx") * col("sy"))) /
                (dx * (col("n") * col("syy") - col("sy") * col("sy"))))
            .as("r2"))
        .orderBy(col("l_suppkey"))
    },

    // Inverted index over whitespace tokens, pruned to mid-DF terms
    // (5 <= df <= 400, dropping the stopword-grade tail): term ->
    // doc-sorted "doc:tf" postings. The DF cap bounds every posting list
    // BEFORE collect_list materializes it.
    "q_inverted_index" -> { (s, dir) =>
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("w"))
        .agg(
          count(lit(1)).cast("long").as("df"),
          sum(col("tf")).cast("long").as("cf"),
          expr("array_join(transform(array_sort(collect_list(struct(doc_id, tf)))," +
            " p -> concat(cast(p.doc_id as string), ':', cast(p.tf as string))), ',')")
            .as("postings"))
        .filter(col("df").between(5, 400))
        .orderBy(col("w"))
    },

    // Count-min sketch (d=4 rows × w=256 buckets, md5-derived hashes —
    // oracle-replayable): the constant-size mergeable frequency sketch.
    // Estimates min_j grid[j][h_j(w)] for the true top-20 tokens and
    // reports each overestimate exactly.
    "q_cms_topk" -> { (s, dir) =>
      val counts = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val js = explode(array(lit(0), lit(1), lit(2), lit(3))).as("j")
      def bucket = conv(substring(
          md5f(concat(col("j").cast("string"), lit("|"), col("w"))), 1, 8), 16, 10)
        .cast("long") % 256
      val grid = counts.select(col("w"), col("n"), js)
        .withColumn("bucket", bucket)
        .groupBy(col("j"), col("bucket"))
        .agg(sum(col("n")).cast("long").as("cnt"))
      // True top-20 tokens via bounded TakeOrdered + sequential rank.
      val top = graft.operators.OrderStats.topK(
        counts, Seq(col("n").desc, col("w")), 20, "rk")
      top.select(col("rk"), col("w"), col("n"), js)
        .withColumn("bucket", bucket)
        .join(broadcast(grid), Seq("j", "bucket"))
        .groupBy(col("rk"), col("w"), col("n"))
        .agg(min(col("cnt")).as("est"))
        .select(col("rk"), col("w"), col("n").cast("long").as("n_true"),
          col("est"), (col("est") - col("n")).cast("long").as("overcount"))
        .orderBy(col("rk"))
    },

    // Welch's unequal-variance t-test: click vs purchase event values per
    // day of month (the synthetic stream spans one month). Means/
    // variances derive from exact decimal sums; the t statistic and
    // Welch–Satterthwaite df are then pure IEEE arithmetic, identical in
    // both engines.
    "q_ab_ttest" -> { (s, dir) =>
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      // Exact integer cents (values carry 2 decimals): the old
      // DECIMAL(18,6) squares summed to unscaled ~5e19 at sf0.1, past
      // the ~2^53 scaled-decimal cross-engine limit (sf0.1 sweep, round
      // 7). Scale-0 cents² sums stay < 2^53 through sf100.
      val vc = dec(expr("CAST(ROUND(value * 100) AS BIGINT)"), 38, 0)
      def stats(tp: String, sfx: String) = ev
        .filter(col("event_type") === tp)
        .groupBy(dayofmonth(col("ts")).cast("long").as("m"))
        .agg(
          count(lit(1)).cast("long").as("n" + sfx),
          (sum(vc).cast("double") / lit(1e2)).as("sx" + sfx),
          (sum(vc * vc).cast("double") / lit(1e4)).as("sxx" + sfx))
      val j = stats("click", "_a").join(stats("purchase", "_b"), Seq("m"))
        .filter(col("n_a") >= 2 && col("n_b") >= 2)
      val na = col("n_a").cast("double")
      val nb = col("n_b").cast("double")
      val ma = col("sx_a") / na
      val mb = col("sx_b") / nb
      val va = (col("sxx_a") - col("sx_a") * col("sx_a") / na) / (na - 1.0)
      val vb = (col("sxx_b") - col("sx_b") * col("sx_b") / nb) / (nb - 1.0)
      val sea = va / na
      val seb = vb / nb
      val se = sea + seb
      j.select(
          col("m"), col("n_a"), col("n_b"),
          ma.as("mean_a"), mb.as("mean_b"),
          ((ma - mb) / sqrt(se)).as("t_stat"),
          (se * se / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)))
            .as("welch_df"))
        .orderBy(col("m"))
    },

    // Unigram Shannon entropy + type-token ratio per document: the
    // information-density quality signal (low entropy = repetitive/
    // boilerplate text). Per-term -p·ln p rounds to DECIMAL(18,10) before
    // the order-free sum (Pipeline2 float rules).
    "q_text_entropy" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val nt = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      tf.join(nt, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          (-(col("c") / col("n_tokens")) * log(col("c") / col("n_tokens")))
            .cast(DecimalType(18, 10)).as("term"))
        .groupBy(col("doc_id"), col("n_tokens"))
        .agg(
          count(lit(1)).cast("long").as("n_distinct"),
          sum(col("term")).cast("double").as("entropy"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("entropy"),
          (col("n_distinct") / col("n_tokens")).as("ttr"))
        .orderBy(col("doc_id"))
    },

    // Hilbert-curve layout histogram: the locality-preserving sibling of
    // q_zorder. graft_hilbert is a codegen'd Catalyst expression; rows
    // close in hval are close in BOTH key dimensions with no Z-jumps,
    // which is what `repartitionByRange(hval)` + sorted write would use
    // for two-dimensional data skipping.
    "q_hilbert" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select((col("l_partkey") % 256).as("hx"), (col("l_suppkey") % 256).as("hy"))
        .withColumn("hval", hilbert(col("hx"), col("hy")))
        .groupBy(shiftright(col("hval"), 8).as("h_bucket"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("hx")).as("n_x"),
          countDistinct(col("hy")).as("n_y"),
          min(col("hval")).as("h_min"),
          max(col("hval")).as("h_max"))
        .orderBy(col("h_bucket"))
    },

    // Market-basket co-occurrence (the item-item projection behind
    // collaborative filtering): distinct items per order, within-order
    // pairs, pair support counts, top 50. The pair space is bounded by
    // per-order item degree (order size, a data constant), never N² —
    // the same degree-cap argument as the LSH band caps in Dedup.
    "q_item_cooccur" -> { (s, dir) =>
      // items' second reference already rides a ReusedExchange (only the
      // final distinct re-executes); materializing it measured WORSE at
      // both decades (r11b A/B: 1.08× wall, +8% CPU at ×10) — the ckpt
      // barrier costs more than one re-run of the final aggregate.
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = items.select(col("l_orderkey").as("ok"), col("l_partkey").as("p_a"))
      val b = items.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("p_b"))
      val pairs = a.join(b, col("ok") === col("ok_b") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
      graft.operators.OrderStats.topK(
          pairs, Seq(col("n_orders").desc, col("p_a"), col("p_b")), 50, "rk")
        .select(col("rk"), col("p_a"), col("p_b"), col("n_orders"))
        .orderBy(col("rk"))
    },

    // Exact equi-depth histogram (10 bands) of order totals via NTILE
    // over a total order. This is the gold-standard band assignment; the
    // 100 TB path computes boundaries from a quantile sketch and assigns
    // map-side, and this exact query is what validates that sketch.
    "q_quantile_bands" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      // NTILE re-derived from the scalable two-phase global rank: SQL
      // ntile gives the first N % n buckets one extra row, so
      //   band(rn) = (rn-1) DIV (bs+1) + 1              while rn lands in
      //              the r oversized buckets, else
      //              r + (rn - r·(bs+1) - 1) DIV bs + 1
      // with bs = N DIV n, r = N % n. The bs = 0 edge (N < n) always
      // takes the first branch (rn ≤ N = r there), so the DIV bs never
      // evaluates. This replaces ntile over an unpartitioned window —
      // a full-table single-partition sort at scale.
      val ranked = graft.operators.OrderStats.running(
        o, Seq(col("o_totalprice"), col("o_orderkey")), Some("rn"))
      val nrow = o.agg(count(lit(1)).cast("long").as("nn"))
      ranked.crossJoin(broadcast(nrow))
        .withColumn("band", expr(
          """CASE WHEN rn <= (nn % 10) * (nn DIV 10 + 1)
            |     THEN (rn - 1) DIV (nn DIV 10 + 1) + 1
            |     ELSE (nn % 10) + (rn - (nn % 10) * (nn DIV 10 + 1) - 1)
            |            DIV (nn DIV 10) + 1
            |END""".stripMargin).cast("long"))
        .groupBy(col("band"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          dsum(col("o_totalprice"), 18, 2).as("total"))
        .orderBy(col("band"))
    },

    // Differentially-private release of per-source counts: Laplace(b=1)
    // noise via the inverse CDF over a hash-seeded uniform. Deterministic
    // seeding (md5 of the key) is how production DP jobs stay retry-safe
    // and replayable — and is exactly what lets the oracle reproduce the
    // noise bit-for-bit. u = (h + 0.5)/2^52 - 0.5 keeps the uniform
    // strictly inside (-0.5, 0.5), so ln never sees 0.
    "q_dp_count" -> { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
      val h = conv(substring(
          md5f(concat(lit("dp|"), col("source"))), 1, 13), 16, 10).cast("long")
      val u = (h.cast("double") + 0.5) / 4503599627370496.0 - 0.5
      val noise = (-signum(u) * log(lit(1.0) - lit(2.0) * abs(u)))
        .cast(DecimalType(18, 10)).cast("double")
      g.select(col("source"), col("n"), noise.as("noise"),
          (col("n").cast("double") + noise).as("noisy_n"))
        .orderBy(col("source"))
    },

    // Holt double-exponential smoothing (level + trend) over each user's
    // trailing 16 events: the two coupled recurrences run as one fixed-
    // order fold with a struct accumulator, seeded (level=oldest, trend=
    // 0). α = β = 0.5 like q_ewma; identical fold order in both engines
    // ⇒ bit-identical IEEE results. Frame bounded at 16 ⇒ O(1) state.
    "q_holt" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-15, 0)
      t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          expr("aggregate(slice(l, 2, size(l) - 1)," +
            " named_struct('lv', element_at(l, 1), 'tr', 0d)," +
            " (acc, x) -> named_struct(" +
            "   'lv', x * 0.5d + (acc.lv + acc.tr) * 0.5d," +
            "   'tr', (x * 0.5d + (acc.lv + acc.tr) * 0.5d - acc.lv) * 0.5d" +
            "        + acc.tr * 0.5d)) AS st"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("st.lv").as("level"), col("st.tr").as("trend"),
          (col("st.lv") + col("st.tr")).as("forecast"))
        .orderBy(col("event_id"))
    },

    // Deterministic shuffle + shard for a training-data export: global
    // order comes from a key hash (reproducible across runs and engines),
    // shard from the hash prefix. Per-shard stats prove the 8 shards
    // balance; first/last docs pin the within-shard order. All map-side
    // except one per-shard window — the export shape at any corpus size.
    "q_shuffle_shards" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5f(concat(lit("shard|"), col("doc_id").cast("string"))).as("hkey"))
        .withColumn("shard",
          conv(substring(col("hkey"), 1, 8), 16, 10).cast("long") % 8)
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id")))
          .cast("long"))
      d.groupBy(col("shard"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min_by(col("doc_id"), col("pos")).as("first_doc"),
          max_by(col("doc_id"), col("pos")).as("last_doc"))
        .orderBy(col("shard"))
    },

    // Data-quality expectations (the dbt-test / Great-Expectations
    // shape): each check is one aggregate predicate over a table —
    // uniqueness, null rate, referential integrity, value domain — and
    // the suite unions into a single (check, n_bad, pass) report. Every
    // check is a partial+final aggregate or a broadcast/shuffle anti
    // join; nothing scans twice, nothing collects.
    "q_expectations" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def check(name: String, nBad: org.apache.spark.sql.DataFrame) = nBad
        .select(lit(name).as("check"), col("n_bad"),
          (col("n_bad") === 0L).as("pass"))
      val uniq = check("orders.o_orderkey unique",
        o.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_bad")))
      val nn = check("orders.o_custkey not_null",
        o.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .cast("long").as("n_bad")))
      val fk = check("lineitem.l_orderkey references orders",
        li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_bad")))
      val dom = check("lineitem.l_discount in [0,1]",
        li.agg(sum(when(col("l_discount").isNotNull &&
            (col("l_discount") < 0.0 || col("l_discount") > 1.0), 1L)
          .otherwise(0L)).cast("long").as("n_bad")))
      val pos = check("lineitem.l_quantity positive",
        li.agg(sum(when(col("l_quantity").isNotNull && col("l_quantity") <= 0.0, 1L)
          .otherwise(0L)).cast("long").as("n_bad")))
      uniq.union(nn).union(fk).union(dom).union(pos).orderBy(col("check"))
    },

    // Key-skew diagnostics — the report you run BEFORE picking a join
    // strategy at 100 TB: per key column, the key-count distribution's
    // cardinality, max, p50/p99, the heaviest key's row share, and the
    // max/median skew ratio that decides between plain shuffle, AQE skew
    // splitting, and salting (operators/SkewJoin).
    // p50/p99 via the sorted count-HISTOGRAM (distinct per-key counts —
    // a handful of rows), interpolated in the explicit two-product form
    // (ceil−idx)·lo + (idx−loD)·hi that QUANTILE_CONT computes. The
    // percentile() builtin short-circuits TIED bracketing values to the
    // exact value while QUANTILE_CONT's coefficients don't sum to
    // exactly 1 — on a count distribution the p99 brackets are tied
    // almost always, so the builtin is one representation-error frac
    // away from a one-ulp oracle mismatch (the q_winsorize failure
    // class, caught at the ×10 corpus). COST (measured, round-9
    // PercentileCostProbe at ×10/×100/×1000): the builtin is ~2-2.7×
    // faster at every scale — it partially aggregates a value→count
    // map, not raw rows, so the old "one-task value buffering" claim
    // only bites on high-cardinality value domains well past 100M rows
    // per group. The explicit form is kept for ORACLE EXACTNESS, not
    // speed; the wall cost is seconds on a diagnostic query.
    "q_skew_report" -> { (s, dir) =>
      def prof(df: org.apache.spark.sql.DataFrame, c: String) = {
        val keyed = df.groupBy(col(c)).agg(count(lit(1)).cast("long").as("n"))
        val hist = keyed.groupBy(col("n")).agg(count(lit(1)).cast("long").as("c"))
        val stats = keyed.agg(
          count(lit(1)).cast("long").as("n_keys"),
          sum(col("n")).cast("long").as("n_rows"),
          max(col("n")).cast("long").as("max_key_rows"))
        val cum = graft.operators.OrderStats.running(
            hist, Seq(col("n")), None, Seq("c" -> "cumf"),
            boundedInput = true)
          .crossJoin(broadcast(stats))
        def pick(p: Double, tag: String) = {
          val idx = lit(p) * (col("n_keys") - 1).cast("double")
          val lo = floor(idx).cast("long") + 1
          val hi = ceil(idx).cast("long") + 1
          Seq(
            max(when(col("cumf") >= lo && col("cumf") - col("c") < lo,
              col("n"))).as(s"l$tag"),
            max(when(col("cumf") >= hi && col("cumf") - col("c") < hi,
              col("n"))).as(s"h$tag"))
        }
        def interp(p: Double, tag: String) = {
          val idx = lit(p) * (col("n_keys") - 1).cast("double")
          val loD = floor(idx)
          val hiD = ceil(idx)
          when(loD === hiD, col(s"l$tag").cast("double"))
            .otherwise((hiD - idx) * col(s"l$tag") +
              (idx - loD) * col(s"h$tag"))
        }
        cum.groupBy(col("n_keys"), col("n_rows"), col("max_key_rows"))
          .agg((pick(0.5, "50") ++ pick(0.99, "99")).head,
            (pick(0.5, "50") ++ pick(0.99, "99")).tail: _*)
          .select(lit(c).as("key_col"), col("n_keys"), col("n_rows"),
            col("max_key_rows"), interp(0.5, "50").as("p50_key_rows"),
            interp(0.99, "99").as("p99_key_rows"))
          .select(col("key_col"), col("n_keys"), col("n_rows"),
            col("max_key_rows"), col("p50_key_rows"), col("p99_key_rows"),
            (col("max_key_rows") / col("n_rows")).as("top1_share"),
            (col("max_key_rows") / col("p50_key_rows")).as("skew_ratio"))
      }
      prof(t(s, dir, "orders"), "o_custkey")
        .union(prof(t(s, dir, "lineitem"), "l_suppkey"))
        .orderBy(col("key_col"))
    },

    // Audio modality end-to-end: synthesize genuine PCM16LE payloads
    // (sawtooth; length/frequency closed-form in doc_id), parse the raw
    // bytes back in a per-partition batch pass, and emit signal stats —
    // peak, RMS, zero crossings. The byte round-trip exercises real
    // binary-column plumbing; the oracle replays every sample from the
    // closed form. RMS is sqrt(exact-int-sum / n) — IEEE sqrt is
    // correctly rounded, so even the float matches bit-for-bit.
    "q_audio_features" -> { (s, dir) =>
      val a = Multimodal.attachAudioPayload(
        t(s, dir, "documents").select(col("doc_id")))
      Multimodal.audioFeatures(a)
        .select(col("doc_id"),
          col("audio_features.n_samples").as("n_samples"),
          col("audio_features.peak").as("peak"),
          col("audio_features.rms").as("rms"),
          col("audio_features.zero_crossings").as("zero_crossings"))
        .orderBy(col("doc_id"))
    },

    // The plans/RangeBinRule optimizer path: the SAME purchases-in-first-
    // 15-minutes join as q_range_join, but written as a PLAIN non-equi
    // join — no manual binning call. The plan is bound to a variant of
    // s carrying the binWidth conf (s itself is never written), so
    // the injected rule rewrites it to the binned equi-join whenever it
    // is optimized; the oracle is identical to q_range_join's, proving
    // the transparent rewrite changes the plan and nothing else.
    "q_range_join_auto" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
      val intervals = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("start_us"))
        .select(col("user_id"), col("start_us"),
          (col("start_us") + lit(15L * 60 * 1000000)).as("end_us"))
      val out = points.join(intervals,
          col("start_us") <= col("p_us") && col("p_us") < col("end_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases_in_window"))
        .orderBy(col("user_id"))
      val binned = graft.SparkEngine.variant(s,
        graft.plans.RangeBinRule.WidthConf -> (15L * 60 * 1000000).toString)
      Bridge.ofRows(binned, Bridge.logicalPlan(out))
    },

    // Connected components on the co-purchase graph (support >= 3):
    // Dedup.resolveClusters — the two-level union-find contraction built
    // for near-dup clustering — applied unchanged to a second domain.
    // Same scale story: per-partition imperative union-find, cross-level
    // edges shrink geometrically, job count independent of component
    // diameter. The oracle recomputes components via a recursive CTE.
    "q_graph_cc" -> { (s, dir) =>
      // Shared degree-capped per-order part sets (Pipeline12): the pair
      // stream explodes within each capped group — never a
      // lineitem×lineitem self-join — and the support count (orders
      // containing both parts) follows from one aggregation.
      val pairs = Pipeline12.cappedOrderSets(
          t(s, dir, "lineitem")
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
          col("ok"), col("pk"))
        .select(explode(col("items")).as("a_id"), col("items"))
        .select(col("a_id"), explode(col("items")).as("b_id"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .select(col("a_id"), col("b_id"))
      Dedup.resolveClusters(pairs)
        .select(col("doc_id").as("part_key"), col("keep_id").as("component"))
        .orderBy(col("part_key"))
    },

    // Mergeable quantile estimation via bottom-k-by-hash sampling
    // (k = 512 per group): the k smallest md5 keys are a uniform sample
    // that merges associatively across partitions (keep the k smallest
    // of any union) — the bounded-memory path to percentiles at 100 TB.
    // Estimated p50/p90 sit next to the exact values so the error is
    // visible in the result itself; both sides are deterministic, so the
    // oracle replays sample AND truth bit-for-bit.
    "q_quantile_sketch" -> { (s, dir) =>
      // Round-6 shave (was ~5s at sf0.1, dominated by two costs):
      //  1. The bottom-k selection sorted EVERY row. hk is uniform on
      //     [0, 2^60), so the true per-group bottom-512 all sit below
      //     ~(512/n)·2^60; pre-filtering at 8× that threshold passes
      //     ~4k rows per group into the sort while keeping exactness
      //     PROVABLE: if ≥ min(512, n) rows survive the filter, the
      //     bottom-512 are all among them (everything dropped hashes
      //     above a kept value). An assert_true guard enforces that
      //     invariant at runtime — undershoot needs a group to land 8×
      //     under its expected count (Chernoff-impossible at k=512, and
      //     loudly fatal rather than silently wrong if it ever happened).
      //  2. Exact percentiles ran through ObjectHashAggregate, buffering
      //     every value per group and merge-sorting ~n values in ONE
      //     task per group. Re-derived by rank arithmetic instead:
      //     group by (flag, value) with a codegen count, one OrderStats
      //     prefix pass over (flag, value) for per-flag cumulative
      //     counts (full shuffle parallelism — no 3-partition window),
      //     then pick the two bracketing values of idx = p·(n−1) and
      //     interpolate with EXACTLY the builtin's formula
      //     (hi−idx)·lower + (idx−lo)·higher, so results stay
      //     bit-identical to percentile()/QUANTILE_CONT.
      // 60-bit numeric hash prefix, not the 32-char hex string: long
      // comparisons are ~2× cheaper to sort. Fan out before hashing:
      // the table reads as one split; both branches share the one
      // RoundRobin exchange (identical subplan → ReusedExchange).
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      // Materialize the fanned-out projection ONCE at SMALL inputs: a
      // gate-SF table reads as one parquet split, so without the
      // round-robin fan-out + checkpoint, every consumer job (count,
      // threshold, sample, value-histogram, OrderStats' range-bounds
      // sampling — five executions measured) re-runs a 1-task scan.
      // At LARGE inputs the rationale inverts (measured, ×1000 corpus,
      // round 9): the scan is already wide (hundreds of splits), and
      // the checkpoint becomes a 601 M-row materialization — 11.4 GB of
      // spill and most of the query's super-linearity — to save five
      // cheap parallel columnar scans. The size cut is the plan-time
      // statistics estimate (no extra job) of the 4-COLUMN PROJECTION —
      // the frame the checkpoint actually materializes — not the
      // full-width scan: Catalyst's size-only visitor scales a Project's
      // sizeInBytes by output/input row width, so a wide table whose
      // projected slice is still small keeps the 5×-scan-saving
      // checkpoint (round-9 advice). Threshold 1 GiB of projected bytes,
      // overridable via `spark.graft.quantileSketch.ckptMaxBytes`; 0
      // forces the re-scan path at any SF — the hook the forced-path
      // spec and the gate's both-paths oracle run use. Gate SFs and sf1
      // keep the byte-identical checkpointed plan; the decades above
      // re-scan. Values are identical on both paths (spec-pinned).
      val raw = t(s, dir, "lineitem")
      val proj = raw.select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      val ckptMax = s.conf.getOption("spark.graft.quantileSketch.ckptMaxBytes")
        .map(_.toLong).getOrElse(1L << 30)
      val small =
        proj.queryExecution.optimizedPlan.stats.sizeInBytes <= ckptMax
      val base = if (small) proj.repartition(nPart).ckpt() else proj
      val hkMax = 1152921504606846976L // 16^15 = 2^60
      val cnts = base.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"))
      val th = cnts.withColumn("th",
        when(col("n") <= 512L * 8, lit(hkMax))
          .otherwise(expr(s"${hkMax}L DIV n * (512 * 8)")))
      val li = base.withColumn("hk",
        conv(substring(md5f(concat(lit("qs|"), col("l_orderkey").cast("string"),
          lit("|"), col("l_linenumber").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      // Sample rank order must be TOTAL over the payload: the corpus
      // repeats (l_orderkey, l_linenumber) pairs (sf0.1: 600k rows,
      // 457k distinct pairs), duplicates share an IDENTICAL hk (it
      // hashes exactly those two keys), and a rank that ties there
      // lets each engine pick a different row's l_extendedprice at the
      // 512 boundary — caught by the round-12 ×10 oracle sweep
      // (est_p50 52709.095 Spark vs 52601.245 DuckDB at sf1; every
      // gate SF passed because no tie straddled the boundary there).
      // Appending l_extendedprice makes remaining ties exact duplicate
      // rows, whose choice cannot change the sampled value multiset.
      val samp = li.join(broadcast(th), Seq("l_returnflag"))
        .filter(col("hk") <= col("th"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("hk"), col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice"))).cast("long"))
        .filter(col("rn") <= 512)
      // Sample percentiles over the SORTED ≤512-element array, in the
      // explicit two-product interpolation QUANTILE_CONT computes
      // ((ceil−idx)·lo + (idx−loD)·hi, no tied-value short-circuit):
      // the percentile() builtin returns the exact value when the two
      // bracketing sample values TIE, which is one representation-error
      // frac (est_p90's .9) away from a one-ulp oracle mismatch — the
      // q_winsorize failure class caught at the ×10 corpus. collect_list
      // is bounded at 512 rows per group by construction.
      def estP(p: Double) = {
        val m = size(col("sv")).cast("double")
        val idx = lit(p) * (m - 1)
        val loD = floor(idx)
        val hiD = ceil(idx)
        val loV = element_at(col("sv"), (floor(idx) + 1).cast("int"))
        val hiV = element_at(col("sv"), (ceil(idx) + 1).cast("int"))
        when(loD === hiD, loV)
          .otherwise((hiD - idx) * loV + (idx - loD) * hiV)
      }
      val est = samp.groupBy(col("l_returnflag")).agg(
        sort_array(collect_list(col("l_extendedprice"))).as("sv"),
        max(col("rn")).as("got"), max(col("n")).as("n_g"))
        // Exactness guard for the threshold filter (see above): fatal,
        // never silent. assert_true yields null on success, so the
        // filter keeps every row while forcing evaluation.
        .filter(assert_true(col("got") >= least(lit(512L), col("n_g")),
          lit("quantile-sketch threshold prefilter undershot")).isNull)
        .select(col("l_returnflag"), estP(0.5).as("est_p50"),
          estP(0.9).as("est_p90"), col("got"), col("n_g"))
      val byVal = base.groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).cast("long").as("c"))
      // Per-flag cumulative count WITHOUT a 3-partition window: one
      // range-partitioned global prefix over (flag, value), minus each
      // flag's exclusive offset (a flags-count-sized OrderStats on the
      // bounded totals frame).
      val cumg = graft.operators.OrderStats.running(
        byVal, Seq(col("l_returnflag"), col("l_extendedprice")), None,
        Seq("c" -> "cumg"))
      val offs = graft.operators.OrderStats.running(
          cnts, Seq(col("l_returnflag")), None, Seq("n" -> "cumn"),
          boundedInput = true)
        .select(col("l_returnflag"), (col("cumn") - col("n")).as("off"),
          col("n"))
      val cum = cumg.join(broadcast(offs), Seq("l_returnflag"))
        .withColumn("cumf", col("cumg") - col("off"))
      def pick(p: Double, tag: String) = {
        val idx = lit(p) * (col("n") - 1).cast("double")
        val lo = floor(idx).cast("long") + 1
        val hi = ceil(idx).cast("long") + 1
        Seq(
          max(when(col("cumf") >= lo && col("cumf") - col("c") < lo,
            col("l_extendedprice"))).as(s"l$tag"),
          max(when(col("cumf") >= hi && col("cumf") - col("c") < hi,
            col("l_extendedprice"))).as(s"h$tag"))
      }
      def interp(p: Double, tag: String) = {
        val idx = lit(p) * (col("n") - 1).cast("double")
        val loD = floor(idx)
        val hiD = ceil(idx)
        when(loD === hiD, col(s"l$tag"))
          .otherwise((hiD - idx) * col(s"l$tag") + (idx - loD) * col(s"h$tag"))
      }
      val tru = cum
        .groupBy(col("l_returnflag"), col("n"))
        .agg((pick(0.5, "50") ++ pick(0.9, "90")).head,
          (pick(0.5, "50") ++ pick(0.9, "90")).tail: _*)
        .select(col("l_returnflag"), col("n"),
          interp(0.5, "50").as("true_p50"), interp(0.9, "90").as("true_p90"))
      tru.join(est, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          col("est_p50"), col("true_p50"), col("est_p90"), col("true_p90"))
        .orderBy(col("l_returnflag"))
    },

    // Multi-format egress/ingress: write documents as ORC and JSON-lines,
    // read both back, and verify per-source row counts and char sums
    // agree. Both writers run executor-parallel (one file per partition);
    // the JSON re-read pins the writer's schema (no inference).
    "q_sink_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = "/tmp/graft_sink_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      docs.write.mode("overwrite").orc(base + "/orc")
      docs.write.mode("overwrite").json(base + "/json")
      val orc = s.read.orc(base + "/orc")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_orc"), sum(col("n_chars")).cast("long").as("chars_orc"))
      val jsn = s.read.schema(docs.schema).json(base + "/json")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_json"), sum(col("n_chars")).cast("long").as("chars_json"))
      orc.join(jsn, Seq("source")).orderBy(col("source"))
    })

  /** Chained-CTE replay of HilbertIndex.xy2d: one CTE per curve order,
    * each applying the quadrant digit + rotation for its bit plane.
    */
  private val hilbertSql: String = {
    val steps = (0 until 8).map { i =>
      val sBit = 128 >> i
      val prev = if (i == 0) "hb" else s"h$i"
      s"""h${i + 1} AS (SELECT hx, hy,
         |  d + ${sBit * sBit} * (CASE WHEN (x & $sBit) > 0
         |      THEN (CASE WHEN (y & $sBit) > 0 THEN 2 ELSE 3 END)
         |      ELSE (CASE WHEN (y & $sBit) > 0 THEN 1 ELSE 0 END) END) AS d,
         |  CASE WHEN (y & $sBit) > 0 THEN x
         |       WHEN (x & $sBit) > 0 THEN 255 - y ELSE y END AS x,
         |  CASE WHEN (y & $sBit) > 0 THEN y
         |       WHEN (x & $sBit) > 0 THEN 255 - x ELSE x END AS y
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH hb AS (SELECT l_partkey % 256 AS hx, l_suppkey % 256 AS hy,
       |    l_partkey % 256 AS x, l_suppkey % 256 AS y, CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |$steps
       |SELECT CAST(d >> 8 AS BIGINT) AS h_bucket, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT hx) AS BIGINT) AS n_x,
       |  CAST(COUNT(DISTINCT hy) AS BIGINT) AS n_y,
       |  CAST(MIN(d) AS BIGINT) AS h_min, CAST(MAX(d) AS BIGINT) AS h_max
       |FROM h8 GROUP BY h_bucket ORDER BY h_bucket""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // The quadratic dominance definition — deliberately a DIFFERENT
    // formulation than the Spark frontier-scan, so the oracle checks the
    // semantics, not the plan.
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin,

    "q_grouped_regression" ->
      """WITH g AS (SELECT l_suppkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2)) * CAST(COALESCE(l_discount, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, n_rows,
        |  CASE WHEN (n * sxx - sx * sx) = 0.0 THEN NULL
        |       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
        |  CASE WHEN (n * sxx - sx * sx) = 0.0 THEN NULL
        |       ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END AS intercept,
        |  CASE WHEN (n * sxx - sx * sx) = 0.0 OR (n * syy - sy * sy) = 0.0 THEN NULL
        |       ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
        |            / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
        |FROM g ORDER BY l_suppkey""".stripMargin,

    "q_inverted_index" ->
      """WITH tf AS (SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) t
        |  GROUP BY w, doc_id)
        |SELECT w, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        |  STRING_AGG(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY w
        |HAVING COUNT(*) BETWEEN 5 AND 400
        |ORDER BY w""".stripMargin,

    "q_cms_topk" ->
      """WITH counts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) t
        |  GROUP BY w),
        |js AS (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS j),
        |hashed AS (SELECT w, n, j,
        |    ('0x' || SUBSTR(MD5(CAST(j AS VARCHAR) || '|' || w), 1, 8))::BIGINT % 256 AS bucket
        |  FROM counts CROSS JOIN js),
        |grid AS (SELECT j, bucket, CAST(SUM(n) AS BIGINT) AS cnt
        |  FROM hashed GROUP BY j, bucket),
        |top AS (SELECT w, n,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rk
        |  FROM counts QUALIFY rk <= 20)
        |SELECT t.rk, t.w, t.n AS n_true, MIN(g.cnt) AS est,
        |  CAST(MIN(g.cnt) - t.n AS BIGINT) AS overcount
        |FROM top t JOIN hashed h ON h.w = t.w
        |JOIN grid g ON g.j = h.j AND g.bucket = h.bucket
        |GROUP BY t.rk, t.w, t.n
        |ORDER BY t.rk""".stripMargin,

    "q_ab_ttest" ->
      """WITH a AS (SELECT DAY(ts) AS m, CAST(COUNT(*) AS BIGINT) AS n_a,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 1e2 AS sx_a,
        |    CAST(SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 1e4 AS sxx_a
        |  FROM events WHERE value IS NOT NULL AND event_type = 'click' GROUP BY 1),
        |b AS (SELECT DAY(ts) AS m, CAST(COUNT(*) AS BIGINT) AS n_b,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 1e2 AS sx_b,
        |    CAST(SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)
        |      * CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) / 1e4 AS sxx_b
        |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase' GROUP BY 1)
        |SELECT m, n_a, n_b,
        |  sx_a / CAST(n_a AS DOUBLE) AS mean_a,
        |  sx_b / CAST(n_b AS DOUBLE) AS mean_b,
        |  (sx_a / CAST(n_a AS DOUBLE) - sx_b / CAST(n_b AS DOUBLE))
        |    / SQRT(((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |          + ((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) AS t_stat,
        |  (((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |    + ((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |  * (((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |    + ((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |  / ((((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE))
        |       * (((sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
        |     + (((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
        |       * (((sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) AS welch_df
        |FROM a JOIN b USING (m)
        |WHERE n_a >= 2 AND n_b >= 2
        |ORDER BY m""".stripMargin,

    "q_text_entropy" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
        |nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id)
        |SELECT tf.doc_id, n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(CAST(-(c / n_tokens) * LN(c / n_tokens) AS DECIMAL(18,10))) AS DOUBLE) AS entropy,
        |  CAST(COUNT(*) AS BIGINT) / n_tokens AS ttr
        |FROM tf JOIN nt USING (doc_id)
        |GROUP BY tf.doc_id, n_tokens
        |ORDER BY tf.doc_id""".stripMargin,

    "q_hilbert" -> hilbertSql,

    "q_expectations" ->
      """SELECT * FROM (
        |  SELECT 'orders.o_orderkey unique' AS check,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_bad,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS pass FROM orders
        |  UNION ALL
        |  SELECT 'orders.o_custkey not_null',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey references orders',
        |    CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'lineitem.l_discount in [0,1]',
        |    CAST(SUM(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 1.0) THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 1.0) THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_quantity positive',
        |    CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity <= 0.0
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity <= 0.0
        |      THEN 1 ELSE 0 END) = 0
        |  FROM lineitem) u
        |ORDER BY "check"""".stripMargin,

    "q_skew_report" ->
      """WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1),
        |pa AS (SELECT 'o_custkey' AS key_col,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(MAX(n) AS BIGINT) AS max_key_rows,
        |    QUANTILE_CONT(n, 0.5) AS p50_key_rows,
        |    QUANTILE_CONT(n, 0.99) AS p99_key_rows
        |  FROM a),
        |b AS (SELECT l_suppkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |pb AS (SELECT 'l_suppkey' AS key_col,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(MAX(n) AS BIGINT) AS max_key_rows,
        |    QUANTILE_CONT(n, 0.5) AS p50_key_rows,
        |    QUANTILE_CONT(n, 0.99) AS p99_key_rows
        |  FROM b)
        |SELECT key_col, n_keys, n_rows, max_key_rows, p50_key_rows, p99_key_rows,
        |  max_key_rows / n_rows AS top1_share,
        |  max_key_rows / p50_key_rows AS skew_ratio
        |FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb) u
        |ORDER BY key_col""".stripMargin,

    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, 512 + (doc_id % 5) * 128 AS n,
        |    1 + doc_id % 7 AS f FROM documents),
        |s AS (SELECT doc_id, n, i, ((i * f) % 256 - 128) * 256 AS v
        |  FROM d, UNNEST(GENERATE_SERIES(0, CAST(n - 1 AS BIGINT))) AS t(i)),
        |w AS (SELECT doc_id, n, i, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
        |SELECT doc_id, n AS n_samples,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        |  SQRT(SUM(v * v) / n) AS rms,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM w GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // Same oracle text as q_range_join: the optimizer rewrite must be
    // invisible to results.
    "q_range_join_auto" ->
      """WITH p AS (SELECT event_id, epoch_us(ts) AS p_us FROM events
        |  WHERE event_type = 'purchase'),
        |iv AS (SELECT user_id, MIN(epoch_us(ts)) AS start_us,
        |    MIN(epoch_us(ts)) + 900000000 AS end_us
        |  FROM events GROUP BY user_id)
        |SELECT user_id, COUNT(*) AS n_purchases_in_window
        |FROM p JOIN iv ON start_us <= p_us AND p_us < end_us
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_graph_cc" ->
      s"""WITH RECURSIVE
        |${Pipeline12.keptPartsSql()},
        |g AS (SELECT a.l_partkey AS a_id, b.l_partkey AS b_id, COUNT(*) AS n
        |  FROM kept a JOIN kept b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM g WHERE n >= 3),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a AS src, b AS dst FROM sym
        |  UNION SELECT a AS src, a AS dst FROM sym
        |  UNION SELECT r.src, s.b AS dst FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT src AS part_key, MIN(dst) AS component
        |FROM reach GROUP BY src ORDER BY part_key""".stripMargin,

    "q_quantile_sketch" ->
      """WITH li AS (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |    ('0x' || SUBSTR(MD5('qs|' || l_orderkey || '|' || l_linenumber), 1, 15))::BIGINT
        |      AS hk FROM lineitem),
        |samp AS (SELECT l_returnflag, l_extendedprice FROM (
        |    SELECT l_returnflag, l_extendedprice,
        |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |        ORDER BY hk, l_orderkey, l_linenumber, l_extendedprice) AS rn
        |    FROM li) r WHERE rn <= 512),
        |est AS (SELECT l_returnflag,
        |    QUANTILE_CONT(l_extendedprice, 0.5) AS est_p50,
        |    QUANTILE_CONT(l_extendedprice, 0.9) AS est_p90
        |  FROM samp GROUP BY 1),
        |tru AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    QUANTILE_CONT(l_extendedprice, 0.5) AS true_p50,
        |    QUANTILE_CONT(l_extendedprice, 0.9) AS true_p90
        |  FROM lineitem GROUP BY 1)
        |SELECT t.l_returnflag, n, est_p50, true_p50, est_p90, true_p90
        |FROM tru t JOIN est e USING (l_returnflag)
        |ORDER BY t.l_returnflag""".stripMargin,

    "q_item_cooccur" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |g AS (SELECT a.l_partkey AS p_a, b.l_partkey AS p_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT rk, p_a, p_b, n_orders FROM (
        |  SELECT p_a, p_b, n_orders,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_orders DESC, p_a, p_b) AS BIGINT) AS rk
        |  FROM g) r
        |WHERE rk <= 50 ORDER BY rk""".stripMargin,

    "q_quantile_bands" ->
      """WITH b AS (SELECT o_totalprice,
        |    CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS band
        |  FROM orders)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM b GROUP BY band ORDER BY band""".stripMargin,

    "q_dp_count" ->
      """WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM documents GROUP BY source),
        |h AS (SELECT source, n,
        |    CAST(CAST('0x' || SUBSTR(MD5('dp|' || source), 1, 13) AS BIGINT) AS DOUBLE)
        |      AS hd
        |  FROM g),
        |u AS (SELECT source, n,
        |    (hd + 0.5) / 4503599627370496.0 - 0.5 AS u FROM h),
        |z AS (SELECT source, n,
        |    CAST(CAST(-SIGN(u) * LN(1.0 - 2.0 * ABS(u)) AS DECIMAL(18,10)) AS DOUBLE)
        |      AS noise
        |  FROM u)
        |SELECT source, n, noise, CAST(n AS DOUBLE) + noise AS noisy_n
        |FROM z ORDER BY source""".stripMargin,

    "q_holt" ->
      """WITH ev AS (SELECT event_id, user_id, value,
        |    list(value) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
        |  FROM events WHERE value IS NOT NULL),
        |f AS (SELECT event_id, user_id, value,
        |    -- [level, trend] pair as a 2-list: DuckDB's struct-typed
        |    -- lambda accumulator miscomputes the second field under
        |    -- list_reduce (verified against the hand recurrence), the
        |    -- list-typed accumulator folds correctly
        |    list_reduce(
        |      list_transform(l, v -> [v, CAST(0.0 AS DOUBLE)]),
        |      (acc, x) -> [x[1] * 0.5 + (acc[1] + acc[2]) * 0.5,
        |                   (x[1] * 0.5 + (acc[1] + acc[2]) * 0.5 - acc[1]) * 0.5
        |                    + acc[2] * 0.5]) AS st
        |  FROM ev)
        |SELECT event_id, user_id, value, st[1] AS level, st[2] AS trend,
        |  st[1] + st[2] AS forecast
        |FROM f ORDER BY event_id""".stripMargin,

    "q_shuffle_shards" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    MD5('shard|' || doc_id) AS hkey FROM documents),
        |sh AS (SELECT doc_id, n_chars, hkey,
        |    ('0x' || SUBSTR(hkey, 1, 8))::BIGINT % 8 AS shard FROM d),
        |p AS (SELECT doc_id, n_chars, shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS BIGINT)
        |      AS pos
        |  FROM sh)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  MIN_BY(doc_id, pos) AS first_doc, MAX_BY(doc_id, pos) AS last_doc
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    // The oracle reads the SAME parquet the writers started from — equal
    // aggregates on both format legs prove the roundtrip lost nothing.
    "q_sink_roundtrip" ->
      """WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS ch
        |  FROM documents GROUP BY source)
        |SELECT source, n AS n_orc, ch AS chars_orc, n AS n_json, ch AS chars_json
        |FROM g ORDER BY source""".stripMargin)
}
