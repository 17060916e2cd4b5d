package graft.queries

import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import graft.functions.MisraGries
import Qs._

/** Eighth batch: sketch-driven exact heavy hitters, PPS (probability-
  * proportional-to-size) systematic sampling on an exact distributed
  * prefix sum, time-weighted averages, the Spark 4 VARIANT path for
  * semi-structured data, product-quantization ANN, interval-overlap
  * joins, KMV sketch roll-ups, and order-independent table checksums.
  *
  * Scale design:
  *  - Heavy hitters is the canonical two-pass shape: pass 1 merges O(k)
  *    Misra–Gries partial sketches (no-false-negative candidate set for
  *    any support ≥ N/(k+1)); pass 2 semi-joins the corpus on the
  *    broadcast candidates and counts exactly. The exact-count shuffle
  *    carries only candidate-term rows (≤ k distinct keys) — the full
  *    vocabulary (the unbounded thing at 100 TB) never shuffles.
  *  - PPS sampling needs a global prefix sum of weights — the classic
  *    distributed scan. Rows bucket into key-derived blocks; block sums
  *    (tiny) get running offsets in one single-partition window pass;
  *    rows then cumsum WITHIN their block in parallel, plus the block
  *    offset. Block ids derive from the key, not a partitioner, so the
  *    result is a pure function of the data. At petabyte scale the block
  *    layer recurses (blocks-of-blocks) to keep the offset window small;
  *    one level suffices for any 10^9-block table. Selection arithmetic
  *    is integer cents — exact, no libm, oracle-identical.
  *  - TWAP holds each observation until the next one (step function) and
  *    weights exactly: decimal(value) × micros products, summed exactly,
  *    one double division at the end. One shuffle (the per-user window).
  *  - VARIANT parses once into Spark's binary variant encoding; typed
  *    `variant_get` paths replace per-row string re-parsing — the Spark 4
  *    answer to JSON-heavy event pipelines.
  */
object Pipeline8 extends Batch {

  val queries: Map[String, Q] = Map(
    // All whitespace tokens with support ≥ 0.5% of the corpus, EXACTLY,
    // without ever shuffling the full vocabulary: Misra–Gries candidates
    // (k=512 ⇒ guaranteed recall at support ≥ N/513 > N/200), broadcast
    // semi-join, exact recount of candidates only.
    "q_heavy_hitters" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val cands = toks
        .agg(MisraGries.candidates(col("term"), 512).as("cands"))
        .select(explode(col("cands")).as("term"))
      // Same tokenization, but summed as array sizes: a cheap scalar agg
      // whose 1-row shape stays visible to plan audits (a checkpointed
      // shared subplan would hide it behind an RDD scan).
      val total = t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("nt"))
        .agg(sum(col("nt")).as("total"))
      toks.join(broadcast(cands), Seq("term"), "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .filter(col("n") * 200L >= col("total"))
        .select(col("term"), col("n"))
        .orderBy(col("n").desc, col("term"))
    },

    // Heavy hitters PER GROUP: the same sketch→verify shape, with the
    // Misra–Gries aggregate running under a groupBy — one O(k) sketch
    // per language, per-language exact recount, per-language support
    // threshold (1%). The aggregate composes with grouping for free;
    // nothing global anywhere, so the plan is identical at any number
    // of groups.
    "q_hh_per_group" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      val cands = toks.groupBy(col("lang"))
        .agg(MisraGries.candidates(col("term"), 256).as("cands"))
        .select(col("lang"), explode(col("cands")).as("term"))
      val totals = t(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("total"))
      toks.join(broadcast(cands), Seq("lang", "term"), "left_semi")
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .join(broadcast(totals), Seq("lang"))
        .filter(col("n") * 100L >= col("total"))
        .select(col("lang"), col("term"), col("n"))
        .orderBy(col("lang"), col("n").desc, col("term"))
    },

    // PPS systematic sample of 100 orders: sample points sit at
    // (2j+1)·W/200 along the cumulative-weight axis; an order is drawn
    // once per point inside its (cum-w, cum] span (big orders can be
    // drawn multiple times — standard PPS-with-replacement semantics).
    // Integer cents arithmetic end to end: both engines compute the
    // identical longs, so selection is exact, not approximately equal.
    "q_sample_weighted" -> { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("w"))
      // Distributed scan: key-derived blocks → block sums → running
      // offsets → per-block cumsum. The block-table prefix sum goes
      // through OrderStats (round 6): the old unpartitioned window here
      // executed EAGERLY at build time (the localCheckpoint), so the
      // plan-only NoGlobalWindowSpec never saw it — and the block table
      // is keyspace/4096, which SCALES with the data (1.5M blocks at 6B
      // orders), so it deserves the range-partitioned path, not a
      // single-partition sort. Exclusive offset = inclusive cum − own sum.
      val blocked = o.withColumn("blk", expr("o_orderkey div 4096"))
      val offs = graft.operators.OrderStats.running(
          blocked.groupBy(col("blk")).agg(sum(col("w")).cast("long").as("bsum")),
          Seq(col("blk")), None, Seq("bsum" -> "cumb"))
        .withColumn("off", col("cumb") - col("bsum"))
      val tot = offs.agg(sum(col("bsum")).as("tot"))
      blocked.join(broadcast(offs.select(col("blk"), col("off"))), Seq("blk"))
        .withColumn("cum", col("off") + sum(col("w")).over(
          Window.partitionBy(col("blk")).orderBy(col("o_orderkey"))))
        .crossJoin(broadcast(tot))
        // k(c) = #{ j ≥ 0 : (2j+1)·W ≤ 200·c } — sample points at or
        // below cumulative weight c; draws for this row = k(cum)-k(cum-w).
        .withColumn("k1", when(lit(200L) * col("cum") >= col("tot"),
          expr("(200*cum - tot) div (2*tot) + 1")).otherwise(0L))
        .withColumn("k0", when(lit(200L) * (col("cum") - col("w")) >= col("tot"),
          expr("(200*(cum-w) - tot) div (2*tot) + 1")).otherwise(0L))
        .withColumn("n_draws", col("k1") - col("k0"))
        .filter(col("n_draws") >= 1L)
        .select(col("o_orderkey"), col("w"), col("n_draws"))
        .orderBy(col("o_orderkey"))
    },

    // Time-weighted average of the step function that holds each event's
    // value until the user's next event. Exact decimal value×duration
    // products; the only double op is the final division of two exactly-
    // matching sums. Ties in ts break on event_id in both engines — with
    // equal timestamps the zero-length segment must land on the same row.
    // Weights are MILLISECONDS (identical floor-division of the micros
    // delta in both engines): with micros the numerator's unscaled
    // decimal passes 2^53 and the decimal→double conversion is no longer
    // exact — the one place the two engines may round differently.
    "q_twap" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("dur_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dur_us").isNotNull)
        .withColumn("dur_ms", expr("dur_us div 1000"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_segments"),
          sum(col("dur_us")).as("held_us"),
          (sum(dec(col("value"), 14, 2) * col("dur_ms")).cast("double") /
            sum(col("dur_ms")).cast("double")).as("twap"))
        .orderBy(col("user_id"))
    },

    // Product-quantization ANN with ADC lookup tables: corpus vectors
    // compress to 8 codebook ids (32 bits/vector vs 64×8 bytes raw);
    // queries (vec_id < 30) score the whole corpus via 8 table lookups
    // per vector. Codebooks are per-subspace k-means with exact-decimal
    // Lloyd means, so the whole construction — codes, tables, ranking —
    // is reproducible bit-for-bit by the SQL oracle. See
    // Similarity.pqAdcKnn.
    "q_embed_pq" -> { (s, dir) =>
      graft.operators.Similarity.pqAdcKnn(
        graft.operators.Similarity.withNorm(t(s, dir, "embeddings")),
        m = 8, subDim = 8, ks = 16, iters = 1, nQueries = 30, k = 5)
    },

    // Interval-overlap join: click attention windows (15 min) × purchase
    // consideration windows (1 h) per user, binned on the user timeline —
    // an equi-join on (user, bucket), never a nested-loop. Per-pair home
    // bucket = the later start, so no dedup shuffle. Output aggregates to
    // per-user pair counts and exact overlap micros.
    "q_interval_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("a_id"),
          col("us").as("sa"), (col("us") + 900000000L).as("ea"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("b_id"),
          col("us").as("sb"), (col("us") + 3600000000L).as("eb"))
      graft.operators.IntervalJoin.overlap(
          clicks, purchases, Seq("user_id"), "sa", "ea", "sb", "eb",
          bucketWidth = 900000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
            .as("overlap_us"))
        .orderBy(col("user_id"))
    },

    // KMV sketch ROLL-UP: per-source k-minimum-values term sketches,
    // then a global estimate from merging the per-source k-min sets —
    // never rescanning the corpus. This is the sketch-storage pattern at
    // 100 TB: partitions persist O(k) sketches; any union of partitions
    // answers distinct-count queries later. KMV union (set-union, keep k
    // smallest) is EXACTLY the sketch of the union, so the merged
    // estimate equals the direct global sketch — asserted in the spec,
    // and every number here is md5-deterministic for the SQL oracle.
    "q_sketch_rollup" -> { (s, dir) =>
      val k = 256
      val factor = lit((k - 1).toDouble * 1152921504606846976.0) // (k-1)·2^60
      def estimate(g: org.apache.spark.sql.DataFrame) = g
        .select(col("source"),
          when(col("n") < k, col("n").cast("double"))
            .otherwise(factor / col("hk").cast("double")).as("est_distinct"))
      val hashes = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .select(col("source"),
          conv(substring(md5f(col("term")), 1, 15), 16, 10).cast("long").as("h"))
        .distinct()
      val perSource = hashes.withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rk") <= k)
        .ckpt() // the stored sketches; both outputs read them
      val bySource = estimate(perSource.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), max(col("h")).as("hk")))
      val merged = estimate(perSource
        .select(col("h")).distinct().orderBy(col("h")).limit(k)
        .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
        .select(lit("__all__").as("source"), col("n"), col("hk")))
      bySource.union(merged).orderBy(col("source"))
    },

    // Order-independent table integrity checksums: every replica can
    // compute these without sorting — row md5s folded through XOR and a
    // Mersenne-prime modular sum (two independent algebras, so a swap
    // that fools one fools the other with ~2^-120 odds). The 100 TB use:
    // verify a migration/replication byte-for-byte with one commutative
    // aggregation pass per side. Only integer/string/date columns enter
    // the row hash — float stringification is engine-specific.
    "q_table_checksum" -> { (s, dir) =>
      def rowHash(colsExpr: org.apache.spark.sql.Column) =
        conv(substring(md5f(colsExpr), 1, 15), 16, 10).cast("long")
      def sums(df: org.apache.spark.sql.DataFrame, name: String) = df
        .agg(
          count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_sum"),
          expr("CAST(SUM(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)")
            .as("mod_sum"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("xor_sum"), col("mod_sum"))
      // No fan-out here (round 11, measured): one md5 per ROW over
      // narrow columns is ~1 CPU-s serial at gate scale — below the
      // ~1.4s break-even of a 32-task fan-out on this box — and the
      // exchange would shuffle the full 7-column stream for nothing.
      val li = t(s, dir, "lineitem").select(rowHash(concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd"))).as("h"))
      val o = t(s, dir, "orders").select(rowHash(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))).as("h"))
      sums(li, "lineitem").union(sums(o, "orders"))
        .orderBy(col("table_name"))
    },

    // Median/MAD robust outlier stats — the heavy-tail-safe sibling of
    // q_outliers' mean/std z-scores (one extreme value corrupts a mean;
    // breaking a median takes half the data). Two exact-percentile
    // passes, each a partial+final agg with the tiny per-group stats
    // broadcast back; the 1.4826 factor rescales MAD to σ-equivalents.
    "q_robust_mad" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_quantity").as("q"))
      val med = li.groupBy(col("rf"))
        .agg(expr("percentile(q, 0.5)").as("med"))
      val dev = li.join(broadcast(med), Seq("rf"))
        .withColumn("dev", abs(col("q") - col("med")))
      val mad = dev.groupBy(col("rf"))
        .agg(first(col("med")).as("med"), expr("percentile(dev, 0.5)").as("mad"))
      dev.select(col("rf"), col("dev"))
        .join(broadcast(mad), Seq("rf"))
        .groupBy(col("rf"), col("med"), col("mad"))
        .agg(sum(when(col("dev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_flagged"))
        .select(col("rf").as("l_returnflag"), col("med"), col("mad"),
          col("n_flagged"))
        .orderBy(col("l_returnflag"))
    },

    // IVF-PQ composite ANN: coarse cells prune WHICH vectors each query
    // scores (nprobe=2 of 16 cells), PQ codes compress HOW (8 table
    // lookups per candidate). The production billion-scale shape, fully
    // replayed by the SQL oracle — IVF k-means, PQ codebooks, codes,
    // ADC tables, and the ranking, all bit-deterministic.
    "q_embed_ivfpq" -> { (s, dir) =>
      graft.operators.Similarity.ivfPqKnn(
        graft.operators.Similarity.withNorm(t(s, dir, "embeddings")),
        nCells = 16, cellIters = 1, m = 8, subDim = 8, ks = 16,
        pqIters = 1, nprobe = 2, nQueries = 30, k = 5)
    },

    // Residual IVF-PQ: same composite shape, but the PQ codebooks
    // quantize per-cell residuals (emb - centroid) — centered, small-
    // spread values the same 16 entries encode with far less error.
    // ADC adds back the query×centroid scalar per probed cell. The
    // recall improvement over q_embed_ivfpq is pinned in Pipeline8Spec.
    "q_embed_ivfpq_res" -> { (s, dir) =>
      graft.operators.Similarity.ivfPqResidualKnn(
        graft.operators.Similarity.withNorm(t(s, dir, "embeddings")),
        nCells = 16, cellIters = 1, m = 8, subDim = 8, ks = 16,
        pqIters = 1, nprobe = 2, nQueries = 30, k = 5)
    },

    // Multi-probe sign-LSH ANN: queries (vec_id < 30) probe their own
    // bucket plus the 8 Hamming-1 neighbors — recovering exactly the
    // near-hyperplane vectors single-bucket LSH loses, with one table's
    // memory. Corpus side keeps a single bucket per vector; only the
    // bounded query side fans out ×9.
    "q_embed_ann_multiprobe" -> { (s, dir) =>
      graft.operators.Similarity.annMultiProbeKnn(
        graft.operators.Similarity.withNorm(t(s, dir, "embeddings")),
        k = 5, bits = 8, nQueries = 30)
    },

    // Schema-evolution union: two generations of the documents schema
    // (the old one carries n_chars, the new one source) combine via
    // unionByName(allowMissingColumns) — absent columns null-fill, by
    // NAME, not position. The lake-ingestion reality where file batches
    // span schema versions; the positional union would silently zip the
    // wrong columns together.
    "q_union_evolve" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val oldGen = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val newGen = d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
      oldGen.unionByName(newGen, allowMissingColumns = true)
        .orderBy(col("doc_id"))
    },

    // NATIVE session windows: Spark's session_window aggregate merges
    // per-user event islands inside the aggregation operator itself (the
    // streaming-capable form), no lag/cumsum window chain. End = last
    // event + gap by definition; merge happens while gap < 30 min.
    // Complements q_sessionize (the manual islands formulation) and
    // Streams.sessionizeTws (the stateful form).
    "q_session_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value"), 14, 2).as("total_value"))
        .select(col("user_id"),
          tsS(col("sw.start")).as("session_start"),
          tsS(col("sw.end")).as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // listagg (SQL:2016, new in Spark 4): ordered string aggregation —
    // the one aggregate whose result depends on ORDER, made
    // deterministic by the mandatory WITHIN GROUP clause.
    "q_listagg" -> { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey"))
        .agg(
          expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)").as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    },

    // The SQL-text entry path, end to end: register views, run a joined
    // aggregation as pure SQL — with GROUP BY ALL / ORDER BY ALL (the
    // modern shorthand both engines parse) — and return the Dataset.
    // Everything else in the catalog is DataFrame-first; this one proves
    // a SQL-first user gets the same engine.
    "q_sql_text" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT c.c_mktsegment AS segment,
               o.o_orderpriority AS priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
                 AS revenue
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY ALL
        ORDER BY ALL""")
    },

    // Interval NON-coverage: clicks whose 15-min window overlaps NO
    // purchase window — NOT EXISTS over a non-equi predicate, computed
    // scale-safely as the binned overlap join's complement (anti join on
    // the matched click ids). The batch twin of the outer stream-stream
    // join's null rows.
    "q_interval_uncovered" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("a_id"),
          col("us").as("sa"), (col("us") + 900000000L).as("ea"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("b_id"),
          col("us").as("sb"), (col("us") + 3600000000L).as("eb"))
      val covered = graft.operators.IntervalJoin.overlap(
          clicks, purchases, Seq("user_id"), "sa", "ea", "sb", "eb",
          bucketWidth = 900000000L)
        .select(col("a_id")).distinct()
      clicks.join(covered, Seq("a_id"), "left_anti")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_uncovered"))
        .orderBy(col("user_id"))
    },

    // Spark 4 VARIANT: parse the JSON props column once into the binary
    // variant encoding, then extract typed paths — no per-row string
    // re-parsing downstream. `schema_of_variant` proves the stored shape.
    "q_variant" -> { (s, dir) =>
      // Fan out the single-split gate-scale scan before the variant
      // parse (round 11): parse_json/schema_of_variant are the query's
      // whole cost and otherwise run in one task. No-op at scale.
      graft.Tables.fanOutSmall(s, t(s, dir, "events")
          .select(col("event_id"), col("props"), col("event_type"), col("value")))
        .select(col("event_id"), parse_json(col("props")).as("v"),
          col("event_type"), col("value"))
        .select(
          col("event_id"),
          variant_get(col("v"), "$.k", "long").as("k_val"),
          schema_of_variant(col("v")).as("vschema"),
          // Round-trip: row → JSON → variant → typed path.
          variant_get(
            parse_json(to_json(struct(col("event_type"), col("value")))),
            "$.event_type", "string").as("etype_rt"))
        .orderBy(col("event_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_heavy_hitters" ->
      """WITH toks AS
        |  (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
        |SELECT term, COUNT(*) AS n FROM toks
        |GROUP BY term
        |HAVING COUNT(*) * 200 >= (SELECT COUNT(*) FROM toks)
        |ORDER BY n DESC, term""".stripMargin,
    "q_hh_per_group" ->
      """WITH toks AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |  FROM documents),
        |tot AS (SELECT lang, COUNT(*) AS total FROM toks GROUP BY lang)
        |SELECT t.lang AS lang, t.term AS term, COUNT(*) AS n
        |FROM toks t JOIN tot ON t.lang = tot.lang
        |GROUP BY t.lang, t.term, tot.total
        |HAVING COUNT(*) * 100 >= tot.total
        |ORDER BY t.lang, n DESC, term""".stripMargin,
    "q_sample_weighted" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w FROM orders),
        |c AS (SELECT o_orderkey, w,
        |    SUM(w) OVER (ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER () AS tot FROM o),
        |d AS (SELECT o_orderkey, w,
        |    CAST((CASE WHEN 200*cum >= tot
        |       THEN (200*cum - tot) // (2*tot) + 1 ELSE 0 END)
        |  - (CASE WHEN 200*(cum-w) >= tot
        |       THEN (200*(cum-w) - tot) // (2*tot) + 1 ELSE 0 END) AS BIGINT)
        |      AS n_draws
        |  FROM c)
        |SELECT o_orderkey, w, n_draws FROM d
        |WHERE n_draws >= 1 ORDER BY o_orderkey""".stripMargin,
    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
        |    FROM events),
        |seg AS (SELECT user_id, value,
        |    LEAD(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |      AS dur_us
        |  FROM e),
        |ms AS (SELECT user_id, value, dur_us, dur_us // 1000 AS dur_ms
        |  FROM seg WHERE dur_us IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_segments,
        |  CAST(SUM(dur_us) AS BIGINT) AS held_us,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2)) * dur_ms) AS DOUBLE)
        |    / CAST(SUM(dur_ms) AS DOUBLE) AS twap
        |FROM ms
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // PQ unrolled in SQL exactly like the q_embed_ivf oracle: seeds →
    // one Lloyd round per subspace → codes → ADC tables → decimal-summed
    // ranking. Subspaces are the eight 8-element slices of the vector
    // (m=8, subDim=8).
    "q_embed_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, 0 AS sub, emb[1:8] AS subemb FROM e
        |  UNION ALL SELECT vec_id, 1, emb[9:16] FROM e
        |  UNION ALL SELECT vec_id, 2, emb[17:24] FROM e
        |  UNION ALL SELECT vec_id, 3, emb[25:32] FROM e
        |  UNION ALL SELECT vec_id, 4, emb[33:40] FROM e
        |  UNION ALL SELECT vec_id, 5, emb[41:48] FROM e
        |  UNION ALL SELECT vec_id, 6, emb[49:56] FROM e
        |  UNION ALL SELECT vec_id, 7, emb[57:64] FROM e),
        |sq AS (SELECT vec_id, sub, subemb,
        |    list_transform(subemb, v -> ROUND(v, 3)) AS qsub,
        |    list_transform(subemb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3)))
        |      AS qd
        |  FROM s),
        |c0 AS (SELECT sub, vec_id AS c_id, subemb AS c_emb FROM s
        |  WHERE vec_id < 16),
        |a1 AS (SELECT vec_id, sub, qd, c_id AS cell FROM (
        |  SELECT v.vec_id, v.sub, v.qd, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM sq v JOIN c0 c ON v.sub = c.sub) x WHERE rk = 1),
        |d1 AS (SELECT sub, cell, pos, CAST(SUM(qv) AS DOUBLE)/COUNT(*) AS cv
        |  FROM (SELECT sub, cell, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qv FROM a1) u
        |  GROUP BY sub, cell, pos),
        |c1 AS (SELECT sub, cell AS c_id, LIST(cv ORDER BY pos) AS c_emb
        |  FROM d1 GROUP BY sub, cell),
        |codes AS (SELECT vec_id, sub, c_id AS code FROM (
        |  SELECT v.vec_id, v.sub, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM sq v JOIN c1 c ON v.sub = c.sub) x WHERE rk = 1),
        |tab AS (SELECT q.vec_id AS query_id, q.sub, c.c_id,
        |    list_inner_product(q.subemb, c.c_emb) AS t
        |  FROM s q JOIN c1 c ON q.sub = c.sub WHERE q.vec_id < 30),
        |sc AS (SELECT t2.query_id, k.vec_id AS neighbor_id,
        |    SUM(CAST(t2.t AS DECIMAL(20,9))) AS appx
        |  FROM codes k JOIN tab t2 ON k.sub = t2.sub AND k.code = t2.c_id
        |  WHERE k.vec_id <> t2.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, CAST(appx AS DOUBLE) AS approx_dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY appx DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT query_id, neighbor_id, approx_dot, rk FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    event_type FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS sa,
        |    us + 900000000 AS ea FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, us AS sb,
        |    us + 3600000000 AS eb FROM e WHERE event_type = 'purchase')
        |SELECT a.user_id, COUNT(*) AS n_pairs,
        |  CAST(SUM(LEAST(ea, eb) - GREATEST(sa, sb)) AS BIGINT) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND GREATEST(sa, sb) < LEAST(ea, eb)
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "q_sketch_rollup" ->
      """WITH toks AS (SELECT DISTINCT source,
        |    ('0x' || SUBSTR(MD5(term), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
        |        FROM documents) x),
        |pm AS (SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        |  FROM toks),
        |ps AS (SELECT source, h FROM pm WHERE rk <= 256),
        |est AS (SELECT source, COUNT(*) AS n, MAX(h) AS hk
        |  FROM ps GROUP BY source),
        |mg AS (SELECT h FROM (SELECT DISTINCT h FROM ps) d
        |  ORDER BY h LIMIT 256),
        |me AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM mg)
        |SELECT source,
        |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |    AS est_distinct
        |FROM est
        |UNION ALL
        |SELECT '__all__',
        |  CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
        |FROM me
        |ORDER BY source""".stripMargin,
    "q_table_checksum" ->
      """WITH li AS (SELECT ('0x' || SUBSTR(MD5(CONCAT_WS('|',
        |    l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |    l_returnflag, l_linestatus,
        |    strftime(l_shipdate, '%Y-%m-%d'))), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |o AS (SELECT ('0x' || SUBSTR(MD5(CONCAT_WS('|',
        |    o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
        |    strftime(o_orderdate, '%Y-%m-%d'))), 1, 15))::BIGINT AS h
        |  FROM orders)
        |SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows,
        |  BIT_XOR(h) AS xor_sum,
        |  CAST(SUM(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)
        |    AS mod_sum
        |FROM li
        |UNION ALL
        |SELECT 'orders', COUNT(*),
        |  BIT_XOR(h),
        |  CAST(SUM(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)
        |FROM o
        |ORDER BY table_name""".stripMargin,
    // IVF (1 Lloyd round, assignment by rank-equivalent cosine) composed
    // with PQ (8 subspaces, L2 codebooks) — the same CTE blocks as the
    // q_embed_ivf and q_embed_pq oracles, renamed and joined through the
    // probed-cell pair set.
    "q_embed_ivfpq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |qv AS (SELECT vec_id, emb, nrm,
        |    list_transform(emb, v -> ROUND(v, 3)) AS qemb,
        |    list_transform(emb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3)))
        |      AS qd
        |  FROM e),
        |c0 AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm
        |  FROM e WHERE vec_id < 16),
        |a1 AS (SELECT vec_id, qd, cell FROM (
        |  SELECT v.vec_id, v.qd, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c0 c) x WHERE rk = 1),
        |d1 AS (SELECT cell, pos, CAST(SUM(qval) AS DOUBLE)/COUNT(*) AS cv
        |  FROM (SELECT cell, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qval FROM a1) u
        |  GROUP BY cell, pos),
        |c1 AS (SELECT cell AS c_id, LIST(cv ORDER BY pos) AS c_emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS c_nrm
        |  FROM d1 GROUP BY cell),
        |cca AS (SELECT vec_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c1 c) x WHERE rk = 1),
        |qca AS (SELECT vec_id AS query_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c1 c WHERE v.vec_id < 30) x WHERE rk <= 2),
        |ps AS (
        |  SELECT vec_id, 0 AS sub, emb[1:8] AS subemb FROM e
        |  UNION ALL SELECT vec_id, 1, emb[9:16] FROM e
        |  UNION ALL SELECT vec_id, 2, emb[17:24] FROM e
        |  UNION ALL SELECT vec_id, 3, emb[25:32] FROM e
        |  UNION ALL SELECT vec_id, 4, emb[33:40] FROM e
        |  UNION ALL SELECT vec_id, 5, emb[41:48] FROM e
        |  UNION ALL SELECT vec_id, 6, emb[49:56] FROM e
        |  UNION ALL SELECT vec_id, 7, emb[57:64] FROM e),
        |psq AS (SELECT vec_id, sub, subemb,
        |    list_transform(subemb, v -> ROUND(v, 3)) AS qsub,
        |    list_transform(subemb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3)))
        |      AS qd
        |  FROM ps),
        |pb0 AS (SELECT sub, vec_id AS c_id, subemb AS c_emb FROM ps
        |  WHERE vec_id < 16),
        |pba AS (SELECT vec_id, sub, qd, c_id AS cell FROM (
        |  SELECT v.vec_id, v.sub, v.qd, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM psq v JOIN pb0 c ON v.sub = c.sub) x WHERE rk = 1),
        |pbd AS (SELECT sub, cell, pos, CAST(SUM(qval) AS DOUBLE)/COUNT(*) AS cv
        |  FROM (SELECT sub, cell, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qval FROM pba) u
        |  GROUP BY sub, cell, pos),
        |pb1 AS (SELECT sub, cell AS c_id, LIST(cv ORDER BY pos) AS c_emb
        |  FROM pbd GROUP BY sub, cell),
        |codes AS (SELECT vec_id, sub, c_id AS code FROM (
        |  SELECT v.vec_id, v.sub, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM psq v JOIN pb1 c ON v.sub = c.sub) x WHERE rk = 1),
        |tab AS (SELECT q.vec_id AS query_id, q.sub, c.c_id,
        |    list_inner_product(q.subemb, c.c_emb) AS t
        |  FROM ps q JOIN pb1 c ON q.sub = c.sub WHERE q.vec_id < 30),
        |pairs AS (SELECT cca.vec_id, qca.query_id
        |  FROM cca JOIN qca USING (cell)
        |  WHERE cca.vec_id <> qca.query_id),
        |sc AS (SELECT p.query_id, p.vec_id AS neighbor_id,
        |    SUM(CAST(t2.t AS DECIMAL(20,9))) AS appx
        |  FROM pairs p
        |  JOIN codes k ON p.vec_id = k.vec_id
        |  JOIN tab t2 ON t2.query_id = p.query_id AND t2.sub = k.sub
        |    AND t2.c_id = k.code
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, CAST(appx AS DOUBLE) AS approx_dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY appx DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT query_id, neighbor_id, approx_dot, rk FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // Residual IVF-PQ: q_embed_ivfpq's CTE chain with the PQ stage fed
    // per-cell residuals (rv = emb[pos] - centroid[pos] via the d1 dims
    // table) and the ADC score completed by the query×centroid scalar.
    // Every stage keeps the decimal-exact folding, so the hash matches.
    "q_embed_ivfpq_res" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |qv AS (SELECT vec_id, emb, nrm,
        |    list_transform(emb, v -> ROUND(v, 3)) AS qemb,
        |    list_transform(emb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3)))
        |      AS qd
        |  FROM e),
        |c0 AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm
        |  FROM e WHERE vec_id < 16),
        |a1 AS (SELECT vec_id, qd, cell FROM (
        |  SELECT v.vec_id, v.qd, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c0 c) x WHERE rk = 1),
        |d1 AS (SELECT cell, pos, CAST(SUM(qval) AS DOUBLE)/COUNT(*) AS cv
        |  FROM (SELECT cell, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qval FROM a1) u
        |  GROUP BY cell, pos),
        |c1 AS (SELECT cell AS c_id, LIST(cv ORDER BY pos) AS c_emb,
        |    SQRT(list_inner_product(LIST(cv ORDER BY pos),
        |      LIST(cv ORDER BY pos))) AS c_nrm
        |  FROM d1 GROUP BY cell),
        |cca AS (SELECT vec_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c1 c) x WHERE rk = 1),
        |qca AS (SELECT vec_id AS query_id, cell FROM (
        |  SELECT v.vec_id, c.c_id AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_inner_product(v.qemb, c.c_emb) / c.c_nrm DESC, c.c_id) AS rk
        |  FROM qv v CROSS JOIN c1 c WHERE v.vec_id < 30) x WHERE rk <= 2),
        |ed AS (SELECT vec_id, generate_subscripts(emb, 1) AS pos,
        |    unnest(emb) AS ev FROM e),
        |res AS (SELECT ed.vec_id, ed.pos, ed.ev - d.cv AS rv
        |  FROM ed JOIN cca a ON a.vec_id = ed.vec_id
        |  JOIN d1 d ON d.cell = a.cell AND d.pos = ed.pos),
        |rsl AS (SELECT vec_id, CAST((pos - 1) // 8 AS INT) AS sub,
        |    LIST(rv ORDER BY pos) AS subemb,
        |    LIST(ROUND(rv, 3) ORDER BY pos) AS qsub,
        |    LIST(CAST(ROUND(rv, 3) AS DECIMAL(10,3)) ORDER BY pos) AS qd
        |  FROM res GROUP BY vec_id, sub),
        |pb0 AS (SELECT sub, vec_id AS c_id, subemb AS c_emb FROM rsl
        |  WHERE vec_id < 16),
        |pba AS (SELECT vec_id, sub, qd, c_id AS cell FROM (
        |  SELECT v.vec_id, v.sub, v.qd, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM rsl v JOIN pb0 c ON v.sub = c.sub) x WHERE rk = 1),
        |pbd AS (SELECT sub, cell, pos, CAST(SUM(qval) AS DOUBLE)/COUNT(*) AS cv
        |  FROM (SELECT sub, cell, generate_subscripts(qd, 1) AS pos,
        |      unnest(qd) AS qval FROM pba) u
        |  GROUP BY sub, cell, pos),
        |pb1 AS (SELECT sub, cell AS c_id, LIST(cv ORDER BY pos) AS c_emb
        |  FROM pbd GROUP BY sub, cell),
        |codes AS (SELECT vec_id, sub, c_id AS code FROM (
        |  SELECT v.vec_id, v.sub, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
        |      list_inner_product(v.qsub, v.qsub)
        |        - 2 * list_inner_product(v.qsub, c.c_emb)
        |        + list_inner_product(c.c_emb, c.c_emb), c.c_id) AS rk
        |  FROM rsl v JOIN pb1 c ON v.sub = c.sub) x WHERE rk = 1),
        |ps AS (
        |  SELECT vec_id, 0 AS sub, emb[1:8] AS subemb FROM e
        |  UNION ALL SELECT vec_id, 1, emb[9:16] FROM e
        |  UNION ALL SELECT vec_id, 2, emb[17:24] FROM e
        |  UNION ALL SELECT vec_id, 3, emb[25:32] FROM e
        |  UNION ALL SELECT vec_id, 4, emb[33:40] FROM e
        |  UNION ALL SELECT vec_id, 5, emb[41:48] FROM e
        |  UNION ALL SELECT vec_id, 6, emb[49:56] FROM e
        |  UNION ALL SELECT vec_id, 7, emb[57:64] FROM e),
        |tab AS (SELECT q.vec_id AS query_id, q.sub, c.c_id,
        |    list_inner_product(q.subemb, c.c_emb) AS t
        |  FROM ps q JOIN pb1 c ON q.sub = c.sub WHERE q.vec_id < 30),
        |qct AS (SELECT qca.query_id, qca.cell,
        |    list_inner_product(e.emb, c.c_emb) AS qc
        |  FROM qca JOIN e ON e.vec_id = qca.query_id
        |  JOIN c1 c ON c.c_id = qca.cell),
        |pairs AS (SELECT cca.vec_id, cca.cell, qca.query_id
        |  FROM cca JOIN qca USING (cell)
        |  WHERE cca.vec_id <> qca.query_id),
        |sc AS (SELECT p.query_id, p.vec_id AS neighbor_id, p.cell,
        |    SUM(CAST(t2.t AS DECIMAL(20,9))) AS tsum
        |  FROM pairs p
        |  JOIN codes k ON p.vec_id = k.vec_id
        |  JOIN tab t2 ON t2.query_id = p.query_id AND t2.sub = k.sub
        |    AND t2.c_id = k.code
        |  GROUP BY 1, 2, 3),
        |sc2 AS (SELECT sc.query_id, sc.neighbor_id,
        |    sc.tsum + CAST(q.qc AS DECIMAL(20,9)) AS appx
        |  FROM sc JOIN qct q ON q.query_id = sc.query_id AND q.cell = sc.cell),
        |r AS (SELECT query_id, neighbor_id, CAST(appx AS DOUBLE) AS approx_dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY appx DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM sc2)
        |SELECT query_id, neighbor_id, approx_dot, rk FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "q_embed_ann_multiprobe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |b AS (SELECT vec_id, emb, nrm,
        |  (CASE WHEN emb[1] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[2] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[3] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[4] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[5] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[6] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[7] > 0 THEN '1' ELSE '0' END) ||
        |  (CASE WHEN emb[8] > 0 THEN '1' ELSE '0' END) AS bucket FROM e),
        |p AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
        |    CASE WHEN i = 0 THEN bucket
        |      ELSE SUBSTR(bucket, 1, i - 1) ||
        |        (CASE WHEN SUBSTR(bucket, i, 1) = '1' THEN '0' ELSE '1' END) ||
        |        SUBSTR(bucket, i + 1, 8 - i) END AS probe
        |  FROM b, generate_series(0, 8) g(i) WHERE vec_id < 30),
        |pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(p.q_emb, c.emb) / (p.q_nrm * c.nrm) AS cos
        |  FROM p JOIN b c ON p.probe = c.bucket AND p.query_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cos, rk FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
        |  FROM pairs) x
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q_robust_mad" ->
      """WITH med AS (SELECT l_returnflag AS rf,
        |    QUANTILE_CONT(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |dev AS (SELECT m.rf, m.med, ABS(l.l_quantity - m.med) AS dev
        |  FROM lineitem l JOIN med m ON l.l_returnflag = m.rf),
        |mad AS (SELECT rf, ANY_VALUE(med) AS med,
        |    QUANTILE_CONT(dev, 0.5) AS mad
        |  FROM dev GROUP BY rf)
        |SELECT d.rf AS l_returnflag, m2.med, m2.mad,
        |  CAST(SUM(CASE WHEN d.dev > 3.0 * 1.4826 * m2.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM dev d JOIN mad m2 ON d.rf = m2.rf
        |GROUP BY d.rf, m2.med, m2.mad
        |ORDER BY l_returnflag""".stripMargin,
    "q_union_evolve" ->
      """SELECT doc_id, lang, n_chars, NULL AS source
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, NULL AS n_chars, source
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,
    // Islands twin of the native session_window: new island when the gap
    // REACHES 30 min (Spark merges strictly-inside-gap events), end =
    // last event + gap.
    "q_session_window" ->
      s"""WITH e AS (SELECT *, LAG(epoch_ns(ts) // 1000, 1) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR epoch_ns(ts) // 1000 - prev_us >= 1800000000
        |    THEN 1 ELSE 0 END AS ns FROM e),
        |g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id,
        |  ${tsSqlS("MIN(ts)")} AS session_start,
        |  ${tsSqlS("MAX(ts) + INTERVAL 30 MINUTE")} AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "q_listagg" ->
      """SELECT c_nationkey,
        |  STRING_AGG(c_name, ',' ORDER BY c_name) AS names,
        |  COUNT(*) AS n
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_sql_text" ->
      """SELECT c.c_mktsegment AS segment,
        |  o.o_orderpriority AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin,
    "q_interval_uncovered" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    event_type FROM events),
        |a AS (SELECT user_id, event_id AS a_id, us AS sa,
        |    us + 900000000 AS ea FROM e WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS b_id, us AS sb,
        |    us + 3600000000 AS eb FROM e WHERE event_type = 'purchase')
        |SELECT a.user_id, COUNT(*) AS n_uncovered
        |FROM a
        |WHERE NOT EXISTS (SELECT 1 FROM b
        |  WHERE b.user_id = a.user_id
        |    AND GREATEST(sa, sb) < LEAST(ea, eb))
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "q_variant" ->
      """SELECT event_id,
        |  CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k_val,
        |  'OBJECT<k: BIGINT>' AS vschema,
        |  event_type AS etype_rt
        |FROM events ORDER BY event_id""".stripMargin)
}
