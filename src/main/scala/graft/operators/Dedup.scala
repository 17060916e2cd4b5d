package graft.operators

import graft.Ckpt.CkptOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}

/** Deduplication operators for document corpora: exact, n-gram Jaccard,
  * and MinHash+LSH near-dup detection. Pure DataFrame transformations —
  * every step is a hash-partitionable equi-join or aggregation, so the
  * same plans scale from local[32] to a 1000-executor cluster.
  *
  * Design choices for 100 TB:
  *  - exact dedup groups on md5(text): the shuffle key is 32 bytes, not
  *    the document;
  *  - near-dup detection is LSH-banded: candidate generation is an
  *    equi-join on band values (sub-quadratic), and only candidates pay
  *    the exact-Jaccard verification;
  *  - the Jaccard threshold test is integer arithmetic
  *    (`common*10 >= t10*(|A|+|B|-common)`) — reproducible everywhere;
  *  - hashes are md5 so any engine (including the DuckDB oracle) can
  *    replay them bit-for-bit.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Keep one row per distinct value of `textCol` (min of `idCol` wins),
    * with the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5f(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Distinct word-3-gram shingles per document: (doc_id, shingle).
    * Guarded transform — Spark's `sequence(0, n)` DESCENDS for n<0, so
    * docs under 3 words need the explicit empty branch.
    */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // Scale-adaptive fan-out (round 11, Tables.fanOutSmall): at gate
    // scale the corpus reads as ONE parquet split and the shingle
    // explode plus the md5 work most consumers stack on top (8 hashes
    // per shingle for MinHash) would run in a single task. Measured:
    // the signature build fell 1.16s → 0.44s wall. No-op above the
    // size threshold, where the scan is already wide.
    graft.Tables.fanOutSmall(docs.sparkSession,
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shingle", explode(
        when(size(col("ws")) >= 3,
          expr("transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))))
      .select(col("doc_id"), col("shingle"))
      .distinct()

  /** doc_id → k-hash MinHash signature (mh1..mhk). h_j(s) = md5("j|"++s),
    * min per doc per j.
    */
  def minhashSignature(sh: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1)
    sh.groupBy(col("doc_id"))
      .agg(
        min(md5f(concat(lit("1|"), col("shingle")))).as("mh1"),
        (2 to k).map(j => min(md5f(concat(lit(s"$j|"), col("shingle")))).as(s"mh$j")): _*)
  }

  /** Exact-Jaccard verification over candidate (a_id, b_id) pairs:
    * keep iff common/union >= t10/10. Joins are restricted to the
    * candidate set — this is the "verify" half of LSH dedup.
    */
  def jaccardVerify(cand: DataFrame, sh: DataFrame, t10: Int): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b_id") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sz.as("za"), col("a_id") === col("za.doc_id"))
      .join(sz.as("zb"), col("b_id") === col("zb.doc_id"))
      .select(
        col("a_id"), col("b_id"), col("common"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"))
      .filter(col("common") * 10 >= (col("n_a") + col("n_b") - col("common")) * t10)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** All-pairs-sharing-a-shingle near-dup detection (baseline; quadratic
    * in bucket size — use [[minhashLshPairs]] at scale).
    *
    * `common` is aggregated straight off the shingle self-join — one
    * shuffle keyed on (a_id, b_id) with map-side partial counts — rather
    * than materializing distinct candidate pairs and re-joining them to
    * the shingle table (which multiplies every pair by its shingle count
    * before the match filter; ~45× more intermediate rows on the sf0.1
    * corpus).
    */
  def jaccardPairs(docs: DataFrame, t10: Int): DataFrame =
    jaccardPairs(docs, t10, maxShingleDf = 0)

  /** As [[jaccardPairs]], but when `maxShingleDf > 0` shingles appearing
    * in more than that many documents are EXCLUDED from candidate
    * generation (they still count toward each doc's shingle total, so
    * Jaccard denominators are exact). A shingle shared by d docs creates
    * d·(d-1)/2 join rows — at corpus scale, boilerplate shingles ("terms
    * of service") are the quadratic hot spot, and documents that are
    * genuine near-dups still meet through their rarer shingles. The
    * standard DF-cap trick; a recall/cost knob, so default off for
    * oracle parity.
    */
  def jaccardPairs(docs: DataFrame, t10: Int, maxShingleDf: Int): DataFrame = {
    // Shared-frame materialization (round 11, Ckpt.shared), but
    // ONLY on the uncapped path: shAll feeds both self-join sides plus
    // the size totals, and the distinct aggregate above the shared
    // shuffle re-executed per reference. Measured at the gate (sf0.1
    // A/B, ledger r11b-sharedoff/-on): uncapped 2.09→1.80 s wall, while
    // the DF-capped variant REGRESSED 1.56→2.22 s (+9 CPU-s) — the hot
    // screen's extra reference is a narrow column-pruned aggregate that
    // exchange reuse already serves nearly free, and the ckpt trades it
    // for a full-width barrier + block serde ×4.
    val shAll =
      if (maxShingleDf <= 0) graft.Ckpt.shared(docs, shingles(docs))
      else shingles(docs)
    val sh =
      if (maxShingleDf <= 0) shAll
      else {
        val hot = shAll.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select(col("shingle"))
        shAll.join(hot, Seq("shingle"), "left_anti")
      }
    val common = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    // Totals from the UNCAPPED set: DF-capping may undercount `common`
    // (conservative) but must never shrink the denominators.
    val sz = shAll.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    common
      .join(sz.as("za"), col("a_id") === col("za.doc_id"))
      .join(sz.as("zb"), col("b_id") === col("zb.doc_id"))
      .select(
        col("a_id"), col("b_id"), col("common"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"))
      .filter(col("common") * 10 >= (col("n_a") + col("n_b") - col("common")) * t10)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Containment near-dup pairs: |A∩B| / |A| ≥ t10/10, A ≠ B — the
    * ASYMMETRIC overlap that catches a document subsumed by a larger one
    * (quotes, concatenations), which symmetric Jaccard dilutes away.
    * Emits (a_id contained-in b_id) with exact integer evidence; the
    * threshold test cross-multiplies so no floats cross the shuffle.
    * Same self-join-then-aggregate shape as [[jaccardPairs]] (map-side
    * combine off the shingle join); at corpus scale, bound candidates
    * with the LSH/DF-cap machinery before verification.
    */
  def containmentPairs(docs: DataFrame, t10: Int): DataFrame = {
    // sh feeds both self-join sides and the per-doc totals (×3):
    // materialize once (round 11, see jaccardPairs).
    val sh = graft.Ckpt.shared(docs, shingles(docs))
    // |A∩B| is SYMMETRIC even though the containment test is not: join
    // each unordered pair once (`<`, half the join output and half the
    // pair-aggregate groups of the naive `!=` self-join — guide §2.3,
    // shuffle fewer bytes on the quadratic path) and mirror the
    // aggregated row into both directions afterwards. Identical row
    // multiset to the `!=` form (round-12, oracle-proven at
    // sf0.001/0.01/0.1): common(a,b) = common(b,a), and the asymmetric
    // threshold filter below runs AFTER the mirror.
    val half = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("x_id"), col("b.doc_id").as("y_id"))
      .agg(count(lit(1)).as("common"))
    val common = half.select(explode(array(
        struct(col("x_id").as("a_id"), col("y_id").as("b_id"), col("common")),
        struct(col("y_id").as("a_id"), col("x_id").as("b_id"), col("common"))))
        .as("r"))
      .select(col("r.*"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    common
      .join(sz.as("za"), col("a_id") === col("za.doc_id"))
      .join(sz.as("zb"), col("b_id") === col("zb.doc_id"))
      .select(
        col("a_id"), col("b_id"), col("common"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"))
      .filter(col("common") * 10 >= col("n_a") * t10)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** MinHash+LSH near-dup detection: 4 bands × 2 rows banding over an
    * 8-hash signature; band-bucket equi-join for candidates; exact
    * verification at `t10/10` Jaccard.
    */
  def minhashLshPairs(docs: DataFrame, t10: Int): DataFrame =
    minhashLshPairs(docs, t10, maxBandDf = 0)

  /** As [[minhashLshPairs]], but when `maxBandDf > 0` band buckets holding
    * more than that many documents are EXCLUDED from candidate generation.
    * A bucket of d docs creates d·(d-1)/2 candidate rows — one degenerate
    * band value (boilerplate corpora, near-constant signatures) re-creates
    * the quadratic blowup LSH exists to avoid. True near-dup pairs still
    * meet through their other 3 bands, so recall loss is confined to pairs
    * that ONLY collide in oversized buckets — at that bucket size they are
    * boilerplate, not duplicates. A recall/cost knob like
    * [[jaccardPairs]]'s `maxShingleDf`; default off for oracle parity.
    */
  def minhashLshPairs(docs: DataFrame, t10: Int, maxBandDf: Int): DataFrame = {
    // sh is referenced 4× (signature build, verify sa/sb, size totals),
    // but materializing it was MEASURED NET-NEGATIVE across the seven
    // LSH consumers at the gate (sf0.1 A/B, ledger r11b-sharedoff/-on:
    // wall ratios 0.95–1.28, e.g. q_dedup_capped_band 2.03→2.59 s,
    // +10 CPU-s): the band join prunes candidates so hard that each
    // "re-execution" is a narrow column-pruned pass, while the ckpt
    // pays a full-width barrier + block serde ×4. Left shared-by-
    // exchange-reuse deliberately.
    val sh = shingles(docs)
    val allBands = minhashSignature(sh, 8).select(
      col("doc_id"),
      posexplode(array(
        md5f(concat(col("mh1"), col("mh2"))),
        md5f(concat(col("mh3"), col("mh4"))),
        md5f(concat(col("mh5"), col("mh6"))),
        md5f(concat(col("mh7"), col("mh8"))))))
      .toDF("doc_id", "band_idx", "band_val")
    val bands =
      if (maxBandDf <= 0) allBands
      else {
        val hot = allBands.groupBy(col("band_idx"), col("band_val"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxBandDf)
          .select(col("band_idx"), col("band_val"))
        allBands.join(hot, Seq("band_idx", "band_val"), "left_anti")
      }
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    jaccardVerify(cand, sh, t10)
  }

  /** Resolve near-dup pairs into clusters and pick survivors: connected
    * components via two-level union-find contraction (the filtering-and-
    * contraction shape of the MapReduce CC literature). Level 1 runs an
    * imperative min-rooted union-find INSIDE each partition
    * (`mapPartitions` — the genuine per-partition-imperative case) and
    * emits each node's partition-local root: a spanning forest, at most
    * one edge per node, regardless of how many pair edges the partition
    * held. Cross-partition connectivity survives as root-to-root edges,
    * which shrink geometrically per level; the final level runs on one
    * partition (a single executor task, never the driver) and is exact.
    * Level mappings then compose with small hash joins. Returns
    * (doc_id, keep_id), keep_id = min doc_id of the component.
    *
    * Versus iterated min-label propagation (the previous shape): job
    * count no longer depends on component diameter — measured 12+ rounds
    * (~2s each, local[32]) on sf0.1 embedding clusters vs 2 contraction
    * levels here. At 100 TB the level-1 pass is embarrassingly parallel,
    * per-task memory is bounded by nodes-per-partition (a LongMap of
    * 8-byte pairs; ~100M edges/partition fits executor defaults), and the
    * single-task finish only sees the contracted forest — `maxIter`
    * bounds extra distributed levels if that forest is still large.
    *
    * WORST CASE, measured (graft.tools.CcProbe, round 8): a 10M-edge
    * PATH graph — diameter = edge count, the adversarial shape for any
    * propagation scheme. Hash-scattered across partitions (each
    * interior node's two edges usually in different partitions) the
    * level-1 forest is ~0.9·N root-root edges (8.75M at 8 parts, 9.69M
    * at 32), the >5M branch re-contracts it, and the graph resolves in
    * 2 LEVELS — proven with maxIter = 3, where a deeper need would
    * truncate composition and fail the single-component assertion.
    * Path-ordered (range) layout needs only partition-boundary
    * crossings (7 / 31 edges). 33-61s wall for the scattered 10M case
    * at local[32]; correctness (every node → root 0) holds in all four
    * layouts. The practical lever at 100 TB: co-partition candidate
    * pairs by a locality-bearing key (band/bucket already does this)
    * so the cross-partition forest stays near the range-layout end.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // Per-partition union-find: path-halving find, union-by-min so every
    // root is the minimum id its tree has seen. Emits (node, root).
    def contract(edges: org.apache.spark.rdd.RDD[(Long, Long)]) =
      edges.mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent(x) = gp
            x = p
            p = gp
          }
          x
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys first: find() path-halves (mutates) during lookup
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }

    var edges = pairs
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .as[(Long, Long)].rdd
    val mappings = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var level = 0
    var done = false
    while (!done && level < maxIter) {
      val single = edges.getNumPartitions <= 1
      val m = contract(edges).toDF("node", "root").ckpt()
      mappings += m
      if (single) done = true
      else {
        // Surviving connectivity: an original edge's endpoints always
        // share a partition, so they merged locally — the ONLY
        // cross-partition links are nodes that appeared in several
        // partitions and got a (node, root) row from each. Those rows
        // induce root—root edges; connect each root to the node's
        // minimum root.
        val rmin = m.groupBy(col("node")).agg(min(col("root")).as("rmin"))
        val next = m.join(rmin, Seq("node"))
          .filter(col("root") =!= col("rmin"))
          .select(col("root"), col("rmin"))
          .distinct()
          .as[(Long, Long)].rdd
        // contracted forests are tiny relative to the pair list; finish
        // single-task unless still >5M edges, then contract distributed
        // again on 32× fewer partitions
        val n = next.count()
        edges =
          if (n <= 5000000L) next.coalesce(1)
          else next.coalesce(math.max(1, next.getNumPartitions / 32))
        logInfo(s"[cc] level ${level + 1}: $n cross edges")
      }
      level += 1
    }
    // Compose the level mappings top-down: a level-1 root may have been
    // merged further at level 2+, so follow it through each later map.
    // A node replicated across partitions carries one row per partition;
    // after composition all its roots agree on the component minimum, and
    // the final groupBy-min collapses them to one row per node.
    mappings.reduceLeft { (base, m) =>
      base.join(m.select(col("node").as("keep_join"), col("root").as("root_next")),
          base("root") === col("keep_join"), "left")
        .select(base("node"),
          coalesce(col("root_next"), base("root")).as("root"))
    }.groupBy(col("node").as("doc_id")).agg(min(col("root")).as("keep_id"))
  }

  /** 60-bit SimHash over word tokens (sign-sum per bit). Token hashes are
    * the first 15 hex digits of md5 — 60 bits, chosen over xxhash64 so any
    * engine (including the DuckDB oracle) replays the signature
    * bit-for-bit; SimHash quality only needs a uniform hash, not a
    * specific one.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bits = 60
    val tokens = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("tok", explode(split(col("text"), " ")))
      .withColumn("h", conv(substring(md5f(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitCols = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sums = tokens.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sig.as("simhash"))
  }
}
