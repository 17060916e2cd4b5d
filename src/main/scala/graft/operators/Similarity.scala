package graft.operators

import graft.Ckpt.CkptOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.dot

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the correctness baseline, and
  * coordinate-sign LSH bucketing as the scale path.
  *
  * Scale design: brute force is #queries × N — fine when the query set is
  * bounded (it is a broadcast-able side), never N² over the corpus. The
  * LSH variant buckets the corpus once (narrow, no shuffle beyond the
  * bucket groupBy) and only pairs within a bucket, trading recall for a
  * ~2^bits reduction of the pair space. Both keep the arithmetic in
  * left-to-right double folds so results are reproducible (and match the
  * DuckDB oracle bit-for-bit).
  */
object Similarity {

  /** Production IVF sizing (the measured scale rule, now INSIDE the
    * gated queries): nCells = max(16, ⌊√N⌋) — the classic balance point
    * of the two cost terms, centroid assignment (N·nCells) and
    * within-cell search (N·N/nCells), both N^1.5 at √N. A FIXED nCells
    * makes the search term quadratic (measured round 7: cells=16 ran
    * 110s where scaled cells ran 13.6s on the same 30× corpus); an
    * nCells ∝ N rule flips the quadratic onto the assignment pass
    * instead (measured round 8 on the 30× corpus: cells=937 ≙ N/64 ran
    * 29.4s where cells=244 ≙ √N ran 6.7s). IEEE sqrt is correctly
    * rounded in both engines and N < 2^53 is exact in double, so the
    * DuckDB oracle mirrors the knob bit-for-bit:
    * `GREATEST(16, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))`.
    */
  def scaledCells(n: Long): Int =
    math.max(16L, math.sqrt(n.toDouble).toLong).toInt

  /** Production sign-LSH sizing (measured round-7 rule): bits =
    * ceil(log2(ceil(N / targetBucket))), floored at 8 and capped at the
    * embedding dim — constant expected bucket population, pair space
    * ∝ N·targetBucket instead of N²/2^bits. Exact integer log2 via the
    * binary-string length (`bin` exists in BOTH engines, so the DuckDB
    * oracle replays the knob bit-for-bit):
    * `LEAST(64, GREATEST(8, LENGTH(BIN(GREATEST((COUNT(*) + 15) // 16 - 1,
    * 0)))))` — the inner GREATEST(…, 0) is the N=0 guard: DuckDB's
    * BIN(-1) is 64 one-bits (length 64) where this method returns 8, so
    * without it an empty corpus would diverge 64-vs-8 (harmless today —
    * both sides emit zero rows — but the mirror must hold at every N).
    */
  def scaledBits(n: Long, targetBucket: Long = 16L, dim: Int = 64): Int = {
    val m = (n + targetBucket - 1) / targetBucket // buckets wanted (ceil)
    val ceilLog2 = java.lang.Long.toBinaryString(math.max(0L, m - 1)).length
    math.min(dim, math.max(8, ceilLog2))
  }

  /** vec_id + embedding as array<double> + L2 norm. */
  def withNorm(embeddings: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol).as("vec_id"),
        expr(s"transform($embCol, v -> CAST(v AS DOUBLE))").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Top-k per query via [[graft.functions.BoundedTopK]] — a partial+final
    * aggregate whose map side emits ≤k rows per (query × partition), so
    * the exchange carries O(queries · k), never the candidate-pair
    * stream. The previous `row_number()` window shuffled and sorted EVERY
    * candidate pair (the last spill on the ×100 scale list: q_embed_ivf,
    * 7.5 GB); rank-k selection under the total (cos desc, neighbor_id)
    * order is merge-order independent, so results are bit-identical.
    * Call sites must produce each (query, neighbor) pair at most once —
    * true for all candidate generators here (a corpus vector lives in
    * exactly one cell/bucket) and asserted in BoundedTopKSpec.
    */
  private def topK(pairs: DataFrame, k: Int): DataFrame =
    pairs.groupBy(col("query_id"))
      .agg(graft.functions.BoundedTopK.topk(col("cos"), col("neighbor_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.neighbor_id").as("neighbor_id"),
        col("__e.cos").as("cos"), (col("__pos") + 1).cast("long").as("rk"))
      .orderBy(col("query_id"), col("rk"))

  /** Brute-force cosine top-k of `corpus` for each row of `queries`
    * (both pre-normed via [[withNorm]]). Exact; the ANN oracle.
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topK(
      queries.as("q")
        .join(corpus.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(
          col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          (dot(col("q.emb"), col("c.emb")) / (col("q.nrm") * col("c.nrm"))).as("cos")),
      k)

  /** Coordinate-sign LSH bucket: one bit per leading dimension's sign. */
  def signBucket(e: DataFrame, bits: Int = 8): DataFrame = {
    val bucketBits = (1 to bits).map(i =>
      when(element_at(col("emb"), i) > 0, lit("1")).otherwise(lit("0")))
    e.withColumn("bucket", concat(bucketBits: _*))
  }

  /** Embedding-cosine near-duplicate pairs: candidates from sign-LSH
    * buckets, kept when exact cosine ≥ threshold. The dedup-by-embedding
    * counterpart of [[Dedup.minhashLshPairs]] — candidate generation is a
    * bucket equi-join (pair space / ~2^bits), and only candidates pay the
    * exact dot product.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
      bits: Int = 8, salts: Int = 1, taskPairBudget: Long = 0L): DataFrame = {
    val b = signBucket(embeddings, bits)
    // Same hot-bucket straggler exposure as [[annLshKnn]] (the bucket is
    // the join key → one task computes a hot bucket's pairs). Dedup
    // semantics forbid a candidate CAP here (it would drop genuine
    // near-dup pairs), but salting is free: left side salted by
    // hash(vec_id), right side exploded ×salts — identical result set,
    // the pair production spread over `salts` tasks.
    //
    // A FIXED salt count is itself a scale knob that goes stale (measured
    // round 8 at ×100/25%-hot: the hot bucket's 1.25e9 real pairs spread
    // over exactly salts=8 tasks — wall 5.1× uniform vs CPU 2.7×, the
    // straggler signature at the next decade). `taskPairBudget > 0`
    // derives the salt count PER BUCKET from its observed population:
    // s(bucket) = clamp(ceil(pop² / budget), salts, 1024), so a bucket's
    // pair production lands in ~pop²/budget tasks regardless of skew,
    // while cold buckets keep s = `salts` and pay nothing. The histogram
    // is one cheap groupBy over ≤2^bits rows, broadcast back — the same
    // observe-then-partition move as AQE's skew-join split, applied to a
    // self-join AQE cannot rewrite. Salt counts shape PARTITIONING only:
    // every (a<b) pair still meets exactly once (left carries one salt,
    // right is exploded to all of its bucket's salts).
    val (l, r, saltCond) =
      if (taskPairBudget > 0L) {
        val floorS = math.max(1, salts).toLong
        val pops = b.groupBy(col("bucket"))
          .agg(count(lit(1)).as("__pop"))
          .withColumn("__s", least(lit(1024L), greatest(lit(floorS),
            ceil(col("__pop").cast("double") * col("__pop") /
              lit(taskPairBudget.toDouble)).cast("long")))
            .cast("int"))
          .select(col("bucket"), col("__s"))
        val bs = b.join(broadcast(pops), Seq("bucket"))
        (bs.withColumn("__salt", pmod(hash(col("vec_id")), col("__s"))),
          bs.withColumn("__salt",
            explode(sequence(lit(0), col("__s") - 1))),
          col("a.__salt") === col("b.__salt"))
      } else if (salts == 1) (b, b, lit(true))
      else (
        b.withColumn("__salt", pmod(hash(col("vec_id")), lit(salts))),
        b.withColumn("__salt", explode(array((0 until salts).map(lit): _*))),
        col("a.__salt") === col("b.__salt"))
    l.as("a")
      .join(r.as("b"), col("a.bucket") === col("b.bucket") &&
        saltCond && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Quantized copy of the vectors for the coarse quantizer: `qemb` is
    * `emb` rounded to 3 decimals (double), `qd` the same values as exact
    * DECIMAL(10,3). Lloyd means over `qd` sum EXACTLY in any order — so
    * k-means is deterministic under Spark's shuffle AND bit-replayable by
    * the SQL oracle — while quantization noise (≤5e-4/dim) is irrelevant
    * to which cell a vector lands in. Search still uses full-precision
    * `emb`.
    *
    * MATERIALIZED ONCE (round 12, Ckpt.shared — guide §2.4/§5):
    * the IVF/PQ pipelines reference this frame 4–8 times (each Lloyd
    * round's assignment pass references it twice — chosen-cell build +
    * payload rejoin — plus the corpus and query assignment passes), and
    * each re-execution repeats the parquet scan, the float→double
    * transform, the 64-dim dot for the norm, and BOTH 64-element
    * ROUND/DECIMAL array transforms. Measured at sf0.1/local[32]
    * (round 12): q_embed_ivf 26.6 → ~9 executor-CPU-s. The checkpoint
    * is storage-only — assignments, decimal Lloyd means and the ranked
    * output are deterministic and shuffle-order-free, so values are
    * unchanged (oracle-proven). `spark.graft.sharedCkpt.enabled=false`
    * restores the recompute-per-reference plan (A/B + spec hook).
    */
  private def quantized(e: DataFrame): DataFrame =
    graft.Ckpt.shared(e,
      e.withColumn("qemb", expr("transform(emb, v -> ROUND(v, 3))"))
        .withColumn("qd", expr("transform(qemb, v -> CAST(v AS DECIMAL(10,3)))")))

  /** Nearest `nprobe` centroids per vector. Ranking score is
    * `dot(qemb, c_emb) / c_nrm` — the query's own norm is constant per
    * vector, so dropping it is rank-equivalent cosine. Centroids
    * broadcast (k rows): a narrow N×k pass, no shuffle.
    */
  private def assignCells(vecs: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    // Rank cells on a NARROW (vec_id, c_id, score) stream and rejoin:
    // the obvious row_number() window over vecs×cents would drag every
    // projected column — emb, qemb, qd: ~500 bytes/row — through its
    // partial sort and exchange, and at the ×100 corpus that N·k stream
    // was the only spill left on the scale list (q_embed_ivf, 7.7 GB,
    // re-measured after the top-k rewrite alone didn't move it). The
    // bounded aggregate sees 24-byte rows, emits nprobe cells per
    // vector, and the vec_id equi-join restores the payload columns —
    // O(N) rows on both join sides at any nCells.
    val chosen = vecs.select(col("vec_id"), col("qemb"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        (dot(col("qemb"), col("c_emb")) / col("c_nrm")).as("__score"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.BoundedTopK.topk(col("__score"), col("c_id"), nprobe)
        .as("__top"))
      .select(col("vec_id"), explode(col("__top.neighbor_id")).as("cell"))
    vecs.join(chosen, Seq("vec_id"))
  }

  /** IVF coarse quantizer: `k` seed centroids (lowest vec_ids) refined by
    * `iters` Lloyd rounds. Each round is one broadcast assignment pass
    * plus one (cell, dim)-keyed aggregation — both hash-partitionable;
    * nothing driver-side, so the same plan runs at corpus scale. Means
    * are computed over the DECIMAL quantized values (exact, order-free)
    * and divided back in double (IEEE-exact given an exact numerator).
    */
  def ivfCentroids(q: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = q.filter(col("vec_id") < k).select(
      col("vec_id").as("c_id"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    for (_ <- 1 to iters) {
      val dims = assignCells(q, cents, nprobe = 1)
        .select(col("cell"), posexplode(col("qd")).as(Seq("pos", "qv")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("qv")).cast("double") / count(lit(1))).as("cv"))
      cents = dims.groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
          .as("c_emb"))
        .select(col("cell").as("c_id"), col("c_emb"),
          sqrt(dot(col("c_emb"), col("c_emb"))).as("c_nrm"))
        // k tiny rows, but the PLAN matters: without truncation each round
        // nests the previous round's full lineage, and the final knn
        // re-executes the whole chain once per assignment pass.
        .ckpt()
    }
    cents
  }

  /** IVF-flat ANN top-k: corpus vectors live in their nearest cell;
    * each query probes its `nprobe` nearest cells and pays exact cosine
    * only inside them. Pair space shrinks from N² to ~nprobe·Σ|cell|² —
    * the coarse-quantizer analogue of [[annLshKnn]]'s hyperplane
    * buckets. `iters = 0` reproduces pure seed centroids.
    *
    * SCALE RULE (measured, graft.ScaleProbe rounds 7-8, and since
    * round 8 INSIDE the gated catalog query): `nCells` must track corpus
    * size as ≈ √N — see [[scaledCells]] for the cost balance and the
    * measured 110s (fixed 16) / 29.4s (∝N) / 6.7s (√N) comparison on
    * the same 30× corpus. `q_embed_ivf` derives the knob from the
    * corpus count and the DuckDB oracle mirrors the arithmetic, so the
    * gated plan is the production plan at every sf.
    */
  def ivfKnn(embeddings: DataFrame, nCells: Int, k: Int,
      iters: Int = 0, nprobe: Int = 1): DataFrame = {
    val q = quantized(embeddings)
    val cents = ivfCentroids(q, nCells, iters)
    val corpus = assignCells(q, cents, nprobe = 1)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    val queries = assignCells(q, cents, nprobe)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell"))
    topK(
      queries.as("q")
        .join(corpus.as("c"), col("q.cell") === col("c.cell") &&
          col("q.vec_id") =!= col("c.vec_id"))
        .select(
          col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          (dot(col("q.emb"), col("c.emb")) / (col("q.nrm") * col("c.nrm"))).as("cos")),
      k)
  }

  /** Long-format sub-vectors for product quantization: one row per
    * (vec_id, subspace), with the same round-to-3-decimals quantized
    * twins as [[quantized]] so Lloyd means stay exact and order-free.
    * `embCol` selects the vector to slice (raw `emb`, or a residual).
    */
  private def pqSubvectors(e: DataFrame, m: Int, subDim: Int,
      embCol: String = "emb"): DataFrame =
    e.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col(embCol), s * subDim + 1, subDim)): _*)).as(Seq("sub", "subemb")))
      .withColumn("qsub", expr("transform(subemb, v -> ROUND(v, 3))"))
      .withColumn("qd", expr("transform(subemb, v -> CAST(ROUND(v, 3) AS DECIMAL(10,3)))"))

  /** Nearest codebook entry per (vector, subspace) by L2 distance over
    * the quantized sub-vectors. Codebooks broadcast (m·ks rows); the
    * assignment is a narrow map-side pass at any corpus size.
    */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    // Deliberately NOT the narrow-rank-then-rejoin shape of
    // [[assignCells]]: sub-vector rows are already narrow (subDim ≤ 8
    // dims vs the 64-dim emb payload that made the cell window spill),
    // and pqAssign runs inside the Lloyd loop — a rejoin here costs two
    // extra exchanges per round and measured 1.5–1.8× ×100 CPU against
    // the window's one (WindowGroupLimit-bounded) exchange.
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("__d2"), col("c_id"))
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("__d2",
        dot(col("qsub"), col("qsub")) - lit(2.0) * dot(col("qsub"), col("c_emb"))
          + dot(col("c_emb"), col("c_emb")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__d2", "__rk", "c_emb")
  }

  /** Per-subspace codebooks: `ks` seed entries (lowest vec_ids) refined
    * by `iters` Lloyd rounds — [[ivfCentroids]] generalized with the
    * subspace as an extra key. Means over DECIMAL quantized values:
    * exact, shuffle-order-free, SQL-replayable.
    */
  def pqCodebooks(subs: DataFrame, ks: Int, iters: Int): DataFrame = {
    var cents = subs.filter(col("vec_id") < ks)
      .select(col("sub"), col("vec_id").as("c_id"), col("subemb").as("c_emb"))
    for (_ <- 1 to iters) {
      val dims = pqAssign(subs, cents)
        .select(col("sub"), col("c_id").as("cell"),
          posexplode(col("qd")).as(Seq("pos", "qv")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg((sum(col("qv")).cast("double") / count(lit(1))).as("cv"))
      cents = dims.groupBy(col("sub"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)")
          .as("c_emb"))
        .select(col("sub"), col("cell").as("c_id"), col("c_emb"))
        .ckpt() // m·ks rows; truncate the per-round lineage
    }
    cents
  }

  /** Product-quantization ANN with asymmetric distance computation (ADC):
    * corpus vectors compress to m codebook ids (m·log2(ks) bits per
    * vector — the memory story that makes billion-scale ANN fit);
    * each query precomputes dot(query_sub, centroid) lookup tables
    * (m·ks values, broadcast), and a corpus row's approximate dot is the
    * sum of m table lookups — no full-vector arithmetic in the scan.
    * The per-query sum folds through DECIMAL(20,9) so the 4-term
    * summation is order-free and the ranking reproducible everywhere.
    *
    * The scan shape at scale: codes (m rows/vector, integer ids) join a
    * broadcast table of nQueries·m·ks doubles, then a (query, vector)
    * keyed sum — shuffle volume is codes × nQueries, never touching the
    * original vectors. Exactness is delegated to a rerank stage when
    * needed (cf. `q_rerank`); this operator IS the recall/memory
    * trade-off.
    */
  def pqAdcKnn(embeddings: DataFrame, m: Int, subDim: Int, ks: Int,
      iters: Int, nQueries: Int, k: Int): DataFrame = {
    // Materialized once (round 12, Ckpt.shared): referenced
    // iters+3 times (codebook seeds, each Lloyd round's pqAssign, the
    // corpus code assignment, the query lookup tables), and every
    // re-execution repeats the m-way slice explosion plus both
    // ROUND/DECIMAL sub-vector transforms. Applied at the CALL SITE,
    // not inside pqSubvectors: ivfPqResidualKnn's raw-subs side is
    // single-reference behind a selective vec_id filter, where a
    // checkpoint would forfeit the pushdown (the q_common_neighbors
    // lesson).
    val subs = graft.Ckpt.shared(embeddings,
      pqSubvectors(embeddings, m, subDim))
    val books = pqCodebooks(subs, ks, iters)
    val codes = pqAssign(subs, books)
      .select(col("vec_id"), col("sub"), col("c_id").as("code"))
    // Distinct column names on the lookup-table side: `codes` and `tab`
    // share lineage through `subs`, and same-name references across a
    // self-join can silently resolve to one attribute (Spark warns
    // "trivially true predicate").
    // Rank audit (round 9): the final row_number window here stays a
    // window, NOT graft_topk — the ranked stream is post-aggregation
    // (query_id, neighbor_id, appx) ≈ 40 B/row, and `appx` is a
    // DECIMAL(20,9) whose exact ordering the oracle replays; routing it
    // through BoundedTopK's double heap could reorder near-tie sums.
    val tab = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("subemb"))
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub").as("t_sub"), col("c_id").as("t_code"),
        dot(col("subemb"), col("c_emb")).as("t"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("appx").desc, col("neighbor_id"))
    codes.join(broadcast(tab),
        col("sub") === col("t_sub") && col("code") === col("t_code") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("t").cast("decimal(20,9)")).as("appx"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("appx").cast("double").as("approx_dot"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-PQ composite ANN — the production billion-scale shape: a coarse
    * quantizer (IVF cells) prunes WHICH vectors each query scores, and
    * product quantization compresses HOW each candidate is scored (m
    * table lookups on integer codes instead of full-vector arithmetic).
    * Candidate space: nprobe/nCells of the corpus; scan cost per
    * candidate: m lookups. Both stages reuse the exact-decimal k-means
    * machinery, so the whole pipeline stays bit-reproducible and the
    * SQL oracle replays it end to end.
    *
    * `embeddings` must be pre-normed via [[withNorm]]. PQ codebooks here
    * quantize the raw vectors; [[ivfPqResidualKnn]] is the
    * higher-recall variant that quantizes per-cell residuals.
    */
  def ivfPqKnn(embeddings: DataFrame, nCells: Int, cellIters: Int,
      m: Int, subDim: Int, ks: Int, pqIters: Int,
      nprobe: Int, nQueries: Int, k: Int): DataFrame = {
    val q = quantized(embeddings)
    val cents = ivfCentroids(q, nCells, cellIters)
    val corpusCells = assignCells(q, cents, nprobe = 1)
      .select(col("vec_id"), col("cell"))
    val queryCells = assignCells(q.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // Same call-site materialization as pqAdcKnn (round 12): subs is
    // referenced pqIters+3 times here (seeds, Lloyd rounds, codes, tab).
    val subs = graft.Ckpt.shared(embeddings,
      pqSubvectors(embeddings, m, subDim))
    val books = pqCodebooks(subs, ks, pqIters)
    val codes = pqAssign(subs, books)
      .select(col("vec_id"), col("sub"), col("c_id").as("code"))
    val tab = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("t_query"), col("sub").as("t_sub"), col("subemb"))
      .join(broadcast(books.select(col("sub").as("t_sub"),
        col("c_id").as("t_code"), col("c_emb"))), Seq("t_sub"))
      .select(col("t_query"), col("t_sub"), col("t_code"),
        dot(col("subemb"), col("c_emb")).as("t"))
    // Each corpus vector lives in ONE cell; a (corpus, query) pair forms
    // iff the query probes that cell — no dedup needed.
    val pairs = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("vec_id"), col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("appx").desc, col("neighbor_id"))
    pairs.join(codes, Seq("vec_id"))
      .join(broadcast(tab),
        col("query_id") === col("t_query") && col("sub") === col("t_sub") &&
          col("code") === col("t_code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("t").cast("decimal(20,9)")).as("appx"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("appx").cast("double").as("approx_dot"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Residual IVF-PQ — [[ivfPqKnn]] with the PQ codebooks trained on
    * per-cell RESIDUALS (`emb - centroid(cell)`) instead of raw vectors.
    * Residuals are centered near zero with far smaller spread than the
    * raw corpus, so the same ks codebook entries quantize them with much
    * lower error — the standard IVF-PQ recall win (Jégou et al., PAMI
    * 2011, §III). ADC decomposes accordingly:
    * `dot(q, c) ≈ dot(q, centroid(cell_c)) + Σ_sub dot(q_sub, code_sub)`,
    * where the first term is a (query × probed-cell) scalar — nQueries·
    * nprobe rows, broadcast — and the second is the usual m table
    * lookups. Plan shape is IDENTICAL to the raw variant (one extra
    * broadcast-join of the qc term); only the trained codebooks differ.
    * The whole construction stays decimal-exact and SQL-replayable:
    * residuals are rounded to 3 decimals before Lloyd folding, and the
    * final score folds (m + 1) terms through DECIMAL(20,9).
    */
  def ivfPqResidualKnn(embeddings: DataFrame, nCells: Int, cellIters: Int,
      m: Int, subDim: Int, ks: Int, pqIters: Int,
      nprobe: Int, nQueries: Int, k: Int): DataFrame = {
    val q = quantized(embeddings)
    val cents = ivfCentroids(q, nCells, cellIters)
    // Materialized once (round 12): referenced by the residual build AND
    // the candidate pair stream — each re-execution is a full N×nCells
    // assignment pass. Narrow (vec_id, cell) rows, so the checkpoint is
    // far smaller than the source (sizeFactor 0.3).
    val corpusCells = graft.Ckpt.shared(embeddings,
      assignCells(q, cents, nprobe = 1)
        .select(col("vec_id"), col("cell")),
      sizeFactor = 0.3)
    // Residual vectors: raw emb minus the assigned cell's centroid
    // (broadcast k-row join — narrow, no shuffle of the corpus).
    val resid = q.select(col("vec_id"), col("emb"))
      .join(corpusCells, Seq("vec_id"))
      .join(broadcast(cents.select(col("c_id").as("cell"), col("c_emb"))), Seq("cell"))
      .withColumn("remb", expr("zip_with(emb, c_emb, (a, b) -> a - b)"))
      .select(col("vec_id"), col("cell"), col("remb"))
    // Residual sub-vectors materialized once (round 12): referenced
    // pqIters+2 times (seeds, Lloyd rounds, codes), and each
    // re-execution would replay the residual join + slice explosion +
    // ROUND/DECIMAL transforms. The raw `subs` below stays
    // unmaterialized — its only reference is the query-side lookup
    // table behind a vec_id < nQueries pushdown.
    val rsubs = graft.Ckpt.shared(embeddings,
      pqSubvectors(resid, m, subDim, embCol = "remb"))
    val books = pqCodebooks(rsubs, ks, pqIters)
    val codes = pqAssign(rsubs, books)
      .select(col("vec_id"), col("sub"), col("c_id").as("code"))
    // Query side stays RAW (asymmetric distance): lookup tables over the
    // residual codebooks, plus the query×centroid scalar per probed cell.
    val subs = pqSubvectors(embeddings, m, subDim)
    val tab = subs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("t_query"), col("sub").as("t_sub"), col("subemb"))
      .join(broadcast(books.select(col("sub").as("t_sub"),
        col("c_id").as("t_code"), col("c_emb"))), Seq("t_sub"))
      .select(col("t_query"), col("t_sub"), col("t_code"),
        dot(col("subemb"), col("c_emb")).as("t"))
    val queryCells = assignCells(q.filter(col("vec_id") < nQueries), cents, nprobe)
    val qcTab = queryCells
      .select(col("vec_id").as("query_id"), col("cell"), col("emb").as("q_emb"))
      .join(broadcast(cents.select(col("c_id").as("cell"), col("c_emb"))), Seq("cell"))
      .select(col("query_id"), col("cell"),
        dot(col("q_emb"), col("c_emb")).as("qc"))
    val pairs = corpusCells
      .join(broadcast(queryCells.select(col("vec_id").as("query_id"), col("cell"))),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("vec_id"), col("query_id"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("appx").desc, col("neighbor_id"))
    pairs.join(codes, Seq("vec_id"))
      .join(broadcast(tab),
        col("query_id") === col("t_query") && col("sub") === col("t_sub") &&
          col("code") === col("t_code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"))
      .agg(sum(col("t").cast("decimal(20,9)")).as("tsum"))
      .join(broadcast(qcTab), Seq("query_id", "cell"))
      .withColumn("appx", col("tsum") + col("qc").cast("decimal(20,9)"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("appx").cast("double").as("approx_dot"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** ANN top-k restricted to sign-LSH buckets. Recall < 1 by design;
    * cheap at scale (pair space divided by ~2^bits for centered data).
    */
  /** SCALE RULE (measured, graft.ScaleProbe round 7, and since round 8
    * INSIDE the gated catalog query): `bits` must grow with the corpus —
    * bits ≈ log2(N / target bucket population), see [[scaledBits]].
    * Fixed bits = fixed 2^bits buckets = pair space ∝ N²/2^bits (at 30×
    * corpus, bits=13 ran 1.76s vs bits=8 at 2.75s and pulling away).
    * `q_embed_ann_lsh` derives the knob from the corpus count with the
    * oracle mirroring the integer log2, so the gated plan is the
    * production plan at every sf.
    */
  def annLshKnn(embeddings: DataFrame, k: Int, bits: Int = 8,
      maxBucket: Int = Int.MaxValue, salts: Int = 1): DataFrame = {
    val b = signBucket(embeddings, bits)
    // Hot-bucket guards (round-8 skew harness — one bucket holding 25%
    // of the corpus showed 14.3× wall at UNCHANGED total CPU, the
    // single-straggler signature, because the bucket is the join key so
    // its pop² pairs were computed by ONE task):
    //  1. `maxBucket` caps the CANDIDATE side to the lowest maxBucket
    //     vec_ids per bucket (deterministic, SQL-mirrored) — any
    //     bucket's pair space is bounded at pop·maxBucket. Uniform
    //     buckets sit orders of magnitude below the cap, so small-sf
    //     oracle results are unchanged; the skewed-corpus oracle replay
    //     exercises the cap biting.
    //  2. `salts` spreads each bucket's remaining pair production over
    //     `salts` tasks: query side salted by hash(vec_id), candidate
    //     side exploded ×salts. Pure partitioning change — the result
    //     set is IDENTICAL, so the oracle needs no mirror.
    // The cap window sorts only bucket populations (rows), never pairs.
    // Wide-payload note (round-9 rank audit): this IS a data-sized rank
    // whose rows carry the ~550 B embedding — but the embedding must
    // reach bucket-keyed partitioning anyway for the candidate join and
    // the exact-cosine verify that follow, so the window rides the
    // join's own exchange and adds only a per-bucket sort of ~N/2^bits
    // rows (≈64 with the derived-bits rule). A narrow-rank-rejoin here
    // would ADD an exchange to avoid a sort the join already pays for —
    // the inverse of the assignCells economics (its ranked stream was
    // N×nCells, nCells× the data, with no downstream need for the
    // payload at that key).
    val cand0 = if (maxBucket == Int.MaxValue) b else {
      val w = Window.partitionBy(col("bucket")).orderBy(col("vec_id"))
      b.withColumn("__bp", row_number().over(w))
        .filter(col("__bp") <= maxBucket).drop("__bp")
    }
    val (q, cand, saltCond) =
      if (salts == 1) (b, cand0, lit(true))
      else (
        b.withColumn("__salt", pmod(hash(col("vec_id")), lit(salts))),
        cand0.withColumn("__salt", explode(array((0 until salts).map(lit): _*))),
        col("q.__salt") === col("c.__salt"))
    topK(
      q.as("q")
        .join(cand.as("c"), col("q.bucket") === col("c.bucket") &&
          saltCond && col("q.vec_id") =!= col("c.vec_id"))
        .select(
          col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          (dot(col("q.emb"), col("c.emb")) / (col("q.nrm") * col("c.nrm"))).as("cos")),
      k)
  }

  /** Multi-probe sign-LSH ANN: each query additionally probes the `bits`
    * buckets at Hamming distance 1 from its own — the vectors LSH loses
    * are exactly the ones near a hyperplane, and those land one bit
    * away. The standard trade: recall approaching more-hash-tables at
    * the memory cost of ONE table; query cost scales by bits+1 probes,
    * corpus storage doesn't change. Probes explode map-side on the
    * (bounded) query side only; the corpus keeps its single bucket.
    */
  def annMultiProbeKnn(embeddings: DataFrame, k: Int, bits: Int = 8,
      nQueries: Int = Int.MaxValue): DataFrame = {
    val b = signBucket(embeddings, bits)
    val flips = (1 to bits).map { i =>
      concat(
        substring(col("bucket"), 1, i - 1),
        when(substring(col("bucket"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 1, bits - i))
    }
    val probes = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(array(col("bucket") +: flips: _*)).as("probe"))
    topK(
      probes.join(b, probes("probe") === b("bucket") &&
          probes("query_id") =!= b("vec_id"))
        .select(
          col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm"))).as("cos")),
      k)
  }
}
