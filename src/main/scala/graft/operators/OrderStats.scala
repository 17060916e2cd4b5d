package graft.operators

import graft.Ckpt.CkptOps

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global order statistics — running counts/sums/maxes in BOTH
  * directions, fused running-max-of-running-sum, and chained derived
  * cumulatives — all over ONE range shuffle, WITHOUT a single-partition
  * window.
  *
  * `Window.orderBy(...)` with no partition spec moves every row to one
  * partition (Spark warns "No Partition Defined for Window operation");
  * at 100 TB that is one executor sorting the table. The scalable shape
  * is the classic two-phase order statistic:
  *
  *  1. `repartitionByRange(sort)` + `sortWithinPartitions(sort)` — one
  *     parallel range shuffle; partition i holds keys ≤ partition i+1's,
  *     rows sorted within each partition, so partition-index order IS
  *     global order;
  *  2. one cheap pass collects per-partition row counts and column sums
  *     (#partitions tuples — partition METADATA, the same driver-side
  *     bookkeeping `RDD.zipWithIndex` does, not data);
  *  3. a second pass emits each row's global row number / running
  *     statistics as its local prefix plus the exclusive offset of all
  *     earlier partitions.
  *
  * Fusion (round 6): chained `running` calls used to pay the range
  * shuffle once per direction. One ascending pass now serves every spec:
  *  - descending inclusive cumulative = grand total − ascending EXCLUSIVE
  *    prefix (`cumDesc`), so "sum of everything ≥ me" costs nothing extra;
  *  - the exclusive running max OF a running sum (`cumMaxOfCum`, the
  *    drawdown shape) folds into pass 1: per-partition max of the local
  *    prefix + the partition's global offset gives cross-partition max
  *    offsets on the driver;
  *  - a cumulative over a value DERIVED from first-level outputs
  *    (`derivedCum`, e.g. Nelson–Aalen's `deaths·C DIV at_risk` where
  *    at_risk is itself a descending cumulative) adds one metadata-only
  *    traversal of the SAME materialized partitions — never a second
  *    shuffle.
  *
  * The frame is checkpointed between the passes (via [[graft.Ckpt]])
  * so all passes read the SAME materialized partitioning
  * (repartitionByRange samples its bounds; two independent executions
  * could split ties of the sampled key differently if the sort key were
  * not total — and re-shuffling would multiply the dominant cost
  * anyway). Fault model: localCheckpoint truncates lineage, so the
  * checkpointed blocks are the only copy of the frame — on
  * multi-executor sessions Ckpt therefore replicates them ×2, and the
  * operator survives any SINGLE executor loss with an unchanged result
  * (measured: `graft.tools.ExecutorLossProbe` kills an executor between
  * consume and re-consume; fingerprints match). A concurrent loss of
  * both replica holders still fails the query — callers needing
  * stronger guarantees can pre-wrap the INPUT in a reliable
  * `df.checkpoint()` (HDFS-backed), but that is belt-and-braces, not
  * the default requirement.
  *
  * `boundedInput = true` is a caller hint that the frame is provably
  * small BY CONSTRUCTION (e.g. post-aggregation by calendar day: ≤ a few
  * thousand rows at any scale factor). It swaps `repartitionByRange` —
  * whose range-bound sampling executes the upstream plan an extra time —
  * for a single-partition `repartition(1)`, keeping every other pass
  * identical. Semantics are unchanged; only use it where cardinality is
  * bounded independent of data scale.
  *
  * The per-partition prefix scan is `mapPartitions` — the genuinely
  * imperative sequential case (a prefix sum), the same altitude as a
  * codec. Running sums are exact over LongType inputs (nulls count 0).
  */
object OrderStats {

  /** Test hook: running() invocation count. Each invocation costs exactly
    * one exchange (range shuffle, or repartition(1) when bounded), so
    * plan-quality specs pin fusion by asserting a query's delta is 1 —
    * the checkpointed-RDD output hides the exchange from its executedPlan.
    */
  private[graft] val invocations = new java.util.concurrent.atomic.AtomicLong

  /** Executor-side prefix state for one partition: replays the first-level
    * running statistics row by row. Constructed INSIDE mapPartitions from
    * broadcast offset tables, so it is never serialized itself.
    *
    * `step` returns the appended first-level values for the row, in output
    * schema order: [rn?] ++ cumLong ++ maxExcl ++ cumDesc ++
    * (cumOut, maxExclOut)* for cumMaxOfCum.
    */
  private final class Stepper(
      pid: Int,
      emitRn: Boolean,
      sumIdx: Array[Int], maxIdx: Array[Int],
      descIdx: Array[Int], mocIdx: Array[Int],
      cntOff: Array[Long],
      sumOff: Array[Array[Long]],
      maxOff: Array[Array[java.lang.Long]],
      descOff: Array[Array[Long]], descTot: Array[Long],
      mocOff: Array[Array[Long]], mocMaxOff: Array[Array[java.lang.Long]]) {
    private var rn = cntOff(pid)
    private val s = sumOff(pid).clone()
    private val m = maxOff(pid).clone()
    private val dsc = descOff(pid).clone()
    private val mocV = mocOff(pid).clone()
    private val mocM = mocMaxOff(pid).clone()

    def step(r: Row): Array[Any] = {
      val out = Array.newBuilder[Any]
      rn += 1
      if (emitRn) out += rn
      var i = 0
      while (i < sumIdx.length) {
        if (!r.isNullAt(sumIdx(i))) s(i) = Math.addExact(s(i), r.getLong(sumIdx(i)))
        out += s(i)
        i += 1
      }
      // Running maxes are EXCLUSIVE of the current row (SQL frame
      // `unboundedPreceding to -1` — "best strictly before me"): emit the
      // pre-update value, then fold the row in.
      i = 0
      while (i < maxIdx.length) {
        out += m(i)
        if (!r.isNullAt(maxIdx(i))) {
          val v = r.getLong(maxIdx(i))
          if (m(i) == null || v > m(i)) m(i) = v
        }
        i += 1
      }
      // Descending INCLUSIVE cumulative from the ascending pass:
      // total − ascending exclusive prefix = total − (inclusive − v).
      i = 0
      while (i < descIdx.length) {
        val v = if (r.isNullAt(descIdx(i))) 0L else r.getLong(descIdx(i))
        dsc(i) = Math.addExact(dsc(i), v)
        out += (descTot(i) - dsc(i) + v)
        i += 1
      }
      // Fused running sum + exclusive running max of that sum.
      i = 0
      while (i < mocIdx.length) {
        val v = if (r.isNullAt(mocIdx(i))) 0L else r.getLong(mocIdx(i))
        mocV(i) = Math.addExact(mocV(i), v)
        out += mocV(i)
        out += mocM(i)
        if (mocM(i) == null || mocV(i) > mocM(i)) mocM(i) = mocV(i)
        i += 1
      }
      out.result()
    }
  }

  /** Appends, all ordered by `sort` (use `.desc` columns for descending;
    * the sort should be total — include a tiebreaker — if downstream
    * consumes per-row values):
    *  - a 1-based global row number (`rnCol`);
    *  - for each `(in, out)` in `cumLong`: the inclusive running sum;
    *  - for each `(in, out)` in `maxExcl`: the EXCLUSIVE running max
    *    (null before the first non-null value);
    *  - for each `(in, out)` in `cumDesc`: the inclusive running sum in
    *    the OPPOSITE direction of `sort` ("sum of this row and everything
    *    after me"), computed from the same ascending pass;
    *  - for each `(in, cumOut, maxExclOut)` in `cumMaxOfCum`: the
    *    inclusive running sum of `in` AND the exclusive running max of
    *    that running sum (the drawdown/peak shape), fused into one pass;
    *  - for each `(name, f)` in `derived`: `f` applied to the row WITH all
    *    first-level outputs appended (access by field name); must be a
    *    pure function of those fields; null allowed;
    *  - for each `(name, out)` in `derivedCum`: the inclusive running sum
    *    of the derived column `name` (nulls count 0) — costs one extra
    *    metadata traversal of the checkpointed partitions, NOT a shuffle.
    *
    * All running-sum inputs must be LongType; sums are overflow-checked.
    */
  def running(df: DataFrame, sort: Seq[Column], rnCol: Option[String],
      cumLong: Seq[(String, String)] = Nil,
      maxExcl: Seq[(String, String)] = Nil,
      cumDesc: Seq[(String, String)] = Nil,
      cumMaxOfCum: Seq[(String, String, String)] = Nil,
      derived: Seq[(String, Row => java.lang.Long)] = Nil,
      derivedCum: Seq[(String, String)] = Nil,
      boundedInput: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    invocations.incrementAndGet()
    require(derivedCum.forall { case (n, _) => derived.exists(_._1 == n) },
      "derivedCum names must reference derived columns")
    val base =
      if (boundedInput) df.repartition(1) else df.repartitionByRange(sort: _*)
    val sorted = base.sortWithinPartitions(sort: _*).ckpt()
    val schema = sorted.schema
    def idxOf(cols: Seq[String]) = cols.map { in =>
      require(schema(in).dataType == LongType, s"$in must be LongType")
      schema.fieldIndex(in)
    }.toArray
    val sumIdx = idxOf(cumLong.map(_._1))
    val maxIdx = idxOf(maxExcl.map(_._1))
    val descIdx = idxOf(cumDesc.map(_._1))
    val mocIdx = idxOf(cumMaxOfCum.map(_._1))
    // Pass 1: per-partition (count, sums, maxes, desc-sums, moc-sums,
    // max-of-local-prefix) — one tuple each.
    val totals = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L
      val s = Array.fill(sumIdx.length)(0L)
      val m = Array.fill[java.lang.Long](maxIdx.length)(null)
      val dsc = Array.fill(descIdx.length)(0L)
      val moc = Array.fill(mocIdx.length)(0L)
      val mocMax = Array.fill[java.lang.Long](mocIdx.length)(null)
      it.foreach { r =>
        c += 1
        var i = 0
        while (i < sumIdx.length) {
          if (!r.isNullAt(sumIdx(i))) s(i) = Math.addExact(s(i), r.getLong(sumIdx(i)))
          i += 1
        }
        i = 0
        while (i < maxIdx.length) {
          if (!r.isNullAt(maxIdx(i))) {
            val v = r.getLong(maxIdx(i))
            if (m(i) == null || v > m(i)) m(i) = v
          }
          i += 1
        }
        i = 0
        while (i < descIdx.length) {
          if (!r.isNullAt(descIdx(i))) dsc(i) = Math.addExact(dsc(i), r.getLong(descIdx(i)))
          i += 1
        }
        i = 0
        while (i < mocIdx.length) {
          if (!r.isNullAt(mocIdx(i))) moc(i) = Math.addExact(moc(i), r.getLong(mocIdx(i)))
          // The local inclusive prefix is a max candidate after EVERY row
          // (a null leaves the prefix, and therefore the max, unchanged).
          if (mocMax(i) == null || moc(i) > mocMax(i)) mocMax(i) = moc(i)
          i += 1
        }
      }
      Iterator.single((pid, c, s, m, dsc, moc, mocMax))
    }.collect().sortBy(_._1)
    // Exclusive prefix offsets per partition id.
    val nParts = totals.length
    val cntOff = new Array[Long](nParts + 1)
    val sumOff = Array.ofDim[Long](nParts + 1, sumIdx.length)
    val maxOff = Array.fill[java.lang.Long](nParts + 1, maxIdx.length)(null)
    val descOff = Array.ofDim[Long](nParts + 1, descIdx.length)
    val mocOff = Array.ofDim[Long](nParts + 1, mocIdx.length)
    val mocPartMax = Array.fill[java.lang.Long](nParts, mocIdx.length)(null)
    totals.foreach { case (pid, c, s, m, dsc, moc, mocMax) =>
      cntOff(pid + 1) = c
      Array.copy(s, 0, sumOff(pid + 1), 0, sumIdx.length)
      Array.copy(m, 0, maxOff(pid + 1), 0, maxIdx.length)
      Array.copy(dsc, 0, descOff(pid + 1), 0, descIdx.length)
      Array.copy(moc, 0, mocOff(pid + 1), 0, mocIdx.length)
      Array.copy(mocMax, 0, mocPartMax(pid), 0, mocIdx.length)
    }
    for (p <- 1 to nParts) {
      cntOff(p) += cntOff(p - 1)
      for (i <- 0 until sumIdx.length) sumOff(p)(i) += sumOff(p - 1)(i)
      for (i <- 0 until descIdx.length) descOff(p)(i) += descOff(p - 1)(i)
      for (i <- 0 until mocIdx.length) mocOff(p)(i) += mocOff(p - 1)(i)
      for (i <- 0 until maxIdx.length) {
        val prev = maxOff(p - 1)(i)
        if (maxOff(p)(i) == null || (prev != null && prev > maxOff(p)(i)))
          maxOff(p)(i) = prev
      }
    }
    val descTot = Array.tabulate(descIdx.length)(i => descOff(nParts)(i))
    // Cross-partition exclusive max offsets for the running-max-of-sum:
    // partition q's global prefix max = its sum offset + its local prefix
    // max; the exclusive offset for p is the max over all q < p.
    val mocMaxOff = Array.fill[java.lang.Long](nParts + 1, mocIdx.length)(null)
    for (p <- 0 until nParts) {
      for (i <- 0 until mocIdx.length) {
        mocMaxOff(p + 1)(i) = mocMaxOff(p)(i)
        if (mocPartMax(p)(i) != null) {
          val cand = mocOff(p)(i) + mocPartMax(p)(i)
          if (mocMaxOff(p + 1)(i) == null || cand > mocMaxOff(p + 1)(i))
            mocMaxOff(p + 1)(i) = cand
        }
      }
    }
    val emitRn = rnCol.isDefined
    val level1Schema = StructType(schema.fields ++
      rnCol.map(n => StructField(n, LongType, nullable = false)) ++
      cumLong.map { case (_, out) => StructField(out, LongType, nullable = false) } ++
      maxExcl.map { case (_, out) => StructField(out, LongType, nullable = true) } ++
      cumDesc.map { case (_, out) => StructField(out, LongType, nullable = false) } ++
      cumMaxOfCum.flatMap { case (_, cumOut, mxOut) => Seq(
        StructField(cumOut, LongType, nullable = false),
        StructField(mxOut, LongType, nullable = true)) })
    val outSchema = StructType(level1Schema.fields ++
      derived.map { case (n, _) => StructField(n, LongType, nullable = true) } ++
      derivedCum.map { case (_, out) => StructField(out, LongType, nullable = false) })
    val bcCnt = spark.sparkContext.broadcast(cntOff)
    val bcSum = spark.sparkContext.broadcast(sumOff)
    val bcMax = spark.sparkContext.broadcast(maxOff)
    val bcDesc = spark.sparkContext.broadcast(descOff)
    val bcDescTot = spark.sparkContext.broadcast(descTot)
    val bcMoc = spark.sparkContext.broadcast(mocOff)
    val bcMocMax = spark.sparkContext.broadcast(mocMaxOff)
    val sumIdxB = sumIdx; val maxIdxB = maxIdx
    val descIdxB = descIdx; val mocIdxB = mocIdx
    def mkStepper(pid: Int) = new Stepper(pid, emitRn, sumIdxB, maxIdxB,
      descIdxB, mocIdxB, bcCnt.value, bcSum.value, bcMax.value,
      bcDesc.value, bcDescTot.value, bcMoc.value, bcMocMax.value)
    val deriveFns = derived.toArray
    val lvl1SchemaB = level1Schema
    def deriveRow(base: Row, lvl1: Array[Any]): Array[java.lang.Long] = {
      if (deriveFns.isEmpty) Array.empty
      else {
        val full = new GenericRowWithSchema(
          (base.toSeq ++ lvl1).toArray, lvl1SchemaB)
        deriveFns.map { case (_, f) => f(full) }
      }
    }
    // Pass 1.5 (only when a derived cumulative is requested): per-partition
    // sums of the derived columns — metadata again, never a shuffle. The
    // derived value depends only on first-level outputs, whose offsets are
    // already known, so it is computable partition-locally here.
    val derOff = Array.ofDim[Long](nParts + 1, derivedCum.length)
    if (derivedCum.nonEmpty) {
      val cumNameIdx = derivedCum.map { case (n, _) =>
        deriveFns.indexWhere(_._1 == n) }.toArray
      val derTotals = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val st = mkStepper(pid)
        val acc = Array.fill(cumNameIdx.length)(0L)
        it.foreach { r =>
          val d = deriveRow(r, st.step(r))
          var i = 0
          while (i < cumNameIdx.length) {
            val v = d(cumNameIdx(i))
            if (v != null) acc(i) = Math.addExact(acc(i), v)
            i += 1
          }
        }
        Iterator.single((pid, acc))
      }.collect().sortBy(_._1)
      derTotals.foreach { case (pid, acc) =>
        Array.copy(acc, 0, derOff(pid + 1), 0, acc.length) }
      for (p <- 1 to nParts; i <- 0 until derivedCum.length)
        derOff(p)(i) += derOff(p - 1)(i)
    }
    val bcDer = spark.sparkContext.broadcast(derOff)
    val cumNameIdxB = derivedCum.map { case (n, _) =>
      deriveFns.indexWhere(_._1 == n) }.toArray
    // Final pass: same materialized partitions, local prefix + broadcast
    // offsets, emit everything.
    val outRows = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val st = mkStepper(pid)
      val dAcc = bcDer.value(pid).clone()
      it.map { r =>
        val lvl1 = st.step(r)
        val d = deriveRow(r, lvl1)
        val dCums = new Array[Any](cumNameIdxB.length)
        var i = 0
        while (i < cumNameIdxB.length) {
          val v = d(cumNameIdxB(i))
          if (v != null) dAcc(i) = Math.addExact(dAcc(i), v)
          dCums(i) = dAcc(i)
          i += 1
        }
        Row.fromSeq(r.toSeq ++ lvl1 ++ d ++ dCums)
      }
    }
    spark.createDataFrame(outRows, outSchema)
  }

  /** Top-k by `sort` with a 1-based rank column — the scale-safe
    * rank-then-filter: `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    * ONE bounded partition, rows in order), and the rank is a sequential
    * index over that single bounded partition — no window anywhere, so
    * nothing ever re-sorts or re-shuffles the full input.
    */
  def topK(df: DataFrame, sort: Seq[Column], k: Int, rnCol: String,
      cumLong: Seq[(String, String)] = Nil): DataFrame = {
    val limited = df.orderBy(sort: _*).limit(k)
    val sumIdx = cumLong.map { case (in, _) =>
      require(limited.schema(in).dataType == LongType, s"$in must be LongType")
      limited.schema.fieldIndex(in)
    }.toArray
    val outSchema = StructType(limited.schema.fields ++
      (StructField(rnCol, LongType, nullable = false) +:
        cumLong.map { case (_, out) =>
          StructField(out, LongType, nullable = false) }))
    implicit val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(outSchema)
    limited.mapPartitions(new TopKRank(sumIdx))
  }

  /** [[topK]]'s per-partition pass: appends the rank and the running
    * sums of the `sumIdx` columns. A named class, not a lambda, so the
    * plan prints the same `MapPartitions` argument on every run.
    */
  private final class TopKRank(sumIdx: Array[Int])
      extends (Iterator[Row] => Iterator[Row]) with Serializable {
    def apply(it: Iterator[Row]): Iterator[Row] = {
      // TakeOrderedAndProject emits exactly one partition; if a future
      // planner change broke that, per-partition indexing would silently
      // misrank — fail loudly instead.
      require(org.apache.spark.TaskContext.getPartitionId() == 0 || !it.hasNext,
        "topK expects its limited input in a single partition")
      var rn = 0L
      val s = Array.fill(sumIdx.length)(0L)
      it.map { r =>
        rn += 1
        var i = 0
        while (i < sumIdx.length) {
          if (!r.isNullAt(sumIdx(i))) s(i) = Math.addExact(s(i), r.getLong(sumIdx(i)))
          i += 1
        }
        Row.fromSeq(r.toSeq ++ (rn +: s.toSeq))
      }
    }

    override def toString: String = s"OrderStats.TopKRank(${sumIdx.mkString(" ")})"
  }
}
