package graft

import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec,
  RDDScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Plan-shape audit CLI: per catalog query, counts parquet scans,
  * exchanges, and RDD scans, and flags nested-loop/cartesian joins —
  * the quick "would this survive 100×" triage before reading a full
  * `.explain("formatted")`.
  *
  * Nested-loop joins are split into three flags so `bnlj=true` stays a
  * zero-tolerance signal:
  *  - `bnlj` — a REAL unbounded nested loop: the build side can grow
  *    with the data. The scale-killer class; nothing in the catalog may
  *    plan one.
  *  - `scalarBnlj` — the build side is a grouping-key-free aggregate:
  *    exactly one row, the standard "cross join a computed scalar"
  *    plan. O(N), harmless.
  *  - `boundedBnlj` — the build side ends in a subtree whose row count
  *    is structurally bounded: a grouped aggregate over a small key
  *    domain, a limit, or a localCheckpoint leaf of such a frame (this
  *    repo's pattern for materialized k-row centroid/codebook frames —
  *    `Similarity.ivfCentroids` ends in `.localCheckpoint()`, so the
  *    broadcast build is an `RDDScanExec`). The k-means assignment
  *    passes of `q_embed_ivf*` are N×k scans with bounded k: the
  *    correct plan, not a defect.
  *
  * Classification WALKS DOWN from the build root through node types
  * that cannot increase the row bound (project/filter/sort/exchange/
  * limit/codegen wrappers). It does NOT use an unrestricted subtree
  * search: a plan that re-expands a bounded frame (explode/join above
  * the aggregate) must classify as a real `bnlj`, not hide behind the
  * aggregate below it.
  *
  * Known false-positive direction: `boundedBnlj` trusts that an
  * `RDDScanExec` build (localCheckpoint) or a grouped aggregate is
  * small — a checkpointed billion-row frame would still classify
  * bounded. The audit is a triage tool; PlanQualitySpec pins the known
  * instances by name.
  *
  * Usage: `sbt "runMain graft.ExplainAudit q_foo q_bar"` (all queries if
  * no args; catalog order either way). Complements PlanQualitySpec, which
  * pins the same properties as regression tests for the headline queries.
  */
object ExplainAudit {

  sealed trait BnljClass
  case object RealBnlj extends BnljClass
  case object ScalarBnlj extends BnljClass
  case object BoundedBnlj extends BnljClass

  /** Classify one BNLJ by its build side. `whole` is the full plan, for
    * resolving `ReusedExchangeExec` builds (the reused exchange is a
    * leaf; the scalar aggregate it duplicates lives elsewhere).
    */
  def classify(j: BroadcastNestedLoopJoinExec, whole: SparkPlan): BnljClass = {
    val build = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
    }
    classifyBuild(build, whole)
  }

  private def classifyBuild(build: SparkPlan, whole: SparkPlan): BnljClass =
    boundRoot(build) match {
      case Some(a: BaseAggregateExec) =>
        if (a.groupingExpressions.isEmpty) ScalarBnlj else BoundedBnlj
      case Some(_: GlobalLimitExec) | Some(_: LocalLimitExec) |
          Some(_: TakeOrderedAndProjectExec) => BoundedBnlj
      case Some(_: RDDScanExec) => BoundedBnlj // localCheckpoint leaf
      // A literal range leaf has a static row count — the "grid" frames
      // (10-row checkpoint/discount grids) are bounded by construction.
      // The count is CHECKED, not trusted: a spark.range(1e9) build is a
      // real nested loop regardless of how static its cardinality is.
      case Some(r: org.apache.spark.sql.execution.RangeExec)
          if r.numElements <= 10000 => BoundedBnlj
      // A nested BNLJ whose BOTH sides classify bounded/scalar cannot
      // exceed the product of two static bounds (e.g. a 10-row range
      // cross-joined with a 1-row aggregate). Recurse; anything Real
      // below keeps the whole build Real.
      case Some(j: BroadcastNestedLoopJoinExec)
          if classifyBuild(j.left, whole) != RealBnlj &&
            classifyBuild(j.right, whole) != RealBnlj => BoundedBnlj
      case Some(_: ReusedExchangeExec) =>
        // Broadcast reused from elsewhere in the plan: fall back to a
        // whole-plan scan for a no-key aggregate (the only reuse pattern
        // in this catalog). Conservative: grouped reuse stays Real.
        if (whole.find {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }.isDefined) ScalarBnlj else RealBnlj
      case _ => RealBnlj
    }

  /** Descend through nodes that cannot increase the row bound and
    * return the first bound-establishing (or unknown) node. Explodes,
    * joins, unions, generators — anything that can multiply rows —
    * terminates the walk as `None`-equivalent (the node itself, which
    * the caller classifies Real).
    */
  private def boundRoot(p: SparkPlan): Option[SparkPlan] = p match {
    case w: WholeStageCodegenExec => boundRoot(w.child)
    case i: InputAdapter => boundRoot(i.child)
    case e: Exchange => boundRoot(e.child)
    case pr: ProjectExec => boundRoot(pr.child)
    case f: FilterExec => boundRoot(f.child)
    case s: SortExec => boundRoot(s.child)
    case other => Some(other)
  }

  def main(args: Array[String]): Unit = {
    val selected = queries.Registry.select(args.toSeq)
    val spark = SparkEngine.session()
    for (queries.Registry.Entry(q, _, build, _) <- selected) {
      // Unwrap AQE: AdaptiveSparkPlanExec holds the real plan as a field,
      // not a child, so TreeNode.collect would see an empty tree.
      val plan = build(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val p = plan.toString
      val scans = p.split("Scan parquet").length - 1
      val exch = p.split("Exchange").length - 1
      val rddScans = p.split("Scan ExistingRDD").length - 1
      val classes = plan.collect { case j: BroadcastNestedLoopJoinExec =>
        classify(j, plan) }
      println(s"AUDIT $q: parquetScans=$scans exchanges=$exch rddScans=$rddScans " +
        s"bnlj=${classes.contains(RealBnlj)} " +
        s"boundedBnlj=${classes.count(_ == BoundedBnlj)} " +
        s"scalarBnlj=${classes.count(_ == ScalarBnlj)} " +
        s"cart=${p.contains("CartesianProduct")}")
    }
    spark.stop()
  }
}
