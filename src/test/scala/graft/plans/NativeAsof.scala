package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Ascending, Attribute, AttributeSet, Descending, Expression,
  GenericInternalRow, JoinedRow, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.graftbridge.Bridge

/** As-of join as a FULL custom operator — logical node, planner strategy,
  * physical exec — the (c) tier of the extension preference order, for
  * semantics Spark's operators can't express as one node.
  *
  * Physical shape (the kdb `aj` plan): both sides hash-partitioned on the
  * key and sorted (key, time) — EnsureRequirements inserts exactly one
  * exchange + sort per side — then a single forward merge sweep per
  * partition pairs each left row with the latest right row at or before
  * its timestamp. Zero extra memory beyond one buffered right row; no
  * pair-space blowup; same cost shape as a sort-merge join.
  *
  * [[graft.operators.AsofJoin]] (union + window) is the as-of join that
  * ships: no query, route or session plans this operator, and the
  * `nearest` strategy (q_asof_nearest) is one the merge sweep cannot
  * express. It lives in the test tree as an independent second
  * formulation that NativeAsofSpec checks the portable operator
  * against, and it plans only on [[NativeAsofSession.spark]], whose
  * planner carries [[AsofStrategy]].
  */
object NativeAsof {

  /** Left as-of join of `left` with `right` on equal `key`, matching the
    * latest right row with `rightTime <= leftTime` — or, with
    * `forward = true`, the earliest right row with `rightTime >= leftTime`.
    * Carried right columns come back `asof_`-prefixed (null when no
    * match). Ties on rightTime resolve to the greatest `tieBreak`.
    *
    * `tolerance` bounds the match distance in the time column's PHYSICAL
    * units (micros for TIMESTAMP, days for DATE, the raw value for
    * integral types) — the merge sweep compares raw Catalyst values, so
    * the bound lives in the same domain. The `nearest` strategy is only
    * offered by the portable [[graft.operators.AsofJoin]]: it needs both
    * sweep directions, which in the single-pass merge would require
    * conflicting tie orderings on the right side.
    */
  def leftAsof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, rightCols: Seq[String],
      tieBreak: String, forward: Boolean = false,
      tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    val lp = Bridge.logicalPlan(left)
    val rp = Bridge.logicalPlan(right)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no such column: $name"))
    val carried = rightCols.map { c =>
      Alias(attr(rp, c), s"asof_$c")()
    }
    val outputAttrs =
      lp.output ++ carried.map(_.toAttribute.withNullability(true))
    Bridge.ofRows(spark, AsofJoinNode(
      lp, rp, attr(lp, key), attr(rp, key),
      attr(lp, leftTime), attr(rp, rightTime), attr(rp, tieBreak),
      carried, outputAttrs, forward, tolerance))
  }
}

/** Logical as-of join node. `carried` are Aliases over right-side
  * attributes (nullable — unmatched left rows carry nulls). The output
  * attribute list is a constructor parameter, NOT derived from `carried`:
  * analyzer rules (CleanupAliases) rewrite `carried` mid-analysis, and a
  * derived output would change schema under the consumers already bound
  * to it.
  */
final case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, tieBreak: Expression,
    carried: Seq[NamedExpression],
    outputAttrs: Seq[Attribute],
    forward: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] = outputAttrs

  // The asof_* columns are minted here, not forwarded from a child.
  override def producedAttributes: AttributeSet =
    AttributeSet(outputAttrs.drop(left.output.size))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] → [[AsofJoinExec]]. Only
  * [[NativeAsofSession.spark]] installs it.
  */
object AsofStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.rightKey, n.leftTime, n.rightTime, n.tieBreak,
        n.carried, n.outputAttrs, n.forward, n.tolerance) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned, co-sorted, one merge sweep per
  * partition.
  */
final case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, tieBreak: Expression,
    carried: Seq[NamedExpression],
    override val output: Seq[Attribute],
    forward: Boolean = false,
    tolerance: Option[Long] = None)
    extends SparkPlan with org.apache.spark.sql.execution.BinaryExecNode {

  override def producedAttributes: AttributeSet =
    AttributeSet(output.drop(left.output.size))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // (key, time) per side; right additionally tie-sorted so the row the
  // sweep exposes for an equal-timestamp run is the max-tieBreak one:
  // backward buffers the LAST row of a run (tie asc), forward peeks the
  // FIRST row of a run (tie desc).
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(tieBreak, if (forward) Descending else Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    // CleanupAliases strips top-level aliases on non-Project operators,
    // so each carried expression is either the original Alias or the bare
    // right-side attribute.
    val carriedExprs: Seq[Expression] = carried.map {
      case a: Alias => a.child
      case e => e
    }
    val leftOut = left.output
    val rightOut = right.output
    val lKey = leftKey; val rKey = rightKey
    val lTime = leftTime; val rTime = rightTime
    val fwd = forward
    val tol = tolerance
    // Raw time value → Long for the tolerance bound: Catalyst stores
    // TIMESTAMP as Long micros, DATE as Int days, integrals as themselves.
    def timeAsLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case d: org.apache.spark.sql.types.Decimal => d.toLong
      case other => throw new UnsupportedOperationException(
        s"as-of tolerance unsupported for time value of ${other.getClass}")
    }
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyEval = UnsafeProjection.create(Seq(lKey, lTime), leftOut)
      val rKeyEval = UnsafeProjection.create(Seq(rKey, rTime), rightOut)
      // Bind against a nullable-forced right schema: unmatched left rows
      // evaluate carried columns against an all-null row, and BindReferences
      // takes nullability from the input schema — a non-nullable bound
      // primitive would silently read 0 instead of null.
      val project = UnsafeProjection.create(
        leftOut.map(a => a: Expression) ++ carriedExprs,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      def withinTol(dist: Long): Boolean = tol.forall(dist <= _)
      if (!fwd) {
        // Backward: buffer the latest right row at or before (k, t).
        var held: InternalRow = null
        var heldKT: InternalRow = null
        lIter.map { lRow =>
          val lkt = lKeyEval(lRow)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rkt = rKeyEval(rBuf.head)
            val kc = keyOrd.compare(rkt.get(0, rKey.dataType), lkt.get(0, lKey.dataType))
            val before = kc < 0 ||
              (kc == 0 && timeOrd.compare(
                rkt.get(1, rTime.dataType), lkt.get(1, lTime.dataType)) <= 0)
            if (before) {
              held = rBuf.next().copy()
              heldKT = rkt.copy()
            } else advancing = false
          }
          val matched = held != null &&
            keyOrd.compare(heldKT.get(0, rKey.dataType), lkt.get(0, lKey.dataType)) == 0 &&
            withinTol(timeAsLong(lkt.get(1, lTime.dataType)) -
              timeAsLong(heldKT.get(1, rTime.dataType)))
          project(joined(lRow, if (matched) held else nullRight))
        }
      } else {
        // Forward: discard right rows strictly before (k, t); the head of
        // the buffer is then the earliest candidate at or after it. The
        // head is NOT consumed — later left rows may match the same row.
        lIter.map { lRow =>
          val lkt = lKeyEval(lRow)
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rkt = rKeyEval(rBuf.head)
            val kc = keyOrd.compare(rkt.get(0, rKey.dataType), lkt.get(0, lKey.dataType))
            val strictlyBefore = kc < 0 ||
              (kc == 0 && timeOrd.compare(
                rkt.get(1, rTime.dataType), lkt.get(1, lTime.dataType)) < 0)
            if (strictlyBefore) { rBuf.next(); () } else advancing = false
          }
          val matched = rBuf.hasNext && {
            val rkt = rKeyEval(rBuf.head)
            keyOrd.compare(rkt.get(0, rKey.dataType), lkt.get(0, lKey.dataType)) == 0 &&
              withinTol(timeAsLong(rkt.get(1, rTime.dataType)) -
                timeAsLong(lkt.get(1, lTime.dataType)))
          }
          project(joined(lRow, if (matched) rBuf.head else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** The shared test session's context with [[AsofStrategy]] in the
  * planner: a sibling session built once, so the shared session keeps
  * the planner that ships.
  */
object NativeAsofSession {
  lazy val spark: SparkSession = {
    val shared = graft.TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .withExtensions(_.injectPlannerStrategy(_ => AsofStrategy))
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }
}
