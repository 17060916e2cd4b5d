package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Six-sum OLS state: associative + commutative merge, so partial
  * aggregation (map-side combine) applies — the shuffle carries one
  * 6-field struct per (partition, group), never data rows.
  */
final case class RegrState(
    n: Long, sx: Double, sy: Double, sxy: Double, sxx: Double, syy: Double)

/** slope/intercept/r2, None on the reference's 400/None edge cases
  * (zero rows or zero x-variance → no slope; ss_tot == 0 → no r2).
  */
final case class RegrResult(
    slope: Option[Double], intercept: Option[Double], r2: Option[Double])

/** Single-pass OLS as a reusable typed `Aggregator` — the UDAF extension
  * point (SURVEY.md §4: optional `regr_all(x, y)` struct aggregate).
  *
  * Where [[graft.operators.Regression]] computes ONE regression per
  * DataFrame (six built-in sums + driver closed forms), registering this
  * via `functions.udaf` gives `regr_all(x, y)` usable inside any
  * `groupBy` — thousands of per-group regressions in one shuffle, closed
  * forms evaluated per group inside `finish`, nothing on the driver.
  * No query or route registers it: the `/regression` route and
  * q_regression run `Regression.run`. It lives in the test tree, where
  * RegrAggregatorSpec checks it against that operator.
  *
  * Null semantics follow the reference (main.rs:163-164): callers feed
  * `coalesce(try_cast(c, double), 0.0)` per input, and every row counts.
  */
object RegrAllAggregator
    extends Aggregator[(Double, Double), RegrState, RegrResult] {

  override def zero: RegrState = RegrState(0L, 0.0, 0.0, 0.0, 0.0, 0.0)

  override def reduce(s: RegrState, in: (Double, Double)): RegrState = {
    val (x, y) = in
    RegrState(s.n + 1, s.sx + x, s.sy + y,
      s.sxy + x * y, s.sxx + x * x, s.syy + y * y)
  }

  override def merge(a: RegrState, b: RegrState): RegrState =
    RegrState(a.n + b.n, a.sx + b.sx, a.sy + b.sy,
      a.sxy + b.sxy, a.sxx + b.sxx, a.syy + b.syy)

  override def finish(s: RegrState): RegrResult = {
    val n = s.n.toDouble
    val denom = n * s.sxx - s.sx * s.sx
    if (s.n == 0L || denom == 0.0) RegrResult(None, None, None)
    else {
      val slope = (n * s.sxy - s.sx * s.sy) / denom
      val intercept = (s.sy - slope * s.sx) / n
      val ssTot = n * s.syy - s.sy * s.sy
      val r2 =
        if (ssTot == 0.0) None
        else Some((n * s.sxy - s.sx * s.sy) * (n * s.sxy - s.sx * s.sy) / (denom * ssTot))
      RegrResult(Some(slope), Some(intercept), r2)
    }
  }

  override def bufferEncoder: Encoder[RegrState] = Encoders.product[RegrState]
  override def outputEncoder: Encoder[RegrResult] = Encoders.product[RegrResult]
}
