package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Md5}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{DotProduct, Md5Fast}

/** Engine-level Catalyst hooks, registered via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` (works for any
  * session the user builds, including spark-submit on a cluster).
  *
  * Every session [[graft.SparkEngine]] builds installs them, so the
  * DuckDB oracle gates each rewrite across the catalog. Three hooks:
  *  - optimizer rule [[FastHashRule]]: transparently rewrites the
  *    built-in `md5` to [[graft.functions.Md5Fast]] (identical output,
  *    no per-row MessageDigest provider lookup) — SQL users get the fast
  *    path without code changes;
  *  - optimizer rule [[RangeBinRule]]: rewrites bare non-equi range
  *    joins (`lo <= p AND p < hi`) into the binned equi-join shape when
  *    `spark.graft.rangeJoin.binWidth` is set — plain SQL gets the
  *    scale-safe plan the manual `RangeJoin.pointInInterval` operator
  *    produces;
  *  - SQL function registration: `graft_md5`, `graft_dot` become callable
  *    from `spark.sql(...)`, not just the Scala DSL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Extracts a compile-time integer argument (the `k` of a sketch) with
    * a real error message instead of an IndexOutOfBounds/MatchError.
    * Accepts any FOLDABLE integral expression (`10`, `10L`, `5 + 5`,
    * `CAST(16 AS INT)`), not just a bare literal — sketch sizes must be
    * known at plan time because they size the aggregation buffer.
    */
  private def intArg(fn: String, args: Seq[Expression], idx: Int): Int = {
    val e = args(idx)
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: argument ${idx + 1} must be a constant integer, got $e")
    // eval() of a foldable can still surprise: CAST(NULL AS INT) folds to
    // null, and under ANSI an eval-time-throwing constant (1/0) would
    // surface a raw ArithmeticException — both get the function's own
    // error message instead (round-9 advice).
    val v = try e.eval() catch {
      case ex: Exception => throw new IllegalArgumentException(
        s"$fn: argument ${idx + 1} failed to evaluate to a constant " +
          s"integer: ${ex.getMessage}", ex)
    }
    v match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case null => throw new IllegalArgumentException(
        s"$fn: argument ${idx + 1} must be a non-null constant integer")
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${idx + 1} must be a constant integer, got $other")
    }
  }

  private def requireArity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects exactly $n arguments, got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FastHashRule)
    ext.injectOptimizerRule(_ => RangeBinRule)
    ext.injectFunction((
      new FunctionIdentifier("graft_md5"),
      new ExpressionInfo(classOf[Md5Fast].getName, "graft_md5"),
      (args: Seq[Expression]) => Md5Fast(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    // Bloom build/probe for SQL users: the same internal expressions
    // Spark's runtime filters use, but callable explicitly —
    //   SELECT graft_bloom_agg(xxhash64(k), 1000000, 8000000) FROM corpus
    //   ... WHERE graft_might_contain(:filter, xxhash64(k))
    // KMV distinct-count sketch (TypedImperativeAggregate):
    //   SELECT graft_kmv(CAST(k AS STRING), 4096) FROM t
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[graft.functions.KmvSketch].getName, "graft_kmv"),
      (args: Seq[Expression]) => {
        requireArity("graft_kmv", args, 2)
        val k = intArg("graft_kmv", args, 1)
        // ~8 bytes/hash: wide buffer, few-group call sites → warn-only.
        graft.functions.ObjectAggGuard.warnWide("graft_kmv", 4L + 8L * k)
        graft.functions.KmvSketch(args.head, k).toAggregateExpression()
      }))
    // Misra–Gries heavy-hitter candidates (TypedImperativeAggregate):
    //   SELECT graft_heavy_hitters(term, 512) FROM toks
    ext.injectFunction((
      new FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName, "graft_heavy_hitters"),
      (args: Seq[Expression]) => {
        requireArity("graft_heavy_hitters", args, 2)
        val k = intArg("graft_heavy_hitters", args, 1)
        // ~12 bytes + term text per entry; 64 is a stated working
        // estimate for typical term lengths (warn-only sizing input).
        graft.functions.ObjectAggGuard.warnWide("graft_heavy_hitters", 64L * k)
        graft.functions.MisraGries(args.head, k).toAggregateExpression()
      }))
    // Bounded top-k pairs (TypedImperativeAggregate — map-side emits ≤k
    // rows per group × partition; the shuffle-thin ANN ranking path):
    //   SELECT qid, graft_topk(cos, nid, 10) FROM pairs GROUP BY qid
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(
        classOf[graft.functions.BoundedTopK].getName, null, "graft_topk",
        // Usage doc (shown by DESCRIBE FUNCTION): names the fallback conf
        // an external session MUST raise — graft-built sessions pin 65536,
        // but a bare session installing only these extensions keeps
        // Spark's 128-key default, under which ObjectHashAggregate
        // silently sorts the whole stream per partition (the construction
        //-time warning below says the same at plan time).
        "graft_topk(score, id, k) - bounded per-group top-k (score DOUBLE" +
          " desc, id BIGINT asc) with map-side partial aggregation; emits" +
          " array<struct<cos,neighbor_id>>. IMPORTANT: set " +
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold=65536" +
          " (Spark's 128 default silently degrades to a per-partition" +
          // 5th ctor arg is `arguments`, which Spark asserts non-null
          // (only JVM -ea off lets null through) and string-concats into
          // DESCRIBE FUNCTION EXTENDED — empty string, never null.
          " whole-stream sort past 128 distinct groups).", ""),
      (args: Seq[Expression]) => {
        requireArity("graft_topk", args, 3)
        val k = intArg("graft_topk", args, 2)
        graft.functions.ObjectAggGuard.requireBudget(
          "graft_topk", graft.functions.BoundedTopK.bufferBytes(k))
        graft.functions.BoundedTopK(args(0), args(1), k)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))))
  }
}

/** `md5(x)` → `graft_md5(x)`: same 32-char hex, ~10× cheaper per row
  * (commons-codec re-resolves the MessageDigest provider every call; see
  * Md5Fast scaladoc). Safe as an optimizer rule because the expressions
  * are value-equivalent for every input, null included.
  */
object FastHashRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Md5(child) => Md5Fast(child)
    }
}
