package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Perf-budget regression gate: runs the ENTIRE catalog in one JVM/session
  * and asserts aggregate timing budgets. The regression class this guards —
  * JIT code-cache exhaustion (ReservedCodeCacheSize reverted → late
  * queries run interpreted, 10-50× slower), ICU case-mapping static init
  * (first upper/lower stalls minutes), per-row JCA lookups — only shows up
  * across a long many-query session, never in per-operator specs. Turning
  * it into a red test converts a rediscovery (two rounds of thread-dump
  * archaeology so far) into a CI failure.
  *
  * Budgets are deliberately loose multiples of steady state at sf0.001
  * (median ~0.5s, max ~10s): median ≤ 5s catches the "everything after
  * query 40 is interpreted" shape, max ≤ 60s catches the "one query hits
  * a minutes-long static init" shape, without flaking on scheduler noise
  * or suite ordering (the first query in a cold session pays ~30s warmup).
  */
class PerfBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_PERF_SF", "/root/testdata/sf0.001")
  private val medianBudgetSec =
    sys.env.getOrElse("SPARK_GRAFT_PERF_MEDIAN_SEC", "5").toDouble
  private val maxBudgetSec =
    sys.env.getOrElse("SPARK_GRAFT_PERF_MAX_SEC", "60").toDouble

  test("full catalog: median and max per-query time stay inside budget") {
    val times = Registry.entries.map { case Registry.Entry(name, _, fn, _) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - t0) / 1e9
    }
    val sorted = times.map(_._2).sorted
    val median = sorted(sorted.size / 2)
    val (slowName, slowSec) = times.maxBy(_._2)
    info(times.sortBy(-_._2).take(5)
      .map { case (n, s) => f"$n $s%.1fs" }.mkString("slowest: ", ", ", ""))
    assert(median <= medianBudgetSec,
      f"median per-query time $median%.1fs exceeds ${medianBudgetSec}s — " +
        "suspect a session-wide JVM regression (code cache / ICU / JCA)")
    assert(slowSec <= maxBudgetSec,
      f"$slowName took $slowSec%.1fs (budget ${maxBudgetSec}s)")
  }
}
