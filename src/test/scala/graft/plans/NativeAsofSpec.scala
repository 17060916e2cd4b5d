package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsofJoin

class NativeAsofSpec extends AnyFunSuite {

  private def withExtSession[A](f: SparkSession => A): A = f(NativeAsofSession.spark)

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("native exec agrees with the union+window formulation on events-like data") {
    withExtSession { spark =>
      import spark.implicits._
      // Adversarial mix: no-quote keys, equal timestamps, tie-broken
      // duplicates, interleaved keys, a key only on the right.
      val trades = Seq(
        (1L, 10L, ts("2024-01-01 10:00:05")),
        (2L, 10L, ts("2024-01-01 10:00:10")),
        (3L, 10L, ts("2024-01-01 09:59:00")),
        (4L, 20L, ts("2024-01-01 10:00:07")),
        (5L, 30L, ts("2024-01-01 11:00:00")),
        (6L, 30L, ts("2024-01-01 11:00:00"))
      ).toDF("trade_id", "sym", "t")
      val quotes = Seq(
        (100L, 10L, ts("2024-01-01 10:00:00"), 1.0),
        (101L, 10L, ts("2024-01-01 10:00:10"), 2.0),
        (102L, 10L, ts("2024-01-01 10:00:10"), 3.0),
        (103L, 30L, ts("2024-01-01 10:59:59"), 4.0),
        (104L, 40L, ts("2024-01-01 00:00:00"), 9.0)
      ).toDF("quote_id", "sym", "t", "px")

      def sortRows(df: org.apache.spark.sql.DataFrame) =
        df.select("trade_id", "asof_quote_id", "asof_px")
          .collect().map(_.toSeq).sortBy(_.toString).toSeq

      val native = NativeAsof.leftAsof(trades, quotes, "sym", "t", "t",
        Seq("quote_id", "px"), tieBreak = "quote_id")
      val reference = AsofJoin.leftAsof(trades, quotes, "sym", "t", "t",
        Seq("quote_id", "px"), tieBreak = "quote_id")
      assert(sortRows(native) === sortRows(reference))
      assert(native.count() === 6)
    }
  }

  test("plans as AsofJoinExec with one exchange+sort per side") {
    withExtSession { spark =>
      import spark.implicits._
      val l = Seq((1L, 10L), (2L, 20L)).toDF("k", "t")
      val r = Seq((1L, 5L, "x")).toDF("k", "t", "v")
      val df = NativeAsof.leftAsof(l, r, "k", "t", "t", Seq("v"), tieBreak = "t")
      df.collect()
      // Only the AQE final plan (the string also embeds the initial plan).
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("AsofJoin"), plan)
      assert(!plan.contains("Window"), plan) // native sweep, not the window fallback
      assert(plan.split("ShuffleQueryStage").length == 3, plan) // one exchange per side
    }
  }

  test("native forward and tolerance agree with the portable formulation") {
    withExtSession { spark =>
      import spark.implicits._
      val trades = Seq(
        (1L, 10L, ts("2024-01-01 10:00:05")),
        (2L, 10L, ts("2024-01-01 10:00:10")),
        (3L, 10L, ts("2024-01-01 09:59:00")),
        (4L, 20L, ts("2024-01-01 10:00:07")),
        (5L, 30L, ts("2024-01-01 11:00:00")),
        (6L, 30L, ts("2024-01-01 11:00:00"))
      ).toDF("trade_id", "sym", "t")
      val quotes = Seq(
        (100L, 10L, ts("2024-01-01 10:00:00"), 1.0),
        (101L, 10L, ts("2024-01-01 10:00:10"), 2.0),
        (102L, 10L, ts("2024-01-01 10:00:10"), 3.0),
        (103L, 30L, ts("2024-01-01 10:59:59"), 4.0),
        (104L, 40L, ts("2024-01-01 00:00:00"), 9.0)
      ).toDF("quote_id", "sym", "t", "px")
      def sortRows(df: org.apache.spark.sql.DataFrame) =
        df.select("trade_id", "asof_quote_id", "asof_px")
          .collect().map(_.toSeq).sortBy(_.toString).toSeq

      // Forward, unbounded.
      assert(
        sortRows(NativeAsof.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id", forward = true)) ===
        sortRows(AsofJoin.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id",
          strategy = AsofJoin.Forward)))
      // Backward and forward with a 3-second tolerance (native takes the
      // bound in timestamp micros; portable as an interval literal).
      import org.apache.spark.sql.functions.expr
      val tolUs = 3L * 1000 * 1000
      assert(
        sortRows(NativeAsof.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id",
          tolerance = Some(tolUs))) ===
        sortRows(AsofJoin.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id",
          tolerance = Some(expr("INTERVAL 3 SECONDS")))))
      assert(
        sortRows(NativeAsof.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id", forward = true,
          tolerance = Some(tolUs))) ===
        sortRows(AsofJoin.leftAsof(trades, quotes, "sym", "t", "t",
          Seq("quote_id", "px"), tieBreak = "quote_id",
          strategy = AsofJoin.Forward,
          tolerance = Some(expr("INTERVAL 3 SECONDS")))))
    }
  }

  test("unmatched left rows carry nulls (non-nullable right columns included)") {
    withExtSession { spark =>
      import spark.implicits._
      val l = Seq((1L, 100L), (2L, 100L)).toDF("k", "t")
      val r = Seq((1L, 50L, 7L)).toDF("k", "t", "v")
      val out = NativeAsof.leftAsof(l, r, "k", "t", "t", Seq("v"), tieBreak = "v")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(2)) None else Some(row.getLong(2)))).toMap
      assert(out(1L) === Some(7L))
      assert(out(2L) === None) // not 0 — nullability preserved through the null row
    }
  }
}
