package graft.plans

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Adversarial property coverage for the native as-of join exec (the
  * custom LogicalPlan + merge-sweep SparkPlan): backward and forward,
  * with and without tolerance, against a brute-force in-test oracle over
  * random frames. Hostile shapes: duplicate timestamps on both sides
  * (tie resolution = greatest tieBreak), keys with rows on only one
  * side, empty sides, tolerance exactly on the boundary, negative
  * times, and partition counts that split a key's rows across input
  * partitions (the exec must re-shuffle and sweep correctly regardless).
  */
object NativeAsofPropertySpec extends Properties("nativeasof") {
  private lazy val spark = NativeAsofSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val schemaL = StructType(Seq(
    StructField("k", LongType), StructField("lt", LongType),
    StructField("lid", LongType)))
  private val schemaR = StructType(Seq(
    StructField("k", LongType), StructField("rt", LongType),
    StructField("rid", LongType), StructField("v", LongType)))

  private val cases = for {
    nl <- Gen.oneOf(0, 1, 13, 120)
    nr <- Gen.oneOf(0, 1, 17, 150)
    nKeys <- Gen.oneOf(1, 3, 9)
    tSpan <- Gen.oneOf(4L, 40L) // tiny span => many exact ties
    parts <- Gen.oneOf(1, 5, 17)
    forward <- Gen.oneOf(true, false)
    tol <- Gen.oneOf(None, Some(0L), Some(2L), Some(1000L))
    ls <- Gen.listOfN(nl, for {
      k <- Gen.chooseNum(0L, nKeys.toLong)
      t <- Gen.chooseNum(-tSpan, tSpan)
    } yield (k, t))
    rs <- Gen.listOfN(nr, for {
      k <- Gen.chooseNum(0L, nKeys.toLong)
      t <- Gen.chooseNum(-tSpan, tSpan)
      v <- Gen.chooseNum(0L, 999L)
    } yield (k, t, v))
  } yield (
    ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
    rs.zipWithIndex.map { case ((k, t, v), i) => (k, t, i.toLong, v) },
    parts, forward, tol)

  property("merge sweep equals brute force for any partitioning/direction/tolerance") =
    forAllNoShrink(cases) { case (ls, rs, parts, forward, tol) =>
      val left = spark.createDataFrame(
        spark.sparkContext.parallelize(
          ls.map { case (k, t, i) => Row(k, t, i) }, math.max(parts, 1)), schemaL)
      val right = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rs.map { case (k, t, i, v) => Row(k, t, i, v) }, math.max(parts, 1)), schemaR)
      val got = NativeAsof.leftAsof(left, right, "k", "lt", "rt",
          Seq("rid", "v"), tieBreak = "rid", forward = forward, tolerance = tol)
        .collect()
        .map(r => r.getAs[Long]("lid") ->
          (Option(r.getAs[java.lang.Long]("asof_rid")),
            Option(r.getAs[java.lang.Long]("asof_v"))))
        .toMap
      val want = ls.map { case (k, lt, lid) =>
        val matches = rs.filter { case (rk, rt, _, _) =>
          rk == k &&
            (if (forward) rt >= lt else rt <= lt) &&
            tol.forall(d => math.abs(rt - lt) <= d)
        }
        val best =
          if (matches.isEmpty) None
          else Some(
            if (forward)
              // earliest rt; ties -> greatest rid
              matches.minBy { case (_, rt, rid, _) => (rt, -rid) }
            else matches.maxBy { case (_, rt, rid, _) => (rt, rid) })
        lid -> (best.map(b => Long.box(b._3)), best.map(b => Long.box(b._4)))
      }.toMap
      val ok = got == want
      if (!ok) {
        val bad = want.keys.filter(k => got.get(k) != want.get(k)).take(4)
        println(s"MISMATCH parts=$parts fwd=$forward tol=$tol: " +
          bad.map(k => s"lid=$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
      }
      ok
    }
}
