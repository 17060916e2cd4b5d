package perfbench

/** Checks of the statistics and of the answer checks, without Spark:
  * `perfbench.SelfTest` exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1, math.abs(b))

  def main(args: Array[String]): Unit = {
    // Statistics.
    expect("median odd/even")(Stats.median(Seq(3, 1, 2)) == 2 && Stats.median(Seq(4, 1, 3, 2)) == 2.5)
    expect("geomean of per-type medians")(near(
      Stats.typedMedian(Map("a" -> Seq(1.0, 2.0, 3.0), "b" -> Seq(8.0, 8.0, 9.0, 7.0))), 4.0))
    expect("per-type medians are not a pooled median") {
      // Six fast and six slow samples: a pooled median would fall between
      // the clusters; the per-type geomean is sqrt(10 * 1000).
      val byType = Map("fast" -> Seq.fill(6)(10.0), "slow" -> Seq.fill(6)(1000.0))
      near(Stats.typedMedian(byType), 100.0)
    }
    expect("tail has exactly ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.tail(xs) == 90.0 && xs.count(_ > Stats.tail(xs)) == Stats.TailBeyond
    }
    expect("tail of shuffled samples")(Stats.tail(scala.util.Random.shuffle((1 to 25).map(_.toDouble))) == 15.0)
    expect("a sample too small for a tail reports its median")(
      Stats.tail((1 to 19).map(_.toDouble)) == 10.0 && Stats.tail(Seq(3.0, 9.0, 4.0)) == 4.0)
    expect("geomean of per-type tails")(near(
      Stats.typedTail(Map("a" -> (1 to 30).map(_.toDouble), "b" -> Seq(5.0))), 10.0))

    // Answer checks.
    val rows = IndexedSeq(
      Trip(1, "A-F", "1995-01-02 05:00:00", Some(3), 17, 12.5),
      Trip(2, "N-O", "1995-01-03 00:00:00", None, -4, 7.25),
      Trip(3, "R-F", "1995-01-04 10:30:00", Some(3), 2, 30.0),
      Trip(4, "A-F", "1995-01-05 23:00:00", Some(-1), 9, 1.5))
    def ids(body: Array[Byte]) = """"trip_id":(\d+)""".r.findAllMatchIn(new String(body, "UTF-8")).map(_.group(1).toInt).toList
    expect("delays ascending, nulls first")(ids(Reference.delays(rows, desc = false, None)) == List(2, 4, 3, 1))
    expect("delays descending, nulls first")(ids(Reference.delays(rows, desc = true, Some(3))) == List(2, 1, 3))
    expect("row JSON mapping")(new String(Reference.preview(rows, 2), "UTF-8") ==
      """[{"trip_id":1,"line":"A-F","scheduled_departure":"1995-01-02 05:00:00","departure_delay":3,"arrival_delay":17,"distance_km":12.5},""" +
      """{"trip_id":2,"line":"N-O","scheduled_departure":"1995-01-03 00:00:00","departure_delay":null,"arrival_delay":-4,"distance_km":7.25}]""")

    val preview = Req(PreviewCall("t", 2), Some(Reference.preview(rows, 2)), None)
    val good = Reference.preview(rows, 2)
    val corrupt = good.clone(); corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 1).toByte
    expect("correct body passes")(preview.check(200, good))
    expect("corrupted body counts as a failure")(!preview.check(200, corrupt))
    expect("truncated body counts as a failure")(!preview.check(200, good.dropRight(1)))
    expect("error status counts as a failure")(!preview.check(500, good))

    val ols = Reference.regression(rows, "distance_km", "arrival_delay")
    val reg = Req(RegressionCall("t", "distance_km", "arrival_delay"), None, Some(ols))
    def olsBody(s: Double, i: Double) = s"""{"slope":$s,"intercept":$i,"r2":${ols.r2.get}}""".getBytes("UTF-8")
    expect("OLS within 1e-9 passes")(reg.check(200, olsBody(ols.slope * (1 + 1e-12), ols.intercept)))
    expect("OLS off by 1e-6 fails")(!reg.check(200, olsBody(ols.slope * (1 + 1e-6), ols.intercept)))
    expect("unparseable OLS body fails")(!reg.check(200, "{}".getBytes("UTF-8")))
    expect("OLS matches closed form") {
      // y = 2x + 1 exactly.
      val line = IndexedSeq(Trip(1, "", "", Some(1), 0, 3.0), Trip(2, "", "", Some(2), 0, 5.0), Trip(3, "", "", Some(4), 0, 9.0))
      val o = Reference.regression(line, "departure_delay", "distance_km")
      near(o.slope, 2.0) && near(o.intercept, 1.0) && o.r2.exists(near(_, 1.0))
    }

    // Fingerprints: order-independent, value-sensitive.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType), StructField("d", DoubleType)))
    def fp(rs: Seq[InternalRow]) = rs.map(r => Fingerprint(1, FingerprintSink.rowHash(r, schema))).reduce(_ + _)
    val r1 = InternalRow(1L, UTF8String.fromString("x"), 0.5)
    val r2 = InternalRow(2L, null, -0.0)
    expect("fingerprint ignores row order")(fp(Seq(r1, r2)) == fp(Seq(r2, r1)))
    expect("fingerprint treats -0.0 as 0.0")(fp(Seq(r2)) == fp(Seq(InternalRow(2L, null, 0.0))))
    expect("fingerprint sees a changed value")(fp(Seq(r1, r2)) != fp(Seq(InternalRow(1L, UTF8String.fromString("y"), 0.5), r2)))
    expect("fingerprint sees a missing row")(fp(Seq(r1, r2)) != fp(Seq(r1)))

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
