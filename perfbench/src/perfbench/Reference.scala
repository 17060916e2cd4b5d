package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One row of the generated trips table, parsed by plain Scala from the
  * CSV the benchmark wrote: the answers serve ops are checked against
  * never go through the code under test.
  */
final case class Trip(id: Int, line: String, scheduled: String,
    departureDelay: Option[Int], arrivalDelay: Int, distanceKm: Double) {

  /** The service's JSON row mapping: integers and floats as JSON
    * numbers (floats in Java's shortest round-trip form), nulls as
    * `null`, the timestamp as its `yyyy-MM-dd HH:mm:ss` string.
    */
  def json: String =
    s"""{"trip_id":$id,"line":${Json.quote(line)},"scheduled_departure":${Json.quote(scheduled)},""" +
      s""""departure_delay":${departureDelay.fold("null")(_.toString)},""" +
      s""""arrival_delay":$arrivalDelay,"distance_km":${distanceKm.toString}}"""

  /** Numeric column value with the service's null → 0.0 rule. */
  def num(col: String): Double = col match {
    case "departure_delay" => departureDelay.fold(0.0)(_.toDouble)
    case "arrival_delay" => arrivalDelay.toDouble
    case "distance_km" => distanceKm
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }
}

object Reference {
  val Header = "trip_id,line,scheduled_departure,departure_delay,arrival_delay,distance_km"

  def load(csv: Path): IndexedSeq[Trip] = {
    val lines = Files.readAllLines(csv, StandardCharsets.UTF_8).asScala.toIndexedSeq
    require(lines.headOption.contains(Header), s"unexpected header in $csv: ${lines.headOption}")
    lines.tail.map { l =>
      val f = l.split(",", -1)
      require(f.length == 6, s"bad row: $l")
      Trip(f(0).toInt, f(1), f(2), if (f(3).isEmpty) None else Some(f(3).toInt),
        f(4).toInt, f(5).toDouble)
    }
  }

  def body(rows: Seq[Trip]): Array[Byte] =
    rows.map(_.json).mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)

  /** First `limit` rows in file order. */
  def preview(rows: IndexedSeq[Trip], limit: Int): Array[Byte] = body(rows.take(limit))

  /** Sorted by (departure_delay, arrival_delay), one direction for both,
    * nulls first either way; the generated pairs are unique, so the
    * order is total.
    */
  def delays(rows: IndexedSeq[Trip], desc: Boolean, limit: Option[Int]): Array[Byte] = {
    val asc: Ordering[Trip] = Ordering.by((t: Trip) => (t.departureDelay, t.arrivalDelay))
    val ord =
      if (!desc) asc
      else Ordering.by((t: Trip) => (t.departureDelay.isDefined, t.departureDelay.map(-_), -t.arrivalDelay))
    val sorted = rows.sorted(ord)
    body(limit.fold(sorted)(sorted.take))
  }

  final case class Ols(slope: Double, intercept: Double, r2: Option[Double])

  /** Ordinary least squares from sequential sums, as the service's
    * reference defines it.
    */
  def regression(rows: IndexedSeq[Trip], x: String, y: String): Ols = {
    var n, sx, sy, sxy, sxx, syy = 0.0
    rows.foreach { t =>
      val (a, b) = (t.num(x), t.num(y))
      n += 1; sx += a; sy += b; sxy += a * b; sxx += a * a; syy += b * b
    }
    val denom = n * sxx - sx * sx
    val slope = (n * sxy - sx * sy) / denom
    val ssTot = n * syy - sy * sy
    val r2 = if (ssTot == 0.0) None else Some((n * sxy - sx * sy) * (n * sxy - sx * sy) / (denom * ssTot))
    Ols(slope, (sy - slope * sx) / n, r2)
  }

  private val OlsBody = """\{"slope":([^,]+),"intercept":([^,]+),"r2":([^}]+)\}""".r

  def parseOls(body: String): Option[Ols] = body match {
    case OlsBody(s, i, r) =>
      scala.util.Try(Ols(s.toDouble, i.toDouble, if (r == "null") None else Some(r.toDouble))).toOption
    case _ => None
  }

  /** Equal to within 1e-9 relative: the service sums in parallel, the
    * reference in file order.
    */
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  def olsMatches(got: Ols, want: Ols): Boolean =
    close(got.slope, want.slope) && close(got.intercept, want.intercept) &&
      ((got.r2, want.r2) match {
        case (Some(a), Some(b)) => close(a, b)
        case (None, None) => true
        case _ => false
      })
}
