package graft.functions

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, date_format, lit, substring, when}
import org.apache.spark.sql.types._

/** Row-oriented JSON egress (reference `dataframe_to_json_rows`,
  * main.rs:207-255): pivot the columnar result into one JSON object per
  * row, with the reference's per-type mapping — primitives pass through,
  * everything non-primitive is stringified (main.rs:244-245; SURVEY.md §1
  * type table / quirk (f)).
  *
  * Intended for RESULT egress (previews, top-k, aggregates) — the collect
  * happens after limits/aggregation, never over the raw table.
  */
object JsonRows {

  private def isPrimitive(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType => true
    case _ => false
  }

  /** Pre-cast non-primitive columns to string, matching the reference's
    * Display-stringification: dates render "2024-01-03" (main.rs:245).
    *
    * Datetime parity: polars' Display fallback (main.rs:244-245) delegates
    * to chrono's `NaiveDateTime` Display, which prints the fractional
    * second only when non-zero and with the coarsest of 3/6/9 digits that
    * loses nothing — `10:00:05`, `10:00:05.123`, `10:00:05.123456`.
    * Spark timestamps are micros, so 9-digit output is unreachable;
    * the other three shapes are replicated exactly (golden-tested).
    */
  def stringifyNonPrimitives(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _ if isPrimitive(f.dataType) => col(f.name)
        case DateType => date_format(col(f.name), "yyyy-MM-dd").as(f.name)
        case TimestampType | TimestampNTZType =>
          val micros = date_format(col(f.name), "SSSSSS")
          concat(
            date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"),
            when(micros === "000000", lit(""))
              .when(substring(micros, 4, 3) === "000",
                concat(lit("."), substring(micros, 1, 3)))
              .otherwise(concat(lit("."), micros))).as(f.name)
        case _ => col(f.name).cast(StringType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** `s` as a JSON string literal, every control character escaped: one
    * raw tab makes a whole document (oracle_sql.json, an error body)
    * invalid.
    */
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 10)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').result()
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case f: Float => jsonDouble(f.toDouble) // Float widened to f64 (main.rs:238)
    case d: Double => jsonDouble(d)
    case s: String => quote(s)
    case d: Date => "\"" + d.toString + "\""
    case t: Timestamp => "\"" + t.toString + "\""
    case other => quote(other.toString) // Display fallback (main.rs:244-245)
  }

  private def jsonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def rowToJson(row: Row, names: Array[String]): String =
    names.indices
      .map(i => quote(names(i)) + ":" + jsonValue(row.get(i)))
      .mkString("{", ",", "}")

  /** DataFrame → JSON array-of-objects string. Collects — callers bound
    * the result size first (limit / top-k / aggregate).
    */
  def toJson(df: DataFrame): String = {
    val prepared = stringifyNonPrimitives(df)
    val names = prepared.columns
    prepared.collect().map(rowToJson(_, names)).mkString("[", ",", "]")
  }

  /** Per-row JSON strings via `toLocalIterator`: driver memory is bounded
    * by one PARTITION at a time instead of the whole result — the scale
    * path for the reference's whole-table no-limit delays egress (quirk
    * (e), main.rs:295-297), whose semantics demand the full sorted
    * table. Iteration order is global order: a range-sorted frame's
    * partitions arrive in ascending partition index, rows sorted within.
    * The first `hasNext` executes partition 0's job, so most runtime
    * failures surface BEFORE any byte is emitted.
    */
  def jsonRowIterator(df: DataFrame): Iterator[String] = {
    val prepared = stringifyNonPrimitives(df)
    val names = prepared.columns
    import scala.jdk.CollectionConverters._
    prepared.toLocalIterator().asScala.map(rowToJson(_, names))
  }

  /** Stream `rows` (from [[jsonRowIterator]]) to `os` as one JSON array,
    * byte-identical to [[toJson]] (golden-tested), one partition in
    * driver memory at a time. Takes the iterator rather than the frame so
    * a caller can probe `hasNext` first: that runs partition 0's job and
    * surfaces most failures before it commits a status. Callers own
    * closing `os`.
    */
  def writeJson(rows: Iterator[String], os: java.io.OutputStream): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8),
      64 * 1024)
    w.write("[")
    var first = true
    while (rows.hasNext) {
      if (!first) w.write(",")
      first = false
      w.write(rows.next())
    }
    w.write("]")
    w.flush()
  }
}
