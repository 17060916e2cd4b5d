package graft.functions

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class JsonRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("timestamp Display parity: golden fixtures (chrono NaiveDateTime)") {
    // polars' stringify fallback (main.rs:244-245) is chrono Display:
    // no fraction when zero, 3 digits when millisecond-aligned, 6 for
    // full micros. Golden-pinned here; 9-digit (nanos) is unreachable
    // from Spark's micros timestamps.
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:05")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:05.123")),
      (3L, Timestamp.valueOf("2024-01-01 10:00:05.123456")),
      (4L, Timestamp.valueOf("2024-01-01 10:00:05.5"))
    ).toDF("id", "ts")
    assert(JsonRows.toJson(df) ===
      """[{"id":1,"ts":"2024-01-01 10:00:05"},""" +
        """{"id":2,"ts":"2024-01-01 10:00:05.123"},""" +
        """{"id":3,"ts":"2024-01-01 10:00:05.123456"},""" +
        """{"id":4,"ts":"2024-01-01 10:00:05.500"}]""")
  }

  test("writeJson streams byte-identical output to toJson") {
    // The chunked delays egress rides writeJson; parity with the
    // collect-based path must hold byte for byte (quirk (e) semantics
    // unchanged, only driver memory bounded). Multi-partition + sorted
    // frame: partition order must reproduce global order.
    val df = spark.range(0, 1000, 1, 7)
      .selectExpr("id", "CAST(id % 3 AS DOUBLE) / 4 AS x",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE CONCAT('s\"', id) END AS s",
        "DATE'2024-01-01' + CAST(id % 30 AS INT) AS d")
      .orderBy($"x", $"id".desc)
    val bos = new java.io.ByteArrayOutputStream()
    JsonRows.writeJson(JsonRows.jsonRowIterator(df), bos)
    assert(bos.toString("UTF-8") === JsonRows.toJson(df))
    // Empty frame → empty array, both paths.
    val empty = df.filter($"id" < 0)
    val bos2 = new java.io.ByteArrayOutputStream()
    JsonRows.writeJson(JsonRows.jsonRowIterator(empty), bos2)
    assert(bos2.toString("UTF-8") === "[]")
    assert(JsonRows.toJson(empty) === "[]")
  }

  test("primitives pass through; null → JSON null (main.rs:223-242)") {
    val df = Seq((1L, 2.5, true, "hi"), (2L, 3.5, false, null))
      .toDF("n", "d", "b", "s")
    val json = JsonRows.toJson(df)
    assert(json ===
      """[{"n":1,"d":2.5,"b":true,"s":"hi"},{"n":2,"d":3.5,"b":false,"s":null}]""")
  }

  test("dates stringify like the reference Display fallback (main.rs:244-245)") {
    val df = Seq((1, Date.valueOf("2024-01-03"))).toDF("id", "day")
    assert(JsonRows.toJson(df) === """[{"id":1,"day":"2024-01-03"}]""")
  }

  test("arrays/structs stringify rather than nest (quirk (f))") {
    val df = Seq((1, Seq(1, 2, 3))).toDF("id", "xs")
    val json = JsonRows.toJson(df)
    assert(json.startsWith("""[{"id":1,"xs":""""))
    assert(!json.contains("[1,2,3]")) // not native JSON array
  }

  test("string escaping: quotes, backslashes, control chars") {
    val df = Seq((1, "a\"b\\c\nd\te")).toDF("id", "s")
    assert(JsonRows.toJson(df) === """[{"id":1,"s":"a\"b\\c\nd\te"}]""")
  }

  test("NaN/Infinity → null (JSON has no non-finite numbers)") {
    val df = Seq((1, Double.NaN), (2, Double.PositiveInfinity)).toDF("id", "d")
    assert(JsonRows.toJson(df) === """[{"id":1,"d":null},{"id":2,"d":null}]""")
  }
}
