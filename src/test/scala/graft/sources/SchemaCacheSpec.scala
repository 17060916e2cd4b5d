package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The schema cache under `DataLake.load` and `Tables.apply`: a repeat
  * read of an unchanged file starts no Spark job, and every change to the
  * file or to an inference input is seen. Each check compares against an
  * uncached plain `spark.read` of the same file.
  */
class SchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("schema-cache")

  private def plainCsv(p: Path): DataFrame =
    spark.read.options(DataLake.CsvOptions).csv(p.toString)

  /** (result, Spark jobs started by this thread while `body` ran). */
  private def jobs[T](body: => T): (T, Int) = {
    val (r, started) = LakeTestKit.jobs(sc)(body)
    (r, started.size)
  }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq)
  }

  /** A lake with a zero frame budget: every load goes through
    * `SchemaCache.read`, which the frame cache would otherwise bypass.
    */
  private def uncachedLake(dir: Path): DataLake = new DataLake(spark, dir.toString, 0)

  private def writeParquetFile(df: DataFrame, target: Path): Unit =
    LakeTestKit.writeParquetFile(df, target)

  private val RawUs = 1709294400000000L

  /** A parquet file written without Spark's schema in its footer, so
    * Spark infers `ts` from the parquet logical type alone: rows with
    * event_id 1 and 2 at `RawUs + event_id` micros, in `unit`.
    */
  private def writeRawTs(target: Path, unit: String, utc: Boolean): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts (TIMESTAMP($unit,$utc)); }")
    val w = ExampleParquetWriter.builder(new HPath(target.toUri)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    val perUs = if (unit == "NANOS") 1000L else 1L
    try for (id <- 1L to 2L)
      w.write(rows.newGroup().append("event_id", id).append("ts", (RawUs + id) * perUs))
    finally w.close()
  }

  test("a second load of an unchanged CSV starts no Spark job") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("t.csv"), "id,name,score\n1,a,1.5\n2,\"b \"\"q\"\"\",\n3,c,-2.0\n")
    val lake = uncachedLake(dir)
    val (_, cold) = jobs(lake.load("t"))
    assert(cold > 0, "a cold CSV load infers its schema in Spark jobs")
    val (warm, n) = jobs(lake.load("t"))
    assert(n === 0)
    assertSame(warm, plainCsv(dir.resolve("t.csv")))
  }

  test("a second load of an unchanged parquet file starts no Spark job, via DataLake and Tables") {
    val dir = tmpDir()
    writeParquetFile(Seq((1L, "x", 2.5), (2L, null, 3.5)).toDF("k", "s", "v"),
      dir.resolve("region.parquet"))
    val lake = uncachedLake(dir)
    val (_, cold) = jobs(lake.load("region"))
    assert(cold > 0, "a cold parquet load reads the footer in a Spark job")
    val (warm, n) = jobs(lake.load("region"))
    assert(n === 0)
    val plain = spark.read.parquet(dir.resolve("region.parquet").toString)
    assertSame(warm, plain)
    val (viaTables, m) = jobs(Tables(spark, dir.toString, "region"))
    assert(m === 0, "Tables shares the cache with DataLake")
    assertSame(viaTables, plain)
  }

  test("rewriting the CSV with a different header invalidates the entry") {
    val dir = tmpDir()
    val p = dir.resolve("t.csv")
    Files.writeString(p, "a,b\n1,2\n")
    val lake = uncachedLake(dir)
    lake.load("t"); lake.load("t")
    Files.writeString(p, "c,d,e\n1,2,3\n4,5,6\n")
    val got = lake.load("t")
    assert(got.columns.toSeq === Seq("c", "d", "e"))
    assertSame(got, plainCsv(p))
  }

  test("rewriting the CSV with the same columns but new types invalidates the entry") {
    val dir = tmpDir()
    val p = dir.resolve("t.csv")
    Files.writeString(p, "a,b\n1,2\n3,4\n")
    val lake = uncachedLake(dir)
    assert(lake.load("t").schema("a").dataType === IntegerType)
    lake.load("t")
    Files.writeString(p, "a,b\nx1,2\nyz,4.5\n")
    val got = lake.load("t")
    assert(got.schema("a").dataType === StringType)
    assert(got.schema("b").dataType === DoubleType)
    assertSame(got, plainCsv(p))
  }

  test("a same-size rewrite with its old mtime restored invalidates the entry") {
    val dir = tmpDir()
    val p = dir.resolve("t.csv")
    Files.writeString(p, "a,b\n1,2\n")
    SchemaCache.read(spark, "csv", p.toString, DataLake.CsvOptions)
    val mtime = Files.getLastModifiedTime(p)
    Thread.sleep(20)
    Files.writeString(p, "a,b\nx,2\n")
    Files.setLastModifiedTime(p, mtime)
    val got = SchemaCache.read(spark, "csv", p.toString, DataLake.CsvOptions)
    assert(got.schema("a").dataType === StringType)
    assertSame(got, plainCsv(p))
  }

  test("rewriting a parquet file with new types invalidates the entry") {
    val dir = tmpDir()
    val p = dir.resolve("t.parquet")
    writeParquetFile(Seq((1, 2)).toDF("a", "b"), p)
    val lake = uncachedLake(dir)
    lake.load("t"); lake.load("t")
    writeParquetFile(Seq(("one", 2.5)).toDF("a", "b"), p)
    val got = lake.load("t")
    assert(got.schema("a").dataType === StringType)
    assertSame(got, spark.read.parquet(p.toString))
  }

  test("a Spark-written parquet directory is never cached") {
    val dir = tmpDir()
    Seq((1, "a")).toDF("k", "v").write.parquet(dir.resolve("both.parquet").toString)
    val lake = uncachedLake(dir)
    lake.load("both")
    val (again, n) = jobs(lake.load("both"))
    assert(n > 0, "a directory must take the uncached read every time")
    assertSame(again, spark.read.parquet(dir.resolve("both.parquet").toString))
  }

  test("a spark.sql conf that changes CSV inference is part of the key") {
    val dir = tmpDir()
    val p = dir.resolve("t.csv")
    Files.writeString(p, "id,at\n1,2024-03-01 12:00:00\n")
    val lake = uncachedLake(dir)
    val key = "spark.sql.timestampType"
    val before = spark.conf.getOption(key)
    try {
      val types = Seq("TIMESTAMP_LTZ", "TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "TIMESTAMP_NTZ").map { t =>
        spark.conf.set(key, t)
        val got = lake.load("t")
        val want = plainCsv(p)
        assert(got.schema("at").dataType === want.schema("at").dataType, t)
        assertSame(got, want)
        got.schema("at").dataType
      }
      assert(types.distinct.size === 2, "the conf must change what is inferred")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a spark.sql conf that changes parquet inference is part of the key") {
    val dir = tmpDir()
    writeRawTs(dir.resolve("t.parquet"), "MICROS", utc = false)
    val lake = uncachedLake(dir)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    try {
      val types = Seq("true", "false", "true", "false").map { on =>
        spark.conf.set(key, on)
        val got = lake.load("t")
        assertSame(got, spark.read.parquet(dir.resolve("t.parquet").toString))
        got.schema("ts").dataType
      }
      assert(types === Seq(TimestampNTZType, TimestampType, TimestampNTZType, TimestampType))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("flipping nanosAsLong between events loads matches an uncached read each time") {
    val dir = tmpDir()
    val p = dir.resolve("events.parquet")
    writeRawTs(p, "NANOS", utc = true)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    def tsType(read: => DataFrame) =
      scala.util.Try(read.schema("ts").dataType).toEither.left.map(_.getClass)
    try {
      for (flag <- Seq("false", "true", "false", "true")) {
        // Raw reads: under "false" TIMESTAMP(NANOS) is illegal, and a
        // schema cached under "true" must not paper over that.
        spark.conf.set(key, flag)
        val plain = tsType(spark.read.parquet(p.toString))
        if (flag == "true") assert(plain === Right(LongType))
        else assert(plain.isLeft, "TIMESTAMP(NANOS) reads only under the flag")
        assert(tsType(SchemaCache.read(spark, "parquet", p.toString)) === plain, flag)
        // The events loader sets the flag and rebuilds micros from nanos.
        spark.conf.set(key, flag)
        val got = Tables(spark, dir.toString, "events")
        assert(tsType(spark.read.parquet(p.toString)) === Right(LongType))
        assert(got.schema("ts").dataType === TimestampType, flag)
        assert(got.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq ===
          Seq(RawUs + 1, RawUs + 2))
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("8 threads loading one cold file at once all get the same schema") {
    val dir = tmpDir()
    val rows = (1 to 200).map(i => s"$i,n$i,${i * 0.5}").mkString("\n")
    Files.writeString(dir.resolve("t.csv"), s"id,name,v\n$rows\n")
    val lake = uncachedLake(dir)
    val pool = Executors.newFixedThreadPool(8)
    val start = new CyclicBarrier(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        lake.load("t").schema
      }))
      val schemas = futures.map(_.get(120, TimeUnit.SECONDS))
      val want = plainCsv(dir.resolve("t.csv")).schema
      assert(schemas.forall(_ == want), schemas.distinct)
      val (again, n) = jobs(lake.load("t"))
      assert(n === 0)
      assert(again.schema === want)
    } finally pool.shutdownNow()
  }

  test("a missing file fails the same way as an uncached read") {
    val dir = tmpDir()
    val p = Paths.get(dir.toString, "gone.parquet")
    val plain = intercept[Exception](spark.read.parquet(p.toString))
    val cached = intercept[Exception](SchemaCache.read(spark, "parquet", p.toString))
    assert(cached.getClass === plain.getClass)
    assert(cached.getMessage === plain.getMessage)
  }
}
