package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.JsonRows

/** The frame cache in `DataLake.load`: the first load of a file version
  * is read uncached, the second materialises it, and later loads reuse
  * that frame while the file is unchanged. Every served body is compared
  * with a plain `spark.read` of the same file. Budgets are passed
  * explicitly, in estimate bytes (file bytes × `DataLake.SizeFactor`).
  */
class FrameCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  private val Roomy = BigInt(1) << 30

  private def tmpDir(): Path = Files.createTempDirectory("frame-cache")

  /** `{dir}/{name}.csv` with `rows` fixed-width rows (so files with equal
    * `rows` have equal sizes); `salt` changes the values, not the size.
    */
  private def writeCsv(dir: Path, name: String, rows: Int, salt: Int = 0): Path = {
    val body = (1 to rows).map(i => f"$i%05d,n${(i + salt) % 10},${(i * 7 + salt) % 1000}%03d.5")
    Files.writeString(dir.resolve(s"$name.csv"), body.mkString("id,name,v\n", "\n", "\n"))
  }

  private def estimate(p: Path): BigInt =
    (BigDecimal(Files.size(p)) * DataLake.SizeFactor).toBigInt

  private def plainCsv(p: Path): DataFrame =
    spark.read.options(DataLake.CsvOptions).csv(p.toString)

  private def body(df: DataFrame): String = JsonRows.toJson(df)

  private def cached(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** The first load marks the file seen; the second admits it. */
  private def admitted(lake: DataLake, id: String): DataFrame = {
    lake.load(id)
    lake.load(id)
  }

  private def jobCount[T](body: => T): (T, Int) = {
    val (r, started) = LakeTestKit.jobs(sc)(body)
    (r, started.size)
  }

  test("a repeat load of an unchanged file starts no Spark job, CSV and parquet") {
    val dir = tmpDir()
    val csv = writeCsv(dir, "t", 300)
    val pq = dir.resolve("p.parquet")
    LakeTestKit.writeParquetFile(Seq((1L, "x", 2.5), (2L, null, 3.5)).toDF("k", "s", "v"), pq)
    val lake = new DataLake(spark, dir.toString, Roomy)
    for ((id, want) <- Seq("t" -> plainCsv(csv), "p" -> spark.read.parquet(pq.toString))) {
      val first = lake.load(id)
      assert(!cached(first), s"$id: a first load is read uncached")
      assert(body(first) === body(want), id)
      val (cold, n0) = jobCount(lake.load(id))
      assert(n0 > 0, s"$id: a second load materialises in Spark jobs")
      val (warm, n) = jobCount(lake.load(id))
      assert(n === 0, id)
      assert(warm eq cold, s"$id: a hit returns the stored frame")
      assert(cached(warm), id)
      assert(warm.schema === want.schema, id)
      assert(body(warm) === body(want), id)
    }
  }

  test("a file rewritten before every load is read uncached each time") {
    val dir = tmpDir()
    val lake = new DataLake(spark, dir.toString, Roomy)
    for (salt <- 1 to 3) {
      val p = writeCsv(dir, "t", 300, salt)
      val got = lake.load("t")
      assert(!cached(got), s"version $salt is loaded once")
      assert(body(got) === body(plainCsv(p)))
    }
    val again = lake.load("t")
    assert(cached(again), "the last version, loaded again, is admitted")
    assert(body(again) === body(plainCsv(dir.resolve("t.csv"))))
  }

  test("8 threads loading one seen file run exactly one materialisation") {
    val dir = tmpDir()
    val p = writeCsv(dir, "t", 2000)
    val lake = new DataLake(spark, dir.toString, Roomy)
    lake.load("t")
    val (frames, started) = LakeTestKit.jobs(sc) {
      // Created inside the job group, so the pool's threads inherit it.
      val pool = Executors.newFixedThreadPool(8)
      val start = new CyclicBarrier(8)
      try (1 to 8).map(_ => pool.submit(() => { start.await(); lake.load("t") }))
        .map(_.get(120, TimeUnit.SECONDS))
      finally pool.shutdownNow()
    }
    val ckpts = started.count(_.exists(_.contains("Ckpt.scala")))
    assert(ckpts === 1, started)
    assert(frames.forall(_ eq frames.head))
    assert(body(frames.head) === body(plainCsv(p)))
  }

  test("a frame held by an in-flight request still collects after a rewrite and after eviction") {
    val dir = tmpDir()
    val a = writeCsv(dir, "a", 500)
    writeCsv(dir, "b", 500)
    val lake = new DataLake(spark, dir.toString, estimate(a))
    val held = admitted(lake, "a")
    val want = body(plainCsv(a))
    writeCsv(dir, "a", 500, salt = 3)
    val fresh = admitted(lake, "a")
    assert(cached(fresh) && !(fresh eq held))
    val wantFresh = body(plainCsv(a))
    assert(body(fresh) === wantFresh)
    admitted(lake, "b") // evicts a: the budget holds one file
    val (_, n) = jobCount(lake.load("b"))
    assert(n === 0, "b is resident")
    System.gc(); Thread.sleep(200); System.gc()
    assert(body(held) === want, "held across its file's rewrite")
    assert(body(fresh) === wantFresh, "held across its entry's eviction")
  }

  test("an over-budget file is served uncached with a byte-identical body") {
    val dir = tmpDir()
    val p = writeCsv(dir, "t", 400)
    val small = new DataLake(spark, dir.toString, estimate(p) - 1)
    val roomy = new DataLake(spark, dir.toString, Roomy)
    val want = body(plainCsv(p))
    for (_ <- 1 to 2) {
      val got = small.load("t")
      assert(!cached(got), "a file over the budget on its own is read uncached")
      assert(body(got) === want)
    }
    val hit = admitted(roomy, "t")
    assert(cached(hit))
    assert(body(hit) === want)
    // A cached file that grows past the budget is read uncached from then on.
    val fitted = new DataLake(spark, dir.toString, estimate(p))
    assert(cached(admitted(fitted, "t")))
    writeCsv(dir, "t", 800)
    val grown = fitted.load("t")
    assert(!cached(grown))
    assert(body(grown) === body(plainCsv(p)))
  }

  test("a deleted file, or one replaced by a directory, leaves no entry and no seen key") {
    val dir = tmpDir()
    val a = writeCsv(dir, "a", 300)
    val b = writeCsv(dir, "b", 300, salt = 1)
    val lake = new DataLake(spark, dir.toString, Roomy)
    assert(cached(admitted(lake, "a")))
    lake.load("b")
    assert(lake.footprint === ((estimate(a), 1)), "a is resident, b is seen")
    Files.delete(a)
    intercept[graft.DatasetLoadException](lake.load("a"))
    assert(lake.footprint._1 === 0, "a's frame is dropped")
    val rows = Files.readString(b)
    Files.delete(b)
    Files.createDirectory(b)
    Files.writeString(b.resolve("part-0.csv"), rows)
    val fromDir = lake.load("b")
    assert(!cached(fromDir), "a directory is read uncached")
    assert(body(fromDir) === body(plainCsv(b)))
    assert(lake.footprint === ((BigInt(0), 0)), "b's seen key is dropped")
  }

  test("LRU evicts the least-recently-used path") {
    val dir = tmpDir()
    val a = writeCsv(dir, "a", 300)
    writeCsv(dir, "b", 300, salt = 1)
    writeCsv(dir, "c", 300, salt = 2)
    val lake = new DataLake(spark, dir.toString, estimate(a) * 2)
    admitted(lake, "a"); admitted(lake, "b")
    lake.load("a") // a is now more recent than b
    admitted(lake, "c") // over budget: evicts b
    for (id <- Seq("a", "c")) {
      val (df, n) = jobCount(lake.load(id))
      assert(n === 0, s"$id stays resident")
      assert(body(df) === body(plainCsv(dir.resolve(s"$id.csv"))))
    }
    val b = lake.load("b")
    assert(!cached(b), "b was evicted; its next load is read uncached")
    assert(body(b) === body(plainCsv(dir.resolve("b.csv"))))
  }
}
