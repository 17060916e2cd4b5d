package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{CyclicBarrier, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.JsonRows
import graft.operators.{Preview, Regression, SortedDelays}
import graft.sources.DataLake

/** One HTTP call to the service. */
sealed trait Call {
  def dataset: String
  def kind: String
  def path: String
  def postBody: Option[String] = None
}
final case class PreviewCall(dataset: String, limit: Int) extends Call {
  def kind = "preview"
  def path = s"/data/$dataset/preview?limit=$limit"
}
final case class DelaysCall(dataset: String, desc: Boolean, limit: Option[Int]) extends Call {
  def kind = if (limit.isEmpty) "delays_stream" else "delays"
  def path = s"/data/$dataset/delays?sorting=${if (desc) "Desc" else "Asc"}" +
    limit.fold("")(l => s"&limit=$l")
}
final case class RegressionCall(dataset: String, x: String, y: String) extends Call {
  def kind = "regression"
  def path = s"/data/$dataset/regression"
  override def postBody = Some(s"""{"x_col":"$x","y_col":"$y"}""")
}

/** A call plus its independently computed answer. */
final case class Req(call: Call, expectBody: Option[Array[Byte]], expectOls: Option[Reference.Ols]) {
  def check(status: Int, body: Array[Byte]): Boolean = status == 200 && checkBody(body)

  def checkBody(body: Array[Byte]): Boolean =
    expectBody.map(java.util.Arrays.equals(_, body))
      .orElse(expectOls.map(w =>
        Reference.parseOls(new String(body, StandardCharsets.UTF_8)).exists(Reference.olsMatches(_, w))))
      .getOrElse(false)
}

/** The two HTTP workloads: closed-loop JDK clients against an in-process
  * `HttpShell` (untraced), or the same requests one at a time, each
  * followed by an in-process replay of its layers (traced).
  */
final class Serve(spark: SparkSession, port: Int, lakeDir: String, rows: IndexedSeq[Trip]) {
  import Serve._

  def req(call: Call): Req = call match {
    case PreviewCall(_, l) => Req(call, Some(Reference.preview(rows, l)), None)
    case DelaysCall(_, d, l) => Req(call, Some(Reference.delays(rows, d, l)), None)
    case RegressionCall(_, x, y) => Req(call, None, Some(Reference.regression(rows, x, y)))
  }

  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

  private def request(c: Call): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${c.path}"))
      .timeout(Duration.ofSeconds(120))
    c.postBody.fold(b.GET())(p =>
      b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(p))).build()
  }

  /** Sends `r`; returns (latency ms, correct). A transport error is an
    * incorrect op.
    */
  private def send(http: HttpClient, r: Req): (Double, Boolean) = {
    val t0 = System.nanoTime()
    try {
      val resp = http.send(request(r.call), HttpResponse.BodyHandlers.ofByteArray())
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, r.check(resp.statusCode, resp.body))
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[perfbench] ${r.call.path}: $e")
        ((System.nanoTime() - t0) / 1e6, false)
    }
  }

  /** Closed loop: client i repeats `cycles(i)` — `warmCycles` times
    * unmeasured, then whole cycles until `seconds` have passed since all
    * clients finished warming up.
    */
  def closedLoop(cycles: IndexedSeq[IndexedSeq[Req]], warmCycles: Int, seconds: Double,
      onWindowStart: () => Unit): Window = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val windowStart = new AtomicLong
    val barrier = new CyclicBarrier(cycles.length, () => {
      onWindowStart()
      windowStart.set(System.nanoTime())
    })
    val threads = cycles.zipWithIndex.map { case (cycle, i) =>
      val t = new Thread(() => {
        val http = client()
        for (_ <- 1 to warmCycles; r <- cycle) send(http, r)
        barrier.await()
        val deadline = windowStart.get + (seconds * 1e9).toLong
        while (System.nanoTime() < deadline)
          cycle.foreach { r =>
            val (ms, ok) = send(http, r)
            samples.add(Sample(r.call.kind, ms, ok))
          }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    Window(samples.asScala.toSeq, (System.nanoTime() - windowStart.get) / 1e9)
  }

  // ---- traced run -------------------------------------------------------

  private val lake = new DataLake(spark, lakeDir)

  /** The request's work done in-process through the same public calls
    * the shell makes: load, operator, JSON rows. Returns the body and the
    * number of rows serialised.
    */
  def replay(c: Call, tracer: Option[Tracer], op: Long): (Array[Byte], Long) = {
    def span[T](layer: String)(body: => T): T = tracer.fold(body)(_.span(op, layer)(body))
    val df = span("sources")(lake.load(c.dataset))
    def collected(plan: => DataFrame): (Array[Byte], Long) = {
      val (rows, names) = span("operators") {
        val p = JsonRows.stringifyNonPrimitives(plan)
        (p.collect(), p.columns)
      }
      val body = span("jsonrows")(rows.map(JsonRows.rowToJson(_, names)).mkString("[", ",", "]"))
      (body.getBytes(StandardCharsets.UTF_8), rows.length.toLong)
    }
    c match {
      case PreviewCall(_, l) => collected(Preview.run(df, Some(l)))
      case DelaysCall(_, d, Some(l)) => collected(SortedDelays.run(df, Some(sorting(d)), Some(l)))
      case DelaysCall(_, d, None) => streamed(SortedDelays.run(df, Some(sorting(d)), None), tracer, op)
      case RegressionCall(_, x, y) =>
        val r = span("operators")(Regression.run(df, x, y))
        val r2 = r.r2.map(_.toString).getOrElse("null")
        (s"""{"slope":${r.slope},"intercept":${r.intercept},"r2":$r2}""".getBytes(StandardCharsets.UTF_8), 0L)
    }
  }

  /** Whole-table stream: fetching rows (operators) and serialising them
    * (jsonrows) interleave, so each side's time is accumulated.
    */
  private def streamed(df: DataFrame, tracer: Option[Tracer], op: Long): (Array[Byte], Long) = {
    val t0 = System.nanoTime()
    var fetchNs, jsonNs = 0L
    var n = 0L
    val out = new java.io.ByteArrayOutputStream(1 << 20)
    val w = new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8)
    def stream(): Unit = {
      var t = System.nanoTime()
      val p = JsonRows.stringifyNonPrimitives(df)
      val names = p.columns
      val it = p.toLocalIterator()
      w.write("[")
      while (it.hasNext) {
        val row = it.next()
        val t1 = System.nanoTime(); fetchNs += t1 - t
        if (n > 0) w.write(",")
        w.write(JsonRows.rowToJson(row, names))
        n += 1
        t = System.nanoTime(); jsonNs += t - t1
      }
      fetchNs += System.nanoTime() - t
      w.write("]")
      w.flush()
    }
    tracer.fold(stream())(_.tagged(op, "operators")(stream()))
    tracer.foreach { tr =>
      tr.record(op, "operators", t0, fetchNs)
      tr.record(op, "jsonrows", t0, jsonNs)
    }
    (out.toByteArray, n)
  }

  /** One HTTP request timed to its response headers and to its last byte:
    * (ttfb ms, total ms, correct).
    */
  def timedHttp(http: HttpClient, r: Req): (Double, Double, Boolean) = {
    val t0 = System.nanoTime()
    val resp = http.send(request(r.call), HttpResponse.BodyHandlers.ofInputStream())
    val ttfb = (System.nanoTime() - t0) / 1e6
    val body = try resp.body.readAllBytes() finally resp.body.close()
    (ttfb, (System.nanoTime() - t0) / 1e6, r.check(resp.statusCode, body))
  }
}

object Serve {
  def sorting(desc: Boolean): SortedDelays.Sorting =
    if (desc) SortedDelays.Desc else SortedDelays.Asc

  val CsvDataset = "trips"
  val ParquetDataset = "trips_pq"
  private val RegressionPairs = IndexedSeq(
    ("distance_km", "arrival_delay"), ("distance_km", "departure_delay"),
    ("departure_delay", "arrival_delay"))

  /** serve-csv: client i's cycle visits the three routes once, starting
    * at route i, with parameters drawn from the seed.
    */
  def csvCycles(seed: Long, clients: Int): IndexedSeq[IndexedSeq[Call]] =
    (0 until clients).map { i =>
      val rnd = new scala.util.Random(seed * 1000003L + i)
      (0 until 3).map(j => (i + j) % 3 match {
        case 0 => PreviewCall(CsvDataset, 1 + rnd.nextInt(100))
        case 1 => DelaysCall(CsvDataset, rnd.nextBoolean(), Some(1 + rnd.nextInt(100)))
        case _ =>
          val (x, y) = RegressionPairs(rnd.nextInt(RegressionPairs.length))
          RegressionCall(CsvDataset, x, y)
      })
    }

  /** serve-stream: one client asking for the whole table sorted. */
  def streamCycles: IndexedSeq[IndexedSeq[Call]] =
    IndexedSeq(IndexedSeq(DelaysCall(ParquetDataset, desc = false, None)))
}
