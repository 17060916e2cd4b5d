package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Endpoint-parity tests: full request→response through the HTTP surface,
  * asserting bodies and the reference's status-code mapping.
  */
class HttpShellSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val client = HttpClient.newHttpClient()

  private lazy val (shell, port, outsideId, lakeDir) = {
    val dir = Files.createTempDirectory("lake").toString
    Files.writeString(Paths.get(dir, "trains.csv"),
      """train_id,departure_delay,arrival_delay,distance_km
        |ICE 1,5,10,120.5
        |ICE 2,,3,80.0
        |ICE 3,-2,,300.0
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "plz.csv"),
      "plz,einwohner,qkm\n01067,11957,6.1\n01069,25491,8.5\n01097,14821,5.2\n")
    Files.writeString(Paths.get(dir, "nodelay.csv"), "a,b\n1,2\n")
    Files.writeString(Paths.get(dir, "a+b.csv"), "c\nplus-literal\n")
    // Column literally named a"b — the serde-parity escape target.
    Files.writeString(Paths.get(dir, "quoted.csv"),
      "\"a\"\"b\",y\n1,2\n2,4\n3,7\n")
    // A readable CSV OUTSIDE the lake: the traversal target.
    val outside = Files.createTempDirectory("outside")
    Files.writeString(outside.resolve("secret.csv"), "s\nTOPSECRET\n")
    val s = new HttpShell(spark, dir, port = 0) // ephemeral port
    (s, s.start(), s"..%2F${outside.getFileName}%2Fsecret", dir)
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET / serves the console") {
    val r = get("/")
    assert(r.statusCode() === 200)
    assert(r.body().contains("graft"))
  }

  test("console drives all three endpoints (reference main.rs:448,477,502)") {
    val html = get("/").body()
    assert(html.contains("/preview?"))
    assert(html.contains("/delays?"))
    assert(html.contains("/regression"))
    // each goes through fetch with an encoded dataset id
    assert(html.contains("encodeURIComponent"))
    Seq("doPreview", "doDelays", "doRegression").foreach(f =>
      assert(html.contains(s"onclick=\"$f()\""), s"console button for $f"))
  }

  test("percent-encoded dataset id resolves (axum decodes path segments)") {
    // "tra%69ns" decodes to "trains"
    val r = get("/data/tra%69ns/preview?limit=1")
    assert(r.statusCode() === 200)
    assert(r.body().contains("ICE 1"))
  }

  test("negative limit → 400 (u32 deserialization parity)") {
    assert(get("/data/trains/preview?limit=-5").statusCode() === 400)
    assert(get("/data/trains/delays?limit=-1").statusCode() === 400)
  }

  test("preview returns JSON rows with default limit semantics") {
    val r = get("/data/trains/preview?limit=2")
    assert(r.statusCode() === 200)
    assert(r.body().startsWith("""[{"train_id":"ICE 1""""))
    assert(r.body().split("\\},\\{").length === 2)
  }

  test("a rewritten dataset file is served as rewritten (stateless like the reference)") {
    val p = Paths.get(lakeDir, "swap.csv")
    Files.writeString(p, "a,b\n1,2\n")
    val first = get("/data/swap/preview")
    assert(first.statusCode() === 200)
    assert(first.body() === """[{"a":1,"b":2}]""")
    Files.writeString(p, "x,y,z\nu,2.5,\n")
    val second = get("/data/swap/preview")
    assert(second.statusCode() === 200)
    assert(second.body() === """[{"x":"u","y":2.5,"z":null}]""")
  }

  test("a same-size rewrite with its old mtime restored is served as rewritten") {
    import graft.operators.Regression
    val p = Paths.get(lakeDir, "restored.csv")
    Files.writeString(p, "x,y\n1,2\n2,4\n3,7\n")
    val reg = """{"x_col":"x","y_col":"y"}"""
    assert(get("/data/restored/preview").body() === """[{"x":1,"y":2},{"x":2,"y":4},{"x":3,"y":7}]""")
    val before = post("/data/restored/regression", reg)
    assert(before.statusCode() === 200)
    // Same header and byte size; `cp -p` / `rsync -t` put the old mtime back.
    val mtime = Files.getLastModifiedTime(p)
    Thread.sleep(20)
    Files.writeString(p, "x,y\n1,3\n2,5\n3,9\n")
    Files.setLastModifiedTime(p, mtime)
    assert(Files.size(p) === 16)
    assert(get("/data/restored/preview").body() === """[{"x":1,"y":3},{"x":2,"y":5},{"x":3,"y":9}]""")
    val after = post("/data/restored/regression", reg)
    val r = Regression.run(
      spark.read.options(graft.sources.DataLake.CsvOptions).csv(p.toString), "x", "y")
    assert(after.body() ===
      s"""{"slope":${r.slope},"intercept":${r.intercept},"r2":${r.r2.map(_.toString).getOrElse("null")}}""")
    assert(after.body() !== before.body())
  }

  test("delays sorts all *delay* columns desc with nulls first") {
    val r = get("/data/trains/delays?sorting=Desc")
    assert(r.statusCode() === 200)
    // null departure_delay first (ICE 2), then 5 (ICE 1), then -2 (ICE 3)
    val order = """"train_id":"([^"]+)"""".r
      .findAllMatchIn(r.body()).map(_.group(1)).toSeq
    assert(order === Seq("ICE 2", "ICE 1", "ICE 3"))
  }

  test("no-limit delays streams the WHOLE table byte-identical to collect") {
    // Quirk (e): no limit = full sorted table. The endpoint now streams
    // chunked via toLocalIterator (bounded driver memory at any table
    // size); the body must equal the collect-based rendering exactly.
    import graft.functions.JsonRows
    import graft.operators.SortedDelays
    import graft.sources.DataLake
    for (q <- Seq("", "?sorting=Desc", "?sorting=Asc")) {
      val r = get(s"/data/trains/delays$q")
      assert(r.statusCode() === 200)
      val sorting = q match {
        case "?sorting=Desc" => Some(SortedDelays.Desc)
        case "?sorting=Asc" => Some(SortedDelays.Asc)
        case _ => None
      }
      val want = JsonRows.toJson(SortedDelays.run(
        new DataLake(spark, lakeDir).load("trains"), sorting, None))
      assert(r.body() === want, s"streamed body must match collect path for '$q'")
    }
  }

  test("delays on dataset without delay columns → 400 (main.rs:271-274)") {
    val r = get("/data/nodelay/delays")
    assert(r.statusCode() === 400)
    assert(r.body().contains("error"))
  }

  test("unknown dataset → 500 (load failure, main.rs:114)") {
    assert(get("/data/ghost/preview").statusCode() === 500)
  }

  test("encoded traversal id → 404, file outside the lake is not served") {
    for (ep <- Seq("preview", "delays")) {
      val r = get(s"/data/$outsideId/$ep")
      assert(r.statusCode() === 404, s"$ep must reject traversal ids")
      assert(!r.body().contains("TOPSECRET"))
    }
    assert(post(s"/data/$outsideId/regression",
      """{"x_col":"s","y_col":"s"}""").statusCode() === 404)
    // double-encoded and backslash variants
    assert(get("/data/..%252Fx/preview").statusCode() !== 200)
    assert(get("/data/..%5Cx/preview").statusCode() === 404)
  }

  test("literal '+' in a dataset id stays a plus (URI path semantics)") {
    val r = get("/data/a+b/preview")
    assert(r.statusCode() === 200)
    assert(r.body().contains("plus-literal"))
  }

  test("regression returns slope/intercept/r2") {
    val r = post("/data/plz/regression", """{"x_col":"qkm","y_col":"einwohner"}""")
    assert(r.statusCode() === 200)
    assert(r.body().matches("""\{"slope":.*,"intercept":.*,"r2":.*\}"""))
  }

  test("regression with missing column → 400") {
    val r = post("/data/plz/regression", """{"x_col":"nope","y_col":"einwohner"}""")
    assert(r.statusCode() === 400)
  }

  test("an error body naming a column with a tab or CR is valid JSON") {
    val r = post("/data/plz/regression", """{"x_col":"no\tpe\r","y_col":"einwohner"}""")
    assert(r.statusCode() === 400)
    // Jackson's default parser, like serde's, rejects raw control characters.
    val err = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body()).get("error")
    assert(err.asText() === "no such column: 'no\tpe\r'", r.body())
  }

  test("regression body parsing matches axum's Json extractor statuses") {
    // valid JSON failing struct deserialization → 422 (JsonDataError)
    assert(post("/data/plz/regression", """{"bogus":1}""").statusCode() === 422)
    assert(post("/data/plz/regression", """{"x_col":1,"y_col":"y"}""").statusCode() === 422)
    assert(post("/data/plz/regression", """[1,2]""").statusCode() === 422)
    assert(post("/data/plz/regression",
      """{"x_col":"a","x_col":"b","y_col":"y"}""").statusCode() === 422)
    // syntax errors → 400 (JsonSyntaxError)
    assert(post("/data/plz/regression", """{"x_col":"a""").statusCode() === 400)
    assert(post("/data/plz/regression", """{"x_col":"a"} trailing""").statusCode() === 400)
    assert(post("/data/plz/regression", """{'x_col':'a'}""").statusCode() === 400)
    // wrong content-type → 415 (MissingJsonContentType)
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/data/plz/regression"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"x_col":"qkm","y_col":"einwohner"}"""))
        .header("Content-Type", "text/plain").build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 415)
  }

  test("escaped quotes and \\u escapes in column names round-trip (serde parity)") {
    // column is literally a"b; JSON spells it a\"b or a"b
    for (body <- Seq(
        """{"x_col":"a\"b","y_col":"y"}""",
        // unicode-escape form of the same quote; the doubled backslash
        // ships the 6-char JSON escape instead of Scala pre-resolving it
        "{\"x_col\":\"a\\u0022b\",\"y_col\":\"y\"}")) {
      val r = post("/data/quoted/regression", body)
      assert(r.statusCode() === 200, s"body $body → ${r.body()}")
      assert(r.body().matches("""\{"slope":.*,"intercept":.*,"r2":.*\}"""))
    }
    // unknown extra fields are ignored, like serde's default
    assert(post("/data/quoted/regression",
      """{"x_col":"a\"b","y_col":"y","extra":[1,{"deep":null}]}""").statusCode() === 200)
  }

  test("bad limit → 400; bad sorting → 400") {
    assert(get("/data/trains/preview?limit=abc").statusCode() === 400)
    assert(get("/data/trains/delays?sorting=Sideways").statusCode() === 400)
  }

  test("8 concurrent no-limit delays on a big table: identical bodies, bounded heap") {
    // Round-8 load case: the streamed egress bounds DRIVER memory per
    // request (toLocalIterator + 64 KB writer buffer); N concurrent
    // whole-table requests multiply only that, never N × collect().
    // Build a 200k-row CSV (~14 MB JSON body), digest the sequential
    // baseline, then fire 8 full-table downloads at once consuming each
    // response as a STREAM (the test must not hold bodies either).
    val n = 200000
    val sb = new StringBuilder("id,departure_delay,arrival_delay\n")
    var i = 0
    while (i < n) {
      sb.append(i).append(',')
      if (i % 13 != 0) sb.append((i * 7919) % 1440 - 60)
      sb.append(',')
      if (i % 17 != 0) sb.append((i * 104729) % 1440 - 30)
      sb.append('\n')
      i += 1
    }
    Files.writeString(Paths.get(lakeDir, "big.csv"), sb.toString)
    // Cleanup must survive assertion failures: a leftover big.csv would
    // change what later HttpShell tests (and re-runs) observe.
    try runLoadCase()
    finally Files.deleteIfExists(Paths.get(lakeDir, "big.csv"))
  }

  private def runLoadCase(): Unit = {
    def streamDigest(): (String, Long) = {
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/data/big/delays?sorting=Desc"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofInputStream())
      assert(r.statusCode() === 200)
      val md = java.security.MessageDigest.getInstance("MD5")
      val in = r.body()
      val buf = new Array[Byte](64 * 1024)
      var total = 0L
      var k = in.read(buf)
      while (k >= 0) {
        md.update(buf, 0, k); total += k; k = in.read(buf)
      }
      in.close()
      (md.digest().map("%02x".format(_)).mkString, total)
    }

    val rt = Runtime.getRuntime
    def settledUsed(): Long = { System.gc(); Thread.sleep(200); rt.totalMemory() - rt.freeMemory() }
    val (baseDigest, baseBytes) = streamDigest()
    assert(baseBytes > 5L * 1024 * 1024, s"body unexpectedly small: $baseBytes")
    val before = settledUsed()

    @volatile var peak = 0L
    val mon = new Thread(() => while (!Thread.interrupted()) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      try Thread.sleep(25) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    })
    mon.setDaemon(true); mon.start()

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // Shut the pool down whatever happens: its 8 non-daemon threads
    // would otherwise outlive the test for the rest of the suite run.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val results =
      try Await.result(
        Future.sequence(Seq.fill(8)(Future(streamDigest()))), 300.seconds)
      finally { mon.interrupt(); pool.shutdown() }
    results.foreach { case (d, b) =>
      assert(b === baseBytes, "concurrent body truncated or padded")
      assert(d === baseDigest, "concurrent body diverged from baseline")
    }
    val after = settledUsed()
    info(f"heap: before=${before / 1e6}%.0fMB peakDuring=${peak / 1e6}%.0fMB " +
      f"settledAfter=${after / 1e6}%.0fMB body=${baseBytes / 1e6}%.1fMB x8")
    // Retention bound: after the wave settles, the 8 full-table streams
    // must leave nothing behind (a collect-based egress would retain
    // ~8 x the Row-materialized table until GC of the handler refs —
    // and show a far higher settled floor under this sampling).
    assert(after - before < 512L * 1024 * 1024,
      f"settled heap grew ${(after - before) / 1e6}%.0fMB after 8 streamed downloads")
  }

  test("concurrent mixed requests are isolated (axum serves in parallel)") {
    // The reference's Axum runtime handles requests concurrently; the
    // shell runs an 8-thread executor over ONE shared SparkSession. Fire
    // a mixed wave — different datasets, sort directions, limits, good
    // and bad requests — in parallel and require every response to be
    // byte-identical to its sequential baseline: no cross-request conf
    // bleed (Tables' set-once session conf), no row leakage between
    // result sets, errors confined to their own request.
    val calls: Seq[() => (Int, String)] = Seq(
      () => { val r = get("/data/trains/preview?limit=2"); (r.statusCode(), r.body()) },
      () => { val r = get("/data/trains/delays?sorting=Desc"); (r.statusCode(), r.body()) },
      () => { val r = get("/data/trains/delays?sorting=Asc"); (r.statusCode(), r.body()) },
      () => { val r = get("/data/plz/preview?limit=3"); (r.statusCode(), r.body()) },
      () => { val r = post("/data/plz/regression",
        """{"x_col":"qkm","y_col":"einwohner"}"""); (r.statusCode(), r.body()) },
      () => { val r = get("/data/ghost/preview"); (r.statusCode(), "") },
      () => { val r = post("/data/plz/regression", """{"bogus":1}"""); (r.statusCode(), "") },
      () => { val r = get("/data/a+b/preview"); (r.statusCode(), r.body()) })
    val baseline = calls.map(_())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(16))
    // 3 waves of all 8 shapes in flight at once (24 concurrent requests).
    val results = Await.result(
      Future.sequence(Seq.fill(3)(calls).flatten.zipWithIndex.map {
        case (c, i) => Future((i % calls.size, c()))
      }), 120.seconds)
    results.foreach { case (i, got) =>
      assert(got === baseline(i), s"concurrent response $i diverged")
    }
  }
}
