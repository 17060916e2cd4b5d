package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.{BadRequestException, DatasetLoadException}
import graft.functions.JsonRows
import graft.operators.{Preview, Regression, SortedDelays}
import graft.sources.DataLake

/** Thin HTTP shell reproducing the reference's service surface
  * (build_router, reference main.rs:309-335):
  *
  *   GET  /                              — console page
  *   GET  /data/{id}/preview?limit=N     — main.rs:106-121
  *   GET  /data/{id}/delays?sorting=&limit= — main.rs:260-306
  *   POST /data/{id}/regression          — main.rs:124-203
  *
  * Status mapping mirrors the reference: bad column/cast/empty/degenerate
  * → 400; load failure → 500 (main.rs:114). The library does the work;
  * this class only routes, parses, and serializes — so correctness tests
  * target the library and the shell stays ~200 lines.
  *
  * JDK-built-in httpserver: zero extra dependencies (offline build).
  */
final class HttpShell(spark: SparkSession, baseDir: String, port: Int = 3000)
    extends org.apache.spark.internal.Logging {

  private val lake = new DataLake(spark, baseDir)
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    // Concurrent request handling, like the reference's Axum runtime
    // (tokio serves each connection on the worker pool). A SparkSession
    // is thread-safe for concurrent actions — jobs from parallel requests
    // interleave in the scheduler — and the one shared-session conf the
    // lake touches (Tables' nanosAsLong) is set-once-idempotent by
    // design, so requests cannot bleed state into each other.
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) {
    server.stop(0)
    if (pool != null) pool.shutdown()
  }

  private val DataPath = "/data/([^/]+)/(preview|delays|regression)".r

  private def route(ex: HttpExchange): Unit =
    try {
      (ex.getRequestMethod, ex.getRequestURI.getRawPath) match {
        case ("GET", "/") => respond(ex, 200, HttpShell.consoleHtml, "text/html")
        case ("GET", DataPath(id, "preview")) => preview(ex, decSeg(id))
        case ("GET", DataPath(id, "delays")) => delays(ex, decSeg(id))
        case ("POST", DataPath(id, "regression")) => regression(ex, decSeg(id))
        case _ => respondJson(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case _: HttpShell.RejectedSegment =>
        respondJson(ex, 404, """{"error":"not found"}""")
      case e: HttpShell.UnprocessableBody =>
        respondJson(ex, 422, s"""{"error":"${esc(e.getMessage)}"}""")
      case e: BadRequestException =>
        respondJson(ex, 400, s"""{"error":"${esc(e.getMessage)}"}""")
      case e: DatasetLoadException =>
        respondJson(ex, 500, s"""{"error":"${esc(e.getMessage)}"}""")
      // Fatal JVM errors (OutOfMemoryError, ...) must propagate, and
      // loudly: com.sun.net.httpserver's dispatcher swallows anything a
      // handler throws at FINER level. But rethrowing without touching
      // the exchange leaves a pre-header fatal with NO response at all —
      // a client with no read timeout (the JDK default) then blocks
      // forever. So: log an error, make a BEST-EFFORT 500 (itself
      // guarded — on an exchange whose 200 header is already committed,
      // e.g. a mid-stream fatal escaping delays(), respondJson throws
      // IOException and we must not let that mask the original error),
      // then rethrow the original.
      case e: Throwable if !scala.util.control.NonFatal(e) =>
        logError(s"[http] FATAL in ${ex.getRequestURI.getRawPath}: $e", e)
        try respondJson(ex, 500, s"""{"error":"${esc(String.valueOf(e))}"}""")
        catch { case _: Throwable => () }
        throw e
      case e: Throwable =>
        respondJson(ex, 500, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
    }

  /** Percent-decode a QUERY token (axum decodes both path and query;
    * getRequestURI.getRawQuery does not). `+` is a space in query
    * strings, which URLDecoder's form semantics handle.
    */
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Percent-decode a PATH segment. Two deliberate differences from
    * [[dec]]: (1) URI path semantics keep `+` literal (axum parity —
    * form decoding would turn `/data/a+b/preview` into dataset "a b");
    * (2) a decoded separator must not resurrect as one. The route regex
    * matches the RAW path, so `..%2F..%2Fetc%2Fx` arrives as one
    * segment and would otherwise decode into a traversal that walks
    * [[DataLake]] out of its base dir — any such id is rejected as 404,
    * exactly what a literal-`/` id gets from the router.
    */
  private def decSeg(s: String): String = {
    val d = java.net.URLDecoder.decode(s.replace("+", "%2B"), StandardCharsets.UTF_8)
    if (d.contains('/') || d.contains('\\')) throw new HttpShell.RejectedSegment
    d
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); dec(k) -> dec(v) }
      .toMap

  /** Non-negative int param; reference parity: `limit` deserializes as
    * u32, so a negative value is a 400 from the framework, not a 500
    * surfacing Spark's negative-limit error.
    */
  private def intParam(q: Map[String, String], name: String): Option[Int] =
    q.get(name).map { v =>
      val n =
        try v.toInt
        catch { case _: NumberFormatException =>
          throw BadRequestException(s"invalid $name: '$v'") }
      if (n < 0) throw BadRequestException(s"invalid $name: '$v'")
      n
    }

  private def preview(ex: HttpExchange, id: String): Unit = {
    val q = query(ex)
    respondJson(ex, 200, JsonRows.toJson(Preview.run(lake.load(id), intParam(q, "limit"))))
  }

  private def delays(ex: HttpExchange, id: String): Unit = {
    val q = query(ex)
    val sorting = q.get("sorting") match {
      case Some("Desc") => Some(SortedDelays.Desc)
      case Some("Asc") => Some(SortedDelays.Asc)
      case Some(other) => throw BadRequestException(s"invalid sorting: '$other'")
      case None => None
    }
    val df = SortedDelays.run(lake.load(id), sorting, intParam(q, "limit"))
    // Reference semantics (quirk (e), main.rs:295-297): no limit means
    // the WHOLE sorted table. Stream it — byte-identical body to the
    // collect-based toJson (JsonRowsSpec golden test), but driver memory
    // stays bounded by one partition via toLocalIterator, so this
    // endpoint survives a 100× table. The iterator's first hasNext runs
    // partition 0's job, so load/analysis/early-runtime errors still
    // become a 500 BEFORE the 200 header; a failure later mid-stream can
    // only truncate the chunked body (the standard streaming tradeoff —
    // the client sees a malformed JSON tail, never a silent success).
    val rows = JsonRows.jsonRowIterator(df)
    val nonEmpty = rows.hasNext // may throw -> route()'s 500 path
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0) // length 0 = chunked transfer
    val os = ex.getResponseBody
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(os, StandardCharsets.UTF_8), 64 * 1024)
      w.write("[")
      var first = true
      while (rows.hasNext) {
        if (!first) w.write(",")
        first = false
        w.write(rows.next())
      }
      w.write("]")
      w.flush()
    } catch {
      // Runtime failures after the 200 header is gone: log the
      // truncation loudly server-side (documented tradeoff). Fatal JVM
      // errors (OutOfMemoryError, ...) must still propagate — the
      // finally closes the stream first.
      case scala.util.control.NonFatal(e) =>
        logWarning(s"[delays] mid-stream failure after 200: ${e.getMessage}", e)
    } finally os.close()
  }

  /** Axum `Json<RegressionRequest>` extractor parity (main.rs:123-127,
    * serde derive at :75-80): wrong/missing Content-Type → 415, JSON
    * syntax error → 400, well-formed JSON that fails struct
    * deserialization (not an object / missing / non-string / duplicate
    * field) → 422. Unknown extra fields are ignored, like serde's
    * default. Parsing is a real recursive descent ([[MiniJson]]) so
    * escaped quotes and \\u escapes in column names round-trip — the
    * old regex stopped a column named `a"b` at the backslash.
    */
  private def regression(ex: HttpExchange, id: String): Unit = {
    val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (!ctype.split(";")(0).trim.equalsIgnoreCase("application/json")) {
      respondJson(ex, 415, """{"error":"expected application/json"}"""); return
    }
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val parsed =
      try MiniJson.parse(body)
      catch { case e: MiniJson.ParseException =>
        respondJson(ex, 400, s"""{"error":"invalid json: ${esc(e.getMessage)}"}"""); return
      }
    def field(name: String): String =
      try parsed match {
        case o: MiniJson.JObj => o.get(name) match {
          case Some(MiniJson.JStr(s)) => s
          case Some(_) => throw new MiniJson.ParseException(s"field `$name` must be a string")
          case None => throw new MiniJson.ParseException(s"missing field `$name`")
        }
        case _ => throw new MiniJson.ParseException("body must be a JSON object")
      } catch { case e: MiniJson.ParseException =>
        throw new HttpShell.UnprocessableBody(e.getMessage)
      }
    val r = Regression.run(lake.load(id), field("x_col"), field("y_col"))
    val r2 = r.r2.map(_.toString).getOrElse("null")
    respondJson(ex, 200,
      s"""{"slope":${r.slope},"intercept":${r.intercept},"r2":$r2}""")
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  private def respondJson(ex: HttpExchange, code: Int, body: String): Unit =
    respond(ex, code, body, "application/json")

  private def respond(ex: HttpExchange, code: Int, body: String, ctype: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object HttpShell {
  /** Control-flow marker for path segments rejected after decoding
    * (traversal / separator smuggling) — mapped to 404 in [[route]].
    */
  private[server] final class RejectedSegment extends RuntimeException

  /** Well-formed JSON that fails struct deserialization — axum's
    * `JsonRejection::JsonDataError`, status 422.
    */
  private[server] final class UnprocessableBody(msg: String) extends RuntimeException(msg)

  /** Console page driving all three endpoints via fetch, like the
    * reference's embedded frontend (main.rs:337-520: preview at :448,
    * delays at :477, regression at :502). Same behavior — encoded
    * dataset id, optional params omitted when blank, status-line error
    * reporting — expressed as one generic `call` helper instead of three
    * copies.
    */
  val consoleHtml: String =
    """<!DOCTYPE html><html lang="en"><head><meta charset="UTF-8"/>
      |<title>graft console</title>
      |<style>
      |  body { font-family: system-ui, sans-serif; max-width: 60rem; margin: 2rem auto; }
      |  fieldset { margin-bottom: 1.5rem; border-radius: 8px; }
      |  pre { background: #f4f4f4; padding: .75rem; max-height: 20rem; overflow: auto; }
      |</style></head><body>
      |<h1>graft console</h1>
      |<p>Runs against parquet/CSV datasets under the shell's base dir:
      |dataset id <code>x</code> → <code>&lt;base&gt;/x.csv</code>.</p>
      |
      |<fieldset><legend>Preview</legend>
      |  <label>dataset <input id="p_id"/></label>
      |  <label>limit <input id="p_limit" type="number" value="20"/></label>
      |  <button onclick="doPreview()">preview</button>
      |  <pre id="p_out"></pre>
      |</fieldset>
      |
      |<fieldset><legend>Sorted delays</legend>
      |  <label>dataset <input id="d_id"/></label>
      |  <label>sorting <select id="d_sorting">
      |    <option value="">(none)</option><option>Asc</option><option>Desc</option>
      |  </select></label>
      |  <label>limit <input id="d_limit" type="number" value="20"/></label>
      |  <button onclick="doDelays()">load</button>
      |  <pre id="d_out"></pre>
      |</fieldset>
      |
      |<fieldset><legend>Regression</legend>
      |  <label>dataset <input id="r_id"/></label>
      |  <label>x column <input id="r_x"/></label>
      |  <label>y column <input id="r_y"/></label>
      |  <button onclick="doRegression()">run</button>
      |  <pre id="r_out"></pre>
      |</fieldset>
      |
      |<script>
      |const v = id => document.getElementById(id).value.trim();
      |async function call(outId, url, init) {
      |  const out = document.getElementById(outId);
      |  out.textContent = 'Loading...';
      |  try {
      |    const res = await fetch(url, init);
      |    const body = await res.text();
      |    out.textContent = res.ok
      |      ? JSON.stringify(JSON.parse(body), null, 2)
      |      : 'Error ' + res.status + ': ' + body;
      |  } catch (err) { out.textContent = 'Request failed: ' + err; }
      |}
      |function doPreview() {
      |  if (!v('p_id')) return;
      |  const ps = new URLSearchParams();
      |  if (v('p_limit')) ps.set('limit', v('p_limit'));
      |  call('p_out', `/data/${encodeURIComponent(v('p_id'))}/preview?` + ps);
      |}
      |function doDelays() {
      |  if (!v('d_id')) return;
      |  const ps = new URLSearchParams();
      |  if (v('d_sorting')) ps.set('sorting', v('d_sorting'));
      |  if (v('d_limit')) ps.set('limit', v('d_limit'));
      |  call('d_out', `/data/${encodeURIComponent(v('d_id'))}/delays?` + ps);
      |}
      |function doRegression() {
      |  if (!v('r_id') || !v('r_x') || !v('r_y')) return;
      |  call('r_out', `/data/${encodeURIComponent(v('r_id'))}/regression`, {
      |    method: 'POST',
      |    headers: { 'Content-Type': 'application/json' },
      |    body: JSON.stringify({ x_col: v('r_x'), y_col: v('r_y') })
      |  });
      |}
      |</script></body></html>""".stripMargin

  /** Standalone entry: HttpShell <baseDir> [port]. */
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("./data")
    val port = args.lift(1).map(_.toInt).getOrElse(3000)
    val spark = graft.SparkEngine.session()
    val shell = new HttpShell(spark, baseDir, port)
    println(s"graft http shell on :${shell.start()} over $baseDir")
    Thread.currentThread().join()
  }
}
