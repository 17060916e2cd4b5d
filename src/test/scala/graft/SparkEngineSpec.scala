package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session factory. The heap-aware broadcast ceiling
  * (SparkEngine.broadcastThreshold) was measured in the sf1 memory sweep
  * (BENCH_MEM.md): at production heaps the threshold must be EXACTLY
  * Spark's stock 10 MB so plans stay bit-identical to an unconfigured
  * session; below the 5 GiB crossover it derates linearly so a small
  * driver never plans a broadcast build its heap can't hold ("Not enough
  * memory to build and broadcast"). The rest pins the one conf list and
  * the one session, the machine-derived defaults, that no other main
  * hand-writes a builder, that src/main holds nothing only tests
  * reach, and that generated code stays compiled across sessions and
  * over Spark's default cache size.
  */
class SparkEngineSpec extends AnyFunSuite {
  private val MiB = 1L << 20
  private val GiB = 1L << 30

  test("stock 10 MB at and above the 5 GiB crossover") {
    assert(SparkEngine.broadcastThreshold(5 * GiB) === 10 * MiB)
    assert(SparkEngine.broadcastThreshold(24 * GiB) === 10 * MiB)
    assert(SparkEngine.broadcastThreshold(128 * GiB) === 10 * MiB)
  }

  test("derates linearly below 5 GiB: heap/512") {
    assert(SparkEngine.broadcastThreshold(2 * GiB) === 4 * MiB)
    assert(SparkEngine.broadcastThreshold(4 * GiB) === 8 * MiB)
    assert(SparkEngine.broadcastThreshold(5 * GiB - 512) < 10 * MiB)
  }

  test("code cache: one entry per 640 KiB of heap, in the session conf") {
    assert(SparkEngine.codegenCacheEntries(2 * GiB) === 3276)
    assert(SparkEngine.codegenCacheEntries(4 * GiB) === 6553)
    assert(TestSpark.spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      SparkEngine.codegenCacheEntries().toString)
  }

  test("session conf carries the derated value for this JVM's heap") {
    val s = TestSpark.spark
    val expected = SparkEngine.broadcastThreshold().toString
    assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") === expected)
  }

  test("ObjectHashAggregate fallback ceiling is raised past real key domains") {
    // Spark's default 128-key fallback turns every per-group top-k
    // partial into a full-stream sort (q_embed_ivf at ×1000: 239 GB
    // spill — the exact sort BoundedTopK exists to avoid). The engine
    // pins 65536: top-k buffers are ≤16k+ε bytes, so the partial map
    // stays ≲33 MB/task at the ceiling.
    assert(TestSpark.spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
  }

  test("SPARK_GRAFT_CONF pass-through: malformed entry fails naming the token") {
    val e = intercept[IllegalArgumentException] {
      SparkEngine.passThrough(Some("a=b;oops"))
    }
    assert(e.getMessage.contains("oops"), e.getMessage)
    assert(e.getMessage.contains("SPARK_GRAFT_CONF"), e.getMessage)
    // well-formed entries (incl. '=' in the value) parse fine
    assert(SparkEngine.passThrough(Some("k1=v1; k2=a=b ;")) ===
      Seq("k1" -> "v1", "k2" -> "a=b"))
  }

  test("SPARK_GRAFT_CONF pass-through wins over a previously pinned conf") {
    // The factory applies the pass-through AFTER every pinned key, and
    // Builder semantics are last-write-wins, so an override of a pinned
    // key must land in the session conf (Verify used to fold it in FIRST
    // and silently lose overrides of pinned keys — round-10 advice).
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val c = SparkEngine.conf("local[4]", 4,
      Map("SPARK_GRAFT_CONF" -> s"$key=128"))
    assert(c.last === key -> "128")
    val s = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = (Seq("spark.graft.test.pin" -> "pinned") ++
          SparkEngine.passThrough(Some("spark.graft.test.pin=overridden")))
        .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      assert(s2.conf.get("spark.graft.test.pin") === "overridden")
    } finally {
      SparkSession.setActiveSession(s)
      SparkSession.setDefaultSession(s)
    }
  }

  test("the shared session carries the Production conf list") {
    val s = TestSpark.spark
    SparkEngine.conf("local[4]", 4)
      .toMap.foreach { case (k, v) =>
        // Spark qualifies the warehouse path to a URI (file:/...).
        assert(s.conf.get(k).stripPrefix("file:") === v, k)
      }
  }

  test("local-cluster masters get the app classpath on their executors") {
    val key = "spark.executor.extraClassPath"
    val cluster = SparkEngine.conf("local-cluster[2,1,1024]", 4, Map.empty).toMap
    assert(cluster.get(key) === Some(sys.props("java.class.path")))
    assert(!SparkEngine.conf("local[4]", 4, Map.empty).toMap.contains(key))
  }

  test("default cores and master come from the machine unless pinned") {
    val cores = Runtime.getRuntime.availableProcessors
    assert(SparkEngine.defaultCores(Map.empty) === cores)
    assert(SparkEngine.defaultCores(Map("SPARK_GRAFT_CPUS" -> "7")) === 7)
    assert(SparkEngine.defaultMaster(Map.empty) === s"local[$cores]")
    assert(SparkEngine.defaultMaster(Map("SPARK_GRAFT_CPUS" -> "3")) === "local[3]")
    assert(SparkEngine.defaultMaster(Map("SPARK_GRAFT_MASTER" -> "local[2,3]",
      "SPARK_GRAFT_CPUS" -> "3")) === "local[2,3]")
  }

  test("variant: one clone per session and conf, the caller's conf never written") {
    // A fresh clone per call would build its session state again.
    val s = TestSpark.spark.newSession()
    val aqe = "spark.sql.adaptive.enabled"
    val v = SparkEngine.variant(s, aqe -> "false")
    assert(v.conf.get(aqe) === "false" && s.conf.get(aqe) === "true")
    assert(SparkEngine.variant(s, aqe -> "false") eq v)
    assert(!(SparkEngine.variant(TestSpark.spark, aqe -> "false") eq v))
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val v2 = SparkEngine.variant(s, aqe -> "false")
    assert(!(v2 eq v) && v2.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(v2.conf.get(aqe) === "false" && s.conf.get(aqe) === "true")
  }

  /** Generated classes Spark compiles while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("generated code is shared: a newSession and a variant clone compile nothing") {
    // With per-session executor class loaders, each fresh session
    // compiled about 5 classes for this query.
    def run(s: SparkSession): Unit =
      s.range(0, 1000, 1, 4).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").agg(sum("v")).write.format("noop").mode("overwrite").save()
    val s = TestSpark.spark
    run(s)
    assert(compiles(run(s)) === 0, "warm on the shared session")
    assert(compiles(run(s.newSession())) === 0, "newSession")
    assert(compiles(run(SparkEngine.variant(s, "spark.graft.test.variant" -> "shared"))) === 0,
      "variant clone")
  }

  test("a working set over Spark's default 100 classes stays compiled") {
    val s = TestSpark.spark
    // 13 queries of 10 union branches: each branch is its own
    // whole-stage class, distinct because literals are inlined.
    def round(): Unit = (0 until 13).foreach { q =>
      (1 to 10).map(b => s.range(0, 1, 1, 1).selectExpr(s"id * ${10 * q + b} + 3 AS v"))
        .reduce(_ union _).collect()
    }
    val cold = compiles(round())
    assert(cold > 100, s"the working set holds $cold classes")
    assert(compiles(round()) === 0)
  }

  /** `src` without its comment lines. */
  private def code(src: String): String = src.linesIterator.filterNot { l =>
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }.mkString("\n")

  test("no src/main code adds session artifacts") {
    // Every session shares the executor's default class loader (artifact
    // isolation is off in SparkEngine.conf); an added artifact would be
    // visible to every session and would need its own loader again.
    val adds = mainSources().collect {
      case (_, path, src) if code(src).contains("addArtifact") => path
    }
    assert(adds.isEmpty, s"addArtifact in: $adds")
  }

  /** Every src/main Scala file as (file name, path, source). */
  private def mainSources(): List[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => (p.getFileName.toString, p.toString,
        java.nio.file.Files.readString(p))).toList
    finally files.close()
  }

  test("only SparkEngine builds sessions or sets builder conf in src/main") {
    // Seven hand-written builders drifted apart before the factory (one
    // lacked the 65536 ceiling, two lacked rdd.compress); this keeps a
    // new one from creeping back in.
    val offenders = mainSources().collect {
      case (name, path, src) if name != "SparkEngine.scala" &&
        (src.contains("SparkSession.builder(") || src.contains(".config(")) => path
    }
    assert(offenders.isEmpty, offenders)
  }

  test("no src/main code flips AQE or the bin width on a session; only Ckpt checkpoints") {
    // A set/restore of a session conf around a plan build is seen by
    // every query planned concurrently on that session (the AQE flips
    // around eager checkpoints, the range-join width). Overrides belong
    // on a clone (Bridge.cloneSession), and every localCheckpoint goes
    // through Ckpt, which owns the layout-keeping clone route and the
    // replication policy. Comment lines are skipped; a flip split over
    // several lines is still caught.
    val flip = ("""\.conf\s*\.\s*(?:set|unset)\(\s*(?:"spark\.sql\.adaptive\.enabled"|""" +
      """"spark\.graft\.rangeJoin\.binWidth"|[\w.]*WidthConf\b)""").r
    val sources = mainSources().map { case (name, path, src) => (name, path, code(src)) }
    val flips = sources.collect {
      case (name, path, src) if name != "SparkEngine.scala" &&
        name != "Bridge.scala" && flip.findFirstIn(src).nonEmpty => path
    }
    assert(flips.isEmpty, s"session conf flipped in: $flips")
    // `.cache()` and `.persist(` are matched by plan in Spark's
    // CacheManager: a cached frame over a lake file would serve stale rows
    // after a rewrite that keeps the plan.
    val materialize = """localCheckpoint\(|\.(?:cache|persist)\b""".r
    val ckpts = sources.collect {
      case (name, path, src) if name != "Ckpt.scala" &&
        materialize.findFirstIn(src).nonEmpty => path
    }
    assert(ckpts.isEmpty, s"localCheckpoint, cache or persist outside Ckpt in: $ckpts")
  }

  test("one session: no src/main file names a profile; every session has GraftExtensions") {
    // The gates run the session that serves, so the oracle gates every
    // extension rewrite. A second profile would split them again.
    val named = mainSources().collect {
      case (_, path, src) if """\bProfile\b""".r.findFirstIn(src).nonEmpty => path
    }
    assert(named.isEmpty, s"a session profile is named in: $named")
    val s = TestSpark.spark
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.catalog.functionExists("graft_md5"))
    import org.apache.spark.sql.functions.{col, md5}
    val plan = s.range(1).select(md5(col("id").cast("string")).as("h"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_md5(") && """\bmd5\(""".r.findFirstIn(plan).isEmpty, plan)
  }

  test("nothing in src/main is reached only by tests") {
    // A top-level object, class or trait that no other src/main code
    // names ships only for its spec. Mains are entry points; the
    // allowlist holds classes loaded from outside src/main.
    val loadedByName = Set(
      "RangeSource", // format("graft.sources.RangeSource")
      "SparkEntry") // the catalog's outside entry point; perfbench calls it
    val code = mainSources().map { case (_, path, src) => path -> codeOnly(src) }
    val decl = ("""(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r
    // name -> (path, start, end) of each top-level declaration; a
    // declaration runs to the next one, and same-name companions count
    // as one.
    val decls = code.flatMap { case (path, src) =>
      val ms = decl.findAllMatchIn(src).toList
      ms.zip(ms.drop(1).map(_.start) :+ src.length)
        .map { case (m, end) => m.group(1) -> (path, m.start, end) }
    }.groupMap(_._1)(_._2)
    val byPath = code.toMap
    val dead = decls.toSeq.collect {
      case (name, own) if !loadedByName(name) &&
        !own.exists { case (p, a, b) => byPath(p).substring(a, b).contains("def main(") } &&
        !code.exists { case (path, src) =>
          ("\\b" + name + "\\b").r.findAllMatchIn(src).exists { m =>
            !own.exists { case (p, a, b) => p == path && a <= m.start && m.start < b }
          }
        } => name
    }.sorted
    assert(dead.isEmpty, s"named by no src/main code but their own: $dead")
  }

  test("every public def in src/main has a src/main caller") {
    // The member-level twin of the case above: a public def that no other
    // src/main code names ships only for its spec. Names are matched as
    // words, so a member counts as called when any caller names it.
    // Overrides, entry points and apply/unapply are called from outside.
    val allowlist = Set(
      "datasetExists", // DataLake: the reference's existence probe (main.rs:55-57)
      "d2xy") // HilbertIndex: the inverse SpaceFillingCurveSpec checks xy2d with
    val code = mainSources().map { case (_, path, src) => path -> codeOnly(src) }
    val decl = ("""((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
      """implicit\s+|inline\s+|@\w+\s+)*)def\s+(\w+)""").r
    val decls = code.flatMap { case (path, src) =>
      decl.findAllMatchIn(src).map(m => (path, m.group(1), m.group(2), m.start(2)))
    }
    val declSites = decls.map { case (path, _, _, at) => (path, at) }.toSet
    val notPublic = """\b(?:private|protected|override)\b""".r
    val dead = decls.collect {
      case (path, mods, name, _) if notPublic.findFirstIn(mods).isEmpty &&
        !Set("main", "apply", "unapply")(name) && !allowlist(name) &&
        !code.exists { case (p, src) =>
          ("\\b" + name + "\\b").r.findAllMatchIn(src).exists(m => !declSites((p, m.start)))
        } =>
        java.nio.file.Paths.get(path).getFileName.toString.stripSuffix(".scala") + "." + name
    }.distinct.sorted
    assert(dead.isEmpty, s"public defs no other src/main code names: $dead")
  }

  /** `src` with comments and string text blanked to spaces, offsets kept;
    * the code in an interpolated string's `${…}` and `$name` stays.
    */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    val charLit = java.util.regex.Pattern.compile("""'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""")
    val splicedName = java.util.regex.Pattern.compile("""\$[A-Za-z_]\w*""")
    def blank(from: Int, to: Int): Int = {
      var k = from
      while (k < to) { out.append(if (src(k) == '\n') '\n' else ' '); k += 1 }
      to
    }
    def at(p: java.util.regex.Pattern, i: Int): Option[Int] = {
      val m = p.matcher(src).region(i, src.length)
      if (m.lookingAt()) Some(m.end) else None
    }
    // Copies code from `start`; inside a `${`, returns after its `}`.
    def lex(start: Int, inSplice: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < src.length) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          val eol = src.indexOf('\n', i)
          i = blank(i, if (eol < 0) src.length else eol)
        } else if (src.startsWith("/*", i)) {
          var j = i
          var nest = 0
          while ({
            if (src.startsWith("/*", j)) { nest += 1; j += 2 }
            else if (src.startsWith("*/", j)) { nest -= 1; j += 2 }
            else j += 1
            nest > 0 && j < src.length
          }) ()
          i = blank(i, j)
        } else if (c == '\'' && at(charLit, i).nonEmpty) {
          i = blank(i, at(charLit, i).get)
        } else if (c == '"') {
          val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
          val triple = src.startsWith("\"\"\"", i)
          i = blank(i, i + (if (triple) 3 else 1))
          var open = true
          while (open && i < src.length) {
            if (triple && src.startsWith("\"\"\"", i) && !src.startsWith("\"\"\"\"", i)) {
              i = blank(i, i + 3); open = false
            } else if (!triple && src(i) == '"') {
              i = blank(i, i + 1); open = false
            } else if (!triple && src(i) == '\\') i = blank(i, math.min(i + 2, src.length))
            else if (interp && src.startsWith("$$", i)) i = blank(i, i + 2)
            else if (interp && src.startsWith("${", i)) i = lex(blank(i, i + 2), inSplice = true)
            else if (interp && at(splicedName, i).nonEmpty) {
              val end = at(splicedName, i).get
              out.append(' ').append(src.substring(i + 1, end))
              i = end
            } else i = blank(i, i + 1)
          }
        } else if (inSplice && c == '}' && depth == 0) {
          return blank(i, i + 1)
        } else {
          if (inSplice && c == '{') depth += 1
          if (inSplice && c == '}') depth -= 1
          out.append(c)
          i += 1
        }
      }
      i
    }
    lex(0, inSplice = false)
    out.result()
  }
}
