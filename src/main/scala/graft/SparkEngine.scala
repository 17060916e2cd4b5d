package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the HTTP shell, the tests and
  * perfbench build their `SparkSession` through [[session]], from one
  * conf list ([[conf]]). There is one session: AQE on and
  * [[graft.plans.GraftExtensions]] installed. The gate mains (Verify,
  * Bench) run the session that serves, so the oracle gates the
  * extension rules too. A caller that needs other planning (PlanDump's
  * AQE-off dumps, layout-keeping checkpoints) plans on a [[variant]].
  *
  * Library code must never depend on builder-time conf: anything
  * semantic (ANSI-safe casts, null ordering) is handled per-expression
  * in the operators instead (see [[graft.operators]]).
  */
object SparkEngine {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores(env: Map[String, String] = sys.env,
      available: Int = Runtime.getRuntime.availableProcessors): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(available)

  /** Master URL: `SPARK_GRAFT_MASTER` (e.g. `local-cluster[2,16,4096]`
    * for the multi-process gate; needs SPARK_HOME and
    * SPARK_SCALA_VERSION so executors can launch), else `local[cores]`.
    */
  def defaultMaster(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_MASTER", s"local[${defaultCores(env)}]")

  /** Broadcast-join threshold derated for small heaps.
    *
    * Spark's 10 MB `spark.sql.autoBroadcastJoinThreshold` is static: the
    * planner compares it against the build side's ESTIMATED (compressed,
    * columnar) size, but BroadcastExchangeExec then materializes the
    * deserialized rows PLUS a LongToUnsafeRowMap/BytesToBytesMap on the
    * driver — routinely 10–30× the estimate — and guards the build with
    * "Not enough memory to build and broadcast the table". On a 2 GiB
    * heap the sf1 memory sweep (BENCH_MEM.md) hit exactly that guard on
    * two dedup queries whose build sides pass the 10 MB estimate. A
    * threshold the heap cannot actually honor is a misconfiguration, so
    * sessions derate it linearly below ~5 GiB: heap/512 (2 GiB → 4 MiB),
    * which flips the marginal builds to sort-merge — slower, bounded,
    * completes. At production heaps (≥ 5 GiB) this returns Spark's stock
    * 10 MB and plans are bit-identical to an unconfigured session.
    */
  def broadcastThreshold(
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    math.min(10L << 20, maxHeapBytes / 512)

  /** Generated classes Spark's code cache keeps: one per 640 KiB of heap
    * (3276 at the 2 GiB floor heap), so the cache takes at most ~5 % of
    * the heap. Spark's default of 100 overflows on a mixed working set,
    * and each recompile costs Janino and JIT work again. A full-catalog
    * pass at sf0.001 makes 4332 distinct entries at 32.8 KB of heap each
    * (the key keeps the generated source) plus 9.7 KB of metaspace: 6.8 %
    * of a 2 GiB heap, too many for one fixed number at the floor, so the
    * size follows the heap. Heaps from ~3 GiB hold the whole catalog.
    */
  def codegenCacheEntries(
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    maxHeapBytes / (640L << 10)

  /** Shuffle/checkpoint scratch directory (round 11, guide §1.3/§2.1):
    * on this sandbox the filesystem behind the default `spark.local.dir`
    * charges every shuffle-file create/write ~50–160 ms of SYSTEM CPU
    * per task — measured: a 5 000-row `orderBy` over 32 partitions cost
    * ~3 CPU-s, and pointing local.dir at tmpfs cut shuffle-stage CPU
    * 65–80 % (q_window_funcs 7.05 → 2.44 s, q_topk_per_group 5.89 →
    * 1.22 s executor CPU at identical plans). Shuffle files are
    * transient by construction (ContextCleaner + the 2-min periodic GC
    * bound the live set; the full-catalog gate writes ~1 GB per pass
    * against a 126 GB tmpfs), so RAM-backed scratch is the right local
    * medium — the same call a production deployment makes by putting
    * local.dir on NVMe instead of network/overlay storage.
    *
    * Parameterised for scale: `SPARK_GRAFT_LOCAL_DIR=<path>` overrides
    * (big-decade corpora MUST point this at real disk — a ×1000 graph
    * run keeps ~58 GB of scratch live, which does not belong in RAM
    * next to the corpus page cache); unset picks tmpfs when writable,
    * else leaves Spark's default.
    */
  def localDir(env: Map[String, String] = sys.env): Option[String] =
    env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)
      .orElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) Some("/dev/shm/spark-graft")
        else None
      }

  /** Generic conf pass-through (`SPARK_GRAFT_CONF="k=v;k=v"`), so
    * forced-path gate runs (e.g. the quantile-sketch checkpoint bypass)
    * and A/Bs of any pinned key go through the same entry points as
    * every other number. [[conf]] puts these entries LAST, so an
    * override of a pinned key (rdd.compress, AQE, the ObjectHashAggregate
    * fallback ceiling, shuffle partitions, …) wins. A malformed entry
    * (no '=') fails loudly naming the token instead of a bare MatchError.
    */
  def passThrough(raw: Option[String]): Seq[(String, String)] =
    raw.toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        }
      }

  /** The session conf, in the order it is applied (Builder semantics
    * are last-write-wins): every pinned key, then the local-cluster
    * executor classpath, then [[localDir]], then [[passThrough]].
    * Pinned conf mirrors SURVEY.md §7 phase A: UTC, no UI, shuffle
    * partitions sized for local cores rather than the 200 default.
    */
  def conf(master: String, shufflePartitions: Int,
      env: Map[String, String] = sys.env): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // Heap-aware broadcast ceiling — see broadcastThreshold above.
    "spark.sql.autoBroadcastJoinThreshold" -> broadcastThreshold().toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // ICU case mapping routes upper/lower through
    // CollationAwareUTF8String, whose static init title-cases every
    // Unicode code point; when the JIT is busy with codegen output it
    // runs interpreted for minutes (observed 490s on a 200-row query).
    // JVM case mapping is identical for ASCII corpora and never stalls.
    "spark.sql.icu.caseMappings.enabled" -> "false",
    // Compress SERIALIZED storage blocks (DISK_ONLY / *_SER levels —
    // deserialized in-memory blocks are untouched). The graph queries
    // checkpoint DATA-sized edge frames at DISK_ONLY (see q_pagerank);
    // measured at the ×100 corpus (GraphCkptSizeProbe, round 10): the
    // edge checkpoint shrinks 12.0 GB → 1.63 GB (7.4×) and the query
    // runs 29% FASTER (322.8 → 230.0 s) because four edge-frame reads
    // of 1.6 GB beat four of 12 GB — LZ4 on long-triple rows is
    // cheaper than the disk IO it saves. Storage-only: values and
    // plans are unchanged (full catalog re-oracled after the flip).
    "spark.rdd.compress" -> "true",
    // Broadcast children are built on a driver thread with a 300 s
    // default deadline — tuned for "small dim table", not "small
    // RESULT of a big computation". Queries broadcast 1-row aggregates
    // whose subplans scan real data (q_modularity's edge count hit the
    // 300 s wall at the ×1000 corpus); the queries now keep such
    // children cheap by construction, and this headroom keeps the next
    // decade's marginal case a slow plan instead of a dead one.
    "spark.sql.broadcastTimeout" -> "1800",
    // ContextCleaner frees shuffle files only after the driver GC
    // collects their handles; its fallback periodic GC defaults to
    // 30 MINUTES — longer than most queries, so a 24 GiB driver heap
    // under no allocation pressure lets every finished stage's
    // shuffle files pile up on disk for the query's whole lifetime
    // (measured round 10: q_pagerank ×1000 accumulated its dedup
    // exchange + three 20 GB iteration shuffles and exhausted a
    // 58 GB scratch disk). 2 minutes bounds the garbage window;
    // paired with per-iteration lineage truncation at the call sites
    // (q_pagerank), peak scratch is one live iteration, not the sum.
    "spark.cleaner.periodicGC.interval" -> "2min",
    // TIMESTAMP(NANOS) parquet columns (the `events` table) surface as
    // raw long instead of erroring. Pinned at build time so the flag
    // never flips mid-session; Tables.events keeps a lazy set as a
    // fallback for sessions built outside this factory.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Checkpoint-replica durability on multi-executor clusters (see
    // graft.Ckpt): replication targets come from a peer list cached
    // 60s, so blocks written just after an executor death replicate
    // into the corpse — the default ONE replication attempt then gives
    // up before the on-failure peer refresh is consulted, leaving the
    // block silently single-copy (measured: ExecutorLossProbe,
    // "replicated to only 0 peer(s)" in executor logs). A failure
    // budget of 5 lets the refreshed list win; proactive re-replication
    // restores lost replicas after every executor removal. Both no-ops
    // in single-executor (local) sessions.
    "spark.storage.maxReplicationFailures" -> "5",
    "spark.storage.replication.proactive" -> "true",
    // The failure budget can't help when the CACHED peer list is
    // EMPTY (fetched in the gap between a death and its replacement's
    // registration): zero peers → zero attempts → zero failures → no
    // forced refresh, and every replicated write for the next TTL is
    // silently single-copy ("Expecting 1 replicas with only 0
    // peer/s", measured). Default TTL is 60s; 5s bounds the
    // post-churn blind window at one RPC per writing executor per 5s.
    "spark.storage.cachedPeersTtl" -> "5000",
    // TypedImperativeAggregate partials (graft_topk, graft_kmv,
    // graft_heavy_hitters) run in ObjectHashAggregateExec, which falls
    // back to SORT-BASED aggregation after `fallbackThreshold` DISTINCT
    // KEYS per partition — default 128. Any per-group top-k over a
    // real key domain blows past 128 keys, and the fallback then sorts
    // the ENTIRE input stream per partition: at the ×1000 corpus that
    // silently re-introduced the exact candidate-stream sort
    // BoundedTopK exists to avoid (q_embed_ivf: 239 GB spill, the
    // N×nCells assignment stream × ~85 B/row — measured round 9; with
    // this ceiling the same query spills ~0). 65536 bounds the partial
    // map at keys × bufferSize per task: ~33 MB for top-k's ≤16k+ε-byte
    // heaps — safe at any heap this engine targets. Callers grouping a
    // WIDE sketch (graft_kmv: ~33 KB/buffer) by a high-cardinality key
    // should lower it; every catalog KMV/MG site groups by ≤10 keys.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // Production state store for streaming state (sessionizeTws,
    // heavy hitters, stream-stream joins): RocksDB keeps state off
    // the JVM heap and bounded by compaction; changelog checkpointing
    // makes the per-batch commit an append instead of a full SST
    // upload. Measured (BENCH_STREAM.md ×10): 15k-session state at
    // 1.4–2.2 MB checkpoints, exactly-once across restart.
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // Catalog tables (`saveAsTable`) land under a stable scratch root
    // instead of ./spark-warehouse in whatever cwd the JVM happened to
    // start in. Deployments override per cluster.
    "spark.sql.warehouse.dir" -> (sys.props("java.io.tmpdir") + "/graft-warehouse"),
    // Spark caches generated classes by (class loader, source). With
    // artifact isolation on, every session (each newSession(), each
    // variant clone) runs its tasks on its own executor class loader, so
    // each one compiled every stage again. Off, every session's tasks
    // run on the executor's one default loader and a class compiled for
    // one session serves them all. Safe here: no code adds session
    // artifacts (addArtifact; SparkEngineSpec scans for it) and nothing
    // serves Spark Connect, the two users of per-session loaders.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // Sized from the heap — see codegenCacheEntries above. The key is
    // read from Spark's own entry, so a rename fails the build.
    org.apache.spark.sql.graftbridge.Bridge.CodegenCacheMaxEntries ->
      codegenCacheEntries().toString,
  ) ++
    // Multi-process masters launch bare executor JVMs: they need this
    // app's classes (target/classes via sbt) on their classpath.
    (if (master.startsWith("local-cluster"))
      Seq("spark.executor.extraClassPath" -> sys.props("java.class.path"))
    else Nil) ++
    localDir(env).map("spark.local.dir" -> _) ++
    passThrough(env.get("SPARK_GRAFT_CONF"))

  /** Builds (or returns the live) session. The defaults come from the
    * machine: [[defaultMaster]] and [[defaultCores]].
    */
  def session(master: String = defaultMaster(),
      shufflePartitions: Int = defaultCores()): SparkSession = {
    // FastHashRule (md5 → Md5Fast, the per-row JCA-lookup fix),
    // RangeBinRule and the graft_* SQL functions, on every session.
    val s = conf(master, shufflePartitions)
      .foldLeft(SparkSession.builder().master(master).appName("graft")) {
        case (acc, (k, v)) => acc.config(k, v)
      }
      .withExtensions(new graft.plans.GraftExtensions().apply)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session that plans like `spark` with `overrides` applied, without
    * writing `spark`'s conf (a set/restore there races with queries
    * planned concurrently): a clone, cached per (session, overrides) and
    * remade when `spark`'s conf changes. A fresh clone compiles nothing
    * (artifact isolation is off, see [[conf]]), but it still builds its
    * own session state, analyzer, optimizer and planner with the
    * extension rules, on first use: a small aggregate took 145 ms on a
    * fresh clone per run and 92 ms on the cached clone (median of 40).
    * A clone references its parent, so entries live as long as the JVM;
    * sessions here are long-lived.
    */
  def variant(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val conf = spark.conf.getAll
    variants.synchronized {
      variants.get((spark, overrides)) match {
        case Some((c, clone)) if c == conf => clone
        case _ =>
          val clone = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark, overrides: _*)
          variants((spark, overrides)) = (conf, clone)
          clone
      }
    }
  }

  private val variants = scala.collection.mutable.Map
    .empty[(SparkSession, Seq[(String, String)]), (Map[String, String], SparkSession)]
}
