package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

import graft.sources.SchemaCache

/** Loader for the harness testdata star schema (TESTDATA.md). Schemas of
  * single-file tables come from [[SchemaCache]]; data is read every call.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else SchemaCache.read(spark, "parquet", s"$sfDir/$name.parquet")

  /** Scale-adaptive scan fan-out (round 11; guide §2.2/§6, generalizing
    * the round-9 q_quantile_sketch checkpoint-size pattern): a SMALL
    * table reads as one parquet split — our corpora are single-row-group
    * files, so `spark.sql.files.minPartitionNum` cannot split them — and
    * then every per-row expression evaluated before the first exchange
    * (shingling, md5 fingerprints, tokenization, JSON parsing, partial
    * aggregation) runs in ONE task while the other cores idle. Measured
    * at sf0.1/local[32]: the MinHash signature build dropped 1.16s →
    * 0.44s wall from this one round-robin exchange. A LARGE table
    * already scans as many splits, where the extra exchange would
    * shuffle the whole corpus for nothing — so the fan-out keys off the
    * plan-time size estimate and disappears above the threshold
    * (`spark.graft.scan.fanoutMaxBytes`, default 1 GiB; 0 forces the
    * pass-through production path at any size, the spec/A-B hook).
    * Pure partitioning change: filters and column pruning still push
    * through the Repartition to the scan (verified in the plan), and
    * every catalog query is shuffle-order-free by construction — the
    * physical-invariance sweeps (BENCH_INVARIANCE) pin that values
    * cannot depend on partition layout.
    *
    * APPLIED SELECTIVELY, not at the loader: a full-catalog A/B
    * (ledger `r11-opt-baseline` vs `r11-fanout`) showed the win is
    * real only where the serial pre-exchange work is HEAVY (md5 over
    * shingles, variant parse: −0.3 to −1.0s wall each), while cheap
    * first stages REGRESS — on this box every shuffle-writing or
    * sorting task carries ~45 ms of fixed CPU, so turning a 1-task
    * stage into a 32-task stage costs ~1.5 CPU-s and only pays when
    * the serial stage's compute exceeds that. Call sites are the
    * measured winners; everything else keeps its serial scan.
    */
  def fanOutSmall(spark: SparkSession, df: DataFrame): DataFrame = {
    val maxBytes = spark.conf.getOption("spark.graft.scan.fanoutMaxBytes")
      .map(_.toLong).getOrElse(1L << 30)
    if (maxBytes > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
      df.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    else df
  }

  /** Storage level for a shared-frame checkpoint ([[ckptShared]]),
    * scale-adaptive like `Pipeline12.edgeCkptLevel` (round 11): the
    * in-memory level is the fast path while the frame plausibly fits,
    * DISK_ONLY is the memory-independent level above. The estimate is
    * the SOURCE table's plan-time size × `sizeFactor` — derived-frame
    * estimates above joins/aggregates are unreliable, the scan estimate
    * is not. The default ×10 deserialization factor is the one the
    * edge-checkpoint rule measured (sf0.1: 11.5 MB lineitem parquet →
    * ~115 MB of MEMORY_AND_DISK edge blocks); call sites materializing
    * a frame known to be much SMALLER than the source (aggregated pair
    * outputs) pass a smaller factor so scale does not needlessly force
    * them to disk (round-11 advice). `spark.graft.sharedCkpt.memBudget`
    * overrides the budget in bytes; 0 forces DISK_ONLY everywhere (the
    * memory-sweep hook — a strict `budget > 0` guard, so an empty
    * source cannot sneak back to the memory level under budget 0).
    * Default budget: a quarter of the executor heap when
    * `spark.executor.memory` is set; in local mode (no executor conf)
    * the driver JVM heap IS the executor heap, so
    * `Runtime.getRuntime.maxMemory` is the right fallback there —
    * round-11 advice: in a cluster deploy set the executor conf or the
    * explicit budget, or this fallback would track the wrong process.
    */
  def sharedCkptLevel(source: DataFrame,
      sizeFactor: Double = 10.0): org.apache.spark.storage.StorageLevel = {
    val s = source.sparkSession
    val budget = s.conf.getOption("spark.graft.sharedCkpt.memBudget")
      .map(BigInt(_))
      .getOrElse {
        val heap = s.conf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(Runtime.getRuntime.maxMemory)
        BigInt(heap) / 4
      }
    val est = (BigDecimal(
      source.queryExecution.optimizedPlan.stats.sizeInBytes) * sizeFactor)
      .toBigInt
    if (budget > 0 && est <= budget)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    else org.apache.spark.storage.StorageLevel.DISK_ONLY
  }

  /** Materialize a MULTIPLY-REFERENCED derived frame once (round 11,
    * guide §2.4/§5). Exchange reuse only dedupes identical exchange
    * subtrees: the final aggregate above a reused shuffle re-executes
    * per reference, and pushed-filter/read-schema asymmetry between
    * references (a join side's IsNotNull vs a groupBy's) makes the
    * subtrees non-identical so the whole scan duplicates — q_lift_rules
    * scanned lineitem 3× and ran its distinct 4× before this. The
    * checkpoint runs the subtree once and every reference reads blocks.
    *
    * `source` is the base table the frame derives from, used only for
    * the [[sharedCkptLevel]] size rule. The AQE-off bracket is the
    * q_pagerank pattern: an AQE-planned localCheckpoint reports
    * UnknownPartitioning and downstream keyed consumers would
    * re-shuffle even when the blocks already satisfy their clustering.
    *
    * `spark.graft.sharedCkpt.enabled=false` is the identity
    * pass-through (the A/B and spec hook — same convention as
    * `spark.graft.scan.fanoutMaxBytes=0`). Values never change:
    * materialization is storage-only, and every catalog query is
    * shuffle-order-free by construction (BENCH_INVARIANCE).
    *
    * Apply ONLY where a frame is referenced ≥2× and the references
    * cannot share one exchange — single-reference sites pay the
    * checkpoint write for nothing (the q_common_neighbors lesson:
    * a ckpt can also forfeit a filter pushdown that made one
    * "re-execution" nearly free; measure per site).
    *
    * CONCURRENCY INVARIANT (round-11 advice): the AQE on/off bracket
    * flips a session-wide conf for the duration of the eager
    * checkpoint, so query CONSTRUCTION must be single-threaded per
    * SparkSession — true for every consumer in this repo (Bench,
    * Verify, SparkEntry and the tests construct queries serially; the
    * HTTP parity routes never call this). A future concurrent-planning
    * caller must clone the session (`spark.newSession`) per operation
    * or synchronize around the bracket.
    */
  def ckptShared(source: DataFrame, df: DataFrame,
      sizeFactor: Double = 10.0): DataFrame = {
    val s = df.sparkSession
    val on = s.conf.getOption("spark.graft.sharedCkpt.enabled")
      .forall(_.trim.toBoolean)
    if (!on) df
    else {
      val aqeBefore = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try Ckpt.local(df, sharedCkptLevel(source, sizeFactor))
      finally s.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    * outright (PARQUET_TYPE_ILLEGAL). Read it as raw nanos via the legacy
    * conf and rebuild a micros timestamp. Integer `DIV` — a double-typed
    * division would lose precision above 2^53 ns.
    *
    * The conf is set once per session and left set: a set/unset bracket
    * around the read races against concurrent reads in the same session
    * (the unset strips the flag from under a sibling plan). Setting the
    * same value twice is idempotent, so concurrent first calls are safe,
    * and the flag only changes how TIMESTAMP(NANOS) columns — which Spark
    * otherwise refuses to read at all — surface (as long).
    */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = SchemaCache.read(spark, "parquet", s"$sfDir/events.parquet")
    // Rebuild only when the file really is TIMESTAMP(NANOS) (surfacing as
    // long under the legacy conf); an events file written with a standard
    // timestamp column — e.g. a re-export of our own results — loads as-is.
    // Loader contract: `ts` is always TIMESTAMP (with local time zone),
    // whatever the file's physical representation. NANOS surfaces as long
    // under the legacy conf and is rebuilt; TIMESTAMP_NTZ (e.g. a
    // re-export of our own results) is cast instant-preserving — the
    // session is pinned UTC — so downstream `unix_micros(ts)` arithmetic
    // always resolves.
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          .select(raw.columns.map(col).toSeq: _*)
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .select(raw.columns.map(col).toSeq: _*)
    }
  }
}
