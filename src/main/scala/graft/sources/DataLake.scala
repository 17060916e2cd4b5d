package graft.sources

import java.nio.file.{Files, InvalidPathException, Path, Paths}
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{Ckpt, DatasetLoadException}

/** Directory-of-files catalog: logical dataset id → physical file by the
  * convention `{baseDir}/{id}.csv` (reference main.rs:36-39) — extended to
  * also resolve `{id}.parquet` (the harness testdata format, TESTDATA.md).
  *
  * Responses equal a fresh read. The reference re-reads the file on every
  * call (main.rs:43); this lake keeps the materialised frame of a
  * regular file that is loaded again unchanged, one per real path, while
  * the file stays the same. The entry key is [[SchemaCache]]'s
  * (format, reader options, real path, inode, size, mtime, ctime, the
  * session's `spark.sql.*` confs). A `load` whose key matches returns the
  * stored frame after one stat, with no schema read and no Spark job.
  *
  * The first load of a key reads the file as an uncached read would and
  * only marks the key seen: a one-off load keeps the lazy scan, in which
  * a preview reads the first partition and a regression its two columns.
  * The second load of the same key materialises the whole file with the
  * one checkpoint primitive, `Ckpt.local`, at the level of
  * [[DataLake.level]]. The frame is a `LogicalRDD` over the checkpoint's
  * blocks, and no fresh `spark.read` plan can match it, so Spark's
  * CacheManager never serves a later read from it. (A `.cache()`d file
  * scan would be matched by plan, and a same-schema rewrite keeps the
  * plan: stale rows.)
  *  - Level: deserialized rows (`MEMORY_AND_DISK`) while the file ×
  *    [[DataLake.DeserializedFactor]] fits the budget, so a request reads
  *    rows without decoding each one again; else serialized blocks
  *    (`MEMORY_AND_DISK_SER`, about a quarter of the size) while the file
  *    × [[DataLake.SizeFactor]] fits.
  *  - One partition: a file whose scan is one partition (any CSV up to
  *    about `spark.sql.files.openCostInBytes`, 4 MB) is stored as
  *    `coalesce(1)` with its layout kept, so the frame reports
  *    `SinglePartition`. A regression's global aggregate and an unlimited
  *    sort then plan with no exchange: one job and no shuffle per request.
  *    A file that scans as several partitions keeps them, so a big file
  *    is never funnelled into one task.
  *  - Concurrent loads that admit one path run one materialisation; the
  *    others wait for it.
  *  - The file is stat'ed before and after the read, and the frame is
  *    kept only when the two agree. A frame read across a rewrite still
  *    answers its own caller, as an uncached read would.
  *  - A frame is admitted while its estimate (file bytes × the factor of
  *    its level) fits `budgetBytes`; least-recently-used entries are
  *    evicted until the resident estimate fits again; an evicted file
  *    is admitted again on its second load. A file that does not fit on
  *    its own is read uncached on every call. The budget is `Ckpt.budget`, a quarter of the heap;
  *    only this package's tests pass another.
  *  - Evicting or invalidating an entry only drops the reference; Spark's
  *    ContextCleaner frees the blocks once the requests still reading the
  *    frame let go. An eager unpersist would fail such a request with
  *    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
  *  - Directories and unreadable paths are read uncached, as in
  *    [[SchemaCache]]. A path whose file was deleted or replaced by a
  *    directory drops that file's entry and seen key on its next load.
  *
  * Known limit: a rewrite on the same inode, to the same size, within one
  * filesystem timestamp tick of the file's previous change leaves mtime
  * and ctime both unchanged and is not detected. Restoring an old mtime
  * after a rewrite (`cp -p`, `rsync -t`, `touch -d`) moves ctime, so it
  * is detected.
  *
  * Scale note: at 100 TB the "file" is a directory of parquet parts (or a
  * table root); `spark.read.parquet(dir)` handles that transparently and
  * infers on every call. Parquet is the scale path — CSV exists for
  * reference-convention parity.
  */
final class DataLake private[sources] (spark: SparkSession, baseDir: String,
    budgetBytes: => BigInt) extends Logging {

  def this(spark: SparkSession, baseDir: String) = this(spark, baseDir, Ckpt.budget(spark))

  // On first use: reading the session's conf builds its session state,
  // which would otherwise move that cost into the shell's start-up.
  private lazy val budget = budgetBytes

  /** `{baseDir}/{id}.csv` — reference main.rs:36-39. */
  def datasetPath(datasetId: String): Path = Paths.get(baseDir, s"$datasetId.csv")

  def parquetPath(datasetId: String): Path = Paths.get(baseDir, s"$datasetId.parquet")

  /** Containment invariant: a dataset id must resolve to a file UNDER
    * baseDir once normalized. Ids with subdirectories ("2024/jan") are a
    * legitimate lake layout; ids that traverse OUT ("../../etc/passwd")
    * are not — they'd turn any caller that forwards untrusted ids into
    * an arbitrary-file read. Checked on every load; [[datasetExists]]
    * reports escaping ids as absent.
    */
  private val normalizedBase = Paths.get(baseDir).toAbsolutePath.normalize
  private def contained(p: Path): Boolean =
    p.toAbsolutePath.normalize.startsWith(normalizedBase)

  /** Existence probe (reference main.rs:55-57). True if either format exists. */
  def datasetExists(datasetId: String): Boolean =
    (contained(datasetPath(datasetId)) && Files.exists(datasetPath(datasetId))) ||
      (contained(parquetPath(datasetId)) && Files.exists(parquetPath(datasetId)))

  /** Eager-equivalent load (reference main.rs:44-52): header row, inferred
    * schema. Parquet preferred when present (typed, columnar, prunable);
    * CSV fallback matches the reference convention. Load failure →
    * [[DatasetLoadException]] (500-equivalent, main.rs:114).
    */
  def load(datasetId: String): DataFrame = {
    if (!contained(datasetPath(datasetId)) || !contained(parquetPath(datasetId)))
      throw DatasetLoadException(
        s"dataset id resolves outside the lake base dir: '$datasetId'", null)
    try {
      if (Files.exists(parquetPath(datasetId)))
        frame("parquet", parquetPath(datasetId).toString, Map.empty)
      else
        frame("csv", datasetPath(datasetId).toString, DataLake.CsvOptions)
    } catch {
      case e: Throwable =>
        throw DatasetLoadException(s"failed to load dataset '$datasetId': ${e.getMessage}", e)
    }
  }

  /** One frame cache entry; `frame` completes when its one fill ends. */
  private final class Slot(val key: SchemaCache.Key, val bytes: BigInt) {
    val frame = new CompletableFuture[DataFrame]
  }

  /** Access-ordered, so iteration starts at the least recently used. */
  private val slots = new java.util.LinkedHashMap[Path, Slot](16, 0.75f, true)
  private var resident = BigInt(0)
  /** The key of each file's last uncached load; the next load with the
    * same key admits the file. One entry per real path, as in SchemaCache.
    */
  private val seen = new java.util.HashMap[Path, SchemaCache.Key]()
  /** The real path each requested path last resolved to, so that a path
    * that no longer stats as a regular file (deleted, or replaced by a
    * directory) can drop its entry and its seen key.
    */
  private val resolved = new java.util.HashMap[String, Path]()

  private def frame(format: String, path: String, options: Map[String, String]): DataFrame = {
    def stat() = SchemaCache.stat(spark, format, path, options)
    def uncached() = SchemaCache.read(spark, format, path, options)
    stat().map { case (real, key) => (real, key, DataLake.level(key.size, budget)) } match {
      case Some((real, key, Some((level, factor)))) =>
        val bytes = (BigDecimal(key.size) * factor).toBigInt
        slots.synchronized { resolved.put(path, real); lookup(real, key, bytes) } match {
          case None => uncached()
          case Some((slot, fill)) =>
            if (fill)
              try {
                val scan = uncached()
                val df =
                  if (scan.queryExecution.toRdd.getNumPartitions == 1)
                    Ckpt.local(scan.coalesce(1), level, keepLayout = true)
                  else Ckpt.local(scan, level)
                if (!stat().contains((real, key))) forget(real, slot)
                slot.frame.complete(df)
              } catch {
                case e: Throwable =>
                  forget(real, slot)
                  slot.frame.completeExceptionally(e)
              }
            try slot.frame.join()
            catch { case e: CompletionException => throw e.getCause }
        }
      case Some((real, _, None)) =>
        // Over the budget on its own; drop the entry it had while it fit.
        slots.synchronized {
          resolved.put(path, real)
          Option(slots.remove(real)).foreach(dropped(real, _, "invalidate"))
        }
        uncached()
      case None =>
        // A directory or an unreadable path; forget the file it named.
        slots.synchronized {
          Option(resolved.remove(path)).foreach { real =>
            Option(slots.remove(real)).foreach(dropped(real, _, "invalidate"))
            seen.remove(real)
          }
        }
        uncached()
    }
  }

  /** Estimated bytes of the resident frames, and the files seen once. */
  private[sources] def footprint: (BigInt, Int) = slots.synchronized((resident, seen.size))

  /** The entry for `key`, and whether this caller fills it; `None` on the
    * first load of `key`, which only marks it seen. A new entry counts
    * `bytes`. A stale entry for `real` is dropped either way. Caller holds
    * the lock on `slots`.
    */
  private def lookup(real: Path, key: SchemaCache.Key, bytes: BigInt): Option[(Slot, Boolean)] =
    Option(slots.get(real)) match {
      case Some(hit) if hit.key == key => Some((hit, false))
      case stale =>
        stale.foreach { old => slots.remove(real); dropped(real, old, "invalidate") }
        if (seen.remove(real) != key) { seen.put(real, key); None }
        else {
          val s = new Slot(key, bytes)
          slots.put(real, s)
          resident += s.bytes
          logInfo(s"[lake] admit $real est=${s.bytes}B resident=${resident}B")
          val lru = slots.entrySet.iterator
          while (resident > budget && lru.hasNext) {
            val e = lru.next()
            if (e.getValue ne s) { lru.remove(); dropped(e.getKey, e.getValue, "evict") }
          }
          Some((s, true))
        }
    }

  /** Drops `slot` if it is still the entry for `real`. */
  private def forget(real: Path, slot: Slot): Unit = slots.synchronized {
    if (slots.remove(real, slot)) dropped(real, slot, "invalidate")
  }

  /** Accounts for a slot already unlinked from `slots`; caller holds the lock. */
  private def dropped(real: Path, slot: Slot, why: String): Unit = {
    resident -= slot.bytes
    logInfo(s"[lake] $why $real est=${slot.bytes}B resident=${resident}B")
  }
}

object DataLake {
  /** Header row and inferred schema, in the RFC4180 dialect of the
    * reference's polars CsvReader (main.rs:44-52): a quote inside a quoted
    * field is doubled (""), not backslash-escaped. Spark's default escape
    * is \; escape==quote restores the standard dialect.
    */
  val CsvOptions: Map[String, String] =
    Map("header" -> "true", "inferSchema" -> "true", "escape" -> "\"")

  /** Resident bytes of a cached frame per byte of its file, at each
    * level, rounded up from perfbench's trips lake (a 2.6 MB CSV and its
    * 1.3 MB parquet twin). Deserialized blocks took 2.8× (CSV) and 5.8×
    * (parquet) the file; serialized, compressed blocks took 0.63× and 1.29×.
    */
  val DeserializedFactor: Double = 6.0
  val SizeFactor: Double = 2.0

  /** The level a file of `fileBytes` is cached at, with the factor of its
    * resident estimate: deserialized (`MEMORY_AND_DISK`) while the file ×
    * [[DeserializedFactor]] fits `budget`, else serialized
    * (`MEMORY_AND_DISK_SER`) while the file × [[SizeFactor]] fits; `None`
    * reads the file uncached. Each test is the pure `Ckpt.sized` rule.
    */
  private[sources] def level(fileBytes: Long, budget: BigInt): Option[(StorageLevel, Double)] =
    Seq(StorageLevel.MEMORY_AND_DISK -> DeserializedFactor,
      StorageLevel.MEMORY_AND_DISK_SER -> SizeFactor).find { case (_, factor) =>
      Ckpt.sized(fileBytes, factor, budget) == StorageLevel.MEMORY_AND_DISK
    }
}

/** File-keyed schema cache under [[DataLake.load]] and [[graft.Tables]].
  * Inferring a schema costs Spark jobs before any real work: CSV
  * `inferSchema` scans the whole file, parquet reads the footer in a job.
  * A hit reads with the same format and options plus `.schema(cached)`,
  * so no inference job runs; a miss reads exactly as an uncached call and
  * stores `df.schema`. Only the `StructType` is kept, never data.
  *
  * The key is everything that shapes inference: format, reader options,
  * the file's real path, `fileKey` (inode), size, mtime and ctime (the
  * `unix:ctime` attribute, where that view exists), and the session's
  * `spark.sql.*` confs (e.g. `spark.sql.timestampType`, or the
  * `nanosAsLong` flag `Tables` sets for events). A changed input is a new
  * key, so a stale schema is never served. ctime closes the
  * restored-mtime hole: a same-size rewrite whose old mtime is put back
  * (`cp -p`, `rsync -t`, `touch -d`) still moves ctime. The file is
  * stat'ed again after inference, and the schema is stored only when the
  * two stats agree. Known limit: a same-size rewrite on the same inode
  * within one filesystem timestamp tick of the previous change leaves
  * every stat field equal and is not detected.
  *
  * One entry per real path, replaced when its key changes: memory is
  * bounded by the number of files read. Only regular files are cached —
  * a directory's part file can be rewritten without the directory's
  * mtime moving, so directories (Spark- and ScaleGen-written tables) and
  * unreadable paths always read uncached. No lock is held while Spark
  * runs; concurrent cold misses each infer, and the last store wins.
  *
  * Kept in this file so inference jobs on a miss keep a `DataLake.scala`
  * call site, which per-layer tracing (perfbench) attributes to sources.
  */
object SchemaCache {
  /** Maps compare equal whatever their order, so neither map is sorted. */
  private[sources] final case class Key(format: String, options: Map[String, String],
      fileKey: AnyRef, size: Long, mtime: AnyRef, ctime: AnyRef,
      sqlConf: Map[String, String])

  private val entries = new ConcurrentHashMap[Path, (Key, StructType)]()

  def read(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    stat(spark, format, path, options) match {
      case None => reader.load(path)
      case Some((real, key)) =>
        Option(entries.get(real)).filter(_._1 == key) match {
          case Some((_, schema)) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            if (stat(spark, format, path, options).contains((real, key)))
              entries.put(real, (key, df.schema))
            df
        }
    }
  }

  /** The real path and cache key of a regular file, in one stat; `None`
    * for a directory or an unreadable path.
    */
  private[sources] def stat(spark: SparkSession, format: String, path: String,
      options: Map[String, String]): Option[(Path, Key)] =
    try {
      val real = Paths.get(path).toRealPath()
      val a =
        try Files.readAttributes(real, "unix:isRegularFile,fileKey,size,lastModifiedTime,ctime")
        catch { case _: UnsupportedOperationException =>
          Files.readAttributes(real, "isRegularFile,fileKey,size,lastModifiedTime") }
      if (a.get("isRegularFile") != java.lang.Boolean.TRUE) None
      else Some(real -> Key(format, options, a.get("fileKey"),
        a.get("size").asInstanceOf[java.lang.Long], a.get("lastModifiedTime"), a.get("ctime"),
        spark.conf.getAll.filter(_._1.startsWith("spark.sql."))))
    } catch { case _: java.io.IOException | _: InvalidPathException => None }
}
