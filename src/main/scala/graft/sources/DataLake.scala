package graft.sources

import java.nio.file.{Files, InvalidPathException, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.DatasetLoadException

/** Directory-of-files catalog: logical dataset id → physical file by the
  * convention `{baseDir}/{id}.csv` (reference main.rs:36-39) — extended to
  * also resolve `{id}.parquet` (the harness testdata format, TESTDATA.md).
  *
  * Stateless like the reference (main.rs:43) in what it returns: every
  * `load` call re-reads the DATA from disk; callers that need
  * request-lifetime reuse should `.cache()` the returned DataFrame
  * themselves. Only the schema is remembered ([[SchemaCache]]): it is
  * re-inferred when the file or any inference input changes (format,
  * reader options, the session's `spark.sql.*` confs), and a directory is
  * never cached. Known limit: a rewrite to the same size, on the same
  * inode, within one filesystem timestamp tick is not detected.
  *
  * Scale note: at 100 TB the "file" is a directory of parquet parts (or a
  * table root); `spark.read.parquet(dir)` handles that transparently and
  * infers on every call. Parquet is the scale path — CSV exists for
  * reference-convention parity.
  */
final class DataLake(spark: SparkSession, baseDir: String) {

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
        SchemaCache.read(spark, "parquet", parquetPath(datasetId).toString)
      else
        SchemaCache.read(spark, "csv", datasetPath(datasetId).toString, DataLake.CsvOptions)
    } catch {
      case e: Throwable =>
        throw DatasetLoadException(s"failed to load dataset '$datasetId': ${e.getMessage}", e)
    }
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
}

/** File-keyed schema cache under [[DataLake.load]] and [[graft.Tables]].
  * Inferring a schema costs Spark jobs before any real work: CSV
  * `inferSchema` scans the whole file, parquet reads the footer in a job.
  * A hit reads with the same format and options plus `.schema(cached)`,
  * so no inference job runs; a miss reads exactly as an uncached call and
  * stores `df.schema`. Only the `StructType` is kept, never data.
  *
  * The key is everything that shapes inference: format, reader options,
  * the file's real path, `fileKey` (inode), size and mtime, and the
  * session's `spark.sql.*` confs (e.g. `spark.sql.timestampType`, or the
  * `nanosAsLong` flag `Tables` sets for events). A changed input is a new
  * key, so a stale schema is never served. One entry per real path,
  * replaced when its key changes: memory is bounded by the number of
  * files read. Only regular files are cached — a directory's part file
  * can be rewritten without the directory's mtime moving, so directories
  * (Spark- and ScaleGen-written tables) and unreadable paths always read
  * uncached. No lock is held while Spark runs; concurrent cold misses
  * each infer, and the last store wins.
  *
  * Kept in this file so inference jobs on a miss keep a `DataLake.scala`
  * call site, which per-layer tracing (perfbench) attributes to sources.
  */
object SchemaCache {
  private final case class Key(format: String, options: Seq[(String, String)],
      fileKey: AnyRef, size: Long, mtime: FileTime, sqlConf: Seq[(String, String)])

  private val entries = new ConcurrentHashMap[Path, (Key, StructType)]()

  def read(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    regularFile(path) match {
      case None => reader.load(path)
      case Some((real, attrs)) =>
        val key = Key(format, options.toSeq.sorted, attrs.fileKey, attrs.size,
          attrs.lastModifiedTime,
          spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted)
        Option(entries.get(real)).filter(_._1 == key) match {
          case Some((_, schema)) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            entries.put(real, (key, df.schema))
            df
        }
    }
  }

  private def regularFile(path: String): Option[(Path, BasicFileAttributes)] =
    try {
      val real = Paths.get(path).toRealPath()
      Some(real -> Files.readAttributes(real, classOf[BasicFileAttributes]))
        .filter(_._2.isRegularFile)
    } catch { case _: java.io.IOException | _: InvalidPathException => None }
}
