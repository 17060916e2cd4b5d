package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.Streams

/** Streaming state/throughput benchmark (round 8): runs the
  * transformWithState sessionizer and the watermarked windowed
  * aggregation over a (ScaleGen-grown) events corpus with the RocksDB
  * state store, ACROSS a checkpoint restart, and reports:
  *
  *  - rows/s per stage (wall-clock over the AvailableNow drain);
  *  - state rows + state memory from the engine's own
  *    StateOperatorProgress (numRowsTotal / memoryUsedBytes — for
  *    RocksDB, memory is the loaded working set);
  *  - checkpoint directory size on disk (the durable state bound);
  *  - restart evidence: stage B resumes from stage A's checkpoint and
  *    must NOT reprocess stage A's files (input rows ≈ the new half),
  *    with state carried over (sessions spanning the split close
  *    correctly — counted against a batch replay of the whole corpus).
  *
  * The input is staged TIME-ORDERED: one range-partitioned sorted
  * rewrite of the corpus, fed file-by-file in time order (explicit
  * increasing mtimes pin the FileStreamSource's cross-batch order).
  * Raw ScaleGen part files would interleave copies that all span the
  * same time range, feeding a hot user's events out of time order
  * across micro-batches — the session cross-check below would then
  * falsely indict the state store on any skew/multi-copy corpus
  * (sessionizeTws sorts only within a batch; a real event stream
  * arrives roughly time-ordered, which is what this stages). The two
  * halves therefore split the corpus in TIME, so sessions genuinely
  * span the restart boundary.
  *
  * Each stage drains with Trigger.AvailableNow in bounded micro-batches
  * (maxFilesPerTrigger) so the state store actually cycles per batch
  * instead of swallowing the corpus in one pass. Progress is summed by
  * a StreamingQueryListener, NOT `q.recentProgress` — that ring buffer
  * keeps only the last `spark.sql.streaming.numRecentProgressUpdates`
  * (default 100) entries, silently undercounting input rows once a
  * drain exceeds 100 micro-batches.
  *
  * The session comes from [[SparkEngine.session]], which owns the
  * RocksDB/changelog/nanosAsLong pins — this benchmark measures the
  * production session config, not a private copy of it.
  *
  * Usage: `runMain graft.BenchStream <eventsParquetDir> <workDir>`
  */
object BenchStream {

  private def dirSize(p: java.nio.file.Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum
    finally s.close()
  }

  private def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    if (Files.isRegularFile(dir)) return Seq(dir) // single-file corpus
    val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    val ls = Files.list(dir)
    // isRegularFile matters: an sf DIRECTORY's children are table
    // directories named events.parquet etc. — those are not part files.
    try ls.iterator().forEachRemaining(p =>
      if (p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
        buf += p)
    finally ls.close()
    buf.sortBy(_.getFileName.toString).toSeq
  }

  /** Sums per-batch progress across a whole drain. Events ride the
    * shared LiveListenerBus, so a flush after awaitTermination makes
    * the totals exact.
    */
  private final class ProgressListener extends StreamingQueryListener {
    val inRows = new java.util.concurrent.atomic.AtomicLong
    val batches = new java.util.concurrent.atomic.AtomicLong
    @volatile var lastState: Option[org.apache.spark.sql.streaming.StateOperatorProgress] = None
    def reset(): Unit = { inRows.set(0); batches.set(0); lastState = None }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      inRows.addAndGet(e.progress.numInputRows)
      batches.incrementAndGet()
      if (e.progress.stateOperators.nonEmpty)
        lastState = Some(e.progress.stateOperators.head)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val GapMs = 30L * 60 * 1000

  def main(args: Array[String]): Unit = {
    // absolute first: a bare relative path ("events.parquet") has a
    // null getParent, which the Tables base-dir lookup below needs.
    val src = Paths.get(args(0)).toAbsolutePath.normalize()
    val work = Paths.get(args(1)).toAbsolutePath.normalize()
    val spark = SparkEngine.session()
    import spark.implicits._
    val listener = new ProgressListener
    spark.streams.addListener(listener)

    // ---- stage the input: time-ordered rewrite, two time halves ------
    if (Files.exists(work)) {
      val w = Files.walk(work)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
    val input = work.resolve("input")
    Files.createDirectories(input)
    val srcDf = Tables(spark, src.getParent.toString, "events")
    val staged = work.resolve("staged")
    val nFiles = math.max(16, partFiles(src).size)
    srcDf.repartitionByRange(nFiles, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(staged.toString)
    val sorted = partFiles(staged) // range files: name order == time order
    require(sorted.size >= 2, s"need >= 2 staged files, got ${sorted.size}")
    val (halfA, halfB) = sorted.splitAt(sorted.size / 2)
    var mtime = System.currentTimeMillis() - 86400000L
    def stage(files: Seq[java.nio.file.Path]): Unit = files.foreach { f =>
      val dst = input.resolve(f.getFileName)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
      mtime += 1000 // strictly increasing: FileStreamSource batch order
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }

    def runStage(tag: String, ckpt: String)(
        start: => StreamingQuery): (Long, Long, Long, Double) = {
      listener.reset()
      val q = start
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.CoreBridge.flushListenerBus(spark.sparkContext)
      val inRows = listener.inRows.get
      val stateRows = listener.lastState.map(_.numRowsTotal).getOrElse(-1L)
      val stateMem = listener.lastState.map(_.memoryUsedBytes).getOrElse(-1L)
      println(f"[stream] $tag batches=${listener.batches.get} inputRows=$inRows " +
        f"wall=$wall%.1fs rate=${inRows / wall}%.0f rows/s " +
        f"stateRows=$stateRows stateMemMB=${stateMem / 1e6}%.1f " +
        f"ckptMB=${dirSize(work.resolve(ckpt)) / 1e6}%.1f")
      (inRows, stateRows, stateMem, wall)
    }

    def sessionStage(tag: String): (Long, Long, Long, Double) =
      runStage(tag, "ckpt") {
        val ev = Streams.eventsStream(spark, input.toString,
            options = Map("maxFilesPerTrigger" -> "4"))
          .select(col("user_id"), col("ts"), col("value"))
          .as[Streams.SessionEvent]
        Streams.sessionizeTws(ev, gapMs = GapMs)
          .writeStream
          .format("parquet")
          .option("path", work.resolve("out").toString)
          .option("checkpointLocation", work.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }

    stage(halfA)
    val (inA, _, _, _) = sessionStage("sessionize-A")
    // restart: same checkpoint, second (time) half of the files appended
    stage(halfB)
    val (inB, stRowsB, _, _) = sessionStage("sessionize-B")

    // Evidence the restart did not replay stage A:
    val total = srcDf.count()
    println(f"[stream] corpus=$total stageA=$inA stageB=$inB replayed=${inA + inB - total}")

    // Cross-check closed+open sessions against a batch replay. The gap
    // rule mirrors sessionizeTws EXACTLY: ts.getTime is millisecond
    // resolution, so the replay compares unix_millis deltas — a
    // microsecond-resolution rule here would count boundaries the
    // ms-truncated stream legitimately does not (events is
    // TIMESTAMP(NANOS) upstream).
    val streamed = spark.read.parquet(work.resolve("out").toString).count()
    val batchSessions = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      srcDf.withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("gap", when(col("prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev")) > GapMs, 1)
          .otherwise(0))
        .agg(sum(col("gap"))).head().getLong(0)
    }
    println(s"[stream] sessions: streamedClosed=$streamed batchTotal=$batchSessions " +
      s"open(still in state)=$stRowsB check=${streamed + stRowsB == batchSessions}")

    // ---- windowed aggregation stage ---------------------------------
    runStage("windowed", "ckpt_win") {
      val ev = Streams.eventsStream(spark, input.toString,
        options = Map("maxFilesPerTrigger" -> "4"))
      Streams.windowedCounts(ev, watermark = "10 minutes", window_ = "5 minutes")
        .writeStream
        .format("noop")
        .outputMode("update")
        .option("checkpointLocation", work.resolve("ckpt_win").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    spark.stop()
  }
}
