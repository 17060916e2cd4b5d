package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props — TESTDATA.md).
  *
  * The reference has no streaming (SURVEY.md §2 declares the category
  * absent); this is the Spark-native extension: file/rate sources →
  * watermarked event-time transforms → sinks. Everything is expressed on
  * an unbounded DataFrame, so the same code runs micro-batch or
  * continuous, locally or on a cluster — state lives in the state store,
  * partitioned by the grouping key.
  */
object Streams extends org.apache.spark.internal.Logging {

  /** The events schema as a streaming source schema (ts already micros —
    * streaming reads go through [[eventsStream]] which normalizes).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // raw nanos (parquet TIMESTAMP(NANOS))
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based stream over an events directory; ts normalized to a real
    * timestamp column like the batch path (Tables.events), whatever the
    * files' physical representation. A streaming source needs its schema
    * up front, so the directory is probed once with a batch footer read
    * at stream-definition time (files appended later must keep the same
    * physical type — the standard file-stream contract). Mirrors the
    * three-representation tolerance of Tables.events: raw NANOS (long),
    * micros TIMESTAMP, micros TIMESTAMP_NTZ.
    */
  def eventsStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    // Probe failures are narrowed to "directory not readable / no footer
    // yet" (AnalysisException covers both empty-dir and missing-path in
    // Spark's reader). Anything else — a corrupt footer, an IO error — is
    // a real fault and must surface, NOT silently default the physical
    // type: a stream defined before its first file lands would otherwise
    // assume LongType and misread TIMESTAMP files appended later. The
    // assumption is logged so the operator of an empty-dir stream can see
    // which contract the source locked in.
    val probed =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          log.warn(s"eventsStream: could not probe $dir (${e.getMessage.linesIterator.next()}); " +
            "assuming raw-nanos LongType ts — files appended later MUST match")
          LongType
      }
    val schema = StructType(eventsSchema.map {
      case f if f.name == "ts" => f.copy(dataType = probed)
      case f => f
    })
    val raw = spark.readStream.schema(schema).options(options).parquet(dir)
    probed match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling-window counts/sums per event_type with a watermark: the
    * canonical streaming aggregation. Late data beyond the watermark is
    * dropped; state is bounded by (watermark horizon / window) ×
    * #event_types.
    */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, n: Long, total: Double)
  final case class UserSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Sessionization on the Spark 4 arbitrary-state v2 API
    * (`transformWithState` + `StatefulProcessor`): state is one small
    * ValueState record per active user, and a session closes when that
    * user's next event arrives more than `gapMs` after the last one —
    * an idle session stays open until a later event reveals the gap.
    * Requires the RocksDB state store provider (set
    * `spark.sql.streaming.stateStore.providerClass`).
    */
  def sessionizeTws(events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The [[sessionizeTws]] state machine: one ValueState record per user,
    * closed sessions emitted when a gap exceeds `gapMs`.
    */
  private class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, UserSession] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[SessionEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserSession] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var s = if (st.exists()) st.get()
        else SessionState(Long.MaxValue, Long.MinValue, 0, 0.0)
      val closed = Seq.newBuilder[UserSession]
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (s.n > 0 && t - s.lastSeen > gapMs) {
          closed += UserSession(userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.lastSeen), s.n, s.total)
          s = SessionState(t, t, 1, e.value)
        } else {
          s = SessionState(math.min(s.start, t), math.max(s.lastSeen, t),
            s.n + 1, s.total + e.value)
        }
      }
      if (s.n > 0) st.update(s) else st.clear()
      closed.result().iterator
    }
  }
}
