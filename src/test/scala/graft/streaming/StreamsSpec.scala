package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("windowed counts with watermark over a file stream") {
    val dir = Files.createTempDirectory("events").toString
    // raw shape: ts as nanos (mirrors the parquet TIMESTAMP(NANOS) files)
    Seq(
      (1L, 60_000_000_000L, 10L, "click", 1.0, "{}"),
      (2L, 70_000_000_000L, 10L, "click", 2.0, "{}"),
      (3L, 400_000_000_000L, 11L, "buy", 5.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dir)

    val q = Streams.windowedCounts(Streams.eventsStream(spark, dir), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("event_type", "n", "total_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("buy", 1L, 5.0)))
    } finally q.stop()
  }

  test("eventsStream normalizes every parquet timestamp representation") {
    // The round-4 driver testdata switched events.ts from NANOS to
    // micros-NTZ and broke the batch loader; pin the streaming loader
    // against all three physical shapes.
    import org.apache.spark.sql.functions.{col, timestamp_micros, lit}
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val us = 60_000_000L // 1970-01-01T00:01:00Z
    def fixture(f: org.apache.spark.sql.Column): String = {
      val dir = Files.createTempDirectory("events_repr").toString
      Seq((1L, 10L, "click", 1.0, "{}"))
        .toDF("event_id", "user_id", "event_type", "value", "props")
        .withColumn("ts", f)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val dirs = Seq(
      "nanos-long" -> fixture(lit(us * 1000)),
      "micros-ltz" -> fixture(timestamp_micros(lit(us))),
      "micros-ntz" -> fixture(timestamp_micros(lit(us)).cast(TimestampNTZType)))
    dirs.foreach { case (label, dir) =>
      val st = Streams.eventsStream(spark, dir)
      assert(st.schema("ts").dataType == TimestampType, label)
      val q = st.writeStream.format("memory")
        .queryName(s"repr_${label.replace('-', '_')}").start()
      try {
        q.processAllAvailable()
        val got = spark.table(s"repr_${label.replace('-', '_')}")
          .select(org.apache.spark.sql.functions.unix_micros(col("ts")))
          .as[Long].collect().toSeq
        assert(got == Seq(us), s"$label: $got")
      } finally q.stop()
    }
  }

  test("checkpointed restart resumes from committed offsets, no duplicates") {
    val src = Files.createTempDirectory("ck_src").toString
    val out = Files.createTempDirectory("ck_out").toString
    val chk = Files.createTempDirectory("ck_chk").toString
    // Append part-files into the source ROOT — the file stream source
    // lists files there, not in nested batch directories.
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.map { case (id, t) => (id, t, 10L, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)
    def run() = Streams.eventsStream(spark, src)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .start()

    write(Seq((1L, 60_000_000_000L), (2L, 61_000_000_000L)))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() === 2)

    // New file lands while the query is DOWN; the restart must pick up
    // exactly the delta — the committed offsets live in the checkpoint,
    // so already-ingested files are not replayed into the sink.
    write(Seq((3L, 62_000_000_000L)))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 3, "restart must not duplicate batch 1")
    assert(back.select("event_id").distinct().count() === 3)
  }

  test("exactly-once windowed aggregation across a mid-stream kill/restart") {
    // End-to-end: eventsStream → watermarked tumbling window → parquet
    // sink in APPEND mode, killed while unflushed window state is held,
    // restarted from the checkpoint, then compared window-for-window to
    // a BATCH replay of the same files. Asserts the full exactly-once
    // triangle: no duplicate windows, no lost windows, and cross-restart
    // state merge (a window fed by pre-kill AND post-restart events must
    // emit ONE row with the merged totals).
    val src = Files.createTempDirectory("eo_src").toString
    val out = Files.createTempDirectory("eo_out").toString
    val chk = Files.createTempDirectory("eo_chk").toString
    val min = 60_000_000_000L // one minute in nanos
    def write(rows: Seq[(Long, Long, Double)]): Unit =
      rows.map { case (id, t, v) => (id, t, 10L, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)
    def run() = Streams.windowedCounts(
        Streams.eventsStream(spark, src), "10 minutes", "5 minutes")
      .writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", chk)
      .start()

    // Batch A: three early windows + one event at minute 40 (also the
    // seed of a window that batch B will extend across the restart).
    // After this single trigger the watermark is 40−10=30min, but the
    // finalized windows only flush on the NEXT trigger — which never
    // comes before the kill. The kill point therefore holds all four
    // windows as unflushed state.
    write(Seq((1L, 0L, 1.0), (2L, 2 * min, 2.0), (3L, 6 * min, 0.5),
      (4L, 11 * min, 4.0), (5L, 40 * min, 1.5)))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()

    // Batch B lands while the query is DOWN: more events into the
    // minute-40 window (cross-restart merge) plus a sentinel at minute
    // 70 that advances the watermark to 60 on the restart's first
    // trigger. Batch C then forces the follow-up trigger that flushes
    // everything ending ≤ 60.
    write(Seq((6L, 41 * min, 2.0), (7L, 44 * min, 0.5), (8L, 70 * min, 8.0)))
    val q2 = run()
    try {
      q2.processAllAvailable()
      write(Seq((9L, 100 * min, 16.0)))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(out)
      .select("w_start", "event_type", "n", "total_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    // No duplicate windows (the append sink saw each finalized window once).
    assert(got.map(r => (r._1, r._2)).distinct.size === got.size,
      s"duplicate windows after restart: $got")
    // Batch replay of the SAME files. Two bounds bracket the
    // trigger-count variance (how many follow-up triggers fired before
    // stop decides whether the minute-70 window flushed):
    //  - every emitted window must match the batch replay EXACTLY
    //    (⊆ windows ending before the max possible watermark, 90 min);
    //  - every window the stream provably finalized (ending ≤ the 60-min
    //    watermark established before the last emitting trigger) must be
    //    present — nothing lost across the kill.
    // Values are binary-exact doubles, so sums are order-independent
    // across the streaming/batch partial-agg orders.
    val batch = spark.read.parquet(src)
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts DIV 1000")))
    def replayUpTo(minutes: Int): Set[(java.sql.Timestamp, String, Long, Double)] =
      Streams.windowedCounts(batch, "10 minutes", "5 minutes")
        .filter(org.apache.spark.sql.functions.col("w_end") <=
          ts(minutes.toLong * 60 * 1000))
        .select("w_start", "event_type", "n", "total_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val maxPossible = replayUpTo(90)
    val required = replayUpTo(60)
    assert(got.toSet.subsetOf(maxPossible),
      s"stream emitted a window the batch replay disowns:\n got=$got\n max=$maxPossible")
    assert(required.subsetOf(got.toSet),
      s"finalized window lost across the restart:\n got=$got\n required=$required")
    // The merged minute-40 window carries events from BOTH sides of the
    // restart: 1.5 (pre-kill) + 2.0 + 0.5 (post-restart) in one row.
    assert(got.exists(r => r._3 == 3L && r._4 == 4.0),
      s"cross-restart window must merge to n=3 total=4.0: $got")
  }

  test("transformWithState sessionization matches the fMGWS semantics") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Streams.SessionEvent]
      ms.addData(
        Streams.SessionEvent(1L, ts(0), 1.0),
        Streams.SessionEvent(1L, ts(1000), 2.0),
        Streams.SessionEvent(1L, ts(100000), 3.0), // > 10s gap → closes first
        Streams.SessionEvent(2L, ts(0), 9.0))      // still open, no output
      val q = Streams.sessionizeTws(ms.toDS(), gapMs = 10000)
        .writeStream.format("memory").queryName("sess2").outputMode("append").start()
      try {
        q.processAllAvailable()
        val sessions = spark.table("sess2")
          .select("user_id", "n_events", "total_value")
          .as[(Long, Long, Double)].collect().toSet
        assert(sessions === Set((1L, 2L, 3.0)))
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("late data beyond the watermark is dropped from windowed aggregation") {
    val dir = Files.createTempDirectory("events3").toString
    def write(batch: Seq[(Long, Long, Long, String, Double, String)], part: String): Unit =
      batch.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(s"$dir/$part")
    // Batch 1 advances event time to t=1h; watermark = 1h - 10min.
    write(Seq(
      (1L, 60_000_000_000L, 10L, "click", 1.0, "{}"),       // t = 60s
      (2L, 3_600_000_000_000L, 10L, "click", 1.0, "{}")), "p1") // t = 1h
    val q = Streams.windowedCounts(
        Streams.eventsStream(spark, s"$dir/*"), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      q.processAllAvailable()
      // Batch 2: an event for the long-closed t=60s window → dropped.
      write(Seq((3L, 65_000_000_000L, 10L, "click", 100.0, "{}")), "p2")
      q.processAllAvailable()
      val firstWindow = spark.table("late")
        .filter($"w_start" === ts(0)).select("n", "total_value")
        .as[(Long, Double)].collect().toSeq
      assert(firstWindow === Seq((1L, 1.0))) // late event 3 not counted
    } finally q.stop()
  }
}
