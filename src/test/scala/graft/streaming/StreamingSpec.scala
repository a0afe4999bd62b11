package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{TempDirs, TestSpark}

/** Drives the windowing helpers through ACTUAL Structured Streaming
  * execution (MemoryStream source → memory sink, synchronous batches) —
  * the same expressions the batch queries use.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling aggregation over a real stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val agg = Streaming.tumblingAgg(
      Streaming.watermarked(df, "ts", "10 minutes"),
      "ts", "1 hour", Seq("k"),
      Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "a", 1.0),
        (ts("2024-01-01 00:50:00"), "a", 2.0),
        (ts("2024-01-01 01:10:00"), "a", 4.0),
        (ts("2024-01-01 00:20:00"), "b", 8.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("k"), col("n"), col("sv"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(("00:00", "a", 2L, 3.0), ("01:00", "a", 1L, 4.0), ("00:00", "b", 1L, 8.0)))
    } finally q.stop()
  }

  test("topKStateful keeps a bounded per-key leaderboard across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long, Double)]
    val df = input.toDF().toDF("k", "i", "v")
    val q = Streaming.topKStateful(df, "k", "i", "v", k = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("topk_out").start()
    try {
      input.addData(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 1.0), ("b", 10L, 4.0))
      q.processAllAvailable()
      // batch 2: a new max for "a" arrives; an id ties at 9.0 (smaller id wins)
      input.addData(("a", 4L, 12.0), ("a", 5L, 9.0))
      q.processAllAvailable()
      // update-mode memory sink accumulates every emission; the full SET
      // across both batches is deterministic
      val all = spark.table("topk_out")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(all == Set(
        ("a", 1, 2L, 9.0), ("a", 2, 1L, 5.0), ("b", 1, 10L, 4.0), // batch 1
        ("a", 1, 4L, 12.0), ("a", 2, 2L, 9.0)))                   // batch 2: new max, tie->id 2
    } finally q.stop()
  }

  test("topKStateful on a batch frame equals the window/rank spelling") {
    import spark.implicits._
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 1.0), ("a", 4L, 9.0),
      ("b", 10L, 4.0)).toDF("k", "i", "v")
    val got = Streaming.topKStateful(df, "k", "i", "v", k = 2)
      .orderBy("key", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", 1, 2L, 9.0), ("a", 2, 4L, 9.0), ("b", 1, 10L, 4.0)))
  }

  test("dedupWithinWatermark drops cross-batch duplicates in streaming execution") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_id", "v")
    val deduped = Streaming.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "e1", 1.0),
        (ts("2024-01-01 00:00:30"), "e1", 1.0), // in-batch dup
        (ts("2024-01-01 00:01:00"), "e2", 2.0))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 00:02:00"), "e1", 1.0), // cross-batch dup within watermark
        (ts("2024-01-01 00:03:00"), "e3", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getString(0)).toSeq
      assert(ids.sorted == Seq("e1", "e2", "e3"), s"got $ids")
    } finally q.stop()
  }

  test("near-dup suppression composes: dedupWithinWatermark on the simhash key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
      .withColumn("sh", graft.text.Dedup.simhash32(col("text")))
    val deduped = Streaming.dedupWithinWatermark(df, "ts", "10 minutes", Seq("sh"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "d1", "the quick brown fox jumps over the lazy dog"),
        (ts("2024-01-01 00:01:00"), "d2", "the quick brown fox jumps over the lazy dog"),
        (ts("2024-01-01 00:02:00"), "d3", "completely different content entirely here"))
      q.processAllAvailable()
      val ids = spark.table("neardup_out").select("doc_id")
        .collect().map(_.getString(0)).toSeq.sorted
      assert(ids == Seq("d1", "d3"), s"identical-simhash doc must be suppressed: $ids")
    } finally q.stop()
  }

  test("dedupWithinWatermark on a batch frame degrades to dropDuplicates") {
    import spark.implicits._
    val df = Seq(
      (ts("2024-01-01 00:00:00"), "e1", 1.0),
      (ts("2024-01-01 00:00:30"), "e1", 9.0),
      (ts("2024-01-01 00:01:00"), "e2", 2.0)).toDF("ts", "event_id", "v")
    val out = Streaming.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
    assert(out.select("event_id").collect().map(_.getString(0)).sorted.toSeq == Seq("e1", "e2"))
  }

  test("session windows merge events within the gap — streaming execution") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "user", "v")
    val agg = Streaming.sessionAgg(
      Streaming.watermarked(df, "ts", "1 minute"),
      "ts", "30 minutes", Seq("user"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "u1", 1.0),
        (ts("2024-01-01 00:20:00"), "u1", 1.0), // same session (gap 20m)
        (ts("2024-01-01 01:30:00"), "u1", 1.0)) // new session (gap 70m)
      q.processAllAvailable()
      val n = spark.table("session_out").count()
      assert(n == 2, s"expected 2 sessions, got $n")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = Streaming.watermarked(input.toDF().toDF("ts", "k", "v"), "ts", "0 seconds")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val sessions = Streaming.sessionizeStateful(events, gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("stateful_sessions").start()
    try {
      // session 1: two events 10 min apart; then a gap of 2h within the
      // same batch closes it immediately
      input.addData(
        (ts("2024-01-01 00:00:00"), "u1", 1.0),
        (ts("2024-01-01 00:10:00"), "u1", 2.0),
        (ts("2024-01-01 02:10:00"), "u1", 4.0))
      q.processAllAvailable()
      val afterBatch1 = spark.table("stateful_sessions").as[Streaming.ClosedSession].collect()
      assert(afterBatch1.length == 1)
      assert(afterBatch1.head.nEvents == 2 && afterBatch1.head.sumValue == 3.0)

      // advancing the watermark far past lastTs+gap times out the open
      // session for u1 (the new u2 event drives the watermark)
      input.addData((ts("2024-01-01 06:00:00"), "u2", 8.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 07:00:00"), "u2", 16.0))
      q.processAllAvailable()
      val closed = spark.table("stateful_sessions").as[Streaming.ClosedSession].collect()
      val u1Sessions = closed.filter(_.key == "u1")
      assert(u1Sessions.length == 2, s"expected u1's second session closed by timeout: ${closed.toSeq}")
      assert(u1Sessions.map(_.nEvents).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stateful sessionization merges late cross-batch events without regressing lastTs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = Streaming.watermarked(input.toDF().toDF("ts", "k", "v"), "ts", "2 hours")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val q = Streaming.sessionizeStateful(events, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("late_sessions").start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), "u1", 1.0))
      q.processAllAvailable()
      // late event (within the 2h watermark) arrives in a later batch and
      // must widen the session backwards, not drag lastTs to 09:50
      input.addData((ts("2024-01-01 09:50:00"), "u1", 2.0))
      q.processAllAvailable()
      // within gap of the REAL last event (10:00), must merge
      input.addData((ts("2024-01-01 10:25:00"), "u1", 4.0))
      q.processAllAvailable()
      // advance watermark far enough to time the session out
      input.addData((ts("2024-01-01 15:00:00"), "u2", 0.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 16:00:00"), "u2", 0.0))
      q.processAllAvailable()
      val u1 = spark.table("late_sessions").as[Streaming.ClosedSession]
        .collect().filter(_.key == "u1")
      assert(u1.length == 1, s"late event must not split the session: ${u1.toSeq}")
      assert(u1.head.nEvents == 3 && u1.head.sumValue == 7.0)
      assert(u1.head.startMicros == ts("2024-01-01 09:50:00").getTime * 1000)
      assert(u1.head.endMicros == ts("2024-01-01 10:25:00").getTime * 1000)
    } finally q.stop()
  }

  test("stateful funnel advances across micro-batches and closes on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Long, String)]
    val events = Streaming.watermarked(input.toDF().toDF("ts", "k", "id", "et"), "ts", "0 seconds")
      .select(col("k").as("key"), col("ts"), col("id").as("tie"), col("et").as("eventType"))
      .as[Streaming.TypedEvent](org.apache.spark.sql.Encoders.product[Streaming.TypedEvent])
    val steps = Seq("view", "cart", "purchase")
    val q = Streaming.funnelStateful(events, steps, stateTtlMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("stateful_funnel").start()
    try {
      // batch 1 arrives out of order WITHIN the batch: must sort, match view→cart
      input.addData(
        (ts("2024-01-01 00:05:00"), "u1", 2L, "cart"),
        (ts("2024-01-01 00:00:00"), "u1", 1L, "view"),
        (ts("2024-01-01 00:01:00"), "u2", 3L, "cart")) // u2 never views: step 0
      q.processAllAvailable()
      // batch 2: u1 completes; a stale duplicate "view" must not re-match
      input.addData(
        (ts("2024-01-01 00:02:00"), "u1", 4L, "view"),
        (ts("2024-01-01 00:10:00"), "u1", 5L, "purchase"))
      q.processAllAvailable()
      assert(spark.table("stateful_funnel").count() == 0) // nothing closed yet
      // advance the watermark far past lastTs+ttl for both keys
      input.addData((ts("2024-01-02 00:00:00"), "u3", 6L, "view"))
      q.processAllAvailable()
      input.addData((ts("2024-01-03 00:00:00"), "u3", 7L, "view"))
      q.processAllAvailable()
      val closed = spark.table("stateful_funnel").as[Streaming.FunnelClose]
        .collect().map(c => c.key -> c.max_step).toMap
      assert(closed("u1") == 3, s"u1 completed the funnel: $closed")
      assert(closed("u2") == 0, s"u2 never matched step 1: $closed")
    } finally q.stop()
  }

  test("stateful funnel drops null-timestamp events instead of dying") {
    import spark.implicits._
    val typed = Seq(
      Streaming.TypedEvent("u1", null, 1L, "view"), // malformed: no event time
      Streaming.TypedEvent("u1", ts("2024-01-01 00:01:00"), 2L, "view"),
      Streaming.TypedEvent("u1", ts("2024-01-01 00:02:00"), 3L, "cart")).toDS()
    val got = Streaming.funnelStateful(typed, Seq("view", "cart"))
      .collect().map(c => c.key -> c.max_step).toMap
    assert(got == Map("u1" -> 2))
  }

  test("stateful funnel on a BATCH dataset equals the batch operator") {
    import spark.implicits._
    val rows = Seq(
      ("u1", ts("2024-01-01 00:00:00"), 1L, "view"),
      ("u1", ts("2024-01-01 00:05:00"), 2L, "cart"),
      ("u1", ts("2024-01-01 00:06:00"), 3L, "purchase"),
      ("u2", ts("2024-01-01 00:00:00"), 4L, "cart"), // before its view: no match
      ("u2", ts("2024-01-01 00:01:00"), 5L, "view"),
      ("u3", ts("2024-01-01 00:00:00"), 6L, "view"),
      ("u3", ts("2024-01-01 00:00:00"), 7L, "cart")) // same ts: tie order decides
    val typed = rows.map { case (k, t, i, e) => Streaming.TypedEvent(k, t, i, e) }.toDS()
    val got = Streaming.funnelStateful(typed, Seq("view", "cart", "purchase"))
      .collect().map(c => c.key -> c.max_step).toMap
    val batchDf = rows.toDF("user_id", "ts", "event_id", "event_type")
    val exp = graft.ops.Funnel.maxStepReached(
        batchDf, "user_id", "ts", "event_id", "event_type", Seq("view", "cart", "purchase"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == exp, s"streaming-op-on-batch $got must equal batch operator $exp")
    assert(got("u1") == 3 && got("u2") == 1 && got("u3") == 2)
  }

  test("stateful sessionization on a BATCH dataset flushes trailing sessions") {
    import spark.implicits._
    val batch = Seq(
      Streaming.SessionEvent("u1", ts("2024-01-01 10:00:00"), 1.0),
      Streaming.SessionEvent("u1", ts("2024-01-01 10:10:00"), 2.0),
      Streaming.SessionEvent("u1", ts("2024-01-01 12:00:00"), 4.0),
      Streaming.SessionEvent("u2", ts("2024-01-01 09:00:00"), 8.0)).toDS()
    val sessions = Streaming.sessionizeStateful(batch, gapMinutes = 30).collect()
    assert(sessions.length == 3, s"batch mode must emit trailing open sessions: ${sessions.toSeq}")
    assert(sessions.filter(_.key == "u1").map(_.nEvents).sorted.toSeq == Seq(1L, 2L))
  }

  test("file-sink end-to-end: stream -> parquet sink with checkpoint -> read back") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = TempDirs("graft-stream-sink")
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = input.toDF().toDF("ts", "k", "v")
      .select(col("ts"), col("k"), col("v"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", out.resolve("data").toString)
      .option("checkpointLocation", out.resolve("chk").toString)
      .outputMode("append")
      .start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), "a", 1.0), (ts("2024-01-01 01:00:00"), "b", 2.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 02:00:00"), "a", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out.resolve("data").toString)
    assert(back.count() == 3)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0) == 7.0)
  }

  test("pageHinkleyStateful across micro-batches EQUALS the batch windows exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "k", "v")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val q = Streaming.pageHinkleyStateful(events, delta = 0.0, lambda = 50.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("ph_stream").start()
    val batch1 = Seq(
      (ts("2024-01-01 00:00:00"), "u1", 10.0),
      (ts("2024-01-01 00:01:00"), "u1", 10.0),
      (ts("2024-01-01 00:02:00"), "u1", 10.0))
    val batch2 = Seq(
      (ts("2024-01-01 00:03:00"), "u1", 110.0),
      (ts("2024-01-01 00:04:00"), "u1", 110.0),
      (ts("2023-12-31 23:00:00"), "u1", 999.0)) // late across batches: dropped
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("ph_stream")
        .select("key", "tsMicros", "value", "ph", "ph_alarm")
        .orderBy("tsMicros").collect().map(_.toSeq).toSeq
      assert(streamed.size == 5) // late event dropped
      val df = (batch1 ++ batch2.take(2)).toDF("ts", "k", "v")
      val expect = graft.ops.Timeseries.pageHinkley(
          df.select(col("k").as("key"), unix_micros(col("ts")).as("o"),
            col("v").as("value")),
          Seq("key"), col("o"), col("value"), delta = 0.0, lambda = 50.0)
        .select(col("key"), col("o"), col("value"), col("ph"), col("ph_alarm"))
        .orderBy("o").collect().map(_.toSeq).toSeq
      assert(streamed == expect, s"streaming:\n$streamed\nbatch:\n$expect")
      // the jump must actually alarm in both
      assert(streamed.last.last == true)
    } finally q.stop()
  }

  test("holtStateful across micro-batches EQUALS the batch fold exactly; late events drop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "k", "v")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val q = Streaming.holtStateful(events, alpha = 0.25, beta = 0.125)
      .writeStream.outputMode("append")
      .format("memory").queryName("holt_stream").start()
    val batch1 = Seq(
      (ts("2024-01-01 00:00:00"), "u1", 100.0),
      (ts("2024-01-01 00:01:00"), "u1", 104.0))
    val batch2 = Seq(
      (ts("2024-01-01 00:02:00"), "u1", 108.0),
      (ts("2024-01-01 00:03:00"), "u1", 101.0),
      (ts("2023-12-31 23:00:00"), "u1", 999.0)) // late across batches: dropped
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("holt_stream")
        .select("key", "idx", "x", "level", "trend", "forecast")
        .orderBy("idx").collect().map(_.toSeq).toSeq
      // the late 999.0 event must not appear
      assert(streamed.size == 4)
      // batch twin over the SAME in-order events
      val df = (batch1 ++ batch2.take(2)).toDF("ts", "k", "v")
      val expect = graft.ops.Timeseries.holtLinear(
          df.select(col("k").as("key"), unix_micros(col("ts")).as("o"), col("v")),
          Seq("key"), col("o"), col("v"), 0.25, 0.125)
        .select(col("key"), col("idx").cast("long"), col("x"),
          col("level"), col("trend"), col("forecast"))
        .orderBy("idx").collect().map(_.toSeq).toSeq
      assert(streamed == expect, s"streaming:\n$streamed\nbatch:\n$expect")
    } finally q.stop()
  }

  test("classifier scoring is stateless: streaming scores equal batch scores") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val w = graft.text.Classify.demoWeightsMicros(32)
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.Classify.score(col("text"), w, -50000L).as("score"))
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("clf_stream").start()
    val docs = Seq(1L -> "the quick brown fox", 2L -> "lorem ipsum dolor", 3L -> "a b a b a")
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_stream")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = docs.toDF("doc_id", "text")
        .select(col("doc_id"), graft.text.Classify.score(col("text"), w, -50000L).as("score"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("checkpoint resume: session state survives a stop/restart; a wiped checkpoint loses it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = TempDirs("graft-chk-resume")
    val outDir = base.resolve("data").toString
    val chkDir = base.resolve("chk").toString

    def sessionsOf(input: MemoryStream[(Timestamp, String, Double)]) =
      Streaming.sessionizeStateful(
        Streaming.watermarked(input.toDF().toDF("ts", "k", "v"), "ts", "0 seconds")
          .select(col("k").as("key"), col("ts"), col("v").as("value"))
          .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent]),
        gapMinutes = 30)
    val input = MemoryStream[(Timestamp, String, Double)]
    def start() = sessionsOf(input).writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", chkDir).start()

    // run 1: open a 2-event session for u1, then KILL the query
    val q1 = start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "u1", 1.0),
        (ts("2024-01-01 00:10:00"), "u1", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // run 2, SAME checkpoint: the in-gap event must merge into the
    // recovered open session (committed batch 1 is NOT replayed — the
    // merge can only come from recovered state), then the watermark
    // times the session out
    val q2 = start()
    try {
      input.addData((ts("2024-01-01 00:20:00"), "u1", 4.0))
      q2.processAllAvailable()
      input.addData((ts("2024-01-01 06:00:00"), "u9", 0.0))
      q2.processAllAvailable()
      input.addData((ts("2024-01-01 07:00:00"), "u9", 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val closed = spark.read.parquet(outDir)
      .as[Streaming.ClosedSession](org.apache.spark.sql.Encoders.product[Streaming.ClosedSession])
      .collect()
    val u1 = closed.filter(_.key == "u1")
    assert(u1.length == 1, s"exactly one u1 session, no duplicate emissions across restart: ${closed.toSeq}")
    assert(u1.head.nEvents == 3 && u1.head.sumValue == 7.0,
      s"the session spanning the restart must close with all 3 events: ${u1.head}")
    assert(u1.head.startMicros == ts("2024-01-01 00:00:00").getTime * 1000)
    assert(u1.head.endMicros == ts("2024-01-01 00:20:00").getTime * 1000)

    // negative control: wipe the checkpoint and deliver the SAME
    // post-restart feed through a fresh source — without the recovered
    // state the in-gap event can only form a 1-event session
    val base2 = TempDirs("graft-chk-wiped")
    val input2 = MemoryStream[(Timestamp, String, Double)]
    val q3 = sessionsOf(input2).writeStream.outputMode("append")
      .format("parquet").option("path", base2.resolve("data").toString)
      .option("checkpointLocation", base2.resolve("chk").toString).start()
    try {
      input2.addData((ts("2024-01-01 00:20:00"), "u1", 4.0))
      q3.processAllAvailable()
      input2.addData((ts("2024-01-01 06:00:00"), "u9", 0.0))
      q3.processAllAvailable()
      input2.addData((ts("2024-01-01 07:00:00"), "u9", 0.0))
      q3.processAllAvailable()
    } finally q3.stop()
    val lost = spark.read.parquet(base2.resolve("data").toString)
      .as[Streaming.ClosedSession](org.apache.spark.sql.Encoders.product[Streaming.ClosedSession])
      .collect().filter(_.key == "u1")
    assert(lost.length == 1 && lost.head.nEvents == 1,
      s"without the checkpoint the session must NOT remember pre-restart events: ${lost.toSeq}")
  }

  test("stream-stream interval join: clicks attribute to impressions within the window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = graft.streaming.Streaming.eventTimeJoin(
      imps.toDF().toDF("its", "ad"), "its",
      clicks.toDF().toDF("cts", "c_ad"), "cts",
      Seq("ad" -> "c_ad"), delay = "10 minutes", within = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_out").start()
    try {
      imps.addData((ts("2024-01-01 10:00:00"), "a1"), (ts("2024-01-01 10:00:00"), "a2"))
      clicks.addData(
        (ts("2024-01-01 10:03:00"), "a1"),  // within 5 min -> match
        (ts("2024-01-01 10:09:00"), "a2"),  // outside window -> no match
        (ts("2024-01-01 09:59:00"), "a1"))  // before impression -> no match
      q.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select(col("ad"), date_format(col("cts"), "HH:mm").as("c"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("a1", "10:03")))
    } finally q.stop()
  }

  test("stream-stream join resolves shared key/timestamp column names") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    // BOTH sides name the key "ad" and the timestamp "ts" — the join must
    // qualify its references instead of failing with AMBIGUOUS_REFERENCE
    val joined = graft.streaming.Streaming.eventTimeJoin(
      imps.toDF().toDF("ts", "ad"), "ts",
      clicks.toDF().toDF("ts", "ad"), "ts",
      Seq("ad" -> "ad"), delay = "10 minutes", within = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attrib_shared_out").start()
    try {
      imps.addData((ts("2024-01-01 10:00:00"), "a1"))
      clicks.addData((ts("2024-01-01 10:02:00"), "a1"))
      q.processAllAvailable()
      val out = spark.table("attrib_shared_out")
      assert(out.count() == 1)
      // output must be usable by name: one 'ad', and the right ts suffixed
      assert(out.columns.count(_ == "ad") == 1)
      assert(out.columns.toSeq.sorted == Seq("ad", "ts", "ts_r"))
    } finally q.stop()
  }

  test("shared non-key payload columns are suffixed, not left duplicated") {
    import spark.implicits._
    // both sides derive from one source: same key, same ts name, and a
    // shared payload column "src" that is neither — batch frames exercise
    // the identical plan
    val l = Seq((ts("2024-01-01 10:00:00"), "a1", "web")).toDF("ts", "ad", "src")
    val r = Seq((ts("2024-01-01 10:02:00"), "a1", "app")).toDF("ts", "ad", "src")
    val out = graft.streaming.Streaming.eventTimeJoin(
      l, "ts", r, "ts", Seq("ad" -> "ad"), delay = "10 minutes", within = "5 minutes")
    assert(out.columns.toSeq.sorted == Seq("ad", "src", "src_r", "ts", "ts_r"))
    val row = out.select("src", "src_r").head()
    assert((row.getString(0), row.getString(1)) == ("web", "app"))
  }

  test("quarantineJsonl runs unchanged on a streaming source (micro-batch-safe parse)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val q = graft.sources.Sources.quarantineJsonl(
        input.toDF().toDF("value"), "id int, v double")
      .writeStream.format("memory").queryName("jsonl_quarantine")
      .outputMode("append").start()
    try {
      input.addData("{\"id\": 1, \"v\": 2.5}", "{broken", "   ")
      q.processAllAvailable()
      val rows = spark.table("jsonl_quarantine").collect()
      assert(rows.length == 2) // whitespace line dropped, not a phantom row
      val (good, bad) = rows.partition(_.isNullAt(2))
      assert(good.head.getInt(0) == 1 && bad.head.getString(2) == "{broken")
    } finally q.stop()
  }

  test("upsert snapshot writer refuses to fork the chain after a checkpoint reset") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = TempDirs("graft-upsert-fork").toString
    // an existing chain three versions long...
    Seq((1, "a", 1L)).toDF("k", "v", "version").write.parquet(s"$base/v0")
    Seq((1, "a", 1L)).toDF("k", "v", "version").write.parquet(s"$base/v1")
    Seq((1, "b", 2L)).toDF("k", "v", "version").write.parquet(s"$base/v2")
    // ...and a FRESH checkpoint: batch ids restart at 0, which would
    // silently re-base on stale v0 and overwrite v1 — must fail instead
    val input = MemoryStream[(Int, String, Long)]
    val q = graft.streaming.Streaming.upsertSnapshotWriter(
      input.toDF().toDF("k", "v", "version"), base, Seq("k"), "version")
      .option("checkpointLocation", s"$base/chk-fresh")
      .start()
    try {
      input.addData((1, "C", 3L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("checkpoint was reset") ||
        Option(ex.getCause).exists(_.getMessage.contains("checkpoint was reset")))
    } finally q.stop()
    // the chain head is untouched
    assert(spark.read.parquet(s"$base/v2").collect().head.getString(1) == "b")
  }

  test("streaming CDC: micro-batches fold into versioned snapshots via upsert") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = TempDirs("graft-upsert-snap").toString
    // seed snapshot v0
    Seq((1, "a", 1L), (2, "b", 1L)).toDF("k", "v", "version")
      .write.parquet(s"$base/v0")
    val input = MemoryStream[(Int, String, Long)]
    val q = graft.streaming.Streaming.upsertSnapshotWriter(
      input.toDF().toDF("k", "v", "version"), base, Seq("k"), "version")
      .option("checkpointLocation", s"$base/chk")
      .start()
    try {
      input.addData((2, "B2", 2L), (3, "c", 2L)) // update k=2, insert k=3
      q.processAllAvailable()
      input.addData((1, "A3", 3L))               // update k=1 in batch 1
      q.processAllAvailable()
    } finally q.stop()
    val v1 = spark.read.parquet(s"$base/v1")
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v1 == Map(1 -> ("a", 1L), 2 -> ("B2", 2L), 3 -> ("c", 2L)))
    val v2 = spark.read.parquet(s"$base/v2")
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(v2 == Map(1 -> ("A3", 3L), 2 -> ("B2", 2L), 3 -> ("c", 2L)))
  }

  test("stateful running counts via mapGroupsWithState across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val counts = Streaming.runningCounts(input.toDF().toDF("k"), "k")
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("state_out").start()
    try {
      input.addData("a", "a", "b")
      q.processAllAvailable()
      input.addData("a")
      q.processAllAvailable()
      val last = spark.table("state_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
  }

  test("streaming anomalies: a spike flags against cross-batch rolling state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = Streaming.watermarked(input.toDF().toDF("ts", "k", "v"), "ts", "0 seconds")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val q = Streaming.anomaliesStateful(events, n = 10, z = 2.0)
      .writeStream.outputMode("append").format("memory").queryName("anomalies").start()
    try {
      // batch 1: a stable alternating baseline — nothing flags
      input.addData((1 to 8).map(i =>
        (ts(f"2024-01-01 00:0$i:00"), "m1", 10.0 + (i % 2))): _*)
      q.processAllAvailable()
      assert(spark.table("anomalies").count() == 0)
      // batch 2: the state built in batch 1 makes the spike flag
      input.addData((ts("2024-01-01 00:09:00"), "m1", 100.0))
      q.processAllAvailable()
      val flagged = spark.table("anomalies").as[Streaming.Anomaly].collect()
      assert(flagged.length == 1)
      assert(flagged.head.value == 100.0 && flagged.head.zscore > 2.0)
      // a second key is isolated: same spike value, but no baseline yet
      input.addData((ts("2024-01-01 00:10:00"), "m2", 100.0))
      q.processAllAvailable()
      assert(spark.table("anomalies").count() == 1)
    } finally q.stop()
  }

  test("streaming CUSUM accumulates across micro-batches, alarms, and resets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = Streaming.watermarked(input.toDF().toDF("ts", "k", "v"), "ts", "0 seconds")
      .select(col("k").as("key"), col("ts"), col("v").as("value"))
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    // target 10, k=0, h=5: each 12.0 adds +2 to S+
    val alarms = Streaming.cusumStateful(events, target = 10.0, k = 0.0, h = 5.0)
    val q = alarms.writeStream.outputMode("append")
      .format("memory").queryName("cusum_alarms").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "s1", 12.0),  // S+ = 2
        (ts("2024-01-01 00:02:00"), "s1", 12.0))  // S+ = 4
      q.processAllAvailable()
      assert(spark.table("cusum_alarms").count() == 0) // below h, state carries
      input.addData((ts("2024-01-01 00:03:00"), "s1", 12.0)) // S+ = 6 > 5 -> alarm
      q.processAllAvailable()
      val a = spark.table("cusum_alarms").as[Streaming.CusumAlarm].collect()
      assert(a.length == 1 && a.head.s_plus == 6.0 && a.head.direction == "up")
      // after the alarm the walk restarts from zero: +2 stays silent
      input.addData((ts("2024-01-01 00:04:00"), "s1", 12.0))
      q.processAllAvailable()
      assert(spark.table("cusum_alarms").count() == 1)
      // downward shift on an independent key (timestamps past the
      // watermark s1 advanced to 00:04 — earlier ones would drop as late)
      input.addData(
        (ts("2024-01-01 00:06:00"), "s2", 4.0),   // S- = 6 -> immediate alarm
        (ts("2024-01-01 00:07:00"), "s2", 10.0))
      q.processAllAvailable()
      val a2 = spark.table("cusum_alarms").as[Streaming.CusumAlarm].collect()
        .filter(_.key == "s2")
      assert(a2.length == 1 && a2.head.direction == "down" && a2.head.s_minus == 6.0)
    } finally q.stop()
  }

  test("streaming CUSUM on a BATCH dataset agrees with the fixed-target batch twin up to the first alarm") {
    import spark.implicits._
    val vals = Seq(10.5, 9.5, 12.0, 13.0, 12.5, 9.0, 10.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("k1", ts(f"2024-01-01 00:0$i:00"), v)
    }
    val events = rows.toDF("key", "ts", "value")
      .as[Streaming.SessionEvent](org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
    val alarms = Streaming.cusumStateful(events, target = 10.0, k = 0.5, h = 3.0)
      .collect().sortBy(_.tsMicros)
    // batch twin with the same fixed target: the first row crossing h
    // must be the stateful op's first alarm (before any reset diverges)
    val batch = graft.ops.Timeseries.cusum(
        rows.toDF("key", "ts", "value"), Seq("key"), col("ts"), col("value"),
        k = 0.5, h = 3.0, targetMean = Some(10.0))
      .orderBy(col("ts")).collect()
    val firstCross = batch.find(_.getBoolean(5)).get
    assert(alarms.nonEmpty)
    assert(firstCross.getTimestamp(1).getTime * 1000 == alarms.head.tsMicros)
    assert(firstCross.getDouble(3) == alarms.head.s_plus) // same exact walk value
  }
}
