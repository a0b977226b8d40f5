package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStreams

/** Stream/batch parity for the §2.12 surface: the same transform fed
  * the same rows must agree between a MemoryStream incremental run and
  * a plain batch run, and the file-source pipeline must produce the
  * batch answer over the sf0.001 events table. */
class StreamingSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedEventStats: incremental stream equals batch on same rows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val rows = Seq(
      (ts("2024-01-01 01:10:00"), "click", 10.0),
      (ts("2024-01-01 05:20:00"), "click", 5.0),
      (ts("2024-01-01 23:59:00"), "view", 2.5),
      (ts("2024-01-02 00:01:00"), "view", 4.0),
      (ts("2024-01-02 12:00:00"), "click", 1.0))

    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.windowedEventStats(
        mem.toDF.toDF("ts", "event_type", "value"), "1 day", "2 hours")
      .writeStream.format("memory").queryName("evt_stats")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3)) // second micro-batch updates day-1 state
      q.processAllAvailable()

      val streamed = sp.sql(
        "SELECT * FROM evt_stats ORDER BY w_start, event_type")
        .collect().map(_.toSeq).toSeq
      val batch = EventStreams.windowedEventStats(
          rows.toDF("ts", "event_type", "value"), "1 day", "2 hours")
        .orderBy("w_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.length == 4) // 2 days × 2 types, minus absent combos
    } finally q.stop()
  }

  test("hopping windowedEventStats: overlapping windows agree stream vs batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val rows = Seq(
      (ts("2024-01-01 01:00:00"), "click", 10.0),
      (ts("2024-01-02 01:00:00"), "click", 5.0),
      (ts("2024-01-02 12:00:00"), "view", 2.0),
      (ts("2024-01-03 01:00:00"), "click", 1.0))

    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams.windowedEventStats(
        mem.toDF.toDF("ts", "event_type", "value"), "2 days", "2 hours",
        slide = Some("1 day"))
      .writeStream.format("memory").queryName("evt_hop")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()

      val streamed = sp.sql(
        "SELECT * FROM evt_hop ORDER BY w_start, event_type")
        .collect().map(_.toSeq).toSeq
      val batch = EventStreams.windowedEventStats(
          rows.toDF("ts", "event_type", "value"), "2 days", "2 hours",
          slide = Some("1 day"))
        .orderBy("w_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      // every row lands in exactly two windows
      assert(streamed.map(_(3).asInstanceOf[Long]).sum == 2L * rows.length)
    } finally q.stop()
  }

  test("windowedBaskets: distinct per-user sets accumulate across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF.toDF("ts", "user_id", "event_type")
    val q = EventStreams.windowedBaskets(df, "1 day", "1 hour")
      .writeStream.format("memory").queryName("evt_baskets")
      .outputMode("complete").start()
    try {
      mem.addData(Seq((ts("2024-03-05 10:00:00"), 7L, "view")))
      q.processAllAvailable()
      mem.addData(Seq(
        (ts("2024-03-05 11:00:00"), 7L, "click"),
        (ts("2024-03-05 12:00:00"), 7L, "view"))) // dup event_type folds into the set
      q.processAllAvailable()

      val row = sp.sql("SELECT basket, n_events FROM evt_baskets WHERE user_id = 7")
        .collect()
      assert(row.length == 1)
      assert(row(0).getSeq[String](0) == Seq("click", "view"))
      assert(row(0).getLong(1) == 3L)
    } finally q.stop()
  }

  test("sessionize closes a user session after the inactivity gap") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.UserEvent

    val mem = MemoryStream[UserEvent]
    // 60 s inactivity gap, 10 s watermark delay — all event-time
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 60000L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(
        UserEvent(1L, ts("2024-05-01 10:00:00"), "view"),
        UserEvent(1L, ts("2024-05-01 10:00:30"), "click"),
        UserEvent(1L, ts("2024-05-01 10:00:30"), "view"))
      q.processAllAvailable()
      assert(sp.sql("SELECT * FROM sessions").count() == 0) // still open
      // an 11:00 event pushes the watermark past 10:01:30 → user 1's
      // session timer fires on the following (no-data) micro-batch
      mem.addData(UserEvent(2L, ts("2024-05-01 11:00:00"), "view"))
      q.processAllAvailable()

      val rows = sp.sql(
        "SELECT user_id, n_events, event_types FROM sessions").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 1L)
      assert(rows(0).getLong(1) == 3L)
      assert(rows(0).getSeq[String](2) == Seq("click", "view"))
    } finally q.stop()
  }

  test("sessionize splits gap-separated events arriving in ONE micro-batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.UserEvent

    val mem = MemoryStream[UserEvent]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 60000L, watermark = "10 seconds")
      .writeStream.format("memory").queryName("sessions_burst")
      .outputMode("append").start()
    try {
      // one batch, three sessions' worth of events (gaps of 5 min and
      // 10 min), deliberately unsorted — the first TWO sessions must be
      // emitted from the data branch itself, not wait for timeouts
      mem.addData(
        UserEvent(5L, ts("2024-05-01 10:05:00"), "click"), // session 2
        UserEvent(5L, ts("2024-05-01 10:00:00"), "view"),  // session 1
        UserEvent(5L, ts("2024-05-01 10:00:20"), "click"), // session 1
        UserEvent(5L, ts("2024-05-01 10:15:00"), "view"))  // session 3 (stays open)
      q.processAllAvailable()

      val rows = sp.sql(
        """SELECT start_ts, end_ts, n_events, event_types
          |FROM sessions_burst ORDER BY start_ts""".stripMargin).collect()
      assert(rows.length == 2)
      assert(rows(0).getTimestamp(0) == ts("2024-05-01 10:00:00"))
      assert(rows(0).getTimestamp(1) == ts("2024-05-01 10:00:20"))
      assert(rows(0).getLong(2) == 2L)
      assert(rows(0).getSeq[String](3) == Seq("click", "view"))
      assert(rows(1).getTimestamp(0) == ts("2024-05-01 10:05:00"))
      assert(rows(1).getLong(2) == 1L)

      // a later event within 60 s of 10:15:00 extends the OPEN session
      // across batches; the next watermark push closes it with both rows
      mem.addData(UserEvent(5L, ts("2024-05-01 10:15:30"), "click"))
      q.processAllAvailable()
      mem.addData(UserEvent(9L, ts("2024-05-01 11:00:00"), "view"))
      q.processAllAvailable()
      val s3 = sp.sql(
        """SELECT n_events FROM sessions_burst
          |WHERE start_ts = TIMESTAMP '2024-05-01 10:15:00'""".stripMargin).collect()
      assert(s3.length == 1 && s3(0).getLong(0) == 2L)
    } finally q.stop()
  }

  test("attributePurchases: stream-stream interval join equals batch on same rows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    // (event_id, ts, user_id, event_type, value): two clicks for user
    // 1 (only the 10:00 one is within 30 min of the purchase), one
    // out-of-horizon click for user 2, one cross-user non-match
    val rows = Seq(
      (1L, ts("2024-05-01 09:00:00"), 1L, "click", 0.0),
      (2L, ts("2024-05-01 10:00:00"), 1L, "click", 0.0),
      (3L, ts("2024-05-01 10:20:00"), 1L, "purchase", 99.0),
      (4L, ts("2024-05-01 08:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-05-01 11:00:00"), 2L, "purchase", 7.0),
      (6L, ts("2024-05-01 10:10:00"), 3L, "click", 0.0))

    def toDf(s: Seq[(Long, Timestamp, Long, String, Double)]) =
      s.toDF("event_id", "ts", "user_id", "event_type", "value")

    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventStreams.attributePurchases(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"),
        "1 hour", 30)
      .writeStream.format("memory").queryName("evt_attr")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2)) // clicks buffer as join state first
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()

      val streamed = sp.sql(
        "SELECT user_id, click_id, purchase_id, delay_s, value FROM evt_attr")
        .collect().map(_.toSeq).toSet
      val batch = EventStreams.attributePurchases(toDf(rows), "1 hour", 30)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch == Set(Seq(1L, 2L, 3L, 1200L, 99.0)))
    } finally q.stop()
  }

  test("dedupEventStream drops duplicate ids within the watermark, across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.dedupEventStream(
        mem.toDF.toDF("event_id", "ts", "event_type"), "10 minutes")
      .writeStream.format("memory").queryName("evt_dedup")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, ts("2024-06-01 10:00:00"), "view"),
        (2L, ts("2024-06-01 10:00:05"), "click"),
        (1L, ts("2024-06-01 10:00:00"), "view"))) // same-batch dup
      q.processAllAvailable()
      mem.addData(Seq(
        (1L, ts("2024-06-01 10:01:00"), "view"),  // cross-batch dup, inside watermark
        (3L, ts("2024-06-01 10:02:00"), "purchase")))
      q.processAllAvailable()

      val ids = sp.sql("SELECT event_id FROM evt_dedup ORDER BY event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("idempotent batch sink: a replayed micro-batch does not duplicate rows") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val out = tempDir("graft_sink")
    val ckpt = tempDir("graft_ckpt")

    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.idempotentParquetSink(
      mem.toDF.toDF("id", "v"), out, ckpt)
    try {
      mem.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      mem.addData(Seq((3L, "c")))
      q.processAllAvailable()
    } finally q.stop()
    assert(sp.read.parquet(out).count() == 3)

    // simulate the engine REPLAYING batch 1 after a crash (the same
    // batchId re-delivered, possibly with the same rows): the write
    // must overwrite its own directory, not append
    val replay = Seq((3L, "c")).toDF("id", "v")
    EventStreams.writeBatchIdempotent(replay, 1L, out)
    EventStreams.writeBatchIdempotent(replay, 1L, out)
    assert(sp.read.parquet(out).count() == 3, "replayed batch duplicated rows")
  }

  test("trendingTopKSink: streamed per-window top-k equals the batch ranking") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val out = tempDir("graft_trend")
    val ckpt = tempDir("graft_trend_ck")

    val day1 = Seq(
      (ts("2024-03-01 01:00:00"), 1L, 10.0), (ts("2024-03-01 02:00:00"), 1L, 5.0),
      (ts("2024-03-01 03:00:00"), 2L, 9.0), (ts("2024-03-01 04:00:00"), 3L, 20.0),
      (ts("2024-03-01 05:00:00"), 4L, 1.0))
    val day2 = Seq(
      (ts("2024-03-02 01:00:00"), 2L, 3.0), (ts("2024-03-02 02:00:00"), 5L, 7.0),
      (ts("2024-03-02 03:00:00"), 1L, 7.0)) // user 1 ties user 5: id-asc break
    val sentinels = Seq((ts("2024-03-04 12:00:00"), 9L, 0.0))
    val lateSentinel = Seq((ts("2024-03-06 12:00:00"), 9L, 0.0))

    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = EventStreams.trendingTopKSink(
      mem.toDF.toDF("ts", "user_id", "value"), "1 day", "1 hour", 2, out, ckpt)
    try {
      mem.addData(day1)
      q.processAllAvailable()
      mem.addData(day2 ++ sentinels) // watermark passes day 1 AND day 2
      q.processAllAvailable()
      mem.addData(lateSentinel) // one more batch so the flush lands
      q.processAllAvailable()
    } finally q.stop()

    val streamed = sp.read.parquet(out)
      .select("w_start", "user_id", "volume", "rk")
      .filter(org.apache.spark.sql.functions.col("w_start") <
        ts("2024-03-03 00:00:00"))
      .orderBy("w_start", "rk")
      .collect().map(_.toSeq).toSeq
    // batch twin: same transforms on the same rows, as plain DataFrames
    val batch = EventStreams.topKWithinWindows(
        EventStreams.trendingUserVolumes(
          (day1 ++ day2).toDF("ts", "user_id", "value"), "1 day", "1 hour"), 2)
      .orderBy("w_start", "rk")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.length == 4) // 2 days × top-2
    // the day-2 tie (users 1 and 5 both at 7.0) breaks id-ascending
    assert(batch.last(1) == 5L || batch(2)(1) == 1L)
  }

  test("readEventStream file source reproduces the batch q06-shape counts") {
    val sp = spark
    // stage the table into a fresh ingest dir (the file-source contract
    // is a directory that part files land in)
    val ingest = java.nio.file.Paths.get(tempDir("evt_ingest"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      ingest.resolve("part-000.parquet"))
    val stream = EventStreams.windowedEventStats(
      EventStreams.readEventStream(sp, ingest.toString), "1 day", "1 hour")
    val q = stream.writeStream.format("memory").queryName("evt_file")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = sp.sql("SELECT sum(n) FROM evt_file").collect()(0).getLong(0)
      val batch = graft.sources.Tables.events(sp, "/root/testdata/sf0.001").count()
      assert(streamed == batch)
      // and the stream's timestamps are in the BATCH reader's era, not
      // a units mix-up landing in 1970: window starts must match the
      // batch-side min/max event days exactly
      val Array(sMin, sMax) = sp.sql("SELECT min(w_start), max(w_start) FROM evt_file")
        .collect()(0).toSeq.map(_.toString.take(10)).toArray
      val Array(bMin, bMax) = graft.sources.Tables.events(sp, "/root/testdata/sf0.001")
        .selectExpr("cast(min(date_trunc('DAY', ts)) as string)",
          "cast(max(date_trunc('DAY', ts)) as string)")
        .collect()(0).toSeq.map(_.toString.take(10)).toArray
      assert(sMin == bMin && sMax == bMax,
        s"stream windows [$sMin, $sMax] drifted from batch event days [$bMin, $bMax]")
    } finally q.stop()
  }

  test("neardupGateStream: ingest gate flags standing near-dups, replays emit once") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val standing = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "completely different standing content here")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.neardupGateStream(stream, standing, watermark = "1 hour")
      .writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    try {
      // n1 duplicates standing doc 100 verbatim; n2 shares nothing
      mem.addData((1L, ts("2024-05-01 10:00:00"), "alpha beta gamma delta epsilon zeta"),
        (2L, ts("2024-05-01 10:00:01"), "unrelated ingest text with novel words"))
      q.processAllAvailable()
      // crash-replay: the same n1 row redelivered in a later batch
      mem.addData((1L, ts("2024-05-01 10:00:00"), "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      val rows = sp.sql("SELECT doc_id, existing_doc_id, jaccard FROM gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 100L, 1.0)),
        s"exactly one verified pair, emitted once: ${rows.toSeq}")
    } finally q.stop()
  }

  test("ewmaStream: incremental smoother equals the q118 batch EWMA; replays dropped") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.DailyValue

    def d(s: String) = ts(s + " 00:00:00")
    val rows = Seq(
      DailyValue(1L, d("2024-05-01"), 10.0),
      DailyValue(1L, d("2024-05-02"), 20.0),
      DailyValue(1L, d("2024-05-03"), 30.0),
      DailyValue(2L, d("2024-05-05"), 7.0))

    val mem = MemoryStream[DailyValue]
    val q = EventStreams.ewmaStream(mem.toDS())
      .writeStream.format("memory").queryName("ewma_pts")
      .outputMode("append").start()
    try {
      // split across micro-batches; user 2's day-5 row rides the
      // SECOND batch so it cannot watermark-expire user 1's day 3
      mem.addData(rows(0), rows(1))
      q.processAllAvailable()
      mem.addData(rows(2), rows(3))
      q.processAllAvailable()
      // a replayed day and a stale straggler: dropped (engine
      // watermark or the smoother's own monotonic-day guard)
      mem.addData(rows(2), DailyValue(1L, d("2024-05-01"), 999.0))
      q.processAllAvailable()

      val stream = sp.sql("SELECT user_id, day, ewma FROM ewma_pts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Analytics.ewma(
        rows.toDF().withColumnRenamed("day_value", "day_value"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getDouble(3)).toMap
      assert(stream.size == 4, s"replays must not emit: $stream")
      assert(stream == batch, s"stream $stream != batch $batch")
    } finally q.stop()
  }

  // The clamp scenario: Spark filters LATE rows with the watermark
  // from the start of the PREVIOUS micro-batch, but validates
  // setTimeoutTimestamp against the CURRENT batch's eviction
  // watermark. A stale backfill row landing in the batch right after
  // a watermark jump therefore reaches the state function while its
  // natural timeout sits below the eviction watermark — unclamped,
  // the query dies with IllegalArgumentException. No-data micro-
  // batches (which re-sync the two watermarks between addData calls)
  // are disabled so the one-batch lag is deterministic under
  // processAllAvailable.
  private def withoutNoDataBatches[A](body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, old)
  }

  test("sessionize survives a stale backfill (timeout clamped to the watermark)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.UserEvent

    withoutNoDataBatches {
      val mem = MemoryStream[UserEvent]
      val q = EventStreams.sessionize(mem.toDS(), gapMs = 60000L, watermark = "10 seconds")
        .writeStream.format("memory").queryName("sessions_backfill")
        .outputMode("append").start()
      try {
        // batch 1 drives the watermark to 10:59:50
        mem.addData(UserEvent(2L, ts("2024-05-01 11:00:00"), "view"))
        q.processAllAvailable()
        // batch 2: >gap-stale backfill — late filter still at 0, so it
        // reaches the state fn; natural timeout 10:01:00 « 10:59:50
        mem.addData(UserEvent(1L, ts("2024-05-01 10:00:00"), "click"))
        q.processAllAvailable()
        // later data batches advance the watermark past the clamped
        // timer → the backfilled session closes normally
        mem.addData(UserEvent(2L, ts("2024-05-01 11:05:00"), "view"))
        q.processAllAvailable()
        mem.addData(UserEvent(2L, ts("2024-05-01 11:10:00"), "view"))
        q.processAllAvailable()

        assert(q.exception.isEmpty, s"query died: ${q.exception}")
        val users = sp.sql("SELECT user_id FROM sessions_backfill").collect()
          .map(_.getLong(0)).toSet
        assert(users.contains(1L), "the backfilled session must still close")
      } finally q.stop()
    }
  }

  test("ewmaStream survives a stale backfill (timeout clamped to the watermark)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.DailyValue

    def d(s: String) = ts(s + " 00:00:00")
    withoutNoDataBatches {
      val mem = MemoryStream[DailyValue]
      // tight idle timeout so the backfilled user's natural timeout
      // sits far below the already-advanced watermark
      val q = EventStreams.ewmaStream(mem.toDS(), idleTimeoutMs = 60000L)
        .writeStream.format("memory").queryName("ewma_backfill")
        .outputMode("append").start()
      try {
        mem.addData(DailyValue(2L, d("2024-09-01"), 5.0))
        q.processAllAvailable()
        // 4-month-stale backfill: admitted by the lagging late filter,
        // unclamped timeout would be 2024-05-01 + 60 s « watermark
        mem.addData(DailyValue(1L, d("2024-05-01"), 10.0))
        q.processAllAvailable()
        mem.addData(DailyValue(2L, d("2024-09-03"), 6.0))
        q.processAllAvailable()

        assert(q.exception.isEmpty, s"query died: ${q.exception}")
        val got = sp.sql("SELECT user_id, ewma FROM ewma_backfill WHERE user_id = 1")
          .collect()
        assert(got.length == 1 && got(0).getDouble(1) == 10.0,
          "the backfilled point must still smooth and emit")
      } finally q.stop()
    }
  }
}
