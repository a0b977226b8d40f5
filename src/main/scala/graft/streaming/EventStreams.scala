package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TopK

/** Input row for the stateful sessionizer. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)

/** A closed user session: bounded by inactivity gaps. */
case class UserSession(user_id: Long, start_ts: java.sql.Timestamp,
                       end_ts: java.sql.Timestamp, n_events: Long,
                       event_types: Seq[String])

/** Mutable per-user session accumulator held in the state store. */
case class SessionState(startMs: Long, lastMs: Long, n: Long, types: Seq[String])

/** One closed per-user day of the EWMA input stream. */
case class DailyValue(user_id: Long, day: java.sql.Timestamp, day_value: Double)

/** A smoothed point emitted by [[EventStreams.ewmaStream]]. */
case class EwmaPoint(user_id: Long, day: java.sql.Timestamp,
                     day_value: Double, ewma: Double)

/** Per-user EWMA state: the last ≤[[graft.operators.Analytics.EWMA_LAGS]]
  * observed (dayMs, value) pairs, ascending by day. */
case class EwmaState(lags: Seq[(Long, Double)])

/**
 * Structured Streaming surface (SURVEY.md §2.12 — the reference has NO
 * streaming path; its batch tumbling-window basket/period logic ports
 * directly, as the survey's rebuild note anticipates). The transforms
 * take any events DataFrame — batch or streaming — so the SAME code
 * backs the batch queries and the `readStream` pipelines; specs assert
 * stream/batch parity on identical input.
 *
 * Scale posture: watermarked tumbling windows keep state bounded (late
 * rows beyond the watermark are dropped instead of accumulating);
 * aggregation state is keyed on (window, key), so it shards across
 * executors like any other keyed shuffle.
 */
object EventStreams {

  /** An events-parquet ingest DIRECTORY as a stream (the standard
    * file-source contract: producers drop part files into the
    * directory, the stream picks them up). A streaming source needs an
    * explicit schema, but the PHYSICAL `ts` layout must not be assumed
    * — generated data has shipped both TIMESTAMP(NANOS) (reads as a
    * nanos long under the legacy flag) and TIMESTAMP(MICROS) (reads as
    * TIMESTAMP_NTZ) — so the reader sniffs the observed schema from
    * the files already in the directory (exactly like the batch
    * reader, graft.sources.Tables.events) and canonicalizes to one
    * session-zone TimestampType `ts` either way. An empty ingest
    * directory defaults to the current micros layout. */
  def readEventStream(spark: SparkSession, ingestDir: String): DataFrame = {
    val observedTs = scala.util.Try(
      spark.read.parquet(ingestDir).schema("ts").dataType).toOption
    if (observedTs.contains(org.apache.spark.sql.types.LongType))
      spark.readStream
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(ingestDir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else
      spark.readStream
        .schema("event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(ingestDir)
        .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Tumbling- or sliding-window event statistics — the streaming twin
    * of the batch q06/q40 (tumbling) and q79 (hopping) aggregations.
    * `slide` defaults to the window length (= tumbling); a shorter
    * slide expands each row into windowLen/slide overlapping windows
    * map-side, and the watermark still bounds state — a window's
    * aggregate finalizes when the watermark passes its END, so overlap
    * multiplies live state by windowLen/slide, never unboundedly.
    * Works unchanged on a batch DataFrame (watermark is a no-op
    * there). */
  def windowedEventStats(events: DataFrame, windowLen: String,
                         watermark: String,
                         slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide.getOrElse(windowLen)),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming basket builder: per (user, window) distinct item sets —
    * the A6 basket construction as an incremental stateful aggregation
    * (the reference rebuilt baskets from scratch each fit,
    * SequentialTopKRecommender.scala:243-245). */
  def windowedBaskets(events: DataFrame, windowLen: String,
                      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("basket"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("user_id"),
        col("basket"), col("n_events"))

  /** Streaming exact dedup — the §2.12 face of the Dedup family
    * (operators/Dedup.scala q18 is the batch twin): duplicate
    * `event_id`s arriving within the watermark horizon are dropped
    * incrementally. `dropDuplicatesWithinWatermark` keeps ONE state
    * entry per key and expires it with the watermark, so state is
    * bounded by arrival-rate × watermark — never "all keys ever seen"
    * (which plain streaming dropDuplicates would accumulate). Exactly
    * the ingest-dedup posture a 100-TB pipeline needs at the door. */
  def dedupEventStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Idempotent micro-batch writer for `foreachBatch` sinks: each
    * micro-batch lands in its own `batch_id=<id>` directory with
    * overwrite semantics, so the batch a restarted query REPLAYS (the
    * engine re-delivers the last uncommitted micro-batch after a
    * crash) overwrites its own previous partial output instead of
    * appending duplicates — the standard exactly-once-effect recipe
    * when the sink is a file store. Readers see the union via the
    * partitioned layout (`spark.read.parquet(outDir)`). */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** A replay-safe parquet sink over any streaming DataFrame —
    * [[writeBatchIdempotent]] wired through `foreachBatch`. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
                            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => writeBatchIdempotent(b, id, outDir))
      .start()

  /** Per-window user volumes for the trending pipeline — the
    * watermarked streaming half of the batch q71. Append mode emits
    * each (window, user) aggregate EXACTLY ONCE, when the watermark
    * passes the window end — and because every key of a window
    * finalizes at that same moment, a whole window always lands in a
    * single micro-batch. That is the invariant [[trendingTopKSink]]
    * leans on: per-window top-k inside `foreachBatch` is complete,
    * never a partial ranking. */
  def trendingUserVolumes(events: DataFrame, windowLen: String,
                          watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(graft.functions.Rounding.r6(sum(col("value"))).as("vol"))
      .select(col("window.start").as("w_start"), col("user_id"), col("vol"))

  /** Batch finisher: top-k users per window (the q71 shape —
    * low-cardinality group key; see [[graft.functions.TopK.perGroup]]
    * for the partial prune that keeps k rows per window per map
    * partition before the shuffle). */
  def topKWithinWindows(batch: DataFrame, k: Int): DataFrame =
    batch.select(col("w_start"), col("user_id").cast("long").as("user_id"),
        col("vol").cast("double").as("vol"))
      .transform(TopK.perGroup(_, Seq(col("w_start")), Seq(col("vol").desc, col("user_id").asc), k))
      .select(col("w_start"), col("user_id"),
        graft.functions.Rounding.r4(col("vol")).as("volume"), col("rk"))

  /** Streaming trending top-k, end to end: two chained aggregations
    * are not allowed in one streaming query, so the second level (the
    * per-window ranking) runs as BATCH work inside `foreachBatch` on
    * the finalized append-mode output, and lands through the
    * replay-safe idempotent writer. State in the engine is the
    * watermark-bounded (window, user) aggregation only — the ranking
    * itself holds no streaming state. */
  def trendingTopKSink(events: DataFrame, windowLen: String,
                       watermark: String, k: Int, outDir: String,
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    trendingUserVolumes(events, windowLen, watermark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        writeBatchIdempotent(topKWithinWindows(b, k), id, outDir))
      .start()

  /** Stream-stream interval join (§2.12): attribute each purchase to
    * every click by the same user in the preceding `horizonMin`
    * minutes. On streams, BOTH sides carry watermarks and the join
    * condition bounds event-time distance, so the engine can expire
    * buffered click state once the purchase-side watermark passes
    * click_ts + horizon — state is arrival-rate × horizon, never the
    * full history. On batch DataFrames the same code is a plain
    * interval self-join (watermarks are no-ops), which is what the
    * q68 oracle checks; StreamingSpec asserts stream/batch parity.
    * Attribution delay is floor-seconds (the q57 epoch convention). */
  def attributePurchases(events: DataFrame, watermark: String,
                         horizonMin: Int): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
        col("cu") === col("pu") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") +
            expr(s"INTERVAL $horizonMin MINUTES"))
      .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("delay_s"),
        col("value"))
  }

  /** Custom state (§2.12's `flatMapGroupsWithState` surface):
    * gap-based sessionization of the per-user event stream. A session
    * closes — and emits one [[UserSession]] row — once the WATERMARK
    * passes the session's last event plus `gapMs` (event-time timeout:
    * deterministic, replayable, no wall-clock dependence — and unlike
    * a processing-time timer it never forces the engine into
    * continuous empty micro-batches). State is one small
    * [[SessionState]] per OPEN session, sharded by the group key
    * across executors; the timeout bounds its lifetime, so state size
    * tracks active users, not all users ever seen. */
  def sessionize(events: Dataset[UserEvent], gapMs: Long,
                 watermark: String): Dataset[UserSession] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, rows: Iterator[UserEvent],
           state: GroupState[SessionState]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(UserSession(userId,
          new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs),
          s.n, s.types.distinct.sorted))
      } else {
        // Replay the batch's events in event-time order against the
        // open session, SPLITTING on every >gap boundary — a burst (or
        // watermark-lag replay) delivering gap-separated events in one
        // micro-batch must close the earlier session(s) here, exactly
        // like the batch twin (Relational.sessionizeBatch/q57); only
        // the trailing still-open session survives into state.
        val evs = rows.toSeq.sortBy(_.ts.getTime)
        val closed = Seq.newBuilder[UserSession]
        def close(s: SessionState): Unit =
          closed += UserSession(userId,
            new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs),
            s.n, s.types.distinct.sorted)
        val last = evs.foldLeft(state.getOption) { (cur, e) =>
          val ms = e.ts.getTime
          cur match {
            case Some(s) if ms > s.lastMs + gapMs =>
              close(s)
              Some(SessionState(ms, ms, 1L, Seq(e.event_type)))
            case Some(s) =>
              Some(SessionState(math.min(s.startMs, ms), math.max(s.lastMs, ms),
                s.n + 1, (s.types :+ e.event_type).distinct))
            case None =>
              Some(SessionState(ms, ms, 1L, Seq(e.event_type)))
          }
        }.get // evs is non-empty in the data branch
        state.update(last)
        // clamp: a backfill of >gap-stale events would otherwise set a
        // timeout at-or-below the current watermark, which Spark
        // rejects with IllegalArgumentException and kills the query
        state.setTimeoutTimestamp(
          math.max(last.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
        closed.result().iterator
      }
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming near-dup INGEST GATE — the q95 incremental dedup as a
    * `readStream` stage: each arriving document is checked against the
    * STANDING corpus and every verified near-duplicate pair
    * (jaccard ≥ [[graft.operators.Dedup.CLUSTER_JACCARD]]) is emitted
    * so the ingest pipeline can quarantine before write. The stream
    * side is STATELESS until the final replay guard: per-row shingle
    * set + [[graft.operators.Dedup.mapOnlyBands]] signatures (array
    * HOFs, no aggregation), two stream-STATIC equi-joins against the
    * standing band index and shingle sets (broadcast-able dims the
    * driver refreshes on corpus compaction), and the exact-Jaccard
    * verify as row-local array_intersect arithmetic —
    * [[graft.operators.Dedup.verifyJaccard]], the function q20 and q95
    * verify with, so the numbers are q95's precisely (parity spec'd).
    * `dropDuplicatesWithinWatermark` on the pair key absorbs
    * band-collision fan-out and crash-replay redelivery; its state is
    * watermark-bounded.
    *
    * At 100 TB the standing index is the big side and it is STATIC —
    * the stream never shuffles it; each micro-batch pays bands×docs
    * probe work, exactly the "ingest cost scales with the batch,
    * never the corpus" posture of the batch twin. */
  def neardupGateStream(docs: DataFrame, standing: DataFrame,
                        watermark: String,
                        pinGroup: String = ""): DataFrame =
    neardupGateStreamIndexed(docs,
      graft.operators.Dedup.docShingleSets(standing),
      graft.operators.Dedup.mapOnlyBands(standing), watermark, pinGroup)

  /** [[neardupGateStream]] fed from a PREBUILT standing index — the
    * `(doc_id, sh_set, n_sh)` shingle sets and `(doc_id, band_id,
    * band_hash)` band rows [[graft.operators.Corpus.writeNeardupIndex]]
    * persists next to a snapshot. At 100 TB the difference is the
    * weekly gate swap's cost: deriving the index from text re-tokenizes
    * and re-shingles the WHOLE snapshot at every rebuild, while a
    * maintained index ([[graft.operators.Corpus.compactNeardupIndex]]
    * folds only the delta's rows) loads as a plain parquet scan. The
    * decisions are bit-identical either way (CompactionSpec pins the
    * folded index against the derived one frame-for-frame). */
  def neardupGateStreamIndexed(docs: DataFrame, standingShingleSets: DataFrame,
                               standingBandRows: DataFrame, watermark: String,
                               pinGroup: String = ""): DataFrame = {
    import graft.operators.Dedup
    // "" → a fresh never-reused group per gate BUILD: two live
    // neardup gates sharing a default group would let releasing the
    // retired one unpersist the live one's standing index. Callers
    // passing an explicit group own that invariant (and can find
    // auto groups via GateIndexes.liveGroups).
    val group =
      if (pinGroup.isEmpty) GateIndexes.autoGroup("neardup") else pinGroup
    // both static sides PIN for the gate's lifetime (the semdedup
    // gate's index discipline, GateIndexes): a stream-static join's
    // static side re-executes every micro-batch, and re-shingling the
    // whole standing corpus per batch measured ~34 s/batch at sf0.1
    // (flat, but corpus-sized) vs ~1 s pinned
    // (`probes/stream_ingest_probe_r12_prepin.json` → `_r12.json`). Long-lived drivers
    // release retired pins via CorpusStreams.releaseGateIndexes().
    val standingBands = GateIndexes.pin(standingBandRows
      .select(col("doc_id").as("existing_doc_id"),
        col("band_id"), col("band_hash")), group)
    val standingSets = GateIndexes.pin(standingShingleSets
      .select(col("doc_id"), col("sh_set"), col("n_sh")), group)
    // ONE linear flow on the stream (two derivations of the same
    // stream joined together would be a stream-stream self-join):
    // shingle set, signatures and bands all ride the same rows, so
    // the stream side's set reaches the verify as set_a/n_a
    val stream = Dedup.docShingleSets(docs, Seq("ts"))
      .select(col("doc_id"), col("ts"), col("sh_set").as("set_a"), col("n_sh").as("n_a"),
        explode(Dedup.bandStructs(col("sh_set"))).as("band"))
      .select(col("doc_id"), col("ts"), col("set_a"), col("n_a"),
        col("band.band_id").as("band_id"), col("band.band_hash").as("band_hash"))
    val cand = stream
      .join(standingBands, Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("existing_doc_id"), col("ts"), col("set_a"), col("n_a"))
    Dedup.verifyJaccard(cand, standingSets, "existing_doc_id")
      .filter(col("jaccard") >= Dedup.CLUSTER_JACCARD)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id", "existing_doc_id")
  }

  /** Streaming twin of the q118 batch EWMA
    * ([[graft.operators.Analytics.ewma]]): each arriving CLOSED
    * per-user day (in production: the append output of a watermarked
    * 1-day window agg, or a foreachBatch off the ingest) advances the
    * user's smoother and emits one [[EwmaPoint]]. The weighted sum
    * runs in the batch twin's declared j order (newest lag first), so
    * the IEEE sequence — and therefore the r4-rounded value — is
    * IDENTICAL to q118 on the same rows (parity spec-asserted).
    *
    * Contract: days per user arrive in event-time order across
    * micro-batches (the upstream watermark's append guarantee);
    * within a micro-batch rows are sorted before replay, and a day at
    * or before the newest observed one is DROPPED — replays and
    * watermark-violating stragglers must not double-advance the
    * smoother. State is ≤[[graft.operators.Analytics.EWMA_LAGS]]
    * (dayMs, value) pairs per user — bytes, not history; an
    * event-time timeout evicts users idle past `idleTimeout`, so
    * state tracks ACTIVE users (an evicted user's series restarts at
    * the head, exactly like a new user — the smoother forgets, which
    * is what an anomaly baseline wants after a long gap). */
  def ewmaStream(daily: Dataset[DailyValue],
                 watermark: String = "1 day",
                 idleTimeoutMs: Long = 30L * 24 * 3600 * 1000): Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    val weights = graft.operators.Analytics.EWMA_WEIGHTS.map(_.toDouble)
    val maxLags = graft.operators.Analytics.EWMA_LAGS

    def fn(uid: Long, rows: Iterator[DailyValue],
           state: GroupState[EwmaState]): Iterator[EwmaPoint] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var lags = state.getOption.map(_.lags).getOrElse(Seq.empty)
        val out = rows.toSeq.sortBy(_.day.getTime).flatMap { r =>
          val ms = r.day.getTime
          if (lags.nonEmpty && ms <= lags.last._1) None
          else {
            lags = (lags :+ (ms -> r.day_value)).takeRight(maxLags)
            // newest-first = the batch twin's j order
            var num = 0.0
            var den = 0.0
            lags.reverse.zipWithIndex.foreach { case ((_, v), j) =>
              num += v * weights(j); den += weights(j)
            }
            val ewma = math.floor(num / den * 1e4 + 0.5) / 1e4
            Some(EwmaPoint(uid, r.day, r.day_value, ewma))
          }
        }
        state.update(EwmaState(lags))
        // same clamp as sessionize: >idle-stale backfill must not set a
        // timeout at-or-below the watermark (query-killing IAE)
        state.setTimeoutTimestamp(math.max(lags.last._1 + idleTimeoutMs,
          state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }
    daily
      .withWatermark("day", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
