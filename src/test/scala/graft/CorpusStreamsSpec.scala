package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.CorpusStreams

/** Stream/batch parity for the manifest-on-ingest pipeline (VERDICT
  * r9 next #6): the foreachBatch ingest must reproduce
  * [[graft.operators.Corpus.trainingManifest]]'s decisions exactly,
  * continue shard offsets across micro-batches, and stay replay-safe.
  * All runs use the corpus-calibrated q125 stop-word gate so the
  * funnel actually passes documents at test scale. */
class CorpusStreamsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def minStops = graft.operators.Corpus.Q125_MIN_STOPS
  private def target = graft.operators.Analytics.SHARD_TOKENS

  private def freshDir() =
    tempDir("graft_manifest_stream")

  /** Each of `batches` written as one parquet file into a fresh dir,
    * with increasing modification times, and that dir read back as a
    * file-source stream taking one file per micro-batch: micro-batch n
    * of the stream is file n. Returns the stream and every file read
    * back as a batch DataFrame. */
  private def fileBatches(batches: Seq[DataFrame]): (DataFrame, Seq[DataFrame]) = {
    val (ingest, stage) = (tempDir("graft_file_stream"), tempDir("graft_file_stage"))
    val files = batches.zipWithIndex.map { case (b, i) =>
      b.coalesce(1).write.parquet(s"$stage/$i")
      val part = new java.io.File(s"$stage/$i").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val file = new java.io.File(s"$ingest/batch-$i.parquet")
      java.nio.file.Files.move(part.toPath, file.toPath)
      assert(file.setLastModified(1700000000000L + i * 1000L))
      file.getPath
    }
    val schema = spark.read.parquet(files.head).schema
    (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(ingest),
      files.map(spark.read.parquet(_)))
  }

  test("semdedupGateStream: stream pairs == the q105b batch increment; replays emit once") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val S = graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % S.SEM_INCR_MOD =!= S.SEM_INCR_MOD - 1)
    val incomingDf = e.filter(col("vec_id") % S.SEM_INCR_MOD === S.SEM_INCR_MOD - 1)
    val expected = S
      .semanticDedupIncrement(standing, incomingDf, S.IVF_SEEDS, S.SEMDEDUP_TAU)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "fixture must exhibit cross-corpus semantic near-dups")

    val incoming = incomingDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "ts", "v")
    val q = CorpusStreams
      .semdedupGateStream(stream, standing, S.IVF_SEEDS, S.SEMDEDUP_TAU, "1 hour")
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    try {
      val (b1, b2) = incoming.splitAt(incoming.length / 2)
      mem.addData(b1.map(x => (x._1, t0, x._2)).toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.map(x => (x._1, t0, x._2)).toSeq: _*)
      q.processAllAvailable()
      // crash-replay: a slice of batch 1 redelivered later
      mem.addData(b1.take(8).map(x => (x._1, t0, x._2)).toSeq: _*)
      q.processAllAvailable()
      val rows = sp.sql("SELECT vec_id, existing_vec_id, cos FROM semgate")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.length == rows.toSet.size, s"replay duplicated a pair: ${rows.toSeq}")
      assert(rows.toSet == expected,
        s"stream/batch divergence: stream-only=${rows.toSet -- expected}, " +
          s"batch-only=${expected -- rows.toSet}")
    } finally q.stop()
  }

  test("semdedupGateStream two-level: forced ivf2 stream pairs == the q105c batch twin") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val S = graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % S.SEM_INCR_MOD =!= S.SEM_INCR_MOD - 1)
    val incomingDf = e.filter(col("vec_id") % S.SEM_INCR_MOD === S.SEM_INCR_MOD - 1)
    val expected = S
      .semanticDedupIncrement(standing, incomingDf, S.IVF_SEEDS, S.SEMDEDUP_TAU,
        twoLevel = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "two-level fixture must exhibit cross-corpus near-dups")
    val incoming = incomingDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val stream = mem.toDF().toDF("vec_id", "ts", "v")
    val q = CorpusStreams
      .semdedupGateStream(stream, standing, S.IVF_SEEDS, S.SEMDEDUP_TAU,
        "1 hour", twoLevel = Some(true))
      .writeStream.format("memory").queryName("semgate2")
      .outputMode("append").start()
    try {
      mem.addData(incoming.map(x => (x._1, t0, x._2)).toSeq: _*)
      q.processAllAvailable()
      val rows = sp.sql("SELECT vec_id, existing_vec_id, cos FROM semgate2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.length == rows.toSet.size, "duplicate pair emitted")
      assert(rows.toSet == expected,
        s"two-level stream/batch divergence: stream-only=${rows.toSet -- expected}, " +
          s"batch-only=${expected -- rows.toSet}")
    } finally q.stop()
  }

  test("ingestEmbDriftBatch: batch-1 log equals q143 on the same split; first batch silent; accumulation and replay idempotent") {
    val S = graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % S.SEM_INCR_MOD =!= S.SEM_INCR_MOD - 1)
    val incoming = e.filter(col("vec_id") % S.SEM_INCR_MOD === S.SEM_INCR_MOD - 1)
    val dir = freshDir()
    // batch 0 = the standing slice: no prior state, the log must be
    // SILENT (q143's inner-join semantics — nothing to compare against)
    CorpusStreams.ingestEmbDriftBatch(standing, 0L, dir)
    assert(CorpusStreams.embDriftLog(spark, dir)
      .filter(col("batch_id") === 0).count() == 0L)
    // batch 1 = the incoming slice: the log row per label must equal
    // the batch operator on the SAME split, value for value
    CorpusStreams.ingestEmbDriftBatch(incoming, 1L, dir)
    def logRows() = CorpusStreams.embDriftLog(spark, dir)
      .filter(col("batch_id") === 1)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val got = logRows()
    val expected = S.embeddingDrift(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == expected && got.nonEmpty,
      s"stream log != batch q143:\n got $got\n want $expected")
    // crash replay: the same batch redelivered overwrites itself
    CorpusStreams.ingestEmbDriftBatch(incoming, 1L, dir)
    assert(logRows() == expected, "replayed batch must not change the log")
    // batch 2: standing mass now includes batches 0 AND 1
    CorpusStreams.ingestEmbDriftBatch(incoming, 2L, dir)
    val n01 = e.groupBy(col("label")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    CorpusStreams.embDriftLog(spark, dir).filter(col("batch_id") === 2)
      .collect().foreach { r =>
        assert(r.getLong(2) == n01(r.getInt(1)),
          s"batch-2 standing count must accumulate batches 0+1: $r")
      }
  }

  test("quotaGateStream: cap continues across batches, counts match the batch cap, replays emit once") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.QuotaDoc
    val quota = graft.operators.Analytics.SOURCE_QUOTA
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    val all = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"))
      .collect().map(r => QuotaDoc(r.getLong(0), r.getString(1), t0))
    val arrivals = all.groupBy(_.source).view.mapValues(_.length).toMap

    val mem = MemoryStream[QuotaDoc]
    val q = graft.streaming.CorpusStreams.quotaGateStream(mem.toDS(), quota)
      .writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      // crash-replay: a slice of batch 1 redelivered after the cap is
      // already exhausted for most sources
      mem.addData(b1.take(40).toSeq: _*); q.processAllAvailable()
      val rows = sp.sql("SELECT doc_id, source, qrank FROM qgate").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.length == rows.map(_._1).distinct.length,
        "a replayed doc was admitted twice")
      rows.groupBy(_._2).foreach { case (src, rs) =>
        assert(rs.length == math.min(quota, arrivals(src).toLong),
          s"$src admitted ${rs.length} of ${arrivals(src)} (quota $quota)")
        assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
          s"$src qrank not a dense admission sequence")
      }
      // every source appears — the gate caps, it must not starve
      assert(rows.map(_._2).distinct.length == arrivals.size)
    } finally q.stop()
  }

  test("ingestDriftBatch: batch-1 log equals the library JS between the halves; replay idempotent") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val out = freshDir()
    CorpusStreams.ingestDriftBatch(a, 0L, out)
    CorpusStreams.ingestDriftBatch(b, 1L, out)
    def logRows() = CorpusStreams.driftLog(spark, out)
      .filter(col("batch_id") === 1).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet
    val got = logRows()
    // expected: the shared jsDivergence core over the same two sides
    val counts = graft.operators.Corpus
      .gramBuckets(a.withColumn("inc", lit(0L))
        .union(b.withColumn("inc", lit(1L))),
        graft.operators.Corpus.DSIR_BUCKETS)
      .groupBy(col("source"), col("b"))
      .agg(sum(col("inc")).as("c_i"), sum(lit(1L) - col("inc")).as("c_s"))
    val ndB = b.groupBy(col("source")).agg(count(lit(1)).as("n_docs_batch"))
    val expected = graft.operators.Corpus
      .jsDivergence(counts, docs.select(col("source")).distinct(),
        graft.operators.Corpus.DSIR_BUCKETS)
      .join(ndB, Seq("source"), "left")
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(4)) 0L else r.getLong(4),
        r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected,
      s"stream-only=${got -- expected}\nbatch-only=${expected -- got}")
    // batch 0 scored against EMPTY standing state
    val b0 = CorpusStreams.driftLog(spark, out)
      .filter(col("batch_id") === 0).collect()
    assert(b0.nonEmpty && b0.forall(_.getLong(3) == 0L),
      "batch 0 must read zero standing grams")
    // crash-replay: re-running batch 1 rewrites identical partitions
    CorpusStreams.ingestDriftBatch(b, 1L, out)
    assert(logRows() == got, "replay changed the drift log")
  }

  test("driftStream: the sink's log over a file-source stream equals ingestDriftBatch on the same batches") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val (stream, batches) = fileBatches(Seq(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1)))
    val (sunk, direct) = (tempDir("graft_drift_sink"), tempDir("graft_drift_direct"))
    val q = CorpusStreams.driftStream(stream, sunk, tempDir("graft_drift_ckpt"))
    try q.processAllAvailable() finally q.stop()
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusStreams.ingestDriftBatch(b, i.toLong, direct)
    }
    def rows(dir: String) =
      CorpusStreams.driftLog(spark, dir).collect().map(_.toSeq).toSet
    val got = rows(sunk)
    assert(got.map(_.head.toString) == Set("0", "1"), s"batches logged: $got")
    assert(got == rows(direct),
      s"sink-only=${got -- rows(direct)}\ndirect-only=${rows(direct) -- got}")
  }

  test("embDriftStream: the sink's log over a file-source stream equals ingestEmbDriftBatch on the same batches") {
    val S = graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val (stream, batches) = fileBatches(Seq(
      e.filter(col("vec_id") % S.SEM_INCR_MOD =!= S.SEM_INCR_MOD - 1),
      e.filter(col("vec_id") % S.SEM_INCR_MOD === S.SEM_INCR_MOD - 1)))
    val (sunk, direct) = (tempDir("graft_edrift_sink"), tempDir("graft_edrift_direct"))
    val q = CorpusStreams.embDriftStream(stream, sunk, tempDir("graft_edrift_ckpt"))
    try q.processAllAvailable() finally q.stop()
    batches.zipWithIndex.foreach { case (b, i) =>
      CorpusStreams.ingestEmbDriftBatch(b, i.toLong, direct)
    }
    def rows(dir: String) =
      CorpusStreams.embDriftLog(spark, dir).collect().map(_.toSeq).toSet
    val got = rows(sunk)
    // batch 0 has no standing state, so only batch 1 logs
    assert(got.map(_.head.toString) == Set("1"), s"batches logged: $got")
    assert(got == rows(direct),
      s"sink-only=${got -- rows(direct)}\ndirect-only=${rows(direct) -- got}")
  }

  test("single-batch ingest from empty state reproduces the batch manifest bit-for-bit") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val out = freshDir()
    CorpusStreams.ingestManifestBatch(docs, 0L, out,
      corpusHasLines = false, target = target, minStops = minStops)
    val streamed = CorpusStreams.shardManifest(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val batch = graft.operators.Corpus
      .trainingManifest(docs, corpusHasLines = false, target = target,
        minStops = minStops)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(streamed.nonEmpty, "empty manifest proves nothing")
    assert(streamed == batch)
  }

  test("multi-batch ingest: keep decisions match batch; offsets continue; shard bound holds") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val out = freshDir()
    // arrival order: two halves by doc_id parity — NOT hash order, so
    // cross-batch shard composition legitimately differs from batch
    // mode while decisions and totals must not
    CorpusStreams.ingestManifestBatch(docs.filter(col("doc_id") % 2 === 0),
      0L, out, corpusHasLines = false, target = target, minStops = minStops)
    CorpusStreams.ingestManifestBatch(docs.filter(col("doc_id") % 2 === 1),
      1L, out, corpusHasLines = false, target = target, minStops = minStops)

    val rows = spark.read.parquet(s"$out/manifest")
      .select("doc_id", "source", "n_tok", "shard_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // 1. kept docs = the batch twin's survivors (decisions are
    //    order-independent)
    val batchDocs = {
      import graft.operators.{Corpus, Dedup, TextOps}
      val keyed = docs.withColumn("h", Dedup.normText(col("text")))
      val canon = keyed.groupBy(md5(col("h")).as("hh"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val dd = docs.join(canon, Seq("doc_id"), "left_semi")
      val pass = TextOps.gopherFlags(dd, corpusHasLines = false, minStops)
        .filter(col("gopher_pass") === 1).select("doc_id")
      dd.filter(Corpus.splitAssign(col("doc_id")) === "train")
        .join(pass, Seq("doc_id"), "left_semi")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(rows.map(_._1).toSet == batchDocs, "kept-doc sets diverged")
    // 2. per-source token totals equal the batch twin's
    val streamTotals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val batchTotals = graft.operators.Corpus
      .trainingManifest(docs, corpusHasLines = false, target = target,
        minStops = minStops)
      .groupBy("source").agg(sum("shard_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamTotals == batchTotals, "per-source token mass diverged")
    // 3. q119 invariant: no shard exceeds target + one doc's tokens,
    //    and shard ids are a contiguous prefix per source
    rows.groupBy(r => (r._2, r._4)).foreach { case ((s, sid), rs) =>
      val tok = rs.map(_._3).sum
      val maxDoc = rs.map(_._3).max
      assert(tok <= target + maxDoc, s"shard ($s,$sid) over target: $tok")
    }
    rows.groupBy(_._2).foreach { case (s, rs) =>
      val ids = rs.map(_._4).distinct.sorted.toSeq
      assert(ids == (0L until ids.size.toLong).toSeq,
        s"source $s shard ids not contiguous: $ids")
    }
  }

  test("manifestStream end-to-end: the writeStream wiring ingests micro-batches and matches the batch manifest") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val out = freshDir()
    val ckpt = freshDir()
    val mem = MemoryStream[(Long, String, String)]
    val q = CorpusStreams.manifestStream(
      mem.toDF().toDF("doc_id", "source", "text"), out, ckpt,
      corpusHasLines = false, target = target, minStops = minStops)
    try {
      // whole corpus in ONE micro-batch → bit-identical to batch mode
      mem.addData(docs.toSeq: _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
    } finally q.stop()
    val streamed = CorpusStreams.shardManifest(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val batch = graft.operators.Corpus
      .trainingManifest(graft.sources.Tables.documents(spark, sf),
        corpusHasLines = false, target = target, minStops = minStops)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("a replayed micro-batch neither duplicates manifest rows nor double-advances state") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val out = freshDir()
    val half = docs.filter(col("doc_id") % 2 === 0)
    CorpusStreams.ingestManifestBatch(half, 0L, out,
      corpusHasLines = false, target = target, minStops = minStops)
    val before = spark.read.parquet(s"$out/manifest").count()
    val offBefore = spark.read.parquet(s"$out/state_offsets").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // crash-replay of the SAME batch id
    CorpusStreams.ingestManifestBatch(half, 0L, out,
      corpusHasLines = false, target = target, minStops = minStops)
    assert(spark.read.parquet(s"$out/manifest").count() == before)
    val offAfter = spark.read.parquet(s"$out/state_offsets").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(offAfter == offBefore, "offsets double-advanced on replay")

    // the data-loss crash window the r11 rework closes: die AFTER the
    // state writes but BEFORE the marker (simulated by deleting the
    // marker) — under the old append-mode hashes the replay anti-joined
    // the batch against its OWN hashes and overwrote its manifest
    // partition with zero rows
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_batches/batch_id=0"), true)
    CorpusStreams.ingestManifestBatch(half, 0L, out,
      corpusHasLines = false, target = target, minStops = minStops)
    assert(spark.read.parquet(s"$out/manifest").count() == before,
      "mid-crash replay lost the batch's manifest rows")
    val offCrash = spark.read.parquet(s"$out/state_offsets").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(offCrash == offBefore, "mid-crash replay corrupted offsets")
  }

  test("datasheet-on-ingest: single batch matches the batch card; dups detected across batches; replay-safe") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val hasLines = docs
      .agg(max(col("text").contains("\n").cast("int")).as("h"))
      .head().getInt(0) == 1
    val out = freshDir()
    CorpusStreams.ingestDatasheetBatch(docs, 0L, out, hasLines)
    def card(dir: String) = CorpusStreams.datasheet(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    val streamed = card(out)
    val batchCard = graft.operators.Corpus.sourceDatasheet(docs, hasLines)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(streamed.nonEmpty && streamed == batchCard,
      "single-batch card must equal the batch q131 on every shared column")

    // cross-batch dedup: replay HALF the corpus as a later batch — every
    // doc's hash is already standing, so all of batch 1 counts as dup
    val out2 = freshDir()
    val a = docs.filter(col("doc_id") % 2 === 0)
    CorpusStreams.ingestDatasheetBatch(a, 0L, out2, hasLines)
    CorpusStreams.ingestDatasheetBatch(a, 1L, out2, hasLines)
    val c2 = spark.read.parquet(s"$out2/sheet_counters")
      .agg(sum(col("n_docs")), sum(col("n_dups"))).head()
    val nA = a.count()
    assert(c2.getLong(0) == 2 * nA, "both batches must be counted")
    // dups after the replayed content: batch-1 in-batch dups + ALL of
    // batch 2 (every hash already standing)
    val inBatchDups = {
      val out3 = freshDir()
      CorpusStreams.ingestDatasheetBatch(a, 0L, out3, hasLines)
      spark.read.parquet(s"$out3/sheet_counters")
        .agg(sum(col("n_dups"))).head().getLong(0)
    }
    assert(c2.getLong(1) == inBatchDups + nA,
      s"cross-batch dups: got ${c2.getLong(1)}, want $inBatchDups + $nA")
    // THIRD arrival of the same content (ADVICE r10): under the old
    // append-without-anti-join state, the standing set held the hash
    // twice by now and the dup join doubled every row — counts must
    // stay exactly linear in arrivals instead
    CorpusStreams.ingestDatasheetBatch(a, 2L, out2, hasLines)
    val c3 = spark.read.parquet(s"$out2/sheet_counters")
      .agg(sum(col("n_docs")), sum(col("n_dups"))).head()
    assert(c3.getLong(0) == 3 * nA,
      s"third arrival inflated n_docs: got ${c3.getLong(0)}, want ${3 * nA}")
    assert(c3.getLong(1) == inBatchDups + 2 * nA,
      s"third-arrival dups: got ${c3.getLong(1)}, want $inBatchDups + ${2 * nA}")
    // the standing hash set stays unique per hash across re-arrivals
    val hashes = spark.read.parquet(s"$out2/sheet_hashes")
    assert(hashes.count() == hashes.select("h").distinct().count(),
      "standing hash set holds duplicate hashes")

    // crash-replay of the SAME batch id leaves the counters unchanged
    val before = card(out)
    CorpusStreams.ingestDatasheetBatch(docs, 0L, out, hasLines)
    assert(card(out) == before, "counters double-advanced on replay")

    // partial-crash replay: simulate dying AFTER the delta + hash
    // writes but BEFORE the marker (the ADVICE r10 medium scenario) by
    // deleting the marker and re-ingesting — the batch-keyed overwrite
    // discipline must reconverge instead of double-counting, even
    // though the batch's own hashes are already on disk
    val marker = new org.apache.hadoop.fs.Path(s"$out2/_sheet_batches/batch_id=2")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(marker, true)
    CorpusStreams.ingestDatasheetBatch(a, 2L, out2, hasLines)
    val c4 = spark.read.parquet(s"$out2/sheet_counters")
      .agg(sum(col("n_docs")), sum(col("n_dups"))).head()
    assert((c4.getLong(0), c4.getLong(1)) == (c3.getLong(0), c3.getLong(1)),
      "mid-batch crash replay did not reconverge")
  }

  test("a crash during the very first hashes write does not wedge replay (empty dir, no partitions)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val hasLines = false
    val out = freshDir()
    // simulate dying after mkdir but before any partition committed
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/sheet_hashes"))
    CorpusStreams.ingestDatasheetBatch(docs, 0L, out, hasLines)
    assert(CorpusStreams.datasheet(spark, out).count() > 0,
      "replay over an empty hashes dir must reconverge, not fail")
  }

  test("datasheet LM refresh: card with the hook on matches the FULL batch q131, mean_logp included") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val hasLines = docs
      .agg(max(col("text").contains("\n").cast("int")).as("h"))
      .head().getInt(0) == 1
    def fullCard(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toMap
    // two batches, refresh every 2 → the refresh fires on batch 1 over
    // the accumulated corpus; every counter column AND mean_logp must
    // equal the batch card on the same rows
    val out = freshDir()
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    CorpusStreams.ingestDatasheetBatch(a, 0L, out, hasLines, lmRefreshEvery = 2)
    assert(CorpusStreams.datasheet(spark, out).filter(col("mean_logp").isNotNull)
      .count() == 0, "mean_logp must stay null before the first refresh")
    CorpusStreams.ingestDatasheetBatch(b, 1L, out, hasLines, lmRefreshEvery = 2)
    val streamed = fullCard(CorpusStreams.datasheet(spark, out))
    val batch = fullCard(graft.operators.Corpus.sourceDatasheet(docs, hasLines))
    assert(streamed.nonEmpty && streamed == batch,
      "post-refresh card must equal the batch q131 including mean_logp")
    // with the hook OFF no doc text is retained
    val out2 = freshDir()
    CorpusStreams.ingestDatasheetBatch(a, 0L, out2, hasLines)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out2/sheet_docs")),
      "hook off must not retain corpus text")
  }

  test("lmGateStream: batch verdicts equal q153-style scoring against the standing index; unseen grams back off; replay and release clean") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val T = graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 5 =!= 3L)
    val arriving = docs.filter(col("doc_id") % 5 === 3L)
      .withColumn("text",
        concat(col("text"), lit(" zzunseen" ), (col("doc_id") % 7).cast("string")))
    val ix = freshDir()
    graft.operators.Corpus.writeLmIndex(standing, ix)
    val (_, c12, c1) = graft.operators.Corpus.readLmIndex(sp, ix)
    val out = freshDir(); val ckpt = freshDir()
    val rows = arriving.collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val mem = MemoryStream[(Long, String)]
    val q = CorpusStreams.lmGateStream(mem.toDF().toDF("doc_id", "text"),
      c12, c1, out, ckpt, pinGroup = "lmgate-spec")
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
    } finally q.stop()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .nonEmpty, "the gate must pin the standing model")
    def verdicts(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"), col("flagged"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getInt(3))))
      .toMap
    val streamed = verdicts(sp.read.parquet(out))
    val batch = verdicts(T.lmScoreAgainst(arriving, c12, c1)
      .withColumn("flagged",
        (col("avg_logp") < T.LM_FLAG_THRESH).cast("int")))
    assert(streamed.nonEmpty && streamed == batch,
      s"stream != batch: only-stream=${(streamed.toSet -- batch.toSet).take(3)}, " +
        s"only-batch=${(batch.toSet -- streamed.toSet).take(3)}")
    // the appended zzunseen tokens are standing-absent by construction:
    // the backoff path must have actually scored (strictly lower than a
    // doc's standing-gram average would allow everywhere); weak but
    // non-vacuous check: at least one arriving doc is flagged
    assert(streamed.values.exists(_._3 == 1),
      "unseen-gram backoff should flag at least one arriving doc")
    // replayed batch rewrites its own partition bit-identically
    CorpusStreams.ingestLmScoreBatch(
      arriving.filter(col("doc_id").isin(b1.map(_._1).toSeq: _*)),
      0L, out, c12, c1)
    assert(verdicts(sp.read.parquet(out)) == streamed,
      "a replayed batch must not change the verdict table")
    // release drains exactly the gate's two pins (c12 + c1); the
    // bigramStream self-caches are library residency, not gate pins
    val afterRun = spark.sparkContext.getPersistentRDDs.keySet.toSet
    graft.streaming.GateIndexes.release("lmgate-spec")
    val afterRelease = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(afterRelease.size <= afterRun.size - 2,
      s"released gate pins (c12+c1) must drain: $afterRun -> $afterRelease")
  }
}
