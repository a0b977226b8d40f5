package graft.tools

import org.apache.spark.sql.functions._

/**
 * Prices the streaming ingest gates' PER-BATCH cost as the standing
 * state grows — the direct test of the "ingest cost scales with the
 * batch, never the corpus" claim after the round-11 idempotency
 * rework made all state batch-keyed (a batch now lists/reads
 * `batch_id < N` partitions, so the thing to measure is whether
 * per-batch wall drifts upward with batch count).
 *
 * Usage: `run <sfDir> <nBatches>` — splits the documents table into
 * nBatches equal hash-slices, drives
 * [[graft.streaming.CorpusStreams.ingestManifestBatch]] and
 * [[graft.streaming.CorpusStreams.ingestDatasheetBatch]] over them in
 * order against fresh state dirs, and prints one JSON line with the
 * per-batch walls (first-half vs second-half medians summarize the
 * drift).
 */
object StreamIngestProbe {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; s((s.size - 1) / 2)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val spark = graft.Session.local()
    val docs = graft.sources.Tables.documents(spark, dir).cache()
    docs.count()
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_probe").toString
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    def drive(run: (org.apache.spark.sql.DataFrame, Long) => Unit)
    : Seq[Double] =
      (0 until n).map { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(n)) === b)
        val t0 = System.nanoTime()
        run(batch, b.toLong)
        val w = (System.nanoTime() - t0) / 1e9
        Console.err.println(s"[probe] batch $b ${f3(w)}s")
        w
      }

    Console.err.println("[probe] phase: manifest")
    val manifest = drive((b, id) =>
      graft.streaming.CorpusStreams.ingestManifestBatch(b, id,
        s"$base/manifest", corpusHasLines = false,
        target = graft.operators.Analytics.SHARD_TOKENS,
        minStops = graft.operators.Corpus.Q125_MIN_STOPS))
    Console.err.println("[probe] phase: datasheet")
    val sheet = drive((b, id) =>
      graft.streaming.CorpusStreams.ingestDatasheetBatch(b, id,
        s"$base/sheet", corpusHasLines = false))
    Console.err.println("[probe] phase: drift")
    val drift = drive((b, id) =>
      graft.streaming.CorpusStreams.ingestDriftBatch(b, id, s"$base/drift"))

    // ---- the three readStream gates (VERDICT r11 next #6): real
    // MemoryStream queries, ONE timed processAllAvailable per batch —
    // per-batch wall staying flat across n batches is the direct
    // evidence that their standing state (watermark-bounded dedup
    // keys; the quota gate's ≤quota admitted-id sets) never turns
    // into per-batch cost growth
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val S = graft.operators.Similarity
    val t0ms = java.sql.Timestamp.valueOf("2024-05-01 10:00:00").getTime

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    Console.err.println("[probe] phase: semdedup gate")
    val semWalls = {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val standing = e.filter(col("vec_id") % S.SEM_INCR_MOD =!= S.SEM_INCR_MOD - 1)
      val incoming = e.filter(col("vec_id") % S.SEM_INCR_MOD === S.SEM_INCR_MOD - 1)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
      val q = graft.streaming.CorpusStreams
        .semdedupGateStream(mem.toDF().toDF("vec_id", "ts", "v"), standing,
          S.IVF_SEEDS, S.SEMDEDUP_TAU, "1 hour", pinGroup = "probe-sem")
        .writeStream.format("memory").queryName("probe_sem")
        .outputMode("append").start()
      val walls = try (0 until n).map { b =>
        val slice = incoming.filter(x => (x._1 / S.SEM_INCR_MOD) % n == b)
          .map(x => (x._1, new java.sql.Timestamp(t0ms + b * 60000L), x._2))
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      }
      // release this gate's standing pin before the next phase — the
      // later phases' walls must not be measured under a retired
      // phase's cached index (and a processAllAvailable failure must
      // not leak the running query)
      finally {
        q.stop(); graft.streaming.GateIndexes.release("probe-sem")
      }
      walls
    }

    Console.err.println("[probe] phase: neardup gate")
    val neardupWalls = {
      val standing = docs.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = graft.streaming.EventStreams
        .neardupGateStream(mem.toDF().toDF("doc_id", "ts", "text"), standing,
          watermark = "1 hour", pinGroup = "probe-nd")
        .writeStream.format("memory").queryName("probe_nd")
        .outputMode("append").start()
      val walls = try (0 until n).map { b =>
        val slice = incoming.filter(x => (x._1 / 4) % n == b)
          .map(x => (x._1, new java.sql.Timestamp(t0ms + b * 60000L), x._2))
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      }
      finally {
        q.stop(); graft.streaming.GateIndexes.release("probe-nd")
      }
      walls
    }

    Console.err.println("[probe] phase: quota gate")
    val quotaWalls = {
      val all = docs.select(col("doc_id"), col("source")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[graft.streaming.QuotaDoc]
      val q = graft.streaming.CorpusStreams
        .quotaGateStream(mem.toDS(), graft.operators.Analytics.SOURCE_QUOTA)
        .writeStream.format("memory").queryName("probe_quota")
        .outputMode("append").start()
      val walls = try (0 until n).map { b =>
        val slice = all.filter(x => x._1 % n == b)
          .map(x => graft.streaming.QuotaDoc(x._1, x._2,
            new java.sql.Timestamp(t0ms + b * 60000L)))
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      }
      finally q.stop()
      walls
    }

    // ---- the r13 compaction gate-swap (VERDICT r12 next #5), priced:
    // fold the accepted quarter (as n idempotent batch dirs) into the
    // standing snapshot, rebuild the neardup gate on the published
    // snapshot under a FRESH pin group, replay the same batches, and
    // measure (a) the compaction wall itself, (b) per-batch gate cost
    // staying flat against the BIGGER post-swap standing state, (c)
    // the retired group's pins actually leaving the cache.
    Console.err.println("[probe] phase: compaction gate swap")
    val (compactSecs, postSwapWalls, pinsDrained, swapRowsFolded) = {
      val standingDir = s"$base/swap_standing"
      val ingestDir = s"$base/swap_ingest"
      val newDir = s"$base/swap_new"
      docs.filter(col("doc_id") % 4 =!= 3).write.parquet(standingDir)
      (0 until n).foreach { b =>
        graft.streaming.EventStreams.writeBatchIdempotent(
          docs.filter(col("doc_id") % 4 === 3 &&
            // integer division: Column `/` is float division, and
            // pmod of a fractional quotient never equals an integer
            // batch id — that wrote all n batch dirs EMPTY (r13
            // probe bug; the compaction phase priced a no-op)
            pmod(expr("doc_id div 4"), lit(n)) === b), b.toLong, ingestDir)
      }
      val tC = timed {
        graft.operators.Corpus.compactSnapshot(spark, standingDir, ingestDir,
          newDir, targetRowsPerFile = 1000000L)
      }
      Console.err.println(s"[probe] compactSnapshot ${f3(tC)}s")
      // fold must actually fold: standing (3/4) + accepted batches
      // (1/4, disjoint ids) == the full corpus. Asserted loudly so a
      // batch-split bug can never again price a no-op compaction.
      val foldedRows = spark.read.parquet(newDir).count()
      val expectRows = docs.count()
      require(foldedRows == expectRows,
        s"compaction folded $foldedRows rows, expected $expectRows — " +
          "ingest batch split wrote empty/partial dirs")
      val incoming = docs.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = graft.streaming.EventStreams
        .neardupGateStream(mem.toDF().toDF("doc_id", "ts", "text"),
          spark.read.parquet(newDir).select(col("doc_id"), col("text")),
          watermark = "1 hour", pinGroup = "probe-nd2")
        .writeStream.format("memory").queryName("probe_nd2")
        .outputMode("append").start()
      val walls = try (0 until n).map { b =>
        val slice = incoming.filter(x => (x._1 / 4) % n == b)
          .map(x => (x._1, new java.sql.Timestamp(t0ms + b * 60000L), x._2))
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      } finally {
        q.stop(); graft.streaming.GateIndexes.release("probe-nd2")
      }
      val drained = (spark.sparkContext.getPersistentRDDs.keySet.toSet
        -- before).isEmpty
      (tC, walls, drained, foldedRows)
    }

    // ---- the r14 semdedup index swap (VERDICT r13 next #1), priced:
    // persist the standing cell index once, fold the accepted
    // embedding quarter through compactSemdedupIndex (exact — q150),
    // rebuild the gate FROM THE FOLDED INDEX, replay the batches, and
    // measure (a) the one-time index write, (b) the fold itself, (c)
    // per-batch indexed-gate cost, (d) pins draining on release.
    Console.err.println("[probe] phase: semdedup index swap")
    val (semWriteSecs, semFoldSecs, semixWalls, semixDrained) = {
      val eAll = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .cache()
      eAll.count()
      val standingDir = s"$base/semix_standing"
      val ingestDir = s"$base/semix_ingest"
      val ix0 = s"$base/semix_ix0"
      val ix1 = s"$base/semix_ix1"
      eAll.filter(col("vec_id") % 4 =!= 3).write.parquet(standingDir)
      val tW = timed {
        graft.operators.Corpus.writeSemdedupIndex(
          spark.read.parquet(standingDir), S.IVF_SEEDS, ix0)
      }
      Console.err.println(s"[probe] writeSemdedupIndex ${f3(tW)}s")
      (0 until n).foreach { b =>
        graft.streaming.EventStreams.writeBatchIdempotent(
          eAll.filter(col("vec_id") % 4 === 3 &&
            pmod(expr("vec_id div 4"), lit(n)) === b)
            .withColumn(graft.operators.Layout.DELETED_COL, lit(false)),
          b.toLong, ingestDir)
      }
      val tF = timed {
        graft.operators.Corpus.compactSemdedupIndex(spark, ix0, ingestDir,
          ix1, S.IVF_SEEDS)
      }
      Console.err.println(s"[probe] compactSemdedupIndex ${f3(tF)}s")
      val incoming = eAll.filter(col("vec_id") % 4 === 3)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (cents, assign) = graft.operators.Corpus.readSemdedupIndex(spark, ix1)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
      val q = graft.streaming.CorpusStreams
        .semdedupGateStreamIndexed(mem.toDF().toDF("vec_id", "ts", "v"),
          cents, assign, S.SEMDEDUP_TAU, "1 hour", pinGroup = "probe-semix")
        .writeStream.format("memory").queryName("probe_semix")
        .outputMode("append").start()
      val walls = try (0 until n).map { b =>
        val slice = incoming.filter(x => (x._1 / 4) % n == b)
          .map(x => (x._1, new java.sql.Timestamp(t0ms + b * 60000L), x._2))
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      } finally {
        q.stop(); graft.streaming.GateIndexes.release("probe-semix")
      }
      val drained = (spark.sparkContext.getPersistentRDDs.keySet.toSet
        -- before).isEmpty
      eAll.unpersist()
      (tW, tF, walls, drained)
    }

    // ---- the r14 LM quality gate (q153/lmGateStream), priced: write
    // the standing LM index once, score n arriving batches against
    // the PINNED model via the foreachBatch gate, measure per-batch
    // walls flat (batch-bounded scoring; the model is static), fold
    // the index across a compaction (additive counters) and verify
    // the retired pins drain.
    Console.err.println("[probe] phase: lm gate")
    val (lmWriteSecs, lmFoldSecs, lmWalls, lmDrained) = {
      val standingDocs = docs.filter(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"))
      val ix0 = s"$base/lm_ix0"
      val ix1 = s"$base/lm_ix1"
      val ingestDir = s"$base/lm_ingest"
      val tW = timed { graft.operators.Corpus.writeLmIndex(standingDocs, ix0) }
      Console.err.println(s"[probe] writeLmIndex ${f3(tW)}s")
      val (_, c12, c1) = graft.operators.Corpus.readLmIndex(spark, ix0)
      val arriving = docs.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.CorpusStreams.lmGateStream(
        mem.toDF().toDF("doc_id", "text"), c12, c1,
        s"$base/lm_out", s"$base/lm_ckpt", pinGroup = "probe-lm")
      val walls = try (0 until n).map { b =>
        val slice = arriving.filter(x => (x._1 / 4) % n == b)
        timed { mem.addData(slice.toSeq: _*); q.processAllAvailable() }
      } finally {
        q.stop(); graft.streaming.GateIndexes.release("probe-lm")
      }
      val drained = (spark.sparkContext.getPersistentRDDs.keySet.toSet
        -- before).isEmpty
      // the weekly fold: accepted quarter as batch dirs → compactLmIndex
      (0 until n).foreach { b =>
        graft.streaming.EventStreams.writeBatchIdempotent(
          docs.filter(col("doc_id") % 4 === 3 &&
            pmod(expr("doc_id div 4"), lit(n)) === b)
            .select(col("doc_id"), col("text"))
            .withColumn(graft.operators.Layout.DELETED_COL, lit(false)),
          b.toLong, ingestDir)
      }
      val tF = timed {
        graft.operators.Corpus.compactLmIndex(spark, ix0, ingestDir, ix1)
      }
      Console.err.println(s"[probe] compactLmIndex ${f3(tF)}s")
      (tW, tF, walls, drained)
    }

    Console.err.println("[probe] phase: embdrift")
    val embdrift = {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v")).cache()
      e.count()
      (0 until n).map { b =>
        val batch = e.filter(pmod(col("vec_id"), lit(n)) === b)
        val t0 = System.nanoTime()
        graft.streaming.CorpusStreams
          .ingestEmbDriftBatch(batch, b.toLong, s"$base/embdrift")
        val w = (System.nanoTime() - t0) / 1e9
        Console.err.println(s"[probe] batch $b ${f3(w)}s")
        w
      }
    }

    def halves(xs: Seq[Double]) =
      (median(xs.take(n / 2)), median(xs.drop(n / 2)))
    val (m1, m2) = halves(manifest)
    val (s1, s2) = halves(sheet)
    val (d1, d2) = halves(drift)
    val (se1, se2) = halves(semWalls)
    val (nd1, nd2) = halves(neardupWalls)
    val (qu1, qu2) = halves(quotaWalls)
    val (ed1, ed2) = halves(embdrift)
    val (ps1, ps2) = halves(postSwapWalls)
    val json =
      s"""{"metric":"stream_ingest_probe","sf_dir":"$dir","n_batches":$n,""" +
        s""""manifest_walls":[${manifest.map(f3).mkString(",")}],""" +
        s""""datasheet_walls":[${sheet.map(f3).mkString(",")}],""" +
        s""""drift_walls":[${drift.map(f3).mkString(",")}],""" +
        s""""semdedup_walls":[${semWalls.map(f3).mkString(",")}],""" +
        s""""neardup_walls":[${neardupWalls.map(f3).mkString(",")}],""" +
        s""""quota_walls":[${quotaWalls.map(f3).mkString(",")}],""" +
        s""""embdrift_walls":[${embdrift.map(f3).mkString(",")}],""" +
        s""""compact_secs":${f3(compactSecs)},""" +
        s""""swap_rows_folded":$swapRowsFolded,""" +
        s""""sem_index_write_secs":${f3(semWriteSecs)},""" +
        s""""sem_index_fold_secs":${f3(semFoldSecs)},""" +
        s""""semix_walls":[${semixWalls.map(f3).mkString(",")}],""" +
        s""""semix_half_medians":[${f3(median(semixWalls.take(n / 2)))},${
          f3(median(semixWalls.drop(n / 2)))}],""" +
        s""""semix_pins_drained":$semixDrained,""" +
        s""""lm_index_write_secs":${f3(lmWriteSecs)},""" +
        s""""lm_index_fold_secs":${f3(lmFoldSecs)},""" +
        s""""lmgate_walls":[${lmWalls.map(f3).mkString(",")}],""" +
        s""""lmgate_half_medians":[${f3(median(lmWalls.take(n / 2)))},${
          f3(median(lmWalls.drop(n / 2)))}],""" +
        s""""lmgate_pins_drained":$lmDrained,""" +
        s""""post_swap_walls":[${postSwapWalls.map(f3).mkString(",")}],""" +
        s""""post_swap_half_medians":[${f3(ps1)},${f3(ps2)}],""" +
        s""""retired_pins_drained":$pinsDrained,""" +
        s""""manifest_half_medians":[${f3(m1)},${f3(m2)}],""" +
        s""""datasheet_half_medians":[${f3(s1)},${f3(s2)}],""" +
        s""""drift_half_medians":[${f3(d1)},${f3(d2)}],""" +
        s""""semdedup_half_medians":[${f3(se1)},${f3(se2)}],""" +
        s""""neardup_half_medians":[${f3(nd1)},${f3(nd2)}],""" +
        s""""quota_half_medians":[${f3(qu1)},${f3(qu2)}],""" +
        s""""embdrift_half_medians":[${f3(ed1)},${f3(ed2)}]}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("stream_ingest_probe.json"), json)
    println(json)
    spark.stop()
  }
}
