package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus
import graft.streaming.{EventStreams, GateIndexes}

/** The corpus-compaction operational loop END TO END (VERDICT r12
  * next #5) — the weekly cycle a 100-TB ingest pipeline runs: accept
  * batches through a live gate → fold accepted batches + standing
  * snapshot into a NEW snapshot (`Corpus.compactSnapshot`) → audit
  * the published snapshot with q144's `corpusDelta` against the
  * ingested mass → rebuild the gate on the new snapshot under a fresh
  * pin group → retire the old gate's standing index. Every piece
  * existed by r12; this spec proves they compose. */
class CompactionSpec extends SparkSuite {

  private def tmp(prefix: String) =
    tempDir(prefix)

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("q145 snapshot fold: brute-force replay at sf0.001 — untouched docs keep their fingerprint, updates replace, arrivals append") {
    val sf = "/root/testdata/sf0.001"
    val Corpus = graft.operators.Corpus
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // driver-side replay of the fold's contract
    val expected = docs.map { case (id, src, text) =>
      val revised = id % Corpus.DELTA_SNAP_MOD != 4 && id % Corpus.DELTA_REV_MOD == 0
      (id, src, if (revised) text + " rev2" else text)
    }.map { case (id, src, text) =>
      (id, src, java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }.toSet
    val got = graft.SparkEntry.queries("q145_snapshot_fold")(spark, sf)
      .select(col("doc_id"), col("source"), col("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got.size == docs.length,
      "fold of arrivals+revisions over the old snapshot covers every doc once")
    assert(got == expected,
      s"fold digest drift: only-got=${(got -- expected).take(3)}, " +
        s"only-exp=${(expected -- got).take(3)}")
  }

  test("near-dup index maintenance: folding the delta's rows equals deriving from the new snapshot; the indexed gate decides identically") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val standingDir = tmp("graft_ndix_standing")
    val ingestDir = tmp("graft_ndix_ingest")
    val snapDir = tmp("graft_ndix_snap")
    val ix0 = tmp("graft_ndix_ix0")
    val ix1 = tmp("graft_ndix_ix1")
    val standing = Seq(
      (100L, "ndix alpha beta gamma delta epsilon zeta", "en", "web", 40L),
      (101L, "ndix wholly unrelated standing material words", "en", "web", 45L),
      (102L, "ndix the quick brown fox jumps over dogs", "en", "books", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    standing.write.mode("overwrite").parquet(standingDir)
    Corpus.writeNeardupIndex(sp.read.parquet(standingDir), ix0)
    // batch 0: new doc 400, revision of 102; batch 1: tombstone 101
    EventStreams.writeBatchIdempotent(Seq(
      (400L, "ndix novel arrival document with words", "en", "cc", 38L, false),
      (102L, "ndix the quick brown fox final edition", "en", "books", 38L, false))
      .toDF("doc_id", "text", "lang", "source", "n_chars",
        graft.operators.Layout.DELETED_COL), 0L, ingestDir)
    EventStreams.writeBatchIdempotent(Seq(
      (101L, "", "en", "web", 0L, true))
      .toDF("doc_id", "text", "lang", "source", "n_chars",
        graft.operators.Layout.DELETED_COL), 1L, ingestDir)
    Corpus.compactSnapshot(sp, standingDir, ingestDir, snapDir, 100L)
    Corpus.compactNeardupIndex(sp, ix0, ingestDir, ix1)

    // the folded index must equal the index DERIVED from the new
    // snapshot's text, row for row (both halves)
    val newSnap = sp.read.parquet(snapDir)
    val (foldSets, foldBands) = Corpus.readNeardupIndex(sp, ix1)
    def setRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("sh_set"), col("n_sh"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet, r.getLong(2))).toSet
    def bandRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(setRows(foldSets)
      == setRows(graft.operators.Dedup.docShingleSets(newSnap)),
      "folded shingle sets must equal derive-from-snapshot")
    assert(bandRows(foldBands)
      == bandRows(graft.operators.Dedup.mapOnlyBands(newSnap)),
      "folded band rows must equal derive-from-snapshot")

    // the gate fed from the maintained index decides exactly like the
    // derive-from-text gate on the same replay batch
    val probe = Seq(
      (900L, ts("2024-06-02 08:00:00"), "ndix novel arrival document with words"),
      (901L, ts("2024-06-02 08:00:01"), "ndix wholly unrelated standing material words"))
    def decisions(queryName: String,
                  mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  group: String): Set[(Long, Long, Double)] = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val q = mk(mem.toDF().toDF("doc_id", "ts", "text"))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try {
        mem.addData(probe: _*); q.processAllAvailable()
        sp.sql(s"SELECT doc_id, existing_doc_id, jaccard FROM $queryName")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally { q.stop(); GateIndexes.release(group) }
    }
    val viaIndex = decisions("ndix_ix", s =>
      EventStreams.neardupGateStreamIndexed(s, foldSets, foldBands,
        "1 hour", pinGroup = "ndix-ix"), "ndix-ix")
    val viaText = decisions("ndix_tx", s =>
      EventStreams.neardupGateStream(s, newSnap, "1 hour",
        pinGroup = "ndix-tx"), "ndix-tx")
    assert(viaIndex == viaText,
      s"indexed gate diverged: ix-only=${viaIndex -- viaText}, tx-only=${viaText -- viaIndex}")
    // 900 dups the ingested doc 400 (visible); 901 dups the
    // TOMBSTONED doc 101, which must be GONE from the index
    assert(viaIndex.map(x => (x._1, x._2)) == Set((900L, 400L)),
      s"exactly the ingested dup, never the tombstoned one: $viaIndex")
  }

  test("semdedup index maintenance: exact fold (challenge + orphans) equals derive from the new snapshot; the indexed gate decides identically") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val S = graft.operators.Similarity
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sf = "/root/testdata/sf0.001"
    val standingDir = tmp("graft_semix_standing")
    val ingestDir = tmp("graft_semix_ingest")
    val ix0 = tmp("graft_semix_ix0")
    val ix1 = tmp("graft_semix_ix1")
    val e = graft.sources.Tables.embeddings(sp, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sm = Corpus.DELTA_SNAP_MOD
    val rm = Corpus.DELTA_REV_MOD
    // the q150 fixture end-to-end THROUGH PARQUET: old snapshot lacks
    // ≡3, the compaction adds them, negation-revises ≡0 (mod rm) and
    // tombstones ≡4 — so the codebook gains, loses and re-centers
    // cells and all three fold branches run
    e.filter(col("vec_id") % sm =!= 3L)
      .write.mode("overwrite").parquet(standingDir)
    Corpus.writeSemdedupIndex(sp.read.parquet(standingDir), S.IVF_SEEDS, ix0)
    val rev = transform(col("v"), x => -x)
    EventStreams.writeBatchIdempotent(
      e.filter(col("vec_id") % sm =!= 4L)
        .filter(col("vec_id") % sm === 3L || col("vec_id") % rm === 0L)
        .withColumn("v", when(col("vec_id") % rm === 0L, rev).otherwise(col("v")))
        .withColumn(graft.operators.Layout.DELETED_COL, lit(false)),
      0L, ingestDir)
    EventStreams.writeBatchIdempotent(
      e.filter(col("vec_id") % sm === 4L)
        .withColumn(graft.operators.Layout.DELETED_COL, lit(true)),
      1L, ingestDir)
    Corpus.compactSemdedupIndex(sp, ix0, ingestDir, ix1, S.IVF_SEEDS)

    val newSnap = e.filter(col("vec_id") % sm =!= 4L)
      .withColumn("v", when(col("vec_id") % rm === 0L, rev).otherwise(col("v")))
    val (foldCents, foldAssign) = Corpus.readSemdedupIndex(sp, ix1)
    val derCents = S.centsOf(newSnap, S.IVF_SEEDS)
    def centRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Int]("cell"),
        r.getAs[Seq[Double]]("cv"))).toSet
    def asgRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(centRows(foldCents) == centRows(derCents),
      "folded codebook must equal predicate-filter of the new snapshot")
    val derAssign = asgRows(S.cellAssignD(newSnap, derCents))
    val gotAssign = asgRows(foldAssign)
    assert(gotAssign == derAssign,
      s"fold != derive: fold-only=${(gotAssign -- derAssign).take(3)}, " +
        s"derive-only=${(derAssign -- gotAssign).take(3)}")

    // non-vacuity: the fixture must actually exercise every branch
    val (oldCents, oldAssign) = Corpus.readSemdedupIndex(sp, ix0)
    val oldCellIds = oldCents.collect().map(_.getAs[Int]("cell")).toSet
    val newCellIds = derCents.collect().map(_.getAs[Int]("cell")).toSet
    assert((newCellIds -- oldCellIds).nonEmpty, "fixture must ADD cells")
    assert((oldCellIds -- newCellIds).nonEmpty, "fixture must REMOVE cells")
    val orphanCount = oldAssign
      .filter(col("vec_id") % sm =!= 4L && col("vec_id") % rm =!= 0L)
      .filter(col("cell").isin((oldCellIds -- newCellIds).toSeq: _*))
      .count()
    assert(orphanCount > 0, "fixture must orphan some untouched vectors")

    // the gate fed from the folded index decides exactly like the
    // derive-from-corpus gate on the same replay batch
    val probeVecs = e.filter(col("vec_id") % 97 === 0)
      .collect().map(r => (r.getLong(0) + 10000L,
        ts("2024-06-02 08:00:00"), r.getSeq[Double](1)))
    def decisions(queryName: String,
                  mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  group: String): Set[(Long, Long, Double)] = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
      val q = mk(mem.toDF().toDF("vec_id", "ts", "v"))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try {
        mem.addData(probeVecs.toSeq: _*); q.processAllAvailable()
        sp.sql(s"SELECT vec_id, existing_vec_id, cos FROM $queryName")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally { q.stop(); GateIndexes.release(group) }
    }
    val viaIndex = decisions("semix_ix", s =>
      graft.streaming.CorpusStreams.semdedupGateStreamIndexed(s, foldCents,
        foldAssign, S.SEMDEDUP_TAU, "1 hour", pinGroup = "semix-ix"), "semix-ix")
    val viaCorpus = decisions("semix_tx", s =>
      graft.streaming.CorpusStreams.semdedupGateStream(s, newSnap,
        S.IVF_SEEDS, S.SEMDEDUP_TAU, "1 hour", twoLevel = Some(false),
        pinGroup = "semix-tx"), "semix-tx")
    assert(viaIndex == viaCorpus,
      s"indexed gate diverged: ix-only=${(viaIndex -- viaCorpus).take(3)}, " +
        s"corpus-only=${(viaCorpus -- viaIndex).take(3)}")
    assert(viaIndex.nonEmpty,
      "probe cohort must trip the gate at τ (vacuous parity otherwise)")

    // SECOND weekly cycle: fold of a fold must still equal derive —
    // the index never drifts across successive compactions (the
    // production invariant; a single-cycle pin would miss stale-d2 or
    // ghost-cell errors that only compound on the next fold)
    val ingest2 = tmp("graft_semix_ingest2")
    val ix2 = tmp("graft_semix_ix2")
    EventStreams.writeBatchIdempotent(
      newSnap.filter(col("vec_id") % sm === 3L && col("vec_id") % 2L === 0L)
        .withColumn("v", transform(col("v"), x => x * lit(2.0)))
        .withColumn(graft.operators.Layout.DELETED_COL, lit(false)),
      0L, ingest2)
    EventStreams.writeBatchIdempotent(
      newSnap.filter(col("vec_id") % sm === 0L && col("vec_id") % 7L === 0L)
        .withColumn(graft.operators.Layout.DELETED_COL, lit(true)),
      1L, ingest2)
    Corpus.compactSemdedupIndex(sp, ix1, ingest2, ix2, S.IVF_SEEDS)
    val snap2 = newSnap
      .filter(!(col("vec_id") % sm === 0L && col("vec_id") % 7L === 0L))
      .withColumn("v",
        when(col("vec_id") % sm === 3L && col("vec_id") % 2L === 0L,
          transform(col("v"), x => x * lit(2.0))).otherwise(col("v")))
    val (cents2, assign2) = Corpus.readSemdedupIndex(sp, ix2)
    val derCents2 = S.centsOf(snap2, S.IVF_SEEDS)
    assert(centRows(cents2) == centRows(derCents2),
      "cycle-2 folded codebook must equal derive")
    assert(asgRows(assign2) == asgRows(S.cellAssignD(snap2, derCents2)),
      "cycle-2 fold-of-fold must equal derive — no drift across compactions")
  }

  test("LM index maintenance: the counter fold equals derive from the new snapshot through parquet batch dirs and tombstones") {
    val sp = spark
    import sp.implicits._
    val T = graft.operators.TextOps
    val standingDir = tmp("graft_lmix_standing")
    val ingestDir = tmp("graft_lmix_ingest")
    val ix0 = tmp("graft_lmix_ix0")
    val ix1 = tmp("graft_lmix_ix1")
    // small controlled corpus: shared grams across docs so removals
    // decrement counts without zeroing them, plus a gram whose ONLY
    // doc is tombstoned (must leave the model entirely)
    Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick red fox runs past the lazy cat"),
      (102L, "unique solitary phrase lives here only"),
      (103L, "the lazy dog sleeps all day long"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(standingDir)
    Corpus.writeLmIndex(sp.read.parquet(standingDir), ix0)
    // batch 0: revision of 101 (drops 'red fox', adds 'blue wolf'),
    // arrival 400; batch 1: tombstone 102 (sole owner of its grams)
    EventStreams.writeBatchIdempotent(Seq(
      (101L, "the quick blue wolf runs past the lazy cat", false),
      (400L, "a brand new document with the quick fox", false))
      .toDF("doc_id", "text", graft.operators.Layout.DELETED_COL), 0L, ingestDir)
    EventStreams.writeBatchIdempotent(Seq(
      (102L, "", true))
      .toDF("doc_id", "text", graft.operators.Layout.DELETED_COL), 1L, ingestDir)
    Corpus.compactLmIndex(sp, ix0, ingestDir, ix1)

    val newSnap = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick blue wolf runs past the lazy cat"),
      (103L, "the lazy dog sleeps all day long"),
      (400L, "a brand new document with the quick fox"))
      .toDF("doc_id", "text")
    val (dg, c12, c1) = Corpus.readLmIndex(sp, ix1)
    def dgRows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    def c12Rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def c1Rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val derDg = T.docGramCounts(newSnap)
    assert(dgRows(dg) == dgRows(derDg), "per-doc half must fold exactly")
    val derC12 = derDg.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c12"))
    val derC1 = derDg.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    assert(c12Rows(c12) == c12Rows(derC12),
      s"c12 fold drift: fold-only=${c12Rows(c12) -- c12Rows(derC12)}, " +
        s"derive-only=${c12Rows(derC12) -- c12Rows(c12)}")
    assert(c1Rows(c1) == c1Rows(derC1), "c1 fold must equal derive")
    // the tombstoned doc's exclusive grams must be GONE (zero rows
    // dropped), and a revision-removed gram must decrement, not ghost
    assert(!c1Rows(c1).exists(_._1 == "solitary"),
      "sole-owner grams of a tombstoned doc must leave the model")
    assert(!c12Rows(c12).exists(p => p._1 == "red" && p._2 == "fox"),
      "a gram removed by revision must leave when its count hits zero")

    // SECOND weekly cycle: counter fold of a fold must still equal
    // derive (a leaked contribution or double-subtraction would
    // compound) — revision of the revised doc, tombstone of 103
    val ingest2 = tmp("graft_lmix_ingest2")
    val ix2 = tmp("graft_lmix_ix2")
    EventStreams.writeBatchIdempotent(Seq(
      (101L, "the quick blue wolf sits beside the lazy cat", false))
      .toDF("doc_id", "text", graft.operators.Layout.DELETED_COL), 0L, ingest2)
    EventStreams.writeBatchIdempotent(Seq(
      (103L, "", true))
      .toDF("doc_id", "text", graft.operators.Layout.DELETED_COL), 1L, ingest2)
    Corpus.compactLmIndex(sp, ix1, ingest2, ix2)
    val snap2 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick blue wolf sits beside the lazy cat"),
      (400L, "a brand new document with the quick fox"))
      .toDF("doc_id", "text")
    val (dg2, c12b, c1b) = Corpus.readLmIndex(sp, ix2)
    val derDg2 = T.docGramCounts(snap2)
    assert(dgRows(dg2) == dgRows(derDg2), "cycle-2 per-doc half must fold exactly")
    assert(c12Rows(c12b) == c12Rows(
      derDg2.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c12"))),
      "cycle-2 c12 fold-of-fold must equal derive")
    assert(c1Rows(c1b) == c1Rows(
      derDg2.groupBy(col("w1")).agg(sum(col("c")).as("c1"))),
      "cycle-2 c1 fold-of-fold must equal derive")
  }

  test("plan shapes: the fold's anti-join broadcasts the touched keys at batch scale; delta-decon broadcasts the bench grams") {
    // q145: the LEFT_ANTI's build side is the batch-sized update-key
    // set — AQE must pick a broadcast once it sees the runtime size
    // (the standing side streams through without an exchange of its
    // own rows). Inspect the FINAL adaptive plan, post-execution.
    val q145 = graft.SparkEntry.queries("q145_snapshot_fold")(
      spark, "/root/testdata/sf0.001")
    q145.collect()
    val p145 = q145.queryExecution.executedPlan.toString
    assert(p145.contains("BroadcastHashJoin") && p145.contains("LeftAnti"),
      s"fold anti-join must broadcast the touched-key side:\n$p145")

    // q148: the bench gram set rides an explicit broadcast() (the q81
    // posture) — visible statically, no execution needed
    val p148 = graft.SparkEntry.queries("q148_delta_decon")(
      spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    assert(p148.contains("BroadcastHashJoin"),
      s"delta-decon must broadcast the bench grams:\n$p148")

    // q149: the fold's left_anti against touched keys + the union of
    // freshly-derived delta bands — no corpus-wide sort anywhere
    val q149 = graft.SparkEntry.queries("q149_band_index_fold")(
      spark, "/root/testdata/sf0.001")
    q149.collect()
    val p149 = q149.queryExecution.executedPlan.toString
    assert(p149.contains("LeftAnti"), s"index fold must anti-join touched:\n$p149")
    assert(!p149.contains("GlobalLimit 2147483647") && !p149.toLowerCase
      .split('\n').exists(l => l.contains("sort ") && l.contains("global=true")),
      s"no global sort in the index fold:\n$p149")

    // foldCellIndex, PRODUCTION shape (index from parquet): the
    // standing majority (settled survivors) must ride ONLY broadcasts
    // — anti-join touched, anti-join removed cells, one broadcast
    // array row of added cells — so the only shuffle exchanges in the
    // whole fold are the SMALL sides (orphan argmin window, delta
    // argmin window, the added-cells single-row agg). A corpus-sized
    // exchange appearing here is exactly the regression this pins.
    val S = graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ix = tmp("graft_planaudit_ix")
    graft.operators.Corpus.writeSemdedupIndex(
      e.filter(col("vec_id") % 5 =!= 3L), S.IVF_SEEDS, ix)
    val (oc, oa) = graft.operators.Corpus.readSemdedupIndex(spark, ix)
    val delta = e.filter(col("vec_id") % 5 === 3L)
    val folded = S.foldCellIndex(oc, oa, delta,
      delta.select(col("vec_id")), S.IVF_SEEDS)._2
    folded.write.format("noop").mode("overwrite").save()
    val pFold = folded.queryExecution.executedPlan.toString
    val shuffles = pFold.split('\n')
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 3,
      s"cell-index fold must not shuffle the standing side " +
        s"($shuffles non-broadcast exchanges):\n$pFold")
    assert(pFold.contains("BroadcastNestedLoopJoin") ||
        pFold.contains("BroadcastHashJoin"),
      s"the added-cells challenge must ride a broadcast:\n$pFold")
  }

  test("tombstoned batches: compaction honors takedowns last-writer-wins and q144 reports them as removals") {
    val sp = spark
    import sp.implicits._
    val standingDir = tmp("graft_tomb_standing")
    val ingestDir = tmp("graft_tomb_ingest")
    val newDir = tmp("graft_tomb_new")
    val standing = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (101L, "completely different standing content here", "en", "web", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    standing.write.mode("overwrite").parquet(standingDir)
    // batch 0 tombstones standing doc 101 (a takedown) and ACCEPTS a
    // new doc 300; batch 1 then tombstones 300 — the later writer
    // wins, so 300 must not reach the published snapshot either
    val b0 = Seq(
      (101L, "", "en", "web", 0L, true),
      (300L, "fresh takedown test document", "en", "cc", 28L, false))
      .toDF("doc_id", "text", "lang", "source", "n_chars",
        graft.operators.Layout.DELETED_COL)
    val b1 = Seq(
      (300L, "", "en", "cc", 0L, true))
      .toDF("doc_id", "text", "lang", "source", "n_chars",
        graft.operators.Layout.DELETED_COL)
    graft.streaming.EventStreams.writeBatchIdempotent(b0, 0L, ingestDir)
    graft.streaming.EventStreams.writeBatchIdempotent(b1, 1L, ingestDir)

    Corpus.compactSnapshot(sp, standingDir, ingestDir, newDir, 100L)
    val newSnap = sp.read.parquet(newDir)
    assert(newSnap.select("doc_id").as[Long].collect().toSet == Set(100L),
      "101 tombstoned in batch 0; 300 accepted then tombstoned by the later batch")
    val delta = Corpus.corpusDelta(sp.read.parquet(standingDir), newSnap)
      .filter(col("source") === "web")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(6))).head
    assert(delta == ((0L, 1L, 5L)),
      s"q144 must report the takedown: added=0, removed=1, tok_removed=5: $delta")
  }

  test("compaction loop: fold batches last-writer-wins, q144 audits the delta, rebuilt gate matches the batch twin, old pins retire") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    // ---- standing snapshot v1 (full documents schema) ----
    val standingDir = tmp("graft_compact_standing")
    val ingestDir = tmp("graft_compact_ingest")
    val newDir = tmp("graft_compact_new")
    val standing = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (101L, "completely different standing content here", "en", "web", 43L),
      (102L, "the quick brown fox jumps over dogs", "en", "books", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    standing.write.mode("overwrite").parquet(standingDir)

    // ---- accepted ingest batches (writeBatchIdempotent layout) ----
    // batch 0: one brand-new doc + a REVISION of standing doc 102
    // batch 1: another new doc, plus a second revision of doc 102
    //          (last writer must win) and a replayed copy of doc 200
    //          overwriting its own batch dir (idempotent layout)
    val b0 = Seq(
      (200L, "novel ingest document number one", "en", "web", 32L),
      (102L, "the quick brown fox revised edition", "en", "books", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = Seq(
      (201L, "second fresh arrival with words", "en", "cc", 31L),
      (102L, "the quick brown fox final edition", "en", "books", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    EventStreams.writeBatchIdempotent(b0, 0L, ingestDir)
    EventStreams.writeBatchIdempotent(b0, 0L, ingestDir) // replay: overwrite, not append
    EventStreams.writeBatchIdempotent(b1, 1L, ingestDir)

    // ---- the old gate, live over standing v1 ----
    val before = persistedIds
    val mem0 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val oldGate = EventStreams.neardupGateStream(
        mem0.toDF().toDF("doc_id", "ts", "text"), sp.read.parquet(standingDir),
        watermark = "1 hour", pinGroup = "compact-old")
      .writeStream.format("memory").queryName("compact_old")
      .outputMode("append").start()
    try {
      mem0.addData((300L, ts("2024-06-01 08:00:00"), "alpha beta gamma delta epsilon zeta"))
      oldGate.processAllAvailable()
      assert(sp.sql("SELECT * FROM compact_old").count() == 1L,
        "old gate must flag the standing near-dup before compaction")
    } finally oldGate.stop()
    val oldPins = persistedIds -- before
    assert(oldPins.nonEmpty, "old gate must hold pinned standing indexes")

    // ---- compact: fold ingest into a NEW snapshot directory ----
    val nFiles = Corpus.compactSnapshot(sp, standingDir, ingestDir, newDir,
      targetRowsPerFile = 2L)
    val newSnap = sp.read.parquet(newDir)
    // 3 standing + 2 new, doc 102 once (batch-1 revision wins)
    assert(newSnap.count() == 5L)
    assert(newSnap.filter(col("doc_id") === 102L)
      .select("text").as[String].collect().toSeq
      == Seq("the quick brown fox final edition"),
      "last writer (batch 1) must win for the twice-revised doc")
    assert(newSnap.filter(col("doc_id") === 100L)
      .select("text").as[String].head() == "alpha beta gamma delta epsilon zeta",
      "untouched standing docs survive unchanged")
    // single-pass contract: no file exceeds the row target, the
    // returned count matches the listing, and rows are conserved
    // (exact file COUNT is a function of task layout, not promised)
    val partFiles = new java.io.File(newDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath)
    assert(partFiles.length.toLong == nFiles)
    assert(partFiles.forall(p => sp.read.parquet(p).count() <= 2L),
      "every published file must respect targetRowsPerFile")

    // ---- q144 audits the published snapshot against the ingested mass ----
    val delta = Corpus.corpusDelta(sp.read.parquet(standingDir), newSnap)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    // (added, removed, changed, unchanged, tok_added, tok_removed)
    assert(delta("web") == ((1L, 0L, 0L, 2L, 5L, 0L)),
      s"web: one 5-token add, both standing docs unchanged: ${delta("web")}")
    assert(delta("cc") == ((1L, 0L, 0L, 0L, 5L, 0L)),
      s"cc: the batch-1 arrival: ${delta("cc")}")
    assert(delta("books") == ((0L, 0L, 1L, 0L, 6L, 7L)),
      s"books: doc 102 changed, new mass 6 replaces old 7: ${delta("books")}")

    // ---- swap: rebuild the gate on the NEW snapshot, fresh group ----
    val mem1 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val newGate = EventStreams.neardupGateStream(
        mem1.toDF().toDF("doc_id", "ts", "text"), newSnap,
        watermark = "1 hour", pinGroup = "compact-new")
      .writeStream.format("memory").queryName("compact_new")
      .outputMode("append").start()
    try {
      // retire the OLD gate's standing index now that its query is
      // stopped and the new gate is live — the surgical release
      GateIndexes.release("compact-old")
      assert((persistedIds & oldPins).isEmpty,
        "retired gate's standing index must leave the cache")

      // replay a batch against the new gate: a near-dup of an
      // INGESTED doc (invisible to the old snapshot) plus the old
      // batch's standing near-dup — decisions must be bit-identical
      // to the batch twin run against the new snapshot
      val replay = Seq(
        (300L, ts("2024-06-01 09:00:00"), "alpha beta gamma delta epsilon zeta"),
        (301L, ts("2024-06-01 09:00:01"), "novel ingest document number one"))
      mem1.addData(replay: _*)
      newGate.processAllAvailable()
      val got = sp.sql("SELECT doc_id, existing_doc_id, jaccard FROM compact_new")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((300L, 100L, 1.0), (301L, 200L, 1.0)),
        s"post-compaction gate must flag against the NEW standing state: $got")
    } finally {
      newGate.stop()
      GateIndexes.release("compact-new")
    }
    assert((persistedIds -- before).isEmpty,
      "full retirement must drain every pin this loop took")
  }

  test("sessionIndexDir: one index dir per (session root, name, corpus), written once, under the session's temp root") {
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
      .getCanonicalPath
    assert(root != new java.io.File(".").getCanonicalPath,
      "the session root must be the driver's temp directory, not the working directory")
    var writes = 0
    def dirFor(name: String, corpus: String): String =
      Corpus.sessionIndexDir(name, corpus) { p =>
        writes += 1
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      }
    val a = dirFor("spec_ix", "/corpus/a")
    assert(new java.io.File(a).getCanonicalPath.startsWith(root + java.io.File.separator),
      s"$a is not under the session root $root")
    assert(new java.io.File(a).isDirectory)
    assert(dirFor("spec_ix", "/corpus/a") == a)
    assert(writes == 1, "a second call must return the memoized path without rewriting it")
    val b = dirFor("spec_ix", "/corpus/b")
    val c = dirFor("other_ix", "/corpus/a")
    assert(Set(a, b, c).size == 3 && writes == 3)
  }
}
