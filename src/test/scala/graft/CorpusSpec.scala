package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus

/** Library-surface checks for the corpus-prep operators: chunk
  * boundary arithmetic, split determinism/shape, per-group sample
  * bounds and BM25 ranking sanity on a hand-sized fixture. The
  * hash-exact gates are the q64–q67 DuckDB oracles. */
class CorpusSpec extends SparkSuite {

  test("chunkDocs: 64/48 windows clip at the doc end, empty docs vanish") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 3 chunks: 64, 52, 4
      (2L, "solo"),                                    // 1 chunk: 1
      (3L, "   ")                                      // 0 tokens: no rows
    ).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(out == Map((1L, 0) -> 64, (1L, 1) -> 52, (1L, 2) -> 4, (2L, 0) -> 1))
  }

  test("chunk fingerprints: overlapping chunks of identical token runs collide") {
    val s = spark
    import s.implicits._
    // 112 identical tokens: chunk 0 (64 tokens) and chunk 1 (tokens
    // 48..112, also 64) are the same text, so the dedup key collides
    val docs = Seq((1L, Seq.fill(112)("x").mkString(" "))).toDF("doc_id", "text")
    val fps = Corpus.chunkDocs(docs).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
    assert(fps.length == 3)
    assert(fps(0)._2 == 64 && fps(1)._2 == 64 && fps(2)._2 == 16)
    assert(fps(0)._3 == fps(1)._3, "identical chunk text, identical fp")
    assert(fps(0)._3 != fps(2)._3)
  }

  test("splitAssign is deterministic and roughly 80/10/10") {
    val s = spark
    import s.implicits._
    val ids = (1L to 1000L).toDF("doc_id")
    val a = ids.select(col("doc_id"), Corpus.splitAssign(col("doc_id")).as("sp"))
    val counts = a.groupBy("sp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 40 && counts("val") < 180)
    assert(counts("test") > 40 && counts("test") < 180)
    // repartitioned re-run lands every id in the same split
    val b = ids.repartition(7)
      .select(col("doc_id"), Corpus.splitAssign(col("doc_id")).as("sp"))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("hashSamplePerGroup: k deterministic rows per group, rank 1..k") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
    val out = Corpus.hashSamplePerGroup(df, "grp", "id", k = 4)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == 12)
    assert(rows.groupBy(_._1).forall(_._2.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4)))
    val again = Corpus.hashSamplePerGroup(df.repartition(13), "grp", "id", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSet == again.toSet)
  }

  test("bm25: tf and rarity rank docs; zero-hit docs are absent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark spark join window"), // hits every term, highest tf
      (2L, "join window data"),
      (3L, "data table scan")          // no query term: not retrieved
    ).toDF("doc_id", "text")
    val out = Corpus.bm25(docs, topDocs = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 > out(1)._2 && out(1)._2 > 0.0)
  }

  test("lm quality: fixture parity with a hand-rolled add-one bigram model") {
    val s = spark
    import s.implicits._
    val fixture = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "z z"), (4L, "solo"))
    val got = graft.operators.TextOps.lmQualityScores(fixture.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute force with the same float discipline (r6 per term, r4 emit)
    def r(x: Double, d: Double) = math.floor(x * d + 0.5) / d
    val bigrams = fixture.flatMap { case (id, t) =>
      val tk = t.split(" "); tk.sliding(2).filter(_.length == 2)
        .map(p => (id, p(0), p(1))).toSeq
    }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size)
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size)
    val v = bigrams.map(_._2).distinct.size
    val want = bigrams.groupBy(_._1).map { case (id, bs) =>
      val slp = bs.map { case (_, w1, w2) =>
        r(math.log((c12((w1, w2)) + 1).toDouble / (c1(w1) + v)), 1e6)
      }.sum
      id -> (bs.size.toLong, r(slp / bs.size, 1e4))
    }
    assert(!got.contains(4L), "single-token doc has no bigrams")
    assert(got == want, s"got $got want $want")
  }

  test("weighted sample: exact A-ES replication and weight-proportional bias") {
    val dir = "/root/testdata/sf0.001"
    val got = Corpus.queries("q98_weighted_sample")(spark, dir).collect()
      .map(_.getLong(0)).toSet
    // replicate the md5-draw + exponential-key selection in plain Scala
    val orders = graft.sources.Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def u(k: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${k}_ws".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / (1L << 28).toDouble
    }
    val want = orders.map { case (k, p) => (math.log(u(k)) / p, k) }
      .sortBy { case (key, k) => (-key, k) }.take(100).map(_._2).toSet
    assert(got == want, s"sample mismatch: ${got.diff(want)} / ${want.diff(got)}")
    // weight-proportionality: sampled mean price well above the corpus mean
    val sampled = orders.filter(o => got(o._1)).map(_._2)
    val all = orders.map(_._2)
    assert(sampled.sum / sampled.length > 1.2 * all.sum / all.length,
      "high-value orders must be overrepresented")
  }

  test("corpus pipeline: q100 verdicts = first-failing stage of the standalone queries") {
    val dir = "/root/testdata/sf0.001"
    def byDoc(q: String) = SparkEntry.queries(q)(spark, dir).collect()
    val got = byDoc("q100_corpus_pipeline")
      .map(r => r.getLong(0) -> r.getString(3)).toMap

    def evalSet(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${id}_bench".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 100 < Corpus.BENCH_PCT
    }
    // standalone stage outputs
    val exactGroups = byDoc("q18_exact_dedup")
    assert(exactGroups.forall(_.getLong(2) == 1L),
      "fixture corpus has no exact dups; stage verified vacuously")
    val nearDropped = byDoc("q92_dedup_keep")
      .filter(_.getInt(2) == 0).map(_.getLong(0)).toSet
    val rep = byDoc("q61_repetition_stats")
      .map(r => r.getLong(0) -> (r.getLong(1), !r.isNullAt(5) && r.getBoolean(5))).toMap
    val lmFlag = byDoc("q94_lm_quality")
      .filter(_.getInt(3) == 1).map(_.getLong(0)).toSet
    val contam = byDoc("q81_decontaminate")
      .filter(_.getDouble(3) > Corpus.CONTAM_FRAC).map(_.getLong(0)).toSet

    got.foreach { case (id, verdict) =>
      val (nWords, isRep) = rep.getOrElse(id, (0L, false))
      val want =
        if (evalSet(id)) "eval_set"
        else if (nearDropped(id)) "near_dup"
        else if (nWords < Corpus.MIN_TOKENS) "too_short"
        else if (isRep) "repetitive"
        else if (lmFlag(id)) "low_lm"
        else if (contam(id)) "contaminated"
        else "kept"
      assert(verdict == want, s"doc $id: got $verdict want $want")
    }
    // the funnel actually fires
    val counts = got.values.groupBy(identity).view.mapValues(_.size)
    assert(counts("kept") > 0 && counts.size >= 4, s"degenerate funnel: $counts")
  }

  test("q107 line rules: lined fixture computes fractions both sides of the bounds; unlined corpus yields typed NULLs") {
    import graft.operators.TextOps
    val s = spark
    import s.implicits._
    val lined = Seq(
      // 3 of 4 non-empty lines bulleted (0.75 <= 0.9 -> ok), none ellipsis
      (1L, "- alpha one\n- beta two\n\n- gamma three\nplain line here"),
      // all lines bulleted (1.0 > 0.9 -> fail)
      (2L, "* item one\n* item two\n• item three"),
      // 2 of 3 lines end with an ellipsis (0.6667 > 0.3 -> fail)
      (3L, "word one...\nand another line…\nplain tail")
    ).toDF("doc_id", "text")
    val got = TextOps.gopherFlags(lined, corpusHasLines = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = got(id).getDouble(got(id).fieldIndex(c))
    def v(id: Long, c: String) = got(id).getInt(got(id).fieldIndex(c))
    assert(f(1L, "bullet_frac") == 0.75 && v(1L, "ok_bullet") == 1)
    assert(f(1L, "ellipsis_frac") == 0.0 && v(1L, "ok_ellipsis") == 1)
    assert(f(2L, "bullet_frac") == 1.0 && v(2L, "ok_bullet") == 0)
    assert(f(3L, "ellipsis_frac") == 0.6667 && v(3L, "ok_ellipsis") == 0)
    assert(v(3L, "gopher_pass") == 0, "a failed line rule must fail the conjunction")

    // the registered query's guard fires on the real (unlined) corpus:
    // typed NULLs, conjunction spans the word rules only
    val q = graft.SparkEntry.queries("q107_gopher_flags")(spark, "/root/testdata/sf0.001")
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("bullet_frac")) &&
        r.isNullAt(r.fieldIndex("ok_bullet")) &&
        r.isNullAt(r.fieldIndex("ellipsis_frac")) &&
        r.isNullAt(r.fieldIndex("ok_ellipsis")),
        "line rules must be NULL on a corpus without newlines")
    }
    // no doc on this corpus passes (the synthetic text lacks the
    // canonical stopwords) — so pin the conjunction arithmetic, not a
    // pass count: with the line rules NULL, gopher_pass must equal the
    // word-rule conjunction exactly
    rows.foreach { r =>
      def v(c: String) = r.getInt(r.fieldIndex(c))
      val want = if (v("ok_wordcount") == 1 && v("ok_wordlen") == 1 &&
        v("ok_symbols") == 1 && v("ok_alpha") == 1 && v("ok_stop") == 1) 1 else 0
      assert(v("gopher_pass") == want, s"doc ${r.getLong(0)} conjunction drift")
    }
  }

  test("q106b calibrated cuts: sketch certified, tertile-ish composition per language") {
    val rows = graft.SparkEntry.queries("q106b_ccnet_calibrated")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(r.fieldIndex("head_cut_ok")) == 1,
        s"approx head cut outside the ±2% rank bracket for ${r.getString(0)}")
      assert(r.getInt(r.fieldIndex("mid_cut_ok")) == 1,
        s"approx mid cut outside the ±2% rank bracket for ${r.getString(0)}")
      assert(r.getDouble(r.fieldIndex("head_cut")) >= r.getDouble(r.fieldIndex("mid_cut")),
        "cut ordering inverted")
    }
    // per-language composition: buckets partition the scored docs into
    // roughly thirds (4-dp score ties can shift mass across a cut)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val byBucket = rs.map(r => r.getString(1) -> r.getLong(2)).toMap
      val total = byBucket.values.sum
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"$lang missing a bucket: ${byBucket.keySet}")
      byBucket.foreach { case (b, n) =>
        val frac = n.toDouble / total
        assert(frac > 0.15 && frac < 0.55, s"$lang/$b fraction $frac not tertile-ish")
      }
    }
  }

  test("q108 plan: one keyed agg picks the canonical chunk — no window, two chunk shuffles") {
    val df = graft.SparkEntry.queries("q108_chunk_dedup")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "canonical pick must be the min-struct aggregate, not a window over all chunks")
    // the chunk stream crosses the wire exactly twice (chunk_fp agg +
    // distinct (chunk_fp, doc_id) pairs); the only other shuffle
    // exchange carries the already-distinct pairs into the n_docs agg
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 3, s"expected 3 shuffle exchanges, saw $shuffles in:\n$plan")

    // parity with the superseded window formulation (same output set —
    // the round-8 oracle hash must not move)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getInt(4))).toSet
    assert(rows.nonEmpty, "no duplicated chunks at sf0.001 — fixture degenerate")
    val ch = graft.operators.Corpus
      .chunkDocs(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .select(col("chunk_fp"), col("doc_id"), col("chunk_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_fp")).orderBy(col("doc_id").asc, col("chunk_id").asc)
    val dup = ch.groupBy("chunk_fp").agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
    val nDocs = ch.select("chunk_fp", "doc_id").distinct()
      .groupBy("chunk_fp").agg(count(lit(1)).as("n_docs"))
    val canon = ch.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("chunk_fp"), col("doc_id").as("canon_doc"),
        col("chunk_id").as("canon_chunk"))
    val old = dup.join(nDocs, Seq("chunk_fp")).join(canon, Seq("chunk_fp"))
      .select(col("chunk_fp"), col("n_copies"), col("n_docs"),
        col("canon_doc"), col("canon_chunk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(rows == old, "collapsed q108 diverges from the window formulation")
  }

  private def md5_16(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  test("chunkKeepRewrite: clone docs collapse to empty, intact docs reconstruct exactly") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).map(i => s"a$i")
    val b = (1 to 70).map(i => s"b$i")
    // doc 4 shares doc 1's first chunk (a1..a64) then diverges
    val d = a.take(64) ++ (1 to 36).map(i => s"c$i")
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, a.mkString(" ")), // exact clone of doc 1
      (3L, b.mkString(" ")),
      (4L, d.mkString(" "))
    ).toDF("doc_id", "text")
    val out = Corpus.chunkKeepRewrite(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    // doc 1: canonical everywhere — full reconstruction
    assert(out(1L) == ((3L, 3L, 100L, md5_16(a.mkString(" ")))))
    // doc 2: every chunk's canon lives in doc 1 — rebuilds to empty
    assert(out(2L) == ((3L, 0L, 0L, md5_16(""))))
    // doc 3: unique vocabulary — intact
    assert(out(3L) == ((2L, 2L, 70L, md5_16(b.mkString(" ")))))
    // doc 4: chunk 0 (a1..a64) is doc 1's; chunks 1 (a49..a64 c1..c36)
    // and 2 (c33..c36) are unique → rebuilt = tokens 49..100
    assert(out(4L) == ((3L, 2L, 52L, md5_16(d.drop(48).mkString(" ")))))
  }

  test("chunkKeepRewrite: intra-doc repetition collapses overlapping identical chunks") {
    val s = spark
    import s.implicits._
    // 112 identical tokens: chunk 0 and chunk 1 share a fingerprint,
    // so the repetition run squeezes 112 → 48 + 16 surviving tokens
    val docs = Seq((1L, Seq.fill(112)("x").mkString(" "))).toDF("doc_id", "text")
    val out = Corpus.chunkKeepRewrite(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq((3L, 2L, 64L,
      md5_16(Seq.fill(64)("x").mkString(" ")))))
  }

  test("q108b corpus invariant: docs that lose no chunks reconstruct their token stream") {
    val df = graft.SparkEntry.queries("q108b_chunk_keep")(spark, "/root/testdata/sf0.001")
    val expected = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        substring(md5(array_join(
          graft.functions.VectorFns.tokens(col("text")), " ")), 1, 16)
          .as("orig_fp"))
    val joined = df.join(expected, Seq("doc_id")).cache()
    try {
      val intactBad = joined
        .filter(col("n_kept") === col("n_chunks") &&
          col("text_fp") =!= col("orig_fp")).count()
      assert(intactBad == 0, "an intact doc failed byte-exact reconstruction")
      val intact = joined.filter(col("n_kept") === col("n_chunks")).count()
      val trimmed = joined.filter(col("n_kept") < col("n_chunks")).count()
      assert(intact > 0, "fixture degenerate: no intact docs")
      assert(trimmed > 0, "fixture degenerate: no doc lost a chunk at sf0.001")
      // no window in the plan — canonical pick stays the min-struct agg
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "q108b must not window the chunk stream")
    } finally joined.unpersist()
  }

  test("dsirWeights: target-like docs score positive, raw-only docs negative; gram counts exact") {
    val s = spark
    import s.implicits._
    // target sources speak 'gold', the raw tail speaks 'junk'; the
    // bucket LMs must pull the two vocabularies apart. B=32 keeps the
    // fixture's four distinct grams in distinct buckets (checked) while
    // keeping add-one smoothing small next to the gram counts — the
    // production B=512 would drown a 7-doc corpus in smoothing mass.
    val docs = Seq(
      (1L, "gold gold gold gold", "src0"),
      (2L, "gold gold gold gold", "src1"),
      (3L, "gold gold gold gold", "src2"),
      (4L, "gold gold gold gold", "src3"),
      (7L, "junk junk junk junk", "src9"),
      (8L, "junk junk junk junk", "src8"),
      (5L, "gold gold gold gold", "src9"), // target-like text, raw source
      (6L, "", "src9")                     // zero tokens: drops out
    ).toDF("doc_id", "text", "source")
    val out = Corpus.dsirWeights(docs, buckets = 32).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 7L, 8L),
      "zero-token doc must drop")
    // 4 unigrams + 3 bigrams
    assert(out.values.forall(_._1 == 7L))
    Seq(1L, 2L, 3L, 4L, 5L).foreach { id =>
      assert(out(id)._2 > 0 && out(id)._3 == 1,
        s"doc $id is target-like, got ${out(id)}")
    }
    Seq(7L, 8L).foreach { id =>
      assert(out(id)._2 < 0 && out(id)._3 == 0,
        s"doc $id is raw-only, got ${out(id)}")
    }
    // identical text ⇒ identical weight regardless of the doc's own source
    assert(out(1L)._2 == out(5L)._2)
  }

  test("dsirResample: Gumbel-top-k draws exactly the driver-replayed sample, importance-ordered") {
    val s = spark
    import s.implicits._
    // reuse the dsirWeights fixture; k=4 of the 7 scoring docs
    val docs = Seq(
      (1L, "gold gold gold gold", "src0"),
      (2L, "gold gold gold gold", "src1"),
      (3L, "gold gold gold gold", "src2"),
      (4L, "gold gold gold gold", "src3"),
      (7L, "junk junk junk junk", "src9"),
      (8L, "junk junk junk junk", "src8"),
      (5L, "gold gold gold gold", "src9"),
      (6L, "", "src9")
    ).toDF("doc_id", "text", "source")
    val out = Corpus.dsirResample(docs, buckets = 32, k = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.length == 4 && out.map(_._1).distinct.length == 4,
      "k distinct docs without replacement")
    // driver replay of the draw: sum_llr (from the weights avg — the
    // fixture's docs all have 7 grams) minus ln(-ln u)
    def h7(x: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7), 16)
    def gumbel(id: Long) = -math.log(-math.log((h7(id + "_dsir") + 0.5) / 268435456.0))
    val wts = Corpus.dsirWeights(docs, buckets = 32).collect()
      .map(r => r.getLong(0) -> r.getDouble(2) * 7.0).toMap // avg_llr·n ≈ sum_llr
    val model = wts.map { case (id, llr) => id -> (llr + gumbel(id)) }
      .toSeq.sortBy { case (id, k) => (-k, id) }.take(4).map(_._1)
    assert(out.map(_._1).toSeq == model,
      s"draw diverged: ${out.toSeq} vs $model")
    // the returned keys are rank-ordered (TakeOrdered semantics)
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.reverse.toSeq)
    // all-gold docs carry higher keys' EXPECTATION than junk: with
    // equal Gumbel noise bounds, the 2 junk docs should rarely both
    // enter — here, deterministically, assert at least 3 of the 4
    // drawn are target-like (fixture-checked, not probabilistic)
    assert(out.map(_._1).count(Set(1L, 2L, 3L, 4L, 5L)) >= 3)
  }

  test("centroidClassifier: separated vocabularies classify by geometry, not by label") {
    val s = spark
    import s.implicits._
    // positives speak fruit, negatives speak rock; doc 5 is fruity
    // text under a NON-target label — the negative centroid absorbs
    // 1/4 fruit mass but geometry still pulls it positive (the whole
    // point of classifier-based quality filtering: score the TEXT)
    val docs = Seq(
      (1L, "apple apple banana", "tgt"),
      (2L, "banana apple apple", "tgt"),
      (3L, "rock stone rock", "other"),
      (4L, "stone rock stone", "other"),
      (5L, "apple banana apple", "probe"),
      (6L, "rock stone stone", "probe")
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.TextOps
      .centroidClassifier(docs, targets = Seq("tgt"), buckets = 64)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2), r.getInt(3))))
      .toMap // doc_id -> (qc_score, is_target, predicted)
    assert(out(1L)._1 > 0 && out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(2L)._1 > 0 && out(2L)._2 == 1 && out(2L)._3 == 1)
    assert(out(3L)._1 < 0 && out(3L)._2 == 0 && out(3L)._3 == 0)
    assert(out(4L)._1 < 0 && out(4L)._2 == 0 && out(4L)._3 == 0)
    assert(out(5L)._1 > 0 && out(5L)._2 == 0 && out(5L)._3 == 1,
      s"fruity probe must classify positive: ${out(5L)}")
    assert(out(6L)._1 < 0 && out(6L)._2 == 0 && out(6L)._3 == 0)
    // identical-direction vectors tie exactly: docs 1 and 2 are the
    // same bag of words, so scores are bit-equal
    assert(out(1L)._1 == out(2L)._1)
  }

  test("bpeTrain: merge order, leftmost-nonoverlapping merges, and the compression curve, hand-computed") {
    val s = spark
    import s.implicits._
    // vocab: 'aaa' ×2, 'bb' ×1.
    // r1: (a,a) weight 4 wins; '_a_a_a_' merges LEFTMOST-ONLY → '_aa_a_'
    //     (published BPE), symbols = 2·2 + 2·1 = 6
    // r2: (aa,a) weight 2 wins → '_aaa_', symbols = 1·2 + 2·1 = 4
    // r3: (b,b) weight 1 is the only pair left → '_bb_', symbols = 3
    val docs = Seq((1L, "aaa bb aaa"), (2L, "aaa")).toDF("doc_id", "text")
    // freq(aaa)=3, freq(bb)=1 → weights: r1 (a,a)=6, r2 (aa,a)=3, r3 (b,b)=1
    val out = Corpus.bpeTrain(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "a a", 6L, 3L * 2 + 1L * 2),
      (2, "aa a", 3L, 3L * 1 + 1L * 2),
      (3, "b b", 1L, 3L * 1 + 1L * 1)), s"got ${out.toSeq}")
  }

  test("bpeSegment: the trained merges collapse the fixture vocab to single symbols") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "aaa bb aaa"), (2L, "aaa")).toDF("doc_id", "text")
    val seg = Corpus.bpeSegment(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getString(3)))
      .toMap
    // r1 merges (a,a) → '_aa_a_', r2 (aa,a) → '_aaa_', r3 (b,b) → '_bb_'
    assert(seg == Map("aaa" -> (3L, 1, "_aaa_"), "bb" -> (1L, 1, "_bb_")))
  }

  test("q115 plan: the segmented vocab broadcasts onto the token stream") {
    val df = Corpus.queries("q115_bpe_encode")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab dim must broadcast:\n$plan")
    val out = df.collect()
    assert(out.length == 500)
    // fertility is bounded by character count: 1 ≤ symbols/word ≤ longest word
    assert(out.forall { r =>
      val spw = r.getDouble(3); spw >= 1.0 && spw <= 16.0 })
  }

  test("bpeTrain: frequency ties break lexicographically — engine-stable argmax") {
    val s = spark
    import s.implicits._
    // (a,b) and (b,a) both weight 2 → 'a b' wins by pair ASC
    val docs = Seq((1L, "ab ab ba ba")).toDF("doc_id", "text")
    val first = Corpus.bpeTrain(docs, rounds = 1).collect()(0)
    assert(first.getString(1) == "a b" && first.getLong(2) == 2L)
  }

  test("q111 blocklist: hit counts, distinct-term csv, and the C4 keep verdict; map-only plan") {
    val df = graft.operators.TextOps.queries("q111_blocklist")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"q111 must not shuffle:\n$plan")
    val rows = df.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (hits, blocked, csv, keep) =
        (r.getLong(2), r.getLong(3), r.getString(4), r.getInt(5))
      assert((keep == 1) == (hits == 0L))
      assert((blocked == 0L) == (csv == ""))
      assert(blocked <= hits, "distinct terms cannot exceed occurrences")
      if (csv.nonEmpty) {
        val terms = csv.split(",").toSeq
        assert(terms == terms.sorted && terms.distinct == terms)
        assert(terms.forall(graft.operators.TextOps.BLOCK_TERMS.contains))
      }
    }
    // 'dup' is present in the corpus: the filter must actually fire
    assert(rows.exists(_.getInt(5) == 0), "expected at least one dropped doc")
  }

  test("q110 plan: every dim rides a broadcast — no sort-merge join anywhere") {
    val df = Corpus.queries("q110_dsir_weights")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"q110 dims (B-row LMs, 1-row totals) must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("splitContamination: equals a driver-side brute force over sf0.001") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(id: Long) = java.lang.Long.parseLong(md5hex(id.toString).take(7), 16) % 100
    def gramSet(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.replaceAll("\\s+", " ")
        .split("\\s+").filter(_.nonEmpty)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map(w => md5hex(w.mkString(" "))).toSet
    }
    val train = docs.filter { case (id, _) => bucket(id) < 80 }
      .map { case (id, t) => id -> gramSet(t) }.filter(_._2.nonEmpty)
    val testG = docs.filter { case (id, _) => bucket(id) >= 90 }
      .flatMap { case (_, t) => gramSet(t) }.toSet
    val expected = train.map { case (id, g) =>
      id -> (g.size.toLong, g.count(testG.contains).toLong) }
      .filter(_._2._2 > 0).toMap
    val out = graft.operators.Corpus
      .splitContamination(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == expected)
    assert(out.nonEmpty, "the synthetic corpus straddles splits; an empty report is a bug")
  }

  test("splitContaminationBloom: exactly q124's rows, at default AND saturated sketch sizes") {
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val docs = graft.sources.Tables.documents(spark, sf)
    val exact = rows(graft.operators.Corpus.splitContamination(docs))
    assert(exact.nonEmpty, "fixture must exercise the report")
    // default sizing: the prefilter is selective AND lossless
    val prunedDf = graft.operators.Corpus.splitContaminationBloom(docs)
    val plan = prunedDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") || plan.contains("Subquery"),
      s"q124c must actually plan the bloom probe:\n$plan")
    val pruned = rows(prunedDf)
    assert(pruned == exact, "bloom prefilter changed the report (false negative?)")
    // pathological sizing: a 64-bit sketch over thousands of grams
    // saturates (≈all-pass) — false positives must be verify-joined
    // away, leaving the report STILL exact
    val saturated = rows(graft.operators.Corpus
      .splitContaminationBloom(docs, expectedItems = 8L, numBits = 64L))
    assert(saturated == exact, "saturated sketch leaked false positives into the report")
  }

  test("alphaMix: weights are a distribution per alpha; alpha=1 reproduces the raw shares") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Corpus
      .alphaMix(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
        graft.operators.Corpus.ALPHA_GRID)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    // each alpha's weights sum to ~1 (r6 emit rounding bounds the slack)
    out.groupBy(_._2).foreach { case (a, rs) =>
      val s = rs.map(_._5).sum
      assert(math.abs(s - 1.0) < 1e-4, s"alpha=$a weights sum to $s")
    }
    // alpha = 1 is proportional sampling: weight == p_raw, boost == 1
    out.filter(_._2 == 1.0).foreach { r =>
      assert(math.abs(r._5 - r._4) <= 2e-6, s"alpha=1 weight != share: $r")
      assert(math.abs(r._6 - 1.0) <= 1e-4, s"alpha=1 boost != 1: $r")
    }
    // tempering flattens — the mathematically guaranteed claims only
    // (the boost-1 crossover is (Σp^α)^(-1/(1-α)), NOT 1/n, so a
    // per-source band assertion would be fixture-luck): boost is
    // monotone decreasing in share, the smallest share boosts ≥ 1,
    // the largest damps ≤ 1
    val a03 = out.filter(_._2 == 0.3).sortBy(_._4)
    a03.sliding(2).foreach { w =>
      if (w.length == 2 && w(0)._4 < w(1)._4)
        assert(w(0)._6 >= w(1)._6 - 1e-9, s"boost not monotone: ${w.toSeq}")
    }
    assert(a03.head._6 >= 1.0 - 1e-4, s"smallest share not boosted: ${a03.head}")
    assert(a03.last._6 <= 1.0 + 1e-4, s"largest share not damped: ${a03.last}")
  }

  test("driftReport: JS bounds hold and a self-identical split reads ~0") {
    import org.apache.spark.sql.functions.col
    val out = graft.operators.Corpus
      .driftReport(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._6 >= 0.0 && r._6 <= math.log(2.0) + 1e-3, s"JS out of bounds: $r")
      assert(r._2 + r._3 > 0, s"source with no docs reported: $r")
    }
    // same-distribution control: feed a corpus whose incoming slice is
    // a verbatim copy of its standing slice — drift must read ≈0
    // (add-one smoothing over unseen buckets keeps it just above 0)
    val s = spark
    import s.implicits._
    val base = (0L until 40L).map(i =>
      (i * graft.operators.Corpus.DRIFT_INCR_MOD, "only",
        s"alpha beta gamma delta epsilon word$i tail"))
    val mirrored = base.map { case (id, src, t) =>
      (id + graft.operators.Corpus.DRIFT_INCR_MOD - 1, src, t) }
    val docs = (base ++ mirrored).toDF("doc_id", "source", "text")
    val ctl = graft.operators.Corpus.driftReport(docs).collect()
    assert(ctl.length == 1)
    assert(ctl(0).getDouble(5) < 0.01,
      s"identical halves must not drift: ${ctl(0)}")
  }

  test("minKProb: identical doc domain as q94, k = ceil(n/5), tail mean <= full mean") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val q94 = graft.operators.TextOps.lmQualityScores(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val out = graft.operators.TextOps.minKProb(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSet == q94.keySet, "q142 must score exactly q94's domain")
    out.foreach { case (id, n, k, mink) =>
      assert(n == q94(id)._1, s"doc $id bigram count drifted from q94")
      assert(k == (n + 4) / 5, s"doc $id k_tail != ceil(n/5): $k vs n=$n")
      // the mean of the k smallest values cannot exceed the full mean
      // (1e-4 slack: both sides round to 4 dp independently)
      assert(mink <= q94(id)._2 + 1e-4,
        s"doc $id tail mean $mink above full mean ${q94(id)._2}")
    }
  }

  test("corpusDelta: equals a driver-side brute force over sf0.001; one keyed join, no sort-merge on a broadcast-free plan is not asserted (co-partition join is the intended shape)") {
    import org.apache.spark.sql.functions._
    val C = graft.operators.Corpus
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    // per-doc (source, md5, token count) for BOTH snapshot texts, via
    // the same primitives the operator uses — the logic under test is
    // the join/flag/aggregate, not the tokenizer (the oracle gate
    // checks tokenization independently)
    val base = docs.select(col("doc_id"), col("source"),
        md5(col("text")).as("fp"),
        size(graft.functions.VectorFns.tokens(col("text"))).cast("long").as("tok"),
        md5(concat(col("text"), lit(" rev2"))).as("fp2"),
        size(graft.functions.VectorFns.tokens(concat(col("text"), lit(" rev2"))))
          .cast("long").as("tok2"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getString(4), r.getLong(5)))
      .toMap
    case class Agg(var add: Long = 0, var rem: Long = 0, var chg: Long = 0,
                   var unchg: Long = 0, var tokAdd: Long = 0, var tokRem: Long = 0)
    val exp = scala.collection.mutable.Map[String, Agg]()
    base.foreach { case (id, (src, fp, tok, fp2, tok2)) =>
      val inOld = id % C.DELTA_SNAP_MOD != 4
      val revised = id % C.DELTA_REV_MOD == 0
      val inNew = id % C.DELTA_SNAP_MOD != 3
      val (nfp, ntok) = if (revised) (fp2, tok2) else (fp, tok)
      if (inOld || inNew) {
        val a = exp.getOrElseUpdate(src, Agg())
        if (!inOld) { a.add += 1; a.tokAdd += ntok }
        else if (!inNew) { a.rem += 1; a.tokRem += tok }
        else if (fp != nfp) { a.chg += 1; a.tokAdd += ntok; a.tokRem += tok }
        else a.unchg += 1
      }
    }
    val got = graft.SparkEntry.queries("q144_corpus_delta")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.keySet == exp.keySet && got.nonEmpty)
    got.foreach { case (src, (na, nr, nc, nu, ta, tr, td)) =>
      val e = exp(src)
      assert((na, nr, nc, nu, ta, tr) ==
        (e.add, e.rem, e.chg, e.unchg, e.tokAdd, e.tokRem),
        s"$src delta drifted from brute force")
      assert(td == ta - tr)
      // the fixture must exercise every delta class somewhere
    }
    assert(exp.values.map(_.add).sum > 0 && exp.values.map(_.rem).sum > 0
      && exp.values.map(_.chg).sum > 0 && exp.values.map(_.unchg).sum > 0,
      "fixture degenerate: some delta class is empty at sf0.001")
  }

  test("degenerate inputs: the r12 auto-gates survive empty frames") {
    import org.apache.spark.sql.types._
    val S = graft.operators.Similarity
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    // zero docs → zero bigrams → the universe probe reads 0, the gate
    // resolves exact, and both rollups are empty — no throw anywhere
    assert(graft.operators.TextOps.lmQualityScores(emptyDocs).count() == 0L)
    assert(graft.operators.TextOps.minKProb(emptyDocs).count() == 0L)
    // an empty INCOMING increment emits nothing (and prices nothing)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val emptyVecs = e.filter(lit(false))
    assert(S.semanticDedupIncrement(e, emptyVecs,
      S.IVF_SEEDS, S.SEMDEDUP_TAU).count() == 0L)
  }

  test("sketch-LM plan shape: model and scoring joins are broadcast — the bigram-typed stream never sort-merges") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = graft.operators.TextOps.perGramLogpSketch(docs)
      .queryExecution.executedPlan.toString
    // the candidate semi-join, the ≤capacity-gram model join and the
    // 1-row V dim all ride broadcasts; a SortMergeJoin anywhere means
    // the gram-keyed stream got shuffled — the exact plan's one
    // super-linear stage, absent here by construction
    assert(!plan.contains("SortMergeJoin"),
      s"sketch-LM plan must not sort-merge the gram stream:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 2, s"expected >=2 broadcast joins, saw $bhj")
  }

  test("lmGramsAuto gate: pure rule boundary; exact side bit-identical below crossover; sketch side == perGramLogpSketch above; q142b lower-bounds q142") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    // the pure decision rule, both sides of the boundary
    assert(!TextOps.resolveSketchLm(TextOps.LM_SKETCH_MIN_GRAMS - 1))
    assert(TextOps.resolveSketchLm(TextOps.LM_SKETCH_MIN_GRAMS))
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    def scores(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("avg_logp")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // below the crossover (sf0.001's gram universe << LM_SKETCH_MIN_
    // GRAMS) the default-auto plan IS the exact bigram-universe LM
    val auto = scores(TextOps.lmQualityScores(docs))
    val exact = scores(TextOps.lmQualityScores(docs,
      Some(TextOps.perGramLogp(docs))))
    assert(auto == exact,
      "auto below the crossover must be bit-identical to the exact LM")
    // a crossover of 1 forces the sketch side; the chosen stream must
    // be the Misra-Gries model's, not some third plan
    val forced = scores(TextOps.lmQualityScores(docs,
      Some(TextOps.lmGramsAuto(docs, crossover = 1L))))
    val sketch = scores(graft.operators.Corpus.sketchLmScores(docs))
    assert(forced == sketch,
      "auto above the crossover must be the sketch-LM stream")
    assert(forced != exact,
      "the default support must drop some bigram at sf0.001 " +
        "(otherwise the boundary test exercises nothing)")
    // the registered sketch twin: identical doc domain and k as q142,
    // tail mean a lower bound (out-of-model grams only score lower)
    val e142 = graft.SparkEntry.queries("q142_mink_prob")(spark, dir)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val s142 = graft.SparkEntry.queries("q142b_mink_sketch")(spark, dir)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(s142.keySet == e142.keySet && s142.nonEmpty)
    s142.foreach { case (id, (n, k, mink)) =>
      assert((n, k) == (e142(id)._1, e142(id)._2),
        s"doc $id domain/k drifted between q142 and q142b")
      assert(mink <= e142(id)._3 + 2e-4,
        s"doc $id sketch tail mean $mink above exact ${e142(id)._3}")
    }
  }

  test("splitLeakageMatrix: equals a driver-side brute force over sf0.001") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).take(7), 16) % 100 match {
        case b if b < 80 => "train"; case b if b < 90 => "val"; case _ => "test"
      }
    def gramSet(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.replaceAll("\\s+", " ")
        .split("\\s+").filter(_.nonEmpty)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map(w => md5hex(w.mkString(" "))).toSet
    }
    val bySplit = docs.groupBy { case (id, _) => split(id) }
      .map { case (s, ds) => s -> ds.flatMap(d => gramSet(d._2)).toSet }
      .withDefaultValue(Set.empty[String])
    val pairs = Seq(("train", "val"), ("train", "test"), ("val", "test"))
    val expected = pairs.flatMap { case (a, b) =>
      val (ga, gb) = (bySplit(a), bySplit(b))
      if (ga.isEmpty || gb.isEmpty) None
      else {
        val sh = (ga & gb).size.toLong
        def r4d(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
        Some((a, b, ga.size.toLong, gb.size.toLong, sh,
          r4d(sh.toDouble / ga.size), r4d(sh.toDouble / (ga.size + gb.size - sh))))
      }
    }.toSet
    val out = graft.operators.Corpus
      .splitLeakageMatrix(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(out == expected)
    assert(out.exists(_._5 > 0), "fixture must exhibit cross-split gram sharing")
  }

  test("vocabGrowth: equals a driver-side brute force over sf0.001; β sits in (0,1]") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(id: Long) = java.lang.Long.parseLong(md5hex(id + "_vg").take(7), 16) % 100
    def toks(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val rows = docs.flatMap { case (id, src, t) => toks(t).map(tk => (src, bkt(id), tk)) }
    val expected = rows.groupBy(_._1).flatMap { case (src, rs) =>
      val t10 = rs.count(_._2 < 10).toLong
      val t50 = rs.count(_._2 < 50).toLong
      val t100 = rs.length.toLong
      val firsts = rs.groupBy(_._3).map { case (_, g) => g.map(_._2).min }
      val (v10, v50, v100) =
        (firsts.count(_ < 10).toLong, firsts.count(_ < 50).toLong, firsts.size.toLong)
      if (t10 > 0 && t100 > t10 && v10 > 0) {
        def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val beta = r6d(math.log(v100.toDouble / v10) / math.log(t100.toDouble / t10))
        Some((src, t10, t50, t100, v10, v50, v100, beta))
      } else None
    }.toSet
    val out = graft.operators.TextOps
      .vocabGrowth(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toSet
    assert(out == expected)
    assert(out.nonEmpty, "every sf0.001 source should report a growth curve")
    // β ≥ 0 IS guaranteed (vocab_100 ≥ vocab_10, tokens_100 > tokens_10
    // by the filter); an upper bound is NOT — the prefix is a hash
    // bucket, not a size-proportional sample, so a repetitive decile
    // under a vocabulary-rich remainder can push β past 1. Assert only
    // what construction gives; β == 0.0 on this template fixture is
    // the boilerplate signal the readout exists to flag.
    out.foreach { case t =>
      assert(t._8 >= 0.0 && !t._8.isNaN && !t._8.isInfinite,
        s"implausible Heaps beta: $t")
    }
    assert(out.exists(_._8 == 0.0),
      "fixture regression: the template corpus saturated vocabulary before; " +
        "if this moved, re-check the brute force")
  }

  test("splitRepair: quarantines exactly the over-threshold train docs, touches nothing else") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val report = graft.operators.Corpus
      .splitContamination(graft.sources.Tables.documents(spark, sf))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val overs = report.filter(_._2 > graft.operators.Corpus.CONTAM_FRAC).keySet
    def h7(x: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7), 16)
    def base(id: Long) = h7(id.toString) % 100 match {
      case b if b < 80 => "train"; case b if b < 90 => "val"; case _ => "test"
    }
    val out = graft.operators.Corpus
      .splitRepair(graft.sources.Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, split) =>
      val want = if (overs(id)) "quarantine" else base(id)
      assert(split == want, s"doc $id: got $split want $want")
    }
    assert(out.values.count(_ == "quarantine") == overs.size)
    // the fixture must exercise the repair (sf0.001 has near-dup
    // leakage across splits by construction)
    assert(overs.nonEmpty, "no doc over threshold — the repair path never ran")
  }

  test("trainingManifest: dedup, quality and split gates compose into the driver-replayed shard plan") {
    val s = spark
    import s.implicits._
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h7(x: String) = java.lang.Long.parseLong(md5hex(x).take(7), 16)
    // a "good" doc passes every Gopher word rule by construction:
    // 60 words, two stopwords, all-alpha 3-4 char words, no '#'/'...'
    def good(uniq: String) = ("the and " +
      (0 until 57).map(i => s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}x")
        .mkString(" ") + s" $uniq")
    val docs = (
      Seq((1L, "s", good("zqa")), (2L, "s", good("zqa")),   // exact dups → keep 1
          (3L, "s", "foo bar baz"))                         // fails wordcount
        ++ (4L to 40L).map(i => (i, "s", good(s"uq$i")))
      ).toDF("doc_id", "source", "text")
    val out = graft.operators.Corpus.trainingManifest(docs, corpusHasLines = false)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // driver replay: survivors = canonical ∧ quality ∧ train bucket
    val survivors = (Seq(1L) ++ (4L to 40L))
      .filter(id => h7(id.toString) % 100 < 80)
      .map(id => id -> 60L)
    val target = graft.operators.Analytics.SHARD_TOKENS
    var cum = 0L
    val expected = survivors
      .sortBy { case (id, _) => (h7(id + "_shard"), id) }
      .map { case (id, n) =>
        val shard = cum / target; cum += n; (id, n, shard)
      }
      .groupBy(_._3)
      .map { case (shard, rows) =>
        ("s", shard) -> (rows.size.toLong, rows.map(_._2).sum,
          rows.map(_._1).min, rows.map(_._1).max)
      }
    assert(out == expected)
    assert(out.nonEmpty && survivors.size < 38,
      "the split gate must actually drop someone for the test to bite")

    // the optional schedule stage lays out EXACTLY the kept train
    // docs in vtime order (the q128 writer wired into q125)
    val dir = tempDir("graft_manifest_sched")
    graft.operators.Corpus.trainingManifest(docs, corpusHasLines = false,
      scheduleOut = Some(s"$dir/sched"))
    val sched = spark.read.parquet(s"$dir/sched")
    assert(sched.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      survivors.map(_._1).sorted,
      "schedule rows must be the manifest's kept train docs")
  }

  test("ngramDiversity: hand-computed distinct-n over a two-doc source") {
    val s = spark
    import s.implicits._
    val docs = Seq(("a", "x y x y"), ("a", "x y")).toDF("source", "text")
    val out = graft.operators.TextOps.ngramDiversity(docs).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // unigrams: 6 total, {x, y} distinct → 2/6
    assert(out(("a", 1)) == ((2L, 6L, 0.3333)))
    // bigrams: "x y","y x","x y" + "x y" → 4 total, 2 distinct
    assert(out(("a", 2)) == ((2L, 4L, 0.5)))
    // trigrams: only doc 1 qualifies → "x y x","y x y" → 2 total, 2 distinct
    assert(out(("a", 3)) == ((2L, 2L, 1.0)))
  }

  test("zipfFit: an exact power-law corpus recovers its slope; ranks tie-break by token") {
    val s = spark
    import s.implicits._
    // counts 144, 36, 16, 9 for tokens a..d: freq = 144 * rank^-2
    // → ln(freq) = ln(144) - 2 ln(rank): slope -2, intercept ln(144)
    val text = Seq.fill(144)("a") ++ Seq.fill(36)("b") ++
      Seq.fill(16)("c") ++ Seq.fill(9)("d")
    val docs = Seq(("p", text.mkString(" "))).toDF("source", "text")
    val row = graft.operators.TextOps.zipfFit(docs).collect().head
    assert(row.getString(0) == "p" && row.getLong(1) == 4L)
    // r6 quantization of ln terms perturbs the fit at ~1e-6
    assert(math.abs(row.getDouble(2) - -2.0) < 1e-4, s"slope ${row.getDouble(2)}")
    assert(math.abs(row.getDouble(3) - math.log(144.0)) < 1e-4,
      s"intercept ${row.getDouble(3)}")
    // ranks replay under ties: two tokens with equal counts order by text
    val tied = Seq(("t", "m n m n")).toDF("source", "text")
    val r2 = graft.operators.TextOps.zipfFit(tied).collect().head
    assert(r2.getLong(1) == 2L)
    // both ln(freq) equal → slope is pure r6-quantization residue
    assert(math.abs(r2.getDouble(2)) <= 2e-6, s"tied slope ${r2.getDouble(2)}")
    // a 1-term source has a 0/0 slope denominator where the engines
    // disagree (Spark NULL vs DuckDB NaN) — it must be dropped, and
    // sources alongside it must be unaffected
    val degen = Seq(("one", "solo solo solo"), ("two", "m m n"))
      .toDF("source", "text")
    val r3 = graft.operators.TextOps.zipfFit(degen).collect()
    assert(r3.map(_.getString(0)).toSeq == Seq("two"),
      "single-ranked-term source must be dropped from the fit")
  }

  test("gopherFlags minStops override: the calibrated q125 gate passes 1-stopword docs the paper default rejects") {
    import graft.operators.TextOps
    val s = spark
    import s.implicits._
    // 60 words, ONE distinct canonical stopword ("the"), clean otherwise
    val oneStop = ("the " + (0 until 59)
      .map(i => s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}x")
      .mkString(" "))
    val docs = Seq((1L, oneStop)).toDF("doc_id", "text")
    def passOf(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getInt(r.fieldIndex("ok_stop")), r.getInt(r.fieldIndex("gopher_pass")))
    }
    assert(passOf(TextOps.gopherFlags(docs, corpusHasLines = false)) == ((0, 0)),
      "paper default (2) must reject a 1-stopword doc")
    assert(passOf(TextOps.gopherFlags(docs, corpusHasLines = false,
      minStops = graft.operators.Corpus.Q125_MIN_STOPS)) == ((1, 1)),
      "calibrated gate (1) must accept it")
    // and the gate is no longer vacuous: the REGISTERED q125 emits a
    // non-empty manifest at test scale (VERDICT r9 "What's wrong" #3)
    val manifest = graft.SparkEntry.queries("q125_training_manifest")(
      spark, "/root/testdata/sf0.001")
    assert(manifest.count() > 0, "q125 must produce a non-empty manifest")
  }

  test("hybridRrf: fusion is rank-exact, dense leg anchors on the BM25 top-1") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val embs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fused = Corpus.hybridRrf(docs, embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(fused.length == Corpus.RRF_TOP, "fixture degenerate: short fused list")
    // every fused doc came from at least one ranking, ranks bounded
    assert(fused.forall { case (_, l, d, _) => l > 0 || d > 0 })
    assert(fused.forall { case (_, l, d, _) =>
      l <= Corpus.TOP_DOCS && d <= Corpus.TOP_DOCS })
    // rrf replays exactly from the emitted ranks (rank-only fusion)
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    fused.foreach { case (id, l, d, rrf) =>
      val want = r6d((if (l > 0) 1.0 / (Corpus.RRF_K + l) else 0.0) +
        (if (d > 0) 1.0 / (Corpus.RRF_K + d) else 0.0))
      assert(rrf == want, s"doc $id: rrf $rrf != $want from ranks ($l, $d)")
    }
    // pseudo-relevance feedback: the BM25 top-1 doc IS the dense
    // query, so it holds dense rank 1 (cos 1.0 with itself) and tops
    // the fused list (the only doc that can hold two rank-1 legs)
    val anchor = fused.find { case (_, l, _, _) => l == 1 }.get
    assert(anchor._3 == 1, "BM25 top-1 must be dense rank 1 (self-cosine)")
    assert(fused.head._1 == anchor._1, "anchor doc must lead the fused list")
    // fused order is (rrf desc, doc_id asc)
    val key = fused.map { case (id, _, _, rrf) => (-rrf, id) }
    assert(key.sameElements(key.sorted), "fused list out of RRF order")
  }

  test("mixSchedule: two-level prefix rank is bit-identical to the naive window; strides follow the weights") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val got = Corpus.mixSchedule(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(got.length == Corpus.SCHED_TAKE)
    // naive form: ONE window per source, no bucket decomposition —
    // must match row-for-row because the bucket is an hkey prefix
    val naive = docs.select(col("doc_id"), col("source"),
        graft.operators.Dedup.baseHash(
          concat(col("doc_id").cast("string"), lit("_sched"))).as("hkey"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hkey"), col("doc_id")))
        .cast("long"))
      .withColumn("w", Corpus.mixWeight(col("source")).cast("long"))
      .withColumn("vtime", col("src_rank") * expr("100 DIV w"))
      .orderBy(col("vtime").asc, col("source").asc, col("doc_id").asc)
      .limit(Corpus.SCHED_TAKE)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("vtime").asc, col("source").asc, col("doc_id").asc)))
      .select(col("pos"), col("vtime"), col("source"), col("doc_id"),
        col("src_rank"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(got.sameElements(naive), "two-level rank diverged from the naive window")
    // vtime = src_rank * (100 / w): per-source spacing IS the stride
    got.groupBy(_._3).foreach { case (src, rows) =>
      val stride = rows.head._2 / rows.head._5
      assert(rows.forall(r => r._2 == r._5 * stride), s"$src off-stride")
    }
    // weight-100 sources are consumed 5x as fast as weight-20 ones:
    // within any schedule head, each w=100 source has strictly more
    // docs than any w=20 source (strides 1 vs 5)
    val bySrc = got.groupBy(_._3).map { case (k, v) => k -> v.length }
    val fast = (0 to 3).map(i => bySrc.getOrElse(s"src$i", 0))
    val slow = (8 to 19).map(i => bySrc.getOrElse(s"src$i", 0))
    assert(fast.min > slow.max,
      s"interleave broken: w=100 counts $fast vs w=20 counts $slow")
  }

  test("hybridRrfIvf: same lexical leg as q127, rank-exact fusion, cell-bounded dense leg") {
    val dir = "/root/testdata/sf0.001"
    def fetch(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val exact = fetch("q127_hybrid_rrf")
    val ivf = fetch("q127b_hybrid_rrf_ivf")
    assert(ivf.nonEmpty)
    // the lexical leg is shared verbatim: any doc appearing with a
    // lex rank in both fused lists carries the SAME rank
    val lexA = exact.filter(_._2 > 0).map(r => r._1 -> r._2).toMap
    val lexB = ivf.filter(_._2 > 0).map(r => r._1 -> r._2).toMap
    val shared = lexA.keySet intersect lexB.keySet
    assert(shared.nonEmpty && shared.forall(d => lexA(d) == lexB(d)),
      "lexical ranks diverged between the exact and IVF fusions")
    // rank-only fusion replays exactly from the emitted ranks
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    ivf.foreach { case (id, l, d, rrf) =>
      val want = r6d((if (l > 0) 1.0 / (Corpus.RRF_K + l) else 0.0) +
        (if (d > 0) 1.0 / (Corpus.RRF_K + d) else 0.0))
      assert(rrf == want, s"doc $id: rrf $rrf != $want from ranks ($l, $d)")
    }
    // the IVF dense leg excludes the query doc (ivfTopK self-filter):
    // the anchor doc (lex rank 1) carries NO dense rank here, unlike
    // q127 where self-cosine puts it at dense rank 1
    val anchor = ivf.find(_._2 == 1)
    anchor.foreach(a => assert(a._3 == 0,
      s"anchor doc ${a._1} must have no dense rank under ivfTopK, got ${a._3}"))
    // dense leg is sound: every dense-ranked doc is a true cell-mate —
    // i.e. it also appears in a direct ivfTopK run for the same query
    val qDoc = exact.find(_._2 == 1).get._1
    val embs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val direct = graft.operators.Similarity.ivfTopK(embs,
        col("vec_id") === qDoc, graft.operators.Similarity.IVF_SEEDS,
        probes = 1, k = Corpus.TOP_DOCS)
      .select(col("n_id"), col("rk")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivf.filter(_._3 > 0).foreach { case (id, _, d, _) =>
      assert(direct.get(id).contains(d),
        s"dense rank of $id ($d) does not match a direct ivfTopK run")
    }
  }

  test("q128 plan shape: bucketed rank window + broadcast offsets, head via TakeOrdered") {
    val df = graft.SparkEntry.queries("q128_mix_schedule")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bkt"),
      s"rank window must partition by the hkey-prefix bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket-count offsets (<=4096 rows/source) must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the schedule head must be TakeOrdered, never a global sort:\n$plan")
  }

  test("sourceDatasheet composes its standalone stages exactly") {
    val dir = "/root/testdata/sf0.001"
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val sheet = graft.SparkEntry.queries("q131_source_datasheet")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(sheet.size == 20, s"expected 20 sources, got ${sheet.size}")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    // dup_frac reconciles with q18's canonical groups
    val dupDocs = graft.SparkEntry.queries("q18_exact_dedup")(spark, dir)
      .collect().flatMap { r =>
        val canon = r.getLong(1)
        r.getString(3).split(",").map(_.toLong).filter(_ != canon)
      }.toSet
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val want = r4d(ds.count(d => dupDocs(d._1)).toDouble / ds.length)
      assert(sheet(src)._5 == want, s"$src dup_frac ${sheet(src)._5} != $want")
    }
    // gopher_pass_frac reconciles with q107's per-doc flags (docs the
    // flag query drops — zero tokens — count as failing)
    val gp = graft.SparkEntry.queries("q107_gopher_flags")(spark, dir)
      .select(col("doc_id"), col("gopher_pass")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val want = r4d(ds.map(d => gp.getOrElse(d._1, 0)).sum.toDouble / ds.length)
      assert(sheet(src)._6 == want, s"$src gopher frac ${sheet(src)._6} != $want")
    }
    // language mix: n_langs and the quantized-entropy replay
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val mix = ds.groupBy(_._3).map(_._2.length)
      assert(sheet(src)._3 == mix.size.toLong, s"$src n_langs")
      val n = ds.length.toDouble
      val want = r4d(mix.map { nl =>
        BigDecimal(r6d(-(nl / n) * math.log(nl / n))) }.sum.toDouble)
      assert(sheet(src)._4 == want, s"$src entropy ${sheet(src)._4} != $want")
    }
    // mean_logp reconciles with q94's per-doc scores (decimal-sum/count)
    val lm = graft.SparkEntry.queries("q94_lm_quality")(spark, dir)
      .select(col("doc_id"), col("avg_logp")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val meanCol = graft.SparkEntry.queries("q131_source_datasheet")(spark, dir)
      .select(col("source"), col("mean_logp")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val scores = ds.flatMap(d => lm.get(d._1))
      // mirror the operator's decimal(20,4) cast: HALF_UP at 4 dp
      val want = if (scores.isEmpty) None
        else Some(r4d(scores
          .map(BigDecimal(_).setScale(4, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / scores.length))
      assert(meanCol(src) == want, s"$src mean_logp ${meanCol(src)} != $want")
    }
  }

  test("filterSweep: monotone operating curve, endpoint sanity, reconciles with q94 per-doc scores") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q134_filter_sweep")(spark, dir)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .sortBy(_._1)
    assert(rows.length == graft.operators.TextOps.SWEEP_THRESHOLDS.length)
    // tightening the threshold can only shrink what is kept, and the
    // kept cohort's mean quality can only rise
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi._2 <= lo._2 && hi._3 <= lo._3,
          s"kept counts rose from ${lo._1} to ${hi._1}")
        (lo._6, hi._6) match {
          case (Some(a), Some(b)) =>
            assert(b >= a - 1e-9, s"kept mean fell from ${lo._1} to ${hi._1}")
          case _ =>
        }
      case _ =>
    }
    // the grid must actually discriminate at fixture scale: not all
    // thresholds keep everything, not all keep nothing
    assert(rows.head._4 > rows.last._4,
      "grid does not discriminate — every threshold keeps the same fraction")
    // endpoint reconciliation against the q94 per-doc scores
    val scores = graft.SparkEntry.queries("q94_lm_quality")(spark, dir)
      .select(col("avg_logp")).collect().map(_.getDouble(0))
    rows.foreach { case (t, kept, _, _, _, _) =>
      assert(kept == scores.count(_ >= t), s"thresh $t kept-count mismatch")
    }
  }

  test("packSpans: exact token coverage, per-seq budget, head/tail flags, parity with q69 starts") {
    val dir = "/root/testdata/sf0.001"
    val L = graft.operators.Corpus.SEQ_LEN
    val spans = graft.SparkEntry.queries("q69c_pack_spans")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6), r.getInt(7)))
    assert(spans.nonEmpty)
    val packs = graft.SparkEntry.queries("q69_seq_pack")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    // 1. every packed doc's tokens are covered exactly once
    val byDoc = spans.groupBy(t => (t._1, t._4))
    packs.filter(_._4 >= 1).foreach { case (lang, doc, _, n, off, seq0) =>
      val ds = byDoc((lang, doc)).sortBy(_._3)
      assert(ds.map(_._6).sum == n, s"doc $doc covered ${ds.map(_._6).sum}/$n")
      // 2. the first span starts in the q69-assigned sequence
      assert(ds.head._3 == seq0, s"doc $doc head seq ${ds.head._3} != $seq0")
      // 3. exactly one head and one tail, at the ends
      assert(ds.head._7 == 1 && ds.last._8 == 1)
      assert(ds.count(_._7 == 1) == 1 && ds.count(_._8 == 1) == 1)
      // 4. interior spans (if any) fill whole sequences
      ds.drop(1).dropRight(1).foreach(s =>
        assert(s._5 == 0 && s._6 == L, s"interior span of doc $doc not full"))
    }
    // 5. per-sequence span budget: Σ span_len ≤ L, spans disjoint
    spans.groupBy(t => (t._1, t._2, t._3)).foreach { case (k, ss) =>
      assert(ss.map(_._6).sum <= L, s"seq $k over budget")
      val sorted = ss.sortBy(_._5)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._6 <= b._5, s"seq $k spans overlap")
        case _ =>
      }
    }
    // the fixture must exercise multi-sequence docs or the interior
    // and budget logic is untested
    assert(spans.groupBy(t => (t._1, t._4)).values.exists(_.length > 1),
      "no doc spans multiple sequences at fixture scale")
  }

  test("epochPlan: budget conservation, cap semantics, driver-replayed arithmetic") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q133_epoch_plan")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getInt(6))).toMap
    assert(got.size == 20)
    val corpus = got.values.map(_._1).sum
    val wsum = got.values.map(_._2).sum
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    got.foreach { case (src, (n, w, target, epochs, served, capped)) =>
      assert(target == corpus * graft.operators.Corpus.BUDGET_MULT * w / wsum,
        s"$src target")
      assert(epochs == r4d(math.min(target.toDouble / n,
        graft.operators.Corpus.EPOCH_CAP.toDouble)), s"$src epochs")
      assert(served == math.min(target, n * graft.operators.Corpus.EPOCH_CAP),
        s"$src served")
      assert((capped == 1) == (target > n * graft.operators.Corpus.EPOCH_CAP),
        s"$src capped")
    }
    // integer DIV floors each share, so the plan never over-commits
    // the budget
    assert(got.values.map(_._3).sum <=
      corpus * graft.operators.Corpus.BUDGET_MULT)
    // the fixture's skewed weights must actually exercise the cap
    // (heavy sources demand more than 4 epochs of the light ones'
    // mass would) — otherwise the clamp is untested
    assert(got.values.exists(_._6 == 1) && got.values.exists(_._6 == 0),
      "fixture must exercise both sides of the epoch cap")
  }

  test("q131b sketch-LM card reconciles with the exact card: lower bound, shared columns, exactness at full support") {
    val dir = "/root/testdata/sf0.001"
    def cardOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toMap
    val exact = cardOf(
      graft.SparkEntry.queries("q131_source_datasheet")(spark, dir))
    val sketch = cardOf(
      graft.SparkEntry.queries("q131b_datasheet_sketch_lm")(spark, dir))
    assert(sketch.keySet == exact.keySet && sketch.nonEmpty)
    sketch.foreach { case (src, s) =>
      val e = exact(src)
      // every non-LM column is bit-identical
      assert((s._1, s._2, s._3, s._4, s._5, s._6) ==
        (e._1, e._2, e._3, e._4, e._5, e._6), s"$src non-LM columns differ")
      // in-model bigrams score exactly their q94 log-prob and
      // out-of-model ones strictly lower, so the sketch mean is a
      // lower bound on the exact mean (allowing the two r4 roundings)
      (s._7, e._7) match {
        case (Some(sm), Some(em)) =>
          assert(sm <= em + 2e-4, s"$src sketch mean $sm above exact $em")
        case (a, b) => assert(a == b, s"$src LM presence differs")
      }
    }
    // the model is non-trivial at the default support: it neither
    // covers every bigram type nor is empty (the corpus calibration
    // this spec pins: ~900 of ~916 types at sf0.001)
    val docs = graft.sources.Tables.documents(spark, dir)
    val modelAtDefault = graft.operators.Corpus.sketchLmScores(docs)
    val fullSupport = graft.operators.Corpus.sketchLmScores(docs,
      support = 1L << 20, capacity = 1 << 21)
    // with support >= n_bigrams the threshold is 1: every observed
    // bigram enters the model and the sketch scores ARE q94's
    val q94 = graft.SparkEntry.queries("q94_lm_quality")(spark, dir)
      .select(col("doc_id"), col("avg_logp")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = fullSupport.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full == q94,
      "at full support the sketch LM must equal the exact LM per doc")
    val dflt = modelAtDefault.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dflt.keySet == q94.keySet)
    assert(dflt != q94,
      "at the default support some bigram must fall out of the model " +
        "(otherwise the spec exercises nothing)")
    assert(dflt.forall { case (d, v) => v <= q94(d) + 1e-9 },
      "per-doc sketch score must lower-bound the exact score")
  }

  test("deltaDecontaminate: equals the full q81-style audit restricted to the delta; non-vacuous at sf0.001") {
    import graft.operators.Corpus
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val oldSnap = docs.filter(col("doc_id") % Corpus.DELTA_SNAP_MOD =!= 3L)
    val newSnap = docs.filter(col("doc_id") % Corpus.DELTA_SNAP_MOD =!= 4L)
      .withColumn("text",
        when(col("doc_id") % Corpus.DELTA_REV_MOD === 0L,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val got = Corpus.deltaDecontaminate(oldSnap, newSnap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "the swapped-role fixture must arrive contaminated")
    // the FULL audit over the whole new snapshot, restricted to the
    // delta doc_ids, must agree row for row — per-doc reports depend
    // only on the doc's own grams vs the bench grams
    val deltaIds = newSnap
      .join(oldSnap.select(col("doc_id"), md5(col("text")).as("fp_o")),
        Seq("doc_id"), "left")
      .filter(col("fp_o").isNull || md5(col("text")) =!= col("fp_o"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Corpus.decontaminate(newSnap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(r => deltaIds.contains(r._1)).toSet
    assert(got == full,
      s"incremental != restricted-full: only-incr=${got -- full}, " +
        s"only-full=${full -- got}")
  }

  test("budgetSelect: score-grid two-level equals the naive single window; budget boundary exact; repartition-stable") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // synthetic scores including TIES (three docs share -1.5) so the
    // bucket-monotonicity argument is exercised where it can break
    val fix = Seq(
      (1L, "aa bb cc", -0.5), (2L, "aa bb", -1.5), (3L, "aa bb cc dd", -1.5),
      (4L, "aa", -1.5), (5L, "aa bb cc dd ee", -3.25), (6L, "aa bb", -0.25),
      (7L, "aa bb cc", -2.0), (8L, "aa", -0.75))
    // doc 9 has NO score row (the <2-token case): it must take the
    // sentinel, sort last, and — the r13 review fix — NOT stretch the
    // score grid so far that every scored doc collapses into bucket 0
    val docs = (fix.map { case (id, t, _) => (id, t) } :+ ((9L, "zz")))
      .toDF("doc_id", "text")
    val scores = fix.map { case (id, _, sc) => (id, sc) }.toDF("doc_id", "avg_logp")
    val out = graft.operators.Corpus.budgetSelect(docs, scores, den = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    // naive flat form: one global (score desc, id) window
    val w = Window.orderBy(col("sc").desc, col("doc_id").asc)
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = docs.select(col("doc_id"),
      size(graft.functions.VectorFns.tokens(col("text"))).cast("long").as("n_tok"))
      .join(scores, Seq("doc_id"), "left")
      .withColumn("sc", coalesce(col("avg_logp"),
        lit(graft.operators.Corpus.BUDGET_SENTINEL)))
    val ttok = fix.map(_._2.split(" ").length.toLong).sum + 1L
    val naive = base
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tok")).over(wc))
      .select(col("doc_id"), col("sel_rank"), col("n_tok"), col("cum_tokens"),
        (col("cum_tokens") - col("n_tok") < lit(ttok / 3)).cast("int")
          .as("selected"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    assert(out.sortBy(_._1).toSeq == naive.sortBy(_._1).toSeq,
      s"two-level drifted from the flat window:\n${out.sortBy(_._1).toSeq}\n" +
        s"${naive.sortBy(_._1).toSeq}")
    // the selected set is a PREFIX of the rank order and the kept
    // mass brackets the budget (q119's shard-open overshoot rule)
    val byRank = out.sortBy(_._2)
    val m = byRank.count(_._5 == 1)
    assert(byRank.take(m).forall(_._5 == 1) && byRank.drop(m).forall(_._5 == 0))
    val keptMass = byRank.take(m).map(_._3).sum
    assert(keptMass >= ttok / 3 && keptMass - byRank(m - 1)._3 < ttok / 3,
      s"kept mass $keptMass must first cross the ${ttok / 3} budget at rank $m")
    // physical order must not matter
    val again = graft.operators.Corpus
      .budgetSelect(docs.repartition(5), scores.repartition(3), den = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // the grid must actually SPREAD the scored docs (review finding:
    // a sentinel folded into smin collapsed everything into bucket 0)
    val buckets = graft.operators.Corpus
      .budgetSelect(docs, scores, den = 3L)
      .select(col("doc_id")).collect() // force; bucket col is internal
    val spread = out.sortBy(_._2).map(_._1) // rank order: 6,1,8,2,3,4,7,5,9
    assert(spread.last == 9L, "the unscored doc must rank last")

    // plan shape: bucketed rank+cumsum (fused — same partition/order)
    // + the <=4097-row offsets window; offsets broadcast back
    val plan = graft.SparkEntry.queries("q147_budget_select")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    val nWindows = "Window \\[".r.findAllIn(plan).size
    assert(nWindows == 2, s"expected bucketed + offsets windows, got $nWindows:\n$plan")
    assert(plan.contains("bkt"), s"windows must key on the score-grid bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back:\n$plan")
  }
}
