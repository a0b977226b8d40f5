package graft

import org.apache.spark.sql.functions._

/** Quantifies the ANN approximation trade the Similarity operators
  * document: IVF probe-1 (q42) against the exact broadcast baseline
  * (q22) on the same queries. The assertion pins a recall floor so a
  * regression in the cell assignment or codebook seeding shows up as
  * a test failure, not a silent quality drop. */
class AnnRecallSpec extends SparkSuite {

  test("hyperplane-banded near-dup: sound pairs, deterministic, recall vs coordinate") {
    import graft.functions.Banding
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val hyper = graft.operators.Similarity
      .neardupBanded(e, bits = 4, nBands = 4, Banding.Hyperplanes(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hyper.nonEmpty, "hyperplane banding must surface candidate pairs")
    // soundness: every emitted pair is exact-cosine-verified above the
    // threshold (the banding only gates CANDIDACY, never the score)
    assert(hyper.forall(_._3 > graft.operators.Similarity.NEARDUP_THRESHOLD))
    // literal-coefficient determinism: a rebuilt plan emits the same set
    val again = graft.operators.Similarity
      .neardupBanded(e, bits = 4, nBands = 4, Banding.Hyperplanes(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == hyper)
    // both geometries are subsets of the same exact above-threshold
    // pair set, so their union only ever ADDS recall — run them side
    // by side and check the hyperplane view is a real alternative
    // (nonempty, same soundness), not a degenerate all-in-one-bucket
    val coord = graft.operators.Similarity
      .neardupBanded(e, bits = 4, nBands = 4, Banding.CoordinateAxes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    info(s"near-dup pairs: coordinate=${coord.size} hyperplane=${hyper.size} " +
      s"union=${(coord ++ hyper).size}")
    val nBuckets = Banding.withBands(e, col("v"), 4, 4, Banding.Hyperplanes(16))
      .select("band_id", "bucket").distinct().count()
    assert(nBuckets > 4, "hyperplane buckets must actually partition the space")
    e.unpersist()
  }

  test("multiprobe IVF recall climbs with probes vs the exact baseline") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // exact top-5 = the first 5 ranks of the exact top-10 baseline
    val exact = SparkEntry.queries("q22_ann_cosine")(spark, dir)
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("n_id")).cache()
    val nExact = exact.count()

    def recallAt(probes: Int): Double = {
      val ivf = graft.operators.Similarity.ivfTopK(e,
        col("vec_id") % 25 === 0, graft.operators.Similarity.IVF_SEEDS,
        probes, k = 5)
      exact.join(ivf, Seq("q_id", "n_id")).count().toDouble / nExact
    }
    // the codebook grows with the corpus (centsOf: 8 base seeds ∪
    // 1/64-hash extras) — derive the true cell count the same way
    val nCells = AnnRecallSpec.cellCount(spark, dir)
    val r1 = recallAt(1); val r3 = recallAt(3); val rAll = recallAt(nCells)
    info(f"IVF recall@5 over $nCells cells: probe1=$r1%.3f probe3=$r3%.3f probeAll=$rAll%.3f")
    // uniform synthetic embeddings are IVF's WORST case (no cluster
    // structure), so probe-1 recall is ~1/nCells by construction — the
    // contract is monotone improvement and exactness at full probing
    assert(r1 > 0.3 / nCells, s"probe-1 recall $r1 implausibly low for $nCells cells")
    assert(r3 >= r1, s"recall fell with more probes: $r1 -> $r3")
    assert(math.abs(rAll - 1.0) < 1e-9,
      s"probing ALL $nCells cells must equal the exact baseline, got $rAll")
    exact.unpersist()
  }

  test("PQ ADC recall vs exact L2, full code coverage, stable codes") {
    import graft.operators.Similarity._
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val cents = pqTrain(e).cache()
    val codes = pqCodes(e, cents).cache()
    // every vector quantizes in every subspace, codes within [0, K)
    val n = e.count()
    assert(codes.count() == n * PQ_M)
    assert(codes.agg(min(col("cell")), max(col("cell"))).head() match {
      case r => r.getInt(0) >= 0 && r.getInt(1) < PQ_K
    })
    // deterministic: a second train+assign produces identical codes
    val codes2 = pqCodes(e, pqTrain(e))
    assert(codes.except(codes2).count() == 0 && codes2.except(codes).count() == 0)

    // ADC recall@10 against exact squared-L2 top-10
    val pq = pqTopK(e, codes, cents, col("vec_id") % 25 === 0, 10)
      .select(col("q_id"), col("n_id"))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("n_id").asc)
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.VectorFns.sqDistArr(col("qv"), col("v")).as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_id"), col("n_id")).cache()
    val recall = exact.join(pq, Seq("q_id", "n_id")).count().toDouble / exact.count()
    info(f"PQ ADC recall@10 = $recall%.3f (8 bytes/vec vs 512)")
    // uniform embeddings are the hardest case for PQ too; the floor
    // catches codebook/LUT regressions, not absolute quality
    assert(recall > 0.2, s"PQ recall $recall implausibly low")

    // composed IVF×PQ: probing ALL cells must equal plain PQ ranking
    val full = ivfPqTopK(e, IVF_SEEDS,
      probes = AnnRecallSpec.cellCount(spark, "/root/testdata/sf0.001"),
      col("vec_id") % 25 === 0, 10).select(col("q_id"), col("n_id"))
    val pqOnly = pq
    assert(full.except(pqOnly).count() == 0 && pqOnly.except(full).count() == 0,
      "probe-all IVF×PQ must reduce to plain PQ")
    val p1 = ivfPqTopK(e, IVF_SEEDS, probes = 1, col("vec_id") % 25 === 0, 10)
    // probe-1 returns <= k candidates per query, all from probed cells
    assert(p1.groupBy("q_id").count().agg(max("count")).head.getLong(0) <= 10)

    // the q146 contract row: facts recomputable, verdict green at the
    // registered probe count (the row the driver oracle pins to 1)
    val row = graft.SparkEntry.queries("q146_ivfpq_ann")(
      spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getLong(0) == e.filter(col("vec_id") % 25 === 0).count())
    assert(row.getLong(1) == e.count())
    assert(row.getInt(2) == 10
      && row.getInt(3) == graft.operators.Similarity.ivfPqProbes(
        AnnRecallSpec.cellCount(spark, "/root/testdata/sf0.001")))
    assert(row.getInt(4) == 1,
      "composed IVF×PQ recall must clear its contract floor at sf0.001")
    exact.unpersist()
  }

  test("residual IVF×PQ (IVFADC): wins where cells capture structure; the uniform corpus inverts it — both measured") {
    import graft.operators.Similarity
    val sp = spark
    import sp.implicits._
    // ---- clustered fixture (deterministic, no RNG): 16 well-
    // separated integer centers, 25 members each with ±0.005-scale
    // hash offsets. Residuals are tiny vs the centers, so PQ bits
    // spent on residuals quantize the within-cell geometry finely
    // while raw-vector PQ burns them re-encoding the center.
    val dim = 64
    def h(a: Long, b: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a:$b".getBytes("UTF-8"))
      ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    }
    // %17 keeps all 16 centers distinct (j*5 mod 17 is injective on
    // 0..15); offsets ±0.5 give the residual codes real within-
    // cluster geometry to rank, far below the ≥1-per-dim separation
    def center(j: Int): Array[Double] =
      Array.tabulate(dim)(d => ((j * 5 + d * 3) % 17 - 8).toDouble)
    val vecs = (0L until 400L).map { id =>
      val c = center((id % 16).toInt)
      (id, Array.tabulate(dim)(d => c(d) + (h(id, d) % 11 - 5) * 0.1).toSeq)
    }
    val e = vecs.toDF("vec_id", "v").cache()
    // one seed per cluster → IVF cells ≈ the true clusters
    val seeds = (0L until 16L)
    val qPred = col("vec_id") % 25 === 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("n_id").asc)
    val q = e.filter(qPred).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.VectorFns.sqDistArr(col("qv"), col("v")).as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_id"), col("n_id")).cache()
    val nq = q.count()
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      exact.join(ann.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
        .count().toDouble / (nq * 10)
    val rRes = recallOf(Similarity.ivfPqResidualTopK(e, seeds, 2, qPred, 10))
    val rRaw = recallOf(Similarity.ivfPqTopK(e, seeds, 2, qPred, 10))
    info(f"clustered fixture: residual=$rRes%.3f raw=$rRaw%.3f")
    assert(rRes > rRaw,
      s"residual codes must beat raw codes on clustered data: $rRes vs $rRaw")
    assert(rRes >= 0.5,
      s"residual ADC must rank well above the same-cluster tie baseline: $rRes")
    // determinism: the whole chain (Lloyd seeds, r6 ties, id breaks)
    // replays bit-identically
    val again = Similarity.ivfPqResidualTopK(e, seeds, 2, qPred, 10)
      .collect().map(_.toSeq).toSet
    assert(again == Similarity.ivfPqResidualTopK(e, seeds, 2, qPred, 10)
      .collect().map(_.toSeq).toSet)
    exact.unpersist(); e.unpersist()
    // the UNIFORM corpus inverts the advantage (documented in the
    // operator's BASELINE §r13 note: residuals of near-random
    // centroids are as wide as the vectors and the pooled codebook
    // fits them worse — measured raw 0.170 vs residual 0.110 at
    // sf0.001). Assert the inversion so the honest reading is pinned.
    val eu = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")).cache()
    val qu = eu.filter(qPred).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exactU = eu.join(broadcast(qu), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        graft.functions.VectorFns.sqDistArr(col("qv"), col("v")).as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("q_id"), col("n_id")).cache()
    val nqu = qu.count()
    val uRes = exactU.join(Similarity.ivfPqResidualTopK(eu,
        graft.operators.Similarity.IVF_SEEDS, 3, qPred, 10)
        .select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
      .count().toDouble / (nqu * 10)
    val uRaw = exactU.join(Similarity.ivfPqTopK(eu,
        graft.operators.Similarity.IVF_SEEDS, 3, qPred, 10)
        .select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
      .count().toDouble / (nqu * 10)
    info(f"uniform corpus: residual=$uRes%.3f raw=$uRaw%.3f (inverted, as documented)")
    assert(uRaw > uRes, "the uniform synthetic must keep inverting the advantage " +
      s"(if this flips, update the q146/BASELINE prose): $uRaw vs $uRes")
    exactU.unpersist(); eu.unpersist()
  }

  test("knnLabelProbe replays a driver-side brute force exactly") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val got = Similarity.knnLabelProbe(e,
      col("vec_id") % Similarity.LPROBE_MOD === 0 &&
        col("vec_id") < Similarity.LPROBE_ID_CAP)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.nonEmpty, "fixture degenerate: empty probe readout")
    // brute force with the operator's exact arithmetic: left-to-right
    // dot/norm folds, r6 rank rounding, (cos desc, id asc) neighbor
    // order, (votes desc, label asc) prediction tie-break
    val all = e.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val want = all.filter(v => v._1 % Similarity.LPROBE_MOD == 0 &&
        v._1 < Similarity.LPROBE_ID_CAP)
      .map { case (qid, qv, tl) =>
        val top = all.filter(_._1 != qid)
          .map { case (nid, nv, nl) =>
            (r6d(dot(qv, nv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(nv, nv)))),
              nid, nl) }
          .sortBy { case (c, nid, _) => (-c, nid) }
          .take(Similarity.LPROBE_K)
        val pred = top.groupBy(_._3).map { case (l, v) => (l, v.length) }
          .toSeq.sortBy { case (l, n) => (-n, l) }.head._1
        (tl, pred)
      }
    val wantRows = want.groupBy(_._1).map { case (tl, preds) =>
      val n = preds.length.toLong
      val ok = preds.count(p => p._2 == p._1).toLong
      (tl, n, ok, math.floor(ok.toDouble / n * 1e4 + 0.5) / 1e4)
    }.toArray.sortBy(_._1)
    assert(got.sameElements(wantRows),
      s"probe diverged:\n got ${got.mkString(",")}\nwant ${wantRows.mkString(",")}")
  }

  test("labelSeparation replays a driver-side brute force exactly") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val got = Similarity.labelSeparation(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.length == 10, s"expected 10 label rows, got ${got.length}")
    val all = e.collect().map(r =>
      (r.getSeq[Double](1).toArray, r.getInt(2)))
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]) =
      r6d(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    // centroid sum vectors with the operator's exact arithmetic:
    // r6-quantized coordinates summed as BigDecimal, cast to double
    val byLabel = all.groupBy(_._2)
    val sv = byLabel.map { case (l, vs) =>
      val d = vs.head._1.length
      l -> Array.tabulate(d) { i =>
        vs.map(v => BigDecimal(r6d(v._1(i)))).sum.toDouble
      }
    }
    val want = byLabel.toSeq.sortBy(_._1).map { case (l, vs) =>
      val intra = r4d(vs.map(v => BigDecimal(cos(v._1, sv(l)))).sum.toDouble
        / vs.length)
      val (nnCos, nnL) = sv.filter(_._1 != l)
        .map { case (o, ov) => (cos(sv(l), ov), o) }
        .toSeq.sortBy { case (c, o) => (-c, o) }.head
      (l, vs.length.toLong, intra, nnL, r4d(nnCos), intra - r4d(nnCos))
    }.toArray
    assert(got.sameElements(want),
      s"separation diverged:\n got ${got.mkString(",")}\nwant ${want.mkString(",")}")
  }

  test("hardNegatives replays a driver-side brute force exactly") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val pred = col("vec_id") % Similarity.LPROBE_MOD === 0 &&
      col("vec_id") < Similarity.LPROBE_ID_CAP
    val got = Similarity.hardNegatives(e, pred).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(t => (t._1, t._5))
    assert(got.nonEmpty)
    val all = e.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r4d(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]) =
      r6d(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val want = all
      .filter(v => v._1 % Similarity.LPROBE_MOD == 0 &&
        v._1 < Similarity.LPROBE_ID_CAP)
      .flatMap { case (aid, av, al) =>
        val ranked = all.filter(_._1 != aid)
          .map { case (nid, nv, nl) => (cos(av, nv), nid, nl) }
          .sortBy { case (c, nid, _) => (-c, nid) }
        ranked.find(_._3 == al).toSeq.flatMap { case (pc, pid, _) =>
          ranked.filter(_._3 != al).take(Similarity.HNEG_K).zipWithIndex
            .map { case ((nc, nid, _), i) =>
              (aid, al, pid, r4d(pc), i + 1, nid, r4d(nc), r4d(pc) - r4d(nc)) }
        }
      }.sortBy(t => (t._1, t._5))
    assert(got.sameElements(want),
      s"triplets diverged:\n got ${got.take(3).mkString(",")}\nwant ${want.take(3).mkString(",")}")
    // margins are what the triplet loss pushes on: every row carries
    // pos and neg from the SAME anchor, margin consistent by field math
    assert(got.forall(t => math.abs(t._8 - (t._4 - t._7)) < 1e-12))
  }

  test("ivf2TopK: superMod=1 reproduces flat IVF; default √cells supers quantified vs flat") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pred = col("vec_id") % 25 === 0
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(4))).toSet
    val flat = rows(Similarity.ivfTopK(e, pred, Similarity.IVF_SEEDS,
      probes = 1, k = Similarity.IVF_TOP_K))
    // with every cell a super, level-1 IS the flat argmin and level-2
    // degenerates to the cell itself — the two-level rule must
    // reproduce flat IVF bit-for-bit
    val two1 = rows(Similarity.ivf2TopK(e, pred, Similarity.IVF_SEEDS,
      Similarity.IVF_TOP_K, superMod = Some(1L)))
    assert(two1 == flat && flat.nonEmpty,
      "superMod=1 must reproduce the flat IVF assignment")
    // default √cells supers: assignment may legitimately differ where
    // a vector's true nearest cell lives under a different super —
    // quantify the agreement, assert only sanity bounds
    val twoD = rows(Similarity.ivf2TopK(e, pred, Similarity.IVF_SEEDS,
      Similarity.IVF_TOP_K))
    assert(twoD.nonEmpty)
    val agree = flat.intersect(twoD).size.toDouble / flat.size
    info(f"two-level vs flat IVF (q_id, n_id, rk) agreement: $agree%.3f")
    assert(agree > 0.0, "two-level assignment shares nothing with flat — wrong rule")
  }

  test("semdedup assignment gate: pure rule boundary; auto == flat below the crossover; forced two-level == the q105c twin; sm=1 exactness") {
    import graft.operators.Similarity
    // the pure decision rule, both sides of the boundary
    assert(!Similarity.resolveIvf2(Similarity.IVF2_MIN_CELLS - 1))
    assert(Similarity.resolveIvf2(Similarity.IVF2_MIN_CELLS))
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % Similarity.SEM_INCR_MOD
      =!= Similarity.SEM_INCR_MOD - 1)
    val incoming = e.filter(col("vec_id") % Similarity.SEM_INCR_MOD
      === Similarity.SEM_INCR_MOD - 1)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    // below the crossover (sf0.001's codebook << IVF2_MIN_CELLS) the
    // default-auto plan IS the flat assignment
    val auto = pairs(Similarity.semanticDedupIncrement(
      standing, incoming, Similarity.IVF_SEEDS, Similarity.SEMDEDUP_TAU))
    val flat = pairs(Similarity.semanticDedupIncrement(
      standing, incoming, Similarity.IVF_SEEDS, Similarity.SEMDEDUP_TAU,
      twoLevel = Some(false)))
    assert(auto == flat && flat.nonEmpty,
      "auto below the crossover must be bit-identical to the flat assignment")
    // the forced two-level side must be the registered q105c plan
    val two = pairs(Similarity.semanticDedupIncrement(
      standing, incoming, Similarity.IVF_SEEDS, Similarity.SEMDEDUP_TAU,
      twoLevel = Some(true)))
    val q105c = pairs(graft.SparkEntry.queries("q105c_semdedup_incr_ivf2")(
      spark, dir))
    assert(two == q105c && two.nonEmpty,
      "forced two-level must equal the registered q105c twin")
    // sm = 1 exactness witness on the assignment itself: every cell a
    // super → cellAssign2 must reproduce the flat cellAssign
    val cents = Similarity.centsOf(standing, Similarity.IVF_SEEDS)
    def asg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(asg(Similarity.cellAssign2(standing, cents, Similarity.IVF_SEEDS, 1L))
      == asg(Similarity.cellAssign(standing, cents)),
      "sm=1 two-level assignment must equal the flat argmin")
  }

  test("two-level assignment plan shape: every codebook leg is broadcast; only vec-keyed exchanges remain") {
    import graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % Similarity.SEM_INCR_MOD
      =!= Similarity.SEM_INCR_MOD - 1)
    val cents = Similarity.centsOf(standing, Similarity.IVF_SEEDS)
    val plan = Similarity
      .cellAssign2(standing, cents, Similarity.IVF_SEEDS, 3L)
      .queryExecution.executedPlan.toString
    // supers, the cell→super attach and the per-super cell lists are
    // all dimension-sized broadcasts; the embedding side must never
    // sort-merge — both per-vector argmins (the N·O(√cells) cost the
    // gate buys) are row-local over one broadcast super-book row, so
    // the embedding side has no exchange at all, vec-keyed or other
    assert(!plan.contains("SortMergeJoin"),
      s"two-level assignment must not sort-merge any codebook leg:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length
      + "BroadcastNestedLoopJoin".r.findAllIn(plan).length >= 2,
      "codebook legs must ride broadcasts")
  }

  test("q129b/q132b IVF twins: recall vs the exact probe/miner, exactness at full probing") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val e = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val pred = col("vec_id") % Similarity.LPROBE_MOD === 0 &&
      col("vec_id") < Similarity.LPROBE_ID_CAP
    val nCells = AnnRecallSpec.cellCount(spark, dir)

    // label probe: prediction agreement with the exact vote at
    // probe-1, and bit-exact equality when every cell is probed
    def preds(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val exactProbe = preds(Similarity.knnLabelProbe(e, pred))
    val ivf1 = preds(Similarity.knnLabelProbeIvf(e, pred))
    assert(ivf1.nonEmpty && ivf1.keySet.subsetOf(exactProbe.keySet))
    val ivfAll = preds(Similarity.knnLabelProbeIvf(e, pred, probes = nCells))
    assert(ivfAll == exactProbe,
      "probing every cell must reproduce the exact label probe")
    // per-label accuracy agreement at probe-1, reported not asserted
    // (uniform synthetic embeddings are IVF's worst case)
    val agree = ivf1.keys.count(l => ivf1(l) == exactProbe(l))
    info(s"probe-1 label rows bit-equal to exact: $agree/${ivf1.size}")

    // triplet miner: neighbor recall of the IVF negatives vs exact
    // at probe-1, bit-exact at full probing
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(4), r.getLong(5))).toSet
    val exactNeg = rows(Similarity.hardNegatives(e, pred))
    val ivfNeg1 = rows(Similarity.hardNegativesIvf(e, pred))
    assert(ivfNeg1.nonEmpty)
    val ivfNegAll = rows(Similarity.hardNegativesIvf(e, pred, probes = nCells))
    assert(ivfNegAll == exactNeg,
      "probing every cell must reproduce the exact triplet miner")
    val recall = exactNeg.intersect(ivfNeg1).size.toDouble / exactNeg.size
    info(f"probe-1 (anchor, rank, neg) recall vs exact: $recall%.3f")
    assert(recall >= 0.0 && recall <= 1.0)
  }
}

object AnnRecallSpec {
  /** The data-derived codebook size: base seeds ∪ 1/IVF_SEED_MOD
    * hash-rate extras, replicated with the same rule centsOf uses. */
  def cellCount(spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    import graft.operators.Similarity._
    graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(IVF_SEEDS: _*) ||
        graft.operators.Dedup.baseHash(
          concat(lit(IVF_SEED_SALT), col("vec_id").cast("string")))
          % IVF_SEED_MOD === 0)
      .count().toInt
  }

}
