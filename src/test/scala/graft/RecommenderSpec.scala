package graft

import org.apache.spark.sql.functions._
import graft.operators.{Kernel, Recommender}

/** Hand-computed 3-user × 4-item fixture (FIXTURES.md §2) exercising
  * the R2/R3 user-based formula (mean-centered, plain-sum denominator)
  * and the R4/R5 item-based formula (Σ|sim| denominator). Expected
  * values derived independently from the reference formulas
  * (UserBasedRatingRecommender.scala:56-64,
  * ItemBasedRatingRecommender.scala:54-62). */
class RecommenderSpec extends SparkSuite {

  private lazy val tiny = {
    val s = spark
    import s.implicits._
    Seq(
      (1, 1, 5.0), (1, 2, 3.0),
      (2, 1, 4.0), (2, 2, 2.0), (2, 3, 4.0),
      (3, 2, 5.0), (3, 3, 3.0), (3, 4, 1.0)
    ).toDF("user_id", "item_id", "rating")
  }

  test("user-based kNN top-K matches hand-computed fixture") {
    val got = Recommender.userKnnTopK(tiny, kNeighbors = 2, kItems = 2)
      .orderBy("user_id", "rk")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val want = Seq(
      (1, 3, 4.4206, 1), (1, 4, 2.0, 2),
      (2, 4, 1.3333, 1),
      (3, 1, 3.8041, 1))
    assert(got == want)
  }

  test("item-based kNN top-K matches hand-computed fixture") {
    val got = Recommender.itemKnnTopK(tiny, lit(true), kNeighbors = 2, kItems = 2)
      .orderBy("user_id", "rk")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val want = Seq(
      (1, 3, 3.8022, 1), (1, 4, 3.0, 2),
      (2, 4, 2.8504, 1),
      (3, 1, 4.0766, 1))
    assert(got == want)
  }

  test("itemKnnTopK rejects kItems = 0 instead of returning an empty frame") {
    intercept[IllegalArgumentException](
      Recommender.itemKnnTopK(tiny, lit(true), kNeighbors = 2, kItems = 0))
  }

  test("itemSimsDimsum at threshold 0 equals the exact item-item cosine") {
    val s = spark
    import s.implicits._
    val exact = tiny.as("a").join(tiny.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.item_id") < col("b.item_id"))
      .groupBy(col("a.item_id").as("i"), col("b.item_id").as("j"))
      .agg(org.apache.spark.sql.functions.sum(
        col("a.rating") * col("b.rating")).as("dot"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val norms = tiny.groupBy("item_id")
      .agg(org.apache.spark.sql.functions.sum(col("rating") * col("rating")).as("nsq"))
      .collect().map(r => (r.getInt(0), math.sqrt(r.getDouble(1)))).toMap
    val got = Recommender.itemSimsDimsum(tiny, threshold = 0.0)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, sim) =>
      val want = exact(k) / (norms(k._1) * norms(k._2))
      assert(math.abs(sim - want) < 1e-12, s"$k: $sim vs $want")
    }
  }

  test("userSimsDimsum at threshold 0 equals the exact user-user cosine") {
    val exact = tiny.as("a").join(tiny.as("b"),
        col("a.item_id") === col("b.item_id") &&
          col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .agg(org.apache.spark.sql.functions.sum(
        col("a.rating") * col("b.rating")).as("dot"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val norms = tiny.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.sum(col("rating") * col("rating")).as("nsq"))
      .collect().map(r => (r.getInt(0), math.sqrt(r.getDouble(1)))).toMap
    val got = Recommender.userSimsDimsum(tiny, threshold = 0.0)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, sim) =>
      val want = exact(k) / (norms(k._1) * norms(k._2))
      assert(math.abs(sim - want) < 1e-12, s"$k: $sim vs $want")
    }
  }

  test("userSimsAuto: boundary rule both sides; below the crossover it IS the exact kernel") {
    // the decision rule is shared with the item side — Σ n² pair-dot
    // volume against the same measured crossover, keyed per-ITEM here
    assert(!Recommender.resolveDimsum(Recommender.DIMSUM_MIN_PAIRDOTS - 1))
    assert(Recommender.resolveDimsum(Recommender.DIMSUM_MIN_PAIRDOTS))
    val s = spark
    import s.implicits._
    val r = Seq(
      (1L, 10L, 5.0), (1L, 11L, 3.0), (1L, 12L, 1.0),
      (2L, 10L, 4.0), (2L, 11L, 2.0),
      (3L, 11L, 5.0), (3L, 12L, 4.0)
    ).toDF("user_id", "item_id", "rating")
    val auto = Recommender.userSimsAuto(r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val exact = Recommender.userSims(r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(auto == exact, "below the crossover Auto must equal the exact kernel")
    assert(auto.nonEmpty)
  }

  test("userKnnTopK via simsSource equals the built-in sims path") {
    // the q16b seam: feeding the exact mirrored cosine sims through
    // simsSource must reproduce the default pipeline bit-for-bit
    val sims = Recommender.userSims(tiny)
    val viaSource = Recommender.userKnnTopK(tiny, 2, 4,
      simsSource = Some(sims)).collect().map(_.toSeq).toSet
    val direct = Recommender.userKnnTopK(tiny, 2, 4)
      .collect().map(_.toSeq).toSet
    assert(viaSource == direct && viaSource.nonEmpty)
    // cohort runs narrow the simsSource u-side
    val cohort = Recommender.userKnnTopK(tiny, 2, 4,
      targetUsers = Some(col("user_id") === 1),
      simsSource = Some(sims)).collect().map(_.toSeq).toSet
    val cohortDirect = Recommender.userKnnTopK(tiny, 2, 4,
      targetUsers = Some(col("user_id") === 1)).collect().map(_.toSeq).toSet
    assert(cohort == cohortDirect && cohort.nonEmpty)
  }

  test("userKnnTopKAuto below the crossover is bit-identical to the built-in exact path") {
    val auto = Recommender.userKnnTopKAuto(tiny, 2, 4)
      .collect().map(_.toSeq).toSet
    val exact = Recommender.userKnnTopK(tiny, 2, 4)
      .collect().map(_.toSeq).toSet
    assert(auto == exact && auto.nonEmpty)
  }

  test("userSims kernels equal dense-vector formulas (K2 zero-inclusive mean)") {
    import graft.operators.Kernel
    // the fixture densified over catalog {1,2,3,4}
    val dense = Map(
      1 -> Array(5.0, 3.0, 0.0, 0.0),
      2 -> Array(4.0, 2.0, 4.0, 0.0),
      3 -> Array(0.0, 5.0, 3.0, 1.0))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def wantSim(k: Kernel, a: Array[Double], b: Array[Double]): Double = k match {
      case Kernel.Cosine =>
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      case Kernel.Pearson => // whole-vector mean, ZEROS INCLUDED
        val n = a.length.toDouble
        val ma = a.sum / n; val mb = b.sum / n
        (dot(a, b) - n * ma * mb) /
          (math.sqrt(dot(a, a) - n * ma * ma) * math.sqrt(dot(b, b) - n * mb * mb))
      case Kernel.Jaccard =>
        val inter = a.zip(b).count { case (x, y) => x > 0 && y > 0 }
        val union = a.zip(b).count { case (x, y) => x > 0 || y > 0 }
        inter.toDouble / union
      case Kernel.InvEuclidean =>
        1.0 / (1.0 + math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum))
    }
    for (k <- Seq(Kernel.Cosine, Kernel.Pearson, Kernel.Jaccard, Kernel.InvEuclidean)) {
      val got = Recommender.userSims(tiny, k)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      assert(got.keySet ==
        Set((1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)), s"$k pairs")
      got.foreach { case ((u, v), sim) =>
        val want = wantSim(k, dense(u), dense(v))
        assert(math.abs(sim - want) < 1e-6, s"$k ($u,$v): $sim vs $want")
      }
    }
    // the item side: the fixture's item vectors densified over users
    // {1,2,3}, so K2's zero-inclusive mean runs over the user catalog
    val items = Map(
      1 -> Array(5.0, 4.0, 0.0),
      2 -> Array(3.0, 2.0, 5.0),
      3 -> Array(0.0, 4.0, 3.0),
      4 -> Array(0.0, 0.0, 1.0))
    val coRated = Set((1, 2), (1, 3), (2, 3), (2, 4), (3, 4))
    def itemCase(k: Kernel, catalog: Option[Long]): Unit = {
      val got = Recommender.itemSims(tiny, k, catalogSize = catalog)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      assert(got.keySet == coRated ++ coRated.map(_.swap), s"item $k pairs")
      // a configured catalog adds users who rated nothing: zero positions
      val pad = catalog.fold(0)(_.toInt - 3)
      def vec(i: Int) = items(i) ++ Array.fill(pad)(0.0)
      got.foreach { case ((i, j), sim) =>
        val want = wantSim(k, vec(i), vec(j))
        assert(math.abs(sim - want) < 1e-6, s"item $k $catalog ($i,$j): $sim vs $want")
      }
    }
    for (k <- Seq(Kernel.Cosine, Kernel.Pearson, Kernel.Jaccard, Kernel.InvEuclidean))
      itemCase(k, None)
    itemCase(Kernel.Pearson, Some(5L))
  }

  test("dense sims: a no-overlap K4 pair outranks a distant co-rated one") {
    val s = spark
    import s.implicits._
    // u1 ~ u2 co-rated but far apart (d² = 25+26−10 = 41);
    // u1 ~ u3 share nothing (d² = 25+1 = 26) — under InvEuclidean the
    // NO-OVERLAP pair is the closer neighbor, which the co-rated-only
    // approximation cannot see (the ADVICE r3 medium finding)
    val r = Seq((1, 1, 5.0), (2, 1, 1.0), (2, 3, 5.0), (3, 2, 1.0))
      .toDF("user_id", "item_id", "rating")
    val sparse = Recommender.userSims(r, Kernel.InvEuclidean,
        targetUsers = Some(col("user_id") === 1))
      .collect().map(x => (x.getInt(1), x.getDouble(2))).toMap
    assert(sparse.keySet == Set(2), "co-rated path only materializes u2")
    val denseSims = Recommender.userSims(r, Kernel.InvEuclidean,
        targetUsers = Some(col("user_id") === 1), dense = true)
      .collect().map(x => (x.getInt(1), x.getDouble(2))).toMap
    assert(denseSims.keySet == Set(2, 3))
    assert(denseSims(3) > denseSims(2), "no-overlap u3 outranks co-rated u2")
    assert(math.abs(denseSims(2) - 1.0 / (1.0 + math.sqrt(41.0))) < 1e-6)
    assert(math.abs(denseSims(3) - 1.0 / (1.0 + math.sqrt(26.0))) < 1e-6)
  }

  test("dense user-kNN over an empty cohort returns no rows, as the sparse path does") {
    Seq(Kernel.Pearson, Kernel.InvEuclidean).foreach { k =>
      Seq(false, true).foreach { dense =>
        val got = Recommender.userKnnTopK(tiny, kNeighbors = 2, kItems = 2,
          targetUsers = Some(lit(false)), kernel = k, dense = dense)
        assert(got.count() == 0, s"$k dense = $dense")
      }
    }
  }

  test("Pearson catalogSize pins the zero-inclusive N to the configured catalog") {
    val s = spark
    import s.implicits._
    val r = Seq((1, 1, 2.0), (1, 2, 4.0), (2, 1, 4.0), (2, 2, 2.0))
      .toDF("user_id", "item_id", "rating")
    def sim(cat: Option[Long]): Double =
      Recommender.userSims(r, Kernel.Pearson,
          targetUsers = Some(col("user_id") === 1), catalogSize = cat)
        .collect().map(x => x.getDouble(2)).head
    // default N = 2 rated items: means 3, centered dot = −2, var = 2 → −1
    assert(math.abs(sim(None) - (-1.0)) < 1e-6)
    // configured catalog N = 4 (reference _numberOfItems counts unrated
    // items too): means 1.5 → (16 − 9) / (20 − 9) = 7/11
    assert(math.abs(sim(Some(4L)) - 7.0 / 11.0) < 1e-6)
  }

  test("itemSimsDimsum sampling is deterministic across partitionings") {
    // threshold 0.9 → sg ≈ 3.92 < the fixture's big item norms, so
    // the hash draws genuinely fire; md5(user:item:salt) is a pure
    // function of values, so layout must not change a single pair
    def sims(df: org.apache.spark.sql.DataFrame) =
      Recommender.itemSimsDimsum(df, threshold = 0.9)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val base = sims(tiny)
    val shuffled = sims(tiny.repartition(7))
    assert(base == shuffled, "draws changed with partitioning")
    assert(base.nonEmpty)
  }

  test("userSimsDimsum sampling is deterministic across partitionings") {
    // the transposed twin of the item-side test: the hash key is
    // md5(item:user:salt), a pure function of values — layout must
    // not change a single pair
    def sims(df: org.apache.spark.sql.DataFrame) =
      Recommender.userSimsDimsum(df, threshold = 0.9)
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val base = sims(tiny)
    val shuffled = sims(tiny.repartition(7))
    assert(base == shuffled, "draws changed with partitioning")
    assert(base.nonEmpty)
  }

  test("itemSimsDimsum: pairs of small-norm columns stay EXACT under sampling") {
    // DIMSUM only thins oversampled (high-norm) columns: when both
    // norms ≤ sg, p = 1 and q = ‖c‖, so the estimator reduces to the
    // exact cosine — the property that makes threshold a pure
    // scale/accuracy dial rather than a semantics change. θ = 0.45 →
    // sg ≈ 5.55 puts items 3 (norm 5) and 4 (norm 1) both below it.
    val sg = math.floor(math.sqrt(10.0 * math.log(4.0) / 0.45) * 1e6 + 0.5) / 1e6
    val norms = tiny.groupBy("item_id")
      .agg(org.apache.spark.sql.functions.sum(col("rating") * col("rating")).as("nsq"))
      .collect().map(r => (r.getInt(0), math.sqrt(r.getDouble(1)))).toMap
    val exact = Recommender.itemSims(tiny)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val got = Recommender.itemSimsDimsum(tiny, threshold = 0.45)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    val smallPairs = got.filter { case ((i, j), _) =>
      norms(i) <= sg && norms(j) <= sg }
    assert(smallPairs.nonEmpty, "fixture must contain a small-norm pair")
    smallPairs.foreach { case ((i, j), sim) =>
      assert(math.abs(sim - exact((i, j))) < 2e-6, s"($i,$j): $sim")
    }
  }

  test("itemKnnTopK accepts an external sims source (DIMSUM slot-in)") {
    import graft.functions.Rounding.r6
    // rounded to the same 6 dp the internal kernel uses, threshold-0
    // DIMSUM is exact → identical recommendations to the fixture
    val dimsum = Recommender.mirrorSims(
      Recommender.itemSimsDimsum(tiny, threshold = 0.0))
      .select(col("i"), col("j"), r6(col("sim")).as("sim"))
    val got = Recommender.itemKnnTopK(tiny, lit(true), kNeighbors = 2, kItems = 2,
        simsSource = Some(dimsum))
      .orderBy("user_id", "rk")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val want = Seq(
      (1, 3, 3.8022, 1), (1, 4, 3.0, 2),
      (2, 4, 2.8504, 1),
      (3, 1, 4.0766, 1))
    assert(got == want)
  }

  test("itemPredictOn accepts an external sims source (kernel SPI seam)") {
    val s = spark
    import s.implicits._
    val cohort = tiny.filter(col("user_id") === 1)
      .select(col("user_id").as("u"), col("item_id").as("i"),
        col("rating").as("actual"))
    val direct = Recommender.itemPredictOn(tiny, cohort, kNeighbors = 2)
      .collect().map(_.toSeq).toSet
    // a FULL itemSims table (cosine) must reproduce the built-in
    // cohort-restricted cosine exactly — extra pairs only feed the
    // inner join as non-matches
    val viaSims = Recommender.itemPredictOn(tiny, cohort, kNeighbors = 2,
        simsSource = Some(Recommender.itemSims(tiny)))
      .collect().map(_.toSeq).toSet
    assert(direct.nonEmpty && direct == viaSims)
    // maxItemsPerUser: the built-in default is the cosine over the
    // capped profiles, as is a full itemSims over the same cap. Over
    // every fixture row, cap 2 truncates users 2 and 3 and so changes
    // the (2, 1) prediction
    val all = tiny.select(col("user_id").as("u"), col("item_id").as("i"),
      col("rating").as("actual"))
    val byCap = Seq(Int.MaxValue, 2).map { cap =>
      val default = Recommender.itemPredictOn(tiny, all, kNeighbors = 2,
          maxItemsPerUser = cap)
        .collect().map(_.toSeq).toSet
      val viaCapped = Recommender.itemPredictOn(tiny, all, kNeighbors = 2,
          simsSource = Some(Recommender.itemSims(tiny, maxItemsPerUser = cap)))
        .collect().map(_.toSeq).toSet
      assert(default.nonEmpty && default == viaCapped, s"cap $cap")
      default
    }
    assert(byCap(0) != byCap(1), "cap 2 must change the fixture's predictions")
  }

  test("heavy-key cap: no-op above max profile size, ≈ exact at moderate cap") {
    val r = graft.sources.Tables.ratings(spark, "/root/testdata/sf0.001")
    val cohort = col("user_id") % 20 === 0
    val exact = Recommender.itemKnnTopK(r, cohort, 8, 5).cache()
    val maxProfile = r.groupBy("user_id").count()
      .agg(max("count")).collect()(0).getLong(0).toInt

    // cap ≥ every profile → byte-identical results
    val capFull = Recommender.itemKnnTopK(r, cohort, 8, 5,
      maxItemsPerUser = maxProfile)
    assert(capFull.except(exact).count() == 0)
    assert(exact.except(capFull).count() == 0)

    // moderate cap: same shape (5 recs per cohort user), majority
    // overlap with the exact top-5 sets. (The synthetic ratings are
    // uniform noise, so sims are tightly bunched and truncation
    // reshuffles near-ties far more than a real power-law corpus
    // would — the threshold is deliberately loose.)
    val capped = Recommender.itemKnnTopK(r, cohort, 8, 5,
      maxItemsPerUser = math.max(maxProfile * 3 / 4, 5)).cache()
    assert(capped.groupBy("user_id").count()
      .filter(col("count") =!= 5).count() == 0)
    val nExact = exact.count()
    val nOverlap = exact.select("user_id", "item_id")
      .join(capped.select("user_id", "item_id"), Seq("user_id", "item_id"))
      .count()
    assert(nExact > 0 && nOverlap.toDouble / nExact >= 0.5,
      s"overlap $nOverlap / $nExact")
    exact.unpersist(); capped.unpersist()
  }

  test("user-side heavy-key cap: no-op above max raters, sane below") {
    // max raters per item in the fixture is 3 (item 2) — cap at 3 is
    // exact; cap at 2 truncates item 2's rater list but still
    // recommends for every user
    val exact = Recommender.userKnnTopK(tiny, 2, 2)
      .collect().map(_.toSeq).toSet
    val capFull = Recommender.userKnnTopK(tiny, 2, 2, maxRatersPerItem = 3)
      .collect().map(_.toSeq).toSet
    assert(capFull == exact)
    val capped = Recommender.userKnnTopK(tiny, 2, 2, maxRatersPerItem = 2)
    assert(capped.select("user_id").distinct().count() >= 2)
  }

  test("recommendations never include already-rated items") {
    val rated = tiny.select(col("user_id"), col("item_id"))
    val recs = Recommender.userKnnTopK(tiny, 2, 4)
    assert(recs.join(rated, Seq("user_id", "item_id")).count() == 0)
  }

  test("itemSimsAuto: boundary rule both sides; below the crossover it IS the exact kernel") {
    assert(!Recommender.resolveDimsum(Recommender.DIMSUM_MIN_PAIRDOTS - 1),
      "just under the crossover must run the exact kernel")
    assert(Recommender.resolveDimsum(Recommender.DIMSUM_MIN_PAIRDOTS),
      "at the crossover the estimator takes over")
    assert(Recommender.resolveDimsum(Recommender.DIMSUM_MIN_PAIRDOTS + 1))
    assert(!Recommender.resolveDimsum(1L))
    // a small corpus sits far below the crossover: Auto must return
    // the exact mirrored sims bit-for-bit
    val s = spark
    import s.implicits._
    val r = Seq(
      (1L, 10L, 5.0), (1L, 11L, 3.0), (1L, 12L, 1.0),
      (2L, 10L, 4.0), (2L, 11L, 2.0),
      (3L, 11L, 5.0), (3L, 12L, 4.0)
    ).toDF("user_id", "item_id", "rating")
    val auto = Recommender.itemSimsAuto(r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val exact = Recommender.itemSims(r).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(auto == exact, "below the crossover Auto must equal the exact kernel")
    assert(auto.nonEmpty)
  }
}
