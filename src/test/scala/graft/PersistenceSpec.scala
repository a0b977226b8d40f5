package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml._

/** Model persistence: every graft.ml model survives save → load with
  * byte-identical transform output and restored params — the
  * `model.save(path)` a reference user migrating fit/transform code
  * (RecommenderInterface.scala:27-51) eventually calls. */
class PersistenceSpec extends SparkSuite {

  private def tmp(name: String): String =
    java.nio.file.Paths.get(tempDir(name)).resolve("model").toString

  private def ratings: DataFrame = {
    val s = spark
    import s.implicits._
    (for {
      u <- 1L to 8L
      i <- 1L to 10L
      if (u * 13 + i * 7) % 3 != 0 // holes: not every user rates every item
    } yield (u, i, 1.0 + ((u * 5 + i * 11) % 9) * 0.5))
      .toDF("user_id", "item_id", "rating")
  }

  private def targets: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(1L, 3L, 5L).toDF("user_id")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("KnnRecommenderModel round-trips with non-default params") {
    val m = new KnnRecommender()
      .setKernel("pearson").setKNeighbors(3).setKItems(4).setCatalogSize(10L)
      .fit(ratings)
    val before = rows(m.transform(targets))
    assert(before.nonEmpty)
    val path = tmp("knn")
    m.write.overwrite().save(path)
    val loaded = KnnRecommenderModel.load(path)
    assert(rows(loaded.transform(targets)) == before)
    assert(loaded.getOrDefault(loaded.kernelName) == "pearson")
    assert(loaded.getOrDefault(loaded.kNeighbors) == 3)
    assert(loaded.getOrDefault(loaded.catalogSize) == 10L)
    // the fold-evaluation surface survives too
    val cohort = ratings.filter(col("user_id") === 2L)
      .select(col("user_id").as("u"), col("item_id"), col("rating").as("actual"))
    assert(rows(loaded.predictRatings(cohort)) == rows(m.predictRatings(cohort)))
  }

  test("ContentKnnRecommenderModel round-trips train + features + ints") {
    val s = spark
    import s.implicits._
    val feats = (1L to 10L).map(i =>
      (i, (1 to 16).map(d => math.sin(i * d.toDouble)).toSeq))
      .toDF("item_id", "fv")
    val m = new ContentKnnRecommender().setKNeighbors(4).setKItems(3)
      .setItemFeatures(feats).fit(ratings)
    val before = rows(m.transform(targets))
    assert(before.nonEmpty)
    val path = tmp("content")
    m.write.overwrite().save(path)
    val loaded = ContentKnnRecommenderModel.load(path)
    assert(loaded.kNeighbors == 4 && loaded.kItems == 3)
    assert(rows(loaded.transform(targets)) == before)
  }

  test("AlsRecommenderModel round-trips through ALSModel persistence") {
    val m = new AlsRecommender().setRank(4).setMaxIter(3).setKItems(3)
      .fit(ratings)
    val before = rows(m.transform(targets))
    assert(before.nonEmpty)
    val path = tmp("als")
    m.write.overwrite().save(path)
    val loaded = AlsRecommenderModel.load(path)
    assert(rows(loaded.transform(targets)) == before)
    assert(loaded.getOrDefault(loaded.kItems) == 3)
  }

  test("SOMModel round-trips the weight grid exactly") {
    val s = spark
    import s.implicits._
    val pts = (1 to 40).map(i =>
      (i.toLong, Seq(i % 5 * 1.0, i % 7 * 1.0, i % 3 * 1.0)))
      .toDF("id", "features")
    val m = new SOM().setHeight(2).setWidth(3).setMaxIter(3).setSeed(42L)
      .fit(pts)
    val path = tmp("som")
    m.write.overwrite().save(path)
    val loaded = SOMModel.load(path)
    assert(loaded.weights.map(_.toSeq).toSeq == m.weights.map(_.toSeq).toSeq,
      "weight grid must round-trip bit-exactly")
    assert(rows(loaded.transform(pts)) == rows(m.transform(pts)))
  }

  test("HybridRecommenderModel round-trips nested children by class dispatch") {
    val s = spark
    import s.implicits._
    val feats = (1L to 10L).map(i =>
      (i, (1 to 16).map(d => math.cos(i * d.toDouble)).toSeq))
      .toDF("item_id", "fv")
    val m = new HybridRecommender()
      .setWeightA(0.7).setWeightB(0.3).setKItems(4)
      .setChildren(
        new KnnRecommender().setKNeighbors(3).setKItems(5),
        new ContentKnnRecommender().setKNeighbors(4).setKItems(5)
          .setItemFeatures(feats))
      .fit(ratings)
    val before = rows(m.transform(targets))
    assert(before.nonEmpty)
    val path = tmp("hybrid")
    m.write.overwrite().save(path)
    val loaded = HybridRecommenderModel.load(path)
    assert(loaded.wa == 0.7 && loaded.wb == 0.3 && loaded.kItems == 4)
    assert(loaded.childA.isInstanceOf[KnnRecommenderModel])
    assert(loaded.childB.isInstanceOf[ContentKnnRecommenderModel])
    assert(rows(loaded.transform(targets)) == before)
  }

  test("SequentialRecommenderModel round-trips trans + assignment + rules") {
    val s = spark
    import s.implicits._
    // 12 users × the LAST 4 periods (rel −3…0 under NUM_PERIODS = 8,
    // so period-0 rules actually fire) over two item neighborhoods;
    // users repeat their group's basket every period
    val trans = (for {
      u <- 1L to 12L
      p <- 4L to 7L
      i <- if (u % 2 == 0) Seq(1L, 2L, 3L) else Seq(8L, 9L, 10L)
    } yield (u * 10 + p, u, p, i)).toDF("t_id", "user_id", "period_id", "item_id")
    val m = new graft.ml.SequentialRecommender()
      .setNumClusters(4).setClusterIters(2).setKItems(3).fit(trans)
    val allUsers = trans.select("user_id").distinct()
    val before = rows(m.transform(allUsers))
    assert(before.nonEmpty, "fixture must fire at least one sequential rule")
    val path = tmp("seq")
    m.write.overwrite().save(path)
    val loaded = graft.ml.SequentialRecommenderModel.load(path)
    assert(loaded.getOrDefault(loaded.numClusters) == 4)
    assert(loaded.getOrDefault(loaded.kItems) == 3)
    assert(rows(loaded.transform(allUsers)) == before)
    assert(rows(loaded.recommendDetailed(allUsers)) ==
      rows(m.recommendDetailed(allUsers)))
  }

  test("a ranges-mode-fitted SequentialRecommenderModel saves and loads (StringArrayParam serialization)") {
    val s = spark
    import s.implicits._
    // the same fixture as above, but entering through period mode 1:
    // timestamps spread over four weeks, explicit weekly ranges
    val trans = (for {
      u <- 1L to 12L
      p <- 4L to 7L
      i <- if (u % 2 == 0) Seq(1L, 2L, 3L) else Seq(8L, 9L, 10L)
    } yield {
      val day = (p - 3) * 7
      (u * 10 + p, u,
        java.sql.Timestamp.valueOf(f"2024-03-$day%02d 00:00:00"), i)
    }).toDF("t_id", "user_id", "timestamp", "item_id")
    val ranges = (0L to 3L).map { k =>
      (k + 4L, f"2024-03-${k * 7 + 1}%02d 00:00:00",
        f"2024-03-${k * 7 + 8}%02d 00:00:00")
    }
    val m = new graft.ml.SequentialRecommender()
      .setNumClusters(4).setClusterIters(2).setKItems(3)
      .setPeriodRanges(ranges).fit(trans)
    val allUsers = trans.select("user_id").distinct()
    val before = rows(m.transform(allUsers))
    // the SET array param must serialize (pre-fix: paramsJson threw
    // 'unserializable param periodRanges') and restore verbatim
    val path = tmp("seq_ranges")
    m.write.overwrite().save(path)
    val loaded = graft.ml.SequentialRecommenderModel.load(path)
    assert(loaded.getOrDefault(loaded.periodRanges).toSeq ==
      ranges.map { case (id, st, en) => s"$id|$st|$en" })
    assert(rows(loaded.transform(allUsers)) == before)
  }

  test("hybrid-of-hybrids loads back (loadChild accepts a nested hybrid)") {
    val s = spark
    import s.implicits._
    val feats = (1L to 10L).map(i =>
      (i, (1 to 16).map(d => math.cos(i * d.toDouble)).toSeq))
      .toDF("item_id", "fv")
    val inner = new HybridRecommender().setWeightA(0.6).setWeightB(0.4)
      .setKItems(5)
      .setChildren(
        new KnnRecommender().setKNeighbors(3).setKItems(5),
        new ContentKnnRecommender().setKNeighbors(4).setKItems(5)
          .setItemFeatures(feats))
    val m = new HybridRecommender().setWeightA(0.5).setWeightB(0.5).setKItems(3)
      .setChildren(inner, new KnnRecommender().setKernel("jaccard").setKItems(5))
      .fit(ratings)
    val before = rows(m.transform(targets))
    assert(before.nonEmpty)
    val path = tmp("hybrid2")
    m.write.overwrite().save(path)
    val loaded = HybridRecommenderModel.load(path)
    assert(loaded.childA.isInstanceOf[HybridRecommenderModel])
    assert(rows(loaded.transform(targets)) == before)
  }
}
