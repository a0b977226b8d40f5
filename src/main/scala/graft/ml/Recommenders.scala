package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType
import org.json4s._
import graft.operators.{Content, Hybrid, Kernel, Recommender}

/**
 * The Estimator/Model layer (SURVEY §7.1 Layer 1) — `fit`/`transform`
 * wrappers mirroring the reference's `RecommenderInterface.scala:27-51`
 * (`fit(train); setSimilarity(...); transform(target)`) over the
 * distributed pipelines in [[graft.operators]]. A reference user's
 * `recSys.fit(train); recSys.transform(users)` code maps 1:1, and the
 * estimators drop into `ml.Pipeline` (proper Params + transformSchema).
 *
 * `fit` is deliberately lazy — the kNN pipelines are single
 * DataFrame-to-DataFrame plans, so the "model" holds the train
 * DataFrame and every `transform(targets)` builds the cohort-restricted
 * plan (a broadcast semi-join on the target ids narrows the expensive
 * pair stage, exactly like the predicate cohorts in q16/q17). Callers
 * iterating many transforms over one train set should `.cache()` the
 * train DataFrame — caching policy stays with the CALLER, never pinned
 * inside the library (the round-2 advice on cache scoping).
 */
private[ml] trait KnnParams extends Params {
  final val userBased = new BooleanParam(this, "userBased",
    "user-based (true) or item-based (false) — the reference's isUserBased flag")
  final val kernelName = new Param[String](this, "kernel",
    "similarity kernel: cosine | pearson | jaccard | invEuclidean " +
      "(the reference's setSimilarity SPI)",
    ParamValidators.inArray(Array("cosine", "pearson", "jaccard", "invEuclidean")))
  final val kNeighbors = new IntParam(this, "kNeighbors", "neighborhood size",
    ParamValidators.gt(0))
  final val kItems = new IntParam(this, "kItems", "recommendations per user",
    ParamValidators.gt(0))
  final val maxItemsPerUser = new IntParam(this, "maxItemsPerUser",
    "heavy-key cap on the pair fan-out (item-based; Int.MaxValue = exact)",
    ParamValidators.gt(0))
  final val denseSims = new BooleanParam(this, "denseSims",
    "dense cohort similarity grid — the reference's dense-vector " +
      "semantics, where no-overlap pairs compete for neighborhoods " +
      "(semantically different from sparse only for pearson/invEuclidean)")
  final val catalogSize = new LongParam(this, "catalogSize",
    "pins Pearson's zero-inclusive N to the reference's configured " +
      "catalog (_numberOfItems); 0 = derive from the training data",
    ParamValidators.gtEq(0))
  setDefault(userBased -> true, kernelName -> "cosine",
    kNeighbors -> 25, kItems -> 5, maxItemsPerUser -> Int.MaxValue,
    denseSims -> false, catalogSize -> 0L)

  private[ml] def catalogOpt: Option[Long] =
    if ($(catalogSize) == 0L) None else Some($(catalogSize))

  private[ml] def kernel: Kernel = $(kernelName) match {
    case "cosine" => Kernel.Cosine
    case "pearson" => Kernel.Pearson
    case "jaccard" => Kernel.Jaccard
    case "invEuclidean" => Kernel.InvEuclidean
  }
}

/** Collaborative kNN recommender (R2-R5): `fit` on long-form
  * `(user_id, item_id, rating)`, `transform` on a target-user
  * DataFrame → `(user_id, item_id, score, rk)` top-k. */
class KnnRecommender(override val uid: String)
    extends Estimator[KnnRecommenderModel] with KnnParams {
  def this() = this(Identifiable.randomUID("knnRec"))
  def setUserBased(v: Boolean): this.type = set(userBased, v)
  def setKernel(v: String): this.type = set(kernelName, v)
  def setKNeighbors(v: Int): this.type = set(kNeighbors, v)
  def setKItems(v: Int): this.type = set(kItems, v)
  def setMaxItemsPerUser(v: Int): this.type = set(maxItemsPerUser, v)
  def setDenseSims(v: Boolean): this.type = set(denseSims, v)
  def setCatalogSize(v: Long): this.type = set(catalogSize, v)

  override def fit(dataset: Dataset[_]): KnnRecommenderModel =
    copyValues(new KnnRecommenderModel(uid, dataset.toDF()).setParent(this))
  override def copy(extra: ParamMap): KnnRecommender = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

object KnnRecommenderModel extends MLReadable[KnnRecommenderModel] {
  private[ml] val OUT_SCHEMA: StructType =
    StructType.fromDDL("user_id LONG, item_id LONG, score DOUBLE, rk INT")

  override def read: MLReader[KnnRecommenderModel] =
    GraftMLIO.reader { (spark, path, uid, _) =>
      new KnnRecommenderModel(uid,
        spark.read.parquet(GraftMLIO.subPath(path, "train")))
    }
}

class KnnRecommenderModel private[ml] (override val uid: String,
                                       val train: DataFrame)
    extends Model[KnnRecommenderModel] with KnnParams with MLWritable {

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMLIO.writeMeta(path, "graft.ml.KnnRecommenderModel", uid,
        GraftMLIO.paramsJson(KnnRecommenderModel.this))
      train.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "train"))
    }
  }

  /** Dense cohort sims are exposed on user-based models only: the
    * item-based paths rank on the co-rated item pairs alone — fail
    * loudly instead of silently ignoring the param on an item-based
    * model. */
  private def requireDenseIsUserBased(): Unit =
    require(!$(denseSims) || $(userBased),
      "denseSims = true applies to user-based models only")

  /** Top-k recommendations for the users in `targets` (a `user_id`
    * column; extra columns ignored). */
  override def transform(targets: Dataset[_]): DataFrame = {
    requireDenseIsUserBased()
    val cohort = Recommender.semiJoin(targets.toDF())
    if ($(userBased))
      Recommender.userKnnTopKRestricted(train, $(kNeighbors), $(kItems),
        Some(cohort), kernel, dense = $(denseSims), catalogSize = catalogOpt)
    else
      Recommender.itemKnnTopKRestricted(train, cohort, $(kNeighbors), $(kItems),
        None, $(maxItemsPerUser), kernel, catalogOpt)
  }

  /** Rating prediction for held-out `(u, item_id|i, actual)` pairs —
    * the reference's per-cell `transform(target, index)` as one
    * distributed pass (fold-evaluation shape, Main.scala:61-126). */
  def predictRatings(cohort: DataFrame): DataFrame = {
    requireDenseIsUserBased()
    if ($(userBased)) Recommender.userPredictOn(train, cohort, $(kNeighbors),
      kernel = kernel, dense = $(denseSims), catalogSize = catalogOpt)
    else Recommender.itemPredictOn(train, cohort, $(kNeighbors),
      $(maxItemsPerUser),
      // the built-in default is cohort-restricted COSINE; any other
      // kernel rides the simsSource seam so the configured kernel is
      // honored on BOTH model surfaces (transform already is)
      simsSource =
        if (kernel == Kernel.Cosine) None
        else Some(Recommender.itemSims(train, kernel, $(maxItemsPerUser),
          catalogOpt)))
  }

  override def copy(extra: ParamMap): KnnRecommenderModel =
    copyValues(new KnnRecommenderModel(uid, train), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

/** Content-based recommender (R6/R7): item-feature kNN with the K5
  * zero-similarity Euclidean fallback. `setItemFeatures` supplies the
  * `(item_id, fv: array<double>)` dimension (R6 assembly). */
class ContentKnnRecommender(override val uid: String)
    extends Estimator[ContentKnnRecommenderModel] {
  def this() = this(Identifiable.randomUID("contentRec"))
  final val kNeighbors = new IntParam(this, "kNeighbors", "neighborhood size")
  final val kItems = new IntParam(this, "kItems", "recommendations per user")
  setDefault(kNeighbors -> 8, kItems -> 5)
  def setKNeighbors(v: Int): this.type = set(kNeighbors, v)
  def setKItems(v: Int): this.type = set(kItems, v)
  private var features: DataFrame = _
  def setItemFeatures(df: DataFrame): this.type = { features = df; this }

  override def fit(dataset: Dataset[_]): ContentKnnRecommenderModel = {
    require(features != null, "setItemFeatures(df) must be called before fit")
    copyValues(new ContentKnnRecommenderModel(uid, dataset.toDF(), features,
      $(kNeighbors), $(kItems)).setParent(this))
  }
  override def copy(extra: ParamMap): ContentKnnRecommender = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

class ContentKnnRecommenderModel private[ml] (override val uid: String,
                                              val train: DataFrame,
                                              val features: DataFrame,
                                              val kNeighbors: Int, val kItems: Int)
    extends Model[ContentKnnRecommenderModel] with MLWritable {
  override def transform(targets: Dataset[_]): DataFrame =
    Content.contentTopKFor(train, features, targets.toDF(), kNeighbors, kItems)
  override def copy(extra: ParamMap): ContentKnnRecommenderModel =
    copyValues(new ContentKnnRecommenderModel(uid, train, features,
      kNeighbors, kItems), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMLIO.writeMeta(path, "graft.ml.ContentKnnRecommenderModel", uid,
        JObject(), JObject(List[JField](
          "kNeighbors" -> JInt(kNeighbors), "kItems" -> JInt(kItems))))
      train.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "train"))
      features.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "features"))
    }
  }
}

object ContentKnnRecommenderModel extends MLReadable[ContentKnnRecommenderModel] {
  override def read: MLReader[ContentKnnRecommenderModel] =
    new MLReader[ContentKnnRecommenderModel] {
      override def load(path: String): ContentKnnRecommenderModel = {
        val (_, uid, _, meta) = GraftMLIO.readMeta(path)
        val kn = (meta \ "kNeighbors").asInstanceOf[JInt].num.toInt
        val ki = (meta \ "kItems").asInstanceOf[JInt].num.toInt
        new ContentKnnRecommenderModel(uid,
          sparkSession.read.parquet(GraftMLIO.subPath(path, "train")),
          sparkSession.read.parquet(GraftMLIO.subPath(path, "features")),
          kn, ki)
      }
    }
}

/** Hybrid fusion (R10): two child recommenders, head-normalized and
  * weight-summed (reference HybridRecommenderTopK.scala:81-121). */
class HybridRecommender(override val uid: String)
    extends Estimator[HybridRecommenderModel] {
  def this() = this(Identifiable.randomUID("hybridRec"))
  final val weightA = new DoubleParam(this, "weightA", "first child weight")
  final val weightB = new DoubleParam(this, "weightB", "second child weight")
  final val kItems = new IntParam(this, "kItems", "fused list length")
  setDefault(weightA -> 0.5, weightB -> 0.5, kItems -> 5)
  def setWeightA(v: Double): this.type = set(weightA, v)
  def setWeightB(v: Double): this.type = set(weightB, v)
  def setKItems(v: Int): this.type = set(kItems, v)
  private var children: (Estimator[_ <: Model[_]], Estimator[_ <: Model[_]]) = _
  def setChildren(a: Estimator[_ <: Model[_]], b: Estimator[_ <: Model[_]]): this.type = {
    children = (a, b); this
  }

  override def fit(dataset: Dataset[_]): HybridRecommenderModel = {
    require(children != null, "setChildren(a, b) must be called before fit")
    val ma = children._1.fit(dataset).asInstanceOf[Model[_]]
    val mb = children._2.fit(dataset).asInstanceOf[Model[_]]
    copyValues(new HybridRecommenderModel(uid, ma, mb,
      $(weightA), $(weightB), $(kItems)).setParent(this))
  }
  override def copy(extra: ParamMap): HybridRecommender = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

private[ml] trait AlsParams extends Params {
  final val rank = new IntParam(this, "rank", "latent factor dimension",
    ParamValidators.gt(0))
  final val maxIter = new IntParam(this, "maxIter", "ALS sweeps",
    ParamValidators.gt(0))
  final val regParam = new DoubleParam(this, "regParam", "L2 regularization",
    ParamValidators.gtEq(0.0))
  final val seed = new LongParam(this, "seed", "factor init seed")
  final val kItems = new IntParam(this, "kItems", "recommendations per user",
    ParamValidators.gt(0))
  setDefault(rank -> 10, maxIter -> 10, regParam -> 0.1, seed -> 42L,
    kItems -> 5)
}

/** ALS matrix factorization behind the same `fit`/`transform` surface
  * as [[KnnRecommender]] (beyond-reference). This is the method that
  * actually scales collaborative filtering past the kNN family: every
  * kNN path materializes co-occurrence PAIRS (bounded by caps/DIMSUM
  * but still pair-shaped), while ALS is O(nnz·rank²) per sweep over
  * block-partitioned factor matrices — the shape you run when the
  * rating matrix itself is the 100-TB table. Wraps
  * `ml.recommendation.ALS` (seed-fixed, coldStartStrategy=drop) and
  * emits the layer's common (user_id, item_id, score, rk) output. */
class AlsRecommender(override val uid: String)
    extends Estimator[AlsRecommenderModel] with AlsParams {
  def this() = this(Identifiable.randomUID("alsRec"))
  def setRank(v: Int): this.type = set(rank, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setRegParam(v: Double): this.type = set(regParam, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setKItems(v: Int): this.type = set(kItems, v)

  override def fit(dataset: Dataset[_]): AlsRecommenderModel = {
    import org.apache.spark.sql.functions.col
    // ALS requires integer ids; long-form ratings cast down (checked
    // nowhere because the testdata/MovieLens id spaces are int-sized —
    // a production caller with long ids supplies a dense re-indexing)
    val train = dataset.toDF().select(
      col("user_id").cast("int").as("als_user"),
      col("item_id").cast("int").as("als_item"),
      col("rating").cast("float").as("als_rating"))
    val als = new org.apache.spark.ml.recommendation.ALS()
      .setUserCol("als_user").setItemCol("als_item").setRatingCol("als_rating")
      .setRank($(rank)).setMaxIter($(maxIter)).setRegParam($(regParam))
      .setSeed($(seed)).setColdStartStrategy("drop")
    copyValues(new AlsRecommenderModel(uid, als.fit(train)).setParent(this))
  }
  override def copy(extra: ParamMap): AlsRecommender = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

class AlsRecommenderModel private[ml] (override val uid: String,
    val alsModel: org.apache.spark.ml.recommendation.ALSModel)
    extends Model[AlsRecommenderModel] with AlsParams with MLWritable {
  import org.apache.spark.sql.functions._

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMLIO.writeMeta(path, "graft.ml.AlsRecommenderModel", uid,
        GraftMLIO.paramsJson(AlsRecommenderModel.this))
      alsModel.write.overwrite().save(GraftMLIO.subPath(path, "als"))
    }
  }

  /** Top-k recommendations for the users in `targets` (a `user_id`
    * column) — `recommendForUserSubset` scores only the cohort. */
  override def transform(targets: Dataset[_]): DataFrame =
    alsModel.recommendForUserSubset(
        targets.toDF().select(col("user_id").cast("int").as("als_user")).distinct(),
        $(kItems))
      .select(col("als_user").cast("long").as("user_id"),
        posexplode(col("recommendations")))
      .select(col("user_id"), col("col.als_item").cast("long").as("item_id"),
        col("col.rating").cast("double").as("score"),
        (col("pos") + 1).cast("int").as("rk"))

  /** Rating prediction for held-out `(u, item_id, actual)` pairs —
    * same fold-evaluation surface as [[KnnRecommenderModel]];
    * cold-start users/items drop (coldStartStrategy=drop). */
  def predictRatings(cohort: DataFrame): DataFrame =
    alsModel.transform(cohort.select(col("u"), col("item_id"), col("actual"),
        col("u").cast("int").as("als_user"),
        col("item_id").cast("int").as("als_item")))
      .filter(!isnan(col("prediction")))
      .select(col("u"), col("item_id"), col("actual"),
        col("prediction").cast("double").as("predicted"))

  override def copy(extra: ParamMap): AlsRecommenderModel =
    copyValues(new AlsRecommenderModel(uid, alsModel), extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

object AlsRecommenderModel extends MLReadable[AlsRecommenderModel] {
  override def read: MLReader[AlsRecommenderModel] =
    GraftMLIO.reader { (_, path, uid, _) =>
      new AlsRecommenderModel(uid, org.apache.spark.ml.recommendation.ALSModel
        .load(GraftMLIO.subPath(path, "als")))
    }
}

class HybridRecommenderModel private[ml] (override val uid: String,
                                          val childA: Model[_], val childB: Model[_],
                                          val wa: Double, val wb: Double,
                                          val kItems: Int)
    extends Model[HybridRecommenderModel] with MLWritable {
  override def transform(targets: Dataset[_]): DataFrame =
    Hybrid.fuseTopK(childA.transform(targets), childB.transform(targets),
      wa, wb, kItems)
  override def copy(extra: ParamMap): HybridRecommenderModel =
    copyValues(new HybridRecommenderModel(uid, childA, childB, wa, wb, kItems),
      extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      def saveChild(c: Model[_], sub: String): Unit = c match {
        case w: MLWritable => w.write.overwrite()
          .save(GraftMLIO.subPath(path, sub))
        case other => throw new IllegalArgumentException(
          s"hybrid child ${other.getClass.getName} is not MLWritable")
      }
      GraftMLIO.writeMeta(path, "graft.ml.HybridRecommenderModel", uid,
        JObject(), JObject(List[JField](
          "wa" -> JDouble(wa), "wb" -> JDouble(wb), "kItems" -> JInt(kItems))))
      saveChild(childA, "childA")
      saveChild(childB, "childB")
    }
  }
}

object HybridRecommenderModel extends MLReadable[HybridRecommenderModel] {
  override def read: MLReader[HybridRecommenderModel] =
    new MLReader[HybridRecommenderModel] {
      override def load(path: String): HybridRecommenderModel = {
        val (_, uid, _, meta) = GraftMLIO.readMeta(path)
        val wa = (meta \ "wa").asInstanceOf[JDouble].num
        val wb = (meta \ "wb").asInstanceOf[JDouble].num
        val ki = (meta \ "kItems").asInstanceOf[JInt].num.toInt
        new HybridRecommenderModel(uid,
          GraftMLIO.loadChild(GraftMLIO.subPath(path, "childA")),
          GraftMLIO.loadChild(GraftMLIO.subPath(path, "childB")),
          wa, wb, ki)
      }
    }
}
