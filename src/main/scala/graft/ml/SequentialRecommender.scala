package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.SeqRecommender

/**
 * The sequential recommender as a first-class `fit`/`transform`
 * citizen — the reference's fifth recommender
 * (`SequentialTopKRecommender.scala:87-152` behind
 * `RecommenderInterface.scala:27-51`), wrapping the distributed q58
 * pipeline ([[graft.operators.SeqRecommender]]) the way
 * [[KnnRecommender]] wraps the kNN paths.
 *
 * `fit` takes LONG-FORM TRANSACTIONS `(t_id, user_id, period_id,
 * item_id)` — the reference's `getTransactionDf` shape, producible
 * from any order-log via [[SeqRecommender.transactions]] — and is
 * EAGER, mirroring the reference's fit (clusterer training + rule
 * mining both happen there, :403-533): it runs the deterministic
 * sparse Lloyd clustering and mines the CMRules-style sequential
 * rules over the full token baskets. Both become model state, so
 * `transform` is pure scoring (R9): token-match the cohort's baskets
 * against the broadcast rules, argmax the best rule per user, and
 * recommend the consequent cluster's top last-period items minus
 * seen — per-user independent, so a cohort run equals the full run
 * filtered.
 *
 * Persistence: `trans`, `assigned` (the fitted cluster labels) and
 * `rules` (tiny) round-trip as parquet; reload replays scoring
 * byte-identically — tie-breaks are deterministic and every float is
 * 6-dp-quantized upstream ([[SeqRecommender.scoreRules]]).
 */
private[ml] trait SequentialParams extends Params {
  final val numClusters = new IntParam(this, "numClusters",
    "transaction-basket cluster count (reference's SOM grid size)",
    ParamValidators.gt(0))
  final val clusterIters = new IntParam(this, "clusterIters",
    "deterministic Lloyd iterations", ParamValidators.gt(0))
  final val kItems = new IntParam(this, "kItems", "recommendations per user",
    ParamValidators.gt(0))
  final val timestampCol = new Param[String](this, "timestampCol",
    "timestamp column used when fit input carries no period_id")
  final val periodRanges = new StringArrayParam(this, "periodRanges",
    "explicit period ranges as 'id|yyyy-MM-dd HH:mm:ss|yyyy-MM-dd HH:mm:ss' " +
      "entries (reference period mode 1: first match wins, unmatched " +
      "timestamps take the last range)")
  final val periodDuration = new Param[String](this, "periodDuration",
    "period window duration, e.g. '30 days' (reference period mode 2)")
  final val numPeriods = new IntParam(this, "numPeriods",
    "target period count; span/n-day windows, extras clamp to the last " +
      "(reference period mode 3)", ParamValidators.gt(0))
  setDefault(numClusters -> SeqRecommender.NUM_CLUSTERS,
    clusterIters -> SeqRecommender.KMEANS_ITERS,
    kItems -> SeqRecommender.TOP_K,
    timestampCol -> "timestamp")
}

class SequentialRecommender(override val uid: String)
    extends Estimator[SequentialRecommenderModel] with SequentialParams {
  def this() = this(Identifiable.randomUID("seqRec"))
  def setNumClusters(v: Int): this.type = set(numClusters, v)
  def setClusterIters(v: Int): this.type = set(clusterIters, v)
  def setKItems(v: Int): this.type = set(kItems, v)
  def setTimestampCol(v: String): this.type = set(timestampCol, v)
  /** Reference period mode 1 — explicit ranges. */
  def setPeriodRanges(v: Seq[(Long, String, String)]): this.type =
    set(periodRanges, v.map { case (id, s, e) => s"$id|$s|$e" }.toArray)
  /** Reference period mode 2 — fixed window duration. */
  def setPeriodDuration(v: String): this.type = set(periodDuration, v)
  /** Reference period mode 3 — target period count. */
  def setNumPeriods(v: Int): this.type = set(numPeriods, v)

  /** Reference `buildPeriods` precedence (:263-277): explicit ranges,
    * else duration, else count — applied only when the fit input
    * carries no `period_id` of its own (pre-bucketed input keeps the
    * operator-path behavior unchanged). */
  private def withPeriods(trans: DataFrame): DataFrame =
    if (trans.columns.contains("period_id")) trans
    else {
      require(trans.columns.contains($(timestampCol)),
        s"period modes need timestamp column '${$(timestampCol)}'")
      val out =
        if (isSet(periodRanges)) {
          val ranges = $(periodRanges).toSeq.map { s =>
            val Array(id, st, en) = s.split('|')
            (id.toLong, java.sql.Timestamp.valueOf(st),
              java.sql.Timestamp.valueOf(en))
          }
          SeqRecommender.assignPeriodsFromRanges(trans, ranges, $(timestampCol))
        } else if (isSet(periodDuration))
          SeqRecommender.assignPeriodsFromDuration(trans, $(periodDuration),
            $(timestampCol))
        else if (isSet(numPeriods))
          SeqRecommender.assignPeriodsFromCount(trans, $(numPeriods),
            $(timestampCol))
        else throw new IllegalArgumentException(
          "fit input has no period_id and no period mode is set — " +
            "provide period_id, or one of periodRanges/periodDuration/numPeriods")
      out.drop($(timestampCol))
    }

  override def fit(dataset: Dataset[_]): SequentialRecommenderModel = {
    val trans = withPeriods(dataset.toDF())
    Seq("t_id", "user_id", "period_id", "item_id").foreach(c =>
      require(trans.columns.contains(c),
        s"fit input must be long-form transactions with column $c"))
    val titems = trans.select("t_id", "item_id").distinct()
    val assigned = SeqRecommender
      .clusterTransactionsSparse(titems, $(numClusters), $(clusterIters))
      .localCheckpoint(true)
    val baskets = SeqRecommender.clusterTokens(trans, assigned)
      .groupBy("user_id").agg(sort_array(collect_set(col("token"))).as("items"))
      .cache()
    val rules =
      try SeqRecommender.mineSeqRules(baskets, baskets.count())
        .localCheckpoint(true)
      finally baskets.unpersist()
    copyValues(new SequentialRecommenderModel(uid, trans, assigned, rules)
      .setParent(this))
  }
  override def copy(extra: ParamMap): SequentialRecommender = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

class SequentialRecommenderModel private[ml] (override val uid: String,
                                              val trans: DataFrame,
                                              val assigned: DataFrame,
                                              val rules: DataFrame)
    extends Model[SequentialRecommenderModel] with SequentialParams
    with MLWritable {

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftMLIO.writeMeta(path, "graft.ml.SequentialRecommenderModel", uid,
        GraftMLIO.paramsJson(SequentialRecommenderModel.this))
      trans.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "trans"))
      assigned.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "assigned"))
      rules.write.mode("overwrite").parquet(GraftMLIO.subPath(path, "rules"))
    }
  }

  /** Top-k for the users in `targets` (a `user_id` column): the
    * cohort's baskets rebuild from the fitted assignment (cheap keyed
    * ops), scoring rides the fit-time rules. The operator-shape
    * columns (`cluster`, raw `cnt`) are in [[recommendDetailed]];
    * transform emits the layer-common (user_id, item_id, score, rk)
    * so a sequential model drops into [[HybridRecommender]]. */
  override def transform(targets: Dataset[_]): DataFrame =
    recommendDetailed(targets.toDF())
      .select(col("user_id"), col("item_id"),
        col("cnt").cast("double").as("score"), col("rk"))

  /** The q58 operator output shape `(user_id, cluster, item_id, cnt,
    * rk)` for the target cohort. */
  def recommendDetailed(targets: DataFrame): DataFrame = {
    val t = targets.select(col("user_id").cast("long").as("user_id")).distinct()
    val baskets = SeqRecommender.clusterTokens(trans, assigned)
      .join(t, Seq("user_id"), "left_semi")
      .groupBy("user_id").agg(sort_array(collect_set(col("token"))).as("items"))
    SeqRecommender.scoreRules(trans, assigned, baskets, rules, $(kItems))
  }

  override def copy(extra: ParamMap): SequentialRecommenderModel =
    copyValues(new SequentialRecommenderModel(uid, trans, assigned, rules),
      extra).setParent(parent)
  override def transformSchema(schema: StructType): StructType =
    KnnRecommenderModel.OUT_SCHEMA
}

object SequentialRecommenderModel extends MLReadable[SequentialRecommenderModel] {
  override def read: MLReader[SequentialRecommenderModel] =
    GraftMLIO.reader { (spark, path, uid, _) =>
      new SequentialRecommenderModel(uid,
        spark.read.parquet(GraftMLIO.subPath(path, "trans")),
        spark.read.parquet(GraftMLIO.subPath(path, "assigned")),
        spark.read.parquet(GraftMLIO.subPath(path, "rules")))
    }
}
