package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.Rounding.r4
import graft.functions.TopK

/**
 * Hybrid recommender fusion (SURVEY.md §2.10 R10, reference
 * HybridRecommenderTopK.scala:81-121): two child recommenders each
 * produce a per-user ranked list; each list is normalized by its own
 * FIRST element's score (the reference's head-normalize quirk —
 * `normalizeRanking` at :69-79 divides by the head, not the max;
 * identical here because lists arrive sorted descending, but the quirk
 * is preserved structurally by joining on rank 1), weighted, and the
 * two lists outer-merge with per-item score addition; top-k of the
 * fused score wins.
 *
 * Scale design: the children are the already-distributed kNN pipelines;
 * fusion itself is one full-outer join on (user, item) plus a per-user
 * window — no driver-side merge (the reference collected both lists
 * and merged in a Scala Map, HybridRecommenderTopK.scala:116-118).
 */
object Hybrid {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q33_hybrid_topk" -> q33
  )

  val W_USER = 0.6
  val W_ITEM = 0.4
  val K_ITEMS = 5

  /** R10 for the `user_id % 20 = 0` cohort: user-based kNN top-5
    * (weight 0.6) fused with item-based kNN top-5 (weight 0.4). */
  private def q33(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.ratingsCached(spark, dir)
    val ua = Recommender.userKnnTopK(r, Recommender.K_NEIGHBORS, K_ITEMS,
      targetUsers = Some(col("user_id") % 20 === 0),
      simsSource = Some(Recommender.userCosSimsCached(spark, dir)))
    // the item child is q17's exact plan; it deliberately does NOT
    // cache its RESULT — a result cache would also satisfy q17 itself
    // (CacheManager plan-dedup), turning that query's bench median into
    // a cache read. Shared-stage caching stops at the sims table;
    // library users composing repeatedly should precompute the children
    // and hand them to [[fuseTopK]] directly.
    val ib = Recommender.itemKnnTopK(r, col("user_id") % 20 === 0,
      Recommender.K_ITEM_NEIGHBORS, K_ITEMS,
      simsSource = Some(Recommender.itemSimsCached(spark, dir)))
    fuseTopK(ua, ib, W_USER, W_ITEM, K_ITEMS)
  }

  /** Reusable library surface: fuse two `(user_id, item_id, score, rk)`
    * ranked lists with head-normalization and weights. */
  def fuseTopK(a: DataFrame, b: DataFrame, wa: Double, wb: Double,
               kItems: Int): DataFrame = {
    def normalized(df: DataFrame, w: Double, out: String): DataFrame = {
      // head score via a window first() over the ranked list — a
      // self-join against the rk=1 slice would re-evaluate the whole
      // child pipeline a second time
      val head = first(col("score")).over(
        Window.partitionBy(col("user_id")).orderBy(col("rk").asc))
      df.select(col("user_id"), col("item_id"),
        (col("score") / head * lit(w)).as(out))
    }
    val na = normalized(a, wa, "sa")
    val nb = normalized(b, wb, "sb")
    val fused = na.join(nb, Seq("user_id", "item_id"), "full_outer")
      .select(col("user_id"), col("item_id"),
        r4(coalesce(col("sa"), lit(0.0)) + coalesce(col("sb"), lit(0.0)))
          .as("score"))
    TopK.perGroup(fused, Seq(col("user_id")), Seq(col("score").desc, col("item_id").asc), kItems)
      .select(col("user_id"), col("item_id"), col("score"), col("rk"))
  }
}
