package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Rounding.r6
import graft.operators.{Recommender, Sequential}

/** Hand-checkable fixtures for the R8/R9 stages: Lloyd assignment on
  * separable 2-D points, and pair-rule mining with recounted
  * support/confidence. */
class SequentialSpec extends SparkSuite {

  test("kmeansAssign separates two obvious 2-D clusters and converges") {
    val s = spark
    import s.implicits._
    // two tight blobs around (0,0) and (10,10); seeds 0 and 4 start
    // one in each blob
    val vecs = Seq(
      (0L, Seq(0.0, 0.1)), (1L, Seq(0.2, 0.0)), (2L, Seq(-0.1, 0.1)),
      (4L, Seq(10.0, 9.9)), (5L, Seq(9.8, 10.1)), (6L, Seq(10.2, 10.0))
    ).toDF("vec_id", "v")
    val got = Sequential.kmeansAssign(vecs, Seq(0L, 4L), iters = 2)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((0L, 0), (1L, 0), (2L, 0), (4L, 4), (5L, 4), (6L, 4)))
  }

  test("kmeansAssign distances are squared L2 to the final centroid") {
    val s = spark
    import s.implicits._
    // one cluster, one seed: final centroid is the mean (1.0, 2.0);
    // point (0,0) sits at squared distance 1+4 = 5
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(2.0, 4.0))
    ).toDF("vec_id", "v")
    val got = Sequential.kmeansAssign(vecs, Seq(0L), iters = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 5.0), (1L, 5.0)))
  }

  test("pairRules support and confidence match hand counts") {
    val s = spark
    import s.implicits._
    // 10 baskets; {1,2} co-occur in 5 → support 0.5; item 1 appears in
    // 6 → confidence 5/6. Threshold max(4, ceil(10*0.004)=1) = 4 keeps
    // only the (1,2) pair (others co-occur ≤ 2 times).
    val rows =
      (1 to 5).flatMap(u => Seq((u, 1), (u, 2))) ++      // 5 baskets {1,2}
        Seq((6, 1), (6, 3), (7, 3), (8, 4), (9, 4), (10, 5))
    val r = rows.toDF("user_id", "item_id")
      .withColumn("rating", lit(1.0))
    val got = Sequential.pairRules(r).collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getDouble(2), x.getDouble(3))).toSeq
    assert(got == Seq((1, 2, 0.5, 0.833333)))
  }

  /** `pairRules` with its candidate pairs from the self-join it had
    * before it ran on Gram.pairs. */
  private def referenceRules(ratings: DataFrame, maxItemsPerUser: Int): DataFrame = {
    val baskets = Sequential.userBaskets(ratings)
    val rCap = Recommender.capPerUser(ratings, maxItemsPerUser)
      .select(col("user_id"), col("item_id"))
    val nb = baskets.agg(count(lit(1)).as("n_baskets"))
    val icnt = ratings.groupBy("item_id").agg(count(lit(1)).as("cnt_i"))
    val a = rCap.select(col("user_id"), col("item_id").as("i"))
    val b = rCap.select(col("user_id"), col("item_id").as("j"))
    val rules = a.join(b, Seq("user_id")).filter(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("cnt"))
      .crossJoin(nb)
      .filter(col("cnt") >= greatest(lit(4L), ceil(col("n_baskets") * 0.004).cast("long")))
      .select(col("i"), col("j"))
    baskets.join(rules, array_contains(col("items"), col("i")) &&
        array_contains(col("items"), col("j")))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("cnt2"))
      .crossJoin(nb)
      .join(icnt.select(col("item_id").as("i"), col("cnt_i")), Seq("i"))
      .select(col("i").as("antecedent"), col("j").as("consequent"),
        r6(col("cnt2").cast("double") / col("n_baskets")).as("support"),
        r6(col("cnt2").cast("double") / col("cnt_i")).as("confidence"))
  }

  test("pairRules with maxItemsPerUser = 2 equals the join-form reference") {
    val s = spark
    import s.implicits._
    val rnd = new Random(11)
    val r = (1 to 60).flatMap { u =>
      rnd.shuffle((1 to 7).toList).take(2 + rnd.nextInt(4)).map(i => (u, i, 1.0 + rnd.nextInt(5)))
    }.toDF("user_id", "item_id", "rating")
    def rows(df: DataFrame) = df.collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getDouble(2), x.getDouble(3))).toSet
    val capped = rows(Sequential.pairRules(r, Sequential.userBaskets(r), maxItemsPerUser = 2))
    assert(capped.nonEmpty)
    assert(capped == rows(referenceRules(r, 2)))
    // the cap drops candidates here, so the case exercises it
    val full = rows(Sequential.pairRules(r))
    assert(full == rows(referenceRules(r, Int.MaxValue)))
    assert(capped != full)
  }
}
