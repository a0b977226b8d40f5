package graft.tools

import org.apache.spark.sql.functions._

/** Scratch feasibility probe (VERDICT r7 stretch #7): is a seed-fixed
  * ALS top-k readout hash-stable enough to register as an
  * oracle-gated query? Fits the ml-layer AlsRecommender on the sf
  * ratings view, scores a fixed cohort, rounds scores to 6 dp and
  * prints an order-insensitive digest. Run repeatedly across JVMs
  * (and with SPARK_GRAFT_CPUS varied) — identical digests = feasible.
  */
object AlsDeterminism {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local()
    val ratings = graft.sources.Tables.ratingsCached(spark, dir)
    val model = new graft.ml.AlsRecommender()
      .setRank(10).setMaxIter(10).setSeed(42L).setKItems(5)
      .fit(ratings)
    val cohort = ratings.select(col("user_id")).distinct()
      .filter(col("user_id") % 50 === 0)
    val out = model.transform(cohort)
      .select(col("user_id"), col("item_id"), col("rk"),
        round(col("score"), 6).as("score"))
    val digest = out
      .select(md5(concat_ws("_", col("user_id"), col("item_id"),
        col("rk"), col("score"))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 7), 16, 10).cast("long")).as("d"))
      .head().getLong(0)
    val nRatings = ratings.count()
    println(s"[alsdet] rows=${out.count()} digest=$digest cpus=${graft.Session.cpus} nRatings=$nRatings")
    // 4-dp digest too: if 6 dp flips but 4 dp holds, a coarser round
    // could still gate the query
    val digest4 = model.transform(cohort)
      .select(col("user_id"), col("item_id"), col("rk"),
        round(col("score"), 4).as("score"))
      .select(md5(concat_ws("_", col("user_id"), col("item_id"),
        col("rk"), col("score"))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 7), 16, 10).cast("long")).as("d"))
      .head().getLong(0)
    println(s"[alsdet] digest4=$digest4")
    spark.stop()
  }
}
