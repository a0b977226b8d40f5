package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import graft.functions.TopK

/** Plan shape of the per-group top-k primitive: the partial
  * `WindowGroupLimit` prunes each map partition below the exchange and
  * the final one merges above it; a keyed input plans no exchange; a k
  * past the group-limit threshold still ranks exactly. */
class TopKSpec extends SparkSuite {

  private def rows(n: Long, groups: Int): DataFrame =
    spark.range(0, n).select((col("id") % groups).as("g"), col("id"),
      (col("id") * 37 % 11).cast("double").as("score"))

  private def top(df: DataFrame, k: Int): DataFrame =
    TopK.perGroup(df, Seq(col("g")), Seq(col("score").desc, col("id").asc), k)

  /** The physical plan AQE starts from (exchanges already inserted). */
  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def limits(p: SparkPlan): Seq[WindowGroupLimitExec] =
    p.collect { case l: WindowGroupLimitExec => l }

  test("TopK.perGroup prunes per partition below the exchange and merges above it") {
    val p = planOf(top(rows(400, 7), 3))
    val exchanges = p.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, p.toString)
    assert(limits(exchanges.head).map(_.mode) == Seq(Partial), p.toString)
    val finals = limits(p).filter(_.mode == Final)
    assert(finals.size == 1, p.toString)
    assert(finals.head.collect { case e: ShuffleExchangeExec => e }.size == 1, p.toString)
  }

  test("TopK.perGroup over an input partitioned on the keys plans no exchange") {
    val keyed = rows(400, 7).repartition(col("g")).cache()
    try {
      keyed.count()
      val p = planOf(top(keyed, 3))
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, p.toString)
      assert(top(keyed, 3).count() == 21)
    } finally keyed.unpersist()
  }

  test("TopK.perGroup ranks exactly with k past the group-limit threshold") {
    val threshold = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold").toInt
    val k = threshold + 500
    val df = rows(3L * (k + 200), 3)
    val got = top(df, k)
    assert(limits(planOf(got)).isEmpty)
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).values.flatMap(_.sortBy(r => (-r._3, r._2)).take(k)
        .zipWithIndex.map { case (r, i) => (r._1, r._2, i + 1) }).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet == want)
    assert(want.size == 3 * k)
  }
}
