package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.Prefix

/** The two-level running rank and sums of [[Prefix.running]] equal the
  * single `(groups) ORDER BY order` window they replace, whenever the
  * bucket is an order-preserving prefix of the order. */
class PrefixSpec extends SparkSuite {

  /** Rows (g, id, key, w, bkt): `key` repeats (ties broken by id) and
    * bkt = key DIV 8 is a prefix of the (key, id) order. */
  private def rows(n: Long, groups: Int): DataFrame =
    spark.range(0, n).select((col("id") % groups).as("g"), col("id"),
      (col("id") * 37 % 50).as("key"), (col("id") % 7).as("w"))
      .withColumn("bkt", expr("key DIV 8"))

  private val order: Seq[Column] = Seq(col("key"), col("id"))

  /** The reference: one window over each whole group. */
  private def naive(df: DataFrame, groups: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groups.map(col): _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def twoLevel(df: DataFrame, groups: Seq[String]): DataFrame = {
    val (run, Seq(rank, cum)) =
      Prefix.running(df, groups, "bkt", order, rank = true, sums = Seq("w"))
    run.select(df.columns.map(col) :+ rank.as("rank") :+ cum.as("cum"): _*)
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("id"), col("rank"), col("cum")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

  private def assertSame(df: DataFrame, groups: Seq[String]): Unit = {
    val want = triples(naive(df, groups))
    assert(want.nonEmpty)
    assert(triples(twoLevel(df, groups)) == want)
  }

  test("grouped rank and weighted sum in one call equal the single window") {
    assertSame(rows(600, 3), Seq("g"))
  }

  test("no group columns: one global rank and running sum") {
    assertSame(rows(400, 1), Nil)
  }

  test("ties in the leading order key are broken by the id") {
    // 300 rows over 50 keys: every key is shared by six rows of a group
    val df = rows(300, 1)
    assert(df.groupBy(col("key")).count().filter(col("count") > 1).count() > 0)
    assertSame(df, Seq("g"))
  }

  test("every row in one bucket") {
    assertSame(rows(200, 2).withColumn("bkt", lit(0L)), Seq("g"))
  }

  test("a one-row group next to larger ones") {
    val df = rows(200, 2).unionByName(
      rows(1, 1).withColumn("g", lit(9L)).withColumn("id", lit(1000L)))
    val out = triples(twoLevel(df, Seq("g")))
    assert(out.last == ((1000L, 1L, 0L)))
    assert(out == triples(naive(df, Seq("g"))))
  }

  test("an empty input gives an empty output") {
    assert(twoLevel(rows(100, 2).limit(0), Seq("g")).count() == 0)
  }

  test("a long weight sums as long and the rank is long") {
    val out = twoLevel(rows(50, 2), Seq("g"))
    assert(out.schema("cum").dataType == LongType)
    assert(out.schema("rank").dataType == LongType)
  }

  test("rank alone and sum alone are the naive columns") {
    val df = rows(300, 3)
    val want = triples(naive(df, Seq("g")))
    def only(out: DataFrame, c: String): Seq[(Long, Long)] =
      out.select(col("id"), col(c)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (byRank, Seq(rank)) = Prefix.running(df, Seq("g"), "bkt", order, rank = true)
    assert(only(byRank.withColumn("rank", rank), "rank") == want.map(t => (t._1, t._2)))
    val (bySum, Seq(cum)) = Prefix.running(df, Seq("g"), "bkt", order, sums = Seq("w"))
    assert(only(bySum.withColumn("cum", cum), "cum") == want.map(t => (t._1, t._3)))
  }

  test("the plan: two windows, bkt in the within-bucket window, a broadcast join") {
    val plan = twoLevel(rows(300, 3), Seq("g")).queryExecution.executedPlan.toString
    val nWindows = "Window \\[".r.findAllIn(plan).size
    assert(nWindows == 2, plan)
    assert(plan.contains("bkt"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
