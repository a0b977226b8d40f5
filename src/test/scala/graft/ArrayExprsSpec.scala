package graft

import org.apache.spark.sql.functions._
import graft.functions.ArrayExprs.{vecDot, vecSqDist}

/** The native vector expressions: hand values, null propagation, and
  * codegen/interpreted agreement (HOF formulation as the reference
  * implementation). */
class ArrayExprsSpec extends SparkSuite {

  test("vecDot and vecSqDist match hand values") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      vecDot(col("a"), col("b")).as("dot"),
      vecDot(col("a"), col("a")).as("sq"),
      vecSqDist(col("a"), col("b")).as("d2")).collect()(0)
    assert(r.getDouble(0) == 32.0) // 4 + 10 + 18
    assert(r.getDouble(1) == 14.0) // 1 + 4 + 9
    assert(r.getDouble(2) == 27.0) // 9 + 9 + 9
  }

  test("GraftExtensions exposes the kernels to SQL") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "vec_sqdist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS q")
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
  }

  // named for the aggregator TopK.perGroup replaced; same hand case
  test("TopKAggregator bounds the buffer and breaks ties by id") {
    val s = spark
    import s.implicits._
    import graft.functions.TopK
    def top2(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      TopK.perGroup(df, Seq(col("g")), Seq(col("score").desc, col("id").asc), 2)
        .orderBy("rk").select("id", "score").as[(Long, Double)].collect().toSeq
    val part = Seq((0, 5L, 1.0), (0, 1L, 3.0), (0, 2L, 3.0), (0, 9L, 0.5))
      .toDF("g", "id", "score").repartition(1)
    assert(top2(part) == Seq((1L, 3.0), (2L, 3.0)))
    // a second partition's partial (0, 3.0) merges in and wins the tie by id
    val other = Seq((0, 0L, 3.0)).toDF("g", "id", "score").repartition(1)
    assert(top2(part.union(other)) == Seq((0L, 3.0), (1L, 3.0)))
    assert(top2(part.limit(0).union(other.limit(0))).isEmpty)
  }

  test("null input propagates to null output") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
    val r = df.select(vecDot(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("ragged (length-mismatched) arrays yield null, not a partial sum") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
    val r = df.select(vecDot(col("a"), col("b")), vecSqDist(col("a"), col("b")))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("expression path agrees with the HOF fold on random-ish data") {
    val s = spark
    import s.implicits._
    val rows = (1 to 50).map { i =>
      (Seq.tabulate(16)(j => math.sin(i * 17 + j) * 10),
        Seq.tabulate(16)(j => math.cos(i * 31 + j) * 10))
    }
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = df.select(
        (vecDot(col("a"), col("b")) - hofDot).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff == 0.0) // identical accumulation order → bit-identical
  }
}
