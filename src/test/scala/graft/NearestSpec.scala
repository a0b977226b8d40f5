package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Nearest, TopK}
import graft.functions.Rounding.r6
import graft.functions.VectorFns.sqDistArr
import graft.operators.Similarity

/** `Nearest` against the crossJoin + per-vector top-k window it
  * replaces, kept here as the reference: the same ids in the same rank
  * order with the same r6 distances, smaller id on r6 ties, null
  * distances first. */
class NearestSpec extends SparkSuite {

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))
  private val bookSchema = StructType(Seq(StructField("cell", IntegerType),
    StructField("cv", ArrayType(DoubleType))))

  private def vecs(rows: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v) }, 3), vecSchema)

  private def cents(rows: Seq[(Int, Seq[Double])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (c, v) => Row(c, v) }, 2), bookSchema)

  /** Seeded vectors on a coarse grid plus sub-r6 jitter: many exact
    * and r6-only distance ties. */
  private def grid(seed: Int, n: Int, idBase: Long): Seq[(Long, Seq[Double])] = {
    val rnd = new Random(seed)
    (0 until n).map(i => (idBase + i,
      Seq.fill(3)((rnd.nextInt(3) - 1).toDouble + rnd.nextInt(3) * 1e-9)))
  }

  /** The window form: `(vec_id, rank, cell, d2)` for the k nearest. */
  private def reference(e: DataFrame, c: DataFrame, k: Int): Set[(Long, Int, Int, Any)] =
    TopK.perGroup(e.crossJoin(broadcast(c))
        .select(col("vec_id"), col("cell"), r6(sqDistArr(col("v"), col("cv"))).as("d2")),
      Seq(col("vec_id")), Seq(col("d2").asc, col("cell").asc), k)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getInt(1), r.get(2))).toSet

  private def viaNearest(e: DataFrame, c: DataFrame, k: Int): Set[(Long, Int, Int, Any)] = {
    val booked = e.crossJoin(broadcast(Nearest.book(c, "cell")))
    val rows =
      if (k == 1) booked.select(col("vec_id"), lit(0).as("pos"),
        Nearest.nearest(col("v"), col("book")).as("w"))
      else booked.select(col("vec_id"), posexplode(Nearest.ranked(col("v"), col("book"), k)))
        .select(col("vec_id"), col("pos"), col("col").as("w"))
    rows.collect().map(r => (r.getLong(0), r.getInt(1) + 1,
      r.getStruct(2).getInt(1), r.getStruct(2).get(0))).toSet
  }

  test("seeded r6 ties: k = 1 and k = 3 equal the window, smaller id first") {
    for (seed <- 1 to 3) {
      val e = vecs(grid(seed, 40, 1000L))
      val c = cents(grid(seed + 100, 9, 0L).map { case (i, v) => ((17 - i * 2).toInt, v) })
      for (k <- Seq(1, 3)) {
        val want = reference(e, c, k)
        assert(viaNearest(e, c, k) == want, s"seed $seed, k $k")
        assert(want.size == 40 * k)
      }
    }
    // an exact four-way tie: the smallest id wins, and ranks follow ids
    val e = vecs(Seq(1L -> Seq(0.0, 0.0)))
    val c = cents(Seq(9 -> Seq(1.0, 0.0), 4 -> Seq(0.0, 1.0), 7 -> Seq(-1.0, 0.0),
      6 -> Seq(0.0, -1.0 - 1e-8), 3 -> Seq(2.0, 2.0)))
    assert(viaNearest(e, c, 1) == Set((1L, 1, 4, 1.0)))
    assert(viaNearest(e, c, 3) == Set((1L, 1, 4, 1.0), (1L, 2, 6, 1.0), (1L, 3, 7, 1.0)))
    assert(viaNearest(e, c, 3) == reference(e, c, 3))
  }

  test("an empty codebook assigns no rows") {
    val e = vecs(grid(5, 10, 0L))
    val none = cents(Nil)
    assert(Nearest.book(none, "cell").count() == 0)
    assert(viaNearest(e, none, 1).isEmpty && viaNearest(e, none, 3).isEmpty)
    assert(Similarity.cellAssign(e, none).count() == 0)
  }

  test("null distances rank first: a null vector and a mismatched entry") {
    val e = vecs(Seq(1L -> null, 2L -> Seq(0.0, 0.0), 3L -> Seq(5.0, 5.0, 5.0)))
    val c = cents(Seq(4 -> Seq(1.0, 1.0), 2 -> Seq(0.5, 0.5), 8 -> Seq(1.0, 1.0, 1.0)))
    for (k <- Seq(1, 3)) assert(viaNearest(e, c, k) == reference(e, c, k), s"k $k")
    // the null vector takes the smallest id with a null distance; the
    // 2-D vector ranks the 3-D entry (null distance) ahead of both 2-D
    // ones, and the 3-D vector the smallest 2-D one
    assert(viaNearest(e, c, 1) == Set((1L, 1, 2, null), (2L, 1, 8, null), (3L, 1, 2, null)))
  }

  test("the literal book (stream path) equals the broadcast book row (batch path)") {
    val e = vecs(grid(7, 30, 0L))
    val c = cents(grid(8, 6, 0L).map { case (i, v) => (i.toInt, v) })
    val (book, n) = Nearest.literal(Nearest.book(c, "cell"))
    assert(n == 6)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = rows(Similarity.cellAssign(e, c).select(col("vec_id"), col("cell")))
    assert(rows(e.select(col("vec_id"),
      Nearest.nearest(col("v"), book).getField("id"))) == batch)
    assert(Nearest.literal(Nearest.book(cents(Nil), "cell"))._2 == 0)
  }

  test("two-level with sm = 1 equals flat; the two-level literal equals the batch row") {
    val e = vecs(grid(11, 60, 100L))
    val c = cents(grid(12, 12, 0L).map { case (i, v) => (i.toInt, v) })
    val seeds = Seq(0L, 1L)
    def rows(df: DataFrame) = df.select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val flat = rows(Similarity.cellAssign(e, c))
    assert(rows(Similarity.cellAssign2(e, c, seeds, 1L)) == flat)
    for (sm <- Seq(2L, 3L)) {
      val (book, _) = Nearest.literal(Similarity.superBook(c, seeds, sm))
      assert(rows(e.select(col("vec_id"),
          Similarity.nearestCell2(col("v"), book).getField("id").as("cell")))
        == rows(Similarity.cellAssign2(e, c, seeds, sm)), s"sm $sm")
    }
  }
}
