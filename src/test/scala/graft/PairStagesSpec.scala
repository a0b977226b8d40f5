package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Recommender, Sequential}

/** The long-profile pair stages that run on `Gram.pairs` with `i < j`
  * kept: `Recommender.userDotsHalf` against its former self-join form,
  * kept here as the reference, and the plans of it and of
  * `Sequential.pairRules`' candidate stage. */
class PairStagesSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("user_id", LongType),
    StructField("item_id", LongType), StructField("rating", DoubleType)))

  /** `n` seeded ratings over `users` × `items`; repeats make duplicate
    * `(user, item)` rows. */
  private def ratings(seed: Int, n: Int, users: Int, items: Int,
                      extra: Seq[Row] = Nil): DataFrame = {
    val rnd = new Random(seed)
    val rows = Seq.fill(n)(Row(rnd.nextInt(users).toLong * 3 + 1, rnd.nextInt(items).toLong,
      (rnd.nextInt(9) + 1) / 2.0 + rnd.nextDouble() / 8))
    spark.createDataFrame(spark.sparkContext.parallelize(rows ++ extra, 3), schema)
  }

  /** The self-join form `userDotsHalf` had before it ran on Gram.pairs. */
  private def reference(r: DataFrame): DataFrame = {
    val a = r.select(col("user_id").as("u"), col("item_id"), col("rating").as("ra"))
    val b = r.select(col("user_id").as("v"), col("item_id"), col("rating").as("rb"))
    a.join(b, Seq("item_id")).filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("ra") * col("rb")).as("dot"), count(lit(1)).as("co"))
  }

  private def cells(df: DataFrame): Map[(Long, Long), (Double, Long)] =
    df.select(col("u"), col("v"), col("dot"), col("co")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap

  private def joins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  test("userDotsHalf equals the self-join form on seeded ratings") {
    Seq((1, 600, 40, 30), (2, 2000, 25, 90), (3, 300, 120, 6)).foreach {
      case (seed, n, users, items) =>
        val r = ratings(seed, n, users, items)
        val got = Recommender.userDotsHalf(r)
        assert(got.schema.map(f => f.name -> f.dataType) ==
          Seq("u" -> LongType, "v" -> LongType, "dot" -> DoubleType, "co" -> LongType))
        val g = cells(got)
        val want = cells(reference(r))
        assert(g.keySet == want.keySet, s"seed $seed")
        assert(g.keys.forall { case (u, v) => u < v })
        want.foreach { case (uv, (dot, co)) =>
          assert(g(uv)._2 == co, s"co of $uv")
          assert(math.abs(g(uv)._1 - dot) <= 1e-12 * math.max(1.0, math.abs(dot)),
            s"dot of $uv: ${g(uv)._1} vs $dot")
        }
    }
  }

  test("userDotsHalf fails on a null rating, naming the column") {
    val r = ratings(4, 200, 10, 20, Seq(Row(4L, 3L, null)))
    val e = intercept[Exception](Recommender.userDotsHalf(r).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("null value in column 'rating'")), e.toString)
  }

  test("userDotsHalf and pairRules' candidate stage plan no join") {
    val r = ratings(5, 300, 20, 15)
    assert(joins(reference(r)).nonEmpty) // the check sees a self-join
    assert(joins(Recommender.userDotsHalf(r)).isEmpty,
      Recommender.userDotsHalf(r).queryExecution.optimizedPlan.toString)
    Seq(Int.MaxValue, 2).foreach { cap =>
      val pairs = Sequential.candidatePairs(r, cap)
      assert(joins(pairs).isEmpty, s"cap $cap: ${pairs.queryExecution.optimizedPlan}")
    }
  }

  test("a second userDotsCached build reads the first's cached table") {
    // q30, q59 and q63 each rebuild the session cache's plan; the match
    // goes through GraftExtensions' lambda-variable renumbering
    val dir = tempDir("graft_dots")
    val rnd = new Random(6)
    val s = spark
    import s.implicits._
    Seq.tabulate(400)(n => (n / 4L, rnd.nextInt(30).toLong, rnd.nextInt(5) + 1.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity").write.parquet(s"$dir/lineitem.parquet")
    Seq.tabulate(100)(o => (o.toLong, o % 17L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    val first = Recommender.userDotsCached(spark, dir)
    try {
      assert(first.count() > 0)
      val again = Recommender.userDotsCached(spark, dir).queryExecution.withCachedData
      (again, first.queryExecution.withCachedData) match {
        case (a: InMemoryRelation, c: InMemoryRelation) => assert(a.cacheBuilder eq c.cacheBuilder)
        case _ => fail(s"the rebuilt plan is not the cached table:\n$again")
      }
    } finally {
      first.unpersist()
      graft.sources.Tables.ratingsCached(spark, dir).unpersist()
    }
  }
}
