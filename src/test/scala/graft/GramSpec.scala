package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Gram

/** `Gram.pairs` against the self-equi-join form it replaces, kept here
  * as the reference: exact `co`, `dot` to 1e-12 relative, bit-identical
  * `dot` however the input is partitioned, one block per partition. */
class GramSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("k", LongType), StructField("it", LongType),
    StructField("v", DoubleType)))

  private def frame(rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Double)],
                    idType: DataType = LongType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (k, i, v) =>
      Row(k, i, v) }, 3), schema)
      .select(col("k").cast(idType).as("k"), col("it").cast(idType).as("it"), col("v"))

  /** `n` seeded rows over `keys` × `items`; repeats make duplicate
    * `(key, item)` rows. */
  private def random(seed: Int, n: Int, keys: Int, items: Int) = {
    val rnd = new Random(seed)
    Seq.fill(n)((Long.box(rnd.nextInt(keys).toLong), Long.box(rnd.nextInt(items).toLong * 7 + 3),
      Double.box(rnd.nextDouble() * 5 - 1)))
  }

  /** The join form: one joined row per co-occurring `(key, i, j)`. */
  private def reference(df: DataFrame): DataFrame = {
    val a = df.select(col("k"), col("it").as("i"), col("v").as("ra"))
    val b = df.select(col("k"), col("it").as("j"), col("v").as("rb"))
    a.join(b, Seq("k")).filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("ra") * col("rb")).as("dot"), count(lit(1)).as("co"))
  }

  private def cells(df: DataFrame): Map[(Long, Long), (Double, Long)] =
    df.select(col("i").cast("long"), col("j").cast("long"), col("dot"), col("co")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap

  private def assertMatchesReference(df: DataFrame): Unit = {
    val got = cells(Gram.pairs(df, "k", "it", "v"))
    val want = cells(reference(df))
    assert(got.keySet == want.keySet)
    want.foreach { case (ij, (dot, co)) =>
      assert(got(ij)._2 == co, s"co of $ij")
      assert(math.abs(got(ij)._1 - dot) <= 1e-12 * math.max(1.0, math.abs(dot)),
        s"dot of $ij: ${got(ij)._1} vs $dot")
    }
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("Gram.pairs equals the join form on seeded random inputs") {
    Seq((1, 400, 30, 25), (2, 1500, 60, 40), (3, 200, 5, 120)).foreach {
      case (seed, n, keys, items) => assertMatchesReference(frame(random(seed, n, keys, items)))
    }
  }

  test("Gram.pairs: a key holding every item, duplicate (key, item) rows, single-item profiles") {
    val every = (0L until 50L).map(i => (Long.box(0L), Long.box(i), Double.box(1.0 + i / 7.0)))
    val dups = Seq((1L, 3L, 2.0), (1L, 3L, 0.5), (1L, 4L, 1.5), (1L, 4L, 3.0), (2L, 3L, 1.0))
      .map { case (k, i, v) => (Long.box(k), Long.box(i), Double.box(v)) }
    val singles = (10L until 20L).map(k => (Long.box(k), Long.box(k * 100), Double.box(2.0)))
    val others = random(4, 300, 20, 60).map { case (k, i, v) => (Long.box(k + 1000L), i, v) }
    val df = frame(every ++ dups ++ singles ++ others)
    assertMatchesReference(df)
    val got = cells(Gram.pairs(df, "k", "it", "v"))
    // item 3 meets item 4 once under key 0 and 2 x 2 times under key 1,
    // and no other key holds item 4
    assert(got((3L, 4L))._2 == 5L)
    // an item only in single-item profiles pairs with nothing
    assert(!got.keys.exists(_._1 == 1000L))
  }

  test("Gram.pairs drops null keys and items, as the equi-join does") {
    val base = random(5, 300, 15, 30)
    val nulls = Seq((null, Long.box(3L), Double.box(1.0)), (Long.box(1L), null, Double.box(2.0)),
      (null, null, Double.box(3.0)))
    val df = frame(base ++ nulls)
    assertMatchesReference(df)
    assert(cells(Gram.pairs(df, "k", "it", "v")) == cells(Gram.pairs(frame(base), "k", "it", "v")))
  }

  test("Gram.pairs fails on a null value, naming the column") {
    val df = frame(random(6, 100, 10, 20) :+ ((Long.box(1L), Long.box(3L), null)))
    val e = intercept[Exception](Gram.pairs(df, "k", "it", "v").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("null value in column 'v'")), e.toString)
  }

  test("Gram.pairs keeps int and long item types") {
    Seq(IntegerType, LongType).foreach { t =>
      val df = frame(random(7, 200, 10, 20), t)
      val out = Gram.pairs(df, "k", "it", "v")
      assert(out.schema.map(f => f.name -> f.dataType) ==
        Seq("i" -> t, "j" -> t, "dot" -> DoubleType, "co" -> LongType))
      assertMatchesReference(df)
    }
  }

  test("Gram.pairs dot is bit-identical across input and shuffle partitionings") {
    val df = frame(random(8, 2000, 40, 80)).cache()
    try {
      def bits(in: DataFrame) = cells(Gram.pairs(in, "k", "it", "v"))
        .map { case (ij, (dot, co)) => ij -> (java.lang.Double.doubleToRawLongBits(dot), co) }
      val base = bits(df)
      Seq(1, 3, 7).foreach(n => assert(bits(df.repartition(n)) == base, s"repartition($n)"))
      assert(withShufflePartitions(5)(bits(df)) == base, "5 shuffle partitions")
    } finally df.unpersist()
  }

  test("Gram.pairs over the same input reads a cached copy of itself") {
    // the session caches (itemSimsCached, userDotsCached) rely on
    // CacheManager matching a rebuilt plan against the cached one
    val df = frame(random(10, 300, 20, 40))
    val cached = Gram.pairs(df, "k", "it", "v").cache()
    try {
      cached.count()
      val again = Gram.pairs(df, "k", "it", "v").queryExecution.withCachedData
      assert(again.collect { case r: InMemoryRelation => r }.nonEmpty, again.toString)
    } finally cached.unpersist()
  }

  test("Gram.pairs: every kernel partition holds exactly one block") {
    Seq(2, 5).foreach { blocks =>
      withShufflePartitions(blocks) {
        val placed = Gram.routed(frame(random(9, 1000, 40, 80)), "k", "it", "v")
          .select(spark_partition_id().as("p"), col("b")).distinct().collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSet
        assert(placed == (0 until blocks).map(b => (b, b)).toSet, s"B = $blocks: $placed")
      }
    }
  }
}
