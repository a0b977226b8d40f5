package graft

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.functions.VectorFns
import graft.operators.{Corpus, Dedup}

/** The native shingle kernel against the higher-order-function form it
  * replaced, which stays here as the reference: seeded token arrays
  * under whole-stage codegen and under the interpreted path, the edge
  * cases, the result type, the SQL surface, and the plans of the
  * corpus passes that tokenize inline. */
class ShinglesSpec extends SparkSuite {

  /** The replaced formulation, verbatim. */
  private def hofShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  private val Ns = Seq(1, 2, 3, 5)

  private val vocab = Seq("a", "b", "the", "", null, "été", "日本語", "ß", "🙂x", "naïve")

  /** Seeded token arrays, every length from empty to past the largest
    * n, plus a null array. Read through an RDD so the optimizer cannot
    * fold the projection over a local relation. */
  private def tokenFrame(seed: Long, rows: Int): DataFrame = {
    val rnd = new Random(seed)
    val data = (0 until rows).map { id =>
      val toks = if (id == 0) null
        else Seq.fill(id % 9)(vocab(rnd.nextInt(vocab.size)))
      Row(id.toLong, toks)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("tk", ArrayType(StringType, containsNull = true))))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def shingled(df: DataFrame, f: (Column, Int) => Column): Map[(Long, Int), Seq[String]] =
    Ns.map(n => df.select(col("id"), lit(n), f(col("tk"), n)))
      .reduce(_ union _)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[String](2))
      .toMap

  for ((mode, conf) <- modes) {
    test(s"seeded token arrays match the HOF form, n in {1, 2, 3, 5} ($mode)") {
      withConf(conf: _*) {
        for (seed <- Seq(3L, 11L)) {
          val df = tokenFrame(seed, 60)
          val got = shingled(df, VectorFns.shingles)
          val want = shingled(df, hofShingles)
          assert(got.size == 60 * Ns.size)
          assert(got == want, s"seed $seed")
        }
      }
    }
  }

  test("edge cases: short, exact, empty and null arrays; null, empty and non-ASCII tokens") {
    val cases: Seq[(Seq[String], Int, Seq[String])] = Seq(
      (Seq("a", "b"), 3, Nil),
      (Seq("a", "b", "c"), 3, Seq("a b c")),
      (Nil, 1, Nil),
      (null, 2, Nil),
      (Seq("a", null, "b"), 2, Seq("a", "b")),
      (Seq(null, null), 2, Seq("")),
      (Seq("a", "", "b"), 2, Seq("a ", " b")),
      (Seq("été", "日本語", "🙂"), 2, Seq("été 日本語", "日本語 🙂")))
    val rows = cases.zipWithIndex.map { case ((t, _, _), i) => Row(i.toLong, t) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    for ((_, conf) <- modes) withConf(conf: _*) {
      cases.zipWithIndex.foreach { case ((_, n, want), i) =>
        val r = df.filter(col("id") === i)
          .select(VectorFns.shingles(col("tk"), n), hofShingles(col("tk"), n)).head()
        assert(r.getSeq[String](0) == want, s"case $i")
        assert(r.getSeq[String](1) == want, s"reference, case $i")
      }
    }
  }

  test("the result type is the HOF form's, for either token nullability") {
    val s = spark
    import s.implicits._
    val df = Seq(("a b c", Seq("a", "b"))).toDF("text", "tk")
    for (toks <- Seq(VectorFns.tokens(col("text")), col("tk")); n <- Ns) {
      val kernel = df.select(VectorFns.shingles(toks, n)).schema.head.dataType
      val ref = df.select(hofShingles(toks, n)).schema.head.dataType
      assert(kernel == ref)
    }
  }

  test("n < 1 is rejected") {
    intercept[IllegalArgumentException](VectorFns.shingles(col("tk"), 0))
  }

  test("GraftExtensions exposes shingles to SQL") {
    val r = spark.sql("SELECT shingles(array('a', 'b', 'c', 'd'), 2) AS s").head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
  }

  /** Occurrences of the normalizer's `regexp_replace` and the
    * tokenizer's `split` in an optimized plan. */
  private def tokenizerCopies(plan: LogicalPlan): (Int, Int) = {
    val exprs = plan.flatMap(_.expressions)
    (exprs.map(_.collect { case e: RegExpReplace => e }.size).sum,
      exprs.map(_.collect { case e: StringSplit => e }.size).sum)
  }

  test("inline-tokenizing corpus passes tokenize each document once") {
    val s = spark
    import s.implicits._
    // an RDD source: over a local relation the optimizer folds the projection away
    val docs = s.sparkContext.parallelize(Seq((1L, "A b  c d"), (2L, "e f g")))
      .toDF("doc_id", "text")
    val plans = Seq(
      "Dedup.shingleStream" -> Dedup.shingleStream(docs),
      "Dedup.docShingleSets" -> Dedup.docShingleSets(docs),
      "Corpus.docGrams" -> Corpus.docGrams(docs, 3))
    for ((name, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan
      assert(tokenizerCopies(plan) == (1, 1), s"$name:\n$plan")
    }
  }
}
