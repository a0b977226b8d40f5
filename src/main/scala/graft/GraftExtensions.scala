package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.optimizer.ReassignLambdaVariableID
import graft.functions.{DotProduct, Shingles, SquaredDistance}

/**
 * Session extension registering the native vector and shingle kernels
 * ([[graft.functions.ArrayExprs]]) as SQL functions, so
 * `spark.sql("... vec_dot(a, b) ...")` or `shingles(tokens, 3)` works
 * anywhere the DataFrame helpers in [[graft.functions.VectorFns]] do — the
 * standard `SparkSessionExtensions` integration point
 * (`spark.sql.extensions=graft.GraftExtensions`), injected without
 * touching any session internals.
 *
 * Also surfaces Catalyst's INTERNAL Bloom-filter pair (the expressions
 * behind AQE runtime filter injection, which the public registry
 * doesn't expose) as `bloom_agg` / `bloom_contains` — the build-once
 * probe-everywhere sketch that [[graft.operators.Skew.bloomPrune]]
 * uses for semi-join reduction.
 *
 * And it renumbers lambda variables in the plan the session cache
 * looks up (Catalyst's own `ReassignLambdaVariableID`, which the
 * optimizer runs later anyway). A typed Dataset's array decoders draw
 * those ids from a global counter, so without it two builds of one
 * typed plan never match each other's cache entry — the session
 * caches over [[graft.functions.Gram.pairs]] (`itemSimsCached`,
 * `userDotsCached`, `pairRulesCached`) would be rebuilt by every
 * query that reads them.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlanNormalizationRule(_ => ReassignLambdaVariableID)
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "vec_sqdist"),
      (children: Seq[Expression]) => SquaredDistance(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(toks, Literal(n: Int, _)) => Shingles(toks, n)
        case _ => throw new IllegalArgumentException(
          "shingles(tokens, n) needs an integer literal n")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(col[, expectedItems[, numBits]])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_contains"),
      (children: Seq[Expression]) =>
        BloomFilterMightContain(children(0), children(1))))
  }
}
