package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/**
 * Column-level vector/text kernels, expressed with codegen'd built-ins,
 * the native expressions of [[ArrayExprs]] and higher-order functions
 * (`aggregate`, `filter`) instead of Scala UDFs, so Catalyst keeps
 * full visibility and whole-stage codegen stays unbroken.
 *
 * These replace the reference's driver-side similarity SPI
 * (reference similarity/BaseSimilarity.scala:20-22 and the kernels at
 * CosineSimilarity.scala:24-33, PearsonSimilarity.scala:24-37,
 * JaccardSimilarity.scala:22-29, EuclideanSimilarity.scala:24-28) with
 * distributed column expressions.
 */
object VectorFns {

  /** Σ aᵢ·bᵢ over two equal-length array<double> columns — a native
    * codegen'd expression ([[ArrayExprs.vecDot]]); identical
    * left-to-right accumulation to the HOF fold it replaced. */
  def dotArr(a: Column, b: Column): Column = ArrayExprs.vecDot(a, b)

  /** Σ aᵢ . */
  def sumArr(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Σ aᵢ² . */
  def sqNorm(a: Column): Column = ArrayExprs.vecDot(a, a)

  /** ‖a‖₂ . */
  def l2Norm(a: Column): Column = sqrt(sqNorm(a))

  /** Σ (aᵢ−bᵢ)² — squared L2 ([[ArrayExprs.vecSqDist]]). */
  def sqDistArr(a: Column, b: Column): Column = ArrayExprs.vecSqDist(a, b)

  /** Cosine similarity of two array<double> columns (K1,
    * reference CosineSimilarity.scala:24-33). */
  def cosineArr(a: Column, b: Column): Column =
    dotArr(a, b) / (l2Norm(a) * l2Norm(b))

  /** Inverse-Euclidean similarity 1/(‖a−b‖+1) (K4,
    * reference EuclideanSimilarity.scala:24-28 — the +1 avoids
    * division by zero). */
  def invEuclideanArr(a: Column, b: Column): Column =
    lit(1.0) / (sqrt(sqDistArr(a, b)) + lit(1.0))

  /** Lower-cased whitespace tokens with empties dropped — the shared
    * tokenizer for the text/dedup operators. Matches the oracle
    * fragment in [[graft.oracle.SqlFragments.tokensSql]]. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Word n-gram shingles over a token array: each shingle is the
    * space-joined window of `n` consecutive tokens. Empty array when
    * the document is shorter than `n` tokens or the array is null. A
    * native expression ([[Shingles]]) that evaluates `toks` once per
    * row; `n` must be at least 1. */
  def shingles(toks: Column, n: Int): Column =
    GraftShims.toColumn(Shingles(GraftShims.toExpression(toks), n))
}
