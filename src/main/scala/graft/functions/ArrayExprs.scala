package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the hot vector and text kernels. The
 * higher-order-function formulations (`aggregate(zip_with(...))`,
 * `transform(sequence(...), ...)`) are correct but interpreted —
 * per-element lambda dispatch outside whole-stage codegen. These
 * compile to one loop inside the generated code, which matters when a
 * similarity join evaluates millions of 64-dim pairs (the
 * content-based scorer dropped ~10× switching over) and when a corpus
 * pass shingles every document ([[Shingles]]: the lambda re-evaluated
 * its inline tokenizer once per shingle).
 *
 * Left-to-right accumulation order is IDENTICAL to both the HOF fold
 * and DuckDB's list_sum, so oracle hashes are unaffected.
 */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Per-element contribution for the interpreted path. */
  protected def combine(x: Double, y: Double): Double
  /** Per-element contribution as generated Java (vars `xi`, `yi`). */
  protected def combineCode: String

  // Length mismatch → NULL, matching the HOF fold these replace
  // (zip_with pads the short side with null, which the fold then
  // propagates): a truncated/corrupt vector must surface as NULL, not
  // as a plausible partial sum that silently reorders kNN results.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += combine(xs.getDouble(i), ys.getDouble(i))
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xi = $a.getDouble($i);
         |    double yi = $b.getDouble($i);
         |    $acc += $combineCode;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** Σ xᵢ·yᵢ over two array<double> columns, one fused loop. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override protected def combine(x: Double, y: Double): Double = x * y
  override protected def combineCode: String = "xi * yi"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** Σ (xᵢ−yᵢ)² — squared L2 distance, one fused loop. */
case class SquaredDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override protected def combine(x: Double, y: Double): Double = {
    val d = x - y; d * d
  }
  override protected def combineCode: String = "(xi - yi) * (xi - yi)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_sqdist"
}

/** Word n-gram shingles over an `array<string>` of tokens: the
  * space-joined windows of `n` consecutive tokens, in order — the
  * native form of `transform(sequence(0, size(toks) - n), i ->
  * concat_ws(' ', slice(toks, i + 1, n)))`. The token array is
  * evaluated once per row and every window is built in one loop, so an
  * inline tokenizer child runs once per document, not once per
  * shingle. A null element is skipped inside its window, as
  * `concat_ws` skips it. A null token array, or one shorter than `n`,
  * gives an empty array, never null. The result type is the HOF form's,
  * `array<string>` with `containsNull`. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingles needs n >= 1, got n = $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    Shingles.windows(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toks = child.genCode(ctx)
    ev.copy(code = code"""
      ${toks.code}
      ${classOf[ArrayData].getName} ${ev.value} = ${Shingles.getClass.getName}.MODULE$$.windows(
        ${toks.isNull} ? null : ${toks.value}, $n);
    """, isNull = FalseLiteral)
  }

  override def sql: String = s"$prettyName(${child.sql}, $n)"
  override def prettyName: String = "shingles"
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  private val Space = UTF8String.fromString(" ")

  /** The `n`-token windows of `toks`; empty for null or fewer than `n`
    * tokens. */
  def windows(toks: ArrayData, n: Int): ArrayData = {
    val len = if (toks == null) 0 else toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val words = Array.tabulate(len)(i => if (toks.isNullAt(i)) null else toks.getUTF8String(i))
    val window = new Array[UTF8String](n)
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i < out.length) {
      System.arraycopy(words, i, window, 0, n)
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object ArrayExprs {
  import GraftShims.{toColumn, toExpression}
  /** Column surface for [[DotProduct]]. */
  def vecDot(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpression(a), toExpression(b)))
  /** Column surface for [[SquaredDistance]]. */
  def vecSqDist(a: Column, b: Column): Column =
    toColumn(SquaredDistance(toExpression(a), toExpression(b)))
}
