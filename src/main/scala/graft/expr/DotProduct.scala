package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst dot product over two double arrays, with whole-stage
  * codegen — the hot inner loop of cosine similarity search.
  *
  * The composable form `aggregate(zip_with(a, b, _*_), 0d, _+_)` allocates
  * an intermediate array and evaluates lambda closures per element;
  * measured 24s for 4M pairs × 64 dims at sf0.1. This expression's generated
  * code calls the primitive `double` loop [[DotProduct.fold]] directly —
  * no allocation, no closures — the (b)-tier of the custom-operator
  * preference order (compose built-ins < custom Expression < custom plan).
  *
  * Summation is a strict left fold in element order, matching both the HOF
  * form it replaces and DuckDB's `list_sum(list_transform(list_zip(...)))`
  * — bit-for-bit identical results, so oracle parity is preserved.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> inputs (Similarity.prep casts)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.DotProduct.fold($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The inner product both forms run — evaluated, generated code, and
    * any scalar loop that must score bit-identically to them (the ANN
    * query's per-partition scoring): a strict left fold in element
    * order over the shorter array's length. */
  def fold(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Column API: `dot(a, b)` over `array<double>` columns. */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
