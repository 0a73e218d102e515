package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity from a dot product and the two norms, under the
  * zero-vector rule of [[Cosine.of]]. Evaluated and generated code both
  * call that scalar, so a hand-written scoring loop that calls it too
  * (the ANN query's per-partition scoring) is bit-identical to every
  * Catalyst plan that scores through [[graft.sim.Similarity.cosine]].
  *
  * Null handling is that of the `when(na * nb > 0, dot / (na * nb))
  * .otherwise(0)` form this replaces: a null norm gives 0.0, and a null
  * dot gives null only when both norms are set and their product is
  * positive. */
case class Cosine(dot: Expression, na: Expression, nb: Expression)
    extends TernaryExpression {

  override def first: Expression = dot
  override def second: Expression = na
  override def third: Expression = nb
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = dot.nullable

  override def eval(input: InternalRow): Any = {
    val a = na.eval(input)
    val b = nb.eval(input)
    if (a == null || b == null) 0.0
    else {
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      val d = dot.eval(input)
      if (d != null) Cosine.of(d.asInstanceOf[Double], x, y)
      else if (x * y > 0.0) null
      else 0.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = dot.genCode(ctx)
    val a = na.genCode(ctx)
    val b = nb.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |boolean ${ev.isNull} = false;
      |double ${ev.value} = 0.0;
      |if (!${a.isNull} && !${b.isNull}) {
      |  ${d.code}
      |  if (${d.isNull}) {
      |    ${ev.isNull} = ${a.value} * ${b.value} > 0.0;
      |  } else {
      |    ${ev.value} = graft.expr.Cosine.of(${d.value}, ${a.value}, ${b.value});
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Cosine =
    copy(dot = newFirst, na = newSecond, nb = newThird)
}

object Cosine {
  /** The zero-vector rule: a zero-norm side has no direction, so its
    * similarity to anything is 0.0 — never NaN, never a division by
    * zero. A zero vector therefore never outranks a real neighbor; it
    * can still appear in a top-k tail at cos 0, tie-broken by id. */
  def of(dot: Double, na: Double, nb: Double): Double =
    if (na * nb > 0.0) dot / (na * nb) else 0.0

  /** Column API over double columns. */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    GraftBridge.column(Cosine(GraftBridge.expression(dot),
      GraftBridge.expression(na), GraftBridge.expression(nb)))
}
