package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dot product of two `array<double>` columns as a fully codegen'd
  * Catalyst expression — the hot inner loop of every similarity operator
  * (brute-force kNN, IVF, LSH near-dup). The SQL-composable alternative
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,v) -> acc+v)`
  * allocates an intermediate array per row-pair and walks generic
  * lambdas; this is one fused primitive-double loop over the unsafe
  * array data, summing IN ELEMENT ORDER — bit-identical to the
  * sequential fold (and to DuckDB's `list_dot_product` oracle twin).
  * Shorter input decides the iteration bound; either side NULL → NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.DotProduct.dot($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
