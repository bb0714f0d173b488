package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Hamming distance between two equal-length strings (e.g. SimHash bit
  * signatures) as a fully codegen'd Catalyst expression — it stays inside
  * WholeStageCodegen rather than breaking the pipeline the way a Scala
  * UDF would. Unequal lengths count the length difference as mismatches.
  *
  * Reference context: SimHash near-dup detection compares signatures by
  * Hamming distance; the reference has no native equivalent (its dedup
  * story is delegated), so this is the custom-Expression extension point
  * SURVEY.md §2.8 reserves.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HammingDistance.distance(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.HammingDistance.distance($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** Byte-wise mismatch count (exact for ASCII bit-signature strings). */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val ab = a.getBytes
    val bb = b.getBytes
    val n = math.min(ab.length, bb.length)
    var d = math.abs(ab.length - bb.length)
    var i = 0
    while (i < n) {
      if (ab(i) != bb(i)) d += 1
      i += 1
    }
    d
  }
}
