package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, StringType}

/** VRL `slice(value, start, [end])` for STRING and ARRAY values
  * (processor/vrl.rs stdlib): 0-based, end-exclusive, negative indices
  * count from the end, out-of-range indices clamp — none of which
  * Spark's `substring` (1-based, length-counted) or `slice` (arrays,
  * 1-based, errors on 0) matches directly. Registered as
  * `graft_vrl_slice`; the remap processor's FnAliases rewrites VRL
  * `slice(` call sites to it.
  *
  * COMPOSED from existing codegen expressions (Substring/Slice/Size/
  * Length/arithmetic) rather than a UDF, so it stays inside whole-stage
  * codegen. The string/array dispatch happens on the RESOLVED child
  * type via RuntimeReplaceable, the [[VrlLength]] pattern.
  */
case class VrlSliceExpr(value: Expression, start: Expression,
    endOpt: Option[Expression])
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val len: Expression = value.dataType match {
      case StringType | BinaryType => Length(value)
      case _: ArrayType => Size(value, legacySizeOfNull = false)
      case other => throw new IllegalArgumentException(
        s"slice() takes a string or array, got ${other.simpleString}")
    }
    def norm(e: Expression): Expression = {
      val i = Cast(e, IntegerType)
      If(GreaterThanOrEqual(i, Literal(0)), i, Add(len, i))
    }
    val st0 = norm(start)
    val en0 = endOpt.map(norm).getOrElse(len)
    val st = Least(Seq(Greatest(Seq(st0, Literal(0))), len))
    val en = Least(Seq(Greatest(Seq(en0, st)), len))
    value.dataType match {
      case _: ArrayType =>
        // Spark's Slice is 1-based and errors on start 0; st+1 is always
        // >= 1 after clamping, and length en-st is always >= 0
        Slice(value, Add(st, Literal(1)), Subtract(en, st))
      case _ =>
        Substring(value, Add(st, Literal(1)), Subtract(en, st))
    }
  }
  override def children: Seq[Expression] =
    Seq(value, start) ++ endOpt.toSeq
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), start = newChildren(1),
      endOpt = if (newChildren.size > 2) Some(newChildren(2)) else None)
}

object VrlSlice {
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2 || exprs.size == 3,
      "slice(value, start[, end]) takes 2 or 3 arguments")
    VrlSliceExpr(exprs.head, exprs(1), exprs.lift(2))
  }
}
