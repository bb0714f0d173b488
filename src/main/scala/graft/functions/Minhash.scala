package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `numHashes` minhash signatures of a shingle array in ONE fused
  * codegen pass: per shingle, one seed-prefixed md5 per seed, tracking
  * the running min — versus `numHashes` separate
  * `array_min(transform(...))` walks each allocating an intermediate
  * hash array. Same hash count (that's inherent), zero allocation
  * beyond the `numHashes` result strings, one traversal.
  *
  * Identical output to `array_min(transform(shingles, s ->
  * md5(concat('<seed>:', s))))` per seed — the shape the DuckDB oracle
  * computes; null shingle elements are skipped like array functions skip
  * them. Returns array<string> of length `numHashes` (null mins only if
  * the input has no non-null shingles).
  */
case class MinhashSigs(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType)

  override protected def nullSafeEval(sh: Any, k: Any): Any =
    MinhashSigs.sigs(sh.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, k) =>
      s"${ev.value} = graft.functions.MinhashSigs.sigs($sh, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSigs =
    copy(left = newLeft, right = newRight)
}

object MinhashSigs {
  def sigs(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[String](numHashes)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i).toString
        var seed = 0
        while (seed < numHashes) {
          val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(
            (seed + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (mins(seed) == null || h.compareTo(mins(seed)) < 0) mins(seed) = h
          seed += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(m =>
      if (m == null) null else UTF8String.fromString(m)))
  }
}
