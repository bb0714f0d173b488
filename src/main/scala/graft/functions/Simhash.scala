package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Simhash signature of an `array<string>` of words as one fused codegen
  * expression: per word ONE md5, updating every bit's ±1 vote counter in
  * the same pass. The SQL-composable form — `transform(ws, w -> md5(w))`
  * then `bits` separate `size(filter(...))` scans — walks the hash array
  * once per bit and allocates the intermediate hash strings; this is a
  * single loop with an int[] of counters and zero intermediate arrays.
  *
  * Bit layout (up to 128 — the full md5 digest): vote j reads hex digit
  * `j % 32` of each word's md5 and takes that digit's bit-plane
  * `3 - j/32` (MSB first). Plane 0 — bits 0..31 — is "digit >= '8'",
  * IDENTICAL semantics (and output) to the composed form, the DuckDB
  * oracle's exploded sum, and every signature persisted at width ≤ 32;
  * planes 1..3 unlock digit bits 2..0, giving 64/96/128-bit signatures
  * whose ≤32-bit PREFIX matches the narrow signature byte-for-byte (the
  * widening-never-invalidates property simhashAutoBits documents). The
  * wide widths exist for bucket-width headroom at ≥10^5 keepers
  * (SCALING.md round-15 100× correction) — every md5 bit is an
  * independent hyperplane vote, so planes are as sound as digits.
  */
case class SimhashBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(ws: Any, bits: Any): Any =
    SimhashBits.signature(ws.asInstanceOf[ArrayData], bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ws, bits) =>
      s"${ev.value} = graft.functions.SimhashBits.signature($ws, $bits);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimhashBits =
    copy(left = newLeft, right = newRight)
}

object SimhashBits {
  def signature(ws: ArrayData, bits: Int): UTF8String = {
    require(bits >= 1 && bits <= 128,
      s"simhash_bits width must be in [1, 128] (the md5 digest), got $bits")
    val votes = new Array[Int](bits)
    val n = ws.numElements()
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        val hex = org.apache.commons.codec.digest.DigestUtils
          .md5Hex(ws.getUTF8String(i).getBytes)
        var j = 0
        while (j < bits) {
          // vote j: bit-plane (3 - j/32) of hex digit (j % 32); plane 0
          // is the historical "digit >= '8'" (digit bit 3, MSB)
          val v = Character.digit(hex.charAt(j % 32), 16)
          if (((v >> (3 - j / 32)) & 1) == 1) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      } else {
        // a null element votes -1 everywhere, matching the composed
        // form (2*size(filter(...)) > size(ws): null hashes never pass
        // the filter but still count in size)
        var j = 0
        while (j < bits) { votes(j) -= 1; j += 1 }
      }
      i += 1
    }
    val out = new Array[Byte](bits)
    var j = 0
    while (j < bits) {
      out(j) = if (votes(j) > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}
