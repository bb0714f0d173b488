package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy (bits/char) of a string's character distribution as
  * a fully codegen'd Catalyst expression — a classic one-pass quality
  * signal: machine-generated boilerplate and encoding garbage sit at
  * the entropy extremes while natural prose clusters mid-range, so the
  * corpus-filtering rule tables (q102) threshold on it.
  *
  * Computed as (ln(n) - sum(c·ln(c))/n) / ln(2) with the per-char
  * counts accumulated in a fixed ascending-code order, so the float
  * summation order is deterministic and reproducible by the oracle's
  * grouped form of the same expression. Row-local: zero shuffle, one
  * pass over the bytes, scales with the scan.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.entropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropy.entropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  private val Ln2 = math.log(2.0)

  /** Entropy over UTF-16 code units (exact for ASCII/BMP corpora). */
  def entropy(s: UTF8String): Double = {
    val t = s.toString
    val n = t.length
    if (n == 0) return 0.0
    // ASCII fast path: flat array indexed by code unit; rare wide chars
    // go to a sorted-key map so the summation order stays canonical.
    val small = new Array[Int](256)
    var wide: java.util.TreeMap[Character, Int] = null
    var i = 0
    while (i < n) {
      val ch = t.charAt(i)
      if (ch < 256) small(ch) += 1
      else {
        if (wide == null) wide = new java.util.TreeMap[Character, Int]()
        wide.merge(ch, 1, (a, b) => a + b)
      }
      i += 1
    }
    var acc = 0.0
    var c = 0
    while (c < 256) {
      val k = small(c)
      if (k > 0) acc += k * math.log(k.toDouble)
      c += 1
    }
    if (wide != null) {
      val it = wide.values().iterator()
      while (it.hasNext) {
        val k = it.next()
        acc += k * math.log(k.toDouble)
      }
    }
    (math.log(n.toDouble) - acc / n) / Ln2
  }
}
