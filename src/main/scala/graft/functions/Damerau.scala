package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** UNRESTRICTED Damerau-Levenshtein distance (Lowrance-Wagner 1975) as
  * a codegen Catalyst expression: edit distance where an adjacent
  * transposition costs 1 — the right metric for typo/OCR-noise
  * analysis, since human typos are dominated by swaps that plain
  * Levenshtein double-counts. Unrestricted (a substring may be edited
  * after a transposition: CA→ABC = 2, not OSA's 3), matching the
  * public DuckDB `damerau_levenshtein` so the oracle reproduces every
  * value. Spark ships `levenshtein` but no Damerau variant.
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DamerauLevenshtein.distance(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.DamerauLevenshtein.distance($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {

  /** Lowrance-Wagner DP over code units; O(|a|·|b|) time, O(|a|·|b|)
    * space (the transposition recurrence reaches arbitrarily far back,
    * so full-matrix — use on SHORT fields or pre-blocked candidate
    * pairs, never raw documents).
    */
  def distance(ua: UTF8String, ub: UTF8String): Int = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    // h is (la+2) x (lb+2) with a sentinel border of `inf`
    val w = lb + 2
    val h = new Array[Int]((la + 2) * w)
    h(0) = inf
    var i = 0
    while (i <= la) { h((i + 1) * w) = inf; h((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { h(j + 1) = inf; h(w + j + 1) = j; j += 1 }
    // last row index (1-based) where each char occurred in `a`
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val sub = h(i * w + j) + cost
        val ins = h((i + 1) * w + j) + 1
        val del = h(i * w + j + 1) + 1
        val trans = h(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var m = sub
        if (ins < m) m = ins
        if (del < m) m = del
        if (trans < m) m = trans
        h((i + 1) * w + j + 1) = m
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    h((la + 1) * w + lb + 1)
  }
}
