package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a fully codegen'd Catalyst expression —
  * the classic record-linkage confirm metric (Winkler 1990), tuned for
  * short identifier-like strings where shared prefixes matter. Spark
  * ships `levenshtein` but no Jaro family; this fills the gap at
  * codegen speed so the confirm stage of an LSH dedup stays inside
  * WholeStageCodegen.
  *
  * Semantics pinned to the public DuckDB/common definition so the
  * driver's oracle (`jaro_winkler_similarity`) reproduces it exactly:
  *   - match window = max(len)/2 - 1 (floor), transpositions halved;
  *   - Winkler boost only when jaro > 0.7, common prefix capped at 4,
  *     scaling factor 0.1;
  *   - either side empty -> 0.0 (including both empty).
  *
  * Reference context: the reference delegates string similarity to its
  * SQL engine; this is the custom scalar-Expression extension point
  * SURVEY.md §2.8 reserves (same family as [[HammingDistance]]).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.similarity(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.JaroWinkler.similarity($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Jaro-Winkler over code units (exact for ASCII/BMP corpora). */
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString
    val t = b.toString
    val la = s.length
    val lb = t.length
    if (la == 0 || lb == 0) return 0.0
    if (s == t) return 1.0

    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val sMatched = new Array[Boolean](la)
    val tMatched = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!tMatched(j) && s.charAt(i) == t.charAt(j)) {
          sMatched(i) = true; tMatched(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0

    // transpositions: matched chars out of order, halved
    var trans = 0
    var k = 0
    i = 0
    while (i < la) {
      if (sMatched(i)) {
        while (!tMatched(k)) k += 1
        if (s.charAt(i) != t.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - trans / 2) / md) / 3.0

    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(la, lb))
    while (p < maxP && s.charAt(p) == t.charAt(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }
}
