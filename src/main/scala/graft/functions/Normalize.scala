package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for web-scale corpus cleaning — the first
  * step of every training-data pipeline (ftfy/`unicodedata.normalize`
  * territory): the same logical character can arrive precomposed (é,
  * U+00E9) or decomposed (e + U+0301), and every downstream exact-match
  * operation (exact dedup, shingling, token counting, URL keys) silently
  * fragments unless the corpus is first put in one canonical form.
  *
  * Both functions are fully codegen'd Catalyst expressions with an
  * ASCII fast path: web corpora are overwhelmingly ASCII, and a pure
  * byte scan that returns the input UTF8String untouched (zero
  * allocation) keeps the common case at memcmp speed; only strings that
  * actually contain multi-byte sequences pay the `java.text.Normalizer`
  * round-trip. No UDF, no codegen break: the expression stays inside
  * WholeStageCodegen like any builtin.
  *
  * Semantics match DuckDB's `nfc_normalize`/`strip_accents` (both
  * implement Unicode Standard Annex #15), which is what the q95 oracle
  * verifies end-to-end.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override protected def nullSafeEval(s: Any): Any =
    NormalizeOps.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeOps.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Accent folding: NFD-decompose, drop combining marks (\\p{Mn}),
  * leaving base letters. Characters with no canonical decomposition
  * (ø, đ) pass through unchanged — same as DuckDB's `strip_accents`. */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override protected def nullSafeEval(s: Any): Any =
    NormalizeOps.stripAccents(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeOps.stripAccents($c)")

  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
}

object NormalizeOps {
  /** True iff every byte is single-byte UTF-8 — such strings are fixed
    * points of NFC and strip_accents, so both return the input object. */
  private def isAscii(s: UTF8String): Boolean = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) return false
      i += 1
    }
    true
  }

  def nfc(s: UTF8String): UTF8String =
    if (isAscii(s)) s
    else {
      val str = s.toString
      if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
      else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
    }

  private val CombiningMarks = java.util.regex.Pattern.compile("\\p{Mn}+")

  def stripAccents(s: UTF8String): UTF8String =
    if (isAscii(s)) s
    else {
      val nfd = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
      UTF8String.fromString(CombiningMarks.matcher(nfd).replaceAll(""))
    }
}
