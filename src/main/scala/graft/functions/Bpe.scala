package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_encode(symbols, merges)` — apply a trained BPE merge table to one
  * word's symbol array in a single fused codegen pass.
  *
  * `merges` is the rank-ordered merge list as `"left right"` strings
  * (symbols never contain spaces — words are whitespace-split upstream).
  * Applying merges strictly in rank order, each as one left-to-right
  * non-overlapping pass, is the classic BPE encode (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units");
  * the greedy priority-queue formulation produces the identical result.
  *
  * This is the SCALE path for corpus tokenization: the merge table rides
  * into the expression as a plan constant (one copy per task, like a
  * broadcast), and the corpus is tokenized in ONE scan — never one pass
  * per merge over the data, which is what a DataFrame-loop formulation
  * would cost. O(numMerges × wordLen) per word, zero shuffle.
  */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType)

  override protected def nullSafeEval(syms: Any, merges: Any): Any =
    Bpe.encode(syms.asInstanceOf[ArrayData], merges.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (syms, merges) =>
      s"${ev.value} = graft.functions.Bpe.encode($syms, $merges);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object Bpe {
  /** One left-to-right non-overlapping merge pass for (l, r) over syms —
    * the merged token never re-merges with the following symbol in the
    * SAME pass (it can in later-ranked merges, as BPE defines).
    */
  def mergeOnce(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  def encode(symsData: ArrayData, mergesData: ArrayData): ArrayData = {
    var syms = new Array[String](symsData.numElements())
    var i = 0
    while (i < syms.length) {
      syms(i) = if (symsData.isNullAt(i)) "" else symsData.getUTF8String(i).toString
      i += 1
    }
    val n = mergesData.numElements()
    var m = 0
    while (m < n && syms.length > 1) {
      if (!mergesData.isNullAt(m)) {
        val merge = mergesData.getUTF8String(m).toString
        val sep = merge.indexOf(' ')
        if (sep > 0) {
          val l = merge.substring(0, sep)
          val r = merge.substring(sep + 1)
          // skip the O(len) rewrite when the pair can't occur
          var has = false
          var j = 0
          while (!has && j + 1 < syms.length) {
            has = syms(j) == l && syms(j + 1) == r
            j += 1
          }
          if (has) syms = mergeOnce(syms, l, r)
        }
      }
      m += 1
    }
    new GenericArrayData(syms.map(UTF8String.fromString(_)))
  }
}
