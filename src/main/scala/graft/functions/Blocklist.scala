package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `blocklist_hits(text, phrases)` — how many DISTINCT phrases from a
  * plan-constant blocklist occur in `text`, matched in ONE pass with an
  * Aho-Corasick automaton built once per plan. The decontamination /
  * policy-filter primitive: a thousand-phrase blocklist costs one text
  * scan here versus a thousand `contains` scans composed by hand —
  * the automaton is the loop fusion the optimizer can't do.
  *
  * `phrases` must be a foldable array<string> literal (the blocklist is
  * part of the PLAN, broadcast with it, like the q105 bloom literal);
  * a non-foldable argument fails analysis with a clear message.
  * Contains-semantics (each phrase counted once no matter how often or
  * how overlapped it appears) keeps the oracle expressible as
  * `len(list_filter(phrases, p -> contains(text, p)))`.
  */
case class BlocklistHits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("blocklist_hits: text must be STRING")
    else if (!right.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      right.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType != StringType)
      TypeCheckResult.TypeCheckFailure("blocklist_hits: phrases must be ARRAY<STRING>")
    else if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "blocklist_hits: phrases must be a foldable literal — the automaton is built once per plan")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val automaton: BlocklistHits.Automaton = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val phrases = (0 until arr.numElements())
      .map(i => arr.getUTF8String(i).toString)
    BlocklistHits.build(phrases)
  }

  override protected def nullSafeEval(t: Any, p: Any): Any =
    automaton.countDistinct(t.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBlocklistAc", automaton,
      classOf[BlocklistHits.Automaton].getName)
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = $ref.countDistinct($t.toString());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlocklistHits =
    copy(left = newLeft, right = newRight)
}

object BlocklistHits {

  /** Classic Aho-Corasick over chars: goto/fail links flattened into
    * hash maps (the alphabet is open); `out` marks phrase ids ending at
    * each node. Built once, reused across every row of the plan. */
  final class Automaton(goto: Array[java.util.HashMap[Character, Integer]],
      fail: Array[Int], out: Array[Array[Int]], val nPhrases: Int)
      extends Serializable {

    def countDistinct(text: String): Int = {
      if (nPhrases == 0) return 0
      val seen = new Array[Boolean](nPhrases)
      var found = 0
      var state = 0
      var i = 0
      while (i < text.length && found < nPhrases) {
        val ch = text.charAt(i)
        var s = state
        var nxt = goto(s).get(ch)
        while (nxt == null && s != 0) {
          s = fail(s)
          nxt = goto(s).get(ch)
        }
        state = if (nxt == null) 0 else nxt.intValue()
        val hits = out(state)
        var j = 0
        while (j < hits.length) {
          if (!seen(hits(j))) { seen(hits(j)) = true; found += 1 }
          j += 1
        }
        i += 1
      }
      found
    }
  }

  def build(phrases: Seq[String]): Automaton = {
    val goto = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val outB = scala.collection.mutable.ArrayBuffer(Set.empty[Int])
    // trie
    phrases.zipWithIndex.foreach { case (p, id) =>
      var s = 0
      p.foreach { ch =>
        val nxt = goto(s).get(ch)
        if (nxt == null) {
          goto += new java.util.HashMap[Character, Integer]()
          outB += Set.empty[Int]
          goto(s).put(ch, goto.size - 1)
          s = goto.size - 1
        } else s = nxt.intValue()
      }
      if (p.nonEmpty) outB(s) += id
    }
    // BFS failure links; merge suffix outputs
    val fail = new Array[Int](goto.size)
    val queue = scala.collection.mutable.Queue.empty[Int]
    goto(0).forEach((_, v) => queue += v.intValue())
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      goto(s).forEach { (ch, t) =>
        queue += t.intValue()
        var f = fail(s)
        while (f != 0 && goto(f).get(ch) == null) f = fail(f)
        val fNext = goto(f).get(ch)
        fail(t) = if (fNext != null && fNext != t) fNext.intValue() else 0
        outB(t) ++= outB(fail(t))
      }
    }
    new Automaton(goto.toArray, fail, outB.map(_.toArray.sorted).toArray,
      phrases.size)
  }
}
