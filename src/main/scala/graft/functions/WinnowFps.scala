package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS algorithm) in ONE fused codegen pass:
  * `winnow_fps(text, k, w)` → sorted distinct array<bigint>.
  *
  * Every k-codepoint gram gets the same polynomial hash as
  * [[CdcChunks]] (B=257 mod 1e9+7, maintained rolling in O(1) per
  * position); each window of `w` consecutive gram hashes contributes
  * its MINIMUM to the fingerprint set. Winnowing guarantees any shared
  * substring of length ≥ k+w−1 produces at least one shared
  * fingerprint, with expected density 2/(w+1) — the classic
  * position-independent alternative to fixed-stride shingles.
  *
  * The sliding minimum runs on a monotonic index deque — O(len) per
  * document total, one tight loop, no per-window allocation. Only hash
  * VALUES are emitted (not positions), so the min-tie rule cannot
  * affect the output and the DuckDB oracle can reproduce the set with
  * a per-window `list_min`. Texts shorter than k+w−1 codepoints emit
  * no fingerprints (no full window exists) — same as the oracle's
  * empty generate_series.
  */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType)

  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    WinnowFps.fps(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, w) =>
      s"${ev.value} = graft.functions.WinnowFps.fps($t, $k, $w);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFps =
    copy(first = f, second = s, third = t)
}

object WinnowFps {
  private val B = 257L
  private val M = 1000000007L

  def fps(text: UTF8String, k: Int, w: Int): ArrayData = {
    // validated HERE, not only in the calling operator: Registry exposes
    // winnow_fps to arbitrary pipeline SQL, where w = 0 would otherwise
    // empty the deque and NPE mid-job (and k <= 0 would emit phantom
    // fingerprints from uninitialized hash slots)
    if (k <= 0 || w <= 0) throw new IllegalArgumentException(
      s"winnow_fps(text, k, w) needs k > 0 and w > 0, got k=$k w=$w")
    val s = text.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    val m = n - k + 1 // number of k-gram hashes
    if (m < w) return new GenericArrayData(Array.empty[Any])
    var bk = 1L
    var j = 0
    while (j < k) { bk = bk * B % M; j += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B + cps(i)) % M
      if (i >= k) h = ((h - cps(i - k) * bk % M) % M + M) % M
      if (i >= k - 1) hs(i - k + 1) = h
      i += 1
    }
    val set = new java.util.TreeSet[java.lang.Long]()
    val dq = new java.util.ArrayDeque[Int]()
    j = 0
    while (j < m) {
      while (!dq.isEmpty && hs(dq.peekLast()) >= hs(j)) dq.pollLast()
      dq.addLast(j)
      if (dq.peekFirst() <= j - w) dq.pollFirst()
      if (j >= w - 1) set.add(hs(dq.peekFirst()))
      j += 1
    }
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(out)
  }
}
