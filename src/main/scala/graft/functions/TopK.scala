package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters sketch (Metwally et al. 2005) as a raw
  * Catalyst [[TypedImperativeAggregate]] — the bounded-memory way to ask
  * "what are the hot domains / tokens / URLs" over 100 TB: a plain
  * `groupBy(token).count().orderBy(desc).limit(k)` shuffles one row per
  * DISTINCT token (billions for web text), while this sketch keeps at
  * most `capacity` counters per partial buffer, map-side combines like
  * any aggregate, and ships `capacity` rows per partition to the merge.
  *
  * Guarantees (the standard SpaceSaving bounds, preserved under Spark's
  * arbitrary partial-merge order per Agarwal et al. 2012 "Mergeable
  * Summaries"): every reported `cnt` is an overestimate with
  * `cnt - err <= true <= cnt`, total overestimation per summary is
  * bounded by N/capacity, and any item with true count > N/capacity is
  * guaranteed present. With `capacity` >= distinct-count the sketch
  * degenerates to EXACT top-k — the regime the q98 DuckDB oracle
  * verifies hash-exactly; the approximate regime's bounds are asserted
  * in OperatorsSpec.
  *
  * SQL surface: `topk_sketch(item, k, capacity)` returns
  * `array<struct<item string, cnt long, err long>>` sorted by
  * (cnt DESC, item) — deterministic output on any cluster layout in the
  * exact regime.
  */
/** Aggregation state: the counter map plus a lazy-repair min-heap over
  * (cnt, item) so full-buffer eviction is O(log capacity) amortized
  * instead of a full O(capacity) scan per non-resident insert — on
  * heavy-tailed streams most inserts ARE non-resident once the buffer
  * fills, so the scan was the sketch's dominant cost.
  *
  * Heap discipline: exactly one entry per resident item. Increments
  * leave the heap untouched (the entry goes stale at a LOWER count —
  * still a valid lower bound); [[evictMin]] pops the global minimum and
  * repairs stale heads by re-pushing them at their live count. Since a
  * stale entry only ever under-states its item's count, the first
  * live-count head popped is the true (cnt, item) minimum — the same
  * deterministic lexicographic-tie-break choice the old minBy scan made.
  */
final class TopKState {
  val counts: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty
  private val heap: mutable.PriorityQueue[(Long, String)] =
    mutable.PriorityQueue.empty(Ordering[(Long, String)].reverse)

  def push(cnt: Long, item: String): Unit = heap.enqueue((cnt, item))

  /** Remove and return the (item, cnt) with minimal (cnt, item). */
  def evictMin(): (String, Long) = {
    while (heap.nonEmpty) {
      val (c, k) = heap.dequeue()
      counts.get(k) match {
        case Some((cur, _)) if cur == c =>
          counts.remove(k)
          return (k, c)
        case Some((cur, _)) => heap.enqueue((cur, k)) // repair stale head
        case None => // item evicted by a merge rebuild — drop
      }
    }
    throw new IllegalStateException("evictMin on empty summary")
  }

  /** Heapify from the current counts — used after merge/deserialize. */
  def rebuildHeap(): this.type = {
    heap.clear()
    counts.foreach { case (k, (c, _)) => heap.enqueue((c, k)) }
    this
  }
}

case class SpaceSavingTopK(
    child: Expression, k: Int, capacity: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState]
  with UnaryLike[Expression] {

  require(k > 0 && capacity >= k, s"need k > 0 and capacity >= k, got k=$k capacity=$capacity")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))))

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKState = new TopKState

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val v = child.eval(input)
    if (v == null) return buf
    // copy out of the (reused) unsafe row buffer before storing
    val key = v.asInstanceOf[UTF8String].toString
    buf.counts.get(key) match {
      case Some((c, e)) => buf.counts.update(key, (c + 1, e))
      case None if buf.counts.size < capacity =>
        buf.counts.update(key, (1L, 0L))
        buf.push(1L, key)
      case None =>
        // evict the minimum counter; the newcomer inherits its count as
        // the classic SpaceSaving overestimate, with err = that count
        val (_, mc) = buf.evictMin()
        buf.counts.update(key, (mc + 1, mc))
        buf.push(mc + 1, key)
    }
    buf
  }

  override def merge(buf: TopKState, other: TopKState): TopKState = {
    // an item absent from a FULL summary may still have occurred up to
    // that summary's minimum counter times — add that bound (and the
    // same err); absent from a non-full summary genuinely means zero
    def minIfFull(m: mutable.HashMap[String, (Long, Long)]): Long =
      if (m.size < capacity) 0L else m.valuesIterator.map(_._1).min
    val minBuf = minIfFull(buf.counts)
    val minOther = minIfFull(other.counts)
    val keys = buf.counts.keySet ++ other.counts.keySet
    val merged = new TopKState
    keys.foreach { key =>
      val (c1, e1) = buf.counts.getOrElse(key, (minBuf, minBuf))
      val (c2, e2) = other.counts.getOrElse(key, (minOther, minOther))
      merged.counts.update(key, (c1 + c2, e1 + e2))
    }
    if (merged.counts.size > capacity) {
      val kept = merged.counts.toSeq
        .sortBy { case (ik, (ic, _)) => (-ic, ik) }
        .take(capacity)
      merged.counts.clear()
      kept.foreach { case (ik, v) => merged.counts.update(ik, v) }
    }
    merged.rebuildHeap()
  }

  override def eval(buf: TopKState): Any = {
    val top = buf.counts.toSeq
      .sortBy { case (ik, (ic, _)) => (-ic, ik) }
      .take(k)
      .map { case (ik, (ic, ie)) =>
        InternalRow(UTF8String.fromString(ik), ic, ie)
      }
    new GenericArrayData(top.toArray[Any])
  }

  override def serialize(buf: TopKState): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (key, (c, e)) =>
      val b = key.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKState
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.counts.update(new String(b, "UTF-8"), (in.readLong(), in.readLong()))
      i += 1
    }
    buf.rebuildHeap()
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingTopK =
    copy(child = newChild)
}

object SpaceSavingTopK {
  /** Builder for SQL registration: `topk_sketch(item, k, capacity)` —
    * k/capacity must be literals. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "topk_sketch(item, k, capacity)")
    val k = exprs(1).eval().asInstanceOf[Number].intValue()
    val cap = exprs(2).eval().asInstanceOf[Number].intValue()
    SpaceSavingTopK(exprs(0), k, cap)
  }
}
