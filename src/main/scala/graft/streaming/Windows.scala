package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Processing-time buffers/windows (SURVEY.md §2.4). The reference's
  * windows are arrival-time over whole batches keyed by input name —
  * no event time, no watermarks (buffer/window.rs:52-70). Spark mapping:
  *
  *  - tumbling  → `Trigger.ProcessingTime(interval)`: one micro-batch IS
  *    one window; [[Engine.start]] takes the trigger. `windowJoin` below
  *    covers the cross-source SQL join inside the fired window
  *    (buffer/join.rs:62-130).
  *  - sliding   → the reference's semantics are COUNT-based
  *    (window_size/slide_size messages, sliding_window.rs:41-50):
  *    [[countSlidingWindow]] via flatMapGroupsWithState.
  *  - session   → gap since last arrival (session_window.rs:40-49):
  *    [[sessionState]] via flatMapGroupsWithState +
  *    ProcessingTimeTimeout.
  *
  * Event-time versions of all three (the scale-correct default for
  * historical/late data) are in graft.operators.EventsOps.
  */
object Windows {

  /** Cross-source join within a fired window: the join SQL runs with
    * every source's accumulated batch bound under its input name by plan
    * ([[Sql.bind]] — no session views, so concurrent windows of other
    * streams never see these slices). If an expected source is absent
    * the window yields nothing — the reference's missing-source check
    * (buffer/join.rs:101-116). `joinSql` is the statement [[Sql.parse]]
    * checked when the stream was built. */
  def windowJoin(spark: SparkSession, sources: Map[String, DataFrame],
                 joinSql: LogicalPlan, expected: Seq[String]): DataFrame =
    if (expected.exists(e => !sources.contains(e))) spark.emptyDataFrame
    else Sql.bind(spark, joinSql, sources)

  /** Fan-in of several inputs with a source tag — the reference's
    * `multiple_inputs` (input/multiple_inputs.rs:30-110); batches keep
    * their origin in `__input_name` for window joins. */
  def unionTagged(dfs: Map[String, DataFrame]): DataFrame =
    dfs.map { case (name, df) => df.withColumn("__input_name", lit(name)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  // ---- count-based sliding window ----

  final case class Keyed(key: String, value: Double)
  final case class SlideOut(key: String, window: Seq[Double])

  /** State function: buffer values per key; every time `windowSize`
    * values are buffered emit them as one window and advance by
    * `slideSize` (overlapping windows, exactly the reference's
    * count-sliding semantics). Pure — unit-testable with TestGroupState. */
  def slidingFunc(windowSize: Int, slideSize: Int)(
      key: String, rows: Iterator[Keyed], state: GroupState[Seq[Double]]): Iterator[SlideOut] = {
    var buf = state.getOption.getOrElse(Seq.empty) ++ rows.map(_.value)
    val out = scala.collection.mutable.ArrayBuffer[SlideOut]()
    while (buf.size >= windowSize) {
      out += SlideOut(key, buf.take(windowSize))
      buf = buf.drop(slideSize)
    }
    state.update(buf)
    out.iterator
  }

  def countSlidingWindow(ds: Dataset[Keyed], windowSize: Int, slideSize: Int): Dataset[SlideOut] = {
    // sliding_window.rs builder validation: both positive, and the window
    // must cover the slide or rows would be silently skipped.
    require(windowSize > 0, s"window_size must be positive, got $windowSize")
    require(slideSize > 0, s"slide_size must be positive, got $slideSize")
    require(windowSize >= slideSize,
      s"window_size ($windowSize) must be >= slide_size ($slideSize)")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        slidingFunc(windowSize, slideSize))
  }

  // ---- streaming as-of join ----

  /** One event of either side of a streaming as-of join: `side` is
    * "left" (probe) or "right" (reference state). */
  final case class AsOfEvent(key: String, time: Long, side: String, payload: String)
  final case class AsOfMatch(key: String, leftTime: Long, leftPayload: String,
                             rightTime: Option[Long], rightPayload: Option[String])

  /** State function of [[streamingAsOf]]: per key, the right rows seen so
    * far ride in state as a time-sorted buffer capped at `maxRightBuffer`
    * (oldest evicted first — per-key state stays O(buffer), never
    * O(stream)). Each left event matches the LATEST right with
    * `time <= leftTime` among rights seen so far — the micro-batch twin
    * of [[graft.plans.AsOfJoinExec]]'s backward direction. Rights in the
    * SAME micro-batch as the left are visible (merged before matching);
    * a right arriving in a LATER batch than a left that would have
    * matched it cannot retro-update an already-emitted row — arrival-time
    * semantics, exactly like the reference's window join family
    * (buffer/join.rs arrival windows). Pure — unit-testable with
    * TestGroupState. */
  def asOfFunc(maxRightBuffer: Int)(
      key: String, rows: Iterator[AsOfEvent],
      state: GroupState[Seq[(Long, String)]]): Iterator[AsOfMatch] = {
    val events = rows.toSeq
    val newRights = events.filter(_.side == "right").map(e => (e.time, e.payload))
    val buf = (state.getOption.getOrElse(Seq.empty) ++ newRights)
      .sortBy(_._1).takeRight(maxRightBuffer)
    state.update(buf)
    events.filter(_.side == "left").sortBy(_.time).iterator.map { l =>
      buf.takeWhile(_._1 <= l.time).lastOption match {
        case Some((rt, rp)) => AsOfMatch(key, l.time, l.payload, Some(rt), Some(rp))
        case None => AsOfMatch(key, l.time, l.payload, None, None)
      }
    }
  }

  /** Streaming as-of join over a union-tagged event stream (tag left and
    * right sides into [[AsOfEvent]], e.g. via [[unionTagged]] + a map).
    * Batch pipelines should use [[graft.plans.AsOf.join]] (the custom
    * exec — a single sorted merge, no per-key state); this is the
    * unbounded-stream shape where the right side must persist across
    * micro-batches as keyed state. */
  def streamingAsOf(ds: Dataset[AsOfEvent],
                    maxRightBuffer: Int = 1024): Dataset[AsOfMatch] = {
    require(maxRightBuffer > 0, s"maxRightBuffer must be positive, got $maxRightBuffer")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        asOfFunc(maxRightBuffer))
  }

  final case class SessEvent(key: String, time: Long, payload: String)
  final case class SessStamped(key: String, time: Long, payload: String,
    sessionSeq: Long)

  /** State function of [[streamingSessionize]]: per key, (lastTime,
    * seq) ride in state; each batch's events sort by time and extend
    * the chain — gap > gapNanos opens a new session, gap == gapNanos
    * continues it, matching the batch operator (EventsOps.sessionize,
    * q160) exactly on in-order streams. Arrival-time caveat, same as
    * [[asOfFunc]]: an event arriving in a LATER batch than a
    * same-session successor cannot retro-stamp already-emitted rows.
    * Pure — unit-testable with TestGroupState. */
  def sessionizeFunc(gapNanos: Long)(
      key: String, rows: Iterator[SessEvent],
      state: GroupState[(Long, Long)]): Iterator[SessStamped] = {
    val events = rows.toSeq.sortBy(e => (e.time, e.payload))
    var (last, seq) = state.getOption.getOrElse((Long.MinValue, 0L))
    val out = events.map { e =>
      if (seq == 0L || e.time - last > gapNanos) seq += 1
      // max, not assignment: a late straggler joins the current session
      // but must not drag the watermark BACKWARD (that would open a
      // phantom session for the next in-order event within gap of the
      // true latest time)
      last = math.max(last, e.time)
      SessStamped(e.key, e.time, e.payload, seq)
    }
    state.update((last, seq))
    out.iterator
  }

  /** Per-event session stamping over an unbounded stream — the
    * streaming twin of EventsOps.sessionize (q160), the way
    * [[streamingAsOf]] twins the batch as-of exec: (lastTime, seq) is
    * the ONLY per-key state (two longs — O(keys), never O(stream)),
    * so session ordinals survive across micro-batches indefinitely. */
  def streamingSessionize(ds: Dataset[SessEvent],
      gapNanos: Long): Dataset[SessStamped] = {
    require(gapNanos > 0, s"gap must be positive, got $gapNanos")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionizeFunc(gapNanos))
  }

  // ---- processing-time session window ----

  final case class SessionAgg(n: Long, sum: Double, openedMs: Long)
  final case class SessionOut(key: String, n: Long, sum: Double)

  /** State function: accumulate until `gapMs` of silence, then emit the
    * session on timeout — the reference's gap semantics
    * (session_window.rs read loop 120-140). */
  def sessionFunc(gapMs: Long)(
      key: String, rows: Iterator[Keyed], state: GroupState[SessionAgg]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(SessionOut(key, s.n, s.sum))
    } else {
      val vals = rows.map(_.value).toSeq
      val prev = state.getOption.getOrElse(SessionAgg(0L, 0.0,
        state.getCurrentProcessingTimeMs()))
      state.update(SessionAgg(prev.n + vals.size, prev.sum + vals.sum, prev.openedMs))
      state.setTimeoutDuration(gapMs)
      Iterator.empty
    }
  }

  def sessionWindow(ds: Dataset[Keyed], gapMs: Long): Dataset[SessionOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        sessionFunc(gapMs))
  }
}
