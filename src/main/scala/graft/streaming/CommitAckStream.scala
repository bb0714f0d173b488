package graft.streaming

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.LongOffset

/** A [[PushStream]] that DEFERS broker acks to checkpoint commit — the
  * delivery-guarantee core shared by the Pulsar and NATS JetStream
  * inputs (each an [[AckingPushInput]]): the reader thread
  * [[enqueue]]s each message together with its ack action WITHOUT
  * acking, and the action runs only after Spark has committed the
  * micro-batch holding the message. A driver crash
  * between enqueue and commit therefore REDELIVERS from the broker
  * cursor instead of losing acked messages — at-least-once across
  * restarts, where ack-on-read (the reference's behavior and this
  * engine's until round 8) was at-most-once.
  *
  * The enqueue/ack bookkeeping lives HERE, under one lock, because the
  * correctness invariant is offset arithmetic this class owns: each
  * `enqueue` adds ONE message as one block, and MemoryStream offsets
  * START AT -1, so a committed [[LongOffset]] `k` means messages
  * `0..k` — `k + 1` of them — are safe to ack (an earlier revision
  * acked only `k` and permanently starved the newest message of its
  * ack, an endless redeliver-duplicate loop at ack_wait cadence).
  * Planning does not touch this: [[PushStream]] packs a micro-batch's
  * messages into at most one contiguous partition per core, but the
  * offsets it plans from still count one block per message.
  *
  * Timing boundary, stated: Spark invokes a source's `commit(end)` while
  * CONSTRUCTING the batch after the one that processed `end`, so acks
  * lag one micro-batch — and a stream that goes quiet leaves its tail
  * unacked until the next arrival or restart. That is exactly the
  * at-least-once shape: the broker's ack-timeout redelivers the unacked
  * tail, never loses it; downstream sinks stay idempotent-per-batchId
  * for consumer-side dedupe of redeliveries.
  *
  * Ack failures (connection closed mid-shutdown) are swallowed: the
  * broker redelivers the unacked message, which at-least-once permits.
  */
final class CommitAckStream[A: Encoder](spark: SparkSession,
    onStop: () => Unit = () => ())
  extends PushStream[A](spark, onStop) {

  private val lock = new Object
  private val unacked = new scala.collection.mutable.Queue[() => Unit]()
  private var ackedThrough = 0L

  /** Append one message and its ack action under ONE lock, so the
    * stream offset always counts exactly the actions queued. */
  def enqueue(row: A, ack: () => Unit): Unit = lock.synchronized {
    addData(row)
    unacked.enqueue(ack)
  }

  override def commit(end: Offset): Unit = {
    super.commit(end)
    val committedMessages = 1L + (end match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong // LongOffset json IS the number
    })
    lock.synchronized {
      while (ackedThrough < committedMessages && unacked.nonEmpty) {
        val ack = unacked.dequeue()
        try ack()
        catch { case _: java.io.IOException => () } // closed: broker redelivers
        ackedThrough += 1
      }
    }
  }
}
