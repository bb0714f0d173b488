package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MemoryStreamInputPartition, MemoryStreamTable}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

/** The driver-side queue behind every [[PushInput]]: the input appends
  * each received message with `addData`, as its own block, so offsets
  * still count one block per message.
  *
  * Planning is where it differs from a plain [[MemoryStream]], which
  * makes every block its own input partition: a micro-batch of 30
  * messages then ran 30 one-row tasks, and the sink job was most of the
  * micro-batch. Here the rows of all blocks in `[start, end)` are cut
  * into `min(rows, defaultParallelism)` contiguous partitions balanced
  * by row count — at most one task per core, none empty, and enqueue
  * order kept across the partitions (ArkFlow slices its batches by rows
  * the same way, `split_batch`). Spark's own `MemoryStream(numPartitions)`
  * is not used: it deals rows round-robin, which loses arrival order, and
  * plans empty partitions for micro-batches smaller than the count.
  *
  * `onStop` is the owner's `stop()`: see [[stop]].
  */
class PushStream[A: Encoder](spark: SparkSession, onStop: () => Unit = () => ())
  extends MemoryStream[A](PushStream.ids.getAndIncrement(), spark, None) {

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val rows = super.planInputPartitions(start, end).flatMap(
      _.asInstanceOf[MemoryStreamInputPartition].records)
    val parts = math.min(rows.length, spark.sparkContext.defaultParallelism)
    Array.tabulate[InputPartition](parts) { i =>
      new MemoryStreamInputPartition(rows.slice(
        (i.toLong * rows.length / parts).toInt,
        ((i + 1L) * rows.length / parts).toInt))
    }
  }

  /** Spark calls this on every source of a query when the query
    * terminates — `q.stop()`, `AvailableNow` completion or a failure —
    * from the query's own thread (`StreamExecution.stopSources`; a no-op
    * in `MemoryStream`). It runs the owner's `stop()`, so the connection
    * feeding this stream closes with the query that reads it. */
  override def stop(): Unit = onStop()
}

object PushStream {
  // one counter for every push stream, clear of MemoryStream.apply's own
  // small counter so ids never collide
  private val ids = new AtomicInteger(1 << 20)

  /** Stops every push stream `df` reads, which closes their inputs: for a
    * query that failed to start, whose sources Spark never stops. */
  def stopSources(df: DataFrame): Unit = df.queryExecution.logical
    .collect { case r: StreamingRelationV2 => r.table }
    .collect { case t: MemoryStreamTable => t.stream }
    .foreach { case p: PushStream[_] => p.stop(); case _ => () }
}

/** The one lifecycle of every connection-holding input — [[HttpInput]],
  * [[WebSocketInput]], [[Mqtt.MqttInput]], [[Nats.NatsInput]],
  * [[Nats.JetStreamInput]] and [[Pulsar.PulsarInput]]; each subclass holds
  * only its protocol code.
  *
  *  - Rows are the payload bytes as received, then the input's metadata
  *    strings: [[toDF]] is ArkFlow's raw-bytes envelope, a binary
  *    `__value__`, followed by one string column per name in `metaCols`. No
  *    payload passes through a `String`, so bytes that are not UTF-8 reach
  *    the codecs unchanged.
  *  - An [[AckingPushInput]] reads from a [[CommitAckStream]]: it pushes
  *    each payload with its ack action, and the action runs once the
  *    micro-batch holding it has committed.
  *  - An input reads its socket on one daemon thread that [[opened]]
  *    starts, or pushes from its own server's callbacks.
  *  - An input serves ONE query: the stream's `stop()` runs [[stop]], so
  *    the query that reads an input closes it when it terminates, and a
  *    second query over the same input reads nothing new.
  *  - [[stop]] is idempotent and closes the connection or server. From
  *    [[opened]] until [[stop]] the input is in [[PushInput.open]], which
  *    `Engine.closeConfigInputs` closes: inputs built but never started.
  */
abstract class PushInput(spark: SparkSession, metaCols: Seq[String] = Nil)
    extends AutoCloseable {

  protected implicit val rowEncoder: Encoder[Row] = Encoders.row(StructType(
    StructField(Codecs.ValueCol, BinaryType) +: metaCols.map(StructField(_, StringType))))
  private lazy val plain = new PushStream[Row](spark, () => stop())
  private val stopped = new AtomicBoolean(false)

  /** The stream [[toDF]] reads and [[push]] appends to. */
  protected def stream: PushStream[Row] = plain

  /** Closes the input's socket or server; runs once, from [[stop]]. */
  protected def disconnect(): Unit

  /** Called last by a subclass constructor, once its connection is up:
    * registers the input as open. */
  protected final def opened(): Unit = {
    stream // built on the constructing thread, before any reader pushes
    PushInput.open.add(this)
  }

  /** [[opened]], then runs `read` on a daemon thread named `reader`.
    * `read` returns, or throws an `IOException`, when the connection
    * closes. */
  protected final def opened(reader: String)(read: => Unit): Unit = {
    opened()
    val t = new Thread(() =>
      try read catch { case _: java.io.IOException => () }, reader)
    t.setDaemon(true)
    t.start()
  }

  /** Appends one message. */
  protected final def push(payload: Array[Byte], meta: String*): Unit =
    stream.addData(Row.fromSeq(payload +: meta))

  /** The streaming frame in the engine's binary-envelope shape. */
  def toDF: DataFrame = stream.toDF()

  /** Closes the connection or server, once; later calls do nothing. It
    * blocks no longer than that close, since Spark calls it on the
    * query's own thread. */
  def stop(): Unit = if (stopped.compareAndSet(false, true)) {
    PushInput.open.remove(this)
    disconnect()
  }

  def close(): Unit = stop()
}

object PushInput {
  /** Inputs between [[PushInput.opened]] and [[PushInput.stop]]. */
  private[streaming] val open = ConcurrentHashMap.newKeySet[PushInput]()
}

/** A [[PushInput]] whose broker acks wait for checkpoint commit: it
  * pushes each message through [[pushAcked]] with its ack action, which
  * its [[CommitAckStream]] runs once the micro-batch holding the message
  * has committed. */
abstract class AckingPushInput(spark: SparkSession, metaCols: Seq[String])
    extends PushInput(spark, metaCols) {

  private lazy val acking = new CommitAckStream[Row](spark, () => stop())

  override protected def stream: PushStream[Row] = acking

  /** Appends one message whose `ack` runs after its micro-batch commits. */
  protected final def pushAcked(ack: () => Unit, payload: Array[Byte],
      meta: String*): Unit =
    acking.enqueue(Row.fromSeq(payload +: meta), ack)
}
