package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MemoryStreamInputPartition}

/** The driver-side queue behind every push input — [[HttpInput]],
  * [[WebSocketInput]], [[Mqtt.MqttInput]], [[Nats.NatsInput]] and, through
  * [[CommitAckStream]], Pulsar and NATS JetStream: the reader appends each
  * received message with `addData`, as its own block, so offsets still
  * count one block per message.
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
  */
class PushStream[A: Encoder](spark: SparkSession)
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
}

object PushStream {
  // one counter for every push stream, clear of MemoryStream.apply's own
  // small counter so ids never collide
  private val ids = new AtomicInteger(1 << 20)
}
