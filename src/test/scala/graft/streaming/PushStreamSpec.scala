package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[PushStream]] planning, driven through `Engine.start`: a micro-batch
  * runs at most one partition per core, contiguous and in enqueue order,
  * while offsets (and [[CommitAckStream]]'s acks) still count messages. */
class PushStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Each micro-batch's rows as (partition id, value), in partition order. */
  private final class PartitionSink extends Engine.BatchSink {
    val batches = new ConcurrentLinkedQueue[Seq[(Int, Long)]]()
    def write(batch: DataFrame, batchId: Long): Unit =
      batches.add(batch.select(spark_partition_id(), col("value"))
        .as[(Int, Long)].collect().toSeq)
  }

  private def runOnce(stream: PushStream[Long]): Seq[Seq[(Int, Long)]] = {
    val sink = new PartitionSink
    val q = Engine.start(stream.toDF(), Nil, sink)
    try q.awaitTermination() finally q.stop()
    sink.batches.asScala.toSeq
  }

  test("37 single-message blocks plan min(37, cores) contiguous partitions " +
      "in enqueue order") {
    val stream = new PushStream[Long](spark)
    (0L until 37L).foreach(i => stream.addData(i))
    val Seq(batch) = runOnce(stream)
    val parts = math.min(37, spark.sparkContext.defaultParallelism)
    assert(batch.map(_._2) == (0L until 37L))
    val sizes = batch.groupBy(_._1).map { case (p, rows) => p -> rows.size }
    assert(sizes.keySet == (0 until parts).toSet) // none empty
    assert(sizes.values.max - sizes.values.min <= 1) // balanced by rows
    assert(batch.map(_._1) == batch.map(_._1).sorted) // contiguous
  }

  test("a one-message micro-batch plans one partition") {
    val stream = new PushStream[Long](spark)
    stream.addData(7L)
    assert(runOnce(stream) == Seq(Seq((0, 7L))))
  }

  test("CommitAckStream acks every message of a micro-batch packed into " +
      "fewer partitions, the newest included") {
    val acked = new ConcurrentLinkedQueue[Int]()
    val stream = new CommitAckStream[Long](spark)
    val n = 3 * spark.sparkContext.defaultParallelism + 1
    (0 until n).foreach(i => stream.enqueue(i.toLong, () => acked.add(i)))
    val sink = new PartitionSink
    val q = Engine.start(stream.toDF(), Nil, sink,
      trigger = Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      // the source commit of a batch rides the construction of the next
      stream.enqueue(n.toLong, () => acked.add(n))
      q.processAllAvailable()
    } finally q.stop()
    val first = sink.batches.asScala.head
    assert(first.map(_._2) == (0L until n.toLong))
    assert(first.map(_._1).distinct.size == spark.sparkContext.defaultParallelism)
    assert(acked.asScala.toSeq.take(n) == (0 until n))
  }
}
