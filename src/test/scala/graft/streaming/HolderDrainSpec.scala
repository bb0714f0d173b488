package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Rows a processor holds across batches — a rate_cap carry, an
  * accumulator's sub-threshold rows, an open session window — reach the
  * sink through the engine's one drain: at EOF of a one-shot run and when
  * a streaming query stops (the reference flushes its buffer at stream
  * end, stream/mod.rs:356-362).
  */
class HolderDrainSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Waits for the stop drain, which runs on the listener bus. */
  private def awaitRows(sink: Engine.MemorySink, n: Int): Unit = {
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (sink.rows.size < n && System.nanoTime() < deadline) Thread.sleep(100)
  }

  test("a one-shot run with a memory buffer whose capacity is not met writes " +
      "every row at EOF") {
    val base = tempDir("graft_drain_buf").toString
    (1L to 10L).toDF("id").write.parquet(s"$base/in")
    val conf = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: file
         |      format: parquet
         |      path: $base/in
         |    buffer:
         |      type: memory
         |      capacity: 1000
         |    output:
         |      type: parquet
         |      path: $base/out
         |""".stripMargin)
    assert(Engine.run(spark, conf).isEmpty, "a file input runs once, to EOF")
    val got = spark.read.parquet(s"$base/out").select("id").as[Long].collect().sorted
    assert(got.toSeq == (1L to 10L), s"held rows lost at EOF: ${got.toSeq}")
  }

  test("a rate_cap ahead of an accumulator drains through it at EOF: every " +
      "row once, nothing diverted") {
    val procs = Processors.fromConf(Seq(
      ComponentConf("rate_cap", Map("max_rows" -> "5")),
      ComponentConf("batch", Map("min_rows" -> "1000"))))
    val sink = new Engine.MemorySink
    val err = new Engine.MemorySink
    Engine.runBatch((1 to 12).toDF("x"), procs, sink, Some(err))
    assert(sink.rows.map(_.getInt(0)).sorted == (1 to 12))
    assert(err.rows.isEmpty, s"diverted: ${err.rows}")
  }

  test("a rate_cap ahead of a sliding window drains at EOF into full windows " +
      "only: the partial window is dropped, nothing throws or is diverted") {
    val procs = Processors.fromConf(Seq(ComponentConf("rate_cap", Map("max_rows" -> "2")))) ++
      Engine.bufferProcessors(Some(ComponentConf("sliding_window",
        Map("window_size" -> "2", "slide_size" -> "2"))))
    val sink = new Engine.MemorySink
    val err = new Engine.MemorySink
    // 5 rows: rate_cap releases 2, 2 and 1 rows; the first two releases
    // fill one window of 2 batches, the last stays a partial window
    val stderr = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(stderr, true))
    try Engine.runBatch((1 to 5).toDF("x"), procs, sink, Some(err))
    finally System.setErr(saved)
    assert(err.rows.isEmpty, s"diverted: ${err.rows}")
    assert(sink.batches.values.map(_.size).toSeq == Seq(4),
      s"writes: ${sink.batches.map { case (k, v) => k -> v.size }}")
    assert(sink.rows.map(_.getInt(0)).sorted == (1 to 4))
    assert(stderr.toString.linesIterator.count(_.startsWith("[engine] WARN drain")) == 1,
      stderr.toString)
  }

  test("stopping a stream drains the rate_cap carry into the sink under " +
      "negative ids, at most max_rows per id") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Int]
    val sink = new Engine.MemorySink
    val q = Engine.start(ms.toDF(), Seq(new Processors.RateCap(5)), sink,
      trigger = Trigger.ProcessingTime(0L))
    ms.addData(1 to 12)
    q.processAllAvailable()
    assert(sink.rows.size == 5, "the first trigger releases max_rows")
    q.stop()
    awaitRows(sink, 12)
    assert(sink.rows.map(_.getInt(0)).sorted == (1 to 12))
    val drained = sink.batches.filter(_._1 < 0L)
    assert(drained.values.map(_.size).sum == 7 && drained.values.forall(_.size <= 5),
      s"stop drain releases: ${sink.batches.map { case (k, v) => k -> v.size }}")
  }

  test("stopping a stream drains an in-memory accumulator's sub-threshold rows") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Int]
    val sink = new Engine.MemorySink
    val q = Engine.start(ms.toDF(), Seq(new Processors.BatchAccumulator(minRows = 100)),
      sink, trigger = Trigger.ProcessingTime(0L))
    ms.addData(1, 2, 3)
    q.processAllAvailable()
    assert(sink.rows.isEmpty, "below min_rows: held")
    q.stop()
    awaitRows(sink, 3)
    assert(sink.rows.map(_.getInt(0)).sorted == Seq(1, 2, 3))
    assert(sink.batches.keys.forall(_ < 0L))
  }
}
