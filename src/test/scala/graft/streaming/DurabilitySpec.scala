package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Durability + registry-codec specs: the checkpoint IS the WAL
  * (SURVEY.md §4 WAL row — offsets/commits replace redb/S3 segments),
  * and the Confluent wire-format codec with a cached resolver
  * (codec/schema_registry.rs).
  */
class DurabilitySpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("checkpoint recovery: restart resumes after processed offsets (WAL equivalence)") {
    val base = tempDir("graft_ckpt").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(in)
    def stream = spark.readStream.schema(schema).parquet(in)

    val sink1 = new Engine.MemorySink
    val q1 = Engine.start(stream, Seq(), sink1, checkpoint = Some(ckpt))
    q1.processAllAvailable(); q1.stop()
    assert(sink1.rows.map(_.getLong(0)).toSet == Set(1L, 2L))

    // second run, same checkpoint: only files added after the stop replay
    Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v").write.mode("append").parquet(in)
    val sink2 = new Engine.MemorySink
    val q2 = Engine.start(stream, Seq(), sink2, checkpoint = Some(ckpt))
    q2.processAllAvailable(); q2.stop()
    assert(sink2.rows.map(_.getLong(0)).toSet == Set(3L, 4L, 5L),
      s"recovery must not reprocess acked offsets, got ${sink2.rows}")
  }

  test("ingest-dedup state survives restart: a duplicate arriving after recovery is dropped") {
    // dropDuplicatesWithinWatermark keeps its seen-keys in the state
    // store, which lives in the CHECKPOINT — so the corpus dedup
    // guarantee holds across engine restarts, the property the
    // reference's WAL provides for its pipeline state.
    val base = tempDir("graft_dedup_ckpt").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(StructField("text", StringType), StructField("ts", LongType)))
    def stream = spark.readStream.schema(schema).parquet(in)
      .withColumn("event_time", timestamp_seconds(col("ts")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("text")

    Seq(("alpha", 100L), ("beta", 101L)).toDF("text", "ts")
      .write.mode("append").parquet(in)
    val sink1 = new Engine.MemorySink
    val q1 = Engine.start(stream, Seq(), sink1, checkpoint = Some(ckpt))
    q1.processAllAvailable(); q1.stop()
    assert(sink1.rows.map(_.getString(0)).sorted == Seq("alpha", "beta"))

    // restart from the same checkpoint; 'alpha' was seen BEFORE the stop
    Seq(("alpha", 102L), ("gamma", 103L)).toDF("text", "ts")
      .write.mode("append").parquet(in)
    val sink2 = new Engine.MemorySink
    val q2 = Engine.start(stream, Seq(), sink2, checkpoint = Some(ckpt))
    q2.processAllAvailable(); q2.stop()
    assert(sink2.rows.map(_.getString(0)).toSeq == Seq("gamma"),
      s"pre-restart duplicate leaked through: ${sink2.rows.map(_.getString(0))}")
  }

  private val sensorFields = Seq(ProtoField(1, "timestamp", "int64"),
    ProtoField(2, "value", "double"), ProtoField(3, "sensor", "string"))
  private val otherFields = Seq(ProtoField(1, "id", "int64"), ProtoField(2, "name", "string"))

  test("schema-registry wire codec decodes per-id with a cached resolver") {
    // produce framed messages for two schema ids via the native encoder
    val enc1 = Processors.ArrowToProtobuf(sensorFields)(
      Seq((7L, 1.5, "s1")).toDF("timestamp", "value", "sensor"))
      .collect().head.getAs[Array[Byte]](0)
    val enc2 = Processors.ArrowToProtobuf(otherFields)(
      Seq((9L, "x")).toDF("id", "name")).collect().head.getAs[Array[Byte]](0)
    val batch = Seq(
      SchemaRegistry.frame(1, enc1),
      SchemaRegistry.frame(2, enc2),
      SchemaRegistry.frame(1, enc1)
    ).toDF(Codecs.ValueCol)

    val resolver = new SchemaRegistry.CachingResolver({
      case 1 => sensorFields
      case 2 => otherFields
      case other => throw new IllegalArgumentException(s"unknown schema $other")
    })
    val out = SchemaRegistry.decodeBatch(batch, resolver)
    assert(out.count() == 3)
    assert(resolver.misses == 2) // id 1 resolved once despite two messages
    val sensors = out.filter(col("__schema_id") === 1)
      .select("timestamp", "value", "sensor").collect()
    assert(sensors.forall(r => r.getLong(0) == 7L && r.getDouble(1) == 1.5 && r.getString(2) == "s1"))
    assert(out.filter(col("__schema_id") === 2).select("name").as[String].collect().toSeq == Seq("x"))
  }

  test("schema-registry codec rejects a bad magic byte") {
    val bad = Seq(Array[Byte](1, 0, 0, 0, 1, 42)).toDF(Codecs.ValueCol)
    val resolver = new SchemaRegistry.CachingResolver(_ => sensorFields)
    intercept[IllegalArgumentException](SchemaRegistry.decodeBatch(bad, resolver))
  }

  test("checkpoint + jdbc sink: restart resumes without duplicating rows") {
    val base = tempDir("graft_jdbc_ckpt").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"
    val url = s"jdbc:derby:$base/db;create=true"
    Jdbc.execute(url, """CREATE TABLE sunk ("id" BIGINT, "batch_id" BIGINT)""")
    val schema = StructType(Seq(StructField("id", LongType)))
    def stream = spark.readStream.schema(schema).parquet(in)
    val sink = Jdbc.JdbcSink(url, "sunk")

    Seq(1L, 2L).toDF("id").write.mode("append").parquet(in)
    val q1 = Engine.start(stream, Seq(), sink, checkpoint = Some(ckpt))
    q1.processAllAvailable(); q1.stop()

    Seq(3L).toDF("id").write.mode("append").parquet(in)
    val q2 = Engine.start(stream, Seq(), sink, checkpoint = Some(ckpt))
    q2.processAllAvailable(); q2.stop()

    val rows = Jdbc.read(spark, Map("url" -> url,
      "select_sql" -> """SELECT "id" FROM sunk""")).as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L),
      s"restart must neither lose nor duplicate, got ${rows.toSeq}")
  }

  test("parquet sink is idempotent per batchId (replay overwrites, not duplicates)") {
    val path = tempDir("graft_psink").toString + "/out"
    val sink = Engine.ParquetSink(path)
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L)
    sink.write(Seq((3L, "c")).toDF("id", "v"), batchId = 1L)
    // replay batch 0 (restart between sink write and checkpoint commit)
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L)
    val rows = spark.read.parquet(path).select("id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"got ${rows.toSeq}")
  }

  test("batch accumulator releases only once minRows are pending (processor/batch.rs)") {
    val acc = new Processors.BatchAccumulator(minRows = 3)
    val out1 = acc(Seq(1, 2).toDF("x"))
    assert(out1.count() == 0) // below threshold: held back
    val out2 = acc(Seq(3, 4).toDF("x"))
    assert(out2.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4)) // flushed
    val out3 = acc(Seq(5).toDF("x"))
    assert(out3.count() == 0) // accumulation restarted
  }

  test("batch accumulator flushes on estimated byte size (processor/batch.rs byte limit)") {
    // IntegerType defaultSize = 4 bytes -> 2-row batches estimate 8 bytes
    val acc = new Processors.BatchAccumulator(minRows = Long.MaxValue, maxBytes = 12L)
    assert(acc(Seq(1, 2).toDF("x")).count() == 0) // 8 < 12: held
    val out = acc(Seq(3, 4).toDF("x")) // 16 >= 12: flush all pending
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("batch accumulator flushes on wall-clock interval (processor/batch.rs timer)") {
    val acc = new Processors.BatchAccumulator(
      minRows = Long.MaxValue, maxIntervalMs = 300L)
    assert(acc(Seq(1).toDF("x")).count() == 0) // fresh: held
    Thread.sleep(400)
    val out = acc(Seq(2).toDF("x")) // age exceeded at the next batch boundary
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("engine restart with a staged buffer loses no sub-threshold rows") {
    val base = tempDir("graft_buf_ckpt").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val stage = s"$base/stage"
    val out = s"$base/out"
    val schema = StructType(Seq(StructField("id", LongType)))
    def stream = spark.readStream.schema(schema).parquet(in)
    def engineRun(): Unit = {
      // a FRESH accumulator each run = a process restart; pending rows
      // must come back from the staging dir, not driver memory
      val q = Engine.start(stream,
        Seq(new Processors.BatchAccumulator(minRows = 3, staging = Some(stage))),
        Engine.ParquetSink(out), checkpoint = Some(ckpt))
      q.processAllAvailable(); q.stop()
    }
    Seq(1L, 2L).toDF("id").write.mode("append").parquet(in)
    engineRun() // 2 rows staged, below threshold -> nothing written
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).count() == 0)
    Seq(3L, 4L).toDF("id").write.mode("append").parquet(in)
    engineRun() // restart: staged 2 + new 2 >= 3 -> flush all four
    val rows = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L),
      s"restart dropped sub-threshold rows: ${rows.toSeq}")
  }

  test("staged batch accumulator survives restart and dedupes replayed batches") {
    val path = tempDir("graft_acc").toString + "/stage"
    val acc1 = new Processors.BatchAccumulator(minRows = 3, staging = Some(path))
    assert(acc1(Seq(1, 2).toDF("x"), batchId = 0L).count() == 0) // staged, held
    // "restart": a fresh accumulator over the same staging path must still
    // see batch 0's rows (the round-1 in-memory version lost them)
    val acc2 = new Processors.BatchAccumulator(minRows = 3, staging = Some(path))
    val out = acc2(Seq(3, 4).toDF("x"), batchId = 1L)
    assert(out.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    // replay of an already-flushed batch re-stages idempotently and emits
    // nothing new (downstream idempotent sinks keep the original write)
    val acc3 = new Processors.BatchAccumulator(minRows = 3, staging = Some(path))
    assert(acc3(Seq(3, 4).toDF("x"), batchId = 1L).count() == 0)
  }

  /** Count Spark jobs submitted while `f` runs (any thread). */
  private def countJobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(300) } // let the listener bus drain
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("staged accumulator flush checks are metadata-only: no data re-read per batch") {
    val base = tempDir("graft_acc_o1").toString
    val acc = new Processors.BatchAccumulator(minRows = 100, staging = Some(s"$base/stage"))
    def batchDf(ids: Int*) = ids.toDF("x")
    // baseline: the SAME dynamic-overwrite partitioned write, alone
    val baseline = countJobs {
      batchDf(1, 2).withColumn("__acc_batch", lit(99L))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__acc_batch").parquet(s"$base/baseline")
    }
    // each sub-threshold batch must cost exactly the staging write — the
    // pending row count comes from parquet FOOTERS (cached), never from a
    // Spark job re-reading every pending partition (the round-2 shape was
    // O(pending) data reads per batch)
    val first = countJobs(acc(batchDf(1, 2), batchId = 0L))
    val second = countJobs(acc(batchDf(3, 4), batchId = 1L))
    val tenth = countJobs(acc(batchDf(5, 6), batchId = 2L))
    assert(first == baseline, s"batch 0 launched $first jobs vs write-only $baseline")
    assert(second == baseline, s"batch 1 launched $second jobs vs write-only $baseline")
    assert(tenth == baseline, s"batch 2 launched $tenth jobs vs write-only $baseline")
    // a fresh accumulator over the same dir (restart) re-reads footers,
    // still without a Spark job
    val acc2 = new Processors.BatchAccumulator(minRows = 100, staging = Some(s"$base/stage"))
    val afterRestart = countJobs(acc2(batchDf(7, 8), batchId = 3L))
    assert(afterRestart == baseline,
      s"restart flush check launched $afterRestart jobs vs write-only $baseline")
    // the data is read exactly once: at flush
    val flushed = new Processors.BatchAccumulator(minRows = 1, staging = Some(s"$base/stage"))(
      batchDf(9), batchId = 4L)
    assert(flushed.as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 5, 6, 7, 8, 9))
  }

  test("held-back batches short-circuit the remaining pipeline (no spurious agg rows)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Int]
    val sink = new Engine.MemorySink
    // accumulator FOLLOWED BY an aggregating sql: a held-back empty frame
    // fed into count(*) would emit a count=0 row — the reference's `None`
    // short-circuits the rest of the pipeline instead (pipeline/mod.rs).
    val q = Engine.start(ms.toDF(),
      Seq(new Processors.BatchAccumulator(minRows = 3),
        Processors.SqlProcessor("SELECT count(*) AS n FROM flow")),
      sink,
      // AvailableNow would stop after the first round; accumulation needs
      // the query alive across both addData rounds
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    ms.addData(1, 2) // below threshold: held back
    q.processAllAvailable()
    assert(sink.rows.isEmpty, s"held-back batch leaked through the agg: ${sink.rows}")
    ms.addData(3) // 2 pending + 1 >= 3: flush
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(_.getLong(0)) == Seq(3L))
  }

  test("no per-micro-batch emptiness probe job (static detection only)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Int]
    val sink = new Engine.MemorySink
    val q = Engine.start(ms.toDF(), Seq(), sink)
    ms.addData(1, 2, 3)
    val jobs = countJobs(q.processAllAvailable())
    q.stop()
    assert(sink.rows.map(_.getInt(0)).sorted == Seq(1, 2, 3))
    // exactly the sink's collect job — the round-2 shape launched an extra
    // batch.isEmpty probe job before every pipeline run
    assert(jobs <= 1, s"micro-batch launched $jobs jobs; expected just the sink collect")
  }

  test("durability: block → checkpoint mapping (unit): precedence and branches") {
    def stream(inputOpts: Map[String, String], dur: Map[String, String]) =
      StreamConf(ComponentConf("generate", inputOpts), Nil,
        ComponentConf("stdout", Map.empty), None, None, durability = dur)
    // no durability block, no input checkpoint → nothing
    assert(Engine.resolvedCheckpoint(stream(Map.empty, Map.empty), "s1").isEmpty)
    // durability.path flows through
    assert(Engine.resolvedCheckpoint(
      stream(Map.empty, Map("enabled" -> "true", "path" -> "/tmp/wal")), "s1")
      .contains("/tmp/wal"))
    // enabled: false disables without removing the block (wal/mod.rs:79-82)
    assert(Engine.resolvedCheckpoint(
      stream(Map.empty, Map("enabled" -> "false", "path" -> "/tmp/wal")), "s1").isEmpty)
    // the input's own `checkpoint` option WINS over the durability block
    assert(Engine.resolvedCheckpoint(
      stream(Map("checkpoint" -> "/tmp/input-ckpt"),
        Map("enabled" -> "true", "path" -> "/tmp/wal")), "s1")
      .contains("/tmp/input-ckpt"))
    // enabled without path: deterministic per-stream default, never a
    // silent downgrade to non-durable (the reference's WAL also opens at
    // a default path, wal/mod.rs:72-74)
    assert(Engine.resolvedCheckpoint(
      stream(Map.empty, Map("enabled" -> "true")), "s1")
      .contains("./data/wal/s1"))
    // sync/compression accepted (noticed), path still honored
    assert(Engine.resolvedCheckpoint(
      stream(Map.empty, Map("path" -> "/tmp/wal", "sync" -> "group_commit",
        "compression" -> "zstd")), "s1").contains("/tmp/wal"))
  }

  test("durability_example.yaml end-to-end: run, stop, RESTART — the stream " +
      "resumes from the durability.path offsets (stream/mod.rs WAL " +
      "read-log/ack contract)") {
    // the reference example parses VERBATIM and carries the WalConfig shape
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/durability_example.yaml")), "UTF-8")
    val conf = Config.fromYaml(text)
    val s0 = conf.streams.head
    assert(s0.durability.get("enabled").contains("true"))
    assert(s0.durability.get("path").contains("./data/wal"))
    assert(s0.durability.get("sync").contains("group_commit"))
    assert(s0.input.kind == "generate")

    // Drive it with the minimal sandbox mutations (same policy as the
    // redis example's port rewrite): durability.path → a temp dir, the
    // stdout output → an observable parquet sink, and the input's `count`
    // dropped — generate-with-count is one-shot batch semantics in this
    // engine (input/generate.rs EOF), and resume-from-offset is only
    // meaningful for an unbounded stream.
    val base = tempDir("graft_dur_e2e").toString
    val wal = s"$base/wal"; val out = s"$base/out"
    val s = s0.copy(
      input = s0.input.copy(options =
        s0.input.options - "count" + ("rows_per_second" -> "50")),
      durability = s0.durability + ("path" -> wal),
      output = ComponentConf("parquet", Map("path" -> out)))

    def commits(): Seq[Long] = {
      val d = new java.io.File(s"$wal/commits")
      Option(d.listFiles()).getOrElse(Array.empty).map(_.getName)
        .filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq
    }
    def lastRateOffset(): Long = {
      // offsets/<n> last line is the rate source's committed offset json
      val d = new java.io.File(s"$wal/offsets")
      val latest = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      val lines = java.nio.file.Files.readAllLines(latest.toPath)
      lines.get(lines.size - 1).trim.toLong
    }

    // run 1: let a few micro-batches commit, then stop
    val q1 = Engine.runStream(spark, s, "durability_e2e").get
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (commits().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally q1.stop()
    val run1 = commits()
    assert(run1.nonEmpty, "first run committed no batch into durability.path")
    val off1 = lastRateOffset()

    // run 2, SAME config: must resume from the durability.path checkpoint —
    // batch ids continue past run 1's (a from-scratch query restarts at 0
    // in a fresh location; continuation in place proves the WAL mapping)
    val q2 = Engine.runStream(spark, s, "durability_e2e").get
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (commits().lastOption.forall(_ <= run1.last) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q2.stop()
    val run2 = commits()
    assert(run2.last > run1.last,
      s"restart did not resume: run1 last=${run1.last}, run2=$run2")
    assert(run2.startsWith(run1), "restart must keep, not rewrite, the committed log")
    // and the SOURCE offset moved monotonically forward across the restart
    assert(lastRateOffset() >= off1,
      "rate-source offset went backwards across restart — not resumed from the WAL")
  }

  test("weighted percentile matches hand computation") {
    graft.functions.WeightedPercentile.register(spark, Seq(0.5))
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 10.0), (4.0, 1.0))
      .toDF("v", "w")
    df.createOrReplaceTempView("wp_t")
    // total weight 13, target 6.5 -> cumulative reaches 6.5 at v=3
    val got = spark.sql("SELECT weighted_percentile_50(v, w) AS p FROM wp_t")
      .as[Double].collect().head
    assert(got == 3.0)
  }
}
