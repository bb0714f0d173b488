package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.BinaryType

/** The stream engine (SURVEY.md §3.1): wires
  * `input → [buffer] → pipeline → output (+ error_output)` onto
  * Structured Streaming. Where the reference hand-builds ordering,
  * WAL durability and backpressure (stream/mod.rs:117-225), Spark's
  * micro-batch runtime already provides all three: batchIds are totally
  * ordered, the checkpoint is the WAL (offsets + commits), and trigger
  * pacing + maxOffsetsPerTrigger is the backpressure valve. The engine's
  * own job is config resolution and per-batch pipeline execution.
  */
object Engine {

  /** One batch-write target; implementations must be idempotent per
    * (batchId) for end-to-end exactly-once (the reference's
    * "one write_batch = one transaction", core output/mod.rs:41-47). */
  trait BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit
  }

  /** Publishes each row of `batch` as a message: the key is `keyExpr`
    * cast to a string, the payload is `valueExpr` as bytes. A binary value
    * goes out as it is, any other value as the UTF-8 bytes of its text
    * (ANSI mode casts no number, boolean or date to binary, and without
    * it an integer would go out as raw big-endian bytes). Executor-side:
    * each non-empty partition opens one `connect()`, sends every row
    * through `send(conn)` and closes the connection. */
  def publish[C <: AutoCloseable](batch: DataFrame, keyExpr: String,
      valueExpr: String)(connect: () => C)(
      send: C => (String, Array[Byte]) => Unit): Unit = {
    val kv = batch.selectExpr(s"CAST(($keyExpr) AS STRING) AS k",
      s"($valueExpr) AS v")
    (if (kv.schema("v").dataType == BinaryType) kv
     else kv.selectExpr("k", "CAST(CAST(v AS STRING) AS BINARY) AS v"))
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val conn = connect()
          val sendOne = send(conn)
          try rows.foreach(r => sendOne(r.getString(0), r.getAs[Array[Byte]](1)))
          finally conn.close()
        }
      }
  }

  /** Processors that need the micro-batch id (e.g. idempotent cross-batch
    * staging) implement this richer shape; the engine passes the
    * foreachBatch batchId instead of calling the plain transform. */
  trait BatchIdAware {
    def apply(batch: DataFrame, batchId: Long): DataFrame
  }

  /** Processors that hold rows across batches (rate_cap's carry, an
    * in-memory accumulator's pending rows, an open session window): the
    * engine empties them through one [[drain]] at EOF and at stop
    * without naming their classes. `drain()` returns held rows and
    * removes them from the processor, None when nothing is held; each
    * call returns None or strictly shrinks what is held, so draining
    * until None ends. `written()` runs after the sink has written a
    * batch. */
  private[streaming] trait RowHolder {
    def drain(): Option[DataFrame]
    def written(): Unit = ()
  }

  /** Idempotent per batchId: each batch lands in its own batch_id=N
    * partition with dynamic overwrite, so a replayed batch (restart
    * between sink write and checkpoint commit) overwrites itself instead
    * of duplicating — checkpoint + idempotent sink = exactly-once.
    */
  final case class ParquetSink(path: String) extends BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit =
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
  }
  final case class ConsoleSink(numRows: Int = 20) extends BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit =
      batch.show(numRows, truncate = false)
  }
  /** Collects to driver-side memory — test/debug only. */
  final class MemorySink extends BatchSink {
    val batches = new scala.collection.concurrent.TrieMap[Long, Seq[org.apache.spark.sql.Row]]()
    def write(batch: DataFrame, batchId: Long): Unit =
      batches.put(batchId, batch.collect().toSeq)
    def rows: Seq[org.apache.spark.sql.Row] = batches.toSeq.sortBy(_._1).flatMap(_._2)
  }
  case object NoopSink extends BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit = {
      batch.write.format("noop").mode("overwrite").save()
    }
  }

  /** Pure mapping of reference kafka output options (output/kafka.rs:63-85)
    * to Spark kafka sink options — unit-testable without a broker.
    *
    * EOS boundary: the reference's `exactly_once` wraps each batch in a
    * producer transaction fenced by a stable transactional_id
    * (output/kafka.rs:293-399). Spark's kafka writer cannot take that
    * route: it never calls `initTransactions()`/`beginTransaction()`, so a
    * producer configured with `transactional.id` throws
    * `IllegalStateException` on the first `send()` — and one shared id
    * across parallel writer tasks would fence sibling producers anyway.
    * `exactly_once` therefore maps to `enable.idempotence` (per-producer,
    * per-partition dedupe at the broker) and the engine-level guarantee
    * every sink here uses: checkpointed batchIds + idempotent replay —
    * [[KafkaSink]] stamps each record with a `batch_id` header and a
    * replayed batch re-produces identical (topic, batch_id) records for
    * consumer-side dedupe. The broker-fenced transactional route DOES
    * exist since round 7 — `exactly_once: transactional` selects
    * [[TransactionalKafkaSink]], the hand-rolled per-partition
    * transactional producer with per-task fenced ids. On this default
    * idempotent path, `transactional_id` is accepted (config
    * compatibility with reference yaml) but never passed to the
    * producer — a WARN says so at config resolution.
    *
    * `brokers` is a list or a comma string. `topic` is a bare string or
    * an `Expr<String>` object read through [[Config.expr]]: a value topic
    * is the static `topic` option, an expr topic (like `topic_expr`)
    * routes per row through [[kafkaRecords]]' `topic` column and sets no
    * static topic.
    */
  def kafkaSinkOptions(o: Map[String, String]): Map[String, String] = {
    // a per-row topic routes via the projected `topic` column instead of
    // a static topic option
    val topic =
      if (kafkaTopicExpr(o).nonEmpty) Map.empty
      else Config.expr(o, "topic") match {
        case Some(Left(t)) => Map("topic" -> t)
        case _ => throw new IllegalArgumentException("kafka output needs a topic")
      }
    val producer = Seq("acks" -> "kafka.acks", "compression" -> "kafka.compression.type",
      "client_id" -> "kafka.client.id").flatMap { case (k, p) => o.get(k).map(p -> _) }
    val base = Map("kafka.bootstrap.servers" -> kafkaBrokers(o)) ++ topic ++ producer
    if (o.get("exactly_once").contains("true"))
      base + ("kafka.enable.idempotence" -> "true") + ("kafka.acks" -> "all")
    else base
  }

  /** `brokers` (a list or a comma string) as one bootstrap string. */
  private def kafkaBrokers(o: Map[String, String]): String =
    Some(Config.list(o, "brokers")).filter(_.nonEmpty)
      .fold("localhost:9092")(_.mkString(","))

  /** The kafka output's per-row topic: `topic_expr`, or a `topic:
    * {type: expr, expr: …}` object (the reference's `Expr<String>`). */
  private def kafkaTopicExpr(o: Map[String, String]): Option[String] =
    o.get("topic_expr").orElse(Config.expr(o, "topic").flatMap(_.toOption))

  /** The kafka output's record key: a bare `key` or a `{type: expr}`
    * object is a SQL expression over the row, a `{type: value}` object a
    * constant. */
  private def kafkaKey(o: Map[String, String]): Option[org.apache.spark.sql.Column] =
    Config.expr(o, "key", bare = Right(_)).map(_.fold(lit(_), expr(_)))

  /** The kafka sink's record projection, split out so the shape is
    * unit-testable without a broker: key/value columns, the batch_id
    * header, and — for a per-row topic (`topic_expr` or an expr-typed
    * `Expr<String>` topic, output/kafka.rs:63-70) — a `topic` column,
    * which Spark's kafka writer routes by in place of the static `topic`
    * option. */
  def kafkaRecords(batch: DataFrame, options: Map[String, String],
      batchId: Long): DataFrame = {
    val valueField = options.getOrElse("value_field", Codecs.ValueCol)
    // topic/key expressions evaluate against the FULL input row, before
    // the projection narrows it to the producer-record shape
    val cols =
      kafkaKey(options).map(_.cast("string").as("key")).toSeq ++
      Seq(col(valueField).cast("binary").as("value")) ++
      kafkaTopicExpr(options).map(t => expr(t).cast("string").as("topic")).toSeq
    batch.select(cols: _*)
      .withColumn("headers", array(struct(lit("batch_id").as("key"),
        lit(batchId.toString).cast("binary").as("value"))))
  }

  /** kafka output (output/kafka.rs:44-90): key/value projection + producer
    * options; the micro-batch id rides as a record header so replayed
    * batches are consumer-dedupable (see [[kafkaSinkOptions]]). `topic`
    * and `key` take the reference's `Expr<String>` objects as well as
    * bare strings (a bare `key` is a SQL expression). */
  final case class KafkaSink(options: Map[String, String]) extends BatchSink {
    // ONE warning at sink construction (config resolution), not one per
    // micro-batch: the yaml user who set a transactional id must learn
    // it is not being used on this idempotent path (see the EOS
    // boundary note at kafkaSinkOptions; TransactionalKafkaSink is the
    // broker-fenced route)
    if (options.contains("transactional_id"))
      System.err.println("[engine] WARN kafka output: 'transactional_id' is accepted " +
        "for config compatibility but Spark's kafka writer cannot run broker-fenced " +
        "transactions - using idempotence + batch_id-header replay-dedupe instead " +
        "(set exactly_once: transactional for the hand-rolled transactional producer)")
    // resolved at build, so a missing or malformed topic fails config
    // resolution instead of every micro-batch
    private val sinkOptions = kafkaSinkOptions(options)
    def write(batch: DataFrame, batchId: Long): Unit = {
      kafkaRecords(batch, options, batchId)
        .write.format("kafka")
        .options(sinkOptions)
        .option("includeHeaders", "true")
        .save()
    }
  }

  /** The broker-fenced exactly-once kafka path (output/kafka.rs:293-399)
    * that [[kafkaSinkOptions]]' scaladoc rules out for Spark's own kafka
    * writer: a hand-rolled per-partition transactional producer over the
    * wire protocol ([[KafkaWire.TransactionalProducer]]). Each task uses
    * the STABLE transactional id `"<base>-p<partitionId>"`, so a task
    * retry re-runs InitProducerId, bumps the epoch broker-side, and
    * FENCES the zombie attempt; the batch then commits atomically —
    * `read_committed` consumers see all of a task's rows or none
    * (KafkaEosSpec injects a mid-batch failure to prove it). The
    * micro-batch id still rides as a record header, so the replay story
    * composes with the checkpoint exactly like [[KafkaSink]].
    * Partition routing: spark partition id modulo `num_partitions`
    * (default 1) — key-hash routing would need Metadata round-trips the
    * minimal client deliberately omits.
    */
  final case class TransactionalKafkaSink(options: Map[String, String])
      extends BatchSink {
    // fail at CONFIG time, not on the first micro-batch: the minimal
    // transactional client registers one static topic per transaction
    // (per-row topic_expr routing would need Metadata round-trips and
    // per-topic AddPartitionsToTxn bookkeeping it deliberately omits)
    require(kafkaTopicExpr(options).isEmpty,
      "kafka exactly_once: transactional does not support 'topic_expr' " +
        "(per-row topics) - use the default idempotent path for expression routing")
    private val staticTopic = Config.expr(options, "topic").flatMap(_.left.toOption)
    require(staticTopic.nonEmpty,
      "kafka exactly_once: transactional requires a static 'topic'")
    def write(batch: DataFrame, batchId: Long): Unit = {
      val hostPort = Config.list(options, "brokers").headOption.getOrElse("localhost:9092")
      val host = hostPort.split(":").head
      val port = hostPort.split(":").lift(1).map(_.toInt).getOrElse(9092)
      val topic = staticTopic.get
      val txnBase = options.getOrElse("transactional_id", "graft-txn")
      val numParts = options.getOrElse("num_partitions", "1").toInt
      val valueField = options.getOrElse("value_field", Codecs.ValueCol)
      val keyed = batch.select(kafkaKey(options).getOrElse(lit(null)).cast("binary").as("key"),
        col(valueField).cast("binary").as("value"))
      keyed.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val producer = new KafkaWire.TransactionalProducer(
            host, port, s"$txnBase-p$pid")
          try {
            producer.initTransactions()
            producer.beginTransaction(topic, pid % numParts)
            rows.grouped(500).foreach { g =>
              producer.produce(topic, pid % numParts, g.map { r =>
                KafkaWire.ProducerRecord(r.getAs[Array[Byte]](0),
                  r.getAs[Array[Byte]](1),
                  Seq(KafkaWire.RecordHeader("batch_id",
                    batchId.toString.getBytes("UTF-8"))))
              }.toSeq)
            }
            producer.endTransaction(commit = true)
          } catch {
            case scala.util.control.NonFatal(e) =>
              // best effort: an unreachable broker aborts by txn timeout
              try producer.endTransaction(commit = false)
              catch { case scala.util.control.NonFatal(_) => () }
              throw e
          } finally producer.close()
        }
      }
    }
  }

  /** Output dispatch TABLE — kind → builder. The map (not a parallel
    * hand-maintained list) is the single source of truth for which output
    * kinds the engine accepts: ReferenceExamplesSpec asserts the
    * reference examples' kinds against `sinkBuilders.keySet`, so removing
    * an entry fails the spec. */
  val sinkBuilders: Map[String, ComponentConf => BatchSink] = Map(
    "parquet" -> (c => ParquetSink(c.options("path"))),
    "stdout" -> (c => ConsoleSink(c.options.getOrElse("num_rows", "20").toInt)),
    "drop" -> (_ => NoopSink),
    "memory" -> (_ => new MemorySink),
    "sql" -> (c => Jdbc.JdbcSink(c.options("url"), c.options("table"), c.options)),
    "http" -> (c => HttpOutputSink(c.options("url"), c.options.get("bearer_token"),
      c.options.getOrElse("rows_per_request", "1000").toInt,
      c.options.getOrElse("retry_count", "0").toInt)),
    "kafka" -> (c =>
      if (c.options.get("exactly_once").contains("transactional"))
        TransactionalKafkaSink(c.options)
      else KafkaSink(c.options)),
    "influxdb" -> (c => Influx.InfluxSink(c.options)),
    "redis" -> (c => Redis.RedisSink(c.options("host"),
      c.options.getOrElse("port", "6379").toInt,
      c.options.getOrElse("mode", "set"),
      c.options("key_expr"), c.options("value_expr"))),
    "nats" -> (c => Nats.NatsSink(c.options("host"),
      c.options.getOrElse("port", "4222").toInt,
      c.options("subject_expr"), c.options("value_expr"))),
    "mqtt" -> (c => Mqtt.MqttSink(c.options("host"),
      c.options.getOrElse("port", "1883").toInt,
      c.options("topic_expr"), c.options("value_expr"),
      c.options.getOrElse("qos", "0").toInt,
      c.options.get("username"), c.options.get("password"))),
    "mongodb" -> (c => Mongo.MongoSink(c.options)),
    "pulsar" -> (c => Pulsar.PulsarSink(c.options("service_url"),
      // a bare topic and a value topic are literals, an expr topic is SQL
      c.options.getOrElse("topic_expr", Config.expr(c.options, "topic") match {
        case Some(Left(t)) => "'" + t.replace("'", "\\'") + "'"
        case Some(Right(e)) => e
        case None => throw new IllegalArgumentException("pulsar output needs a topic")
      }),
      c.options.getOrElse("value_field", Codecs.ValueCol),
      Config.nested(c.options, "auth"))))

  def sinkFromConf(c: ComponentConf): BatchSink =
    sinkBuilders.getOrElse(c.kind,
      throw new IllegalArgumentException(s"unknown output: ${c.kind}"))(c)

  /** The explicit held-back marker a processor returns to short-circuit
    * the pipeline for this micro-batch (the reference's
    * `ProcessorResult::None`): a zero-COLUMN empty frame, so it can never
    * be confused with a legitimate result that merely computed (or was
    * optimizer-folded) to zero rows — every real result has columns. */
  def heldBackSentinel(spark: SparkSession): DataFrame = spark.emptyDataFrame

  /** Provably-zero-rows from the optimized plan alone — never a Spark job.
    * Used for the PRE-pipeline empty-micro-batch skip (what MemoryStream/
    * no-data triggers produce); frames that merely COMPUTE to zero rows
    * stay false and still write, like the reference's empty batches. */
  def staticallyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** The pipeline fold, with the held-back short-circuit: when ANY
    * processor returns the EXPLICIT held-back sentinel (the zero-column
    * empty frame from [[heldBackSentinel]] — the accumulator holding a
    * batch, or JsonToArrow's zero-row inference guard), the REMAINING
    * processors are skipped and the result is None, so the caller skips
    * the sink too — the reference's `None` short-circuits the whole
    * pipeline (pipeline/mod.rs:57-85); a downstream aggregate would
    * otherwise turn the empty frame into a spurious count=0 row. The
    * sentinel is detected by its zero-column SCHEMA, not by plan
    * emptiness: frames that merely COMPUTE to zero rows (even ones the
    * optimizer folds to an empty LocalRelation, as MemoryStream batches
    * are) still write, like the reference's empty batches — and the
    * check costs one analysis, never an optimizer pass per step.
    * [[BatchIdAware]] processors get `batchId` when one is given;
    * otherwise every processor runs through its plain apply. */
  private def fold(procs: Seq[Processors.BatchTransform], df: DataFrame,
      batchId: Option[Long] = None): Option[DataFrame] =
    procs.foldLeft(Option(df)) { (acc, p) =>
      acc.map(out => (p, batchId) match {
        case (b: BatchIdAware, Some(id)) => b(out, id)
        case _ => p(out)
      }).filter(_.schema.nonEmpty)
    }

  private def holders(procs: Seq[Processors.BatchTransform]): Seq[RowHolder] =
    procs.collect { case h: RowHolder => h }

  /** Empty every [[RowHolder]] in pipeline order (the reference's
    * buffer.flush() + final read at stream end, stream/mod.rs:356-362):
    * each drained frame folds through the processors DOWNSTREAM of its
    * holder and what comes out is written under the next id of `ids`.
    * A holder downstream of another catches the drained rows and gives
    * them up when the walk reaches it. A downstream processor that holds
    * the rows back but is no holder (a sliding window short of a full
    * window) keeps them, and what it still holds at close is dropped, as
    * the reference drops a partial window; each such release logs one
    * WARN. Every holder's `written()` runs once the walk is done. */
  private def drain(procs: Seq[Processors.BatchTransform], sink: BatchSink,
      ids: Iterator[Long]): Unit = {
    def release(rest: Seq[Processors.BatchTransform], df: DataFrame): Unit =
      rest match {
        case Seq() => sink.write(df, ids.next())
        case p +: tail => (fold(Seq(p), df), p) match {
          case (Some(out), _) => release(tail, out)
          case (None, _: RowHolder) => ()
          case _ => System.err.println(
            s"[engine] WARN drain: drained rows were held back by " +
              s"${p.getClass.getSimpleName}, which the engine cannot drain; what it " +
              "still holds at close is dropped (a partial sliding window is dropped " +
              "at close, as the reference does)")
        }
      }
    procs.zipWithIndex.foreach {
      case (h: RowHolder, i) =>
        Iterator.continually(h.drain()).takeWhile(_.nonEmpty).flatten
          .foreach(release(procs.drop(i + 1), _))
      case _ => ()
    }
    holders(procs).foreach(_.written())
  }

  /** A running stream: the pipeline folds over each micro-batch; a failed
    * batch routes whole to the error sink (stream/mod.rs:485-516
    * `ProcessorData::Err`) instead of killing the query. When the query
    * stops, the rows its processors still hold (a rate_cap carry, an
    * in-memory accumulator's pending rows, an open session window) are
    * drained into the sink under negative batch ids.
    */
  def start(
      input: DataFrame,
      processors: Seq[Processors.BatchTransform],
      sink: BatchSink,
      errorSink: Option[BatchSink] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None,
      queryName: Option[String] = None): StreamingQuery = {
    val held = holders(processors)
    var w = input.writeStream.trigger(trigger)
    checkpoint.foreach(p => w = w.option("checkpointLocation", p))
    queryName.foreach(n => w = w.queryName(n))
    val query = w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      try {
        // Statically-empty batch (optimizer-collapsed empty LocalRelation —
        // what MemoryStream/no-data triggers produce) = the reference's
        // `ProcessorResult::None`: skip the pipeline. Detected from the
        // plan only — no per-batch probe job; sources whose empty batches
        // aren't statically visible are handled by JsonToArrow's own
        // zero-row inference guard (Codecs.JsonCodec).
        if (!staticallyEmpty(batch)) {
          fold(processors, batch, Some(batchId)).foreach(sink.write(_, batchId))
          held.foreach(_.written())
        }
      } catch {
        // NonFatal only: data/processor failures divert to the error sink;
        // fatal VM errors and interrupts propagate so the stream fails and
        // Spark retries the batch instead of committing a silent skip.
        case scala.util.control.NonFatal(e) =>
          errorSink match {
            case Some(err) =>
              err.write(batch.withColumn("__error", lit(e.getMessage)), batchId)
            case None => throw e
          }
      }
    }.start()
    // Stop flush: rows a processor still holds would otherwise be dropped
    // when the query stops while their source offsets are already
    // checkpoint-committed — data loss with no replay. A listener drains
    // them through the DOWNSTREAM processors into the sink at
    // termination, under negative batch ids (no collision with any
    // micro-batch's id; idempotent sinks partition by id as usual).
    // Boundary, stated: a flush after an ERROR termination may emit rows
    // from a batch whose offsets never committed — at-least-once on the
    // held rows, vs the silent at-most-once of not flushing. (The
    // reference drops pending sessions at close — read() returns None
    // once cancelled, session_window.rs:120-125; this is strictly more
    // durable.)
    if (held.nonEmpty) {
      val spark = input.sparkSession
      // once-only guard: the terminated EVENT and the registration-time
      // catch-up check below can both observe the same termination — the
      // flush must run exactly once whichever wins
      val flushed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def flushOnce(): Unit = if (flushed.compareAndSet(false, true)) {
        try drain(processors, sink, Iterator.iterate(-1L)(_ - 1))
        catch {
          case scala.util.control.NonFatal(ex) =>
            System.err.println(
              s"[engine] drain at query stop failed: ${ex.getMessage}")
        }
      }
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            try flushOnce() finally spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      // Registration races `query.start()` above: a query that terminated
      // in that window already FIRED its QueryTerminatedEvent — nobody was
      // listening, so without this catch-up the pending session is dropped
      // and the listener leaks forever.
      if (!query.isActive) {
        flushOnce()
        spark.streams.removeListener(listener)
      }
    }
    query
  }

  /** Inputs (SURVEY.md §2.1). Streaming kinds return a streaming frame in
    * the reference's binary-envelope shape; `file`/`sql-over-file` are
    * batch scans with EOF semantics like the reference file input. */
  /** Input dispatch TABLE — kind → builder; the same single-source-of-
    * truth contract as [[sinkBuilders]] (ReferenceExamplesSpec asserts
    * against `inputBuilders.keySet`). */
  val inputBuilders: Map[String, (SparkSession, ComponentConf) => DataFrame] = Map(
    "generate" -> { (spark, c) =>
      // input/generate.rs:27-90 — context emitted per tick; with a total
      // `count` the reference EOFs after emitting it → batch semantics.
      c.options.get("count") match {
        case Some(n) =>
          spark.range(n.toLong).select(
            lit(c.options.getOrElse("context", "{}")).cast("binary").as(Codecs.ValueCol),
            current_timestamp().as("__meta_ingest_time"))
        case None =>
          val rate = spark.readStream.format("rate")
            .option("rowsPerSecond", c.options.getOrElse("rows_per_second", "10"))
            .load()
          rate.select(
            lit(c.options.getOrElse("context", "{}")).cast("binary").as(Codecs.ValueCol),
            col("timestamp").as("__meta_ingest_time"))
      }
    },
    "memory" -> { (spark, c) =>
      // input/memory.rs — a preloaded message list, EOF once drained
      // (batch semantics). The YAML `messages:` list only — a JSON message
      // holds commas, so a scalar is never split; each message is one
      // binary-envelope row, like the reference's MessageBatch-per-string.
      val msgs = Config.indexed(c.options, "messages")
      require(msgs.nonEmpty, "memory input needs a non-empty `messages:` list")
      import spark.implicits._
      msgs.toDF("s").select(
        col("s").cast("binary").as(Codecs.ValueCol),
        current_timestamp().as("__meta_ingest_time"))
    },
    "file" -> { (spark, c) =>
      // object-store config (file.rs:288-390 `store:` block) lands on the
      // Hadoop FS conf; the path scheme rewrites to the matching Hadoop
      // connector scheme (s3 -> s3a, az -> abfs)
      objectStoreConf(c.options).foreach { case (k, v) =>
        spark.sparkContext.hadoopConfiguration.set(k, v) }
      val path = objectStorePath(c.options("path"), c.options)
      val fmt = c.options.getOrElse("format", "parquet")
      val df = fmt match {
        case "avro" => AvroInput.read(spark, path)
        case "arrow" =>
          org.apache.spark.sql.GraftArrowPipe.readArrowFiles(spark, path)
        case _ =>
          val readerOpts = (c.options -- Seq("format", "path", "query"))
            .filter { case (k, _) =>
              !k.startsWith("store.") && !k.startsWith("codec.") }
          // plain parquet with no reader options: schema-cached read
          // (graft.Tables) — skips the per-pipeline one-task schema
          // inference job while the path's file listing is unchanged,
          // and infers again once it is rewritten. Any option could
          // change the inferred schema, so those fall through.
          if (fmt == "parquet" && readerOpts.isEmpty)
            graft.Tables.cachedParquet(spark, path)
          else spark.read.format(fmt).options(readerOpts).load(path)
      }
      c.options.get("query") match {
        case Some(q) =>
          Sql.bind(spark, Sql.parse(q),
            Map(c.options.getOrElse("table_name", "flow") -> df))
        case None => df
      }
    },
    "kafka" -> { (spark, c) =>
      spark.readStream.format("kafka").options(kafkaOptions(c.options)).load()
        .select(col("value").as(Codecs.ValueCol),
          col("topic").as("__meta_source"),
          col("partition").as("__meta_partition"),
          col("offset").as("__meta_offset"),
          col("key").as("__meta_key"),
          col("timestamp").as("__meta_timestamp"),
          current_timestamp().as("__meta_ingest_time"))
    },
    "sql" -> { (spark, c) =>
      // input/sql.rs:48-73 — one poll of select_sql, EOF semantics.
      Jdbc.read(spark, c.options)
    },
    "redis" -> { (spark, c) =>
      // input/redis.rs poll modes — one poll, EOF semantics.
      Redis.read(spark, c.options)
    },
    "modbus" -> { (spark, c) =>
      // input/modbus.rs — one register poll, columns per point.
      Modbus.read(spark, c.options)
    },
    "http" -> { (spark, c) =>
      // input/http.rs client mode — one endpoint poll, EOF semantics
      // (server mode is the programmatic HttpInput class).
      HttpPoll.read(spark, c.options)
    },
    // Connection-holding streaming inputs are [[PushInput]]s: each closes
    // when the query reading it stops, and [[closeConfigInputs]] closes
    // those that were built but never started.
    "mqtt" -> { (spark, c) =>
      // input/mqtt.rs:35-57 full option surface: qos 0/1/2,
      // clean_session, keep_alive (seconds), username/password
      new Mqtt.MqttInput(spark,
        c.options.getOrElse("host", "localhost"),
        c.options.getOrElse("port", "1883").toInt,
        mqttTopicFilter(c.options),
        c.options.getOrElse("client_id", "graft-in"),
        c.options.getOrElse("qos", "0").toInt,
        c.options.get("username"), c.options.get("password"),
        cleanSession = !c.options.get("clean_session").contains("false"),
        keepAliveSecs = c.options.getOrElse("keep_alive", "60").toInt).toDF
    },
    "nats" -> { (spark, c) =>
      // input/nats.rs:38-62 modes: Regular{subject, queue_group} or
      // JetStream{stream, consumer_name/durable_name}; auth 65-75
      val host = c.options.getOrElse("host", "localhost")
      val port = c.options.getOrElse("port", "4222").toInt
      val auth = Some(Config.nested(c.options, "auth")).filter(_.nonEmpty)
        .getOrElse(c.options.filter { case (k, _) =>
          Set("username", "password", "token")(k) })
      if (c.options.get("mode").contains("jetstream") ||
          c.options.contains("stream"))
        new Nats.JetStreamInput(spark, host, port,
          c.options("stream"),
          c.options.getOrElse("durable_name",
            c.options.getOrElse("consumer_name", "graft-durable")),
          auth).toDF
      else
        new Nats.NatsInput(spark, host, port,
          c.options("subject"), c.options.get("queue_group"), auth).toDF
    },
    "pulsar" -> { (spark, c) =>
      new Pulsar.PulsarInput(spark, c.options("service_url"),
        c.options("topic"), c.options("subscription_name"),
        c.options.getOrElse("subscription_type", "exclusive"),
        Config.nested(c.options, "auth"), Config.nested(c.options, "retry_config")).toDF
    },
    "websocket" -> { (spark, c) =>
      new WebSocketInput(spark, c.options("url"),
        c.options.get("bearer_token")
          .map(t => Map("Authorization" -> s"Bearer $t")).getOrElse(Map.empty)).toDF
    },
    "multiple_inputs" -> { (spark, c) =>
      // input/multiple_inputs.rs:30-110 — fan-in of child inputs; each
      // batch keeps its origin name (the window-join view name). The
      // reference merges via an async channel; Spark's union IS the
      // fan-in, with `__input_name` as the origin tag.
      require(c.children.nonEmpty,
        "multiple_inputs needs a non-empty `inputs:` list")
      val names = c.children.zipWithIndex.map { case (ch, i) =>
        val n = ch.name.getOrElse(s"input_$i")
        require(n.nonEmpty, "multiple_inputs child input has an empty name")
        n
      }
      require(names.distinct.size == names.size,
        s"multiple_inputs child names must be unique, got $names")
      val children = names.zip(c.children.map(ch => inputFromConf(spark, ch)))
      // Spark cannot union a streaming frame with a batch frame — the
      // children must agree (all batch = EOF semantics, all streaming)
      require(children.map(_._2.isStreaming).distinct.size == 1,
        "multiple_inputs children must be all streaming or all batch")
      Windows.unionTagged(children.toMap)
    })

  def inputFromConf(spark: SparkSession, c: ComponentConf): DataFrame =
    inputBuilders.getOrElse(c.kind,
      throw new IllegalArgumentException(s"unknown input: ${c.kind}"))(spark, c)

  /** Pure mapping of the reference file input's `store:` block
    * (file.rs:288-390 — S3/GCS/Azure/HDFS object-store registration) onto
    * Hadoop FileSystem conf keys, which is how Spark reaches the same
    * stores. Unit-testable without a live store; README documents the
    * per-store key table. Reference option names are kept verbatim
    * (`store.access_key_id`, `store.bucket_name`, …, as the YAML
    * flattener produces them).
    *
    * The `http` store (round 13) maps onto the engine's own read-only
    * Range-request [[HttpFileSystem]] — the one store the Hadoop
    * ecosystem does not ship a connector for.
    */
  def objectStoreConf(o: Map[String, String]): Map[String, String] =
    o.get("store.type") match {
      case None => Map.empty
      case Some("s3") =>
        // with a bucket_name the keys scope PER BUCKET
        // (fs.s3a.bucket.<name>.* — Hadoop's own per-bucket override
        // mechanism), so two file streams with different credentials or
        // endpoints coexist in one session instead of overwriting each
        // other's global conf
        val prefix = o.get("store.bucket_name")
          .map(b => s"fs.s3a.bucket.$b.").getOrElse("fs.s3a.")
        Map.empty[String, String] ++
          o.get("store.access_key_id").map(s"${prefix}access.key" -> _) ++
          o.get("store.secret_access_key").map(s"${prefix}secret.key" -> _) ++
          o.get("store.endpoint").toSeq.flatMap(e => Seq(
            s"${prefix}endpoint" -> e,
            // custom endpoints (MinIO/Ceph) address buckets by path
            s"${prefix}path.style.access" -> "true")) ++
          o.get("store.region").map(s"${prefix}endpoint.region" -> _) ++
          (if (o.get("store.allow_http").contains("true"))
            Map(s"${prefix}connection.ssl.enabled" -> "false") else Map.empty)
      case Some("gs") =>
        val keyfile = (o.get("store.service_account_path"),
            o.get("store.service_account_key")) match {
          case (Some(p), None) => p
          case (None, Some(raw)) =>
            // the raw-JSON-key variant: Hadoop's GCS connector reads a
            // keyfile, so the key lands in a private temp file. BOUNDARY:
            // the file exists on the DRIVER only — valid for local mode
            // and driver-side scans; on a multi-executor cluster use
            // service_account_path pointing at a path every node mounts
            // (the per-node distribution the reference's in-process
            // object_store client never needed)
            val f = java.nio.file.Files.createTempFile("graft_gcs_key", ".json")
            java.nio.file.Files.write(f, raw.getBytes("UTF-8"))
            f.toFile.deleteOnExit()
            f.toString
          case (None, None) => throw new IllegalArgumentException(
            "gs store needs service_account_path or service_account_key")
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            "specify either service_account_path or service_account_key, not both")
        }
        Map("fs.gs.auth.type" -> "SERVICE_ACCOUNT_JSON_KEYFILE",
          "fs.gs.auth.service.account.json.keyfile" -> keyfile)
      case Some("az") =>
        val account = o.getOrElse("store.account",
          throw new IllegalArgumentException("az store needs account"))
        o.get("store.access_key").toSeq.flatMap(k => Seq(
          s"fs.azure.account.key.$account.dfs.core.windows.net" -> k,
          s"fs.azure.account.key.$account.blob.core.windows.net" -> k)).toMap
      case Some("hdfs") =>
        // ha_config entries are Hadoop client keys already
        // (dfs.nameservices, dfs.ha.namenodes.*, …) — passthrough.
        // Deliberately NOT fs.defaultFS: that is session-global and
        // would silently re-root every RELATIVE path in the session
        // (checkpoints, staging dirs, other streams) onto the remote
        // cluster — fully-qualified hdfs:// paths resolve through the
        // HA client keys alone, so the reference's url becomes a path
        // requirement instead of a global default
        val url = o.getOrElse("store.url",
          throw new IllegalArgumentException("hdfs store needs url"))
        o.get("path").foreach(p => require(p.startsWith("hdfs://"),
          s"hdfs store: path must be fully qualified (hdfs://…), got '$p' " +
            s"(the store url $url is the authority to use)"))
        Config.nested(o, "store.ha_config")
      case Some("http") =>
        // round 13: the reference's object_store HTTP adapter
        // (input/file.rs:368-378) maps onto the engine's own read-only
        // Range-request FileSystem [[HttpFileSystem]] — splittable,
        // executor-side reads, no driver staging. The reference's `url`
        // key is the registered base; here the path IS the full URL, so
        // when url is present it must prefix the path (same files, same
        // addressing, caught at build instead of a 404 at scan).
        o.get("store.url").zip(o.get("path")).foreach { case (u, p) =>
          require(p.startsWith(u),
            s"http store: path '$p' is not under the store url '$u'")
        }
        o.get("path").foreach(p => require(
          p.startsWith("http://") || p.startsWith("https://"),
          s"http store: path must be a full http(s):// URL, got '$p'"))
        Map("fs.http.impl" -> classOf[HttpFileSystem].getName,
          "fs.https.impl" -> classOf[HttpsFileSystem].getName)
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown store type: $other")
    }

  /** Path-scheme rewrite companion of [[objectStoreConf]]: the reference
    * registers stores under `s3://bucket` / `az://container`; Spark's
    * connectors use `s3a://` and `abfs://container@account...`. `gs://`
    * and `hdfs://` pass through (the Hadoop connectors own those schemes
    * natively). */
  def objectStorePath(path: String, o: Map[String, String]): String =
    if (path.startsWith("s3://")) "s3a://" + path.stripPrefix("s3://")
    else if (path.startsWith("az://")) {
      val rest = path.stripPrefix("az://")
      val (container, key) = rest.span(_ != '/')
      val account = o.getOrElse("store.account",
        throw new IllegalArgumentException("az:// path needs store.account"))
      s"abfs://$container@$account.dfs.core.windows.net$key"
    } else path

  /** Close every [[PushInput]] still open: one that was built (by
    * [[inputFromConf]] or in code) but whose query never started, since a
    * query closes its inputs when it stops. Engine shutdown calls this
    * after stopping the queries. Safe to call repeatedly. */
  def closeConfigInputs(): Unit =
    PushInput.open.forEach { in =>
      try in.stop() catch { case scala.util.control.NonFatal(_) => () }
    }

  /** The mqtt input's one topic filter: `topics` (a one-entry list or a
    * string), else `topic_filter`, else `#`. The input subscribes to a
    * single filter, so more than one entry fails at build. */
  private def mqttTopicFilter(o: Map[String, String]): String =
    Config.list(o, "topics") match {
      case Seq() => o.getOrElse("topic_filter", "#")
      case Seq(t) => t
      case many => throw new IllegalArgumentException(
        s"mqtt input subscribes to one topic filter, got ${many.size}: ${many.mkString(", ")}")
    }

  /** Pure mapping of reference kafka input options (input/kafka.rs:36-58)
    * to Spark kafka source options — unit-testable without a broker.
    * `brokers` and `topics` are lists or comma strings. */
  def kafkaOptions(o: Map[String, String]): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> kafkaBrokers(o),
      "subscribe" -> Config.list(o, "topics").mkString(","),
      "startingOffsets" ->
        (if (o.get("start_from_latest").contains("true")) "latest" else "earliest"))
    o.get("consumer_group").map(g => base + ("kafka.group.id" -> g)).getOrElse(base)
  }

  /** Run every stream of a parsed config. Memory-input streams are not
    * config-expressible (they need a programmatic handle) — use start(). */
  /** Buffer kinds → their processor chain (SURVEY.md §2.4). This IS the
    * engine's buffer dispatch — the config surface for all four reference
    * buffer kinds plus their optional `join:` block:
    *
    *  - memory (buffer/memory.rs:40-46,108-150): hold rows until
    *    `capacity` are pending or `timeout_ms` elapsed, then release as
    *    one batch — the [[Processors.BatchAccumulator]]; rows still
    *    pending at EOF or at stop are drained into the sink.
    *  - tumbling_window: the trigger IS the window — [[runStream]] maps
    *    `interval` to Trigger.ProcessingTime; no processor needed.
    *  - sliding_window (sliding_window.rs:41-50): count-based overlapping
    *    windows over micro-batches — [[Processors.SlidingWindowBuffer]].
    *  - session_window (session_window.rs:40-49): gap-of-silence sessions
    *    — [[Processors.SessionWindowBuffer]].
    *
    * A `join:` block (buffer/join.rs JoinConfig — parsed to dotted
    * `join.*` options) appends a [[Processors.WindowJoinProcessor]]: each
    * fired window runs the join SQL with its per-source slices bound
    * under the `input` component's child input names.
    */
  /** Buffer dispatch TABLE — kind → core processors; the same
    * single-source-of-truth contract as [[inputBuilders]]/[[sinkBuilders]]
    * (ReferenceExamplesSpec asserts against `bufferBuilders.keySet`). */
  val bufferBuilders: Map[String, ComponentConf => Seq[Processors.BatchTransform]] = Map(
    "memory" -> { b =>
      if (b.options.contains("capacity") || b.options.contains("timeout_ms") ||
          b.options.contains("timeout"))
        Seq(new Processors.BatchAccumulator(
          b.options.get("capacity").map(_.toLong).getOrElse(Long.MaxValue),
          Long.MaxValue,
          b.options.get("timeout_ms").map(_.toLong)
            .orElse(b.options.get("timeout").map(Config.parseDurationMs))
            .getOrElse(Long.MaxValue),
          b.options.get("staging")))
      else Nil
    },
    // the trigger IS the tumbling window ([[runStream]] maps `interval`)
    "tumbling_window" -> (_ => Nil),
    "sliding_window" -> (b =>
      Seq(new Processors.SlidingWindowBuffer(
        b.options.getOrElse("window_size",
          throw new IllegalArgumentException(
            "sliding_window buffer needs window_size")).toInt,
        b.options.getOrElse("slide_size",
          throw new IllegalArgumentException(
            "sliding_window buffer needs slide_size")).toInt))),
    "session_window" -> (b =>
      Seq(new Processors.SessionWindowBuffer(Config.parseDurationMs(
        b.options.getOrElse("gap", throw new IllegalArgumentException(
          "session_window buffer needs gap")))))))

  def bufferProcessors(buffer: Option[ComponentConf],
      input: ComponentConf = ComponentConf("generate", Map.empty))
      : Seq[Processors.BatchTransform] =
    buffer.toSeq.flatMap { b =>
      val core = bufferBuilders.getOrElse(b.kind,
        throw new IllegalArgumentException(s"unknown buffer: ${b.kind}"))(b)
      val join = b.options.get("join.query").toSeq.map { q =>
        b.options.get("join.codec.type").foreach(t => require(t == "json",
          s"window join codec '$t' is not supported (json only)"))
        val expected =
          if (input.kind == "multiple_inputs")
            input.children.zipWithIndex.map { case (ch, i) =>
              ch.name.getOrElse(s"input_$i") }
          else Seq(input.name.getOrElse("flow"))
        Processors.WindowJoinProcessor(q, expected)
      }
      core ++ join
    }

  /** Input-level `codec:` block (the reference's codec registry;
    * examples/schema_registry.yaml puts the codec ON the input, not in
    * the processor list) — decodes the input's binary `__value__`
    * envelope as the first per-batch transform, ahead of buffers and
    * processors. Wire format + REST resolve per
    * codec/schema_registry.rs:205-260; auth block `type: basic|bearer`
    * with username/password/token. */
  def inputCodec(c: ComponentConf): Seq[Processors.BatchTransform] = {
    val block = Config.nested(c.options, "codec")
    // a codec: block whose `type` key is missing (or typo'd to another
    // key) must fail at BUILD — silently skipping the codec would flow
    // raw envelope bytes into processors undetected
    if (block.nonEmpty && !block.contains("type"))
      throw new IllegalArgumentException(
        s"input `${c.kind}` has a codec: block with no `type` key " +
          s"(found: ${block.keys.map("codec." + _).toSeq.sorted.mkString(", ")})")
    block.get("type").toSeq.map { t =>
      codecBuilders.getOrElse(t, throw new IllegalArgumentException(
        s"unknown input codec: $t (known: ${codecKinds.mkString(", ")})"))(
        ComponentConf(t, block - "type"))
    }
  }

  /** Input-codec dispatch TABLE — kind → builder over the `codec:`
    * block's own options; the same single-source-of-truth contract as
    * [[inputBuilders]] (the `/components` registry lists its keys). */
  val codecBuilders: Map[String, ComponentConf => Processors.BatchTransform] = Map(
    "json" -> (_ => Processors.JsonToArrow()),
    "debezium_json" -> (_ => (df: DataFrame) => Codecs.DebeziumJsonCodec.decode(df)),
    // same schema sources as the protobuf_to_arrow processor
    // (descriptor_path + message_type, or the inline fields spec)
    "protobuf" -> (c => Processors.builders("protobuf_to_arrow")(c)),
    "schema_registry" -> { c =>
      val url = c.options.getOrElse("registry_url",
        throw new IllegalArgumentException(
          "schema_registry codec needs `registry_url`"))
      val auth = c.options.get("auth.type")
      auth.foreach(t => require(t == "basic" || t == "bearer",
        s"Unsupported auth type: $t"))
      val bearer = if (auth.contains("bearer"))
        Some(c.options.getOrElse("auth.token",
          throw new IllegalArgumentException(
            "schema_registry codec: auth type bearer needs `token`")))
        else None
      val basic = if (auth.contains("basic"))
        Some((c.options.getOrElse("auth.username", ""),
          c.options.getOrElse("auth.password", ""))) else None
      // one cached resolver per stream — each schema id fetches once,
      // like the reference's in-process cache
      val resolver = new SchemaRegistry.CachingResolver(
        new SchemaRegistry.RestResolver(url, bearer, basic,
          c.options.get("message_type")))
      (df: DataFrame) => SchemaRegistry.decodeBatch(df, resolver)
    })

  /** Input-codec kinds, derived from [[codecBuilders]]. */
  val codecKinds: Seq[String] = codecBuilders.keys.toSeq.sorted

  /** Every registered component name by kind — the control plane's
    * `/components` + `/schema` source (reference lib.rs:214-216; its
    * `component::list_components` walks the same registries the builders
    * dispatch on, so enumerating the literal Maps here is exact). */
  def componentRegistry: Map[String, Seq[String]] = Map(
    "input" -> inputBuilders.keys.toSeq.sorted,
    "processor" -> Processors.builders.keys.toSeq.sorted,
    "output" -> sinkBuilders.keys.toSeq.sorted,
    "buffer" -> bufferBuilders.keys.toSeq.sorted,
    "codec" -> codecKinds)

  def run(spark: SparkSession, conf: EngineConf): Seq[StreamingQuery] =
    Config.streamIds(conf).zip(conf.streams).flatMap { case (id, s) =>
      runStream(spark, s, id)
    }

  /** Resolve and run ONE stream of a config under its control-plane id
    * (the query name — how `/streams/{id}` lifecycle routes find it).
    * Streaming inputs return the live query; batch inputs run once to
    * EOF and return None (a re-`start` re-runs the batch, the
    * reference's one-shot lifecycle).
    *
    * The processors, the sinks and the trigger are resolved BEFORE the
    * input: building a connection-holding input opens its connection, so
    * a config that fails to resolve opens none. The query closes its
    * input when it stops, and a query that fails to start closes it
    * here. */
  def runStream(spark: SparkSession, s: StreamConf,
      id: String): Option[StreamingQuery] = {
    val procs = inputCodec(s.input) ++ bufferProcessors(s.buffer, s.input) ++
      Processors.fromConf(s.processors, s.temporaries)
    val sink = sinkFromConf(s.output)
    val err = s.errorOutput.map(sinkFromConf)
    // the buffer's cadence is the trigger: tumbling/sliding fire per
    // `interval`. A session buffer triggers FASTER than its gap (gap/5,
    // floor 50 ms): the gap test compares consecutive ARRIVALS, so the
    // trigger must resolve finer than the gap or a steady stream whose
    // batches land ~gap apart would spuriously close a session per batch
    // (the reference's timer checks at message granularity for the same
    // reason).
    val trigger = s.buffer.flatMap(b =>
        b.options.get("interval")
          .map(i => Config.triggerInterval(i))
          .orElse(b.options.get("gap").map(g =>
            s"${math.max(Config.parseDurationMs(g) / 5, 50L)} milliseconds")))
      .map(Trigger.ProcessingTime(_))
      .getOrElse(Trigger.ProcessingTime(0L))
    val in = inputFromConf(spark, s.input)
    if (in.isStreaming)
      // a query that fails to start is never stopped by Spark, so its
      // input is closed here
      Some(try start(in, procs, sink, err, trigger, resolvedCheckpoint(s, id), Some(id))
        catch { case e: Throwable => PushStream.stopSources(in); throw e })
    else {
      runBatch(in, procs, sink, err)
      None
    }
  }

  /** The stream-level `durability:` block (stream/mod.rs WalConfig —
    * enabled/path/sync/compression) maps onto the Spark CHECKPOINT, which
    * is this engine's WAL: offsets are logged before processing and
    * commits after the sink confirms, so restart replays unacknowledged
    * batches — the reference's read-log/ack-on-output contract
    * (durability_example.yaml). The input's own `checkpoint` option takes
    * precedence when both are set (it is the more specific knob).
    * `sync`/`compression` tuning is checkpoint-native in Spark (HDFS
    * client flush + compact log format) — accepted with a notice, never
    * silently meaningful.
    *
    * A `durability:` block WITHOUT `path:` still yields a durable stream:
    * the reference's WalConfig defaults the path (wal/mod.rs:72-74,
    * enabled defaults true at :68-70) rather than dropping durability, so
    * degrading to non-durable here would silently lose what the user
    * explicitly asked for. We default to a deterministic per-stream
    * location, `./data/wal/<stream-id>`, and say so loudly. */
  /** The checkpoint location a stream actually runs with: the input's
    * own `checkpoint` option when set (the more specific knob), else the
    * `durability:` block's mapping. This is the exact expression
    * [[runStream]] passes to [[start]] — factored out so the precedence
    * rule is unit-testable. */
  def resolvedCheckpoint(s: StreamConf, id: String): Option[String] =
    s.input.options.get("checkpoint").orElse(durabilityCheckpoint(s, id))

  def durabilityCheckpoint(s: StreamConf, id: String): Option[String] = {
    if (s.durability.isEmpty) None
    else if (s.durability.get("enabled").exists(e =>
        e.equalsIgnoreCase("false") || e == "0")) None
    else {
      Seq("sync", "compression").foreach(k => s.durability.get(k).foreach(v =>
        System.err.println(s"[engine] durability.$k '$v' noted: WAL sync and " +
          "compaction are native to the Spark checkpoint (offsets are always " +
          "flushed before a batch runs); the option does not change behavior")))
      s.durability.get("path").filter(_.nonEmpty).orElse {
        val fallback = s"./data/wal/$id"
        System.err.println(
          "[engine] durability block without `path:` — defaulting the " +
            s"checkpoint to '$fallback' (the reference's WAL also opens at " +
            "a default path rather than dropping durability); set " +
            "durability.path to control the location")
        Some(fallback)
      }
    }
  }

  /** Batch input: run the pipeline once, EOF semantics — with the same
    * NonFatal error_output divert the streaming path has (a failing batch
    * pipeline routes the input whole, tagged `__error`, to the error sink
    * instead of throwing). At EOF the rows the processors still hold (a
    * rate_cap carry, an accumulator's sub-threshold rows, an open session
    * window) are drained into the sink under ids 1, 2, … — a partial
    * sliding window is dropped, like the reference's close. */
  def runBatch(in: DataFrame, procs: Seq[Processors.BatchTransform],
      sink: BatchSink, err: Option[BatchSink]): Unit =
    try {
      // Processors run through their PLAIN apply — a one-shot batch has
      // no meaningful batch id, and handing it a constant one would flip
      // a staged BatchAccumulator onto the cross-run staging path where
      // every run overwrites the same __acc_batch=0 partition.
      fold(procs, in).foreach(sink.write(_, 0L))
      // each drained release gets its own batch id: the idempotent sinks
      // partition/dedupe BY id, and re-using 0 would overwrite the
      // initial release
      drain(procs, sink, Iterator.iterate(1L)(_ + 1))
    } catch {
      case scala.util.control.NonFatal(e) =>
        err match {
          case Some(errSink) =>
            errSink.write(in.withColumn("__error", lit(e.getMessage)), 0L)
          case None => throw e
        }
    }
}
