package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{Config, Engine, HttpInput, Processors}
import Main.{Args, Metric, Result, median, quantile, secs}

/** Two streams of one config in one session, each fed through the
  * engine's HTTP server input by an open-loop generator at a fixed rate.
  * Latency runs from the time an event was due to be sent to the commit
  * of the micro-batch that wrote it. */
object HttpStream {
  /** Offered events per second per stream. */
  val Rate = 60
  val Streams = Seq("a", "b")
  /** Generator threads per stream (one connection each). */
  val Senders = 2
  // the driver path is still getting faster (JIT) after 10 s of traffic
  val WarmupS = 15.0
  val DrainS = 20.0
  /** Micro-batch cadence, as a `tumbling_window` buffer with `interval:
    * 500ms` sets it. Under the engine's default trigger, which starts the
    * next micro-batch as soon as the last ends, a slower micro-batch
    * collects more events and so runs more tasks (one per POST): that
    * loop amplified host-speed changes into a ten-run spread of 0.27-0.36
    * in `latency_p50_ms`. */
  val TriggerMs = 500L
  private val Unbounded = 1L << 40

  /** The engine's YAML surface has no server-mode http input, so the
    * `http_server` input below is bound to [[HttpInput]] by the benchmark;
    * the processors and outputs resolve through the engine. */
  def yaml: String = Streams.map { s =>
    s"""  - id: $s
       |    input:
       |      type: http_server
       |    pipeline:
       |      processors:
       |        - type: json_to_arrow
       |          schema: "stream STRING, device STRING, site STRING, seq BIGINT, ts BIGINT, temp DOUBLE, hum BIGINT, status STRING"
       |        - type: sql
       |          query: "SELECT stream, seq, ts, device, temp, hum FROM flow WHERE status <> 'maint'"
       |        - type: vrl
       |          statement: |
       |            .dev = upcase(.device)
       |            .temp_f = .temp * 9 / 5 + 32
       |            .band = if .temp > 30 { "hot" } else { "normal" }
       |    output:
       |      type: drop
       |    error_output:
       |      type: drop
       |""".stripMargin
  }.mkString("streams:\n", "", "")

  def salt(stream: String): Long = 10L + Streams.indexOf(stream)

  def event(seed: Long, stream: String, seq: Long): Gen.Event =
    Gen.event(seed, salt(stream), seq, Unbounded)

  /** Checks every row against the event its (stream, seq) names and
    * records when each event was committed. Bad rows and the batches that
    * held them are counted by cause: `crossed_stream`, `mismatch`,
    * `duplicate`. */
  final class CheckSink(stream: String, seed: Long) extends Engine.BatchSink {
    val committedNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val batches = new AtomicLong
    val badRows, badBatches = new ConcurrentHashMap[String, java.lang.Long]()
    def bad(m: ConcurrentHashMap[String, java.lang.Long], cause: String): Long =
      m.getOrDefault(cause, 0L)
    def write(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.select(col("stream"), col("seq"), Check.rowHash(Check.HttpCols)).collect()
      val now = System.nanoTime()
      val causes = rows.flatMap { r =>
        val (s, seq, h) = (r.getString(0), r.getLong(1), r.getLong(2))
        val e = event(seed, stream, seq)
        if (s != stream) Some("crossed_stream")
        else if (!Gen.passes(e) || h != Check.Sum.hash(Gen.httpRow(stream, e))) Some("mismatch")
        else if (committedNs.putIfAbsent(seq, now) != null) Some("duplicate")
        else None
      }
      causes.foreach(c => badRows.merge(c, 1L, (x, y) => x + y))
      causes.distinct.foreach(c => badBatches.merge(c, 1L, (x, y) => x + y))
      batches.incrementAndGet()
    }
  }

  /** Counts the batches the engine diverted to `error_output`. */
  final class ErrorSink extends Engine.BatchSink {
    val batches = new AtomicLong
    def write(batch: DataFrame, batchId: Long): Unit = {
      val why = batch.select("__error").head().getString(0)
      System.err.println(s"[perfbench] batch $batchId diverted to error_output: $why")
      batches.incrementAndGet()
    }
  }

  final class Stream(val name: String, val input: HttpInput, val sink: CheckSink,
      val errors: ErrorSink, val query: StreamingQuery) {
    val url = new java.net.URI(input.boundAddress).toURL
  }

  /** An [[HttpInput]] on a free port; retried because another socket can
    * take the port between the probe and the bind. */
  private def bindInput(spark: SparkSession, tries: Int = 5): HttpInput = {
    val probe = new java.net.ServerSocket(0)
    val port = try probe.getLocalPort finally probe.close()
    try new HttpInput(spark, port)
    catch { case _: java.net.BindException if tries > 1 => bindInput(spark, tries - 1) }
  }

  /** Builds and starts both streams. */
  def start(spark: SparkSession, a: Args, trace: Trace): Seq[Stream] = {
    val conf = Config.fromYaml(yaml)
    Config.streamIds(conf).zip(conf.streams).map { case (id, s) =>
      val in = bindInput(spark)
      val procs = s.processors.zip(Processors.fromConf(s.processors, s.temporaries))
        .map { case (c, p) => trace.wrap(Trace.layerOf(c.kind), id, p) }
      val sink = new CheckSink(id, a.seed)
      val errors = new ErrorSink
      val q = Engine.start(in.toDF, procs, trace.wrapSink(id, sink), Some(errors),
        trigger = Trigger.ProcessingTime(TriggerMs), queryName = Some(id))
      new Stream(id, in, sink, errors, q)
    }
  }

  def stop(streams: Seq[Stream]): Unit = streams.foreach { s =>
    s.query.stop(); s.input.stop()
  }

  /** POSTs one event; returns the HTTP status (or -1 on an I/O error). */
  def post(s: Stream, body: Array[Byte]): Int =
    try {
      val c = s.url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val os = c.getOutputStream
      os.write(body); os.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      if (in != null) in.close()
      code
    } catch { case _: java.io.IOException => -1 }

  def body(seed: Long, stream: String, seq: Long): Array[Byte] =
    Gen.json(event(seed, stream, seq), Some(stream), System.currentTimeMillis())
      .getBytes("UTF-8")

  /** What one generator phase sent. */
  final class Sent(val stream: Stream, val from: Long, val until: Long, val t0: Long) {
    def dueNs(seq: Long): Long = t0 + ((seq - from) * 1000000000L / Rate)
    val status = new Array[Int]((until - from).toInt)
    val lateNs = new Array[Long]((until - from).toInt)
  }

  /** Sends seqs [from, from + seconds × Rate) of every stream on the open-
    * loop schedule, `Senders` threads per stream, each event at its due
    * time whether or not earlier ones are done. */
  def generate(streams: Seq[Stream], seed: Long, from: Long, seconds: Double): Seq[Sent] = {
    val t0 = System.nanoTime() + 50000000L
    val n = (seconds * Rate).toLong
    val sent = streams.map(s => new Sent(s, from, from + n, t0))
    val threads = sent.flatMap { st =>
      (0 until Senders).map { k =>
        new Thread(() => {
          var seq = from + k
          while (seq < st.until) {
            val due = st.dueNs(seq)
            var now = System.nanoTime()
            while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
            st.lateNs((seq - from).toInt) = now - due
            st.status((seq - from).toInt) = post(st.stream, body(seed, st.stream.name, seq))
            seq += Senders
          }
        }, s"perfbench-gen-${st.stream.name}-$k")
      }
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    sent
  }

  /** The seqs of one phase the sink must commit: accepted by the server
    * and kept by the pipeline's filter. */
  def expected(st: Sent, seed: Long): Seq[Long] =
    (st.from until st.until).filter(seq => st.status((seq - st.from).toInt) / 100 == 2 &&
      Gen.passes(event(seed, st.stream.name, seq)))

  /** Waits until every expected event has been committed. */
  def drain(sent: Seq[Sent], seed: Long): Unit = {
    val t0 = System.nanoTime()
    val want = sent.map(st => (st.stream, expected(st, seed)))
    def pending = want.exists { case (s, seqs) => seqs.exists(!s.sink.committedNs.containsKey(_)) }
    while (pending && secs(t0) < DrainS) Thread.sleep(20)
  }

  def run(a: Args): (Result, SparkSession) = {
    var spark: SparkSession = null
    var trace: Trace = null
    var streams: Seq[Stream] = Nil
    // setup: session, config and pipeline build, and the first committed
    // micro-batch of each stream (one priming event, seq 0)
    val setups = (1 to Batch.SetupReps).map { _ =>
      if (spark != null) { stop(streams); trace.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Main.session(a)
      trace = new Trace(spark)
      val tb = System.nanoTime()
      streams = start(spark, a, trace)
      val buildMs = secs(tb) * 1000
      streams.foreach(s => post(s, body(a.seed, s.name, 0)))
      while (streams.exists(_.sink.batches.get == 0) && secs(t0) < 60) Thread.sleep(2)
      (secs(t0), buildMs)
    }

    /** One generator phase after `WarmupS` of warm-up; the latencies of the
      * events due after the warm-up. */
    var next = 1L
    val allSent = mutable.ArrayBuffer[Sent]()
    def phase(): (Seq[Sent], Seq[Double], Long, Double, Seq[Double]) = {
      val sent = generate(streams, a.seed, next, WarmupS + a.seconds)
      next = sent.head.until
      allSent ++= sent
      drain(sent, a.seed)
      val lat = mutable.ArrayBuffer[Double]()
      // a growing backlog shows as a later half slower than the earlier one
      val halves = Seq(mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Double]())
      sent.foreach { st =>
        val firstMeasured = st.from + (WarmupS * Rate).toLong
        (firstMeasured until st.until).foreach { seq =>
          val c = st.stream.sink.committedNs.get(seq)
          if (c != null) {
            val ms = (c - st.dueNs(seq)) / 1e6
            lat += ms
            halves(if (2 * (seq - firstMeasured) < st.until - firstMeasured) 0 else 1) += ms
          }
        }
      }
      val window = (sent.head.until - sent.head.from) / Rate.toDouble - WarmupS
      (sent, lat.toList, lat.size.toLong, lat.size / window, halves.map(h => median(h.toList)))
    }

    PeakMem.reset()
    val (sent, lat, samples, rate, halves) = phase()
    val peakMb = PeakMem.mb
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else {
        trace.enabled = true
        val (tSent, tLat, _, _, _) = phase()
        trace.enabled = false
        val (_, _, progress) = trace.snapshot()
        val units = progress.map(_.unit)
        val layers = Batch.layerMetrics(trace, units, a.cpus,
          u => progress.find(_.unit == u).map(_.rows.toDouble).getOrElse(1.0),
          hasCodec = true, wallMs = progress.map(p => p.unit -> p.phases.getOrElse("triggerExecution", 0L).toDouble).toMap)
        def phaseP50(k: String) = median(progress.map(_.phases.getOrElse(k, 0L).toDouble))
        trace.write(a.out.resolveSibling(s"${a.workload}-${a.seed}-spans.jsonl"))
        layers ++ Map(
          "config.build_ms" -> median(setups.map(_._2)),
          // each accepted POST is one row of the engine's input
          "input.http.requests" -> progress.map(_.rows).sum.toDouble,
          "input.http.non2xx" -> tSent.map(_.status.count(_ / 100 != 2)).sum.toDouble,
          "input.http.gen_late_ms_p99" -> quantile(tSent.flatMap(_.lateNs.map(_ / 1e6)), 0.99),
          "trigger.batches" -> progress.size.toDouble,
          "trigger.rows_per_batch_p50" -> median(progress.map(_.rows.toDouble)),
          "trigger.exec_ms_p50" -> phaseP50("triggerExecution"),
          "trigger.addBatch_ms_p50" -> phaseP50("addBatch"),
          "trigger.queryPlanning_ms_p50" -> phaseP50("queryPlanning"),
          "trigger.latestOffset_ms_p50" -> phaseP50("latestOffset"),
          "trigger.walCommit_ms_p50" -> phaseP50("walCommit"),
          "trigger.commitOffsets_ms_p50" -> phaseP50("commitOffsets"),
          "errors.diverted_batches" -> streams.map(_.errors.batches.get).sum.toDouble,
          "trace.overhead_pct" -> (median(tLat) / median(lat) - 1) * 100)
      }
    stop(streams)
    trace.close()

    // failed operations by cause; every accepted event must be committed
    val want = allSent.map(st => (st.stream, expected(st, a.seed)))
    val expectedDelivered = want.map(_._2.size).sum
    val delivered = want.map { case (s, seqs) => seqs.count(s.sink.committedNs.containsKey(_)) }.sum
    val requests = allSent.map(_.status.length).sum
    val rejected = allSent.map(_.status.count(_ / 100 != 2)).sum.toLong
    def byCause(f: CheckSink => ConcurrentHashMap[String, java.lang.Long]) =
      Seq("mismatch", "crossed_stream", "duplicate").map(c => c -> streams.map(s => s.sink.bad(f(s.sink), c)).sum)
    val failures = (byCause(_.badBatches) ++ Seq(
      "error_output" -> streams.map(_.errors.batches.get).sum,
      "rejected_requests" -> rejected,
      "missing" -> (if (delivered < expectedDelivered) 1L else 0L))).toMap
    val e2e = Map(
      "setup_s" -> Metric(median(setups.map(_._1)), "s"),
      "rows_per_s" -> Metric(rate, "rows/s"),
      "latency_p50_ms" -> Metric(median(lat), "ms"),
      "latency_p99_ms" -> Metric(quantile(lat, 0.99), "ms"),
      "peak_mem_mb" -> Metric(peakMb, "MB"))
    val batches = streams.map(s => s.sink.batches.get + s.errors.batches.get).sum
    val details = Map("latency_samples" -> samples, "offered_per_s" -> Rate * Streams.size,
      "requests" -> requests, "delivered" -> delivered, "expected_delivered" -> expectedDelivered,
      "micro_batches" -> batches, "bad_rows" -> Json.Raw(Json.obj(byCause(_.badRows))),
      "latency_p50_ms_by_half" -> halves.map(h => f"$h%.1f").mkString(" "),
      "setup_s_all" -> setups.map(_._1).mkString(" "), "peak_rss_mb" -> PeakMem.rssMb,
      "gen_late_ms_p99" -> quantile(sent.flatMap(_.lateNs.map(_ / 1e6)), 0.99))
    // operations: each micro-batch, each request, and the final delivery check
    val ops = batches + requests + 1
    (Result(ops, failures, e2e, perLayer, details), spark)
  }
}
