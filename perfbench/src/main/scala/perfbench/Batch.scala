package perfbench

import java.nio.file.Path
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Config, Engine, Processors, StreamConf}
import Main.{Args, Metric, Result, median, quantile, secs}

/** The one-shot (EOF) workloads: a `file` input run to completion through
  * the engine's batch path ([[Engine.runBatch]]) once per repetition, each
  * repetition's output checked against the seed's reference. */
object Batch {

  /** A workload's input: its row count, the reference checksum and
    * details for the log line. */
  final case class Prepared(rows: Long, expected: Check.Sum, details: Map[String, Any])

  trait Spec {
    def yaml(input: Path, output: Path): String
    /** Writes the input for `seed` under `input`; the reference comes from
      * the generator, not from the engine. */
    def prepare(spark: SparkSession, a: Args, input: Path): Prepared
    /** The checksum of a run's output, taken after the run's timing ends:
      * `last` is the frame the engine handed the configured sink. */
    def observed(spark: SparkSession, s: StreamConf, last: DataFrame): Check.Sum
  }

  /** Seeded telemetry JSON envelopes → inferred-schema `json_to_arrow` →
    * `sql` filter/projection → `vrl` remap. */
  object JsonIngest extends Spec {
    val Events = 200000

    def yaml(input: Path, output: Path): String =
      s"""streams:
         |  - input:
         |      type: file
         |      path: "$input"
         |    pipeline:
         |      processors:
         |        - type: json_to_arrow
         |        - type: sql
         |          query: "SELECT device, site, seq, ts, temp, hum, status, loc.alt AS alt, loc.zone AS zone, fw FROM flow WHERE status <> 'maint'"
         |        - type: vrl
         |          statement: |
         |            .dev = upcase(.device)
         |            .temp_f = .temp * 9 / 5 + 32
         |            .band = if .temp > 30 { "hot" } else { "normal" }
         |    output:
         |      type: drop
         |""".stripMargin

    def prepare(spark: SparkSession, a: Args, input: Path): Prepared = {
      val seed = a.seed
      // the executors render the same records; range slices are contiguous
      spark.range(0, Events, 1, 2 * a.cpus)
        .map(i => Gen.json(Gen.event(seed, 1, i, Events)))(org.apache.spark.sql.Encoders.STRING)
        .select(col("value").cast("binary").as(graft.streaming.Codecs.ValueCol))
        .write.mode("overwrite").parquet(input.toString)
      // streamed, so the generator does not hold the input on the heap
      def events = (0 until Events).iterator.map(i => Gen.event(seed, 1, i, Events))
      Prepared(Events, Check.Sum.of(events.filter(Gen.passes).map(Gen.ingestRow)),
        Map("input_sha256" -> Gen.digest(events.map(e => Gen.json(e))),
          "optional_field_rows" -> events.count(_.loc.isDefined)))
    }

    /** Re-runs the frame the `drop` output was given, into a checksum. */
    def observed(spark: SparkSession, s: StreamConf, last: DataFrame): Check.Sum =
      Check.of(last, Check.JsonIngestCols)
  }

  /** A seeded corpus with planted exact and near duplicates →
    * `dedup_recipe` → `sql` → `parquet` output. */
  object CorpusDedup extends Spec {
    val Docs = 30000
    val Bits = 64
    val MaxDist = 2

    def yaml(input: Path, output: Path): String =
      s"""streams:
         |  - input:
         |      type: file
         |      path: "$input"
         |    pipeline:
         |      processors:
         |        - type: dedup_recipe
         |          id_col: doc_id
         |          text_col: text
         |          max_dist: $MaxDist
         |          bits: $Bits
         |        - type: sql
         |          query: "SELECT doc_a, doc_b, dist FROM flow WHERE doc_a < doc_b"
         |    output:
         |      type: parquet
         |      path: "$output"
         |""".stripMargin

    def prepare(spark: SparkSession, a: Args, input: Path): Prepared = {
      val docs = Gen.corpus(a.seed, Docs)
      import spark.implicits._
      spark.sparkContext.parallelize(docs.indices.map(i => (i.toLong, docs(i))), 2 * a.cpus)
        .toDF("doc_id", "text").write.mode("overwrite").parquet(input.toString)
      val ref = Gen.dedupExpected(docs, Bits, MaxDist)
      Prepared(Docs, Check.Sum.of(ref.pairs.iterator.map { case (x, y, d) => Gen.pairRow(x, y, d) }),
        Map("input_sha256" -> Gen.digest(docs.iterator), "keepers" -> ref.keepers,
          "keeper_ratio" -> ref.keepers.toDouble / Docs, "pairs" -> ref.pairs.size))
    }

    /** Reads back what the `parquet` output wrote. */
    def observed(spark: SparkSession, s: StreamConf, last: DataFrame): Check.Sum =
      Check.of(spark.read.parquet(s.output.options("path")), Check.PairCols)
  }

  /** The configured output, keeping the frame of its last write so the
    * output can be checked once the run's timing has ended. */
  final class Capture(out: Engine.BatchSink) extends Engine.BatchSink {
    @volatile var last: DataFrame = null
    def write(batch: DataFrame, batchId: Long): Unit = { last = batch; out.write(batch, batchId) }
  }

  final case class Built(conf: StreamConf, input: DataFrame, kinds: Seq[String],
      procs: Seq[Processors.BatchTransform], sink: Capture)

  /** Config parse and pipeline build: what a user's one-shot run does
    * before its first row moves. */
  def build(spark: SparkSession, yaml: String): Built = {
    val s = Config.fromYaml(yaml).streams.head
    Built(s, Engine.inputFromConf(spark, s.input), s.processors.map(_.kind),
      Processors.fromConf(s.processors, s.temporaries),
      new Capture(Engine.sinkFromConf(s.output)))
  }

  val SetupReps = 5
  val WarmupReps = 3
  val WarmupS = 10.0
  val MinReps = 3
  /** Ladder rounds of a traced run, at least. */
  val MinRounds = 8
  /** How far, in percent of the measured runs' wall time, the prefix
    * ladder's account of a run may differ from it (median over the
    * rounds) before the traced run counts a failed operation. On a
    * contended 4-vCPU host single rounds differ by about ±7.5% (one
    * standard deviation), so the median of 8 stays within ±12%. */
  val AccountingTolerancePct = 12.0

  def run(spec: Spec, a: Args): (Result, SparkSession) = {
    val input = a.work.resolve("input")
    val yaml = spec.yaml(input, a.work.resolve("output"))
    val tStart = System.nanoTime()
    var spark = Main.session(a)
    val prep = spec.prepare(spark, a, input)
    val tPrep = secs(tStart)
    var b: Built = null
    val setups = (1 to SetupReps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(a)
      val t1 = System.nanoTime()
      b = build(spark, yaml)
      (secs(t0), secs(t1) * 1000)
    }
    val trace = new Trace(spark)
    val procs = b.kinds.zip(b.procs).map { case (k, p) => trace.wrap(Trace.layerOf(k), "", p) }
    val sink = trace.wrapSink("", b.sink)
    val failures = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var attempted = 0L

    /** One pipeline run, timed, then its output check, untimed, unless
      * `check` is false; returns the run's wall seconds. */
    def rep(unit: String, traced: Boolean, check: Boolean = true): Double = {
      trace.setUnit(unit)
      trace.enabled = traced
      val t0 = System.nanoTime()
      val ok = try { trace.span("engine")(Engine.runBatch(b.input, procs, sink, None)); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $unit failed: $e"); false }
      val dt = secs(t0)
      trace.enabled = false
      if (check) attempted += 1
      if (!ok) failures("error") += 1
      else if (check) {
        val got = spec.observed(spark, b.conf, b.sink.last)
        if (got != prep.expected) {
          System.err.println(s"[perfbench] $unit output $got != expected ${prep.expected}")
          failures("mismatch") += 1
        }
      }
      dt
    }
    /** The traced run's accounting: per round, how much of the untraced
      * run's wall time the ladder round next to it did not account for,
      * in percent. */
    val gaps = scala.collection.mutable.ArrayBuffer[Double]()
    /** Pipeline runs and their checks for `a.seconds` (at least `MinReps`
      * runs). The traced run measures in rounds of a ladder round, an
      * untraced run and a traced run: warm-up drift then cancels out of
      * the tracing overhead and out of the accounting. */
    def timed(ladder: Option[Ladder]): Seq[(Double, Boolean)] = {
      val t0 = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
      while (out.size < MinReps || ladder.exists(_ => gaps.size < MinRounds) ||
          secs(t0) < a.seconds) ladder match {
        case None => out += (rep(s"rep${out.size}", traced = false) -> false)
        case Some(l) =>
          // the ladder round goes before the untraced run on every other
          // round and after it on the rest, so what each inherits from
          // the work before it cancels out of the accounting
          val first = gaps.size % 2 == 0
          val before = if (first) l.round(record = true) else 0.0
          val ms = rep(s"rep${out.size}", traced = false) * 1000
          val accountedMs = if (first) before else l.round(record = true)
          gaps += (ms - accountedMs) / ms * 100
          out += (ms / 1000 -> false)
          out += (rep(s"rep${out.size}", traced = true) -> true)
      }
      out.toList
    }

    val tSetup = secs(tStart)
    PeakMem.reset()
    val tw0 = System.nanoTime()
    var warm = 0
    var warmTimed = 0.0
    // only the first warm-up run is checked, so warm-up time goes to runs
    while (warm < WarmupReps || warmTimed < WarmupS) {
      warmTimed += rep(s"warmup$warm", traced = false, check = warm == 0); warm += 1
    }
    val tWarm = secs(tw0)
    val ladder = if (a.trace) Some(new Ladder(b)) else None
    ladder.foreach(_.round(record = false))
    val runs = timed(ladder)
    val walls = runs.filterNot(_._2).map(_._1)
    val e2e = Map(
      "setup_s" -> Metric(median(setups.map(_._1)), "s"),
      "rows_per_s" -> Metric(median(walls.map(prep.rows / _)), "rows/s"),
      "latency_p50_ms" -> Metric(median(walls) * 1000, "ms"),
      "latency_p99_ms" -> Metric(quantile(walls, 0.99) * 1000, "ms"),
      "peak_mem_mb" -> Metric(PeakMem.mb, "MB"))
    var details = prep.details ++ Map("reps" -> runs.size, "input_rows" -> prep.rows,
      "setup_s_all" -> setups.map(_._1).mkString(" "),
      "phases_s" -> f"prepare $tPrep%.1f setup ${tSetup - tPrep}%.1f warmup $tWarm%.1f ($warm reps) total ${secs(tStart)}%.1f",
      "rep_ms_all" -> runs.map(r => f"${r._1 * 1000}%.0f${if (r._2) "t" else ""}").mkString(" "),
      "peak_rss_mb" -> PeakMem.rssMb)
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else {
        val traced = runs.indices.filter(runs(_)._2)
        val layers = layerMetrics(trace, traced.map(k => s"rep$k"), a.cpus, _ => prep.rows.toDouble,
          hasCodec = b.kinds.contains("json_to_arrow"))
        trace.write(a.out.resolveSibling(s"${a.workload}-${a.seed}-spans.jsonl"))
        val unaccounted = median(gaps.toList)
        attempted += 1
        if (math.abs(unaccounted) > AccountingTolerancePct) {
          System.err.println(f"[perfbench] the ladder leaves $unaccounted%.1f%% of a run unaccounted")
          failures("accounting") += 1
        }
        details += "unaccounted_pct_all" -> gaps.map(g => f"$g%.1f").mkString(" ")
        layers ++ ladder.get.costs ++ Map(
          "config.build_ms" -> median(setups.map(_._2)),
          "trace.overhead_pct" -> (median(traced.map(runs(_)._1)) / median(walls) - 1) * 100,
          "trace.unaccounted_pct" -> unaccounted)
      }
    trace.close()
    (Result(attempted, failures.toMap, e2e, perLayer, details), spark)
  }

  /** The prefix ladder: rung 0 runs source → no-op sink, rung k adds
    * processor k, and the last rung swaps the no-op sink for the
    * configured output. A rung's time is its median over the recorded
    * rounds. A processor's driver time inside its call on the rung that
    * adds it is its apply time there, and the rest of what the rung adds
    * is its `exec_ms`. */
  final class Ladder(b: Built) {
    private val n = b.procs.length
    private val rungMs = Array.fill(n + 2)(scala.collection.mutable.ArrayBuffer[Double]())
    private val applyMs = Array.fill(n)(scala.collection.mutable.ArrayBuffer[Double]())

    private def once(k: Int, record: Boolean): Unit = {
      val procs = b.procs.take(k).zipWithIndex.map { case (p, i) =>
        (df: DataFrame) => {
          val t0 = System.nanoTime()
          val out = p(df)
          if (record && i == k - 1) applyMs(i) += secs(t0) * 1000
          out
        }
      }
      val t0 = System.nanoTime()
      Engine.runBatch(b.input, procs, if (k <= n) Engine.NoopSink else b.sink, None)
      if (record) rungMs(k) += secs(t0) * 1000
    }

    /** Runs every rung once; returns the round's account of one run:
      * input scan + Σ (apply + exec) + sink, which the rungs' deltas sum
      * to its last rung. */
    def round(record: Boolean): Double = {
      (0 to n + 1).foreach(once(_, record))
      rungMs(n + 1).lastOption.getOrElse(0.0)
    }

    /** The layers' costs over the recorded rounds. */
    def costs: Map[String, Double] = {
      val rung = rungMs.map(x => median(x.toList))
      val apply = applyMs.map(x => median(x.toList))
      Map("input.file.scan_ms" -> rung(0), "sink.exec_ms" -> (rung(n + 1) - rung(n))) ++
        b.kinds.indices.map(i =>
          s"${Trace.layerOf(b.kinds(i))}.exec_ms" -> (rung(i + 1) - rung(i) - apply(i)))
    }
  }

  /** Per-unit layer metrics from the trace, as medians over units. The
    * unit's wall time is its root `engine` span, or `wallMs` when the
    * engine call is not wrapped (micro-batches). */
  def layerMetrics(tr: Trace, units: Seq[String], cpus: Int, rowsOf: String => Double,
      hasCodec: Boolean, wallMs: Map[String, Double] = Map.empty): Map[String, Double] = {
    val (spans, counts, _) = tr.snapshot()
    val byUnit = spans.groupBy(_.unit)
    val per = units.map { u =>
      val us = byUnit.getOrElse(u, Nil)
      def c(l: String) = counts.getOrElse((u, l), new tr.Counts)
      val root = us.find(_.name == "engine")
      val wall = root.map(_.ms).getOrElse(wallMs.getOrElse(u, 0.0))
      val m = Seq("codec.json", "proc.sql", "proc.vrl", "proc.dedup").map(l =>
        s"$l.apply_ms" -> us.filter(_.name == l).map(_.ms).sum) ++
        Trace.Layers.flatMap { l =>
          val x = c(l)
          Seq(s"$l.spark.jobs" -> x.jobs.toDouble, s"$l.spark.stages" -> x.stages.toDouble,
            s"$l.spark.tasks" -> x.tasks.toDouble, s"$l.spark.executor_cpu_s" -> x.cpuNs / 1e9,
            s"$l.spark.gc_s" -> x.gcMs / 1e3, s"$l.spark.shuffle_read_bytes" -> x.shuffleRead.toDouble,
            s"$l.spark.shuffle_write_bytes" -> x.shuffleWrite.toDouble)
        } ++ Seq(
          "sink.write_ms" -> us.filter(_.name == "sink").map(_.ms).sum,
          "codec.json.jobs" -> c("codec.json").jobs.toDouble,
          "proc.dedup.jobs" -> c("proc.dedup").jobs.toDouble,
          "sink.jobs" -> c("sink").jobs.toDouble,
          "sink.bytes" -> c("sink").bytesWritten.toDouble,
          "codec.json.input_passes" ->
            (if (hasCodec) Trace.Layers.map(c(_).recordsRead).sum / rowsOf(u) else 0.0),
          "spark.slot_util" ->
            (if (wall > 0) Trace.Layers.map(c(_).runMs).sum / (wall * cpus) else 0.0))
      m.toMap
    }
    per.flatMap(_.keys).distinct.map(k => k -> median(per.map(_.getOrElse(k, 0.0)))).toMap
  }

}
