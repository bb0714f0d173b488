package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The engine benchmark: runs one workload for a given seed and writes a
  * result with the end-to-end metrics (untraced run) or the per-layer
  * metrics (traced run). See perfbench/README.md.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file>
  *        perfbench.Main --selftest --work <dir> --out <file>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  final case class Metric(value: Double, unit: String)

  /** What a workload run measured. `failures` names each failed
    * operation's cause. */
  final case class Result(attempted: Long, failures: Map[String, Long],
      endToEnd: Map[String, Metric], perLayer: Map[String, Double],
      details: Map[String, Any]) {
    def failed: Long = failures.values.sum
  }

  /** Per-layer metrics and their units; every traced run reports all of
    * them, 0 for a layer the workload does not exercise. */
  val PerLayer: Seq[(String, String)] = Seq(
    "config.build_ms" -> "ms",
    "input.file.scan_ms" -> "ms", "input.http.requests" -> "count",
    "input.http.non2xx" -> "count", "input.http.gen_late_ms_p99" -> "ms",
    "trigger.batches" -> "count", "trigger.rows_per_batch_p50" -> "rows",
    "trigger.exec_ms_p50" -> "ms", "trigger.addBatch_ms_p50" -> "ms",
    "trigger.queryPlanning_ms_p50" -> "ms", "trigger.latestOffset_ms_p50" -> "ms",
    "trigger.walCommit_ms_p50" -> "ms", "trigger.commitOffsets_ms_p50" -> "ms",
    "codec.json.apply_ms" -> "ms", "codec.json.exec_ms" -> "ms",
    "codec.json.jobs" -> "count", "codec.json.input_passes" -> "count",
    "proc.sql.apply_ms" -> "ms", "proc.sql.exec_ms" -> "ms",
    "proc.vrl.apply_ms" -> "ms", "proc.vrl.exec_ms" -> "ms",
    "proc.dedup.apply_ms" -> "ms", "proc.dedup.exec_ms" -> "ms", "proc.dedup.jobs" -> "count",
    "sink.write_ms" -> "ms", "sink.exec_ms" -> "ms", "sink.jobs" -> "count", "sink.bytes" -> "bytes",
    "errors.diverted_batches" -> "count") ++
    Trace.Layers.flatMap(l => Seq(
      s"$l.spark.jobs" -> "count", s"$l.spark.stages" -> "count",
      s"$l.spark.tasks" -> "count", s"$l.spark.executor_cpu_s" -> "s",
      s"$l.spark.gc_s" -> "s", s"$l.spark.shuffle_read_bytes" -> "bytes",
      s"$l.spark.shuffle_write_bytes" -> "bytes")) ++ Seq(
    "spark.slot_util" -> "ratio", "trace.overhead_pct" -> "%",
    "trace.unaccounted_pct" -> "%")

  val Workloads: Map[String, Args => (Result, SparkSession)] = Map(
    "json_ingest" -> (a => Batch.run(Batch.JsonIngest, a)),
    "corpus_dedup" -> (a => Batch.run(Batch.CorpusDedup, a)),
    "http_stream" -> (a => HttpStream.run(a)))

  /** A fresh engine session whose scratch files stay under `work`. */
  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = graft.GraftSession.builder(a.cpus.toString)
      .appName("perfbench")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** Exits explicitly: a failed run must not wait on threads (Spark, HTTP
    * servers) that would keep the JVM alive. */
  def main(argv: Array[String]): Unit = {
    val ok = try run(argv) catch {
      case scala.util.control.NonFatal(e) => e.printStackTrace(); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  def run(argv: Array[String]): Boolean = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    val out = Paths.get(kv("out")).toAbsolutePath
    if (argv.contains("--selftest"))
      return SelfTest.run(Args("selftest", 1, 1, trace = false, work, out))
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", work, out)
    val body = Workloads.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val (res, spark) = body(a)
    // one calibration reading per result: a contention covariate, not a gate
    val calib = graft.Bench.calibrate(spark)
    spark.stop()
    val context = Map("nproc" -> a.cpus, "spark_master" -> s"local[${a.cpus}]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "seed" -> a.seed,
      "workload" -> a.workload, "trace" -> a.trace, "calib_s" -> calib)
    val metrics =
      if (a.trace) PerLayer.map { case (n, u) => n -> Metric(res.perLayer.getOrElse(n, 0.0), u) }
      else res.endToEnd.toSeq
    val result = Json.obj(Seq(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, m) =>
        n -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))) }))))
    val lines = Seq(
      "context " + Json.obj(context.toSeq.sortBy(_._1)),
      "details " + Json.obj((res.details ++ Map("failures" -> Json.Raw(Json.obj(res.failures.toSeq)))).toSeq.sortBy(_._1)),
      result)
    Files.createDirectories(out.getParent)
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    true
  }
}

/** Memory a run keeps in use. The heap grows as far as the collector
  * chooses, so resident memory follows the collector's policy more than
  * the program; the memory in use right after a collection follows what
  * the program holds. */
object PeakMem {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
    case _ =>
  }

  /** Starts a window with a full collection, so garbage left by the work
    * before it is not counted in the window. */
  def reset(): Unit = {
    System.gc()
    synchronized { peak = 0L }
  }

  /** The most memory in use, heap and non-heap pools together, right
    * after any collection since [[reset]]; if none ran, what is in use
    * now. */
  def mb: Double = {
    val now = ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getUsage.getUsed).sum
    (if (peak > 0) peak else now) / 1048576.0
  }

  /** Peak resident memory of this process (Linux VmHWM). */
  def rssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + graft.streaming.Codecs.jsonEscape(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => value(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
