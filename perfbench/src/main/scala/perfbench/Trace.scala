package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.{Engine, Processors}

/** Tracing from outside the engine: spans around the calls into each
  * layer's public functions, Spark jobs tagged with the active layer, and
  * the trigger phases Spark reports per micro-batch.
  *
  * A unit is one pipeline run of a batch workload or one micro-batch of a
  * stream; every span and every job carries its unit's id. Spans stay in
  * memory until [[write]]. With `enabled` false every wrapper is a plain
  * call, which is how the untraced runs measure.
  */
final class Trace(spark: SparkSession) {
  import Trace.{Progress, Span}
  @volatile var enabled = false

  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val unitOf = new ThreadLocal[String]
  private val sc = spark.sparkContext

  def setUnit(u: String): Unit = unitOf.set(u)

  /** Runs `body` as span `name` of the current unit; jobs it launches
    * carry `name` as their layer. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val unit = Option(unitOf.get).getOrElse("none")
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevLayer = sc.getLocalProperty(Trace.LayerKey)
      val prevUnit = sc.getLocalProperty(Trace.UnitKey)
      sc.setLocalProperty(Trace.LayerKey, name)
      sc.setLocalProperty(Trace.UnitKey, unit)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Trace.LayerKey, prevLayer)
        sc.setLocalProperty(Trace.UnitKey, prevUnit)
        spans.synchronized(spans += Span(id, parent, unit, name, t0, t1))
      }
    }

  /** A processor wrapped in a span. It takes the micro-batch id when the
    * engine offers one, so a stream's spans share their batch's unit. */
  def wrap(layer: String, stream: String, p: Processors.BatchTransform): Processors.BatchTransform =
    new (DataFrame => DataFrame) with Engine.BatchIdAware {
      def apply(df: DataFrame): DataFrame = span(layer)(p(df))
      def apply(df: DataFrame, batchId: Long): DataFrame = {
        setUnit(s"$stream/$batchId"); apply(df)
      }
    }

  def wrapSink(stream: String, s: Engine.BatchSink): Engine.BatchSink =
    new Engine.BatchSink {
      def write(batch: DataFrame, batchId: Long): Unit = {
        if (stream.nonEmpty) setUnit(s"$stream/$batchId")
        span("sink")(s.write(batch, batchId))
      }
    }

  // ---- Spark scheduler counters per (unit, layer) ----

  final class Counts {
    var jobs, stages, tasks, cpuNs, gcMs, runMs, shuffleRead, shuffleWrite,
      recordsRead, bytesWritten = 0L
  }
  private val counts = mutable.HashMap[(String, String), Counts]()
  private val stageTag = mutable.HashMap[Int, (String, String)]()

  private def tagOf(p: java.util.Properties): (String, String) =
    if (p == null) ("none", "engine")
    else (Option(p.getProperty(Trace.UnitKey)).getOrElse("none"),
      Option(p.getProperty(Trace.LayerKey)).getOrElse("engine"))

  private def countsFor(k: (String, String)) = counts.getOrElseUpdate(k, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val k = tagOf(e.properties)
      countsFor(k).jobs += 1
      e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, k))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageTag.get(e.stageInfo.stageId).foreach(k => countsFor(k).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageTag.get(e.stageId).foreach { k =>
        val c = countsFor(k)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.runMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- trigger phases per micro-batch ----

  private val progress = mutable.ArrayBuffer[Progress]()
  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled && e.progress.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        progress.synchronized(progress += Progress(s"${p.name}/${p.batchId}",
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
  }

  sc.addSparkListener(listener)
  spark.streams.addListener(queryListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(queryListener)
  }

  // ---- summaries ----

  /** Spans, counters and progress of the units seen so far, once the
    * listener bus has delivered every event. */
  def snapshot(): (Seq[Span], Map[(String, String), Counts], Seq[Progress]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    (spans.synchronized(spans.toList), listener.synchronized(counts.toMap),
      progress.synchronized(progress.toList))
  }

  /** Writes the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"unit":"${s.unit}","name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, unit: String, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Progress(unit: String, rows: Long, phases: Map[String, Long])

  val LayerKey = "perfbench.layer"
  val UnitKey = "perfbench.unit"

  /** Layers whose Spark jobs are counted, by the name their spans carry. */
  val Layers = Seq("codec.json", "proc.sql", "proc.vrl", "proc.dedup", "sink", "engine")

  /** The span name of a processor kind. */
  def layerOf(kind: String): String = kind match {
    case "json_to_arrow" => "codec.json"
    case "dedup_recipe" => "proc.dedup"
    case other => s"proc.$other"
  }
}
