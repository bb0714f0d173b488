package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the engine's session config lives. Every local
  * entrypoint (Bench, Verify, ScaleProbe, Explain, streaming Main) and
  * perfbench build their session here, so a fix that changes measured
  * execution — the AQE coalescing floor, the tmpfs shuffle dir — reaches
  * the engine a real consumer gets, not just the benchmark, and probe
  * A/Bs run under the same config as the sweep (round-17's probes
  * silently lacked the bench's AQE floor, which corrupted two A/Bs).
  *
  * Core count comes from SPARK_GRAFT_CPUS unless the caller pins one.
  */
object GraftSession {

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Shuffle/spill files on tmpfs when available: on a host with
    * throttled buffered-disk writeback (the round-13 VM wrote ~20 MB/s
    * buffered) shuffle-file writes would otherwise dominate every
    * shuffle-heavy query. A real cluster provisions fast local NVMe for
    * exactly this role; tmpfs is the single-node equivalent. Falls back
    * to the JVM default tmp dir when /dev/shm is absent. */
  def localDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-local"); d.mkdirs(); d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }

  /** Engine session builder; callers append entrypoint-specific config
    * (appName, log level) and getOrCreate. */
  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE partition-coalescing floor (round-17 optimization, guide
      // §2.2/§2.5): parallelismFirst coalescing (default on) targets
      // full parallelism but never coalesces below minPartitionSize,
      // and the 1 MB default is a BYTES heuristic that serializes
      // CPU-DENSE stages — a candidate-generation self-join reads a
      // few MB of (key, id) rows and explodes them 15-30x through
      // per-row md5/decimal/array work, so AQE handed q178's wedge
      // stage 2 tasks (13.8 s of executor CPU on 2 of 32 cores;
      // measured stage table in OPTIMIZATION_r17.md). 64 KB keeps
      // such stages at full width (q89 3.56->0.96 s, q58 4.77->1.23 s,
      // q244 3.84->1.64 s; nothing regressed) while single-row
      // aggregates still coalesce to one task. Scale note: the floor
      // only binds when a shuffle carries < cores x 1 MB — on a
      // production cluster these exchanges carry GBs and coalescing
      // behaves identically with either value; this is a small-data
      // parallelism fix, not a local[32] tuning constant. Override via
      // SPARK_GRAFT_AQE_MIN_PARTITION.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"))
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); Spark's TimestampType is
      // micros-only, so read nanos as epoch-nano BIGINT (queries convert).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
