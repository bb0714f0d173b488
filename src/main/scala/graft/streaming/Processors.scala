package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Processors (SURVEY.md §2.3): batch-in/batch-out transforms applied in
  * order inside foreachBatch — the Spark shape of the reference pipeline
  * (crates/arkflow-core/src/pipeline/mod.rs:57-85). An empty output frame
  * is the `None` result; fan-out (`Multiple`) is a union.
  */
object Processors {

  type BatchTransform = DataFrame => DataFrame

  /** `sql` processor (processor/sql.rs:39-201): one statement, parsed and
    * checked when the processor is built — DDL/DML and unparsable SQL
    * fail at build like the reference's SQLOptions (sql.rs:185-201) —
    * and run per batch with the batch bound as `tableName` by plan
    * ([[Sql.bind]]): no catalog write, so streams sharing the session
    * never read each other's batch or replace a session view. Every
    * query also sees the graft function library ([[Sql.bind]] installs it).
    */
  final case class SqlProcessor(query: String, tableName: String = "flow")
      extends (DataFrame => DataFrame) {
    private val parsed = Sql.parse(query)
    def apply(batch: DataFrame): DataFrame = withViews(batch, Map.empty)
    /** Run the query with `views` bound alongside the batch. */
    private[streaming] def withViews(batch: DataFrame,
        views: Map[String, DataFrame]): DataFrame = {
      Sql.bind(batch.sparkSession, parsed, views + (tableName -> batch))
    }
  }

  /** `json_to_arrow` (processor/json.rs:38-72): binary JSON envelope ->
    * columns with per-batch inference and optional projection. Declare
    * `schema` when feeding schema-sensitive sinks — see [[Codecs.JsonCodec]]. */
  final case class JsonToArrow(fieldsToInclude: Seq[String] = Nil,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      extends (DataFrame => DataFrame) {
    def apply(batch: DataFrame): DataFrame =
      Codecs.JsonCodec(fieldsToInclude, schema).decode(batch)
  }

  /** `arrow_to_json` (processor/json.rs:75-114): serialize all columns to a
    * JSON-line `__value__`, keeping the original columns alongside. */
  case object ArrowToJson extends (DataFrame => DataFrame) {
    def apply(batch: DataFrame): DataFrame =
      batch.withColumn(Codecs.ValueCol,
        to_json(struct(batch.columns.map(col): _*)).cast("binary"))
  }

  /** `protobuf_to_arrow` / `arrow_to_protobuf` via the native wire-format
    * expressions in [[Protobuf]]. */
  final case class ProtobufToArrow(fields: Seq[ProtoField]) extends (DataFrame => DataFrame) {
    def apply(batch: DataFrame): DataFrame =
      batch.select(Protobuf.decode(col(Codecs.ValueCol), fields).as("__m")).select("__m.*")
  }
  final case class ArrowToProtobuf(fields: Seq[ProtoField]) extends (DataFrame => DataFrame) {
    def apply(batch: DataFrame): DataFrame =
      batch.select(Protobuf.encode(struct(fields.map(f => col(f.name)): _*), fields)
        .as(Codecs.ValueCol))
  }

  /** `batch` processor (processor/batch.rs:31-127): the reference merges
    * micro-batches up to count/size/interval; in Spark the trigger owns
    * batch granularity, so this is partition compaction only. */
  final case class BatchCompact(partitions: Int) extends (DataFrame => DataFrame) {
    def apply(batch: DataFrame): DataFrame = batch.coalesce(partitions)
  }

  /** `drift` processor — the ingest-side canary for "did the mix
    * change?": stamps every row of the micro-batch with the
    * Jensen–Shannon divergence of the batch's categorical `keyCol`
    * distribution from a fixed `baseline` (the streaming twin of the
    * batch-side q147). JSD is symmetric and ≤ ln 2, so one alert
    * threshold transfers across streams; route on the stamped column
    * with a downstream `sql` processor (`WHERE __drift_jsd > 0.2` →
    * alert sink / error_output).
    *
    * The per-batch state is one count per distinct key, bounded by
    * `maxKeys` — a key explosion throws (the house bounded-collect
    * rule) instead of silently growing driver state. An empty batch
    * stamps nothing and passes through (no rows to stamp).
    */
  final case class DriftMonitor(keyCol: String, baseline: Map[String, Double],
      outCol: String = "__drift_jsd", maxKeys: Int = 10000)
      extends (DataFrame => DataFrame) {
    require(baseline.nonEmpty, "drift baseline must not be empty")
    require(baseline.values.forall(_ >= 0) && baseline.values.sum > 0,
      "drift baseline weights must be non-negative with a positive sum")
    private val qDist: Map[String, Double] = {
      val s = baseline.values.sum
      baseline.map { case (k, v) => k -> v / s }
    }
    def apply(batch: DataFrame): DataFrame = {
      val rows = batch.groupBy(col(keyCol).cast("string").as("__k"))
        .agg(count(lit(1)).as("__c")).limit(maxKeys + 1).collect()
      if (rows.length > maxKeys)
        throw new IllegalStateException(
          s"drift monitor saw > $maxKeys distinct '$keyCol' keys in one batch")
      // MERGE null-key and ""-key counts (toMap would keep only one of
      // a NULL-source row group and a literal-empty one)
      val counts = rows
        .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1))
        .groupMapReduce(_._1)(_._2)(_ + _)
      val n = counts.values.sum.toDouble
      val jsd =
        if (n == 0) Double.NaN
        else {
          def term(x: Double, m: Double) = if (x > 0) x * math.log(x / m) else 0.0
          (counts.keySet ++ qDist.keySet).iterator.map { k =>
            val p = counts.getOrElse(k, 0L) / n
            val q = qDist.getOrElse(k, 0.0)
            val m = (p + q) / 2
            0.5 * (term(p, m) + term(q, m))
          }.sum
        }
      batch.withColumn(outCol,
        if (jsd.isNaN) lit(null).cast("double")
        else lit(math.rint(jsd * 1e6) / 1e6))
    }
  }

  /** Schema-drift guard for the per-batch inference flow: the reference
    * infers a schema per batch (component/json.rs:22-34), so an
    * upstream producer change silently reshapes every downstream
    * result. This processor pins a baseline — declared via `schema`
    * (DDL string) or latched from the FIRST batch — and handles each
    * later batch by `mode`:
    *
    *  - `fail`: throw with the field-level diff — the engine's
    *    error_output routing (streaming AND batch paths) diverts the
    *    batch, so bad data never reaches the sink;
    *  - `tag`: pass everything through with `__schema_changed` /
    *    `__schema_diff` columns stamped — route downstream with a
    *    `sql` processor exactly like the drift monitor;
    *  - `conform` (default): project to the baseline — matching
    *    columns cast to the baseline type, missing columns null-filled,
    *    extras dropped — the pragmatic contract a fixed-schema sink
    *    (JDBC, parquet append) needs to keep running through a
    *    producer migration.
    *
    * Comparison is by (name, dataType) on top-level fields, order-
    * insensitive (column order is presentation, not schema). Purely
    * plan-side per batch — no data pass, no driver collect.
    */
  final class SchemaGuard(mode: String,
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      extends (DataFrame => DataFrame) {
    require(Set("fail", "tag", "conform")(mode),
      s"schema_guard mode must be fail|tag|conform, got '$mode'")
    @volatile private var baseline: Option[org.apache.spark.sql.types.StructType] =
      declared
    private def diff(b: org.apache.spark.sql.types.StructType,
        s: org.apache.spark.sql.types.StructType): String = {
      val bf = b.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val sf = s.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val missing = (bf.keySet -- sf.keySet).toSeq.sorted
        .map(n => s"missing:$n ${bf(n)}")
      val added = (sf.keySet -- bf.keySet).toSeq.sorted
        .map(n => s"added:$n ${sf(n)}")
      val retyped = (bf.keySet & sf.keySet).toSeq.sorted
        .filter(n => bf(n) != sf(n))
        .map(n => s"retyped:$n ${bf(n)}->${sf(n)}")
      (missing ++ added ++ retyped).mkString("; ")
    }
    def apply(batch: DataFrame): DataFrame = baseline match {
      case None =>
        baseline = Some(batch.schema); batch
      case Some(b) =>
        val d = diff(b, batch.schema)
        if (d.isEmpty) {
          if (mode == "tag")
            batch.withColumn("__schema_changed", lit(false))
              .withColumn("__schema_diff", lit(""))
          else batch
        } else mode match {
          case "fail" =>
            throw new IllegalStateException(s"schema drift: $d")
          case "tag" =>
            batch.withColumn("__schema_changed", lit(true))
              .withColumn("__schema_diff", lit(d))
          case "conform" =>
            val have = batch.schema.fieldNames.toSet
            batch.select(b.fields.toSeq.map { f =>
              // try_cast: conform means DEGRADE to the baseline shape —
              // a drifted value that cannot convert becomes null; a plain
              // cast under default ANSI would kill the stream instead
              if (have(f.name)) col(f.name).try_cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
        }
    }
  }

  /** Rate cap with overflow carry: at most `maxRows` rows leave per
    * micro-batch; the excess is held back (localCheckpointed — rows
    * stay distributed on executors, lineage truncated) and released
    * ahead of the next batch. This bounds the per-trigger burst a
    * downstream sink sees — the processor-side complement of source
    * pacing (`maxOffsetsPerTrigger` paces what ENTERS; this paces what
    * LEAVES after fan-out processors may have multiplied rows).
    *
    * The split uses `zipWithIndex` — per-partition counts + offsets in
    * one extra pass, held rows keep their partition locality; no
    * global sort or single-partition window anywhere. At EOF and when
    * the query stops, the engine drains the carry through [[drain]],
    * still at most `maxRows` rows per release. Held rows are
    * session-scoped like the in-memory [[BatchAccumulator]]: a crash or
    * restart drops them (at-most-once) — put a durable accumulator
    * upstream when that matters.
    */
  final class RateCap(maxRows: Long) extends (DataFrame => DataFrame) with Engine.RowHolder {
    require(maxRows > 0, s"rate_cap max_rows must be positive, got $maxRows")
    private var pending: Option[DataFrame] = None
    // the previous trigger's cached input, unpersisted once its release
    // half has certainly been consumed (the next split or written())
    private var lastCached: Option[org.apache.spark.rdd.RDD[_]] = None
    def apply(batch: DataFrame): DataFrame =
      split(pending.fold(batch)(_.unionByName(batch)))
    /** The next release of the carry (at most `maxRows` rows). */
    def drain(): Option[DataFrame] = pending.map(split)
    /** Drops the last split's cache once the sink has written its release
      * — else the LAST trigger's input stays pinned for the session.
      * Safe for the carry: split checkpointed it EAGERLY while the cache
      * was alive, so the next split never reads the released lineage. */
    override def written(): Unit = {
      lastCached.foreach(_.unpersist(blocking = false))
      lastCached = None
    }

    /** Releases the first `maxRows` rows of `all` and holds the rest. */
    private def split(all: DataFrame): DataFrame = {
      val spark = all.sparkSession
      val schema = all.schema
      // local copy: the filter closures must not capture `this`
      // (RateCap holds a DataFrame and is not serializable)
      val cap = maxRows
      // cache the input ONCE: zipWithIndex's internal count job
      // materializes the cache, and the release/rest scans plus the
      // overflow checkpoint then all read it — without this the
      // upstream pipeline recomputes three times per trigger (the
      // previous split's cache goes first: its release is consumed)
      written()
      val src = all.rdd.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lastCached = Some(src)
      val indexed = src.zipWithIndex()
      val release = spark.createDataFrame(
        indexed.filter(_._2 < cap).map(_._1), schema)
      val rest = spark.createDataFrame(
        indexed.filter(_._2 >= cap).map(_._1), schema)
      // materialize the overflow BEFORE returning: the release frame
      // is consumed downstream and the union lineage must not replay
      // the source next trigger
      val restCp = rest.localCheckpoint(true)
      pending = if (restCp.isEmpty) None else Some(restCp)
      release
    }
    /** Rows currently held back (test/monitoring hook). */
    def pendingRows: Long = pending.map(_.count()).getOrElse(0L)
  }

  /** Cross-micro-batch accumulator (processor/batch.rs:31-127 — the
    * reference flushes on row count, byte size, OR wall-clock interval;
    * all three are supported, OR-combined, evaluated at batch
    * boundaries so flush lag is bounded by the trigger cadence).
    *
    * Two modes:
    *
    *  - In-memory (staging = None): pending batches are held as
    *    `localCheckpoint()`ed frames — rows stay distributed on executors,
    *    lineage is truncated so the union chain never grows, and counts
    *    are tracked incrementally (no re-count of prior batches).
    *    The engine drains the pending rows into the sink at EOF and
    *    when the query stops ([[drain]]); a crash or restart drops
    *    sub-threshold rows (at-most-once across restarts) — use staging
    *    when that matters.
    *
    *  - Staged (staging = Some(path)): every micro-batch lands in its own
    *    `__acc_batch=N` parquet partition via dynamic overwrite, so a
    *    replayed batch overwrites itself instead of duplicating, and
    *    pending rows SURVIVE a restart. A `_flushed_upto` marker records
    *    the last released partition; the one remaining at-most-once
    *    window — a crash exactly between marker advance and the
    *    downstream sink's commit — is documented, not hidden. Staged
    *    rows are not drained at stop: they wait on disk for the restart.
    *
    * Byte size in memory mode is rows × Catalyst per-type default width
    * (an estimate — the reference counts real arrow bytes); staged mode
    * sums the actual parquet bytes on disk.
    */
  final class BatchAccumulator(minRows: Long, maxBytes: Long = Long.MaxValue,
      maxIntervalMs: Long = Long.MaxValue, staging: Option[String] = None)
      extends (DataFrame => DataFrame) with Engine.BatchIdAware with Engine.RowHolder {

    private var pending: Option[DataFrame] = None
    private var pendingRows = 0L
    private var pendingBytes = 0L
    private var firstPendingAtNs = 0L

    override def apply(batch: DataFrame): DataFrame = apply(batch, -1L)

    override def apply(batch: DataFrame, batchId: Long): DataFrame =
      synchronized {
        staging match {
          case Some(path) if batchId >= 0 => applyStaged(batch, batchId, path)
          case _ => applyInMemory(batch)
        }
      }

    /** The in-memory pending rows, cleared. A staged accumulator inside
      * a streaming query holds nothing in memory, so it drains None. */
    def drain(): Option[DataFrame] = synchronized {
      val out = pending
      pending = None; pendingRows = 0L; pendingBytes = 0L
      out
    }

    private def shouldFlush(rows: Long, bytes: Long, ageMs: Long): Boolean =
      rows >= minRows || bytes >= maxBytes || ageMs >= maxIntervalMs

    private def applyInMemory(batch: DataFrame): DataFrame = {
      val b = batch.localCheckpoint()
      val n = b.count()
      val rowWidth = batch.schema.map(_.dataType.defaultSize).sum.toLong
      if (pending.isEmpty) firstPendingAtNs = System.nanoTime()
      val merged = pending.map(_.unionByName(b)).getOrElse(b)
      pendingRows += n
      pendingBytes += n * rowWidth
      val ageMs = (System.nanoTime() - firstPendingAtNs) / 1000000L
      if (shouldFlush(pendingRows, pendingBytes, ageMs)) {
        pending = None; pendingRows = 0L; pendingBytes = 0L
        merged
      } else {
        pending = Some(merged)
        Engine.heldBackSentinel(batch.sparkSession)
      }
    }

    /** Per-partition pending stats, derived once from parquet FOOTERS
      * (metadata-only — never a Spark job, never a data read) and cached:
      * a partition's stats refresh only when it is just-written (replay
      * overwrite) or absent from the cache (fresh restart). Flush checks
      * are therefore O(1) amortized per micro-batch; the data itself is
      * read exactly once, at flush. */
    private case class PartStat(rows: Long, bytes: Long, mtimeMs: Long)
    private val stagedStats = scala.collection.mutable.Map[Long, PartStat]()

    private def readPartStat(fs: org.apache.hadoop.fs.FileSystem,
        conf: org.apache.hadoop.conf.Configuration,
        dir: org.apache.hadoop.fs.FileStatus): PartStat = {
      val files = fs.listStatus(dir.getPath)
        .filter(f => !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      val rows = files.filter(_.getPath.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
      PartStat(rows, files.map(_.getLen).sum, dir.getModificationTime)
    }

    private def applyStaged(batch: DataFrame, batchId: Long, path: String): DataFrame = {
      val spark = batch.sparkSession
      batch.withColumn("__acc_batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__acc_batch")
        .parquet(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      val flushedUpto = readMarker(fs, path)
      val pending = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__acc_batch="))
        .map(s => s.getPath.getName.stripPrefix("__acc_batch=").toLong -> s)
        .filter(_._1 > flushedUpto)
      stagedStats.filterInPlace((id, _) => id > flushedUpto)
      pending.foreach { case (id, dir) =>
        if (id == batchId || !stagedStats.contains(id))
          stagedStats(id) = readPartStat(fs, conf, dir)
      }
      val n = stagedStats.valuesIterator.map(_.rows).sum
      val bytes = stagedStats.valuesIterator.map(_.bytes).sum
      val ageMs = if (stagedStats.isEmpty) 0L
        else System.currentTimeMillis() - stagedStats.valuesIterator.map(_.mtimeMs).min
      if (shouldFlush(n, bytes, ageMs)) {
        writeMarker(fs, path, batchId)
        stagedStats.clear()
        spark.read.parquet(path)
          .filter(col("__acc_batch") > flushedUpto)
          .drop("__acc_batch")
      } else Engine.heldBackSentinel(batch.sparkSession)
    }

    private def markerPath(path: String) =
      new org.apache.hadoop.fs.Path(path, "_flushed_upto")

    private def readMarker(fs: org.apache.hadoop.fs.FileSystem, path: String): Long =
      if (!fs.exists(markerPath(path))) -1L
      else {
        val in = fs.open(markerPath(path))
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }

    private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, path: String,
        upto: Long): Unit = {
      val out = fs.create(markerPath(path), true)
      try out.write(upto.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Count-based sliding window over MICRO-BATCHES — the config-level
    * `sliding_window` buffer (sliding_window.rs:41-50): hold incoming
    * batches in a queue; once `windowSize` batches are queued, emit
    * their concatenation as one window and slide forward by `slideSize`
    * batches (overlapping windows). Exactly the reference's
    * process_slide over message batches, with Spark's micro-batch as
    * the message-batch unit and the trigger interval as the reference's
    * emission timer. Queued batches are localCheckpointed — rows stay
    * distributed on executors, only the driver-side queue of frame
    * HANDLES is state. A partial window at stream end is dropped, as
    * the reference's close does (read() → None once cancelled).
    */
  final class SlidingWindowBuffer(windowSize: Int, slideSize: Int)
      extends (DataFrame => DataFrame) {
    // sliding_window.rs builder validation (build → Error::Config)
    require(windowSize > 0, s"window_size must be positive, got $windowSize")
    require(slideSize > 0, s"slide_size must be positive, got $slideSize")
    require(windowSize >= slideSize,
      s"window_size ($windowSize) must be >= slide_size ($slideSize)")
    private val queue = scala.collection.mutable.Queue[DataFrame]()
    def apply(batch: DataFrame): DataFrame = synchronized {
      queue.enqueue(batch.localCheckpoint())
      if (queue.size >= windowSize) {
        val window = queue.take(windowSize)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        (0 until slideSize).foreach(_ => queue.dequeue())
        window
      } else Engine.heldBackSentinel(batch.sparkSession)
    }
    /** Batches currently queued (test/monitoring hook). */
    def pendingBatches: Int = synchronized(queue.size)
  }

  /** Gap-based session window over MICRO-BATCHES — the config-level
    * `session_window` buffer (session_window.rs:40-49): batches
    * accumulate into the current session; a batch arriving after
    * `gapMs` of silence CLOSES the previous session (it is emitted)
    * and opens a new one with the arriving batch. Spark's micro-batch
    * engine only runs the pipeline on arrivals, so emission is
    * arrival-driven (the reference's timer fires during silence; here
    * the close is observed at the next arrival or at EOF) — the
    * session CONTENTS are identical. The engine drains the still-open
    * session at EOF (so a one-shot input's single session is emitted,
    * the reference's buffer.flush() at stream end) and when the query
    * stops ([[drain]]).
    */
  final class SessionWindowBuffer(gapMs: Long) extends (DataFrame => DataFrame)
      with Engine.RowHolder {
    require(gapMs > 0, s"session_window gap must be positive, got $gapMs")
    private var pending: Option[DataFrame] = None
    private var pendingDepth = 0
    private var lastArrivalNs = 0L
    def apply(batch: DataFrame): DataFrame = synchronized {
      val now = System.nanoTime()
      val gapElapsed = pending.nonEmpty &&
        (now - lastArrivalNs) / 1000000L >= gapMs
      val b = batch.localCheckpoint()
      lastArrivalNs = now
      if (gapElapsed) {
        val out = pending.get
        pending = Some(b)
        pendingDepth = 1
        out
      } else {
        var merged = pending
          .map(_.unionByName(b, allowMissingColumns = true)).getOrElse(b)
        pendingDepth += 1
        // collapse the union tree periodically: a long-lived session
        // otherwise grows a left-deep plan of one Union per batch, and
        // every apply() re-analyzes it (driver cost linear per batch,
        // analyzer stack depth at emit) — the BatchAccumulator's
        // lineage-truncation discipline, amortized
        if (pendingDepth >= 32) {
          merged = merged.localCheckpoint(true)
          pendingDepth = 1
        }
        pending = Some(merged)
        Engine.heldBackSentinel(batch.sparkSession)
      }
    }
    /** The still-open session, cleared — the reference's flush-then-read
      * at stream end. */
    def drain(): Option[DataFrame] = synchronized {
      val out = pending
      pending = None
      out
    }
  }

  /** `python` processor (processor/python.rs:27-140): user Python over
    * Arrow record batches — `body` is the indented body of
    * `transform(batch: pyarrow.RecordBatch) -> pyarrow.RecordBatch`,
    * executed by a per-partition python3 worker over the Arrow IPC pipe
    * ([[org.apache.spark.sql.GraftArrowPipe]]). `outputSchema` is DDL
    * ("x BIGINT, y STRING"); when OMITTED the schema is inferred per
    * micro-batch the reference's way (processor/python.rs takes the
    * returned RecordBatch's schema) — the same worker runs once,
    * driver-side, over a ≤8-row sample, and the distributed pass uses
    * the inferred schema. Declare the DDL to pin a contract for
    * fixed-schema sinks (and skip the per-batch probe). */
  final case class PythonProcessor(body: String, outputSchema: Option[String],
      function: Option[String] = None, module: Option[String] = None,
      pythonPath: Seq[String] = Nil)
      extends (DataFrame => DataFrame) {
    import org.apache.spark.sql.GraftArrowPipe
    // `function:` present → the REFERENCE shape (processor/python.rs):
    // `script` is a full module source (or absent, with `module:` naming
    // an importable found on `python_path`) and `function` the callable.
    // No `function:` → the engine's body-only shorthand (indented
    // statements of a fixed transform(batch)).
    private val entry: GraftArrowPipe.PythonEntry = function match {
      case None => GraftArrowPipe.PythonEntry.body(body)
      case Some(f) => GraftArrowPipe.PythonEntry(
        Option(body).filter(_.trim.nonEmpty),
        module.filter(_ != "__main__"), f, pythonPath)
    }
    def apply(batch: DataFrame): DataFrame = outputSchema match {
      case Some(ddl) =>
        GraftArrowPipe.pipePython(batch, entry,
          org.apache.spark.sql.types.StructType.fromDDL(ddl), 4096)
      case None =>
        // localCheckpoint BEFORE the probe: the upstream plan executes
        // exactly once — the ≤8-row schema probe and the distributed
        // pass both read the materialized partitions (the probe's
        // executeCollect would otherwise re-run side-effecting upstream
        // work). The SAMPLED rows still pass through the user transform
        // twice (probe worker + distributed worker) — inherent to
        // inference-by-running, documented here; declare output_schema:
        // to skip the probe entirely. The checkpointed blocks are freed
        // by the ContextCleaner when the frame goes out of scope.
        val mat = batch.localCheckpoint(eager = true)
        GraftArrowPipe.inferPythonSchema(mat, entry, 8) match {
          case Some(s) => GraftArrowPipe.pipePython(mat, entry, s, 4096)
          // empty batch: the transform never runs (no batches reach the
          // worker loop), so the empty frame passes through
          case None => mat
        }
    }
  }

  /** VRL-substitute (processor/vrl.rs — no JVM VRL interpreter exists):
    * the capability is "safe per-row transform DSL"; covered by a list of
    * SQL expressions applied as a projection. */
  final case class ExprProcessor(exprs: Seq[String]) extends (DataFrame => DataFrame) {
    require(exprs.nonEmpty, "expr processor needs a non-empty `exprs` list")
    def apply(batch: DataFrame): DataFrame = batch.selectExpr(exprs: _*)
  }

  /** Remap DSL — the documented semantic port of the VRL processor
    * (SURVEY.md §2.3 vrl row): a line-per-statement program of
    * field assignments and deletions, compiled to Catalyst expressions
    * (never a row-at-a-time interpreter):
    *
    * {{{
    *   .fahrenheit = .value * 9 / 5 + 32   // assignment, .field refs
    *   .sensor = upper(.sensor)            // any SQL function
    *   del(.timestamp)                     // drop a field
    * }}}
    */
  final case class RemapProcessor(program: String,
      timezone: Option[String] = None) extends (DataFrame => DataFrame) {
    // the lookbehind excludes chars a PATH CONTINUATION follows — a word
    // (`.a.b`: only the root rewrites, the tail stays struct access), a
    // close-paren (`f(x).field`), and a close-BRACKET (`.m.arr[0].field`
    // — round-13 fix: the segment after a subscript used to rewrite into
    // a phantom root column)
    private val FieldRef = "(?<![A-Za-z0-9_)\\]])\\.([A-Za-z_][A-Za-z0-9_]*)".r
    // VRL metadata refs `%name` → the engine's SQL-visible `__meta_name`
    // columns (SURVEY.md §1.2; the reference surfaces source metadata to
    // VRL as %-paths, this engine as __meta_ event columns). The `%` must
    // be IMMEDIATELY followed by the name — `a % b` stays modulo; write
    // compact modulo with spaces.
    private val MetaRef = "%([A-Za-z_][A-Za-z0-9_]*)".r
    private val Del = """del\(\s*\.([A-Za-z_][A-Za-z0-9_]*)\s*\)""".r
    // nested deletion `del(.a.b[.c…])` → dropFields on the root struct
    private val DelNested =
      """del\(\s*\.([A-Za-z_][A-Za-z0-9_]*)((?:\.[A-Za-z_][A-Za-z0-9_]*)+)\s*\)""".r
    // VRL fallible assignment `.field, err = rhs` (the reference's own
    // example program, examples/vrl_example.yaml:15): the first target
    // gets the try-evaluated value (null on error), the second the error
    // message (null on success) — [[graft.functions.TryOps]]. A bare
    // error target is a local VARIABLE like VRL's (readable by later
    // statements, absent from the output event); write `.err` to land
    // it as an event field.
    // (?s): an rhs may span lines inside braces — a multi-line closure
    // body or expression-form if survives splitTop as one statement.
    // The err target's dot is CAPTURED: `.f, err = …` binds the error to
    // a local VARIABLE (never part of the output event, like VRL);
    // `.f, .err = …` writes a real event field.
    private val FallibleAssign =
      """(?s)\.([A-Za-z_][A-Za-z0-9_]*)\s*,\s*(\.?)([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
    private val Assign = """(?s)\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
    // nested assignment `.a.b[.c…] = rhs` — mutates INSIDE the root
    // struct column (VRL path assignment)
    private val AssignNested =
      """(?s)\.([A-Za-z_][A-Za-z0-9_]*)((?:\.[A-Za-z_][A-Za-z0-9_]*)+)\s*=\s*(.+)""".r
    // whole-event replacement `. = rhs` (VRL's final-expression result):
    // an object becomes THE event; an array of objects FANS OUT to one
    // event per element (the reference's ProcessResult::Multiple,
    // processor/vrl.rs — an empty array drops the event)
    private val DotAssign = """(?s)\.\s*=\s*(.+)""".r
    // bare local variables (VRL variables are program state, not event
    // fields): `x = rhs`, `x, err = rhs` — stored as __vrl_var_* columns
    // while the program runs, dropped from the returned frame
    private val VarFallible =
      """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*,\s*(\.?)([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
    private val VarAssign = """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*=\s*([^=].*)""".r
    // string literals: single-quoted SQL form ('' escapes the quote) AND
    // VRL's double-quoted form with backslash escapes — both restored
    // verbatim (Spark SQL parses "..." as a string literal with backslash
    // escapes under the default non-ANSI identifier mode, matching VRL's
    // escape semantics)
    private val Literal = ("'(?:[^']|'')*'" + "|\"(?:[^\"\\\\]|\\\\.)*\"").r

    // VRL stdlib names mapped to the Spark SQL function with identical
    // semantics, rewritten at CALL sites only (an `upcase(` call, never a
    // field or literal — literals are masked, fields backticked by the
    // time this runs). Fallible VRL conversions (to_int etc.) map to
    // Spark's cast functions, whose failure the `, err =` form catches
    // via try_pair — composition matches VRL's fallible-call semantics.
    private val FnAliases = Seq(
      "upcase" -> "upper", "downcase" -> "lower",
      "strip_whitespace" -> "trim",
      "to_string" -> "string", "to_int" -> "bigint",
      "to_float" -> "double", "to_bool" -> "boolean",
      // starts_with/ends_with/contains carry VRL's `case_sensitive:`
      // option (round-13; the insensitive form lowercases both sides)
      "starts_with" -> "graft_vrl_starts_with",
      "ends_with" -> "graft_vrl_ends_with",
      "contains" -> "graft_vrl_contains",
      // round-13 tranche 4 upgraded truncate from a bare `left` alias:
      // the kernel alias appends VRL's `suffix:` (or legacy ellipsis)
      // only when the string was actually cut; join's separator is
      // optional in VRL (defaults to "")
      "truncate" -> "graft_vrl_truncate", "join" -> "graft_vrl_join",
      // dual dialect: `%` formats are VRL strftime (translated once at
      // analysis), others pass through as Java patterns; optional
      // `timezone:` third argument
      "format_timestamp" -> "graft_vrl_format_timestamp",
      // VRL's 2nd argument is a UNIT, not a format pattern — the bare
      // unix_timestamp alias misrouted `unit: 'milliseconds'`
      "to_unix_timestamp" -> "graft_vrl_to_unix_timestamp",
      // 0-based/end-exclusive/negative-index slice has no Spark twin —
      // [[graft.functions.VrlSlice]], registered at apply()
      "slice" -> "graft_vrl_slice",
      // array stdlib (VRL `push`/`includes` keep VRL's arg order, which
      // matches Spark's); `append` concatenates two arrays = concat
      "push" -> "array_append", "includes" -> "array_contains",
      "append" -> "concat",
      // strlen counts CHARACTERS; VRL's polymorphic `length` (array
      // elems / map entries / string BYTES) is [[graft.functions.VrlLib]]
      "strlen" -> "char_length", "length" -> "graft_vrl_length",
      // strftime-format timestamp parse, translated at analysis —
      // [[graft.functions.VrlStrptime]]
      "parse_timestamp" -> "graft_vrl_strptime",
      "uuid_v4" -> "uuid", "encode_json" -> "to_json",
      // VRL 1-arg parse_url → parts struct; parse_regex named captures →
      // struct of codegen regexp_extracts — [[graft.functions.VrlLib]]
      "parse_url" -> "graft_vrl_parse_url",
      "parse_regex" -> "graft_vrl_parse_regex",
      // log-pipeline stdlib tail (vrl stdlib): quote-aware key=value
      // parse, RFC 5424/3164 syslog structs, IPv4 CIDR math, address
      // classifiers — [[graft.functions.VrlLib]] / VrlParseKeyValue
      "parse_key_value" -> "graft_vrl_parse_kv",
      "parse_grok" -> "graft_vrl_parse_grok",
      "parse_syslog" -> "graft_vrl_parse_syslog",
      "ip_cidr_contains" -> "graft_vrl_ip_cidr_contains",
      "is_ipv4" -> "graft_vrl_is_ipv4",
      "is_ipv6" -> "graft_vrl_is_ipv6",
      // access-log / duration / address tranche (vrl stdlib) — all
      // codegen compositions in [[graft.functions.VrlLib]]; format and
      // unit arguments are positional (VRL also accepts them named —
      // `unit: "s"` — which this dialect does not parse; documented)
      "parse_common_log" -> "graft_vrl_parse_common_log",
      "parse_apache_log" -> "graft_vrl_parse_apache_log",
      "parse_nginx_log" -> "graft_vrl_parse_nginx_log",
      "parse_duration" -> "graft_vrl_parse_duration",
      "encode_base64" -> "graft_vrl_encode_base64",
      "decode_base64" -> "graft_vrl_decode_base64",
      "strip_ansi_escape_codes" -> "graft_vrl_strip_ansi",
      "ip_aton" -> "graft_vrl_ip_aton",
      "ip_ntoa" -> "graft_vrl_ip_ntoa",
      "to_syslog_severity" -> "graft_vrl_to_syslog_severity",
      "to_syslog_level" -> "graft_vrl_to_syslog_level",
      "parse_user_agent" -> "graft_vrl_parse_user_agent",
      "parse_query_string" -> "graft_vrl_parse_query_string",
      // crypto/encoding tranche: quote-aware single-record CSV kernel,
      // JDK digests (VRL's sha2 DEFAULT is SHA-512/224, inexpressible in
      // Spark's sha2(expr, bits)), raw-bytes hmac, lowercase base16
      "parse_csv" -> "graft_vrl_parse_csv",
      "sha2" -> "graft_vrl_sha2",
      "hmac" -> "graft_vrl_hmac",
      "encode_base16" -> "graft_vrl_encode_base16",
      "decode_base16" -> "graft_vrl_decode_base16",
      // runtime VALUE null tests (the static per-frame TYPE guards —
      // is_string etc. — are markers resolved in resolveExists instead)
      "is_null" -> "isnull",
      "is_nullish" -> "graft_vrl_is_nullish",
      // map/array stdlib. `merge` covers map, struct and mixed operands
      // with VRL's from-wins collision semantics and optional `deep:` —
      // [[graft.functions.VrlMerge]]. `values` rewrites only CALL sites,
      // so it cannot collide with a field of that name (fields are
      // backticked before this pass).
      "merge" -> "graft_vrl_merge",
      "keys" -> "map_keys",
      "values" -> "map_values",
      // logfmt family: parse_logfmt IS parse_key_value's default
      // dialect; the encoders are the exact inverse kernel (quote when
      // the value holds a delimiter/quote), gzip/zlib ride the JDK
      "parse_logfmt" -> "graft_vrl_parse_kv",
      "encode_logfmt" -> "graft_vrl_encode_kv",
      "encode_key_value" -> "graft_vrl_encode_kv",
      // round-12 tranche: RFC 4180 single-record encoder (parse_csv's
      // exact inverse), radix/prefix integer parse (null on bad input,
      // composing with `??` like the other fallible conversions), and
      // the unit-bearing epoch→timestamp conversions
      "encode_csv" -> "graft_vrl_encode_csv",
      "parse_int" -> "graft_vrl_parse_int",
      "to_timestamp" -> "graft_vrl_to_timestamp",
      "from_unix_timestamp" -> "graft_vrl_to_timestamp",
      // security-log / string-shaping tranche: CEF (header struct +
      // extension map), case conversions, AES ciphers, percent/punycode
      // codecs, format_int (parse_int's inverse)
      "parse_cef" -> "graft_vrl_parse_cef",
      // AWS log family + PII redaction; parse_linux_authorization is
      // RFC 3164 syslog (auth.log lines are plain 3164 — the syslog shim
      // already covers both RFC forms)
      "parse_aws_alb_log" -> "graft_vrl_parse_aws_alb_log",
      "parse_aws_vpc_flow_log" -> "graft_vrl_parse_aws_vpc_flow_log",
      "parse_linux_authorization" -> "graft_vrl_parse_syslog",
      "redact" -> "graft_vrl_redact",
      // glog/klog share one line format; parse_tokens is the classic
      // access-log tokenizer; sieve keeps only the permitted pattern
      "parse_glog" -> "graft_vrl_parse_glog",
      "parse_klog" -> "graft_vrl_parse_glog",
      // parse_xml → VARIANT (the parse_json path): schemaless nesting,
      // attributes as "@name", repeated elements as arrays, text under
      // "text" — extract with variant_get / to_string like parse_json
      "parse_xml" -> "graft_vrl_parse_xml",
      // parse_etld → {etld, etld_plus, known_suffix} against an embedded
      // public-suffix snapshot subset (functions/VrlEtld.scala)
      "parse_etld" -> "graft_vrl_parse_etld",
      // round-13 tranche 2 (functions/VrlMisc.scala): size strings,
      // number formatting, repeated regex capture, the Community ID
      // flow hash, binary/subnet IP helpers, MIME encoded-words, UUIDv7,
      // and the zstd/snappy codecs on Spark's own bundled native libs
      "parse_bytes" -> "graft_vrl_parse_bytes",
      // round-13 tranche 3: guards, environment, array tallies, legacy
      // ruby hashes (the VARIANT path), substring find
      "assert" -> "graft_vrl_assert",
      "random_bool" -> "graft_vrl_random_bool",
      "random_int" -> "graft_vrl_random_int",
      "random_float" -> "graft_vrl_random_float",
      "assert_eq" -> "graft_vrl_assert_eq",
      "get_env_var" -> "graft_vrl_get_env_var",
      "get_hostname" -> "graft_vrl_get_hostname",
      "tally" -> "graft_vrl_tally",
      "tally_value" -> "graft_vrl_tally_value",
      "contains_all" -> "graft_vrl_contains_all",
      "find" -> "graft_vrl_find",
      "parse_ruby_hash" -> "graft_vrl_parse_ruby_hash",
      "parse_aws_cloudwatch_log_subscription_message" -> "graft_vrl_parse_aws_cloudwatch",
      "parse_float" -> "graft_vrl_parse_float",
      "parse_regex_all" -> "graft_vrl_parse_regex_all",
      "community_id" -> "graft_vrl_community_id",
      "ip_pton" -> "graft_vrl_ip_pton",
      "ip_ntop" -> "graft_vrl_ip_ntop",
      "ip_subnet" -> "graft_vrl_ip_subnet",
      "ip_to_ipv6" -> "graft_vrl_ip_to_ipv6",
      "decode_mime_q" -> "graft_vrl_decode_mime_q",
      "uuid_v7" -> "graft_vrl_uuid_v7",
      "encode_zstd" -> "graft_vrl_encode_zstd",
      "decode_zstd" -> "graft_vrl_decode_zstd",
      "encode_snappy" -> "graft_vrl_encode_snappy",
      "decode_snappy" -> "graft_vrl_decode_snappy",
      "format_number" -> "graft_vrl_format_number",
      "parse_tokens" -> "graft_vrl_parse_tokens",
      "sieve" -> "graft_vrl_sieve",
      "camelcase" -> "graft_vrl_camelcase",
      "pascalcase" -> "graft_vrl_pascalcase",
      "snakecase" -> "graft_vrl_snakecase",
      "screamingsnakecase" -> "graft_vrl_screaming_snakecase",
      "kebabcase" -> "graft_vrl_kebabcase",
      "encrypt" -> "graft_vrl_encrypt",
      "decrypt" -> "graft_vrl_decrypt",
      "encode_percent" -> "graft_vrl_encode_percent",
      "decode_percent" -> "graft_vrl_decode_percent",
      "encode_punycode" -> "graft_vrl_encode_punycode",
      "decode_punycode" -> "graft_vrl_decode_punycode",
      "format_int" -> "graft_vrl_format_int",
      "encode_gzip" -> "graft_vrl_encode_gzip",
      "decode_gzip" -> "graft_vrl_decode_gzip",
      "encode_zlib" -> "graft_vrl_encode_zlib",
      "decode_zlib" -> "graft_vrl_decode_zlib",
      "unique" -> "array_distinct",
      "sort" -> "array_sort",
      // VRL compact also drops empty strings and covers objects (maps) —
      // graduated from the bare array_compact alias in round 13
      "compact" -> "graft_vrl_compact",
      "bool" -> "boolean",
      // round-13 tranche 4 (vrl 0.30 stdlib): SHA-3 and SeaHash digests,
      // byte chunking, container emptiness, the zip/object_from_array
      // pair, multi-pattern regex tests, the syslog facility keyword
      // pair, the rate-limited log sink, charset transcoding, and the
      // InfluxDB line-protocol / CBOR / multi-grok parsers (the latter
      // three on the VARIANT / unified-struct paths)
      "sha3" -> "graft_vrl_sha3",
      "seahash" -> "graft_vrl_seahash",
      "chunks" -> "graft_vrl_chunks",
      "is_empty" -> "graft_vrl_is_empty",
      "zip" -> "graft_vrl_zip",
      "object_from_array" -> "graft_vrl_object_from_array",
      "match_any" -> "graft_vrl_match_any",
      "match_array" -> "graft_vrl_match_array",
      "to_syslog_facility" -> "graft_vrl_to_syslog_facility",
      "to_syslog_facility_code" -> "graft_vrl_to_syslog_facility_code",
      "log" -> "graft_vrl_log",
      "decode_charset" -> "graft_vrl_decode_charset",
      "encode_charset" -> "graft_vrl_encode_charset",
      "parse_influxdb_line_protocol" -> "graft_vrl_parse_influxdb",
      "parse_cbor" -> "graft_vrl_parse_cbor",
      "parse_groks" -> "graft_vrl_parse_groks",
      // proto descriptor pair riding the native wire codec
      // (streaming/Protobuf.scala): .proto source OR compiled .desc
      "parse_proto" -> "graft_vrl_parse_proto",
      "encode_proto" -> "graft_vrl_encode_proto",
      // polymorphic flatten (array → fully-flattened array; struct →
      // separator-joined keys, VRL's object flatten) and strftime-aware
      // format_timestamp with the `timezone:` option
      "flatten" -> "graft_vrl_flatten",
      "unflatten" -> "graft_vrl_unflatten",
      // round-13 tranche 5: v4-mapped unwrap, random bytes, the session
      // zone name, and JSON validity (+ variant narrowing)
      "ipv6_to_ipv4" -> "graft_vrl_ipv6_to_ipv4",
      "random_bytes" -> "graft_vrl_random_bytes",
      "get_timezone" -> "graft_vrl_get_timezone",
      "is_json" -> "graft_vrl_is_json",
      // match(value, r'…') → regexp test; the raw-string literal keeps
      // its backslashes through the masking pass like parse_regex's
      "match" -> "rlike")
    // VRL stdlib names that are ALREADY the Spark function with matching
    // semantics (no alias entry needed, listed for the record):
    // parse_json → Spark 4 VARIANT parse_json;
    // replace(s, search, with) (replaces every occurrence, like VRL);
    // now() → current timestamp; abs/round/floor/ceil/mod; split
    // (regex pattern, like VRL's r'…' form);
    // md5/sha1; filter — via the closure rewrite below. (sha2 is NOT a
    // pass-through: VRL's variant argument is a string with a
    // SHA-512/224 default — the kernel alias above. flatten and
    // contains graduated from pass-throughs to dispatch/option kernels
    // in round 13.)

    /** Brace-matcher shared by the else-if desugar and the statement
      * compiler: `open` indexes a '{'; returns the index of its matching
      * '}' (literals are already masked, so braces are all syntax). */
    private def matchBraceIn(s: String, open: Int): Int = {
      var depth = 0
      var i = open
      while (i < s.length) {
        if (s(i) == '{') depth += 1
        else if (s(i) == '}') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      throw new IllegalArgumentException(s"remap: unclosed brace in `${unmask(s)}`")
    }

    /** End (exclusive) of the if-chain starting at `ifStart` (the 'i' of
      * an `if`): then-block, then any `else if` links, then the final
      * `else { }` if present. */
    private def endOfIfChain(s: String, ifStart: Int): Int = {
      val open = s.indexOf('{', ifStart)
      require(open > ifStart, s"remap: malformed if `${unmask(s.substring(ifStart))}`")
      val thenEnd = matchBraceIn(s, open)
      var i = thenEnd + 1
      while (i < s.length && s(i).isWhitespace) i += 1
      if (!s.startsWith("else", i)) thenEnd + 1
      else {
        var j = i + 4
        while (j < s.length && s(j).isWhitespace) j += 1
        if (s.startsWith("if", j)) endOfIfChain(s, j)
        else if (j < s.length && s(j) == '{') matchBraceIn(s, j) + 1
        else throw new IllegalArgumentException(
          s"remap: malformed else in `${unmask(s.substring(i))}`")
      }
    }

    /** Desugar expression-form `else if` chains into nested
      * `else { if ... }` so the innermost-first CASE rewrite below
      * handles them (VRL if/else-if/else, processor/vrl.rs control
      * flow). Statement-form chains never reach this: they are parsed
      * natively by [[compileIfStatement]]. */
    private def desugarElseIf(s0: String): String = {
      var s = s0
      val P = """(?s)\belse\s+if\b""".r
      var m = P.findFirstMatchIn(s)
      while (m.isDefined) {
        val mm = m.get
        val ifStart = mm.end - 2
        val end = endOfIfChain(s, ifStart)
        s = s.substring(0, mm.start) + "else { " +
          s.substring(ifStart, end) + " }" + s.substring(end)
        m = P.findFirstMatchIn(s)
      }
      s
    }

    // VRL expression-form conditional `if COND { A } else { B }` →
    // CASE WHEN. Innermost-first loop handles nesting; a no-else form
    // yields NULL. `else if` chains are desugared to nested else{if}
    // first, so each loop pass sees only the two-armed form.
    private val IfExpr =
      """if\s+([^{}]+?)\s*\{\s*([^{}]+?)\s*\}(?:\s*else\s*\{\s*([^{}]+?)\s*\}|(?!\s*else))""".r

    private def vrlRewrites(s0: String): String = {
      // `??` first — it recurses into brace bodies, so an error-coalesce
      // inside an if-branch rewrites at its own level BEFORE the branch
      // text is transplanted into CASE syntax
      var s = desugarElseIf(rewriteCoalesceErr(s0))
      var changed = true
      while (changed) {
        val n = IfExpr.replaceAllIn(s, m =>
          java.util.regex.Matcher.quoteReplacement(
            s"CASE WHEN ${m.group(1)} THEN ${m.group(2)} ELSE ${Option(m.group(3)).getOrElse("NULL")} END"))
        changed = n != s
        s = n
      }
      s = rewriteClosures(s)
      // after the if-expression and closure rewrites, remaining brackets
      // and braces are VRL array/object literals
      s = rewriteArrayLiterals(s)
      s = rewriteObjectLiterals(s)
      // parse_xml OPTIONS are label-aware: callers pass SUBSETS of its
      // eight named options (`parse_xml(.x, text_key: "value")`), which
      // the generic strip-labels-keep-positions pass below would misbind
      // (a lone text_key would land in trim's slot). Pack the labeled
      // options into ONE canonical `k=v;…` literal the registration
      // parses — before the bang strip and the generic label strip.
      s = rewriteParseXmlOptions(s)
      // VRL TYPE ASSERTIONS `string!(.f)` / `int!(.f)` / … (the calls
      // VRL's type checker demands all over real remap programs): a
      // column's type is a per-frame schema fact, so they resolve to the
      // field itself when the type matches and FAIL THE BATCH loudly
      // when it doesn't — never a silent cast (Spark's own string()/
      // timestamp() builtins would otherwise swallow these as casts).
      // Must run BEFORE the bang strip so the non-field bang form can be
      // rejected rather than degrade to a cast.
      s = s.replaceAll("(?<![A-Za-z0-9_.`])(string|int|float|object|array|" +
        "timestamp)!?\\(\\s*`([A-Za-z0-9_]+)`\\s*\\)",
        "__VRL_ASSERTT_$1_$2__")
      require(!s.matches("(?s).*(?<![A-Za-z0-9_.`])(?:string|int|float|" +
        "object|array|timestamp)!\\s*\\(.*"),
        "remap: type assertions (string!/int!/float!/object!/array!/" +
          "timestamp!) support field references only — a computed " +
          "expression's type is not a schema fact the compiler can check")
      // VRL `. = unnest(.field)` — fan the array field out to one event
      // per element (the classic Vector multi-record idiom). The marker
      // expands per frame to transform(field, e -> <event with field=e>),
      // an array of objects, which the `. =` machinery explodes.
      s = s.replaceAll("(?<![A-Za-z0-9_.`])unnest!?\\(\\s*`([A-Za-z0-9_]+)`\\s*\\)",
        "__VRL_UNNEST_$1__")
      // VRL bang-calls `fn!(…)` ("raise on error"): the plain call — our
      // fallible shims yield null fields instead of aborting the event,
      // and a genuinely thrown error fails the batch into error_output,
      // which is the engine's abort channel. `(` must follow the `!`
      // immediately-modulo-space, so `a != (b)` is untouched.
      s = s.replaceAll("(?<=[A-Za-z0-9_])!\\s*\\(", "(")
      // VRL named arguments (`unit: "s"`, `format: "combined"`) →
      // positional: VRL defines a fixed parameter order, which the
      // positional dialect already follows. Object-literal keys are
      // masked string tokens by now, so a bare `label:` after `(` or `,`
      // can only be an argument label.
      s = s.replaceAll("([(,]\\s*)[a-z_][a-z0-9_]*:\\s*", "$1")
      // VRL `exists(.field)` — schema membership resolves per batch
      // frame, not at compile: emit a marker [[resolveExists]] replaces
      // with a boolean literal once the frame is known
      require(!s.matches("(?s).*exists\\(\\s*`[A-Za-z0-9_]+`\\s*\\..*"),
        "remap: exists() supports top-level fields only (nested struct " +
          "paths are always present in the schema once the parent exists)")
      s = s.replaceAll("(?<![A-Za-z0-9_.`])exists\\(\\s*`([A-Za-z0-9_]+)`\\s*\\)",
        "__VRL_EXISTS_$1__")
      // VRL type guards over FIELD refs — a column's type is a per-frame
      // schema fact like existence, resolved by the same marker pass
      // (is_string(expr) over a non-field stays unrewritten and fails
      // analysis loudly); is_null/is_nullish are runtime VALUE tests and
      // alias below instead
      s = s.replaceAll("(?<![A-Za-z0-9_.`])is_(string|integer|float|boolean|" +
        "array|object|timestamp)\\(\\s*`([A-Za-z0-9_]+)`\\s*\\)",
        "__VRL_TYPE_$1_$2__")
      // VRL `type(.field)` — the runtime type NAME, another per-frame
      // schema fact (absent field → 'null', VRL's undefined)
      s = s.replaceAll("(?<![A-Za-z0-9_.`])type\\(\\s*`([A-Za-z0-9_]+)`\\s*\\)",
        "__VRL_TYPENAME_$1__")
      FnAliases.foldLeft(s) { case (acc, (vrl, sql)) =>
        acc.replaceAll("(?<![A-Za-z0-9_.`])" + vrl + "\\s*\\(", sql + "(")
      }
    }

    /** parse_xml's labeled options → one canonical `k=v;…` string
      * literal (see the call site above for why). Option values must be
      * literals: booleans or masked strings. */
    private def rewriteParseXmlOptions(s0: String): String = {
      var s = s0
      val Call = "(?<![A-Za-z0-9_.`])parse_xml!?\\s*\\(".r
      var from = 0
      var m = Call.findFirstMatchIn(s.substring(from)).map(mm => (mm.start + from, mm.end + from))
      while (m.isDefined) {
        val (start, openEnd) = m.get
        val open = openEnd - 1
        val close = matchParenIn(s, open)
        val args = splitArgsVerbatim(s.substring(open + 1, close))
        if (args.size > 1) {
          val Labeled = "(?s)^\\s*([a-z_]+)\\s*:\\s*(.+?)\\s*$".r
          val spec = args.tail.map {
            case Labeled(label, value) =>
              val v = value match {
                case "true" | "false" => value
                case masked if masked.matches("\u0000\\d+\u0000") =>
                  val lit = unmask(masked)
                  val body = lit.substring(1, lit.length - 1)
                  require(!body.contains(";") && !body.contains("="),
                    s"remap: parse_xml option $label: `;` and `=` are not " +
                      "supported inside option values")
                  body
                case other => throw new IllegalArgumentException(
                  s"remap: parse_xml option $label must be a boolean or " +
                    s"string literal, got `${unmask(other)}`")
              }
              s"$label=$v"
            case other => throw new IllegalArgumentException(
              "remap: parse_xml options must be named (`text_key: \"v\"`), " +
                s"got `${unmask(other)}`")
          }.mkString(";")
          s = s.substring(0, start) +
            s"graft_vrl_parse_xml(${args.head}, '${spec.replace("'", "''")}')" + s.substring(close + 1)
        }
        from = start + 1
        m = Call.findFirstMatchIn(s.substring(from)).map(mm => (mm.start + from, mm.end + from))
      }
      s
    }

    /** Matching ')' for the '(' at `open` — literals are masked, so
      * parens are all syntax (braces nested inside are balanced and
      * don't perturb a paren-only count). */
    private def matchParenIn(s: String, open: Int): Int = {
      var depth = 0
      var i = open
      while (i < s.length) {
        if (s(i) == '(') depth += 1
        else if (s(i) == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      throw new IllegalArgumentException(s"remap: unclosed paren in `${unmask(s)}`")
    }

    /** Matching ']' for the '[' at `open` — literals are masked, so
      * brackets are all syntax, same contract as [[matchParenIn]]. */
    private def matchBracketIn(s: String, open: Int): Int = {
      var depth = 0
      var i = open
      while (i < s.length) {
        if (s(i) == '[') depth += 1
        else if (s(i) == ']') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      throw new IllegalArgumentException(s"remap: unclosed bracket in `${unmask(s)}`")
    }

    /** Split on commas at paren/brace/bracket depth 0, every segment
      * VERBATIM (no trim — trimming strips NUL literal-mask delimiters —
      * and no empty-filter, so `f()` survives). Brackets count too: an
      * array-literal element's internal comma (`compact([f(.a) ?? 0, 1])`)
      * is NOT an argument separator. */
    private def splitArgsVerbatim(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var pd = 0; var bd = 0; var sd = 0
      s.foreach {
        case c @ '(' => pd += 1; cur += c
        case c @ ')' => pd -= 1; cur += c
        case c @ '{' => bd += 1; cur += c
        case c @ '}' => bd -= 1; cur += c
        case c @ '[' => sd += 1; cur += c
        case c @ ']' => sd -= 1; cur += c
        case ',' if pd == 0 && bd == 0 && sd == 0 => out += cur.toString(); cur.clear()
        case c => cur += c
      }
      out += cur.toString()
      out.toSeq
    }

    // ---- VRL path-function family: get!/set!/remove! with LITERAL paths
    // (vrl stdlib get/set/remove; the reference runs generic remap
    // programs that address fields as `get!(., ["a","b"])`). Literal
    // paths compile onto the SAME machinery as `.a.b` syntax: set/remove
    // desugar to path assignment / del() at the statement level, get
    // becomes a per-frame marker resolved against the batch schema so an
    // absent path yields null (VRL's get contract) instead of failing
    // analysis. DYNAMIC paths (a variable or expression as the path) are
    // an inherent divergence — a column program is compiled once per
    // frame, it cannot address a different field per row — and are
    // rejected loudly at build.

    /** Literal path array `["a", 'b', 0]` → steps. String segments may be
      * any literal (a step can address a map key, which VRL does not
      * restrict to identifiers); int segments index arrays (0-based). */
    private def parseLiteralPath(raw: String, fn: String): Seq[Either[String, Int]] = {
      val t = raw.replaceAll("^\\s+|\\s+$", "")
      require(t.startsWith("[") && t.endsWith("]"),
        s"remap: $fn path must be a literal array like [\"a\", \"b\"] — " +
          s"dynamic paths cannot compile to a column program (got `${unmask(t)}`)")
      val inner = t.substring(1, t.length - 1)
      if (inner.replaceAll("^\\s+|\\s+$", "").isEmpty) return Seq.empty
      splitArgsVerbatim(inner).map { e0 =>
        val e = e0.replaceAll("^\\s+|\\s+$", "")
        val M = "^\u0000(\\d+)\u0000$".r
        e match {
          case M(i) =>
            val lit = lits(i.toInt)
            val body = lit.substring(1, lit.length - 1)
            require(!body.contains("\\"),
              s"remap: $fn path segment $lit: escape sequences in path " +
                "segments are not supported")
            Left(if (lit.head == '\'') body.replace("''", "'") else body)
          case _ if e.matches("\\d+") => Right(e.toInt)
          case other => throw new IllegalArgumentException(
            s"remap: $fn path segment `${unmask(other)}` is not a string or " +
              "int literal — dynamic paths cannot compile to a column program")
        }
      }
    }

    /** A `.`/`.a.b` base operand → its leading path steps. */
    private def baseSteps(base: String, fn: String): Seq[Either[String, Int]] = {
      val b = base.replaceAll("^\\s+|\\s+$", "")
      require(b == "." || b.matches("(\\.[A-Za-z_][A-Za-z0-9_]*)+"),
        s"remap: $fn's first argument must be the event `.` or a field " +
          s"path like `.a.b` (got `${unmask(b)}`) — $fn over a computed " +
          "value cannot compile to a column program")
      if (b == ".") Seq.empty
      else b.split('.').filter(_.nonEmpty).map(Left(_)).toSeq
    }

    /** Literal-path `get` call sites → `__VRL_GET_<n>__` markers, resolved
      * per batch frame by [[resolveGets]] (absent path → null). Runs on
      * the MASKED program before field-ref rewriting, so the base operand
      * is still raw `.a.b` text. */
    private val getPaths = scala.collection.mutable.ArrayBuffer[Seq[Either[String, Int]]]()
    private def desugarGetCalls(s0: String): String = {
      var s = s0
      val Call = "(?<![A-Za-z0-9_.`])get!?\\s*\\(".r
      var m = Call.findFirstMatchIn(s)
      while (m.isDefined) {
        val open = m.get.end - 1
        val close = matchParenIn(s, open)
        val args = splitArgsVerbatim(s.substring(open + 1, close))
        require(args.size == 2,
          s"remap: get(value, path) takes 2 arguments, got ${args.size} in " +
            s"`${unmask(s.substring(m.get.start, close + 1))}`")
        val steps = baseSteps(args.head, "get") ++ parseLiteralPath(args(1), "get")
        val repl =
          if (steps.isEmpty) " . " // get(., []) is the whole event
          else { getPaths += steps; s"__VRL_GET_${getPaths.size - 1}__" }
        s = s.substring(0, m.get.start) + repl + s.substring(close + 1)
        m = Call.findFirstMatchIn(s)
      }
      s
    }

    /** Statement-form `X = set!(X, [segs], v)` → `X.segs = v` and
      * `X = remove!(X, [segs])` → `del(X.segs)` — the mutate-in-place
      * idiom generic remap programs use. The base must be the same path
      * the result is assigned back to: a FUNCTIONAL set/remove (result
      * landing elsewhere) would need a deep struct copy per call site and
      * is rejected with the fix. */
    private val PathFnStmt =
      """(?s)(\.|(?:\.[A-Za-z_][A-Za-z0-9_]*)+)\s*=\s*(set|remove)!?\s*\((.*)\)\s*$""".r
    private val PathFnAnywhere = "(?<![A-Za-z0-9_.`])(set|remove)!?\\s*\\(".r
    private def desugarSetRemove(stmt: String): String = stmt match {
      case PathFnStmt(lhs, fn, inner) =>
        val args = splitArgsVerbatim(inner)
        val base = args.head.replaceAll("^\\s+|\\s+$", "")
        require(base == lhs.replaceAll("^\\s+|\\s+$", ""),
          s"remap: $fn must mutate in place — write `$lhs = $fn($lhs, [...]" +
            (if (fn == "set") ", value" else "") + s")`; a $fn whose result " +
            "lands on a different path is not expressible as a column program")
        val segs = parseLiteralPath(args(1), fn).map {
          case Left(name) =>
            require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"remap: $fn path segment `$name` must be an identifier " +
                "(struct fields are schema names)")
            name
          case Right(i) => throw new IllegalArgumentException(
            s"remap: $fn path segment $i: array-index writes are not " +
              "supported (a column program rewrites whole fields)")
        }
        val path = (if (base == ".") "" else base) + segs.map("." + _).mkString
        fn match {
          case "set" =>
            require(args.size == 3,
              "remap: set(value, path, data) takes 3 arguments")
            val v = args(2).replaceAll("^\\s+|\\s+$", "")
            if (segs.isEmpty) s"$base = $v" else s"$path = $v"
          case _ =>
            require(args.size == 2 ||
              (args.size == 3 && unmask(args(2)).replaceAll("[\\s]", "")
                .matches("(compact:)?false")),
              "remap: remove(value, path) — the compact: true option " +
                "re-shapes parent containers per row and is not supported")
            require(segs.nonEmpty, "remap: remove needs a non-empty path")
            s"del($path)"
        }
      case other =>
        // a set/remove call OUTSIDE the in-place statement form would
        // otherwise surface as an opaque unknown-function analysis error
        require(PathFnAnywhere.findFirstIn(other).isEmpty,
          s"remap: set/remove must be whole statements of the form " +
            s"`.a = set(.a, [...], v)` / `. = remove(., [...])` — got " +
            s"`${unmask(other)}`")
        other
    }

    /** VRL error-coalescing `a ?? b`: use `b` when `a` ERRORS — a
      * successful null stays null, which is why this is not SQL coalesce.
      * Compiled onto the same try_pair carrier as `, err =` assignment;
      * whole-stage CSE merges the twin evaluations. Left-associative like
      * VRL; splits at depth 0 and RECURSES into brace bodies AND paren
      * groups (per argument, so a parenthesized `(to_int(.y) ?? 0)` or a
      * call argument's `??` rewrites at its own level). */
    private def rewriteCoalesceErr(s: String): String = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var i = 0
      while (i < s.length) {
        s(i) match {
          case '{' =>
            val close = matchBraceIn(s, i)
            cur ++= "{" + rewriteCoalesceErr(s.substring(i + 1, close)) + "}"
            i = close
          case '(' =>
            val close = matchParenIn(s, i)
            cur ++= "(" + splitArgsVerbatim(s.substring(i + 1, close))
              .map(rewriteCoalesceErr).mkString(",") + ")"
            i = close
          // array literals run AFTER this pass (rewriteArrayLiterals), so
          // brackets are still live here: a `??` inside an element must
          // rewrite at the element's own level, not split the whole
          // expression at the bracket-internal position
          case '[' =>
            val close = matchBracketIn(s, i)
            cur ++= "[" + splitArgsVerbatim(s.substring(i + 1, close))
              .map(rewriteCoalesceErr).mkString(",") + "]"
            i = close
          case '?' if i + 1 < s.length && s(i + 1) == '?' =>
            parts += cur.toString(); cur.clear(); i += 1
          case c => cur += c
        }
        i += 1
      }
      if (parts.isEmpty) cur.toString()
      else {
        parts += cur.toString()
        // NOT .trim: it strips the NUL literal-mask delimiters too
        parts.map(_.replaceAll("^\\s+|\\s+$", "")).reduceLeft { (a, b) =>
          s"(CASE WHEN (try_pair($a)).err IS NOT NULL THEN $b " +
            s"ELSE (try_pair($a)).value END)"
        }
      }
    }

    /** VRL array literals `[a, b, c]` → `array(a, b, c)`, innermost
      * first. A `[` that FOLLOWS a value (identifier, backtick, `)`,
      * `]`) is subscripting and passes through — Spark's bracket index
      * on arrays is 0-based like VRL's. */
    private def rewriteArrayLiterals(s0: String): String = {
      val P = """(?<![A-Za-z0-9_`\)\]])\[([^\[\]]*)\]""".r
      var s = s0
      var changed = true
      while (changed) {
        val n = P.replaceAllIn(s, m =>
          java.util.regex.Matcher.quoteReplacement(s"array(${m.group(1)})"))
        changed = n != s
        s = n
      }
      s
    }

    /** VRL object literals `{ "k": v, … }` → `named_struct('k', v, …)`,
      * innermost first. Keys are masked string tokens at this point (VRL
      * object keys are quoted), restored by unmask with the rest. */
    private def rewriteObjectLiterals(s0: String): String = {
      val P = """\{([^{}]*)\}""".r
      var s = s0
      var changed = true
      while (changed) {
        val n = P.replaceAllIn(s, m => {
          // NOT .trim anywhere here: it strips the NUL literal-mask
          // delimiters (keys ARE masked literals at this point)
          def ws(x: String) = x.replaceAll("^\\s+|\\s+$", "")
          val inner = ws(m.group(1))
          val args =
            if (inner.isEmpty) Nil
            else splitTopCommas(inner).map { pair =>
              val cut = pair.indexOf(':')
              require(cut > 0,
                s"remap: object literal entry `${unmask(ws(pair))}` must be `\"key\": value`")
              s"${ws(pair.substring(0, cut))}, ${ws(pair.substring(cut + 1))}"
            }
          java.util.regex.Matcher.quoteReplacement(
            s"named_struct(${args.mkString(", ")})")
        })
        changed = n != s
        s = n
      }
      s
    }

    /** Split on commas at paren depth 0 (arguments of an already-masked
      * fragment — no braces or brackets survive to this point). */
    private def splitTopCommas(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var depth = 0
      s.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.toString(); cur.clear()
        case c => cur += c
      }
      out += cur.toString()
      out.toSeq.filter(_.trim.nonEmpty)
    }

    /** VRL iteration closures (VRL has no loops by design — iteration is
      * these closure functions, vrl stdlib): rewritten to Spark's
      * codegen'd higher-order functions, so per-element work never
      * leaves WholeStageCodegen.
      *
      *   - `map_values(EXPR) -> |v| { BODY }`  → `transform(EXPR, v -> BODY)`
      *   - `filter(EXPR) -> |i, v| { BODY }`   → `filter(EXPR, (v, i) -> BODY)`
      *     (VRL closures receive |index, value|; Spark lambdas
      *     (element, index) — swapped here; a 1-param form passes through)
      *
      * Array semantics only — for MAP columns call Spark's
      * transform_values / map_filter directly. `for_each` is rejected
      * loudly: its closure exists to MUTATE enclosing state, which a
      * column program cannot (and should not) express — use map_values
      * or filter. */
    private def rewriteClosures(s0: String): String = {
      val Arrow = """->\s*\|""".r
      var s = s0
      var m = Arrow.findFirstMatchIn(s)
      while (m.isDefined) {
        val mm = m.get
        // backwards over ws to the receiver's ')', then to its '('
        var j = mm.start - 1
        while (j >= 0 && s(j).isWhitespace) j -= 1
        require(j >= 0 && s(j) == ')',
          s"remap: closure `-> |…|` must follow a call, in `${unmask(s)}`")
        var depth = 0
        var k = j
        while (k >= 0 && { if (s(k) == ')') depth += 1 else if (s(k) == '(') depth -= 1; depth != 0 }) k -= 1
        require(k >= 0, s"remap: unbalanced parens before closure in `${unmask(s)}`")
        val argsSql = s.substring(k + 1, j)
        var n0 = k - 1
        while (n0 >= 0 && (s(n0).isLetterOrDigit || s(n0) == '_')) n0 -= 1
        val name = s.substring(n0 + 1, k)
        // params between the two '|'
        val pClose = s.indexOf('|', mm.end)
        require(pClose > 0, s"remap: unclosed closure params in `${unmask(s)}`")
        val params = s.substring(mm.end, pClose).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(params.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
          s"remap: malformed closure params `|${s.substring(mm.end, pClose)}|`")
        var b = pClose + 1
        while (b < s.length && s(b).isWhitespace) b += 1
        require(b < s.length && s(b) == '{',
          s"remap: closure body must be `{ … }`, in `${unmask(s)}`")
        val bEnd = matchBraceIn(s, b)
        val body = s.substring(b + 1, bEnd).trim
        val repl = name match {
          case "map_values" =>
            require(params.size == 1,
              "remap: map_values closure takes one param `|value|` (array semantics; " +
                "use transform_values(...) directly for map columns)")
            s"transform($argsSql, ${params.head} -> ($body))"
          case "map_keys" =>
            // VRL map_keys iterates an OBJECT's keys — Spark's
            // transform_keys, whose lambda receives (key, value); the
            // value param is synthesized since VRL's closure sees only
            // the key. `recursive: true` is not supported (rejected by
            // the unknown-label path upstream). Boundary, stated: a
            // rewrite that COLLIDES keys (e.g. downcasing "A" and "a")
            // throws DUPLICATE_MAP_KEY under Spark's default dedup
            // policy, where VRL's object insert is last-wins — loud,
            // not silent, but a divergence.
            require(params.size == 1,
              "remap: map_keys closure takes one param `|key|`")
            s"transform_keys($argsSql, (${params.head}, __mk_v) -> ($body))"
          case "filter" => params match {
            case Seq(i, v) => s"filter($argsSql, ($v, $i) -> ($body))"
            case Seq(v) => s"filter($argsSql, $v -> ($body))"
            case _ => throw new IllegalArgumentException(
              "remap: filter closure takes `|index, value|` or `|value|`")
          }
          case "for_each" => throw new IllegalArgumentException(
            "remap: for_each mutates enclosing state, which a column program " +
              "cannot express — use map_values (transform) or filter")
          case other => throw new IllegalArgumentException(
            s"remap: unsupported closure function `$other` " +
              "(supported: map_values, map_keys, filter)")
        }
        s = s.substring(0, n0 + 1) + repl + s.substring(bEnd + 1)
        m = Arrow.findFirstMatchIn(s)
      }
      s
    }

    // String literals are masked to NUL-delimited placeholders before
    // comment-stripping, brace-aware statement splitting and .field
    // rewriting, so a '#' or '//' or ';' or '{' or '.word' INSIDE a
    // literal is never treated as syntax, then restored after.
    private val lits = scala.collection.mutable.ArrayBuffer[String]()
    private val maskedProgram = {
      val m0 = Literal.replaceAllIn(program, mm => {
        lits += mm.matched
        java.util.regex.Matcher.quoteReplacement("\u0000" + (lits.size - 1) + "\u0000")
      })
      // VRL raw-string literals r'…' (regex patterns): drop the prefix
      // and DOUBLE the backslashes in the stored literal — raw strings
      // have no escapes, but the SQL re-parse of '…' does, so a \d
      // pattern would otherwise re-parse as a plain d
      val RawPrefix = "(?<![A-Za-z0-9_])r\u0000(\\d+)\u0000".r
      val m = RawPrefix.replaceAllIn(m0, mm => {
        val i = mm.group(1).toInt
        if (lits(i).head == '\'')
          lits(i) = "'" + lits(i).substring(1, lits(i).length - 1)
            .replace("\\", "\\\\") + "'"
        java.util.regex.Matcher.quoteReplacement("\u0000" + i + "\u0000")
      })
      m.linesIterator.map(_.replaceAll("(#|//).*$", "")).mkString("\n")
    }
    private def unmask(s: String): String = lits.zipWithIndex.foldLeft(s) {
      case (acc, (lit, i)) => acc.replace("\u0000" + i + "\u0000", lit)
    }
    // declared local variables, in program order; grows as the statement
    // compiler below walks the program, so a reference rewrites only
    // AFTER its declaration (an undeclared name stays bare and fails
    // analysis loudly — VRL's undefined-variable error)
    private val vars = scala.collection.mutable.LinkedHashSet[String]()
    private def varCol(n: String) = s"__vrl_var_$n"
    /** Bare references to declared vars → their storage column. Runs on
      * MASKED text (literals untouchable); call sites excluded by the
      * `(` lookahead; already-backticked refs by the backtick guards.
      * Known edge: a closure param shadowing a var name is rewritten —
      * pick distinct names. */
    private def rewriteVars(sql: String): String =
      vars.foldLeft(sql) { (acc, v) =>
        acc.replaceAll(
          "(?<![A-Za-z0-9_.`])" + v + "(?![A-Za-z0-9_`])(?!\\s*\\()",
          "`" + varCol(v) + "`")
      }
    // a BARE `.` operand — VRL's whole-event value (`. = merge(., parsed)`,
    // the canonical Vector enrichment idiom; `x = .` snapshots). Not a
    // field ref (no name follows), not a decimal point (no digit on
    // either side), not a struct access (nothing value-like precedes).
    // Becomes a marker [[exprFor]] expands to a named_struct over the
    // frame's EVENT columns (vars and `__meta_*` excluded — VRL reaches
    // metadata through `%`, never through `.`).
    private val SelfRef = """(?<![A-Za-z0-9_.`\)\]])\.(?![A-Za-z0-9_.])""".r
    // masked variant for callers that post-process the SQL (intra-branch
    // chaining substitutes into it; doing that after unmask could corrupt
    // a string literal that happens to contain a backticked name)
    private def fieldRefsMasked(rhs: String): String =
      rewriteVars(vrlRewrites(SelfRef.replaceAllIn(
        FieldRef.replaceAllIn(
          MetaRef.replaceAllIn(rhs, m => "`__meta_" + m.group(1) + "`"),
          m => "`" + m.group(1) + "`"),
        "__VRL_SELF__")))
    private def fieldRefs(rhs: String): String = unmask(fieldRefsMasked(rhs))

    // Split on ';' and newlines at BRACE DEPTH 0 only, so statement-form
    // if blocks (single- or multi-line) and expression-form if rhs's
    // survive as one statement each. NOT .trim on the pieces: it strips
    // every char <= 0x20 including the NUL placeholder delimiters; the
    // \s regex leaves NUL alone.
    private def splitTop(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var depth = 0
      s.foreach {
        case '{' => depth += 1; cur += '{'
        case '}' => depth -= 1; cur += '}'
        case c @ (';' | '\n') if depth == 0 => out += cur.toString(); cur.clear(); val _ = c
        case c => cur += c
      }
      out += cur.toString()
      out.toSeq.map(_.replaceAll("^\\s+|\\s+$", "")).filter(_.nonEmpty)
    }

    /** Statement-form `if cond { assignments } (else if cond { … })*
      * [else { assignments }]` (processor/vrl.rs control flow): the chain
      * compiles to per-field `when(c1, v1).when(c2, v2)….otherwise(else
      * -or-current)` projections — a field assigned in no branch is
      * untouched, a field NEW to the frame is NULL on unassigned rows.
      * Branch statements chain SEQUENTIALLY like VRL's: a later rhs
      * reading a field assigned earlier in the same branch sees the new
      * value (inlined at compile time); fields not assigned in the
      * branch read the pre-if frame. `del()` inside a branch is rejected
      * (dropping a column cannot be row-conditional). */
    private def compileIfStatement(stmt: String): DataFrame => DataFrame = {
      def assigns(block: String): Seq[(String, String)] = {
        val raw = splitTop(block).map {
          case Assign(f, rhs) => f -> fieldRefsMasked(rhs)
          case other => throw new IllegalArgumentException(
            "remap: only `.field = expr` assignments are allowed inside " +
              s"statement-form if branches, got `${unmask(other)}`")
        }
        // VRL branch statements run SEQUENTIALLY: a later rhs reading a
        // field assigned earlier IN THE SAME BRANCH sees the new value.
        // Substitute the earlier rhs inline — one regex pass per rhs over
        // the uniformly-backticked refs (a substituted rhs contains only
        // pre-if refs itself, having been chained at its own creation, so
        // a single pass cannot cascade); a field's first self-reference
        // still reads the pre-if frame, exactly like VRL.
        val Tick = "`([A-Za-z_][A-Za-z0-9_]*)`".r
        raw.foldLeft(Vector.empty[(String, String)]) { case (acc, (f, sql)) =>
          val latest = acc.toMap // toMap keeps the LAST duplicate = latest value
          val chained = Tick.replaceAllIn(sql, m =>
            java.util.regex.Matcher.quoteReplacement(
              latest.get(m.group(1)).fold(m.matched)("(" + _ + ")")))
          acc :+ (f -> chained)
        }.map { case (f, sql) => f -> unmask(sql) }
      }
      // a branch whose single statement is `abort` DROPS the event (VRL
      // abort ends the program discarding the event — the row filter is
      // the column-program shape of that)
      def isAbort(block: String): Boolean =
        splitTop(block) == Seq("abort")
      // parse the chain: (condSql, assigns, aborts) per if/else-if arm
      // + final else
      val arms = scala.collection.mutable
        .ArrayBuffer[(String, Seq[(String, String)], Boolean)]()
      var elseA: Seq[(String, String)] = Nil
      var elseAbort = false
      var i = 0 // index of the current `if`
      var done = false
      while (!done) {
        val open = stmt.indexOf('{', i)
        require(open > i, s"remap: malformed if `${unmask(stmt)}`")
        val close = matchBraceIn(stmt, open)
        val cond = stmt.substring(i + 2, open).replaceAll("^\\s+|\\s+$", "")
        val body = stmt.substring(open + 1, close)
        arms += ((fieldRefs(cond),
          if (isAbort(body)) Nil else assigns(body), isAbort(body)))
        var j = close + 1
        while (j < stmt.length && stmt(j).isWhitespace) j += 1
        if (j >= stmt.length) done = true
        else if (stmt.startsWith("else", j)) {
          var k = j + 4
          while (k < stmt.length && stmt(k).isWhitespace) k += 1
          if (stmt.startsWith("if", k)) i = k // else-if link: next arm
          else if (k < stmt.length && stmt(k) == '{') {
            val eClose = matchBraceIn(stmt, k)
            require(stmt.substring(eClose + 1).forall(_.isWhitespace),
              s"remap: unexpected text after else block: `${unmask(stmt.substring(eClose + 1))}`")
            val eBody = stmt.substring(k + 1, eClose)
            if (isAbort(eBody)) elseAbort = true else elseA = assigns(eBody)
            done = true
          } else throw new IllegalArgumentException(
            s"remap: malformed else in `${unmask(stmt)}`")
        } else throw new IllegalArgumentException(
          s"remap: unexpected text after if block: `${unmask(stmt.substring(j))}`")
      }
      val armsV = arms.toVector
      (df0: DataFrame) => {
        // abort arms first: keep a row iff its FIRST matching arm does
        // not abort (the same when-chain order as the assignments)
        val df =
          if (!armsV.exists(_._3) && !elseAbort) df0
          else df0.filter(
            armsV.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
              case (acc, (condSql, _, aborts)) =>
                val c = exprFor(df0, condSql)
                Some(acc.fold(when(c, lit(!aborts)))(_.when(c, lit(!aborts))))
            }.get.otherwise(lit(!elseAbort)))
        val assignArms = armsV.filter(!_._3)
        val fields = (assignArms.flatMap(_._2.map(_._1)) ++ elseA.map(_._1)).distinct
        if (fields.isEmpty) df
        else df.withColumns(fields.map { f =>
          val current: org.apache.spark.sql.Column =
            if (df.columns.contains(f)) col(f) else lit(null)
          // LAST assignment wins: with chaining, a re-assigned field's
          // final rhs already has the earlier ones inlined
          def valueIn(as: Seq[(String, String)]) =
            as.reverse.collectFirst { case (`f`, rhs) => exprFor(df, rhs) }
              .getOrElse(current)
          val chained = assignArms.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
            case (acc, (condSql, as, _)) =>
              val c = exprFor(df, condSql); val v = valueIn(as)
              Some(acc.fold(when(c, v))(_.when(c, v)))
          }
          // every arm aborted -> survivors are exactly the else rows
          f -> chained.fold(valueIn(elseA))(_.otherwise(valueIn(elseA)))
        }.toMap)
      }
    }

    private val IfStatement = """(?s)if[\s(].*""".r
    // metadata assignment `%name = rhs` (statement form; reads are the
    // MetaRef rewrite inside expressions). `(?!=)` keeps an equality
    // COMPARISON statement `%route == x` from misparsing as an
    // assignment whose rhs starts with `= ` — that falls through to the
    // expression path and fails with its own message instead.
    private val MetaAssign =
      """(?s)%([A-Za-z_][A-Za-z0-9_]*)\s*=(?!=)\s*(.+)""".r

    private val statements: Seq[DataFrame => DataFrame] =
      splitTop(desugarGetCalls(maskedProgram)).map(desugarSetRemove)
        .flatMap[DataFrame => DataFrame] {
        // a bare `.` is VRL's final "return the event" expression —
        // the event passes through unchanged
        case "." => None
        // unconditional `abort` discards every event of the batch (VRL
        // abort ends the program dropping the event; conditional aborts
        // live inside statement-form if arms)
        case "abort" => Some((df: DataFrame) => df.limit(0))
        // metadata WRITES `%name = rhs` land on the engine's __meta_*
        // columns (the read side is the MetaRef rewrite) — VRL programs
        // set %metadata for downstream sinks/routing
        case MetaAssign(name, rhs) =>
          val sql = fieldRefs(rhs)
          Some((df: DataFrame) => df.withColumn(s"__meta_$name", exprFor(df, sql)))
        case DotAssign(rhs) =>
          val sql = fieldRefs(rhs)
          Some((df: DataFrame) => {
            // metadata and program variables are event-EXTERNAL state
            // (the reference's vrl runtime replaces only the event's
            // value; %metadata and variables survive `. = obj`)
            val carry = df.columns.filter(c =>
              c.startsWith("__vrl_var_") || c.startsWith("__meta_")).toSeq
            val evt = df.select(
              exprFor(df, sql).as("__vrl_event") +: carry.map(col): _*)
            evt.schema.head.dataType match {
              case org.apache.spark.sql.types.ArrayType(
                  _: org.apache.spark.sql.types.StructType, _) =>
                // explode drops empty arrays — VRL's [] result filters
                // the event out
                evt.select(explode(col("__vrl_event")).as("__vrl_e") +:
                    carry.map(col): _*)
                  .select(col("__vrl_e.*") +: carry.map(col): _*)
              case _: org.apache.spark.sql.types.StructType =>
                evt.select(col("__vrl_event.*") +: carry.map(col): _*)
              case other => throw new IllegalArgumentException(
                "remap: `. = expr` must produce an object or an array of " +
                  s"objects, got ${other.simpleString}")
            }
          })
        case Del(field) => Some((df: DataFrame) => df.drop(field))
        case DelNested(root, rest) => Some((df: DataFrame) =>
          df.withColumn(root, col(root).dropFields(rest.stripPrefix("."))))
        case AssignNested(root, rest, rhs) =>
          val sql = fieldRefs(rhs)
          val path = rest.stripPrefix(".")
          Some((df: DataFrame) =>
            if (df.columns.contains(root))
              df.withColumn(root, col(root).withField(path, exprFor(df, sql)))
            else
              // VRL creates missing parents: a path assignment into an
              // absent root builds the nested struct from scratch
              df.withColumn(root, path.split('.').foldRight(exprFor(df, sql)) {
                (n, c) => struct(c.as(n)) }))
        case FallibleAssign(field, errDot, errName, rhs) =>
          val sql = fieldRefs(rhs)
          // a dotless err target is a VRL VARIABLE: readable by later
          // statements, dropped from the output event at the end
          val errCol = if (errDot.isEmpty) { vars += errName; varCol(errName) } else errName
          Some(fallibleAssign(field, errCol, sql))
        case Assign(field, rhs) =>
          val sql = fieldRefs(rhs)
          Some((df: DataFrame) => df.withColumn(field, exprFor(df, sql)))
        case stmt @ IfStatement() => Some(compileIfStatement(stmt))
        case VarFallible(name, errDot, errName, rhs) =>
          val sql = fieldRefs(rhs) // BEFORE += so `x, e = f(x)` reads the prior x
          vars += name
          val errCol = if (errDot.isEmpty) { vars += errName; varCol(errName) } else errName
          Some(fallibleAssign(varCol(name), errCol, sql))
        case VarAssign(name, rhs) =>
          val sql = fieldRefs(rhs) // BEFORE += : a first self-ref is undefined, loudly
          vars += name
          Some((df: DataFrame) => df.withColumn(varCol(name), exprFor(df, sql)))
        // standalone `assert!(…)` / `assert_eq!(…)` statements: compiled
        // as a FILTER whose predicate is the assert expression (true, or
        // throws — so every row passes or the batch fails into
        // error_output). A filter predicate cannot be column-pruned away,
        // which a dropped helper column could be — the assert is
        // guaranteed to evaluate.
        case s if s.matches("(?s)assert(_eq)?!?\\s*\\(.*\\)\\s*") =>
          val sql = fieldRefs(s)
          Some((df: DataFrame) => df.filter(exprFor(df, sql)))
        // standalone `log(…)` statements: dropped with a build-time note.
        // Vector logs per event to its own process log; a per-row driver
        // log at cluster scale is an anti-pattern — route events to a
        // stdout sink for the same visibility.
        case s if s.matches("(?s)log!?\\s*\\(.*\\)\\s*") =>
          System.err.println("[graft] remap: standalone log(...) statement " +
            s"dropped (`${unmask(s).take(60)}`) — use a stdout sink for " +
            "per-event visibility; per-row driver logging does not scale")
          None
        case other =>
          throw new IllegalArgumentException(s"remap: cannot parse `${unmask(other)}`")
      }

    /** `exists(.field)` / `is_<type>(.field)` markers resolve against the
      * batch frame's actual schema — membership and type are per-frame
      * facts, not compile-time ones (micro-batch schemas evolve). */
    private val ExistsRef = "__VRL_EXISTS_([A-Za-z0-9_]+)__".r
    private val TypeRef = "__VRL_TYPE_([a-z]+)_([A-Za-z0-9_]+)__".r
    private def typeMatches(kind: String,
        dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      kind match {
        case "string" => dt == StringType
        case "integer" => dt match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        case "float" => dt match {
          case FloatType | DoubleType | _: DecimalType => true
          case _ => false
        }
        case "boolean" => dt == BooleanType
        case "array" => dt.isInstanceOf[ArrayType]
        case "object" => dt.isInstanceOf[StructType] || dt.isInstanceOf[MapType]
        case "timestamp" => dt == TimestampType || dt == TimestampNTZType
        case _ => false
      }
    }
    private def resolveExists(df: DataFrame, sql: String): String = {
      val withExists = ExistsRef.replaceAllIn(sql, m =>
        if (df.columns.contains(m.group(1))) "true" else "false")
      val withTypes = TypeRef.replaceAllIn(withExists, m =>
        df.schema.fields.find(_.name == m.group(2)) match {
          case Some(f) if typeMatches(m.group(1), f.dataType) => "true"
          case _ => "false" // absent field: no type, like VRL's undefined
        })
      TypeNameRef.replaceAllIn(withTypes, m => {
        import org.apache.spark.sql.types._
        val name = df.schema.fields.find(_.name == m.group(1)).map(_.dataType)
          .map {
            case StringType => "string"
            case ByteType | ShortType | IntegerType | LongType => "integer"
            case FloatType | DoubleType | _: DecimalType => "float"
            case BooleanType => "boolean"
            case _: ArrayType => "array"
            case _: StructType | _: MapType => "object"
            case TimestampType | TimestampNTZType => "timestamp"
            case NullType => "null"
            case other => other.simpleString
          }.getOrElse("null")
        s"'$name'"
      })
    }
    private val TypeNameRef = "__VRL_TYPENAME_([A-Za-z0-9_]+)__".r
    /** Type-assertion markers (`string!(.f)` family): the field itself
      * when the frame type matches, a LOUD failure when it doesn't —
      * VRL's assert semantics, never a cast. */
    private val AssertTRef = "__VRL_ASSERTT_([a-z]+)_([A-Za-z0-9_]+)__".r
    private def resolveTypeAsserts(df: DataFrame, sql: String): String =
      AssertTRef.replaceAllIn(sql, m => {
        val kind0 = m.group(1)
        val f = m.group(2)
        val kind = if (kind0 == "int") "integer" else kind0
        df.schema.fields.find(_.name == f) match {
          case Some(fd) if typeMatches(kind, fd.dataType) => s"`$f`"
          case Some(fd) => throw new IllegalArgumentException(
            s"remap: type assertion $kind0(.$f) failed — .$f is " +
              s"${fd.dataType.simpleString}, not $kind0")
          case None => throw new IllegalArgumentException(
            s"remap: type assertion $kind0(.$f) failed — the event has " +
              s"no field .$f")
        }
      })
    /** `. = unnest(.f)` markers: transform(f, e -> <the event with f=e>)
      * — an array of objects the whole-event machinery explodes to one
      * event per element (Vector's unnest). */
    private val UnnestRef = "__VRL_UNNEST_([A-Za-z0-9_]+)__".r
    private def resolveUnnest(df: DataFrame, sql: String): String =
      UnnestRef.replaceAllIn(sql, m => {
        val f = m.group(1)
        require(df.columns.contains(f), s"remap: unnest(.$f): no such field")
        require(df.schema(f).dataType.isInstanceOf[
          org.apache.spark.sql.types.ArrayType],
          s"remap: unnest(.$f): the field must be an array, got " +
            df.schema(f).dataType.simpleString)
        val eventCols = df.columns.filterNot(c =>
          c.startsWith("__vrl_") || c.startsWith("__meta_"))
        val fields = eventCols.map(c =>
          if (c == f) s"'$c', __vrl_unnest_e" else s"'$c', `$c`").mkString(", ")
        java.util.regex.Matcher.quoteReplacement(
          s"transform(`$f`, __vrl_unnest_e -> named_struct($fields))")
      })
    /** `__VRL_GET_<n>__` markers (literal-path `get`) resolve against the
      * batch frame's schema: a struct step must name an existing field
      * (an absent one makes the whole path null — VRL's get contract), a
      * map or array step compiles to try_element_at (null on missing key
      * / out-of-range index, matching get under ANSI mode too). */
    private val GetRef = "__VRL_GET_([0-9]+)__".r
    private def resolveGets(df: DataFrame, sql: String): String =
      GetRef.replaceAllIn(sql, m => {
        import org.apache.spark.sql.types._
        val steps = getPaths(m.group(1).toInt)
        var dt: DataType = df.schema
        var expr = ""
        var absent = false
        steps.foreach { step =>
          if (!absent) (dt, step) match {
            case (st: StructType, Left(name)) =>
              st.fields.find(_.name == name) match {
                case Some(f) =>
                  expr = if (expr.isEmpty) s"`$name`" else s"$expr.`$name`"
                  dt = f.dataType
                case None => absent = true
              }
            case (mt: MapType, Left(key)) =>
              expr = s"try_element_at($expr, '${key.replace("'", "''")}')"
              dt = mt.valueType
            case (at: ArrayType, Right(i)) =>
              // try_element_at indexes arrays 1-based; VRL paths 0-based
              expr = s"try_element_at($expr, ${i + 1})"
              dt = at.elementType
            case (other, s2) => throw new IllegalArgumentException(
              s"remap: get path step ${s2.fold("\"" + _ + "\"", _.toString)} " +
                s"cannot address a ${other.simpleString} value" +
                (if (other.isInstanceOf[VariantType]) " — variant fields " +
                  "are read with variant_get(value, '$.path')" else ""))
          }
        }
        java.util.regex.Matcher.quoteReplacement(
          if (absent) "null" else expr)
      })
    /** The frame's event columns as one struct — what a bare `.` means
      * in an expression position. Computed per frame like the exists/
      * type-guard markers (micro-batch schemas evolve). */
    private def selfStruct(df: DataFrame): String = {
      val eventCols = df.columns.filterNot(c =>
        c.startsWith("__vrl_") || c.startsWith("__meta_"))
      require(eventCols.nonEmpty,
        "remap: `.` used as a value but the event has no fields")
      eventCols.map(c => s"'$c', `$c`").mkString("named_struct(", ", ", ")")
    }
    private def exprFor(df: DataFrame, sql: String): org.apache.spark.sql.Column =
      expr(resolveUnnest(df, resolveTypeAsserts(df, resolveGets(df, resolveExists(df,
        if (sql.contains("__VRL_SELF__"))
          sql.replace("__VRL_SELF__", selfStruct(df))
        else sql)))))

    /** ONE try_pair evaluation carries both halves (value + error),
      * computed against the PRE-assignment frame, so a self-referencing
      * rhs reads the old value for both. */
    private def fallibleAssign(valueCol: String, errCol: String,
        sql: String): DataFrame => DataFrame = (df: DataFrame) => {
      val tmp = s"__vrl_try_$valueCol"
      df.withColumn(tmp, exprFor(df, s"try_pair($sql)"))
        .withColumn(valueCol, col(s"$tmp.value"))
        .withColumn(errCol, col(s"$tmp.err"))
        .drop(tmp)
    }

    def apply(batch: DataFrame): DataFrame = {
      // the reference's per-processor `timezone:` (processor/vrl.rs
      // config): Spark resolves time zones SESSION-wide at analysis, so a
      // per-processor zone that disagrees with the session's cannot be
      // honored without racing every concurrent analysis in the session —
      // accepted when it matches, rejected loudly with the fix otherwise
      timezone.foreach { t =>
        val cur = batch.sparkSession.conf.get("spark.sql.session.timeZone")
        require(cur == t,
          s"vrl: timezone '$t' differs from the session time zone '$cur' — " +
            "the Spark engine resolves time zones session-wide; set " +
            s"spark.sql.session.timeZone to '$t' on the SparkSession instead")
      }
      // the graft_vrl_* functions and try_pair (`, err =` targets and `??`
      // error-coalescing compile onto it)
      graft.functions.Registry.install(batch.sparkSession)
      val out = statements.foldLeft(batch)((df, stmt) => stmt(df))
      // VRL variables are program state, never event fields: the
      // reference's output for `.v2, err = .value * 2` carries v2 and NO
      // err column (vrl runtime: only `.` paths mutate the event)
      val varCols = out.columns.filter(_.startsWith("__vrl_var_"))
      if (varCols.isEmpty) out else out.drop(varCols.toIndexedSeq: _*)
    }
  }

  /** Temporary lookup table (SURVEY.md §2.6, core temporary/mod.rs:40-45):
    * `provider` fetches/derives the lookup rows for the current batch
    * (e.g. from JDBC/Redis keyed by a batch expression); the result is
    * registered under `name` and broadcast for the join — the Spark shape
    * of processor/sql.rs:148-183. */
  final case class TemporaryLookup(name: String, provider: DataFrame => DataFrame)

  /** `sql` processor with temporary lookup tables joined in: each
    * lookup's rows for the batch are broadcast and bound under its name
    * together with the batch, by plan ([[Sql.bind]]) — like the
    * reference's per-context temporaries, nothing outlives the batch or
    * is visible to another stream, whatever names the streams share. */
  final case class LookupSqlProcessor(query: String, tableName: String,
      temporaries: Seq[TemporaryLookup]) extends (DataFrame => DataFrame) {
    private val sql = SqlProcessor(query, tableName)
    def apply(batch: DataFrame): DataFrame =
      sql.withViews(batch,
        temporaries.map(t => t.name -> broadcast(t.provider(batch))).toMap)
  }

  /** Cross-source window join processor (buffer/join.rs:62-130): the
    * batch arrives union-tagged with `__input_name` (multiple_inputs
    * fan-in); the join SQL runs across the sources' slices, each bound
    * under its input name ([[Windows.windowJoin]]). A missing expected
    * source yields an empty window, like the reference's missing-source
    * check. The join SQL is parsed and checked when the processor is
    * built, like the `sql` processor's.
    */
  final case class WindowJoinProcessor(joinSql: String, expected: Seq[String],
      decode: String => BatchTransform = _ => JsonToArrow())
      extends (DataFrame => DataFrame) {
    private val parsed = Sql.parse(joinSql)
    def apply(batch: DataFrame): DataFrame = {
      // a single un-tagged input (no multiple_inputs fan-in) is the one
      // expected source whole — the reference tags every batch with its
      // input name at read; a plain input's name IS the only view
      val sources =
        if (!batch.columns.contains("__input_name")) {
          if (expected.size == 1) Map(expected.head -> decode(expected.head)(batch))
          else Map.empty[String, DataFrame]
        } else {
          val present = batch.select("__input_name").distinct()
            .collect().map(_.getString(0)).toSet
          expected.filter(present.contains).map { name =>
            name -> decode(name)(
              batch.filter(col("__input_name") === name).drop("__input_name"))
          }.toMap
        }
      Windows.windowJoin(batch.sparkSession, sources, parsed, expected)
    }
  }

  /** Processor dispatch TABLE — kind → builder; the single source of
    * truth for which processor kinds resolve (ReferenceExamplesSpec
    * asserts the reference examples' kinds against `builders.keySet`, so
    * removing an entry fails the spec). */
  val builders: Map[String, ComponentConf => BatchTransform] = Map(
    "sql" -> { c =>
      if (c.options.contains("lookup_name")) {
        // sql with a temporary lookup table (processor/sql.rs
        // temporary_list): lookup_kind sql|redis resolves a keyed provider.
        val provider: DataFrame => DataFrame =
          c.options.getOrElse("lookup_kind", "sql") match {
            case "sql" => batch =>
              Jdbc.lookupProvider(batch.sparkSession, c.options,
                batchKeyCol = c.options("lookup_key"),
                remoteKeyCol = c.options("lookup_remote_key"))(batch)
            case "redis" => batch =>
              Redis.lookupProvider(batch.sparkSession, c.options("host"),
                c.options.getOrElse("port", "6379").toInt,
                batchKeyCol = c.options("lookup_key"))(batch)
            case other =>
              throw new IllegalArgumentException(s"unknown lookup_kind: $other")
          }
        LookupSqlProcessor(c.options("query"),
          c.options.getOrElse("table_name", "flow"),
          Seq(TemporaryLookup(c.options("lookup_name"), provider)))
      } else
        SqlProcessor(c.options("query"), c.options.getOrElse("table_name", "flow"))
    },
    "json_to_arrow" -> { c =>
      // `schema` (DDL, e.g. "sensor STRING, value BIGINT") declares the
      // decode types — required when the stream feeds a schema-sensitive
      // sink so empty and non-empty micro-batches agree (JsonCodec doc)
      JsonToArrow(Config.list(c.options, "fields_to_include"),
        c.options.get("schema")
          .map(org.apache.spark.sql.types.StructType.fromDDL))
    },
    "arrow_to_json" -> (_ => ArrowToJson),
    // schema source: a compiled descriptor set (descriptor_path +
    // message_type, the reference's proto-file route) or an inline
    // "name:number:type,..." spec
    "protobuf_to_arrow" -> (c => ProtobufToArrow(protoFields(c.options))),
    "arrow_to_protobuf" -> (c => ArrowToProtobuf(protoFields(c.options))),
    "debezium_json" -> (_ => (df: DataFrame) => Codecs.DebeziumJsonCodec.decode(df)),
    "batch" -> { c =>
      // flush thresholds present -> the cross-batch accumulator
      // (processor/batch.rs); otherwise plain partition compaction.
      if (Seq("min_rows", "max_bytes", "interval_ms", "staging").exists(c.options.contains))
        new BatchAccumulator(
          c.options.get("min_rows").map(_.toLong).getOrElse(Long.MaxValue),
          c.options.get("max_bytes").map(_.toLong).getOrElse(Long.MaxValue),
          c.options.get("interval_ms").map(_.toLong).getOrElse(Long.MaxValue),
          c.options.get("staging"))
      else BatchCompact(c.options.getOrElse("partitions", "1").toInt)
    },
    "drift" -> { c =>
      // split on the LAST colon so keys may contain ':' (URLs); a
      // malformed entry gets a descriptive error, not a MatchError
      val baseline = Config.list(c.options, "baseline").map { s =>
        val cut = s.lastIndexOf(':')
        require(cut > 0 && cut < s.length - 1,
          s"drift baseline entry '$s' must be '<key>:<weight>'")
        val w = try s.substring(cut + 1).toDouble
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"drift baseline entry '$s': weight is not a number") }
        s.substring(0, cut) -> w
      }.toMap
      DriftMonitor(c.options("key_col"), baseline,
        c.options.getOrElse("out_col", "__drift_jsd"),
        c.options.getOrElse("max_keys", "10000").toInt)
    },
    "rate_cap" -> (c => new RateCap(c.options("max_rows").toLong)),
    "schema_guard" -> (c => new SchemaGuard(c.options.getOrElse("mode", "conform"),
      c.options.get("schema").map(
        org.apache.spark.sql.types.StructType.fromDDL))),
    "expr" -> (c => ExprProcessor(Config.list(c.options, "exprs", sep = ";"))),
    // reference config (processor/python.rs): script = full module
    // source, function = callable name, module (default __main__),
    // python_path list (list form only). The body-only shorthand (no
    // `function:`) is the engine's extension.
    "python" -> (c => PythonProcessor(
      c.options.getOrElse("script", ""),
      c.options.get("output_schema"),
      c.options.get("function"),
      c.options.get("module"),
      Config.indexed(c.options, "python_path"))),
    // the reference's vrl processor takes its program under `statement`
    // (processor/vrl.rs config; examples/vrl_example.yaml)
    "vrl" -> (c => RemapProcessor(
      c.options.getOrElse("statement", c.options("program")),
      c.options.get("timezone"))),
    "remap" -> (c => RemapProcessor(
      c.options.getOrElse("statement", c.options("program")),
      c.options.get("timezone"))),
    // The production dedup recipe (operators/Dedup.dedupRecipePairs:
    // exact md5-collapse ∘ auto-width banded simhash) as a CONFIG
    // processor — the flagship 100 TB operator reachable from YAML like
    // every reference processor, not library-only. Emits the pair table
    // (doc_a, doc_b, dist); compose a sql processor after it to join
    // back / filter / order. Options: id_col, text_col (the document
    // frame's columns), max_dist (hamming radius, default 2), bits
    // (pin the signature width; default auto from the post-collapse
    // keeper count), checkpoint_dir (reliable hadoop-fs checkpoint for
    // cluster runs — see the dedupRecipePairs retention contract).
    "dedup_recipe" -> { c =>
      val idCol = c.options.getOrElse("id_col", "doc_id")
      val textCol = c.options.getOrElse("text_col", "text")
      val maxDist = c.options.getOrElse("max_dist", "2").toInt
      val bits = c.options.get("bits").map(_.toInt)
      val ckpt = c.options.get("checkpoint_dir")
      batch => {
        graft.functions.Registry.install(batch.sparkSession)
        graft.operators.Dedup.dedupRecipePairs(
          batch, idCol, textCol, maxDist, bits, ckpt)
      }
    })

  /** Build the processor chain from config components. `temporaries` are
    * the stream-level `temporary:` declarations a sql processor's
    * `temporary_list` children (kind `temporary_ref`, parsed by
    * [[Config]]) resolve against — the reference's resource lookup in
    * processor/sql.rs SqlProcessor::new. */
  def fromConf(confs: Seq[ComponentConf],
      temporaries: Seq[ComponentConf] = Nil): Seq[BatchTransform] = confs.map { c =>
    if (c.kind == "sql" && c.children.exists(_.kind == "temporary_ref"))
      lookupSqlFromRefs(c, temporaries)
    else builders.getOrElse(c.kind,
      throw new IllegalArgumentException(s"unknown processor: ${c.kind}"))(c)
  }

  /** Resolve a sql processor's `temporary_list` name references against
    * the stream's `temporary:` declarations and build the lookup-join
    * processor (processor/sql.rs:70-90 — unknown names fail at BUILD
    * time, like the reference's "Temporary {} not found"). */
  private def lookupSqlFromRefs(c: ComponentConf,
      temporaries: Seq[ComponentConf]): BatchTransform = {
    val byName = temporaries.flatMap(t => t.name.map(_ -> t)).toMap
    val lookups = c.children.filter(_.kind == "temporary_ref").map { ref =>
      val refName = ref.name.getOrElse(
        throw new IllegalArgumentException("temporary_list entry without name"))
      val decl = byName.getOrElse(refName, throw new IllegalArgumentException(
        s"temporary '$refName' not found (declared: ${byName.keys.toSeq.sorted.mkString(", ")})"))
      val table = ref.options.getOrElse("table_name", refName)
      val provider: DataFrame => DataFrame = decl.kind match {
        case "redis" =>
          decl.options.get("mode.type").foreach(t => require(t == "single",
            s"redis temporary mode '$t' is not supported (single only)"))
          // BUILD-time validation (the reference builds its codec in the
          // builder — an unsupported codec must not wait for the first
          // micro-batch to fail)
          val codec = decl.options.getOrElse("codec.type", "json")
          require(codec == "json",
            s"temporary codec '$codec' is not supported (json only)")
          val endpoint = Redis.parseUrl(decl.options.getOrElse("mode.url",
            throw new IllegalArgumentException(
              s"redis temporary '$refName' needs mode.url")))
          batch => Redis.temporaryProvider(batch.sparkSession, endpoint,
            redisType = decl.options.getOrElse("redis_type.type", "string"),
            keys = Redis.temporaryKeys(ref.options))(batch)
        case other => throw new IllegalArgumentException(
          s"unknown temporary type: $other (the reference implements redis only)")
      }
      TemporaryLookup(table, provider)
    }
    LookupSqlProcessor(c.options("query"),
      c.options.getOrElse("table_name", "flow"), lookups)
  }

  /** Proto message schema from processor options: `descriptor_path` +
    * `message_type` resolve through a compiled FileDescriptorSet
    * ([[ProtoDescriptor]] — the reference's proto-file route); `fields`
    * takes inline `name:number:type` entries, a list or a comma string. */
  private def protoFields(options: Map[String, String]): Seq[ProtoField] =
    (options.get("descriptor_path"), Config.list(options, "fields")) match {
      case (Some(path), _) =>
        val all = ProtoDescriptor.parse(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
        val msg = options.getOrElse("message_type",
          throw new IllegalArgumentException(
            "descriptor_path requires message_type"))
        all.getOrElse(msg, throw new IllegalArgumentException(
          s"message $msg not found in descriptor; it has: ${all.keys.toSeq.sorted.mkString(", ")}"))
      case (None, specs) if specs.nonEmpty =>
        specs.map { s =>
          s.split(":") match {
            case Array(name, number, tpe) =>
              ProtoField(number.trim.toInt, name.trim, tpe.trim)
            case _ => throw new IllegalArgumentException(
              s"bad proto field spec '$s' (want name:number:type)")
          }
        }
      case _ => throw new IllegalArgumentException(
        "protobuf processor needs descriptor_path+message_type or fields")
    }
}
