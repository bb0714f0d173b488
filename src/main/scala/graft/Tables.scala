package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query receives a scale-factor directory and reads the parquet
  * lazily; Catalyst prunes columns and pushes filters into the scan, so
  * registering all tables costs nothing until an action runs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet SCHEMA cache, keyed by table path (round-18, guide §1.2
    * "don't compute things you throw away" applied to actions): every
    * bare `spark.read.parquet(path)` runs a one-task schema-inference
    * job before any query executes, and the 275-entry sweep paid it
    * 10× per SQL-path entry (Tables.register infers all ten tables) —
    * measured as 10 of q23's 13 jobs, ~0.4 s of a 0.57 s entry. A
    * table's file schema is metadata (this is exactly what a
    * catalog/metastore persists so scans never infer); caching it is
    * NOT result caching — every query still reads its data from the
    * parquet files. One entry per path and conf setting, stamped with
    * the files the read resolved to ([[listing]]): a path rewritten with another
    * schema (the streaming `file` input reads user paths through here)
    * lists other files, so its schema is inferred again instead of
    * served stale. The key also carries the session's values of the
    * confs that change what inference yields ([[inferenceConfs]]), so
    * sessions that read a path under other settings do not share a
    * schema. The first load of a path still pays one inference (fresh
    * JVMs start cold). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]),
    (Seq[(String, Long, Long)], org.apache.spark.sql.types.StructType)]()

  /** The parquet schema-inference confs: each changes the type inferred
    * for some physical column. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** Schema-cached parquet read (no reader options). Shared with the
    * streaming file input for its plain parquet case. */
  def cachedParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, inferenceConfs.map(spark.conf.get(_)))
    Option(schemaCache.get(key))
      .map { case (files, schema) => (files, spark.read.schema(schema).parquet(path)) }
      .collect { case (files, df) if listing(df) == files => df }
      .getOrElse {
        val inferred = spark.read.parquet(path)
        schemaCache.put(key, (listing(inferred), inferred.schema))
        spark.read.schema(inferred.schema).parquet(path)
      }
  }

  /** Name, size and modification time of each file a parquet read
    * resolved to, sorted — taken from the file index Spark listed on the
    * driver while building the read, so it costs no listing and no job. */
  private def listing(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.location
    }.collect {
      case i: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
        i.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }.getOrElse(Nil)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = cachedParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The engine-facing contract for `events.ts` is epoch-NANOSECOND
    * BIGINT, whatever the generator wrote physically: TIMESTAMP(NANOS)
    * parquet arrives as long already (nanosAsLong), while timestamp[us]
    * arrives as TimestampType/TimestampNTZType and is converted here
    * (UTC session, so the naive wall clock IS the epoch — matching the
    * DuckDB oracles, which normalize with `epoch_ns(ts)` on their side).
    * Row-local codegen cast; nothing downstream changes shape. */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) => df
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000"))
      case None => df
    }

  /** Last dir registered per session — registration is idempotent for a
    * fixed dir, and every SQL-path query calls [[register]] on entry, so
    * re-pointing ten temp views per query is pure per-entry overhead.
    * Keyed WEAKLY by session (a stopped session must not pin the map);
    * a dir CHANGE re-registers, which ScaleProbe relies on when it runs
    * one query against sf0.1 and /tmp/sf1 in the same session, and so
    * does a dropped view (catalog lookups only, no job). */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every table for `dir` as a temp view (for the SQL-path queries). */
  def register(spark: SparkSession, dir: String): Unit =
    if (registeredDir.get(spark) != dir || !names.forall(isTempView(spark, _))) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
      ()
    }

  private def isTempView(spark: SparkSession, name: String): Boolean =
    scala.util.Try(spark.catalog.getTable(name).isTemporary).getOrElse(false)
}
