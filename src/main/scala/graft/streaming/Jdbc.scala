package graft.streaming

import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC `sql` input + output (SURVEY.md §2.1/§2.2; reference
  * input/sql.rs:48-73 polls `select_sql` against MySQL/Postgres/SQLite/
  * DuckDB, output/sql.rs:48-158 batch-inserts into `table_name`).
  *
  * The Spark shape is `spark.read.jdbc` / `df.write.jdbc`, which adds what
  * the reference's single connection cannot: partitioned parallel reads
  * (`partition_column`/`lower_bound`/`upper_bound`/`num_partitions` slice
  * the source query across executors) and per-executor batched inserts
  * (`batch_size` rows per round trip from every partition concurrently).
  *
  * Exactly-once: the reference wraps one batch in one transaction
  * (output/sql.rs execute_insert). Spark's JDBC writer commits per
  * partition, so the sink instead makes replay idempotent per batchId —
  * a `batch_id` column plus delete-before-insert — which composes with
  * the checkpoint into end-to-end exactly-once exactly like [[Engine.ParquetSink]].
  *
  * Verified against embedded Derby (the only DB in this sandbox).
  */
object Jdbc {

  /** `sql` input: one poll of `select_sql` with EOF semantics (the
    * reference reads the result stream to completion, then closes).
    * With `partition_column` bounds, the read is sliced into
    * `num_partitions` range predicates executed in parallel.
    */
  def read(spark: SparkSession, o: Map[String, String]): DataFrame = {
    val r = spark.read.format("jdbc").option("url", o("url"))
    o.get("driver").foreach(d => r.option("driver", d))
    r.options(Config.nested(o, "jdbc"))
    o.get("partition_column") match {
      case Some(pc) =>
        r.option("dbtable", s"(${o("select_sql")}) graft_sql_input")
          .option("partitionColumn", pc)
          .option("lowerBound", o("lower_bound"))
          .option("upperBound", o("upper_bound"))
          .option("numPartitions", o.getOrElse("num_partitions", "8"))
      case None =>
        r.option("query", o("select_sql"))
    }
    r.load()
  }

  /** `sql` output: append the batch into `table` (created on first write).
    * With `track_batch_id` (default true) a `batch_id` column is added and
    * the batch's own rows are deleted before insert, so a replayed batch
    * overwrites itself — idempotent per batchId.
    */
  final case class JdbcSink(url: String, table: String,
      options: Map[String, String] = Map.empty) extends Engine.BatchSink {

    private val trackBatchId = options.get("track_batch_id").forall(_.toBoolean)

    def write(batch: DataFrame, batchId: Long): Unit = {
      val out = if (trackBatchId) batch.withColumn("batch_id", lit(batchId)) else batch
      if (trackBatchId && tableExists())
        execute(url, s"""DELETE FROM $table WHERE "batch_id" = $batchId""")
      val w = out.write.format("jdbc").mode("append")
        .option("url", url).option("dbtable", table)
        .option("batchsize", options.getOrElse("batch_size", "1000"))
      options.get("driver").foreach(d => w.option("driver", d))
      options.get("isolation_level").foreach(l => w.option("isolationLevel", l))
      w.save()
    }

    private def tableExists(): Boolean = {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
        var found = false
        while (!found && rs.next()) found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
        found
      } finally conn.close()
    }
  }

  /** Concrete temporary-lookup provider (SURVEY.md §2.6; reference
    * plugin/temporary/redis.rs semantics: `get(keys)` for the batch's keys
    * returns a joinable table). The batch's distinct keys are pushed into
    * the source query as an IN predicate — the JDBC analogue of a keyed
    * mget — and the (small, key-bounded) result is broadcast by
    * [[Processors.LookupSqlProcessor]]. Batches with more than `maxKeys`
    * distinct keys fall back to the unfiltered query rather than shipping
    * an unbounded IN-list through the driver.
    */
  def lookupProvider(spark: SparkSession, o: Map[String, String],
      batchKeyCol: String, remoteKeyCol: String,
      maxKeys: Int = 10000): DataFrame => DataFrame = { batch =>
    // batchKeyCol may be any SQL expression over the batch (the
    // reference's key expression, processor/sql.rs:148-183). Nulls filter
    // BEFORE distinct/limit: filtered after, a null could take the
    // maxKeys+1 overflow slot and a real key would miss the IN-list
    val projected = batch.select(expr(batchKeyCol).as("k"))
      .where(col("k").isNotNull).distinct().limit(maxKeys + 1)
    val keyType = projected.schema.head.dataType
    val keys = projected.collect().map(_.get(0))
    val sql = o("select_sql")
    val filtered =
      if (keys.length > maxKeys) sql
      else {
        val inList = keys.map(sqlLiteral(_, keyType)).mkString(", ")
        if (keys.isEmpty) s"SELECT * FROM ($sql) t WHERE 1 = 0"
        else s"SELECT * FROM ($sql) t WHERE t.$remoteKeyCol IN ($inList)"
      }
    read(spark, o + ("select_sql" -> filtered) - "partition_column")
  }

  /** Render one key as a SQL literal by its Catalyst type — dates and
    * timestamps as JDBC escape literals (`{d '...'}`/`{ts '...'}`, which
    * every JDBC driver translates to its own dialect — a bare `toString`
    * would compare a DATE column against a VARCHAR and miss or error),
    * strings quote-escaped, numerics/booleans verbatim. */
  private[streaming] def sqlLiteral(v: Any, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | BooleanType => v.toString
      case DateType => s"{d '${dateBody(v)}'}"
      case TimestampType | TimestampNTZType =>
        // The escape body must be `yyyy-mm-dd hh:mm:ss[.f...]`. Only
        // java.sql.Timestamp.toString happens to produce that; the java8 API
        // types Spark can collect instead (LocalDateTime for TIMESTAMP_NTZ,
        // Instant when datetime.java8API.enabled) print ISO-8601 — a 'T'
        // separator, seconds elided when zero, trailing 'Z' — which is not a
        // valid JDBC escape. Format explicitly, never via toString.
        s"{ts '${timestampBody(v)}'}"
      case _ => "'" + v.toString.replace("'", "''") + "'"
    }
  }

  private val TsEscapeFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def timestampBody(v: Any): String = v match {
    case t: java.sql.Timestamp => TsEscapeFmt.format(t.toLocalDateTime)
    case ldt: java.time.LocalDateTime => TsEscapeFmt.format(ldt)
    case i: java.time.Instant =>
      // JVM default zone, NOT UTC: java.sql.Timestamp renders the local
      // wall clock, and JDBC setTimestamp encodes local wall clock too —
      // a UTC rendering here would shift Instant keys by the zone offset
      // relative to both, missing every row on a non-UTC JVM.
      TsEscapeFmt.format(java.time.LocalDateTime.ofInstant(i, java.time.ZoneId.systemDefault()))
    case other => other.toString // already-rendered string keys
  }

  private def dateBody(v: Any): String = v match {
    // java.sql.Date.toString and LocalDate.toString are both yyyy-MM-dd
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other.toString
  }

  /** Driver-side DDL/DML helper (tests, delete-before-insert). */
  def execute(url: String, sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try sqls.foreach(st.executeUpdate)
      finally st.close()
    } finally conn.close()
  }
}
