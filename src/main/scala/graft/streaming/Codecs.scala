package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Codecs: bytes <-> columnar batches (SURVEY.md §2.5).
  *
  * The binary envelope convention follows the reference: undecoded
  * messages are a single non-null `__value__` binary column
  * (crates/arkflow-core/src/lib.rs:52, 252-279).
  */
object Codecs {

  val ValueCol = "__value__"

  /** JSON string-content escaping for hand-built documents (auth
    * payloads, JS API configs, control-plane bodies) — one shared
    * implementation so control-character handling can't drift between
    * the connectors. Returns the escaped CONTENT (no surrounding
    * quotes). */
  def jsonEscape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Exactly the schema `spark.read.json` infers for `strings`, from one
    * job that reads every record once but hands Spark's inference only the
    * records that can change the schema ([[org.apache.spark.sql.GraftJson]]).
    * The one place the engine infers a JSON schema. */
  def inferJsonSchema(strings: Dataset[String]): StructType =
    org.apache.spark.sql.GraftJson.inferSchema(strings)

  /** JSON codec (codec/json.rs:23-52): decode infers the schema from the
    * batch (per-batch inference is legal inside foreachBatch — SURVEY §1.3),
    * optionally keeping only `fieldsToInclude`; encode serializes every
    * column to one JSON object per row.
    *
    * Inference is exact: [[inferJsonSchema]] returns the schema
    * `spark.read.json` infers, types, widening and `_corrupt_record`
    * included, and the batch is then parsed with it. Records that cannot
    * change the schema (same shape as the ones before them) skip Spark's
    * per-record type building.
    *
    * Pass `declaredSchema` when the stream feeds a schema-sensitive sink
    * (parquet append, JDBC insert): inference then never runs, so empty
    * and non-empty micro-batches carry identical types. Without it, a
    * zero-row batch has nothing to infer from — decode returns a
    * STATICALLY-empty frame (empty LocalRelation) that the engine's
    * held-back check skips before any sink sees its placeholder schema.
    */
  final case class JsonCodec(fieldsToInclude: Seq[String] = Nil,
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None) {
    def decode(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val strings = df.select(col(ValueCol).cast("string")).as[String]
      val parsed = spark.read
        .schema(declaredSchema.getOrElse(inferJsonSchema(strings))).json(strings)
      if (parsed.schema.isEmpty)
        // Inference saw zero rows. A made-up schema here (e.g. all-string)
        // would poison schema-sensitive sinks, so emit the engine's
        // held-back sentinel instead: the zero-column frame
        // ([[Engine.heldBackSentinel]]) that short-circuits the pipeline.
        Engine.heldBackSentinel(spark)
      else if (fieldsToInclude.isEmpty) parsed
      else parsed.select(fieldsToInclude.map(col): _*)
    }
    def encode(df: DataFrame): DataFrame =
      df.select(to_json(struct(df.columns.map(col): _*)).cast("binary").as(ValueCol))
  }

  /** Debezium CDC envelope codec (codec/debezium.rs:58-127): flattens the
    * business payload — `after` when it is an object, falling back to
    * `before` (deletes) — and exposes `op`, `ts_ms`, `source_db`,
    * `source_table`, plus the full `before`/`source` objects preserved as
    * JSON text columns, matching the reference's flatten_envelope
    * (codec/debezium.rs:80-127).
    *
    * Homogeneous micro-batches are the critical case: an all-create batch
    * (every initial snapshot, insert-only workloads) infers `before` as an
    * all-null STRING while `after` is a STRUCT — a naive
    * `CASE WHEN op='d' THEN before ELSE after` then fails analysis with
    * DATATYPE_MISMATCH. So decode inspects the INFERRED schema first: a
    * side that did not infer as a struct carries no payload in this batch
    * and is dropped from the per-row coalesce; when both sides are structs
    * their field sets are unified (null-cast the missing fields) before
    * coalescing, mirroring how the reference's row-wise JSON re-inference
    * merges them.
    *
    * The envelope's schema is inferred exactly as `spark.read.json` infers
    * it ([[inferJsonSchema]]); records that cannot change it skip Spark's
    * per-record type building.
    */
  object DebeziumJsonCodec {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DataType

    /** Envelope columns the reference always (re)inserts at the top level
      * (codec/debezium.rs:118-124) — they win over same-named business
      * fields, so the payload expansion excludes them. */
    private val reserved =
      Set("op", "ts_ms", "source_db", "source_table", "before", "source")

    def decode(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val strings = df.select(col(ValueCol).cast("string")).as[String]
      val parsed = spark.read.schema(inferJsonSchema(strings)).json(strings)
      val fieldType: Map[String, DataType] =
        parsed.schema.map(f => f.name -> f.dataType).toMap
      def structSide(name: String): Option[StructType] =
        fieldType.get(name).collect { case s: StructType => s }

      val (beforeT, afterT) = (structSide("before"), structSide("after"))
      // Per-row business payload: prefer `after`, fall back to `before` —
      // exactly flatten_envelope's `if after.is_object() .. else before`.
      val payload: Option[(Column, StructType)] = (afterT, beforeT) match {
        case (Some(a), Some(b)) =>
          // Unify the two sides' field sets; `after`'s type wins on a name
          // collision (the reference re-infers over after-shaped rows too).
          val merged = StructType(
            a.fields ++ b.fields.filterNot(f => a.fieldNames.contains(f.name)))
          def rebuilt(side: String, st: StructType): Column =
            when(col(side).isNotNull, struct(merged.fields.map { f =>
              // try_cast: when the sides' inferred types disagree (e.g.
              // before.x string, after.x long), an unconvertible value
              // degrades to a null CELL — a plain cast under default ANSI
              // would throw and send the whole batch to error_output
              (if (st.fieldNames.contains(f.name))
                col(side + "." + f.name).try_cast(f.dataType)
              else lit(null).cast(f.dataType)).as(f.name)
            }.toSeq: _*))
          Some((coalesce(rebuilt("after", a), rebuilt("before", b)), merged))
        case (Some(a), None) => Some((col("after"), a))
        case (None, Some(b)) => Some((col("before"), b))
        case (None, None) => None // tombstone-only batch: envelope metadata only
      }

      def metaCol(name: String, tpe: String): Column =
        (if (fieldType.contains(name)) col(name).cast(tpe)
        else lit(null).cast(tpe)).as(name)
      def sourceField(f: String): Column =
        (structSide("source") match {
          case Some(s) if s.fieldNames.contains(f) => col("source." + f).cast("string")
          case _ => lit(null).cast("string")
        }).as("source_" + f)
      // Preserve the full before/source objects as JSON text (the
      // reference serializes them because single-pass inference cannot
      // reconcile null-vs-object within a batch — same reason as above).
      def asJsonText(name: String): Column =
        (fieldType.get(name) match {
          case Some(_: StructType) => to_json(col(name))
          case Some(_) => col(name).cast("string")
          case None => lit(null).cast("string")
        }).as(name)

      val payloadCols: Seq[Column] = payload match {
        case Some((_, st)) =>
          st.fieldNames.toSeq.filterNot(reserved).map { f =>
            col("__graft_payload." + f).as(f)
          }
        case None => Nil
      }
      val base = payload match {
        case Some((p, _)) => parsed.withColumn("__graft_payload", p)
        case None => parsed
      }
      base.select(payloadCols ++ Seq(
        metaCol("op", "string"), metaCol("ts_ms", "long"),
        sourceField("db"), sourceField("table"),
        asJsonText("before"), asJsonText("source")): _*)
    }
  }
}
