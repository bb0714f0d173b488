package org.apache.spark.sql

import java.io.{CharConversionException, FileNotFoundException, IOException}
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException, JsonToken}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.PermissiveMode
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Bridge into Spark's catalyst-internal JSON schema inference
  * (`JsonInferSchema`, `CreateJacksonParser`).
  *
  * [[inferSchema]] returns exactly `spark.read.json(strings).schema`: it
  * runs Spark's own `JsonInferSchema.infer` — one job, every record read
  * once — but over only the records that can change the schema. Each
  * partition keeps a shadow of the type Spark's inference has merged so
  * far in that partition. A record is handed on to Spark when a token walk
  * over its UTF-8 bytes cannot prove that merging it leaves the shadow
  * unchanged; the shadow then advances with Spark's own `inferField` and
  * root merge, so it equals Spark's per-partition accumulator at every
  * step. A dropped record would have left that accumulator as it was, so
  * the result is the same schema, and the common record (same shape as
  * the ones before it) skips the per-record `StructType` building.
  */
object GraftJson {

  /** `spark.read.json(strings).schema`, computed as described above. */
  def inferSchema(strings: Dataset[String]): StructType = {
    val ds = strings.asInstanceOf[classic.Dataset[String]]
    val spark = ds.sparkSession
    val options = readerOptions(spark)
    // the reader samples only below samplingRatio 0.99; no option is set
    val rows = ds.queryExecution.toRdd
    SQLExecution.withSQLConfPropagated(spark) {
      new JsonInferSchema(options).infer(keptRecords(rows, options),
        CreateJacksonParser.internalRow(_: JsonFactory, _: InternalRow))
    }
  }

  /** The options `spark.read.json(Dataset[String])` parses with. */
  def readerOptions(spark: SparkSession): JSONOptions = {
    val conf = spark.sessionState.conf
    new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
  }

  /** The records of `rows` (one string column each) that Spark's inference
    * must see to reach its full result: all of them when an option makes
    * the token walk's type rules differ from `inferField`'s. */
  def keptRecords(rows: RDD[InternalRow],
      options: JSONOptions): RDD[InternalRow] =
    if (options.primitivesAsString || options.prefersDecimal ||
        options.inferTimestamp) rows
    else {
      val infer = new JsonInferSchema(options)
      rows.mapPartitions(it => it.filter(new Shadow(options, infer).keep))
    }

  private final val NullK = 0 // NullType or a type only null and "" merge into
  private final val LongK = 1
  private final val DoubleK = 2
  private final val BooleanK = 3
  private final val StringK = 4
  private final val ArrayK = 5
  private final val StructK = 6

  /** One node of the shadow type, compiled for the walk: a struct's
    * fields by exact name, each with its `slot` in the struct's `seen`
    * stamps (duplicate-key detection without allocating per record). */
  private final class Cover(val kind: Int) {
    var elem: Cover = _
    var fields: java.util.HashMap[String, Cover] = _
    var seen: Array[Long] = _
    var slot: Int = 0
  }

  /** What a String-typed value covers: anything (a String absorbs every
    * merge), walked only to make `inferField`'s parser calls. */
  private val anyValue = new Cover(StringK)

  /** `dt` as a cover tree, or a node that covers only null and "" when
    * the walk cannot reason about it. A struct needs unique field names;
    * inside an array it needs them unique ignoring case too, because
    * Spark's element merge may pair struct fields by position under a
    * case-insensitive resolver. */
  private def compile(dt: DataType, inArray: Boolean): Cover = dt match {
    case LongType => new Cover(LongK)
    case DoubleType => new Cover(DoubleK)
    case BooleanType => new Cover(BooleanK)
    case StringType => new Cover(StringK)
    case ArrayType(e, true) =>
      val c = new Cover(ArrayK)
      c.elem = compile(e, inArray = true)
      c
    case StructType(fs) if fs.forall(f => f.nullable && f.metadata == Metadata.empty) &&
        uniqueNames(fs, ignoreCase = inArray) =>
      val c = new Cover(StructK)
      c.fields = new java.util.HashMap[String, Cover](fs.length * 2)
      c.seen = new Array[Long](fs.length)
      fs.zipWithIndex.foreach { case (f, i) =>
        val child = compile(f.dataType, inArray)
        child.slot = i
        c.fields.put(f.name, child)
      }
      c
    case _ => new Cover(NullK)
  }

  private def uniqueNames(fs: Array[StructField], ignoreCase: Boolean): Boolean =
    fs.indices.forall(i => fs.indices.forall(j => i == j ||
      (if (ignoreCase) !fs(i).name.equalsIgnoreCase(fs(j).name) else fs(i).name != fs(j).name)))

  /** One partition's shadow of Spark's inference accumulator. */
  private final class Shadow(options: JSONOptions, infer: JsonInferSchema) {
    private val factory = options.buildJsonFactory()
    private val merge = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)
    private val corrupt =
      StructType(Array(StructField(options.columnNameOfCorruptRecord, StringType)))
    private var acc: DataType = _ // Spark's reduceOption accumulator; null before the first
    private var root: Cover = _ // acc compiled, when acc is a struct
    private var stamp = 0L

    def keep(row: InternalRow): Boolean = {
      if (root != null && covered(row)) false
      else {
        inferred(row).foreach { t =>
          val next = if (acc == null) t else merge(acc, t)
          if (next != acc) {
            acc = next
            root = acc match {
              case s: StructType => Some(compile(s, inArray = false)).filter(_.kind == StructK).orNull
              case _ => null
            }
          }
        }
        true
      }
    }

    /** What Spark's `infer` contributes for this record: the same parser,
      * `inferField` and error handling. A record Spark fails the job on
      * (FAILFAST) contributes nothing here and fails the job there. */
    private def inferred(row: InternalRow): Option[DataType] =
      try {
        val p = CreateJacksonParser.internalRow(factory, row)
        try { p.nextToken(); Some(infer.inferField(p)) } finally p.close()
      } catch {
        case _: RuntimeException | _: JsonProcessingException |
            _: MalformedInputException | _: CharConversionException =>
          if (options.parseMode == PermissiveMode) Some(corrupt) else None
        case _: FileNotFoundException if options.ignoreMissingFiles => Some(StructType(Nil))
        case _: IOException if options.ignoreCorruptFiles => Some(StructType(Nil))
      }

    /** Whether merging this record's inferred type into `acc` provably
      * leaves it unchanged. The record must be an object whose first byte
      * is `{` (so Jackson's byte-source encoding detection reads UTF-8)
      * and valid UTF-8 (so the byte parser sees the characters Spark's
      * decoding reader sees); any parse error keeps the record. */
    private def covered(row: InternalRow): Boolean = {
      val s = row.getUTF8String(0)
      if (s == null) return false
      val bytes = s.getBaseObject match {
        case b: Array[Byte] => b
        case _ => return false
      }
      val off = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      val len = s.numBytes
      if (len < 2 || bytes(off) != '{' || bytes(off + 1) == 0 || !s.isValid) return false
      try {
        val p = factory.createParser(bytes, off, len)
        try p.nextToken() == JsonToken.START_OBJECT && value(p, root)
        finally p.close()
      } catch { case scala.util.control.NonFatal(_) => false }
    }

    /** Whether the value at the parser's current token, typed the way
      * `inferField` types it, merges into `a` without changing it. Makes
      * the same parser calls `inferField` makes for what it reads. */
    private def value(p: JsonParser, a: Cover): Boolean = p.currentToken() match {
      case JsonToken.VALUE_NULL => true
      case JsonToken.VALUE_STRING => p.getTextLength < 1 || a.kind == StringK
      case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
        p.getNumberType match {
          case JsonParser.NumberType.INT | JsonParser.NumberType.LONG =>
            a.kind == LongK || a.kind == DoubleK || a.kind == StringK
          case JsonParser.NumberType.FLOAT | JsonParser.NumberType.DOUBLE =>
            a.kind == DoubleK || a.kind == StringK
          case _ => false
        }
      case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE =>
        a.kind == BooleanK || a.kind == StringK
      case JsonToken.START_OBJECT if a.kind == StringK =>
        var t = p.nextToken()
        while (t == JsonToken.FIELD_NAME) {
          if (p.nextToken() == null || !value(p, anyValue)) return false
          t = p.nextToken()
        }
        t == JsonToken.END_OBJECT
      case JsonToken.START_OBJECT if a.kind == StructK =>
        stamp += 1
        val mine = stamp
        var t = p.nextToken()
        while (t == JsonToken.FIELD_NAME) {
          val f = a.fields.get(p.currentName)
          if (f == null || a.seen(f.slot) == mine) return false
          a.seen(f.slot) = mine
          if (p.nextToken() == null || !value(p, f)) return false
          t = p.nextToken()
        }
        t == JsonToken.END_OBJECT
      case JsonToken.START_ARRAY if a.kind == StringK || a.kind == ArrayK =>
        val e = if (a.kind == ArrayK) a.elem else anyValue
        var t = p.nextToken()
        while (t != null && t != JsonToken.END_ARRAY) {
          if (!value(p, e)) return false
          t = p.nextToken()
        }
        t == JsonToken.END_ARRAY
      case _ => false
    }
  }
}
