package graft.streaming

import org.apache.spark.sql.{Column, GraftInternal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf codec (SURVEY.md §2.5; reference: codec/protobuf.rs:43-122,
  * processor/protobuf.rs:44-120) as native Catalyst expressions.
  *
  * No spark-protobuf connector ships in this environment, so this is a
  * self-contained wire-format (proto3 scalar subset) decoder/encoder for
  * the field types the reference maps: int32/int64/uint32/uint64 (varint),
  * sint32/sint64 (zigzag varint), fixed32/fixed64/sfixed32/sfixed64
  * (fixed-width), double (fixed64), float (fixed32), bool (varint),
  * string/bytes (length-delimited). Unknown fields are skipped per proto
  * semantics.
  *
  * Used as columns built for one message schema, so no per-schema name
  * is written to the session's function registry:
  *   df.select(Protobuf.decode(col("__value__"), schema).as("m")).select("m.*")
  */
final case class ProtoField(number: Int, name: String, ftype: String) {
  def sparkType: DataType = ftype match {
    case "int32" => IntegerType
    // unsigned widths map UP so no value wraps (the reference's
    // no-unsigned-wrap contract): uint32 fits a long, uint64 a decimal.
    case "uint32" => LongType
    case "int64" => LongType
    case "uint64" => DecimalType(20, 0)
    // zigzag varints carry their sign in bit 0 — native signed widths
    case "sint32" => IntegerType
    case "sint64" => LongType
    // fixed-width: fixed* are unsigned (map UP like uint*), sfixed* signed
    case "fixed32" => LongType
    case "fixed64" => DecimalType(20, 0)
    case "sfixed32" => IntegerType
    case "sfixed64" => LongType
    case "double" => DoubleType
    case "float" => FloatType
    case "bool" => BooleanType
    case "string" => StringType
    case "bytes" => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported proto type $other")
  }
}

object ProtoWire {
  /** Reads (value, nextPos) varint at pos. */
  def readVarint(b: Array[Byte], pos: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var p = pos
    while ({
      val x = b(p) & 0xff
      v |= (x & 0x7fL) << shift
      shift += 7; p += 1
      (x & 0x80) != 0
    }) ()
    (v, p)
  }

  def writeVarint(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Parse one message into fieldNumber -> raw value (last wins). */
  def parse(bytes: Array[Byte]): Map[Int, Any] = {
    var pos = 0
    val out = scala.collection.mutable.Map[Int, Any]()
    while (pos < bytes.length) {
      val (tag, p1) = readVarint(bytes, pos)
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      wire match {
        case 0 =>
          val (v, p2) = readVarint(bytes, p1); out(field) = v; pos = p2
        case 1 =>
          val bb = java.nio.ByteBuffer.wrap(bytes, p1, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          out(field) = bb.getLong; pos = p1 + 8
        case 2 =>
          val (len, p2) = readVarint(bytes, p1)
          out(field) = java.util.Arrays.copyOfRange(bytes, p2, p2 + len.toInt)
          pos = p2 + len.toInt
        case 5 =>
          val bb = java.nio.ByteBuffer.wrap(bytes, p1, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          out(field) = bb.getInt.toLong; pos = p1 + 4
        case other => throw new IllegalArgumentException(s"wire type $other")
      }
    }
    out.toMap
  }

  /** [[parse]] keeping EVERY occurrence of each field in order —
    * required for repeated message fields (descriptor parsing). */
  def parseRepeated(bytes: Array[Byte]): Map[Int, Seq[Any]] = {
    var pos = 0
    val out = scala.collection.mutable.Map[Int, Vector[Any]]()
    def add(field: Int, v: Any): Unit =
      out(field) = out.getOrElse(field, Vector.empty) :+ v
    while (pos < bytes.length) {
      val (tag, p1) = readVarint(bytes, pos)
      val field = (tag >>> 3).toInt
      (tag & 7).toInt match {
        case 0 =>
          val (v, p2) = readVarint(bytes, p1); add(field, v); pos = p2
        case 1 =>
          val bb = java.nio.ByteBuffer.wrap(bytes, p1, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          add(field, bb.getLong); pos = p1 + 8
        case 2 =>
          val (len, p2) = readVarint(bytes, p1)
          add(field, java.util.Arrays.copyOfRange(bytes, p2, p2 + len.toInt))
          pos = p2 + len.toInt
        case 5 =>
          val bb = java.nio.ByteBuffer.wrap(bytes, p1, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          add(field, bb.getInt.toLong); pos = p1 + 4
        case other => throw new IllegalArgumentException(s"wire type $other")
      }
    }
    out.toMap
  }
}

/** Schema-from-descriptor: parse a serialized `FileDescriptorSet`
  * (`protoc --descriptor_set_out`) into [[ProtoField]] schemas — the
  * reference resolves its message schemas by compiling proto sources to
  * exactly this structure (codec/protobuf.rs:70 `parse_proto_file` →
  * `file_descriptor_set`). The descriptor format is itself protobuf,
  * so the engine's own wire parser reads it; the field numbers below
  * are descriptor.proto's public schema (FileDescriptorSet.file=1;
  * FileDescriptorProto name=1/package=2/message_type=4; DescriptorProto
  * name=1/field=2/nested_type=3; FieldDescriptorProto name=1/number=3/
  * type=5).
  *
  * SINGULAR scalar proto3 fields map to the codec's type surface;
  * message/enum/group-typed fields AND repeated fields (label 3 —
  * proto3 packs repeated scalars as length-delimited, which the
  * singular decoder would misread as a varint/fixed value) are omitted
  * from the schema (same column subset a projection would keep).
  * Returns fully-qualified message name → fields.
  */
object ProtoDescriptor {
  private val TypeNames: Map[Int, String] = Map(
    1 -> "double", 2 -> "float", 3 -> "int64", 4 -> "uint64",
    5 -> "int32", 6 -> "fixed64", 7 -> "fixed32", 8 -> "bool",
    9 -> "string", 12 -> "bytes", 13 -> "uint32", 15 -> "sfixed32",
    16 -> "sfixed64", 17 -> "sint32", 18 -> "sint64")

  private def str(v: Any): String = new String(v.asInstanceOf[Array[Byte]], "UTF-8")

  def parse(bytes: Array[Byte]): Map[String, Seq[ProtoField]] = {
    ProtoWire.parseRepeated(bytes).getOrElse(1, Nil).flatMap { fdp =>
      val file = ProtoWire.parseRepeated(fdp.asInstanceOf[Array[Byte]])
      val pkg = file.get(2).flatMap(_.headOption).map(str).getOrElse("")
      val prefix = if (pkg.isEmpty) "" else pkg + "."
      file.getOrElse(4, Nil).flatMap(m =>
        messages(m.asInstanceOf[Array[Byte]], prefix))
    }.toMap
  }

  private def messages(descriptor: Array[Byte],
      prefix: String): Seq[(String, Seq[ProtoField])] = {
    val m = ProtoWire.parseRepeated(descriptor)
    val fq = prefix + str(m(1).head)
    val fields = m.getOrElse(2, Nil).flatMap { f =>
      val fm = ProtoWire.parseRepeated(f.asInstanceOf[Array[Byte]])
      // FieldDescriptorProto.label = 4; LABEL_REPEATED = 3. A repeated
      // scalar arrives length-delimited (packed), so the singular decoder
      // must never claim it — drop it like message-typed fields.
      val repeated = fm.get(4).flatMap(_.headOption)
        .exists(_.asInstanceOf[Long] == 3L)
      for {
        tpe <- fm.get(5).flatMap(_.headOption)
          .flatMap(t => TypeNames.get(t.asInstanceOf[Long].toInt))
        if !repeated
        name <- fm.get(1).flatMap(_.headOption).map(str)
        number <- fm.get(3).flatMap(_.headOption).map(_.asInstanceOf[Long].toInt)
      } yield ProtoField(number, name, tpe)
    }
    (fq -> fields) +: m.getOrElse(3, Nil).flatMap(n =>
      messages(n.asInstanceOf[Array[Byte]], fq + "."))
  }
}

/** bytes -> struct(fields). Missing fields decode to proto3 defaults. */
case class ProtoDecode(child: Expression, fields: Seq[ProtoField])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    StructType(fields.map(f => StructField(f.name, f.sparkType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any = {
    val raw = ProtoWire.parse(input.asInstanceOf[Array[Byte]])
    val values = fields.map { f =>
      val v = raw.get(f.number)
      f.ftype match {
        case "int32" => v.map(_.asInstanceOf[Long].toInt).getOrElse(0)
        case "uint32" => v.map(_.asInstanceOf[Long] & 0xffffffffL).getOrElse(0L)
        case "int64" => v.map(_.asInstanceOf[Long]).getOrElse(0L)
        case "uint64" =>
          val bits = v.map(_.asInstanceOf[Long]).getOrElse(0L)
          val unsigned =
            if (bits >= 0) java.math.BigDecimal.valueOf(bits)
            else new java.math.BigDecimal(
              java.math.BigInteger.valueOf(bits).add(java.math.BigInteger.ONE.shiftLeft(64)))
          Decimal(unsigned, 20, 0)
        // zigzag: 0,1,2,3 → 0,-1,1,-2 — (n >>> 1) ^ -(n & 1)
        case "sint32" =>
          v.map(x => { val n = x.asInstanceOf[Long]; ((n >>> 1) ^ -(n & 1)).toInt })
            .getOrElse(0)
        case "sint64" =>
          v.map(x => { val n = x.asInstanceOf[Long]; (n >>> 1) ^ -(n & 1) })
            .getOrElse(0L)
        // wire type 5 is stored sign-extended (getInt.toLong) — mask for
        // the unsigned form, keep the sign for sfixed32
        case "fixed32" => v.map(_.asInstanceOf[Long] & 0xffffffffL).getOrElse(0L)
        case "sfixed32" => v.map(_.asInstanceOf[Long].toInt).getOrElse(0)
        case "fixed64" =>
          val bits = v.map(_.asInstanceOf[Long]).getOrElse(0L)
          val unsigned =
            if (bits >= 0) java.math.BigDecimal.valueOf(bits)
            else new java.math.BigDecimal(
              java.math.BigInteger.valueOf(bits).add(java.math.BigInteger.ONE.shiftLeft(64)))
          Decimal(unsigned, 20, 0)
        case "sfixed64" => v.map(_.asInstanceOf[Long]).getOrElse(0L)
        case "bool" => v.exists(_.asInstanceOf[Long] != 0L)
        case "double" =>
          v.map(x => java.lang.Double.longBitsToDouble(x.asInstanceOf[Long])).getOrElse(0.0)
        case "float" =>
          v.map(x => java.lang.Float.intBitsToFloat(x.asInstanceOf[Long].toInt)).getOrElse(0.0f)
        case "string" =>
          UTF8String.fromBytes(v.map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.emptyByteArray))
        case "bytes" => v.map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.emptyByteArray)
      }
    }
    InternalRow.fromSeq(values)
  }
  override protected def withNewChildInternal(newChild: Expression): ProtoDecode =
    copy(child = newChild)
}

/** struct(fields) -> bytes (proto3: default values are skipped). */
case class ProtoEncode(child: Expression, fields: Seq[ProtoField])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override protected def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val out = new java.io.ByteArrayOutputStream()
    fields.zipWithIndex.foreach { case (f, i) =>
      def tag(wire: Int): Unit = ProtoWire.writeVarint(out, (f.number.toLong << 3) | wire)
      f.ftype match {
        case "int32" =>
          val v = row.getInt(i); if (v != 0) { tag(0); ProtoWire.writeVarint(out, v.toLong) }
        case "uint32" | "int64" =>
          val v = row.getLong(i); if (v != 0) { tag(0); ProtoWire.writeVarint(out, v) }
        case "uint64" =>
          val bits = row.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.longValue()
          if (bits != 0L) { tag(0); ProtoWire.writeVarint(out, bits) }
        case "sint32" =>
          val v = row.getInt(i)
          // zigzag32: (n << 1) ^ (n >> 31), then widen UNSIGNED
          if (v != 0) { tag(0); ProtoWire.writeVarint(out, ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL) }
        case "sint64" =>
          val v = row.getLong(i)
          if (v != 0L) { tag(0); ProtoWire.writeVarint(out, (v << 1) ^ (v >> 63)) }
        case "fixed32" | "sfixed32" =>
          val v = if (f.ftype == "fixed32") row.getLong(i).toInt else row.getInt(i)
          if (v != 0) {
            tag(5)
            val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putInt(v); out.write(bb.array())
          }
        case "fixed64" | "sfixed64" =>
          val v =
            if (f.ftype == "fixed64")
              row.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.longValue()
            else row.getLong(i)
          if (v != 0L) {
            tag(1)
            val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putLong(v); out.write(bb.array())
          }
        case "bool" =>
          val v = row.getBoolean(i); if (v) { tag(0); ProtoWire.writeVarint(out, 1L) }
        case "double" =>
          val v = row.getDouble(i)
          if (v != 0.0) {
            tag(1)
            val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putLong(java.lang.Double.doubleToLongBits(v)); out.write(bb.array())
          }
        case "float" =>
          val v = row.getFloat(i)
          if (v != 0.0f) {
            tag(5)
            val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putInt(java.lang.Float.floatToIntBits(v)); out.write(bb.array())
          }
        case "string" =>
          val v = row.getUTF8String(i).getBytes
          if (v.nonEmpty) { tag(2); ProtoWire.writeVarint(out, v.length.toLong); out.write(v) }
        case "bytes" =>
          val v = row.getBinary(i)
          if (v.nonEmpty) { tag(2); ProtoWire.writeVarint(out, v.length.toLong); out.write(v) }
      }
    }
    out.toByteArray
  }
  override protected def withNewChildInternal(newChild: Expression): ProtoEncode =
    copy(child = newChild)
}

object Protobuf {
  /** `bytes` (a binary column) decoded into the message's struct. */
  def decode(bytes: Column, fields: Seq[ProtoField]): Column =
    GraftInternal.mapExpr(bytes)(ProtoDecode(_, fields))

  /** `message` (a struct column in `fields` order) encoded to bytes. */
  def encode(message: Column, fields: Seq[ProtoField]): Column =
    GraftInternal.mapExpr(message)(ProtoEncode(_, fields))
}
