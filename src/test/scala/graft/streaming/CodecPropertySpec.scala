package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Seeded property-style round-trips for the from-scratch wire codecs:
  * many random cases, deterministic seed, exact re-read.
  */
class CodecPropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20260812L)

  test("parse_csv round-trips RFC 4180-encoded random records (quotes, " +
      "delimiters, newlines inside fields)") {
    val alphabet = "ab,\"\n;x ".toCharArray
    def randField(): String =
      Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.length))).mkString
    def enc(fields: Seq[String], d: Char): String = fields.map { f =>
      // RFC 4180: quote when the field contains delimiter/quote/newline
      if (f.exists(c => c == d || c == '"' || c == '\n'))
        "\"" + f.replace("\"", "\"\"") + "\""
      else f
    }.mkString(d.toString)
    (1 to 300).foreach { _ =>
      val d = if (rnd.nextBoolean()) ',' else ';'
      val fields = Seq.fill(1 + rnd.nextInt(6))(randField())
      val got = graft.functions.VrlParseCsv.parse(
        org.apache.spark.unsafe.types.UTF8String.fromString(enc(fields, d)),
        org.apache.spark.unsafe.types.UTF8String.fromString(d.toString))
      val back = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(back == fields,
        s"fields $fields (delim '$d') -> encoded `${enc(fields, d)}` -> $back")
    }
  }

  test("proto varint round-trips arbitrary longs (including negatives)") {
    val cases = Seq(0L, 1L, -1L, 127L, 128L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(500)(rnd.nextLong())
    cases.foreach { v =>
      val out = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(out, v)
      val (back, consumed) = ProtoWire.readVarint(out.toByteArray, 0)
      assert(back == v, s"varint $v -> $back")
      assert(consumed == out.size())
    }
  }

  test("unsigned proto widths round-trip without wrap (reference no-unsigned-wrap contract)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val fields = Seq(ProtoField(1, "u32", "uint32"), ProtoField(2, "u64", "uint64"))
    val encoded = Processors.ArrowToProtobuf(fields)(spark.sql(
      """SELECT CAST(4000000000 AS BIGINT) AS u32,
        |  CAST('18446744073709551615' AS DECIMAL(20, 0)) AS u64""".stripMargin))
    val r = Processors.ProtobufToArrow(fields)(encoded).collect().head
    assert(r.getLong(0) == 4000000000L, "uint32 above Int.MaxValue must not wrap")
    assert(r.getDecimal(1).toBigInteger.toString == "18446744073709551615",
      "uint64 max must not wrap")
  }

  test("zigzag and fixed-width proto types round-trip (sint32/sint64 " +
      "zigzag varints; fixed32/fixed64 unsigned, sfixed32/sfixed64 signed)") {
    val spark = SparkTestSession.spark
    val fields = Seq(
      ProtoField(1, "s32", "sint32"), ProtoField(2, "s64", "sint64"),
      ProtoField(3, "f32", "fixed32"), ProtoField(4, "f64", "fixed64"),
      ProtoField(5, "sf32", "sfixed32"), ProtoField(6, "sf64", "sfixed64"))
    val cases = Seq(
      (-1, -1L, 4000000000L, "18446744073709551615", -2147483648, Long.MinValue + 1),
      (2147483647, Long.MaxValue, 1L, "1", 2147483647, Long.MaxValue),
      (-2147483648, Long.MinValue, 4294967295L, "9223372036854775808", -7, -7L)) ++
      Seq.fill(200)((rnd.nextInt(), rnd.nextLong(),
        rnd.nextLong() & 0xffffffffL,
        java.math.BigInteger.valueOf(rnd.nextLong())
          .and(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE))
          .toString,
        rnd.nextInt(), rnd.nextLong()))
    cases.foreach { case (s32, s64, f32, f64, sf32, sf64) =>
      val r = Processors.ProtobufToArrow(fields)(Processors.ArrowToProtobuf(fields)(
        spark.sql(s"""SELECT $s32 AS s32, CAST($s64 AS BIGINT) AS s64,
           |  CAST($f32 AS BIGINT) AS f32, CAST('$f64' AS DECIMAL(20, 0)) AS f64,
           |  $sf32 AS sf32, CAST($sf64 AS BIGINT) AS sf64""".stripMargin)))
        .collect().head
      assert(r.getInt(0) == s32, s"sint32 $s32 -> ${r.getInt(0)}")
      assert(r.getLong(1) == s64, s"sint64 $s64 -> ${r.getLong(1)}")
      assert(r.getLong(2) == f32, s"fixed32 $f32 -> ${r.getLong(2)}")
      assert(r.getDecimal(3).toBigInteger.toString == f64,
        s"fixed64 $f64 -> ${r.getDecimal(3)}")
      assert(r.getInt(4) == sf32, s"sfixed32 $sf32 -> ${r.getInt(4)}")
      assert(r.getLong(5) == sf64, s"sfixed64 $sf64 -> ${r.getLong(5)}")
    }
    // zigzag small-magnitude encoding stays small on the wire: -1 is ONE byte
    val out = new java.io.ByteArrayOutputStream()
    ProtoWire.writeVarint(out, ((-1 << 1) ^ (-1 >> 31)).toLong & 0xffffffffL)
    assert(out.size == 1, "zigzag(-1) must be the single byte 0x01")
  }

  test("bson documents round-trip random flat values") {
    (1 to 200).foreach { _ =>
      val doc: Seq[(String, Any)] = (1 to (1 + rnd.nextInt(8))).map { i =>
        val name = s"f${i}_" + rnd.alphanumeric.take(rnd.nextInt(10)).mkString
        val value: Any = rnd.nextInt(6) match {
          case 0 => rnd.nextDouble() * math.pow(10, rnd.nextInt(10))
          case 1 => rnd.nextString(rnd.nextInt(30)) // arbitrary unicode
          case 2 => rnd.nextBoolean()
          case 3 => rnd.nextInt()
          case 4 => rnd.nextLong()
          case 5 => null
        }
        (name, value)
      }
      val back = Mongo.decodeDoc(Mongo.encodeDoc(doc))
      assert(back == doc, s"bson round-trip mismatch for $doc -> $back")
    }
  }

  test("influx escaping leaves no unescaped separators in tags or measurements") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val nasty = Seq("plain", "with space", "a,b", "k=v", "mix, =all ",
      "trail\\", "\"quoted\"")
    nasty.foreach { v =>
      val line = Influx.lineProtocol(
        Seq((v, 1.0)).toDF("tagv", "value"),
        "m easure", Seq("tagv"), Seq("value"), None).as[String].collect().head
      val tagPart = line.substring(0, line.lastIndexOf(' '))
      // any separator inside the tag section must be backslash-escaped
      assert(!"(?<!\\\\)[,= ]".r.findFirstIn(
        tagPart.stripPrefix("m\\ easure,tagv=")).isDefined,
        s"unescaped separator in: $line")
    }
  }

  test("mqtt remaining-length framing survives large packets") {
    // exercised through a real connection: publish payloads at the
    // 1-byte/2-byte/3-byte varint length boundaries and read them back
    val sizes = Seq(0, 1, 127, 128, 16383, 16384, 70000)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val server = new java.net.ServerSocket(0, 4,
      java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedInputStream(s.getInputStream)
      val out = new java.io.BufferedOutputStream(s.getOutputStream)
      def readPacket(): (Int, Array[Byte]) = {
        val first = in.read()
        if (first == -1) throw new java.io.EOFException
        var len = 0; var shift = 0; var d = 0
        while ({ d = in.read(); len |= (d & 0x7f) << shift; shift += 7; (d & 0x80) != 0 }) ()
        val body = new Array[Byte](len)
        var off = 0
        while (off < len) off += in.read(body, off, len - off)
        (first & 0xff, body)
      }
      try while (true) {
        val (tpe, body) = readPacket()
        (tpe & 0xf0) match {
          case 0x10 => out.write(Array[Byte](0x20, 2, 0, 0)); out.flush()
          case 0x30 =>
            val topicLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
            received.add(body.length - 2 - topicLen)
          case 0xe0 => throw new java.io.EOFException
          case _ => ()
        }
      } catch { case _: java.io.EOFException | _: java.net.SocketException => () }
      finally s.close()
    })
    t.setDaemon(true); t.start()
    try {
      val conn = new Mqtt.Conn("127.0.0.1", server.getLocalPort, "len-test")
      try sizes.foreach(n => conn.publish("t", new Array[Byte](n)))
      finally conn.close()
      val deadline = System.nanoTime() + 10e9.toLong
      while (received.size < sizes.size && System.nanoTime() < deadline) Thread.sleep(20)
      assert(received.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq ==
        sizes.sorted, s"got ${received.toArray.toSeq}")
    } finally server.close()
  }

  test("seahash matches the published algorithm on every tail-lane path " +
      "(lengths spanning partial words in all four lanes and block " +
      "boundaries)") {
    // expected values computed with an independent implementation of the
    // published SeaHash spec (the seahash crate's documented buffer
    // algorithm); inputs are bytes (i*37+11) % 128 of each length, so
    // the 1/9/17/25-byte cases land partial words in lanes a/b/c/d and
    // 33..65 cross the 32-byte block boundary
    val expected = Map(
      0 -> -3953938083091587911L, 1 -> 8917388347039983681L,
      3 -> -2551971660394858547L, 7 -> -2513671463484185318L,
      8 -> -1754478870194165842L, 9 -> -864867829965946941L,
      15 -> 6721728037817111228L, 16 -> 3153376671635955841L,
      17 -> -1371717415240423835L, 23 -> -2292693374342393747L,
      24 -> 4258624885780087954L, 25 -> -4288017400329331969L,
      31 -> -3167642906712232340L, 32 -> -8335379573412458262L,
      33 -> -1175297028102573411L, 40 -> -8881236838825440433L,
      63 -> -100600648346203767L, 64 -> -312471045634942733L,
      65 -> 458641857362929866L)
    expected.foreach { case (len, want) =>
      val bytes = Array.tabulate[Byte](len)(i => ((i * 37 + 11) % 128).toByte)
      assert(graft.functions.VrlSeaHash.hashBytes(bytes) == want,
        s"length $len")
    }
    // the crate's own README vector
    assert(graft.functions.VrlSeaHash.hashBytes(
      "to be or not to be".getBytes("UTF-8")) == 1988685042348123509L)
  }

  test("parse_cbor round-trips randomly generated values through a " +
      "test-only RFC 8949 encoder") {
    // minimal DEFINITE-length encoder, independent of the decoder under
    // test; values are JSON-representable (ints, doubles, bools, null,
    // strings, arrays, string-keyed maps)
    def writeHead(out: java.io.ByteArrayOutputStream, major: Int, arg: Long): Unit = {
      val m = major << 5
      if (arg < 24) out.write(m | arg.toInt)
      else if (arg < 256) { out.write(m | 24); out.write(arg.toInt) }
      else if (arg < 65536) { out.write(m | 25); out.write((arg >> 8).toInt); out.write(arg.toInt & 0xff) }
      else if (arg < 4294967296L) { out.write(m | 26); (3 to 0 by -1).foreach(i => out.write(((arg >> (8 * i)) & 0xff).toInt)) }
      else { out.write(m | 27); (7 to 0 by -1).foreach(i => out.write(((arg >> (8 * i)) & 0xff).toInt)) }
    }
    def enc(out: java.io.ByteArrayOutputStream, v: Any): Unit = v match {
      case null => out.write(0xf6)
      case b: Boolean => out.write(if (b) 0xf5 else 0xf4)
      case n: Long =>
        if (n >= 0) writeHead(out, 0, n) else writeHead(out, 1, -1 - n)
      case d: Double =>
        out.write(0xfb)
        val bits = java.lang.Double.doubleToLongBits(d)
        (7 to 0 by -1).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
      case s: String =>
        val b = s.getBytes("UTF-8")
        writeHead(out, 3, b.length.toLong); out.write(b)
      case a: Seq[_] =>
        writeHead(out, 4, a.size.toLong); a.foreach(enc(out, _))
      case m: Map[_, _] =>
        writeHead(out, 5, m.size.toLong)
        m.foreach { case (k, mv) => enc(out, k); enc(out, mv) }
    }
    def toJson(v: Any): String = v match {
      case null => "null"
      case b: Boolean => b.toString
      case n: Long => n.toString
      case d: Double =>
        // mirror the decoder's rendering of integral doubles
        if (d == math.rint(d) && math.abs(d) < 1e15) s"${d.toLong}.0" else d.toString
      case s: String =>
        "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case c if c < 0x20 => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      case a: Seq[_] => a.map(toJson).mkString("[", ",", "]")
      case m: Map[_, _] =>
        m.map { case (k, mv) => toJson(k) + ":" + toJson(mv) }.mkString("{", ",", "}")
    }
    def randValue(depth: Int): Any = rnd.nextInt(if (depth > 2) 5 else 7) match {
      case 0 => null
      case 1 => rnd.nextBoolean()
      case 2 => rnd.nextLong() >> rnd.nextInt(40)
      case 3 => math.floor(rnd.nextDouble() * 1000) / 8
      case 4 => Seq.fill(rnd.nextInt(6))("ab\"\\\nc x"(rnd.nextInt(8))).mkString
      case 5 => Seq.fill(rnd.nextInt(4))(randValue(depth + 1))
      case _ => (1 to rnd.nextInt(4))
        .map(i => s"k$i" -> randValue(depth + 1)).toMap
    }
    (1 to 300).foreach { _ =>
      val v = randValue(0)
      val out = new java.io.ByteArrayOutputStream()
      enc(out, v)
      val got = graft.functions.VrlCborToJson.toJson(out.toByteArray).toString
      assert(got == toJson(v), s"value $v encoded ${out.toByteArray.toSeq}")
    }
  }

  test("encode_key_value round-trips through parse_key_value for random " +
      "maps (quoted values holding delimiters and quotes)") {
    import org.apache.spark.unsafe.types.UTF8String
    val valueAlphabet = "ab c=,\"x;"
    def randVal(): String =
      Seq.fill(rnd.nextInt(8))(valueAlphabet(rnd.nextInt(valueAlphabet.length))).mkString
    (1 to 300).foreach { _ =>
      val (kvd, fdd) = if (rnd.nextBoolean()) ("=", " ") else (":", ";")
      // keys stay delimiter-free (the encoder quotes them too, but real
      // logfmt keys are identifiers); values roam the full alphabet,
      // minus backslash (the quoting escapes \" and \\ but the PARSER's
      // lenient mode keeps unknown escapes raw — VRL's own asymmetry)
      val m = (1 to 1 + rnd.nextInt(5)).map(i => s"k$i" -> randVal()).toMap
      val mapData = org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        m.keys.toArray.map(UTF8String.fromString(_): Any),
        m.values.toArray.map(UTF8String.fromString(_): Any))
      val line = graft.functions.VrlEncodeKeyValue.encode(mapData,
        UTF8String.fromString(kvd), UTF8String.fromString(fdd))
      val back = graft.functions.VrlParseKeyValue.parse(line,
        UTF8String.fromString(kvd), UTF8String.fromString(fdd))
      val got = (0 until back.numElements()).map { i =>
        back.keyArray().getUTF8String(i).toString ->
          back.valueArray().getUTF8String(i).toString
      }.toMap
      // the encoder renders "" for empty values; the parser's lenient
      // standalone-key handling reads them back as "" — exact inverse
      assert(got == m, s"map $m (kv `$kvd` fd `$fdd`) -> `$line` -> $got")
    }
  }

  test("parse_influxdb_line_protocol round-trips random records through " +
      "an independent test encoder (escapes, typed fields, timestamps)") {
    def escKey(s: String): String =
      s.replace("\\", "\\\\").replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")
    def escMeasurement(s: String): String =
      s.replace("\\", "\\\\").replace(",", "\\,").replace(" ", "\\ ")
    def jsonStr(raw: String): String =
      "\"" + raw.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      } + "\""
    val nameAlphabet = "abc, =x"
    def randName(): String =
      "k" + Seq.fill(1 + rnd.nextInt(5))(nameAlphabet(rnd.nextInt(nameAlphabet.length))).mkString
    (1 to 200).foreach { _ =>
      val measurement = randName()
      val tags = (1 to rnd.nextInt(3)).map(i => (s"t$i" + randName(), randName()))
      val fields = (0 to rnd.nextInt(3)).map { i =>
        val name = s"f$i" + randName()
        rnd.nextInt(4) match {
          case 0 =>
            val n = rnd.nextLong() >> 20
            (name, n.toString + "i", n.toString) // encoded, expected-json
          case 1 =>
            val d = math.floor(rnd.nextDouble() * 1e6) / 64
            (name, d.toString, d.toString)
          case 2 =>
            val b = rnd.nextBoolean()
            (name, b.toString, b.toString)
          case _ =>
            val s = Seq.fill(rnd.nextInt(6))("a\"b\\c, =x"(rnd.nextInt(9))).mkString
            (name, "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"", jsonStr(s))
        }
      }
      val ts = if (rnd.nextBoolean()) Some(rnd.nextLong() >> 8) else None
      val line = escMeasurement(measurement) +
        tags.map { case (k, v) => "," + escKey(k) + "=" + escKey(v) }.mkString +
        " " + fields.map { case (k, enc, _) => escKey(k) + "=" + enc }.mkString(",") +
        ts.map(" " + _).getOrElse("")
      val expected = "[{" +
        "\"measurement\":" + jsonStr(measurement) +
        ",\"tags\":{" + tags.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }.mkString(",") + "}" +
        ",\"fields\":{" + fields.map { case (k, _, j) => jsonStr(k) + ":" + j }.mkString(",") + "}" +
        ts.map(",\"timestamp\":" + _).getOrElse("") + "}]"
      val got = graft.functions.VrlInfluxToJson.toJson(
        org.apache.spark.unsafe.types.UTF8String.fromString(line)).toString
      assert(got == expected, s"line `$line`")
    }
  }

  test("parse_influxdb_line_protocol edge cases: exponents, u suffix, " +
      "no tags, escaped measurement, trailing spaces") {
    def parse(s: String): String =
      graft.functions.VrlInfluxToJson.toJson(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    assert(parse("m f=1.5e-3") == """[{"measurement":"m","tags":{},"fields":{"f":1.5e-3}}]""")
    assert(parse("m f=42u 7") == """[{"measurement":"m","tags":{},"fields":{"f":42},"timestamp":7}]""")
    assert(parse("""my\ box,a=b f=1i""") ==
      """[{"measurement":"my box","tags":{"a":"b"},"fields":{"f":1}}]""")
    assert(parse("m f=+12.5  99  ") ==
      """[{"measurement":"m","tags":{},"fields":{"f":12.5},"timestamp":99}]""")
    // malformed lines throw (fallible)
    intercept[IllegalArgumentException](parse("justmeasurement"))
    intercept[IllegalArgumentException](parse("m,tagonly=v"))
    intercept[IllegalArgumentException](parse("m f="))
    intercept[IllegalArgumentException](parse("m f=1i notanumber"))
  }
}
