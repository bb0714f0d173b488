package graft.streaming

import org.apache.avro.SchemaBuilder
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericDatumWriter, GenericRecord, GenericRecordBuilder}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two round-1 "documented gap" components now implemented on
  * in-sandbox pieces: the avro file input (avro core jars, no spark-avro
  * datasource) and the schema-registry REST resolver (embedded JDK
  * HttpServer standing in for Confluent SR).
  */
class AvroRestSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def writeAvroFixture(dir: String): Unit = {
    val schema = SchemaBuilder.record("sensor").fields()
      .requiredLong("timestamp")
      .requiredDouble("value")
      .optionalString("sensor")
      .endRecord()
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, new java.io.File(s"$dir/part-0.avro"))
    Seq((1625000000000L, 10.5, "temp_1"), (1625000001000L, 0.0, null))
      .foreach { case (ts, v, s) =>
        writer.append(new GenericRecordBuilder(schema)
          .set("timestamp", ts).set("value", v).set("sensor", s).build())
      }
    writer.close()
  }

  test("avro file input reads container files with schema mapping (input/file.rs register_avro)") {
    val dir = tempDir("graft_avro").toString
    writeAvroFixture(dir)
    val df = AvroInput.read(spark, s"$dir/*.avro")
    assert(df.schema.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq(("timestamp", "long"), ("value", "double"), ("sensor", "string")))
    assert(df.schema("sensor").nullable && !df.schema("timestamp").nullable)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet ==
      Set((1625000000000L, 10.5, Some("temp_1")), (1625000001000L, 0.0, None)))
  }

  test("engine file input resolves format=avro incl. query-over-scan") {
    val dir = tempDir("graft_avro2").toString
    writeAvroFixture(dir)
    val out = Engine.inputFromConf(spark, ComponentConf("file", Map(
      "format" -> "avro", "path" -> s"$dir/*.avro",
      "query" -> "SELECT count(*) AS n FROM flow WHERE value > 1")))
    assert(out.as[Long].collect().toSeq == Seq(1L))
  }

  test("arrow file input reads IPC container files (input/file.rs register_arrow)") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, Float8Vector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._

    val dir = tempDir("graft_arrow").toString
    val schema = new ASchema(Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("v", FieldType.nullable(
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null)).asJava)
    val allocator = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(schema, allocator)
    val fos = new java.io.FileOutputStream(s"$dir/part-0.arrow")
    val writer = new ArrowFileWriter(root, null, fos.getChannel)
    writer.start()
    val ids = root.getVector("id").asInstanceOf[BigIntVector]
    val vs = root.getVector("v").asInstanceOf[Float8Vector]
    Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)).zipWithIndex.foreach { case ((i, d), r) =>
      ids.setSafe(r, i); vs.setSafe(r, d)
    }
    root.setRowCount(3)
    writer.writeBatch(); writer.end(); writer.close(); fos.close()
    root.close(); allocator.close()

    val df = Engine.inputFromConf(spark, ComponentConf("file", Map(
      "format" -> "arrow", "path" -> s"$dir/*.arrow",
      "query" -> "SELECT id, v FROM flow WHERE v > 2")))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 2.5), (3L, 3.5)))
  }

  test("schema-registry REST resolver fetches and caches per id (schema_registry.rs:135-200)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { exchange =>
      try {
        hits.incrementAndGet()
        val ok = Option(exchange.getRequestHeaders.getFirst("Authorization"))
          .contains("Bearer sr-tok")
        val id = exchange.getRequestURI.getPath.split("/").last.toInt
        if (!ok) exchange.sendResponseHeaders(401, -1)
        else if (id != 1) exchange.sendResponseHeaders(404, -1)
        else {
          val body =
            """{"schema": "1:timestamp:int64\n2:value:double\n3:sensor:string"}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          exchange.sendResponseHeaders(200, body.length)
          exchange.getResponseBody.write(body)
        }
      } finally exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val resolver = new SchemaRegistry.CachingResolver(
        new SchemaRegistry.RestResolver(base, Some("sr-tok")))
      val fields = Seq(ProtoField(1, "timestamp", "int64"),
        ProtoField(2, "value", "double"), ProtoField(3, "sensor", "string"))
      val payload = Processors.ArrowToProtobuf(fields)(
        Seq((7L, 1.5, "s1")).toDF("timestamp", "value", "sensor"))
        .collect().head.getAs[Array[Byte]](0)
      val batch = Seq(
        SchemaRegistry.frame(1, payload),
        SchemaRegistry.frame(1, payload)).toDF(Codecs.ValueCol)
      val out = SchemaRegistry.decodeBatch(batch, resolver)
      assert(out.count() == 2)
      assert(out.select("timestamp", "value", "sensor").collect()
        .forall(r => r.getLong(0) == 7L && r.getDouble(1) == 1.5 && r.getString(2) == "s1"))
      assert(hits.get() == 1, s"expected one REST fetch for one id, got ${hits.get()}")
      // unknown id surfaces the HTTP status
      intercept[IllegalArgumentException](resolver.resolve(9))
      // wrong token -> 401
      intercept[IllegalArgumentException](
        new SchemaRegistry.RestResolver(base, Some("bad")).resolve(1))
    } finally server.stop(0)
  }

  test("schema-registry REST resolver supports basic auth (schema_registry.rs basic)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
      "sr-user:sr-pass".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    server.createContext("/schemas/ids/", { exchange =>
      try {
        if (!Option(exchange.getRequestHeaders.getFirst("Authorization")).contains(expected))
          exchange.sendResponseHeaders(401, -1)
        else {
          val body = """{"schema": "1:v:int64"}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          exchange.sendResponseHeaders(200, body.length)
          exchange.getResponseBody.write(body)
        }
      } finally exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val ok = new SchemaRegistry.RestResolver(base,
        basicAuth = Some(("sr-user", "sr-pass"))).resolve(1)
      assert(ok == Seq(ProtoField(1, "v", "int64")))
      intercept[IllegalArgumentException](
        new SchemaRegistry.RestResolver(base,
          basicAuth = Some(("sr-user", "wrong"))).resolve(1))
    } finally server.stop(0)
  }

  test("schema-registry resolves a REAL Confluent proto-source response end-to-end (schema_registry.rs:135-200)") {
    // the document shape a real Confluent registry serves for a
    // PROTOBUF subject: the .proto SOURCE in "schema" + schemaType
    val protoSource =
      """syntax = \"proto3\";\npackage telemetry.v1;\n\nimport \"google/protobuf/descriptor.proto\";\noption java_package = \"com.example.telemetry\";\n\n// sensor reading envelope\nmessage SensorReading {\n  reserved 4, 9 to 11;\n  int64 timestamp = 1;   // epoch millis\n  double value = 2;\n  optional string sensor = 3;\n  Status status = 5;\n  oneof origin {\n    string host = 6;\n    uint32 agent_id = 7;\n  }\n  enum Status {\n    STATUS_UNSPECIFIED = 0;\n    OK = 1;\n    DEGRADED = 2;\n  }\n}\n\nmessage Heartbeat {\n  int64 at = 1;\n}"""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { exchange =>
      try {
        assert(Option(exchange.getRequestHeaders.getFirst("Accept"))
          .contains("application/vnd.schemaregistry.v1+json"))
        val body = (s"""{"schemaType": "PROTOBUF", "schema": "$protoSource"}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      } finally exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val fields = new SchemaRegistry.RestResolver(base,
        messageType = Some("SensorReading")).resolve(42)
      // enum decodes as its varint int32 wire form; oneof members
      // flatten into the parent; comments/reserved/options ignored
      assert(fields == Seq(
        ProtoField(1, "timestamp", "int64"),
        ProtoField(2, "value", "double"),
        ProtoField(3, "sensor", "string"),
        ProtoField(5, "status", "int32"),
        ProtoField(6, "host", "string"),
        ProtoField(7, "agent_id", "uint32")))
      // message_type selects across multiple top-level messages
      assert(new SchemaRegistry.RestResolver(base,
        messageType = Some("Heartbeat")).resolve(42) ==
        Seq(ProtoField(1, "at", "int64")))
      // default = first declared message
      assert(new SchemaRegistry.RestResolver(base).resolve(42).head.name
        == "timestamp")
      // full round trip: encode with the resolved schema, frame, decode
      val payload = Processors.ArrowToProtobuf(fields.take(3))(
        Seq((7L, 1.5, "s1")).toDF("timestamp", "value", "sensor"))
        .collect().head.getAs[Array[Byte]](0)
      val out = SchemaRegistry.decodeBatch(
        Seq(SchemaRegistry.frame(42, payload)).toDF(Codecs.ValueCol),
        new SchemaRegistry.RestResolver(base, messageType = Some("SensorReading")))
      val r = out.select("timestamp", "value", "sensor").collect().head
      assert(r.getLong(0) == 7L && r.getDouble(1) == 1.5 && r.getString(2) == "s1")
    } finally server.stop(0)
  }

  test("proto-source parser: nested messages, rejections, and schemaType guard") {
    import SchemaRegistry.ProtoSource
    val nested = ProtoSource.parse(
      "message Outer { message Inner { int32 x = 1; } string y = 2; }")
    assert(nested.map(_._1) == Seq("Outer", "Outer.Inner"))
    assert(ProtoSource.fieldsFor(
      "message Outer { message Inner { int32 x = 1; } string y = 2; }",
      Some("Inner")) == Seq(ProtoField(1, "x", "int32")))
    // message-typed fields and map<> throw with a clear message
    val e1 = intercept[IllegalArgumentException](ProtoSource.parse(
      "message A { int32 x = 1; } message B { A nested = 1; }"))
    assert(e1.getMessage.contains("scalar-subset"))
    intercept[IllegalArgumentException](ProtoSource.parse(
      "message M { map<string, int32> tags = 1; }"))
    // truncated/malformed schemas fail through the parser's own error
    // path (bounded skip loops), never an ArrayIndexOutOfBoundsException
    for (bad <- Seq(
        "message M { int32 x = 1 [deprecated = true",  // unclosed '['
        "message M { int32 x = 1;",                    // unclosed message
        "message M { oneof o { int32 x = 1;")) {       // unclosed oneof
      val e = intercept[IllegalArgumentException](ProtoSource.parse(bad))
      assert(e.getMessage.contains("proto parse"), s"'$bad' -> ${e.getMessage}")
    }
    // a non-PROTOBUF schemaType is rejected like the reference
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/schemas/ids/", { exchange =>
      try {
        val body = """{"schemaType": "AVRO", "schema": "{}"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      } finally exchange.close()
    })
    server.start()
    try {
      val e = intercept[IllegalArgumentException](
        new SchemaRegistry.RestResolver(
          s"http://127.0.0.1:${server.getAddress.getPort}").resolve(1))
      assert(e.getMessage.contains("Unsupported schema type"))
    } finally server.stop(0)
  }

  test("sliding window builder rejects invalid sizes (sliding_window.rs builder)") {
    import spark.implicits._
    val ds = Seq(Windows.Keyed("k", 1.0)).toDS()
    intercept[IllegalArgumentException](Windows.countSlidingWindow(ds, 0, 1))
    intercept[IllegalArgumentException](Windows.countSlidingWindow(ds, 3, 0))
    intercept[IllegalArgumentException](Windows.countSlidingWindow(ds, 2, 3))
  }
}
