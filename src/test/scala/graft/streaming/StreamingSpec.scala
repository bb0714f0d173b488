package graft.streaming

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

/** Runtime specs mirroring the reference's own unit tests
  * (SURVEY.md §5.1: sql happy/invalid/custom-table, JSON inference &
  * filtering, codec round-trips, window semantics, error routing). */
class StreamingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def envelope(jsons: String*) =
    jsons.toDF("s").select(col("s").cast("binary").as(Codecs.ValueCol))

  // FIXTURES.md §1 — the canonical sensor record.
  private val sensorJson = Seq(
    """{"timestamp": 1625000000000, "value": 10, "sensor": "temp_1"}""",
    """{"timestamp": 1625000001000, "value": 15, "sensor": "temp_2"}""",
    """{"timestamp": 1625000002000, "value": 5,  "sensor": "temp_1"}""")

  test("input-level codec: block (the reference's codec registry) decodes " +
      "ahead of processors: json, debezium_json, protobuf; bad configs " +
      "fail at build") {
    // json codec on a raw envelope
    val j = Engine.inputCodec(ComponentConf("memory",
      Map("codec.type" -> "json")))
    assert(j.size == 1)
    val decoded = j.head(envelope(sensorJson.head))
    assert(decoded.columns.sorted.toSeq == Seq("sensor", "timestamp", "value"))
    // protobuf codec: encode with the processor, decode through the codec
    val fields = "timestamp:1:int64,value:2:int64,sensor:3:string"
    val encoded = Processors.fromConf(Seq(ComponentConf("arrow_to_protobuf",
      Map("fields" -> fields)))).head(decoded)
    val p = Engine.inputCodec(ComponentConf("kafka",
      Map("codec.type" -> "protobuf", "codec.fields" -> fields)))
    val back = p.head(encoded)
    assert(back.select("sensor", "value").collect().head.getString(0) == "temp_1")
    // debezium codec dispatches to the envelope decoder
    val d = Engine.inputCodec(ComponentConf("kafka",
      Map("codec.type" -> "debezium_json")))
    val dbz = d.head(envelope(
      """{"before": null, "after": {"id": 7, "name": "x"}, "source": {"db": "d1", "table": "t"}, "op": "c", "ts_ms": 1}"""))
    assert(dbz.select("id").collect().head.getLong(0) == 7L)
    // no codec block → no transform; unknown/incomplete configs are loud
    assert(Engine.inputCodec(ComponentConf("kafka", Map.empty)).isEmpty)
    // codec.* options WITHOUT codec.type (typo'd or missing key) must
    // fail at build, not silently skip the decode
    val noType = intercept[IllegalArgumentException](
      Engine.inputCodec(ComponentConf("kafka",
        Map("codec.typ" -> "json", "codec.fields" -> "a:1:int64"))))
    assert(noType.getMessage.contains("no `type` key"), noType.getMessage)
    intercept[IllegalArgumentException](
      Engine.inputCodec(ComponentConf("kafka", Map("codec.type" -> "bson"))))
    intercept[IllegalArgumentException](
      Engine.inputCodec(ComponentConf("kafka",
        Map("codec.type" -> "schema_registry"))))
    intercept[IllegalArgumentException](
      Engine.inputCodec(ComponentConf("kafka",
        Map("codec.type" -> "schema_registry",
          "codec.registry_url" -> "http://x", "codec.auth.type" -> "oauth"))))
    intercept[IllegalArgumentException](
      Engine.inputCodec(ComponentConf("kafka",
        Map("codec.type" -> "schema_registry",
          "codec.registry_url" -> "http://x", "codec.auth.type" -> "bearer"))))
  }

  test("json_to_arrow infers schema and decodes the binary envelope") {
    val out = Processors.JsonToArrow()(envelope(sensorJson: _*))
    assert(out.columns.sorted.toSeq == Seq("sensor", "timestamp", "value"))
    assert(out.count() == 3)
    assert(out.schema("value").dataType.typeName == "long") // ints stay Int64
  }

  test("json_to_arrow projects fields_to_include") {
    val out = Processors.JsonToArrow(Seq("sensor"))(envelope(sensorJson: _*))
    assert(out.columns.toSeq == Seq("sensor"))
  }

  test("json_to_arrow zero-row guard: sentinel without a declared schema, typed with one") {
    import org.apache.spark.sql.types._
    // A computed-empty envelope (zero rows, but NOT statically empty — the
    // engine's pre-pipeline check can't see it) has nothing to infer from.
    // Built over an RDD so ConvertToLocalRelation can't fold the filter.
    val rdd = spark.sparkContext.parallelize(sensorJson.map(Row(_)))
    val empty = spark.createDataFrame(rdd,
        StructType(Seq(StructField("s", StringType))))
      .select(col("s").cast("binary").as(Codecs.ValueCol))
      .filter(length(col(Codecs.ValueCol)) > 1000000)
    assert(!Engine.staticallyEmpty(empty), "precondition: computed-empty, not static")
    // Without a declared schema: the held-back sentinel (zero-COLUMN
    // frame — the engine's short-circuit marker), so no sink ever binds
    // a made-up (all-string) schema from an empty micro-batch.
    assert(Processors.JsonToArrow()(empty).schema.isEmpty)
    // With a declared schema: empty and non-empty batches carry IDENTICAL
    // types — safe for schema-sensitive sinks (parquet append, JDBC).
    val declared = StructType(Seq(
      StructField("sensor", StringType), StructField("timestamp", LongType),
      StructField("value", LongType)))
    val typed = Processors.JsonToArrow(schema = Some(declared))(empty)
    assert(typed.schema == declared && typed.count() == 0)
    assert(Processors.JsonToArrow(schema = Some(declared))(envelope(sensorJson: _*))
      .schema == declared)
  }

  test("a mid-pipeline held-back sentinel skips the remaining processors and the sink") {
    val wrote = new java.util.concurrent.atomic.AtomicInteger()
    val downstreamRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = new Engine.BatchSink {
      def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit = wrote.incrementAndGet()
    }
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    input.addData("""{"v": 1}""")
    val q = Engine.start(
      input.toDF.select(col("value").cast("binary").as(Codecs.ValueCol)),
      Seq(
        // drops every row at RUNTIME -> computed-empty envelope (a
        // data-dependent predicate the optimizer can't fold to a
        // statically-empty relation)
        (df: org.apache.spark.sql.DataFrame) =>
          df.filter(length(col(Codecs.ValueCol)) > 1000000),
        // zero-row inference guard returns the sentinel...
        Processors.JsonToArrow(),
        // ...so neither this processor nor the sink may run (the
        // reference's ProcessorResult::None short-circuit)
        (df: org.apache.spark.sql.DataFrame) => { downstreamRan.set(true); df }),
      sink)
    q.processAllAvailable(); q.stop()
    assert(wrote.get() == 0, "sink ran on a held-back micro-batch")
    assert(!downstreamRan.get(), "processor after the sentinel still ran")
  }

  test("sql processor runs a query against the batch view (reference sql.rs:275-310)") {
    val out = Processors.SqlProcessor(
      "SELECT sensor, count(*) AS n FROM flow WHERE value >= 10 GROUP BY sensor")(
      Processors.JsonToArrow()(envelope(sensorJson: _*)))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("temp_1", 1L), ("temp_2", 1L)))
  }

  test("sql processor honors a custom table name (sql.rs:381-388)") {
    val out = Processors.SqlProcessor("SELECT value FROM custom_table", "custom_table")(
      Seq(42L).toDF("value"))
    assert(out.as[Long].collect().toSeq == Seq(42L))
  }

  test("sql processor sees the whole graft function library without setup") {
    // a config-driven pipeline can run the dedup/selection expressions
    // directly in its sql step — SqlProcessor installs the
    // graft.functions.Registry table, no per-function setup in user code
    val docs = Seq(
      (1L, "the same boilerplate text repeated across both documents here"),
      (2L, "the same boilerplate text repeated across both documents here"),
      (3L, "something entirely different and unrelated to the others now")
    ).toDF("doc_id", "text")
    val out = Processors.SqlProcessor(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM (SELECT doc_id, explode(winnow_fps(text, 8, 4)) AS fp FROM flow) a
        |JOIN (SELECT doc_id, explode(winnow_fps(text, 8, 4)) AS fp FROM flow) b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 5""".stripMargin)(docs)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val chunks = Processors.SqlProcessor(
      "SELECT doc_id, size(cdc_chunks(text, 8, 32)) AS n FROM flow")(docs)
    assert(chunks.count() == 3)
  }

  test("drift processor stamps per-batch JSD vs the baseline and bounds its key state") {
    val baseline = Map("src0" -> 0.5, "src1" -> 0.5)
    val mon = Processors.DriftMonitor("source", baseline)
    // batch matching the baseline mix exactly -> 0 drift on every row
    val matched = (Seq.fill(10)("src0") ++ Seq.fill(10)("src1")).toDF("source")
    assert(mon(matched).select("__drift_jsd").as[Double].collect().toSet == Set(0.0))
    // all-src0 batch vs the 50/50 baseline: closed form
    // JSD = 0.5*[ln(4/3) + 0.5*ln(2/3) + 0.5*ln 2]
    val drifted = Seq.fill(20)("src0").toDF("source")
    val expect = math.rint(0.5 * (math.log(4.0 / 3) + 0.5 * math.log(2.0 / 3) +
      0.5 * math.log(2.0)) * 1e6) / 1e6
    assert(mon(drifted).select("__drift_jsd").as[Double].collect().toSet == Set(expect))
    // a previously-unseen key counts as drift mass, not a crash
    val novel = Seq.fill(20)("srcX").toDF("source")
    assert(mon(novel).select("__drift_jsd").as[Double].head() > expect)
    // the bounded-collect guard throws on key explosion
    val many = (1 to 50).map(i => s"k$i").toDF("source")
    intercept[IllegalStateException](
      Processors.DriftMonitor("source", baseline, maxKeys = 10)(many))
    // config-reachable: fromConf builds it with parsed baseline
    val built = Processors.fromConf(Seq(ComponentConf("drift",
      Map("key_col" -> "source", "baseline" -> "src0:1,src1:1"))))
    assert(built.head(matched).columns.contains("__drift_jsd"))
  }

  test("schema_guard latches the first batch and conforms/tags/fails on drift") {
    def b1 = Seq((1L, "a")).toDF("id", "name")
    // drifted: 'name' missing, 'extra' added, 'id' retyped to string
    def drifted = Seq(("1", 9)).toDF("id", "extra")

    // conform: baseline projection — cast back, null-fill, drop extras
    val conform = new Processors.SchemaGuard("conform")
    assert(conform(b1).schema == b1.schema) // first batch latches + passes
    val out = conform(drifted)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(out.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(out.select("id", "name").as[(Long, Option[String])].head() == ((1L, None)))

    // tag: rows pass with the field-level diff stamped
    val tag = new Processors.SchemaGuard("tag")
    tag(b1)
    val tagged = tag(drifted)
    assert(tagged.select("__schema_changed").as[Boolean].head())
    val d = tagged.select("__schema_diff").as[String].head()
    assert(d.contains("missing:name") && d.contains("added:extra") &&
      d.contains("retyped:id bigint->string"))
    assert(!tag(Seq((2L, "b")).toDF("id", "name"))
      .select("__schema_changed").as[Boolean].head())

    // fail: throws with the diff (engine error_output routing catches)
    val fail = new Processors.SchemaGuard("fail")
    fail(b1)
    val ex = intercept[IllegalStateException](fail(drifted))
    assert(ex.getMessage.contains("added:extra"))

    // declared DDL baseline guards the FIRST batch too; config-reachable
    val declared = Processors.fromConf(Seq(ComponentConf("schema_guard",
      Map("mode" -> "fail", "schema" -> "id BIGINT, name STRING")))).head
    intercept[IllegalStateException](declared(drifted))

    // order-insensitivity: reordered columns are NOT drift
    val reordered = Seq(("x", 3L)).toDF("name", "id")
    val strict = new Processors.SchemaGuard("fail")
    strict(b1)
    strict(reordered) // must not throw

    // conform DEGRADES an unconvertible drifted value to null — a plain
    // cast would throw under default ANSI and kill the stream
    val lossy = new Processors.SchemaGuard("conform")
    lossy(b1)
    val coerced = lossy(Seq(("abc", "z")).toDF("id", "name"))
    assert(coerced.select("id").collect().head.isNullAt(0),
      "non-numeric drifted id conforms to null, not an ANSI throw")
    assert(coerced.select("name").as[String].head() == "z")
  }

  test("rate_cap releases at most max_rows per batch and carries the overflow") {
    val cap = new Processors.RateCap(12)
    def batchOf(ids: Range) = ids.toDF("id")
    // burst of 20 -> release 12, hold 8
    val r1 = cap(batchOf(0 until 20))
    assert(r1.count() == 12 && cap.pendingRows == 8)
    // next burst of 20 -> 28 in flight, release 12, hold 16
    val r2 = cap(batchOf(100 until 120))
    assert(r2.count() == 12 && cap.pendingRows == 16)
    // quiet tail drains the carry without loss or duplication
    val r3 = cap(spark.emptyDataset[Int].toDF("id"))
    val r4 = cap(spark.emptyDataset[Int].toDF("id"))
    assert(r3.count() == 12 && r4.count() == 4 && cap.pendingRows == 0)
    val all = r1.union(r2).union(r3).union(r4).as[Int].collect().sorted
    assert(all.toSeq == ((0 until 20) ++ (100 until 120)).sorted)
    // config-reachable
    val built = Processors.fromConf(Seq(ComponentConf("rate_cap",
      Map("max_rows" -> "5")))).head
    assert(built(batchOf(0 until 7)).count() == 5)
  }

  test("sql processor rejects DDL/DML like SQLOptions (sql.rs:185-201)") {
    intercept[Exception](Processors.SqlProcessor("DROP TABLE flow")(Seq(1).toDF("a")))
    intercept[Exception](
      Processors.SqlProcessor("INSERT INTO flow VALUES (1)")(Seq(1).toDF("a")))
    intercept[Exception](
      Processors.SqlProcessor("CREATE TABLE t (a INT) USING parquet")(Seq(1).toDF("a")))
  }

  test("arrow_to_json round-trips through json_to_arrow") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val encoded = Processors.ArrowToJson(df)
    assert(encoded.columns.contains(Codecs.ValueCol))
    val decoded = Processors.JsonToArrow()(encoded.select(Codecs.ValueCol))
    assert(decoded.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("debezium codec flattens after/before by op (codec/debezium.rs:58-127)") {
    val create =
      """{"before": null, "after": {"id": 1, "name": "alice"},
        |"source": {"db": "d1", "table": "users"}, "op": "c", "ts_ms": 1}""".stripMargin
    val delete =
      """{"before": {"id": 2, "name": "bob"}, "after": null,
        |"source": {"db": "d1", "table": "users"}, "op": "d", "ts_ms": 2}""".stripMargin
    val out = Codecs.DebeziumJsonCodec.decode(envelope(create, delete))
    val rows = out.select("id", "name", "op", "source_db", "source_table")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "alice", "c"), (2L, "bob", "d")))
  }

  test("debezium snapshot reads use after; updates prefer after over before") {
    val snapshot =
      """{"before": null, "after": {"id": 3, "name": "carol"},
        |"source": {"db": "d1", "table": "users"}, "op": "r", "ts_ms": 3}""".stripMargin
    val update =
      """{"before": {"id": 4, "name": "old"}, "after": {"id": 4, "name": "new"},
        |"source": {"db": "d1", "table": "users"}, "op": "u", "ts_ms": 4}""".stripMargin
    val rows = Codecs.DebeziumJsonCodec.decode(envelope(snapshot, update))
      .select("id", "name", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((3L, "carol", "r"), (4L, "new", "u")))
  }

  test("debezium decode survives HOMOGENEOUS batches: all-create (before " +
      "infers all-null) and all-delete (after infers all-null) — the " +
      "insert-only initial-snapshot case (codec/debezium.rs:90-96)") {
    // all-create: `before` is null on every row → inference can't see a
    // struct there; payload must come from `after` alone
    val creates = Seq(
      """{"before": null, "after": {"id": 1, "name": "alice"},
        |"source": {"db": "d1", "table": "users"}, "op": "c", "ts_ms": 1}""".stripMargin,
      """{"before": null, "after": {"id": 2, "name": "bob"},
        |"source": {"db": "d1", "table": "users"}, "op": "r", "ts_ms": 2}""".stripMargin)
    val cRows = Codecs.DebeziumJsonCodec.decode(envelope(creates: _*))
      .select("id", "name", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cRows == Set((1L, "alice", "c"), (2L, "bob", "r")))
    // all-delete: symmetric — payload from `before` alone
    val deletes = Seq(
      """{"before": {"id": 3, "name": "carol"}, "after": null,
        |"source": {"db": "d1", "table": "users"}, "op": "d", "ts_ms": 3}""".stripMargin)
    val dRows = Codecs.DebeziumJsonCodec.decode(envelope(deletes: _*))
      .select("id", "name", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(dRows == Set((3L, "carol", "d")))
    // TYPE-CONFLICTED sides: after.x infers long (and wins the merge),
    // the delete row's before.x is a non-numeric string — that CELL
    // degrades to null; a plain cast under default ANSI would throw and
    // divert the whole batch to error_output
    val conflicted = Seq(
      """{"before": null, "after": {"id": 1, "x": 5}, "op": "u", "ts_ms": 1}""",
      """{"before": {"id": 2, "x": "legacy"}, "after": null, "op": "d", "ts_ms": 2}""")
    val xRows = Codecs.DebeziumJsonCodec.decode(envelope(conflicted: _*))
      .select("id", "x", "op").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getString(2))).toSet
    assert(xRows == Set((1L, 5L, "u"), (2L, -1L, "d")),
      "unconvertible cell -> null, both rows survive")
  }

  test("debezium decode preserves the reference's full envelope column set " +
      "(business fields + op/ts_ms/source_db/source_table + before/source " +
      "JSON text, codec/debezium.rs:110-124) and unifies asymmetric " +
      "before/after field sets with nulls") {
    val mixed = Seq(
      // update whose before carries a field the after shape dropped
      """{"before": {"id": 5, "name": "eve", "legacy": true},
        |"after": {"id": 5, "name": "eva"},
        |"source": {"db": "d2", "table": "users"}, "op": "u", "ts_ms": 10}""".stripMargin,
      """{"before": {"id": 6, "name": "gone", "legacy": false}, "after": null,
        |"source": {"db": "d2", "table": "users"}, "op": "d", "ts_ms": 11}""".stripMargin)
    val out = Codecs.DebeziumJsonCodec.decode(envelope(mixed: _*))
    // the reference's documented output columns all exist
    Seq("id", "name", "legacy", "op", "ts_ms", "source_db", "source_table",
      "before", "source").foreach(c => assert(out.columns.contains(c), s"missing $c"))
    val byOp = out.collect().map(r => r.getAs[String]("op") -> r).toMap
    // update: payload prefers after → name "eva"; before-only field null
    assert(byOp("u").getAs[Long]("id") == 5L)
    assert(byOp("u").getAs[String]("name") == "eva")
    assert(byOp("u").isNullAt(byOp("u").fieldIndex("legacy")))
    // delete: payload falls back to before, including the before-only field
    assert(byOp("d").getAs[String]("name") == "gone")
    assert(byOp("d").getAs[Boolean]("legacy") == false)
    // preserved JSON text columns survive as strings
    assert(byOp("u").getAs[String]("before").contains("\"legacy\":true"))
    assert(byOp("u").getAs[String]("source").contains("\"db\":\"d2\""))
    assert(byOp("u").getAs[String]("source_db") == "d2")
    assert(byOp("u").getAs[Long]("ts_ms") == 10L)
  }

  test("debezium decode tolerates tombstone-only batches (both sides null) " +
      "— envelope metadata only, no payload columns") {
    val tombstone =
      """{"before": null, "after": null,
        |"source": {"db": "d3", "table": "t"}, "op": "d", "ts_ms": 7}""".stripMargin
    val out = Codecs.DebeziumJsonCodec.decode(envelope(tombstone))
    val r = out.collect().head
    assert(r.getAs[String]("op") == "d")
    assert(r.getAs[String]("source_table") == "t")
  }

  test("protobuf wire codec round-trips the reference message (protobuf.rs:573-578)") {
    val fields = Seq(ProtoField(1, "timestamp", "int64"),
      ProtoField(2, "value", "double"), ProtoField(3, "sensor", "string"))
    val df = Seq((1625000000000L, 10.5, "temp_1"), (1625000001000L, 0.0, "t2"))
      .toDF("timestamp", "value", "sensor")
    val encoded = Processors.ArrowToProtobuf(fields)(df)
    assert(encoded.schema(Codecs.ValueCol).dataType.typeName == "binary")
    val decoded = Processors.ProtobufToArrow(fields)(encoded)
    assert(decoded.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet ==
      Set((1625000000000L, 10.5, "temp_1"), (1625000001000L, 0.0, "t2")))
  }

  test("descriptor-set schema resolution drives the config-level protobuf processors") {
    // hand-assemble a FileDescriptorSet for:
    //   package demo; message Sensor { string device=1; double reading=2;
    //   int64 seq=3; message Inner { bool flag=1; } }
    def vi(field: Int, v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(o, (field.toLong << 3) | 0L)
      ProtoWire.writeVarint(o, v); o.toByteArray
    }
    def ld(field: Int, payload: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(o, (field.toLong << 3) | 2L)
      ProtoWire.writeVarint(o, payload.length); o.write(payload); o.toByteArray
    }
    def s(v: String): Array[Byte] = v.getBytes("UTF-8")
    def fdp(name: String, number: Int, tpe: Int): Array[Byte] =
      ld(1, s(name)) ++ vi(3, number) ++ vi(5, tpe)
    val inner = ld(1, s("Inner")) ++ ld(2, fdp("flag", 1, 8))
    // tags=4 is LABEL_REPEATED (label field 4 = 3): proto3 packs repeated
    // scalars length-delimited, so the singular decoder must not claim it
    val repeatedTags = ld(1, s("tags")) ++ vi(3, 4) ++ vi(4, 3) ++ vi(5, 3)
    val sensor = ld(1, s("Sensor")) ++
      ld(2, fdp("device", 1, 9)) ++ ld(2, fdp("reading", 2, 1)) ++
      ld(2, fdp("seq", 3, 3)) ++ ld(2, repeatedTags) ++ ld(3, inner)
    val file = ld(1, s("demo.proto")) ++ ld(2, s("demo")) ++ ld(4, sensor)
    val fds = ld(1, file)

    val parsed = ProtoDescriptor.parse(fds)
    assert(parsed("demo.Sensor") == Seq(ProtoField(1, "device", "string"),
      ProtoField(2, "reading", "double"), ProtoField(3, "seq", "int64")))
    assert(parsed("demo.Sensor.Inner") == Seq(ProtoField(1, "flag", "bool")))

    // config round-trip through descriptor_path + message_type
    val path = tempFile("fds", ".desc")
    java.nio.file.Files.write(path, fds)
    val opts = Map("descriptor_path" -> path.toString,
      "message_type" -> "demo.Sensor")
    val enc = Processors.fromConf(Seq(ComponentConf("arrow_to_protobuf", opts))).head
    val dec = Processors.fromConf(Seq(ComponentConf("protobuf_to_arrow", opts))).head
    val df = Seq(("s7", 41.5, 12345L)).toDF("device", "reading", "seq")
    val back = dec(enc(df)).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(back == Set(("s7", 41.5, 12345L)))
    // unknown message names must fail loudly, listing what exists
    val err = intercept[IllegalArgumentException] {
      Processors.fromConf(Seq(ComponentConf("protobuf_to_arrow",
        opts + ("message_type" -> "demo.Nope"))))
    }
    assert(err.getMessage.contains("demo.Sensor"))
  }

  test("remap DSL compiles assignments and deletions to column ops (processor/vrl.rs port)") {
    val out = Processors.RemapProcessor(
      """
        |.fahrenheit = .value * 9 / 5 + 32   # new field from arithmetic
        |.sensor = upper(.sensor)            // overwrite with a function
        |del(.timestamp)
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    assert(out.columns.sorted.toSeq == Seq("fahrenheit", "sensor", "value"))
    val r = out.select("sensor", "fahrenheit").collect().head
    assert(r.getString(0) == "TEMP_1")
    assert(r.getDouble(1) == 50.0)
    intercept[IllegalArgumentException](Processors.RemapProcessor("nonsense ="))
  }

  test("remap VRL idioms: stdlib aliases, expression-form if/else, fallible " +
      "conversion feeding the err target (processor/vrl.rs stdlib)") {
    val out = Processors.RemapProcessor(
      """.sensor = upcase(strip_whitespace(.sensor))
        |.size = if .value > 5 { 'big' } else { 'small' }
        |.tiny = if .value > 100 { 'huge' }
        |.head = truncate(.sensor, 4)
        |.n, .err = to_int(.sensor)
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("sensor", "size", "tiny", "head", "n", "err").collect().head
    assert(r.getString(0) == "TEMP_1")
    assert(r.getString(1) == "big")      // value=10 > 5
    assert(r.isNullAt(2), "no-else if is NULL when false")
    assert(r.getString(3) == "TEMP")     // truncate -> left
    assert(r.isNullAt(4), "to_int('TEMP_1') fails -> null value")
    assert(!r.isNullAt(5), "…and a non-null err message (dotted .err = event field)")
  }

  test("remap VRL local variables: bare `x = …` and `x, err = …` are program " +
      "state — readable by later statements and if-conds, absent from the event") {
    val out = Processors.RemapProcessor(
      """threshold = 5
        |scaled = .value * 10
        |.flag = .value > threshold
        |.scaled2 = scaled + 1
        |n, err = to_int(.sensor)
        |.msg = err
        |.n2 = n
        |if scaled > 50 { .grade = 'big' }
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val cols = out.columns.toSet
    assert(!cols.exists(_.startsWith("__vrl_var_")), s"vars leaked: $cols")
    assert(!cols.contains("threshold") && !cols.contains("scaled") &&
      !cols.contains("err") && !cols.contains("n"))
    val r = out.select("flag", "scaled2", "msg", "n2", "grade").collect().head
    assert(r.getBoolean(0), "condition read the variable")
    assert(r.getLong(1) == 101L)
    assert(!r.isNullAt(2), "later statement reads the fallible err variable")
    assert(r.isNullAt(3), "failed conversion -> null value variable")
    assert(r.getString(4) == "big", "statement-form if cond reads the variable")
    // a reference BEFORE declaration stays bare and fails analysis loudly
    val e = intercept[Exception](Processors.RemapProcessor(
      ".y = later + 1\nlater = 2")(
      Processors.JsonToArrow()(envelope(sensorJson.head))))
    assert(e.getMessage.toLowerCase.contains("later") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("later")))
  }

  test("remap statement-form if/else: multi-line blocks, new and existing " +
      "fields, untouched-on-unassigned-side (processor/vrl.rs control flow)") {
    val out = Processors.RemapProcessor(
      """if .value > 5 {
        |  .grade = 'big'
        |  .boosted = .value * 10
        |} else {
        |  .grade = 'small'
        |}
        |if .value > 100 { .huge = true }
        |.after = .value + 1
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("grade", "boosted", "huge", "after").collect().head
    assert(r.getString(0) == "big")      // value=10 > 5
    assert(r.getLong(1) == 100L)         // then-branch assignment
    assert(r.isNullAt(2), "no-else statement-form if leaves the field NULL when false")
    assert(r.getLong(3) == 11L, "statements after the block still run")
    // del() inside a branch is rejected with a clear message (dropping a
    // column cannot be row-conditional)
    val e = intercept[IllegalArgumentException](Processors.RemapProcessor(
      "if .value > 1 { del(.sensor) }"))
    assert(e.getMessage.contains("assignments"))
  }

  test("remap leaves '#', '//' and .field text inside string literals untouched") {
    val out = Processors.RemapProcessor(
      """.url = concat(.sensor, '//host#frag')   # only THIS is a comment
        |.tag = 'keep .value intact'
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("url", "tag").collect().head
    assert(r.getString(0) == "temp_1//host#frag")
    assert(r.getString(1) == "keep .value intact")
  }

  test("remap masks DOUBLE-quoted VRL string literals: '#', ';', '{', and " +
      ".word inside \"...\" survive verbatim, incl. backslash escapes") {
    val out = Processors.RemapProcessor(
      """.url = concat(.sensor, "//host#frag")   # real comment
        |.tag = "keep .value; and {braces} intact"
        |.esc = "quote\" done"
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("url", "tag", "esc").collect().head
    assert(r.getString(0) == "temp_1//host#frag")
    assert(r.getString(1) == "keep .value; and {braces} intact")
    assert(r.getString(2) == "quote\" done")
  }

  test("remap else-if chains: statement form compiles to chained whens, " +
      "expression form desugars to nested CASE (processor/vrl.rs control flow)") {
    // statement form: 3-arm chain + final else, per-field semantics
    val prog =
      """if .value > 100 {
        |  .grade = 'huge'
        |  .extra = 1
        |} else if .value > 5 {
        |  .grade = 'big'
        |} else if .value > 1 {
        |  .grade = 'mid'
        |} else {
        |  .grade = 'small'
        |  .extra = 0
        |}
        |""".stripMargin
    def run(json: String) = Processors.RemapProcessor(prog)(
      Processors.JsonToArrow()(envelope(json))).select("grade", "extra").collect().head
    val big = run("""{"value": 10}""")
    assert(big.getString(0) == "big")
    assert(big.isNullAt(1), "field assigned only in other arms is NULL here")
    val mid = run("""{"value": 3}""")
    assert(mid.getString(0) == "mid")
    val small = run("""{"value": 0}""")
    assert(small.getString(0) == "small")
    assert(small.getAs[Number](1).longValue == 0L)
    // expression form
    val e = Processors.RemapProcessor(
      ".size = if .value > 100 { 'huge' } else if .value > 5 { 'big' } else { 'small' }")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
      .select("size").collect().head
    assert(e.getString(0) == "big")
  }

  test("remap stdlib tranche: parse_json, contains, replace, slice, now() " +
      "(processor/vrl.rs stdlib)") {
    val out = Processors.RemapProcessor(
      """.payload = '{"kind": "alert", "level": 3}'
        |.kind = to_string(variant_get(parse_json(.payload), '$.kind'))
        |.has = contains(.sensor, 'temp')
        |.swapped = replace(.sensor, '_', '-')
        |.head = slice(.sensor, 0, 4)
        |.tail = slice(.sensor, -2)
        |.clamped = slice(.sensor, 2, 100)
        |.seen_at = now()
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("kind", "has", "swapped", "head", "tail", "clamped", "seen_at")
      .collect().head
    assert(r.getString(0) == "alert")
    assert(r.getBoolean(1))
    assert(r.getString(2) == "temp-1")
    assert(r.getString(3) == "temp", "slice is 0-based end-exclusive")
    assert(r.getString(4) == "_1", "negative start counts from the end")
    assert(r.getString(5) == "mp_1", "out-of-range end clamps")
    assert(!r.isNullAt(6))
  }

  test("remap parse_xml: schemaless XML rides the VARIANT path like " +
      "parse_json — attributes as @keys, text under text, repeated " +
      "elements as arrays, typed scalars (vrl stdlib parse_xml)") {
    val out = Processors.RemapProcessor(
      """.x = '<book category="CHILDREN"><title lang="en">Harry Potter</title><author>J K. Rowling</author><year>2005</year><price>3.5</price><avail>true</avail><tag>a</tag><tag>b</tag><note/></book>'
        |.v = parse_xml(.x)
        |.title = to_string(variant_get(.v, "$.book.title.text"))
        |.lang = to_string(variant_get(.v, "$.book.title['@lang']"))
        |.cat = to_string(variant_get(.v, "$.book['@category']"))
        |.year = to_int(variant_get(.v, '$.book.year'))
        |.price = to_float(variant_get(.v, '$.book.price'))
        |.avail = to_bool(variant_get(.v, '$.book.avail'))
        |.tag2 = to_string(variant_get(.v, '$.book.tag[1]'))
        |.author = to_string(variant_get(.v, '$.book.author'))
        |.caught = to_string(parse_xml('<broken')) ?? 'bad xml'
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("title", "lang", "cat", "year", "price", "avail",
      "tag2", "author", "caught").collect().head
    assert(r.getString(0) == "Harry Potter",
      "element with attributes puts its text under the text key")
    assert(r.getString(1) == "en")
    assert(r.getString(2) == "CHILDREN")
    assert(r.getAs[Number](3).longValue == 2005L, "numeric text types as a number")
    assert(math.abs(r.getAs[Number](4).doubleValue - 3.5) < 1e-9)
    assert(r.getBoolean(5), "parse_bool applies to element text")
    assert(r.getString(6) == "b", "repeated sibling elements become an array")
    assert(r.getString(7) == "J K. Rowling",
      "text-only element is a bare scalar, no text key")
    assert(r.getString(8) == "bad xml", "malformed XML is fallible — ?? catches it")
  }

  test("remap parse_xml options: label-aware subsets (text_key, " +
      "attr_prefix, include_attr, always_use_text_key, parse_number) " +
      "bind by NAME, not position (vrl stdlib parse_xml options)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.x = '<e id="7"><n>42</n></e>'
        |.v1 = parse_xml!(.x, text_key: "value", attr_prefix: "_")
        |.id = to_string(variant_get(.v1, '$.e._id'))
        |.v2 = parse_xml!(.x, parse_number: false)
        |.n_str = to_string(variant_get(.v2, '$.e.n'))
        |.v3 = parse_xml!(.x, include_attr: false, always_use_text_key: true)
        |.n_text = to_int(variant_get(.v3, "$.e.n['text']"))
        |.id_gone = variant_get(.v3, "$.e['@id']")
        |""".stripMargin)(frame)
    val r = out.selectExpr("id", "n_str", "n_text",
      "cast(id_gone as string)").collect().head
    assert(r.getString(0) == "7",
      "attr_prefix: '_' renames attribute keys — a lone named option " +
        "must NOT land in trim's positional slot")
    assert(r.getString(1) == "42", "parse_number: false keeps text strings")
    assert(r.getAs[Number](2).longValue == 42L,
      "always_use_text_key wraps text-only elements")
    assert(r.isNullAt(3), "include_attr: false drops attributes")
    // option values must be literals; unknown options fail at build
    val e = intercept[Exception](Processors.RemapProcessor(
      """.v = parse_xml!('<a/>', bogus_opt: true)""")(frame).collect())
    assert(e.getMessage.contains("bogus_opt"), e.getMessage)
    // the DELIBERATE number-format boundary (VrlXml.typedScalar doc):
    // leading-zero digit strings re-type as the number (textual form not
    // preserved); digit strings too long for a Long stay TEXT (never a
    // lossy double); non-round-trippable doubles stay text
    val nb = Processors.RemapProcessor(
      """.v = parse_xml!('<r><z>007</z><big>12345678901234567890123456789</big><f>1.50</f></r>')
        |.z = to_int(variant_get(.v, '$.r.z'))
        |.big = to_string(variant_get(.v, '$.r.big'))
        |.f = to_float(variant_get(.v, '$.r.f'))
        |""".stripMargin)(frame)
    val rn = nb.selectExpr("z", "big", "f").collect().head
    assert(rn.getLong(0) == 7L, "leading-zero digits re-type to the number")
    assert(rn.getString(1) == "12345678901234567890123456789",
      "overflow-length digit strings stay text, never a lossy double")
    assert(math.abs(rn.getDouble(2) - 1.5) < 1e-12)
  }

  test("remap path-function family: literal-path get!/set!/remove! compile " +
      "onto the nested-path machinery; absent get paths are null; dynamic " +
      "paths reject loudly (vrl stdlib get/set/remove)") {
    val out = Processors.RemapProcessor(
      """.obj = { "a": { "b": 7 }, "arr": [10, 20, 30] }
        |.kv = parse_logfmt('level=info ttl=9')
        |.g1 = get!(., ["obj", "a", "b"])
        |.g2 = get(., ["obj", "missing"])
        |.g3 = get!(., ["kv", "level"])
        |.g4 = get!(., ["kv", "nope"])
        |.g5 = get!(., ["obj", "arr", 1])
        |.g6 = get!(., ["obj", "arr", 9])
        |.g7 = get!(.obj, ["a", "b"])
        |. = set!(., ["meta", "source"], 'edge')
        |.obj = set!(.obj, ["c"], 42)
        |. = remove!(., ["obj", "a"])
        |. = remove!(., ["kv"])
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("g1", "g2", "g3", "g4", "g5", "g6", "g7",
      "meta.source", "obj.c").collect().head
    assert(r.getAs[Number](0).longValue == 7L, "get walks nested structs")
    assert(r.isNullAt(1), "an absent struct field makes the whole get null")
    assert(r.getString(2) == "info", "get addresses map keys")
    assert(r.isNullAt(3), "a missing map key is null, not an error")
    assert(r.getAs[Number](4).longValue == 20L, "int segments index arrays 0-based")
    assert(r.isNullAt(5), "an out-of-range index is null (try_element_at)")
    assert(r.getAs[Number](6).longValue == 7L, "a field base prepends its path")
    assert(r.getString(7) == "edge", "set creates absent parents like path assignment")
    assert(r.getAs[Number](8).longValue == 42L, "set on a field base writes in place")
    assert(!out.columns.contains("kv"), "remove with a 1-seg path drops the column")
    assert(!out.select("obj.*").columns.contains("a"),
      "remove with a nested path drops the struct field")
    // dynamic paths are an inherent divergence — rejected at build
    val e1 = intercept[IllegalArgumentException](Processors.RemapProcessor(
      ".x = get!(., [.dyn])"))
    assert(e1.getMessage.contains("not a string or int literal"))
    // functional set (result assigned elsewhere) is rejected with the fix
    val e2 = intercept[IllegalArgumentException](Processors.RemapProcessor(
      """.other = set!(.obj, ["c"], 1)"""))
    assert(e2.getMessage.contains("mutate in place"))
  }

  test("remap round-13 tranche 2: parse_bytes, format_number, parse_float, " +
      "parse_regex_all, community_id, ip helpers, decode_mime_q, uuid_v7, " +
      "zstd/snappy codecs (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.b1 = parse_bytes!('8.5MiB', unit: 'B')
        |.b2 = parse_bytes!('1MB', unit: 'B')
        |.b3 = parse_bytes!('1MB', 'B', base: '2')
        |.b4 = parse_bytes!('1048576B', unit: 'KiB')
        |.bad_b = to_string(parse_bytes!('x?', unit: 'B')) ?? 'no size'
        |.fmt = format_number(1234567.891, 2)
        |.fmt2 = format_number(-1234567.891, 1, ',', '.')
        |.f = parse_float!('3.25')
        |.bad_f = to_string(parse_float!('abc')) ?? 'no float'
        |.all = parse_regex_all('a=1 b=22 c=333', r'(?P<k>[a-z])=(?P<v>\d+)')
        |.cid = community_id('1.2.3.4', '5.6.7.8', 6, 1122, 3344)
        |.cid_rev = community_id('5.6.7.8', '1.2.3.4', 6, 3344, 1122)
        |.cid_seed = community_id('10.0.0.1', '10.0.0.2', 17, 53, 5353, seed: 7)
        |.p = ip_pton('10.1.2.3')
        |.rt = ip_ntop(ip_pton('10.1.2.3'))
        |.net = ip_subnet('10.1.2.3', '/24')
        |.net2 = ip_subnet('10.1.2.3', '255.255.0.0')
        |.v6 = ip_to_ipv6('10.1.2.3')
        |.mime = decode_mime_q('=?utf-8?Q?hello=20w_rld?= and =?utf-8?B?aGk=?=')
        |.u7a = uuid_v7()
        |.zs = decode_zstd(encode_zstd('round trip me zstd'))
        |.sn = decode_snappy(encode_snappy('round trip me snappy'))
        |""".stripMargin)(frame)
    val r = out.selectExpr("b1", "b2", "b3", "b4", "bad_b", "fmt", "fmt2",
      "f", "bad_f", "all", "cid", "cid_rev", "cid_seed",
      "hex(p)", "rt", "net", "net2", "v6", "mime", "u7a", "zs", "sn")
      .collect().head
    assert(r.getDouble(0) == 8912896.0, "binary suffix is 1024-based")
    assert(r.getDouble(1) == 1000000.0, "decimal suffix is 1000-based by default")
    assert(r.getDouble(2) == 1048576.0, "base: '2' makes MB mean MiB")
    assert(r.getDouble(3) == 1024.0, "target unit converts, not just bytes")
    assert(r.getString(4) == "no size", "garbage size is fallible")
    assert(r.getString(5) == "1,234,567.89")
    assert(r.getString(6) == "-1.234.567,9", "custom separators swap")
    assert(r.getDouble(7) == 3.25)
    assert(r.getString(8) == "no float", "parse_float is fallible")
    val all = r.getSeq[org.apache.spark.sql.Row](9)
    assert(all.map(x => (x.getString(0), x.getString(1))) ==
      Seq(("a", "1"), ("b", "22"), ("c", "333")),
      "parse_regex_all captures every match's named groups")
    // pinned vectors computed from the public Corelight spec
    assert(r.getString(10) == "1:wCb3OG7yAFWelaUydu0D+125CLM=")
    assert(r.getString(11) == r.getString(10),
      "community_id is direction-invariant")
    assert(r.getString(12) == "1:VHrnBBIIeUnewPvBqaIbleo7Tx0=")
    assert(r.getString(13) == "0A010203", "ip_pton is network-order bytes")
    assert(r.getString(14) == "10.1.2.3", "ip_ntop inverts ip_pton")
    assert(r.getString(15) == "10.1.2.0", "/prefix mask")
    assert(r.getString(16) == "10.1.0.0", "dotted mask")
    assert(r.getString(17) == "::ffff:10.1.2.3")
    assert(r.getString(18) == "hello w rld and hi",
      "Q (=XX, underscore=space) and B encoded-words both decode")
    val u7 = r.getString(19)
    assert(u7.matches("[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"),
      s"uuid_v7 layout (version 7, RFC variant): $u7")
    assert(r.getString(20) == "round trip me zstd")
    assert(r.getString(21) == "round trip me snappy")
  }

  test("remap round-13 tranche 3: type assertions, `. = unnest`, assert/" +
      "assert_eq, get_env_var/get_hostname, tally/tally_value, " +
      "contains_all, find, parse_ruby_hash, v6 ip_cidr_contains (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.s = string!(.sensor)
        |assert!(.value >= 0, 'value must be non-negative')
        |assert_eq!(.sensor, 'temp_1')
        |.ok = assert(1 == 2) ?? false
        |.home = get_env_var!('HOME') ?? '/unknown'
        |.host = get_hostname!()
        |.t = tally(['a', 'b', 'a', 'a'])
        |.tv = tally_value([1, 2, 1, 1], 1)
        |.ca = contains_all('the quick brown fox', ['quick', 'fox'])
        |.ca2 = contains_all('the quick brown fox', ['quick', 'cat'])
        |.f1 = find('foobar', 'bar')
        |.f2 = find('foobar', 'zzz')
        |.rb = parse_ruby_hash!('{ "hello" => "world", :sym => nil, "n" => 42, "nested" => { "a" => [1, 2.5, true] } }')
        |.rb_hello = to_string(variant_get(.rb, '$.hello'))
        |.rb_n = to_int(variant_get(.rb, '$.n'))
        |.rb_a1 = to_float(variant_get(.rb, '$.nested.a[1]'))
        |.v6in = ip_cidr_contains('2001:db8::/32', '2001:db8::8a2e:370:7334')
        |.v6out = ip_cidr_contains('2001:db8::/32', '2001:db9::1')
        |.ri = random_int(10, 20)
        |.rf = random_float(0.0, 1.0)
        |.rb2 = random_bool()
        |.ty_s = type(.sensor)
        |.ty_n = type(.value)
        |.ty_missing = type(.no_such_field)
        |log('debugging noise that must not break compilation')
        |""".stripMargin)(frame)
    val r = out.selectExpr("s", "ok", "home", "host", "t['a']", "t['b']",
      "tv", "ca", "ca2", "f1", "f2", "rb_hello", "rb_n", "rb_a1",
      "v6in", "v6out", "ri", "rf", "ty_s", "ty_n", "ty_missing").collect().head
    assert(r.getString(0) == "temp_1", "string!(.f) on a string field is the field")
    assert(!r.getBoolean(1), "expression-form assert failure is caught by ??")
    assert(r.getString(2).nonEmpty && r.getString(2) != "/unknown",
      "get_env_var reads the JVM environment")
    assert(r.getString(3).nonEmpty)
    assert(r.getLong(4) == 3L && r.getLong(5) == 1L, "tally counts per key")
    assert(r.getLong(6) == 3L, "tally_value counts one value")
    assert(r.getBoolean(7) && !r.getBoolean(8))
    assert(r.getInt(9) == 3 && r.getInt(10) == -1,
      "find is 0-based, -1 when absent")
    assert(r.getString(11) == "world", "ruby hash rides the VARIANT path")
    assert(r.getAs[Number](12).longValue == 42L)
    assert(math.abs(r.getAs[Number](13).doubleValue - 2.5) < 1e-9,
      "nested ruby arrays keep typed scalars")
    assert(r.getBoolean(14) && !r.getBoolean(15),
      "ip_cidr_contains now answers IPv6 CIDRs")
    assert(r.getLong(16) >= 10L && r.getLong(16) < 20L,
      "random_int is [min, max)")
    assert(r.getDouble(17) >= 0.0 && r.getDouble(17) < 1.0)
    assert(r.getString(18) == "string" && r.getString(19) == "integer",
      "type(.f) names the frame type")
    assert(r.getString(20) == "null", "type of an absent field is 'null'")
    // a FAILED type assertion is loud, naming field and actual type
    val e1 = intercept[Exception](Processors.RemapProcessor(
      ".x = int!(.sensor)")(frame).collect())
    assert(e1.getMessage.contains("type assertion") &&
      e1.getMessage.contains("string"), e1.getMessage)
    // a bang-form type assertion over a computed expression is rejected
    val e2 = intercept[IllegalArgumentException](Processors.RemapProcessor(
      ".x = string!(upcase(.sensor))"))
    assert(e2.getMessage.contains("field references only"), e2.getMessage)
    // a failed statement-form assert fails the batch (the abort channel)
    val e3 = intercept[Exception](Processors.RemapProcessor(
      "assert!(.value > 100000, 'too small')")(frame).collect())
    assert(e3.getMessage.contains("too small") ||
      Option(e3.getCause).exists(_.getMessage.contains("too small")),
      s"assert message must surface: ${e3.getMessage}")
    // `. = unnest(.items)` fans one event out per array element
    val un = Processors.RemapProcessor(
      """.items = [10, 20, 30]
        |. = unnest(.items)
        |""".stripMargin)(frame)
    val rows = un.selectExpr("sensor", "items").collect()
    assert(rows.length == 3, "unnest explodes to one event per element")
    assert(rows.map(_.getAs[Number](1).longValue).toSeq == Seq(10L, 20L, 30L),
      "the array field carries each element")
    assert(rows.forall(_.getString(0) == "temp_1"),
      "other event fields are carried into every fanned-out event")
  }

  test("remap round-13 tranche 4: sha3/seahash, chunks, truncate suffix, " +
      "is_empty, zip/object_from_array, match_any/match_array, " +
      "to_syslog_facility pair, charset codecs, map_keys closure " +
      "(vrl 0.30 stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.h3 = sha3('hello')
        |.h3_256 = sha3('hello', variant: 'SHA3-256')
        |.sea = seahash('to be or not to be')
        |.sea2 = seahash('abc')
        |.ch = chunks('abcdefg', 3)
        |.ch2 = chunks('', 3)
        |.tr1 = truncate('hello world', 5)
        |.tr2 = truncate('hello world', 5, suffix: '..')
        |.tr3 = truncate('hi', 5, '..')
        |.tr4 = truncate('hello world', 5, true)
        |.em1 = is_empty('')
        |.em2 = is_empty([1])
        |.z = zip(['a', 'b', 'c'], ['x', 'y'])
        |.o = object_from_array([['k1', 'v1'], ['k2', 'v2'], ['k1', 'v9']])
        |.o2 = object_from_array(['10', '20'], ['x', 'y'])
        |.ma1 = match_any('abc123', [r'^\d+$', r'[a-z]+\d'])
        |.ma2 = match_any('xyz', [r'\d+'])
        |.ar1 = match_array(['foo1', 'bar'], r'\d')
        |.ar2 = match_array(['foo1', 'bar'], r'\d', all: true)
        |.ar3 = match_array(['a1', 'b2'], r'\d', all: true)
        |.fa = to_syslog_facility(4)
        |.fa2 = to_syslog_facility(23)
        |.fc = to_syslog_facility_code('local7')
        |.fbad = to_syslog_facility(99) ?? 'unknown'
        |.cs = decode_charset!(encode_charset!('héllo wörld', 'utf-16le'), 'utf-16le')
        |.kv2 = object_from_array([['a', '1']])
        |.mk = map_keys(.kv2) -> |k| { upcase(k) }
        |log('tranche-4 log statement', level: 'debug')
        |""".stripMargin)(frame)
    val r = out.selectExpr("h3", "h3_256", "sea", "sea2", "ch", "ch2",
      "tr1", "tr2", "tr3", "tr4", "em1", "em2", "z", "o['k1']", "o['k2']",
      "o2['x']", "o2['y']", "ma1", "ma2", "ar1", "ar2", "ar3",
      "fa", "fa2", "fc", "fbad", "cs", "mk['A']").collect().head
    // pinned NIST SHA-3 vectors (JDK MessageDigest names == VRL's)
    assert(r.getString(0) == "75d527c368f2efe848ecf6b073a36767800805e9ee" +
      "f2b1857d5f984f036eb6df891d75f72d9b154518c1cd58835286d1da9a38deba3" +
      "de98b5a53e5ed78a84976", "sha3 default variant is SHA3-512")
    assert(r.getString(1) ==
      "3338be694f50c5f338814986cdf0686453a888b84f424d792af4b9202398f392")
    // the seahash crate's own README vector; u64 surfaced as i64 bits
    assert(r.getLong(2) == 1988685042348123509L)
    assert(r.getLong(3) == -9189193289445479034L,
      "u64 hashes past i64.max wrap like VRL's integer")
    assert(r.getSeq[String](4) == Seq("abc", "def", "g"),
      "chunks splits on byte boundaries")
    assert(r.getSeq[String](5).isEmpty, "chunks of empty input is empty")
    assert(r.getString(6) == "hello" && r.getString(7) == "hello.." &&
      r.getString(8) == "hi" && r.getString(9) == "hello...",
      "suffix appends only when the string was cut; legacy ellipsis maps to ...")
    assert(r.getBoolean(10) && !r.getBoolean(11))
    assert(r.getSeq[scala.collection.Seq[String]](12).map(_.toSeq) ==
      Seq(Seq("a", "x"), Seq("b", "y")),
      "zip truncates to the shorter array, pairs as 2-element arrays")
    assert(r.getString(13) == "v9" && r.getString(14) == "v2",
      "object_from_array: later duplicate keys win")
    assert(r.getString(15) == "10" && r.getString(16) == "20",
      "the 2-arg form pairs values[i] with keys[i]")
    assert(r.getBoolean(17) && !r.getBoolean(18))
    assert(r.getBoolean(19) && !r.getBoolean(20) && r.getBoolean(21),
      "match_array: any by default, all: true demands every element")
    assert(r.getString(22) == "auth" && r.getString(23) == "local7")
    assert(r.getLong(24) == 23L)
    assert(r.getString(25) == "unknown",
      "an out-of-range facility code is fallible")
    assert(r.getString(26) == "héllo wörld",
      "charset round-trip through utf-16le")
    assert(r.getString(27) == "1", "map_keys closure rewrites each key")
    // unknown sha3 variant / bad charset / non-array patterns fail at
    // ANALYSIS (the function builder), before any row is touched
    def analysisMsg(program: String): String =
      intercept[Exception](Processors.RemapProcessor(program)(frame)).getMessage
    assert(analysisMsg(".x = sha3('v', variant: 'SHA3-123')")
      .contains("unknown variant"))
    assert(analysisMsg(".x = decode_charset!(.sensor, 'no-such-charset')")
      .contains("unknown charset"))
    assert(analysisMsg(".x = match_any(.sensor, 'notanarray')")
      .contains("array literal"))
  }

  test("remap parse_influxdb_line_protocol / parse_cbor / parse_groks " +
      "(vrl 0.30 stdlib — VARIANT and unified-struct paths)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.lp = parse_influxdb_line_protocol!('weather,location=us\\,midwest,season=summer temperature=82i,bug_concentration=98.5,ok=true,note="say \\"hi\\"" 1465839830100400200')
        |.m = to_string(variant_get(.lp, '$[0].measurement'))
        |.loc = to_string(variant_get(.lp, '$[0].tags.location'))
        |.temp = to_int(variant_get(.lp, '$[0].fields.temperature'))
        |.bug = to_float(variant_get(.lp, '$[0].fields.bug_concentration'))
        |.okf = bool(variant_get(.lp, '$[0].fields.ok'))
        |.note = to_string(variant_get(.lp, '$[0].fields.note'))
        |.lts = to_int(variant_get(.lp, '$[0].timestamp'))
        |.two = parse_influxdb_line_protocol!('a f=1i\n# a comment\nb f=2i')
        |.m2 = to_string(variant_get(.two, '$[1].measurement'))
        |.cb = parse_cbor!(decode_base16('a3616101616283f5f661786163fb4004000000000000'))
        |.cb_a = to_int(variant_get(.cb, '$.a'))
        |.cb_b0 = bool(variant_get(.cb, '$.b[0]'))
        |.cb_b2 = to_string(variant_get(.cb, '$.b[2]'))
        |.cb_c = to_float(variant_get(.cb, '$.c'))
        |.ind = to_int(variant_get(parse_cbor!(decode_base16('9f01029f0304ffff')), '$[2][1]'))
        |.hf = to_float(parse_cbor!(decode_base16('f93c00')))
        |.neg = to_int(parse_cbor!(decode_base16('3863')))
        |.istr = to_string(parse_cbor!(decode_base16('7f6261626163ff')))
        |.tagd = to_string(parse_cbor!(decode_base16('c074323031332d30332d32315432303a30343a30305a')))
        |.ik = to_string(variant_get(parse_cbor!(decode_base16('a1016161')), '$.1'))
        |.g1 = parse_groks('192.168.0.1 GET 200', ['%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}', '%{IP:host} %{WORD:method} %{NUMBER:code:int}'])
        |.g2 = parse_groks('2024-01-01T10:00:00Z ERROR boom', ['%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}', '%{IP:host} %{WORD:method} %{NUMBER:code:int}'])
        |.g3 = parse_groks('###', ['%{IP:host} %{WORD:method} %{NUMBER:code:int}'])
        |.gnull = is_null(.g3)
        |""".stripMargin)(frame)
    val r = out.selectExpr("m", "loc", "temp", "bug", "okf", "note", "lts",
      "m2", "cb_a", "cb_b0", "cb_b2", "cb_c", "ind", "hf", "neg", "istr",
      "tagd", "ik", "g1.host", "g1.code", "g1.ts", "g2.level", "g2.msg",
      "g2.host", "gnull").collect().head
    assert(r.getString(0) == "weather")
    assert(r.getString(1) == "us,midwest", "escaped comma in a tag value")
    assert(r.getLong(2) == 82L, "the i suffix types an integer field")
    assert(math.abs(r.getDouble(3) - 98.5) < 1e-9)
    assert(r.getBoolean(4))
    assert(r.getString(5) == "say \"hi\"", "escaped quotes in a string field")
    assert(r.getLong(6) == 1465839830100400200L)
    assert(r.getString(7) == "b",
      "multi-line input parses per line, comments skipped")
    assert(r.getLong(8) == 1L)
    assert(r.getBoolean(9))
    assert(r.getString(10) == "x")
    assert(math.abs(r.getDouble(11) - 2.5) < 1e-9)
    assert(r.getLong(12) == 4L, "nested indefinite arrays decode")
    assert(r.getDouble(13) == 1.0, "half-precision floats decode")
    assert(r.getLong(14) == -100L)
    assert(r.getString(15) == "abc", "indefinite text chunks concatenate")
    assert(r.getString(16) == "2013-03-21T20:04:00Z", "tags unwrap")
    assert(r.getString(17) == "a", "non-string map keys stringify")
    assert(r.getString(18) == "192.168.0.1" && r.getLong(19) == 200L,
      "the second pattern matches and types code as int")
    assert(r.isNullAt(20), "fields only the other pattern names are null")
    assert(r.getString(21) == "ERROR" && r.getString(22) == "boom",
      "the first pattern wins when it matches")
    assert(r.isNullAt(23))
    assert(r.getBoolean(24), "no pattern matching yields a null struct")
    // malformed line protocol / CBOR are fallible; trailing CBOR bytes loud
    val bad = Processors.RemapProcessor(
      """.x = to_string(parse_influxdb_line_protocol!('nofields')) ?? 'bad lp'
        |.y = to_string(parse_cbor!(decode_base16('ff'))) ?? 'bad cbor'
        |""".stripMargin)(frame)
    val rb = bad.selectExpr("x", "y").collect().head
    assert(rb.getString(0) == "bad lp" && rb.getString(1) == "bad cbor")
  }

  test("remap round-14 hardening: charset-only encode_base64, duplicate " +
      "keys last-wins (influx + cbor), bounded cbor nesting, flatten " +
      "collision loud, log() first event always emits") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    // charset: without padding: the label strip leaves the charset string
    // in the padding slot — must bind as charset, not fail analysis
    val out = Processors.RemapProcessor(
      """.bc = encode_base64('f~~b?r', charset: 'url_safe')
        |.bo = encode_base64('hi', charset: 'url_safe', padding: false)
        |.lpd = parse_influxdb_line_protocol!('m,t=a,t=b f=1i,f=2i,g=3i')
        |.dt = to_string(variant_get(.lpd, '$[0].tags.t'))
        |.df = to_int(variant_get(.lpd, '$[0].fields.f'))
        |.dg = to_int(variant_get(.lpd, '$[0].fields.g'))
        |.dk = to_int(variant_get(parse_cbor!(decode_base16('a2616101616102')), '$.a'))
        |""".stripMargin)(frame)
    val r = out.selectExpr("bc", "bo", "dt", "df", "dg", "dk").collect().head
    assert(r.getString(0) == "Zn5-Yj9y",
      "charset-only call binds url_safe (standard would read Zn5+Yj9y)")
    assert(r.getString(1) == "aGk",
      "named args are order-free: charset BEFORE padding must bind both " +
        "(padded standard would read aGk=)")
    assert(r.getString(2) == "b", "duplicate influx tag: last occurrence wins")
    assert(r.getLong(3) == 2L, "duplicate influx field: last occurrence wins")
    assert(r.getLong(4) == 3L, "non-duplicate fields unaffected")
    assert(r.getLong(5) == 2L, "duplicate cbor map key: last occurrence wins")
    // 3000 nested one-element arrays: the depth cap must throw the same
    // IllegalArgumentException every malformed input throws (the
    // fallible/?? path), never a StackOverflowError that escapes it
    val deep = Array.fill[Byte](3000)(0x81.toByte) :+ 0x01.toByte
    val de = intercept[IllegalArgumentException](
      graft.functions.VrlCborToJson.toJson(deep))
    assert(de.getMessage.contains("nesting"), de.getMessage)
    // a literal dotted key colliding with a flattened path would emit
    // duplicate struct field names — rejected loudly like unflatten
    val e = intercept[Exception](Processors.RemapProcessor(
      """.x = flatten({"a.b": 1, "a": {"b": 2}})""")(frame).collect())
    assert(e.getMessage.contains("collision"), e.getMessage)
    // log()'s rate clock: the first event must always emit no matter
    // where the JVM's nanoTime origin sits (it may be negative/small)
    val lg = graft.functions.VrlLog(
      org.apache.spark.sql.catalyst.expressions.Literal("m"), "info", 60)
    assert(lg.shouldEmit(Long.MinValue / 4), "first event always logs")
    assert(!lg.shouldEmit(Long.MinValue / 4 + 1L), "second is rate-limited")
    assert(lg.shouldEmit(Long.MinValue / 4 + 61L * 1000000000L),
      "the window reopens after rate_limit_secs")
  }

  test("remap round-13 tranche 5: ipv6_to_ipv4, random_bytes, " +
      "get_timezone, is_json variants, polymorphic compact (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.v4 = ipv6_to_ipv4!('::ffff:10.1.2.3')
        |.v4b = ipv6_to_ipv4!('10.9.8.7')
        |.v4bad = ipv6_to_ipv4!('2001:db8::1') ?? 'not mapped'
        |.rb = length(encode_base16(random_bytes(16)))
        |.tz = get_timezone()
        |.j1 = is_json('{"a": 1}')
        |.j2 = is_json('{"a": ')
        |.j3 = is_json('{"a": 1}', variant: 'object')
        |.j4 = is_json('[1, 2]', variant: 'object')
        |.j5 = is_json('[1, 2]', variant: 'array')
        |.j6 = is_json('42', variant: 'number')
        |.c1 = compact([1, null, 2])
        |.c2 = compact(['a', '', null, 'b'])
        |.kv2 = object_from_array([['a', '1'], ['b', ''], ['c', 'x']])
        |.c3 = compact(.kv2)
        |.c4 = compact([['x'], [], ['', 'y']])
        |.kv3 = object_from_array([['a', 'v'], ['b', '']])
        |.c5 = compact([.kv3, .kv3])
        |.b1 = encode_base64('f~~b?r', padding: false, charset: 'url_safe')
        |.b2 = decode_base64('Zn5+Yj9y', charset: 'standard')
        |.b3 = decode_base64(encode_base64('f~~b?r', false, 'url_safe'), 'url_safe')
        |.sw = starts_with('Hello World', 'hello', case_sensitive: false)
        |.sw2 = starts_with('Hello World', 'hello')
        |.ew = ends_with('Hello World', 'WORLD', false)
        |.co = contains('Hello World', 'o w', case_sensitive: false)
        |.jn = join(['a', 'b', 'c'])
        |.ut = to_unix_timestamp(to_timestamp(1609459200), unit: 'milliseconds')
        |.ut2 = to_unix_timestamp(to_timestamp(1609459200))
        |""".stripMargin)(frame)
    val r = out.selectExpr("v4", "v4b", "v4bad", "rb", "tz",
      "j1", "j2", "j3", "j4", "j5", "j6",
      "c1", "c2", "map_keys(c3)", "b1", "b2", "b3",
      "sw", "sw2", "ew", "co", "jn", "ut", "ut2",
      "c4", "map_keys(c5[0])", "size(c5)").collect().head
    assert(r.getString(0) == "10.1.2.3", "v4-mapped v6 unwraps")
    assert(r.getString(1) == "10.9.8.7", "plain v4 passes through")
    assert(r.getString(2) == "not mapped", "a real v6 address is fallible")
    assert(r.getAs[Number](3).longValue == 32L,
      "random_bytes(16) is 16 bytes (32 hex chars)")
    assert(r.getString(4) == "UTC", "get_timezone is the session zone")
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getBoolean(7) && !r.getBoolean(8) && r.getBoolean(9) &&
      r.getBoolean(10), "variant narrows by JSON's first significant char")
    assert(r.getSeq[Long](11) == Seq(1L, 2L), "compact drops array nulls")
    assert(r.getSeq[String](12) == Seq("a", "b"),
      "string arrays also drop empties, VRL's default")
    assert(r.getSeq[String](13).sorted == Seq("a", "c"),
      "map compact drops null/empty VALUES")
    assert(r.getString(14) == "Zn5-Yj9y",
      "url_safe maps + to - and drops padding when asked")
    assert(r.getString(15) == "f~~b?r")
    assert(r.getString(16) == "f~~b?r",
      "url_safe decode accepts unpadded input")
    assert(r.getBoolean(17) && !r.getBoolean(18),
      "case_sensitive: false lowercases both sides; default stays strict")
    assert(r.getBoolean(19) && r.getBoolean(20))
    assert(r.getString(21) == "abc", "join's separator defaults to empty")
    assert(r.getLong(22) == 1609459200000L,
      "to_unix_timestamp unit: milliseconds is a UNIT, not a format")
    assert(r.getLong(23) == 1609459200L)
    assert(r.getSeq[scala.collection.Seq[String]](24).map(_.toSeq) ==
      Seq(Seq("x"), Seq("y")),
      "compact recurses: inner empties drop, then the emptied array drops")
    assert(r.getSeq[String](25).sorted == Seq("a"),
      "compact recurses into map VALUES of array elements")
    assert(r.getInt(26) == 2,
      "maps that stay non-empty after value compaction are kept")
  }

  test("remap polymorphic slice/flatten + strftime format_timestamp with " +
      "timezone (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.s1 = slice('hello world', 0, 5)
        |.s2 = slice([10, 20, 30, 40], 1, 3)
        |.s3 = slice([10, 20, 30, 40], -2)
        |.s4 = slice([10, 20], 5, 9)
        |.fa = flatten([[[1], [2]], [[3], [4, 5]]])
        |.obj = {"a": {"b": 1, "c": {"d": 'x'}}, "e": 2}
        |.fo = flatten(.obj)
        |.fo2 = flatten(.obj, '_')
        |.t1 = format_timestamp(to_timestamp(1609459200), '%F %T')
        |.t2 = format_timestamp(to_timestamp(1609459200), '%H', 'America/New_York')
        |.t3 = format_timestamp(to_timestamp(1609459200), 'yyyy-MM-dd')
        |.uf = unflatten(flatten(.obj))
        |.uo = unflatten({"x.y": 1, "x.z": 2, "w": 3})
        |""".stripMargin)(frame)
    val r = out.selectExpr("s1", "s2", "s3", "s4", "fa",
      "fo.`a.b`", "fo.`a.c.d`", "fo.e", "fo2.`a_c_d`",
      "t1", "t2", "t3",
      "uf.a.c.d", "uf.e", "uo.x.y", "uo.x.z", "uo.w").collect().head
    assert(r.getString(0) == "hello")
    assert(r.getSeq[Long](1) == Seq(20L, 30L), "array slice is 0-based, end-exclusive")
    assert(r.getSeq[Long](2) == Seq(30L, 40L), "negative start counts from the end")
    assert(r.getSeq[Long](3).isEmpty, "out-of-range clamps to empty")
    assert(r.getSeq[Long](4) == Seq(1L, 2L, 3L, 4L, 5L),
      "array flatten recurses to the schema's full depth")
    assert(r.getAs[Number](5).longValue == 1L &&
      r.getString(6) == "x" && r.getAs[Number](7).longValue == 2L,
      "object flatten joins nested keys with the separator")
    assert(r.getString(8) == "x", "custom separator")
    assert(r.getString(9) == "2021-01-01 00:00:00", "strftime %F %T renders")
    assert(r.getString(10) == "19",
      "timezone: renders in that zone (UTC midnight = 19:00 EST)")
    assert(r.getString(11) == "2021-01-01",
      "Java patterns still pass through (the shipped dialect)")
    assert(r.getString(12) == "x" && r.getAs[Number](13).longValue == 2L,
      "unflatten inverts flatten (nested access restored)")
    assert(r.getAs[Number](14).longValue == 1L &&
      r.getAs[Number](15).longValue == 2L &&
      r.getAs[Number](16).longValue == 3L,
      "dotted object-literal keys regroup into nesting")
    // map-of-map flatten is the documented divergence — loud
    val e = intercept[Exception](Processors.RemapProcessor(
      ".x = flatten(.kv)")(Processors.RemapProcessor(
      """.kv = object_from_array([['a', '1']])""")(frame)).collect())
    assert(e.getMessage.contains("map"), e.getMessage)
    // a name that is BOTH a value and a nesting prefix cannot live in
    // one typed struct — rejected loudly, never a silent drop or a
    // duplicate field name
    val e2 = intercept[Exception](Processors.RemapProcessor(
      """.x = unflatten({"a": 1, "a.b": 2})""")(frame).collect())
    assert(e2.getMessage.contains("both a value and a nesting prefix"),
      e2.getMessage)
    // log() must never constant-fold: a literal message would otherwise
    // log ONCE at plan time on the driver and the per-event executor
    // logging would never run
    val lp = Processors.RemapProcessor(".x = log('keep me')")(frame)
    assert(lp.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("vrllog"),
      "VrlLog survived ConstantFolding in the optimized plan")
  }

  test("remap parse_proto / encode_proto ride the native wire codec: " +
      ".proto source and compiled .desc descriptors, round-trip, " +
      "zigzag + fixed-width fields (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val proto = tempFile("graft_vrl", ".proto")
    java.nio.file.Files.writeString(proto,
      """syntax = "proto3";
        |package demo;
        |message Sensor {
        |  int64 ts = 1;
        |  double v = 2;
        |  string name = 3;
        |  sint64 delta = 4;
        |  fixed32 tag = 5;
        |}
        |""".stripMargin)
    val out = Processors.RemapProcessor(
      s""".enc = encode_proto!({"ts": 1625000000000, "v": 2.5, "name": 'temp_1', "delta": -7, "tag": 9}, '${proto}', 'demo.Sensor')
         |.dec = parse_proto!(.enc, '${proto}', 'demo.Sensor')
         |""".stripMargin)(frame)
    val r = out.selectExpr("dec.ts", "dec.v", "dec.name", "dec.delta",
      "dec.tag").collect().head
    assert(r.getLong(0) == 1625000000000L)
    assert(r.getDouble(1) == 2.5)
    assert(r.getString(2) == "temp_1")
    assert(r.getLong(3) == -7L, "sint64 zigzag round-trips a negative")
    assert(r.getLong(4) == 9L, "fixed32 round-trips")
    // the compiled-descriptor route: hand-assembled FileDescriptorSet
    // for `package demo; message M { string device=1; int64 seq=3; }`
    def vi(field: Int, v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(o, (field.toLong << 3) | 0L)
      ProtoWire.writeVarint(o, v); o.toByteArray
    }
    def ld(field: Int, payload: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(o, (field.toLong << 3) | 2L)
      ProtoWire.writeVarint(o, payload.length); o.write(payload); o.toByteArray
    }
    def s(v: String): Array[Byte] = v.getBytes("UTF-8")
    val m = ld(1, s("M")) ++
      ld(2, ld(1, s("device")) ++ vi(3, 1) ++ vi(5, 9)) ++
      ld(2, ld(1, s("seq")) ++ vi(3, 3) ++ vi(5, 3))
    val fds = ld(1, ld(1, s("demo.proto")) ++ ld(2, s("demo")) ++ ld(4, m))
    val desc = tempFile("graft_vrl", ".desc")
    java.nio.file.Files.write(desc, fds)
    val out2 = Processors.RemapProcessor(
      s""".enc = encode_proto!({"device": 's7', "seq": 12345}, '${desc}', 'demo.M')
         |.dec = parse_proto!(.enc, '${desc}', 'demo.M')
         |""".stripMargin)(frame)
    val r2 = out2.selectExpr("dec.device", "dec.seq").collect().head
    assert(r2.getString(0) == "s7" && r2.getLong(1) == 12345L,
      "the .desc (FileDescriptorSet) route round-trips")
    // a MULTI-segment package still resolves against the source parser's
    // unqualified message names (each stripped prefix is retried)
    val proto2 = tempFile("graft_vrl2", ".proto")
    java.nio.file.Files.writeString(proto2,
      """syntax = "proto3";
        |package com.example.telemetry;
        |message Ping { int64 seq = 1; }
        |""".stripMargin)
    val out3 = Processors.RemapProcessor(
      s""".enc = encode_proto!({"seq": 77}, '${proto2}', 'com.example.telemetry.Ping')
         |.dec = parse_proto!(.enc, '${proto2}', 'com.example.telemetry.Ping')
         |""".stripMargin)(frame)
    assert(out3.selectExpr("dec.seq").collect().head.getLong(0) == 77L,
      "package-qualified names resolve through successive prefix strips")
    // unknown message / missing file fail at analysis naming the problem
    def analysisMsg(program: String): String =
      intercept[Exception](Processors.RemapProcessor(program)(frame)).getMessage
    assert(analysisMsg(s".x = parse_proto!(.sensor, '${desc}', 'demo.Nope')")
      .contains("demo.M"))
    assert(analysisMsg(".x = parse_proto!(.sensor, '/no/such.desc', 'demo.M')")
      .contains("not found"))
  }

  test("remap parse_aws_cloudwatch_log_subscription_message: envelope " +
      "fields snake_cased, epoch-millis stamps become timestamps, " +
      "malformed input is fallible (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val out = Processors.RemapProcessor(
      """.raw = '{"messageType":"DATA_MESSAGE","owner":"111","logGroup":"g1","logStream":"s1","subscriptionFilters":["Destination"],"logEvents":[{"id":"a1","timestamp":1573690406780,"message":"first"},{"id":"a2","timestamp":1573690406781,"message":"second"}]}'
        |.m = parse_aws_cloudwatch_log_subscription_message!(.raw)
        |.n_events = length(.m.log_events)
        |.first_msg = .m.log_events[0].message
        |.bad = to_string(parse_aws_cloudwatch_log_subscription_message!('not json')) ?? 'nope'
        |""".stripMargin)(frame)
    val r = out.selectExpr("m.owner", "m.message_type", "m.log_group",
      "m.subscription_filters[0]", "n_events", "first_msg",
      "cast(m.log_events[1].timestamp as string)", "bad").collect().head
    assert(r.getString(0) == "111" && r.getString(1) == "DATA_MESSAGE")
    assert(r.getString(2) == "g1" && r.getString(3) == "Destination")
    assert(r.getInt(4) == 2 && r.getString(5) == "first")
    assert(r.getString(6) == "2019-11-14 00:13:26.781",
      "epoch millis convert to a real timestamp (UTC session)")
    assert(r.getString(7) == "nope", "malformed envelope is fallible")
  }

  test("remap parse_etld: PSL algorithm over the embedded snapshot — " +
      "multi-label suffixes, wildcards, exceptions, plus_parts, unknown " +
      "TLD degrades to the default rule (vrl stdlib parse_etld)") {
    val out = Processors.RemapProcessor(
      """.uk = parse_etld('sub.sussex.ac.uk')
        |.uk1 = parse_etld('sub.sussex.ac.uk', plus_parts: 1)
        |.dev = parse_etld!('vector.dev', 1)
        |.blog = parse_etld('foo.blogspot.com')
        |.wild = parse_etld('foo.bar.ck')
        |.exc = parse_etld('www.ck')
        |.unk = parse_etld('example.unknowntld')
        |.over = to_string(parse_etld!('dev', 2)) ?? 'too few labels'
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("uk.etld", "uk.known_suffix", "uk1.etld_plus",
      "dev.etld", "dev.etld_plus", "blog.etld", "wild.etld", "exc.etld",
      "unk.etld", "unk.known_suffix", "over").collect().head
    assert(r.getString(0) == "ac.uk", "multi-label registry suffix")
    assert(r.getBoolean(1))
    assert(r.getString(2) == "sussex.ac.uk", "plus_parts adds labels")
    assert(r.getString(3) == "dev")
    assert(r.getString(4) == "vector.dev")
    assert(r.getString(5) == "blogspot.com", "private-section suffixes count")
    assert(r.getString(6) == "bar.ck", "*.ck wildcard takes one extra label")
    assert(r.getString(7) == "ck", "!www.ck exception keeps www registrable")
    assert(r.getString(8) == "unknowntld", "unlisted TLD falls to the default rule")
    assert(!r.getBoolean(9), "default-rule match is not a known suffix")
    assert(r.getString(10) == "too few labels",
      "plus_parts past the domain's labels is fallible")
  }

  test("remap stdlib tranche 3: array ops, polymorphic length vs strlen, " +
      "strftime parse_timestamp, uuid_v4, encode_json (processor/vrl.rs stdlib)") {
    val out = Processors.RemapProcessor(
      """.arr = split(.sensor, '_')
        |.arr2 = push(.arr, 'x')
        |.both = append(.arr, .arr2)
        |.has_temp = includes(.arr, 'temp')
        |.n_elems = length(.arr2)
        |.s = 'héllo'
        |.bytes = length(.s)
        |.chars = strlen(.s)
        |.ts = parse_timestamp('2021-06-29T21:33:20+0000', '%Y-%m-%dT%H:%M:%S%z')
        |.id = uuid_v4()
        |.js = encode_json(.arr)
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("arr2", "both", "has_temp", "n_elems", "bytes", "chars",
      "ts", "id", "js").collect().head
    assert(r.getSeq[String](0) == Seq("temp", "1", "x"))
    assert(r.getSeq[String](1) == Seq("temp", "1", "temp", "1", "x"))
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 3)
    assert(r.getInt(4) == 6, "VRL length(string) counts UTF-8 BYTES")
    assert(r.getInt(5) == 5, "strlen counts characters")
    assert(r.getTimestamp(6).toInstant.getEpochSecond == 1625002400L,
      "strftime format with literal 'T' and %z offset parses")
    assert(r.getString(7).matches("[0-9a-f-]{36}"))
    assert(r.getString(8) == """["temp","1"]""")
    // unsupported strftime specifiers fail loudly, naming the culprit
    val e = intercept[Exception](Processors.RemapProcessor(
      ".t = parse_timestamp(.sensor, '%Q rest')")(
      Processors.JsonToArrow()(envelope(sensorJson.head))).collect())
    assert(e.getMessage.contains("%Q") || e.getCause.getMessage.contains("%Q"))
  }

  test("remap VRL closures: map_values -> transform, filter with |index, value| " +
      "arg swap; for_each rejected (VRL has no loops — closures are iteration)") {
    val out = Processors.RemapProcessor(
      """.nums = split('1_2_3_4', '_')
        |.doubled = map_values(.nums) -> |v| { to_int(v) * 2 }
        |.tail = filter(.nums) -> |i, v| { i > 0 }
        |.big = filter(.doubled) -> |v| { v >= 6 }
        |.squares = map_values(.nums) -> |v| {
        |  to_int(v) * to_int(v)
        |}
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("doubled", "tail", "big", "squares").collect().head
    assert(r.getSeq[Long](0) == Seq(2L, 4L, 6L, 8L))
    assert(r.getSeq[String](1) == Seq("2", "3", "4"),
      "filter |i, v| maps onto Spark's (element, index) lambda swapped")
    assert(r.getSeq[Long](2) == Seq(6L, 8L))
    assert(r.getSeq[Long](3) == Seq(1L, 4L, 9L, 16L), "multi-line closure body")
    val e = intercept[IllegalArgumentException](Processors.RemapProcessor(
      ".x = for_each(.nums) -> |i, v| { i }")(
      Processors.JsonToArrow()(envelope(sensorJson.head))))
    assert(e.getMessage.contains("for_each"))
  }

  test("remap stdlib log tranche: parse_key_value (quote-aware), parse_syslog " +
      "(RFC 5424 + 3164), ip_cidr_contains, is_ipv4/is_ipv6 (vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.kv = parse_key_value('level=info msg="hello world" flag ttl=30')
        |.s5 = parse_syslog('<165>1 2021-06-29T21:33:20.123Z host1 app - ID47 - boot ok')
        |.s3 = parse_syslog('<34>Oct 11 22:14:15 mymachine su[42]: failed for lonvick')
        |.in_net = ip_cidr_contains('192.168.0.0/16', '192.168.7.9')
        |.out_net = ip_cidr_contains('192.168.0.0/16', '10.0.0.1')
        |.v4 = is_ipv4('10.1.2.3')
        |.v4bad = is_ipv4('10.1.2.300')
        |.v6 = is_ipv6('2001:db8::8a2e:370:7334')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("kv['level']", "kv['msg']", "kv['flag']",
      "s5.appname", "s5.severity", "s5.facility", "s5.message", "s5.version",
      "cast(s5.timestamp as string)",
      "s3.appname", "s3.procid", "s3.message", "s3.severity",
      "in_net", "out_net", "v4", "v4bad", "v6").collect().head
    assert(r.getString(0) == "info")
    assert(r.getString(1) == "hello world", "quoted value keeps its spaces")
    assert(r.getString(2) == "", "standalone key maps to empty string")
    assert(r.getString(3) == "app")
    assert(r.getString(4) == "notice" && r.getString(5) == "local4",
      "pri 165 = facility local4(20), severity notice(5)")
    assert(r.getString(6) == "boot ok")
    assert(r.getInt(7) == 1)
    assert(r.getString(8).startsWith("2021-06-29"), "5424 ISO timestamp parses")
    assert(r.getString(9) == "su" && r.getString(10) == "42")
    assert(r.getString(11) == "failed for lonvick")
    assert(r.getString(12) == "crit", "pri 34 = severity crit(2)")
    assert(r.getBoolean(13) && !r.getBoolean(14))
    assert(r.getBoolean(15) && !r.getBoolean(16))
    assert(r.getBoolean(17))
    // unparseable syslog -> null struct, like the other parse_* fns
    val bad = Processors.RemapProcessor(".p = parse_syslog('not syslog')")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
    assert(bad.select("p").collect().head.isNullAt(0))
    // hostile lines must DEGRADE, not kill the micro-batch under default
    // ANSI: pri 999 (> 191, facility index out of range) and a malformed
    // RFC 5424 timestamp each yield null FIELDS, never a thrown batch
    val hostile = Processors.RemapProcessor(
      """.big = parse_syslog('<999>1 2021-06-29T21:33:20Z h app - - - x')
        |.badts = parse_syslog('<165>1 20xx-99-99T99:99:99 h app - - - y')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val h = hostile.selectExpr("big.facility", "big.severity", "big.message",
      "badts.timestamp", "badts.appname").collect().head
    assert(h.isNullAt(0), "pri > 191 -> facility null (no ANSI array throw)")
    assert(h.getString(1) == "debug", "severity is still pri & 7 = 7")
    assert(h.getString(2) == "x")
    assert(h.isNullAt(3), "unparseable timestamp -> null (no ANSI cast throw)")
    assert(h.getString(4) == "app")
  }

  test("remap parse_grok: %{SYNTAX:name} against the standard base dictionary, " +
      ":int/:float coercion, unnamed refs, unknown SYNTAX loud (vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.g = parse_grok('10.2.3.40 GET /index.html 200 0.057', '%{IP:client} %{WORD:method} %{PATH:request} %{INT:status:int} %{NUMBER:took:float}')
        |.log = parse_grok('2021-06-29T21:33:20Z ERROR db timeout', '%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{GREEDYDATA:msg}')
        |.part = parse_grok('x=7 rest', 'x=%{INT:x:int} %{GREEDYDATA}')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("g.client", "g.method", "g.request", "g.status",
      "g.took", "log.ts", "log.level", "log.msg", "part.x").collect().head
    assert(r.getString(0) == "10.2.3.40")
    assert(r.getString(1) == "GET")
    assert(r.getString(2) == "/index.html")
    assert(r.getLong(3) == 200L, ":int coerces to a long")
    assert(r.getDouble(4) == 0.057, ":float coerces to a double")
    assert(r.getString(5) == "2021-06-29T21:33:20Z")
    assert(r.getString(6) == "ERROR")
    assert(r.getString(7) == "db timeout")
    assert(r.getLong(8) == 7L, "unnamed %{GREEDYDATA} consumes without capturing")
    // :int on a value that overflows long degrades that FIELD to null
    // under default ANSI instead of throwing away the whole batch
    val over = Processors.RemapProcessor(
      ".p = parse_grok('n=99999999999999999999999999 done', 'n=%{INT:n:int} %{WORD:w}')")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
      .selectExpr("p.n", "p.w").collect().head
    assert(over.isNullAt(0), "long overflow -> null field, not an ANSI throw")
    assert(over.getString(1) == "done")
    // no-match -> null struct; unknown SYNTAX fails loudly naming it
    val miss = Processors.RemapProcessor(
      ".p = parse_grok('nope', '%{INT:n} end')")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
    assert(miss.select("p").collect().head.isNullAt(0))
    val e = intercept[Exception](Processors.RemapProcessor(
      ".p = parse_grok('x', '%{NOT_A_PATTERN:y}')")(
      Processors.JsonToArrow()(envelope(sensorJson.head))).collect())
    assert(e.getMessage.contains("NOT_A_PATTERN") ||
      Option(e.getCause).exists(_.getMessage.contains("NOT_A_PATTERN")))
  }

  test("remap stdlib tranche 4: parse_common_log / parse_apache_log / " +
      "parse_nginx_log, parse_duration, base64, strip_ansi_escape_codes, " +
      "ip_aton/ip_ntoa, to_syslog_severity/level (vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.c = parse_common_log('127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326')
        |.a = parse_apache_log('10.9.8.7 - - [10/Oct/2000:13:55:36 -0700] "POST /form HTTP/1.1" 404 - "http://ref.example" "curl/8.0"', 'combined')
        |.e = parse_apache_log('[Fri Sep 09 10:42:29.902022 2011] [core:error] [pid 35708:tid 4328636416] [client 72.15.99.187] File does not exist: /usr/local/apache2/htdocs/favicon.ico', 'error')
        |.n = parse_nginx_log('172.17.0.1 - alice [31/Dec/2021:16:49:29 +0000] "GET /index.html HTTP/1.1" 200 612 "-" "curl/7.75.0"', 'combined')
        |.d1 = parse_duration('1005ms', 's')
        |.d2 = parse_duration('1h30m', 'm')
        |.d3 = parse_duration('1.5s', 'ms')
        |.dbad = parse_duration('60', 's')
        |.b64 = encode_base64('hi')
        |.plain = decode_base64('aGk=')
        |.clean = strip_ansi_escape_codes(concat(chr(27), '[31mred', chr(27), '[0m ok'))
        |.ipn = ip_aton('1.2.3.4')
        |.ips = ip_ntoa(16909060)
        |.ipbad = ip_aton('999.1.1.1')
        |.sev = to_syslog_severity('err')
        |.sev2 = to_syslog_severity('panic')
        |.sevbad = to_syslog_severity('nope')
        |.lvl = to_syslog_level(5)
        |.lvlbad = to_syslog_level(9)
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr(
      "c.host", "c.user", "c.method", "c.path", "c.protocol", "c.status",
      "c.size", "cast(c.timestamp as string)", "c.identity",
      "a.referrer", "a.agent", "a.size", "a.status",
      "e.severity", "e.module", "e.pid", "e.client", "e.message",
      "cast(e.timestamp as string)",
      "n.client", "n.user", "n.size", "n.referer", "n.agent",
      "d1", "d2", "d3", "dbad",
      "b64", "plain", "clean", "ipn", "ips", "ipbad",
      "sev", "sev2", "sevbad", "lvl", "lvlbad").collect().head
    assert(r.getString(0) == "127.0.0.1")
    assert(r.getString(1) == "frank")
    assert(r.getString(2) == "GET")
    assert(r.getString(3) == "/apache_pb.gif")
    assert(r.getString(4) == "HTTP/1.0")
    assert(r.getInt(5) == 200)
    assert(r.getLong(6) == 2326L)
    assert(r.getString(7) == "2000-10-10 20:55:36", "-0700 normalizes to UTC")
    assert(r.isNullAt(8), "'-' identity is null")
    assert(r.getString(9) == "http://ref.example")
    assert(r.getString(10) == "curl/8.0")
    assert(r.isNullAt(11), "'-' size is null, never an ANSI throw")
    assert(r.getInt(12) == 404)
    assert(r.getString(13) == "error")
    assert(r.getString(14) == "core")
    assert(r.getInt(15) == 35708)
    assert(r.getString(16) == "72.15.99.187")
    assert(r.getString(17).startsWith("File does not exist"))
    assert(r.getString(18) == "2011-09-09 10:42:29.902022")
    assert(r.getString(19) == "172.17.0.1")
    assert(r.getString(20) == "alice")
    assert(r.getLong(21) == 612L)
    assert(r.isNullAt(22), "nginx '-' referer is null")
    assert(r.getString(23) == "curl/7.75.0")
    // nginx error format: annotations optional, numeric ids typed
    val ne = Processors.RemapProcessor(
      """.e = parse_nginx_log('2021/06/03 09:30:50 [error] 32#32: *6 open() "/usr/share/nginx/html/x" failed (2: No such file or directory), client: 172.17.0.1, server: localhost, request: "GET /x HTTP/1.1", host: "localhost:8081"', 'error')
        |.bare = parse_nginx_log('2021/06/03 09:30:50 [notice] 1#1: using the "epoll" event method', 'error')
        |.comma = parse_nginx_log('2021/06/03 09:30:50 [error] 5#5: *1 upstream timed out (110: Connection timed out, retrying), client: 1.2.3.4, host: "api.example.com"', 'error')
        |.sub = parse_nginx_log('2021/06/03 09:30:50 [error] 1#1: *5 open() failed, client: 1.2.3.4, server: s1, request: "GET /x HTTP/1.1", subrequest: "/auth", host: "h1", referrer: "http://r/"', 'error')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
      .selectExpr("e.severity", "e.pid", "e.tid", "e.cid", "e.client",
        "e.request", "e.host", "cast(e.timestamp as string)",
        "bare.severity", "bare.message", "bare.cid",
        "e.message", "comma.message", "comma.client", "comma.host",
        "sub.message", "sub.client", "sub.request", "sub.host")
      .collect().head
    assert(ne.getString(0) == "error")
    assert(ne.getInt(1) == 32 && ne.getInt(2) == 32 && ne.getLong(3) == 6L)
    assert(ne.getString(4) == "172.17.0.1")
    assert(ne.getString(5) == "GET /x HTTP/1.1")
    assert(ne.getString(6) == "localhost:8081")
    assert(ne.getString(7) == "2021-06-03 09:30:50")
    assert(ne.getString(8) == "notice")
    assert(ne.getString(9).startsWith("using the \"epoll\""))
    assert(ne.isNullAt(10), "no *cid on the bare form")
    assert(ne.getString(11) ==
      "open() \"/usr/share/nginx/html/x\" failed (2: No such file or directory)")
    assert(ne.getString(12) ==
      "upstream timed out (110: Connection timed out, retrying)",
      "a comma inside the message stays in the message (lazy match " +
        "against the anchored annotation tail)")
    assert(ne.getString(13) == "1.2.3.4" &&
      ne.getString(14) == "api.example.com")
    assert(ne.getString(15) == "open() failed" &&
      ne.getString(16) == "1.2.3.4" &&
      ne.getString(17) == "GET /x HTTP/1.1" && ne.getString(18) == "h1",
      "unknown annotations (subrequest, referrer) between and after " +
        "known ones never derail the extraction")
    // ingress-nginx upstreaminfo: the k8s controller's access format
    val ing = Processors.RemapProcessor(
      """.g = parse_nginx_log('10.0.0.1 - bob [31/Dec/2021:16:49:29 +0000] "GET /api/v1 HTTP/1.1" 200 612 "-" "kube-probe/1.21" 154 0.003 [default-svc-80] [] 172.17.0.5:8080 612 0.004 200 7f9a1', 'ingress_upstreaminfo')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
      .selectExpr("g.remote_addr", "g.remote_user", "g.status",
        "g.request_length", "g.request_time", "g.proxy_upstream_name",
        "g.proxy_alternative_upstream_name", "g.upstream_addr",
        "g.upstream_response_time", "g.upstream_status", "g.req_id",
        "g.http_referer").collect().head
    assert(ing.getString(0) == "10.0.0.1" && ing.getString(1) == "bob")
    assert(ing.getInt(2) == 200)
    assert(ing.getLong(3) == 154L && ing.getDouble(4) == 0.003)
    assert(ing.getString(5) == "default-svc-80")
    assert(ing.isNullAt(6), "empty alternative upstream is null")
    assert(ing.getString(7) == "172.17.0.5:8080")
    assert(ing.getDouble(8) == 0.004 && ing.getInt(9) == 200)
    assert(ing.getString(10) == "7f9a1")
    assert(ing.isNullAt(11), "'-' referer is null")
    assert(r.getDouble(24) == 1.005)
    assert(r.getDouble(25) == 90.0, "compound 1h30m in minutes")
    assert(r.getDouble(26) == 1500.0)
    assert(r.isNullAt(27), "unit-less digits are not a duration")
    assert(r.getString(28) == "aGk=")
    assert(r.getString(29) == "hi")
    assert(r.getString(30) == "red ok", "CSI sequences stripped")
    assert(r.getLong(31) == 16909060L)
    assert(r.getString(32) == "1.2.3.4")
    assert(r.isNullAt(33), "out-of-range octet -> null, no throw")
    assert(r.getInt(34) == 3)
    assert(r.getInt(35) == 0)
    assert(r.isNullAt(36))
    assert(r.getString(37) == "notice")
    assert(r.isNullAt(38), "out-of-range level -> null, no ANSI array throw")
    // unmatched log lines -> null structs; unsupported formats are loud
    val miss = Processors.RemapProcessor(
      """.c = parse_common_log('not a log line')
        |.n = parse_nginx_log('nope', 'combined')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val m = miss.select("c", "n").collect().head
    assert(m.isNullAt(0) && m.isNullAt(1))
    val e = intercept[Exception](Processors.RemapProcessor(
      ".x = parse_apache_log('x', 'ltsv')")(
      Processors.JsonToArrow()(envelope(sensorJson.head))).collect())
    assert(e.getMessage.contains("ltsv") ||
      Option(e.getCause).exists(_.getMessage.contains("ltsv")))
  }

  test("remap VRL surface syntax: bang-calls, named arguments, `??` error " +
      "coalescing (error vs null), exists(), array/object literals, abort") {
    val out = Processors.RemapProcessor(
      """.n1 = to_int!('42')
        |.d = parse_duration('250ms', unit: 's')
        |.v = to_int('nope') ?? -1
        |.w = to_int('7') ?? -1
        |.z = to_int(null) ?? -9
        |.nn = if .value > 100 { to_int('x') ?? -2 } else { to_int('5') ?? -3 }
        |.has = exists(.sensor)
        |.hasnt = exists(.nope)
        |.arr = [1, 2, 3]
        |.second = .arr[1]
        |.obj = {"a": 1, "b": upcase(.sensor)}
        |.oa = .obj.a
        |.ob = .obj.b
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("n1", "d", "v", "w", "z", "nn", "has", "hasnt",
      "arr", "second", "oa", "ob").collect().head
    assert(r.getLong(0) == 42L, "fn!(…) bang-call is the plain call")
    assert(r.getDouble(1) == 0.25, "named argument `unit: 's'` is positional")
    assert(r.getLong(2) == -1L, "?? catches the conversion ERROR")
    assert(r.getLong(3) == 7L, "?? leaves a successful value alone")
    assert(r.isNullAt(4), "?? does NOT replace a successful null (not coalesce)")
    assert(r.getLong(5) == 5L, "?? inside an if-expression branch")
    assert(r.getBoolean(6) && !r.getBoolean(7), "exists() resolves per frame")
    assert(r.getSeq[Int](8) == Seq(1, 2, 3), "array literal")
    assert(r.getInt(9) == 2, "subscript stays 0-based like VRL")
    assert(r.getInt(10) == 1, "object literal -> struct")
    assert(r.getString(11) == "TEMP_1")
    // abort: conditional arm drops matching events; else still assigns;
    // standalone abort drops the batch
    val df = Processors.JsonToArrow()(envelope(sensorJson.head)) // value=10
    assert(Processors.RemapProcessor("if .value < 100 { abort }")(df).count() == 0)
    val kept = Processors.RemapProcessor(
      "if .value > 100 { abort } else { .x = 1 }")(df)
    assert(kept.count() == 1 && kept.select("x").collect().head.getInt(0) == 1)
    assert(Processors.RemapProcessor("abort")(df).count() == 0)
  }

  test("remap parse_user_agent (fast-mode heuristics) and parse_query_string " +
      "(vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.c = parse_user_agent('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36')
        |.e = parse_user_agent('Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91')
        |.i = parse_user_agent('Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1')
        |.b = parse_user_agent('Googlebot/2.1 (+http://www.google.com/bot.html)')
        |.qs = parse_query_string('?x=1&y=hello&flag=')
        |.enc = parse_query_string('q=a%20b+c&path=%2Fusr%2Fbin&bare&bad=%zz&dup=1&dup=2&mix=a+b%zz')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr(
      "c.browser.family", "c.browser.version", "c.os.family", "c.os.version",
      "c.device.category",
      "e.browser.family", "e.browser.version",
      "i.browser.family", "i.os.family", "i.os.version", "i.device.category",
      "b.browser.family", "b.device.category",
      "qs['x']", "qs['y']", "qs['flag']",
      "enc['q']", "enc['path']", "enc['bare']", "enc['bad']", "enc['dup']",
      "enc['mix']")
      .collect().head
    assert(r.getString(0) == "Chrome" && r.getString(1) == "120.0.0.0")
    assert(r.getString(2) == "Windows" && r.getString(3) == "10.0")
    assert(r.getString(4) == "desktop")
    assert(r.getString(5) == "Edge", "Edge outranks its Chrome token")
    assert(r.getString(6) == "120.0.2210.91")
    assert(r.getString(7) == "Safari")
    assert(r.getString(8) == "iOS" && r.getString(9) == "17.1",
      "iOS outranks the 'like Mac OS X' token; underscores normalize")
    assert(r.getString(10) == "mobile")
    assert(r.getString(11) == "Bot" && r.getString(12) == "bot")
    assert(r.getString(13) == "1" && r.getString(14) == "hello" &&
      r.getString(15) == "")
    assert(r.getString(16) == "a b c", "%20 and + both decode to space")
    assert(r.getString(17) == "/usr/bin", "percent escapes decode")
    assert(r.getString(18) == "", "standalone key maps to empty")
    assert(r.getString(19) == "%zz", "invalid escape keeps the raw text")
    assert(r.getString(20) == "2",
      "repeated key: last wins (documented divergence from VRL's array)")
    assert(r.getString(21) == "a b%zz",
      "one invalid escape must not poison the token's valid decodes")
  }

  test("remap crypto/encoding tranche: parse_csv (RFC 4180), sha2 (VRL's " +
      "SHA-512/224 default), hmac raw bytes, base16 (vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.f = parse_csv('a,"b,c",d')
        |.g = parse_csv('x;"y""z"', ';')
        |.h1 = sha2('hi')
        |.h2 = sha2('hi', 'SHA-256')
        |.m = encode_base16(hmac('msg', 'key'))
        |.m1 = encode_base16(hmac('msg', 'key', 'SHA1'))
        |.b16 = encode_base16('hi')
        |.t = decode_base16('6869')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("f", "g", "h1", "h2", "m", "m1", "b16", "t")
      .collect().head
    assert(r.getSeq[String](0) == Seq("a", "b,c", "d"),
      "quoted field keeps its delimiter")
    assert(r.getSeq[String](1) == Seq("x", "y\"z"),
      "custom delimiter + doubled-quote escape")
    assert(r.getString(2) ==
      "626d63db61db32fc10c9f6a91158478481fa75aa665aed36050e360b",
      "bare sha2 is VRL's SHA-512/224 default")
    assert(r.getString(3) ==
      "8f434346648f6b96df89dda901c5176b10a6d83961dd3c1ac88b59b2dc327aa4")
    assert(r.getString(4) ==
      "2d93cbc1be167bcb1637a4a23cbff01a7878f0c50ee833954ea5221bb1b8c628",
      "hmac default SHA-256, raw bytes composing with encode_base16")
    assert(r.getString(5) == "102900b72b7bf1031eec76b4804b66052376896b")
    assert(r.getString(6) == "6869", "base16 is lowercase like VRL")
    assert(r.getString(7) == "hi")
    // unknown variants fail at build, naming the supported set
    val e = intercept[Exception](Processors.RemapProcessor(
      ".x = sha2('a', 'SHA-3')")(
      Processors.JsonToArrow()(envelope(sensorJson.head))).collect())
    assert(e.getMessage.contains("SHA-512/224") ||
      Option(e.getCause).exists(_.getMessage.contains("SHA-512/224")))
  }

  test("remap type guards: is_string/is_integer/... resolve against the frame " +
      "schema per batch; is_null/is_nullish are runtime value tests") {
    val out = Processors.RemapProcessor(
      """.ts = is_string(.sensor)
        |.ti = is_integer(.value)
        |.tf = is_float(.value)
        |.tmiss = is_string(.nope)
        |.arr = [1, 2]
        |.ta = is_array(.arr)
        |.o = {"k": 1}
        |.tob = is_object(.o)
        |.n1 = is_null(.sensor)
        |.nz1 = is_nullish('  ')
        |.nz2 = is_nullish('-')
        |.nz3 = is_nullish('x')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("ts", "ti", "tf", "tmiss", "ta", "tob",
      "n1", "nz1", "nz2", "nz3").collect().head
    assert(r.getBoolean(0), "sensor is a string column")
    assert(r.getBoolean(1), "value inferred integral")
    assert(!r.getBoolean(2), "integral is not float")
    assert(!r.getBoolean(3), "absent field has no type")
    assert(r.getBoolean(4) && r.getBoolean(5))
    assert(!r.getBoolean(6))
    assert(r.getBoolean(7) && r.getBoolean(8), "whitespace-only and '-' are nullish")
    assert(!r.getBoolean(9))
    // map/array stdlib aliases with direct Spark twins
    val m = Processors.RemapProcessor(
      """.u = unique([3, 1, 3, 2])
        |.s = sort(.u)
        |.c = compact([1, null, 2])
        |.t = bool('true')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    // merge over MAP columns (VRL objects decoded as maps off the wire)
    val m2 = Processors.RemapProcessor(
      """.ab = merge(map('x', 1), map('y', 2))
        |.k = sort(keys(.ab))
        |.v = values(.ab)
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val rm = m2.selectExpr("k", "v", "ab['x']", "ab['y']").collect().head
    assert(rm.getSeq[String](0) == Seq("x", "y"))
    assert(rm.getSeq[Int](1).sorted == Seq(1, 2))
    assert(rm.getInt(2) == 1 && rm.getInt(3) == 2)
    val ra = m.selectExpr("u", "s", "c", "t").collect().head
    assert(ra.getSeq[Int](0).toSet == Set(1, 2, 3))
    assert(ra.getSeq[Int](1) == Seq(1, 2, 3))
    assert(ra.getSeq[Int](2) == Seq(1, 2))
    assert(ra.getBoolean(3))
    // match(value, r'…') is the regexp test
    val mt = Processors.RemapProcessor(
      """.hit = match('dur=250ms', r'dur=\d+ms')
        |.miss = match('hello', r'\d+')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
      .select("hit", "miss").collect().head
    assert(mt.getBoolean(0) && !mt.getBoolean(1))
  }

  test("remap logfmt + compression tranche: parse/encode_logfmt round-trip, " +
      "encode_key_value custom delimiters, gzip/zlib round-trips (vrl stdlib)") {
    val out = Processors.RemapProcessor(
      """.kv = parse_logfmt('level=info msg="hello world" ttl=30')
        |.line = encode_logfmt(.kv)
        |.again = parse_logfmt(.line)
        |.custom = encode_key_value(map('a', '1', 'b', 'x;y'), ':', ';')
        |.gz = decode_gzip(encode_gzip('squeeze me'))
        |.zl = decode_zlib(encode_zlib('deflate me'))
        |.gzlen = length(encode_gzip('squeeze me'))
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.selectExpr("line", "again['level']", "again['msg']",
      "again['ttl']", "custom", "gz", "zl", "gzlen").collect().head
    assert(r.getString(0) == "level=info msg=\"hello world\" ttl=30",
      "sorted keys, space-holding value re-quoted")
    assert(r.getString(1) == "info" && r.getString(2) == "hello world" &&
      r.getString(3) == "30", "parse(encode(parse(x))) is lossless")
    assert(r.getString(4) == "a:1;b:\"x;y\"",
      "custom delimiters; value holding the field delim quotes")
    assert(r.getString(5) == "squeeze me")
    assert(r.getString(6) == "deflate me")
    assert(r.getInt(7) > 0)
  }

  test("remap round-12 tranche: encode_csv (parse_csv inverse), parse_int " +
      "(prefix + radix), to_timestamp/from_unix_timestamp units (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val r = Processors.RemapProcessor(
      """.line = encode_csv(['a', 'b,c', 'say "hi"', 'plain'])
        |.rt = parse_csv(.line)
        |.semi = encode_csv(['x;y', 'z'], ';')
        |.hexv = parse_int('0x1F')
        |.binv = parse_int('0b101')
        |.octv = parse_int('0o17')
        |.decv = parse_int('-42')
        |.based = parse_int('ff', 16)
        |.minv = parse_int('-9223372036854775808')
        |.bad = parse_int('nope') ?? 99
        |.ts = format_timestamp(to_timestamp(1609459200), 'yyyy-MM-dd HH:mm:ss')
        |.tms = format_timestamp(to_timestamp(1609459200500, 'milliseconds'), 'ss')
        |.tns = format_timestamp(from_unix_timestamp(1609459201000000000, 'nanoseconds'), 'ss')
        |.tstr = format_timestamp(to_timestamp('2021-01-01T00:00:03Z'), 'ss')
        |""".stripMargin)(frame)
      .selectExpr("line", "rt[1]", "rt[2]", "semi", "hexv", "binv", "octv",
        "decv", "based", "bad", "ts", "tms", "tns", "tstr", "minv")
      .collect().head
    assert(r.getString(0) == "a,\"b,c\",\"say \"\"hi\"\"\",plain")
    assert(r.getString(1) == "b,c" && r.getString(2) == "say \"hi\"",
      "encode_csv round-trips through parse_csv")
    assert(r.getString(3) == "\"x;y\";z")
    assert(r.getLong(4) == 31L && r.getLong(5) == 5L && r.getLong(6) == 15L)
    assert(r.getLong(7) == -42L && r.getLong(8) == 255L)
    assert(r.getLong(9) == 99L, "unparseable int is fallible, ?? catches it")
    assert(r.getString(10) == "2021-01-01 00:00:00")
    assert(r.getString(11) == "00", "milliseconds truncate to the second")
    assert(r.getString(12) == "01")
    assert(r.getString(13) == "03", "RFC 3339 string parses")
    assert(r.getLong(14) == Long.MinValue,
      "i64::MIN parses (sign must stay attached through the parse)")
    // bad unit / non-literal base fail at build
    val err = intercept[Exception] {
      Processors.RemapProcessor(""".x = to_timestamp(1, 'fortnights')
        |""".stripMargin)(frame).collect()
    }
    assert(err.getMessage.contains("unit must be"), err.getMessage)
  }

  test("remap AWS log family + redact: parse_aws_alb_log, " +
      "parse_aws_vpc_flow_log (default + custom format), " +
      "parse_linux_authorization, redact named + regex filters (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val alb = "http 2018-07-02T22:23:00.186641Z app/my-lb/50dc6c 192.168.131.39:2817 " +
      "10.0.0.1:80 0.000 0.001 0.000 200 200 34 366 " +
      "\"GET http://www.example.com:80/ HTTP/1.1\" \"curl/7.46.0\" - - " +
      "arn:aws:elb:us-east-2:123:targetgroup/my-targets/73e2 " +
      "\"Root=1-58337262-36d228ad\" \"-\" \"-\" 0 2018-07-02T22:22:48.364000Z " +
      "\"forward\" \"-\" \"-\" \"10.0.0.1:80\" \"200\" \"-\" \"-\""
    val vpc = "2 123456789010 eni-1235b8ca 172.31.16.139 172.31.16.21 " +
      "20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK"
    val r = Processors.RemapProcessor(
      s""".a = parse_aws_alb_log('$alb')
        |.f = parse_aws_vpc_flow_log('$vpc')
        |.g = parse_aws_vpc_flow_log('2 123 eni-1 ACCEPT', 'version account_id interface_id action')
        |.auth = parse_linux_authorization('<38>Jan 12 10:30:00 host1 sshd[1234]: Accepted publickey for root')
        |.red = redact('call 555-1234 or ssn 123-45-6789', filters: ['us_social_security_number', r'\\d{3}-\\d{4}'])
        |""".stripMargin)(frame)
      .selectExpr("a.type", "a.client_host", "a.request_processing_time",
        "a.elb_status_code", "a.sent_bytes", "a.request_method",
        "a.request_url", "a.request_protocol", "a.user_agent",
        "a.ssl_cipher", "a.domain_name", "a.matched_rule_priority",
        "a.actions_executed", "a.target_port_list[0]",
        "f.version", "f.srcaddr", "f.dstport", "f.bytes", "f.action",
        "g.version", "g.action",
        "auth.appname", "auth.severity", "red").collect().head
    assert(r.getString(0) == "http" && r.getString(1) == "192.168.131.39:2817")
    assert(r.getDouble(2) == 0.0 && r.getInt(3) == 200 && r.getLong(4) == 366L)
    assert(r.getString(5) == "GET" &&
      r.getString(6) == "http://www.example.com:80/" &&
      r.getString(7) == "HTTP/1.1")
    assert(r.getString(8) == "curl/7.46.0")
    assert(r.isNullAt(9) && r.isNullAt(10), "'-' fields are null")
    assert(r.getInt(11) == 0 && r.getString(12) == "forward")
    assert(r.getString(13) == "10.0.0.1:80")
    assert(r.getLong(14) == 2L && r.getString(15) == "172.31.16.139")
    assert(r.getLong(16) == 22L && r.getLong(17) == 4249L &&
      r.getString(18) == "ACCEPT")
    assert(r.getLong(19) == 2L && r.getString(20) == "ACCEPT",
      "custom format narrows the struct")
    assert(r.getString(21) == "sshd" && r.getString(22) == "info",
      "auth.log lines parse through the 3164 shim")
    assert(r.getString(23) == "call [REDACTED] or ssn [REDACTED]")
    // bad formats fail at build
    val err = intercept[Exception] {
      Processors.RemapProcessor(
        """.x = parse_aws_vpc_flow_log('1 2', .sensor)
          |""".stripMargin)(frame).collect()
    }
    assert(err.getMessage.contains("string literal"), err.getMessage)
  }

  test("remap glog/klog + parse_tokens + sieve (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val r = Processors.RemapProcessor(
      """.g = parse_glog('I0401 12:01:02.123456 12345 server.cc:123] shutting down, code 7')
        |.k = parse_klog('E1225 23:59:59.000001 1 main.go:42] oops')
        |.t = parse_tokens('1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200')
        |.s = sieve('a1-b2_c3!x', r'[a-z0-9]+')
        |.bad = parse_glog('not a glog line')
        |""".stripMargin)(frame)
      .selectExpr("g.level", "g.id", "g.file", "g.line", "g.message",
        "date_format(g.timestamp, 'MM-dd HH:mm:ss.SSSSSS')",
        "k.level", "k.file",
        "t", "s", "bad").collect().head
    assert(r.getString(0) == "info" && r.getInt(1) == 12345)
    assert(r.getString(2) == "server.cc" && r.getInt(3) == 123)
    assert(r.getString(4) == "shutting down, code 7")
    assert(r.getString(5) == "04-01 12:01:02.123456",
      "glog's yearless timestamp keeps month/day/time exactly")
    assert(r.getString(6) == "error" && r.getString(7) == "main.go")
    assert(r.getSeq[String](8) == Seq("1.2.3.4", "-", "-",
      "10/Oct/2000:13:55:36 -0700", "GET /x HTTP/1.0", "200"),
      "quoted and bracketed groups each form one token")
    assert(r.getString(9) == "a1b2c3x", "sieve keeps only permitted runs")
    assert(r.isNullAt(10), "non-glog input yields a null struct")
    // the filled year is the PLAN-EVALUATION year (constant-folded
    // year(current_date()), one value per batch) — the documented
    // contract for glog's yearless timestamps
    val yr = Processors.RemapProcessor(
      """.g = parse_glog('I0401 12:01:02.123456 1 a.cc:1] x')
        |.want = year(now())
        |""".stripMargin)(frame)
      .selectExpr("year(g.timestamp)", "want").collect().head
    assert(yr.getInt(0) == yr.getInt(1),
      "glog fills the plan-evaluation year")
    // a bad sieve pattern fails at build naming the culprit
    val err = intercept[Exception] {
      Processors.RemapProcessor(""".x = sieve('a', '[unclosed')
        |""".stripMargin)(frame).collect()
    }
    assert(err.getMessage.contains("bad permitted pattern"), err.getMessage)
  }

  test("remap bare `.` operand: `. = merge(., obj)` enrichment idiom, " +
      "`x = .` snapshot, metadata/vars excluded from the event value") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
      .withColumn("__meta_source", lit("kafka-topic"))
    // the canonical Vector enrichment: parse, merge into the event, keep
    // the rest of the fields
    val out = Processors.RemapProcessor(
      """snap = .
        |.kv = parse_logfmt('level=info ttl=30')
        |. = merge(., { "region": 'eu', "value": 99 })
        |.old_value = snap.value
        |""".stripMargin)(frame)
    assert(out.columns.contains("sensor") && out.columns.contains("region"),
      "whole-event merge keeps existing fields and appends new ones")
    assert(!out.columns.exists(_.startsWith("__vrl_var_")),
      "the snapshot variable never lands in the output event")
    assert(out.columns.contains("__meta_source"),
      "metadata columns are event-external state and survive the " +
        "whole-event replacement")
    val r = out.selectExpr("sensor", "value", "old_value", "region",
      "kv['level']").collect().head
    assert(r.getString(0) == "temp_1")
    assert(r.getInt(1) == 99, "merge's from operand overwrote value " +
      "(and its literal INT type — a type-changing collision takes the " +
      "from side outright)")
    assert(r.getLong(2) == 10L, "the pre-merge snapshot kept the old value")
    assert(r.getString(3) == "eu")
    assert(r.getString(4) == "info")
    // a decimal literal's dot is NOT a self ref
    val d = Processors.RemapProcessor(""".half = .value * 0.5
      |""".stripMargin)(frame).selectExpr("cast(half AS double)").collect().head
    assert(d.getDouble(0) == 5.0)
    // metadata WRITES: `%name = rhs` lands on __meta_*, readable back
    // through %name, and survives whole-event replacement
    val mw = Processors.RemapProcessor(
      """%route = upcase(.sensor)
        |. = { "only": 1 }
        |.r = %route
        |""".stripMargin)(frame)
    assert(mw.columns.contains("__meta_route"))
    val mr = mw.selectExpr("only", "r", "__meta_route").collect().head
    assert(mr.getInt(0) == 1 && mr.getString(1) == "TEMP_1" &&
      mr.getString(2) == "TEMP_1")
    // an equality COMPARISON statement `%route == x` is NOT a metadata
    // assignment — it must fail with the parser's own message, not
    // misparse into an assignment whose rhs starts with `= `
    val cmp = intercept[IllegalArgumentException](
      Processors.RemapProcessor("""%route == 'x'
        |""".stripMargin)(frame).collect())
    assert(cmp.getMessage.contains("cannot parse"), cmp.getMessage)
  }

  test("remap security/string tranche: parse_cef, case conversions, " +
      "encrypt/decrypt AES, percent + punycode codecs, format_int (vrl stdlib)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val cefLine = "CEF:0|Security|threatmanager|1.0|100|worm stopped|10|" +
      "src=10.0.0.1 dst=2.1.2.2 spt=1232 msg=detected a \\= in it"
    val r = Processors.RemapProcessor(
      s""".c = parse_cef('$cefLine')
        |.vendor = .c.deviceVendor
        |.name = .c.name
        |.sev = .c.severity
        |.src = .c.extensions['src']
        |.msg = .c.extensions['msg']
        |.cc = camelcase('hello_world-fooBar')
        |.pc = pascalcase('hello_world')
        |.sc = snakecase('HelloWorldHTTPServer')
        |.ss = screamingsnakecase('hello world')
        |.kc = kebabcase('HelloWorld')
        |.ct = encode_base16(encrypt('top secret', 'AES-256-CBC-PKCS7', '0123456789abcdef0123456789abcdef', iv: '0000000000000000'))
        |.pt = decrypt(decode_base16(.ct), 'AES-256-CBC-PKCS7', '0123456789abcdef0123456789abcdef', iv: '0000000000000000')
        |.badkey = encode_base16(encrypt('x', 'AES-256-CBC-PKCS7', 'short', iv: '0000000000000000')) ?? 'keyerr'
        |.ep = encode_percent('a b/c')
        |.dp = decode_percent('a%20b%2Fc%zz')
        |.pu = encode_punycode('www.café.com')
        |.du = decode_punycode('www.xn--caf-dma.com')
        |.fi = format_int(255, 16)
        |.fb = format_int(5, 2)
        |.rt = parse_int(format_int(12345, 36), 36)
        |.ofb = decrypt(encrypt('ofb secret', 'AES-128-OFB', '0123456789abcdef', iv: 'fedcba9876543210'), 'AES-128-OFB', '0123456789abcdef', iv: 'fedcba9876543210')
        |.cha = decrypt(encrypt('aead secret', 'ChaCha20-Poly1305', '0123456789abcdef0123456789abcdef', iv: '000011112222'), 'CHACHA20-POLY1305', '0123456789abcdef0123456789abcdef', iv: '000011112222')
        |.chaiv = to_string(encrypt('x', 'CHACHA20-POLY1305', '0123456789abcdef0123456789abcdef', iv: '0000000000000000')) ?? 'iverr'
        |""".stripMargin)(frame)
      .selectExpr("vendor", "name", "sev", "src", "msg", "cc", "pc", "sc",
        "ss", "kc", "pt", "badkey", "ep", "dp", "pu", "du", "fi", "fb", "rt",
        "ofb", "cha", "chaiv")
      .collect().head
    assert(r.getString(0) == "Security" && r.getString(1) == "worm stopped" &&
      r.getString(2) == "10")
    assert(r.getString(3) == "10.0.0.1")
    assert(r.getString(4) == "detected a = in it",
      "extension values unescape and hold spaces")
    assert(r.getString(5) == "helloWorldFooBar")
    assert(r.getString(6) == "HelloWorld")
    assert(r.getString(7) == "hello_world_http_server",
      "acronym boundary splits HTTPServer -> http_server")
    assert(r.getString(8) == "HELLO_WORLD")
    assert(r.getString(9) == "hello-world")
    assert(r.getString(10) == "top secret", "AES round-trips")
    assert(r.getString(11) == "keyerr", "bad key length is ??-catchable")
    assert(r.getString(12) == "a%20b%2Fc")
    assert(r.getString(13) == "a b/c%zz", "invalid escape stays raw")
    assert(r.getString(14) == "www.xn--caf-dma.com")
    assert(r.getString(15) == "www.café.com")
    assert(r.getString(16) == "ff" && r.getString(17) == "101")
    assert(r.getLong(18) == 12345L, "format_int/parse_int round-trip in base 36")
    assert(r.getString(19) == "ofb secret", "AES-OFB round-trips")
    assert(r.getString(20) == "aead secret",
      "ChaCha20-Poly1305 round-trips (tag appended like the Rust AEAD " +
        "layout); algorithm spelling is case-insensitive")
    assert(r.getString(21) == "iverr",
      "the AEAD's 12-byte nonce requirement is ??-catchable")
  }

  test("remap merge: from-wins map collision, struct field union, deep " +
      "recursion, mixed map/struct, non-object rejected at build (vrl merge)") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    // MAP collision: map_concat would THROW under the default
    // mapKeyDedupPolicy=EXCEPTION; VRL's `from` operand wins
    val mc = Processors.RemapProcessor(
      """.m = merge(map('a', 1, 'b', 2), map('b', 9, 'c', 3))
        |""".stripMargin)(frame)
      .selectExpr("m['a']", "m['b']", "m['c']", "map_keys(m)").collect().head
    assert(mc.getInt(0) == 1 && mc.getInt(1) == 9 && mc.getInt(2) == 3)
    assert(mc.getSeq[String](3) == Seq("a", "b", "c"),
      "left key order kept, new right keys appended")
    // STRUCT field union: left order + appended right-only fields,
    // right value on collision
    val sc = Processors.RemapProcessor(
      """.s = merge({ "host": 'web1', "level": 'info' }, { "level": 'error', "code": 500 })
        |""".stripMargin)(frame)
    assert(sc.select("s.*").columns.toSeq == Seq("host", "level", "code"))
    val sr = sc.selectExpr("s.host", "s.level", "s.code").collect().head
    assert(sr.getString(0) == "web1" && sr.getString(1) == "error" &&
      sr.getInt(2) == 500)
    // DEEP: shared struct-typed field recurses; shallow replaces it
    val dp = Processors.RemapProcessor(
      """.deep = merge({ "tags": { "a": 1, "b": 2 } }, { "tags": { "b": 9, "c": 3 } }, deep: true)
        |.shallow = merge({ "tags": { "a": 1, "b": 2 } }, { "tags": { "b": 9, "c": 3 } })
        |""".stripMargin)(frame)
      .selectExpr("deep.tags.a", "deep.tags.b", "deep.tags.c",
        "shallow.tags.*").collect().head
    assert(dp.getInt(0) == 1 && dp.getInt(1) == 9 && dp.getInt(2) == 3,
      "deep merge unions the nested fields, from wins")
    assert(dp.schema.fieldNames.takeRight(2).toSeq == Seq("b", "c") &&
      dp.getInt(3) == 9 && dp.getInt(4) == 3,
      "shallow merge replaces the shared struct field outright")
    // MIXED: struct side converts to the map's type (from-wins both ways)
    val mx = Processors.RemapProcessor(
      """.ms = merge(map('a', '1', 'b', '2'), { "b": 'x' })
        |.sm = merge({ "b": 'x' }, map('a', '1', 'b', '2'))
        |""".stripMargin)(frame)
      .selectExpr("ms['a']", "ms['b']", "sm['a']", "sm['b']").collect().head
    assert(mx.getString(0) == "1" && mx.getString(1) == "x")
    assert(mx.getString(2) == "1" && mx.getString(3) == "2")
    // non-object operands fail loudly at build
    val err = intercept[Exception] {
      Processors.RemapProcessor(""".x = merge('a', 'b')
        |""".stripMargin)(frame).collect()
    }
    assert(err.getMessage.contains("merge"), err.getMessage)
    // deep recursion into struct/struct shared fields; NON-deep
    // map-of-map stays whole-value replace (VRL's non-deep behavior)
    val nested = Processors.RemapProcessor(
      """.nm = merge({ "tags": { "a": 1, "b": 2 } }, { "tags": { "b": 9 } }, deep: true)
        |.mx = merge(map('k', map('a', '1')), map('k', map('a', '2', 'c', '3')))
        |""".stripMargin)(frame)
      .selectExpr("nm.tags.a", "nm.tags.b",
        "mx['k']['a']", "mx['k']['c']").collect().head
    assert(nested.getInt(0) == 1 && nested.getInt(1) == 9)
    // documented divergence (VrlMerge.scala header): a NULL from operand
    // no-ops — keeps `to` — where Vector's fallible merge! would error.
    // The engine's columnar nulls model "absent", so `merge!(., parsed)`
    // after a failed parse keeps the event instead of failing the batch.
    val nullFrom = Processors.RemapProcessor(
      """.kept = merge({ "a": 1, "file": 'keep' }, parse_glog('not a glog line'))
        |""".stripMargin)(frame)
      .selectExpr("kept.a", "kept.file", "kept.message").collect().head
    assert(nullFrom.getInt(0) == 1, "null from keeps the to operand")
    assert(nullFrom.getString(1) == "keep",
      "a shared field keeps the LEFT value when the from object is null")
    assert(nullFrom.isNullAt(2), "the absent from side contributes nulls")
    assert(nested.getString(2) == "2" && nested.getString(3) == "3",
      "map-of-map collision replaces the whole inner value (shallow map " +
        "merge, VRL's non-deep behavior)")
    // DEEP map-of-map: the kernel recurses into colliding inner maps —
    // from wins per inner key, left-only inner keys survive
    val dm = Processors.RemapProcessor(
      """.dm = merge(map('k', map('a', '1', 'b', '2')), map('k', map('b', '9', 'c', '3')), deep: true)
        |""".stripMargin)(frame)
      .selectExpr("dm['k']['a']", "dm['k']['b']", "dm['k']['c']").collect().head
    assert(dm.getString(0) == "1" && dm.getString(1) == "9" &&
      dm.getString(2) == "3",
      "deep map-of-map merge must recurse into the colliding inner map")
    // deep recursion reaching a genuinely MIXED shared field (map on the
    // left, struct object-literal on the right): the struct side converts
    // to the map's type and map-merges — from wins on 'b', left-only 'a'
    // survives
    val mixDeep = Processors.RemapProcessor(
      """.md = merge({ "tags": map('a', '1', 'b', '2') }, { "tags": { "b": "9" } }, deep: true)
        |""".stripMargin)(frame)
      .selectExpr("md.tags['a']", "md.tags['b']").collect().head
    assert(mixDeep.getString(0) == "1" && mixDeep.getString(1) == "9",
      "deep merge over a mixed map/struct inner field must convert and " +
        "map-merge, not replace")
  }

  test("remap build-time config validation: bad parse_csv delimiter fails " +
      "analysis naming the culprit, never a running batch") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val err = intercept[Exception] {
      Processors.RemapProcessor(""".f = parse_csv('a;;b', ';;')
        |""".stripMargin)(frame).collect()
    }
    assert(err.getMessage.contains("delimiter must be one character"),
      err.getMessage)
    val err2 = intercept[Exception] {
      Processors.RemapProcessor(""".f = parse_csv('a,b', .sensor)
        |""".stripMargin)(frame).collect()
    }
    assert(err2.getMessage.contains("string literal"), err2.getMessage)
  }

  test("remap ??: parenthesized coalesce and call-argument coalesce " +
      "rewrite at their own level") {
    val frame = Processors.JsonToArrow()(envelope(sensorJson.head))
    val r = Processors.RemapProcessor(
      """.a = (to_int('nope') ?? 7)
        |.b = abs((to_int('nope') ?? 0) - 3)
        |.c = concat(to_string(to_int('x') ?? 1), '-', to_string(2))
        |.d = [to_int('nope') ?? 4, 1]
        |.e = compact([to_int('x') ?? 0, 9])
        |""".stripMargin)(frame)
      .selectExpr("a", "b", "c", "d[0]", "d[1]", "e[0]", "e[1]").collect().head
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == 3L)
    assert(r.getString(2) == "1-2")
    // `??` inside an array-literal ELEMENT rewrites at the element's own
    // level: the bracket-internal comma is an element separator, never a
    // split point for the coalesce (it used to emit unbalanced SQL)
    assert(r.getLong(3) == 4L && r.getLong(4) == 1L)
    assert(r.getLong(5) == 0L && r.getLong(6) == 9L)
  }

  test("remap `. = expr` replaces the event: an object becomes the event, an " +
      "array of objects FANS OUT rows, [] drops the event (vrl Multiple)") {
    val df = Processors.JsonToArrow()(envelope(sensorJson.head)) // value=10
    val fan = Processors.RemapProcessor(
      """.n2 = .value * 2
        |. = [{"v": .n2}, {"v": .n2 + 1}]
        |""".stripMargin)(df)
    assert(fan.columns.toSeq == Seq("v"), "the array's object IS the new event")
    assert(fan.select("v").collect().map(_.getLong(0)).toSet == Set(20L, 21L),
      "one event per array element")
    val one = Processors.RemapProcessor(". = {\"a\": upcase(.sensor)}")(df)
    assert(one.columns.toSeq == Seq("a") &&
      one.select("a").collect().head.getString(0) == "TEMP_1")
    // [] result drops the event — filter-by-fan-out
    val none = Processors.RemapProcessor(
      """. = filter([{"a": 1}]) -> |v| { v.a > 5 }""")(df)
    assert(none.count() == 0)
    // non-object results are a loud error
    val e = intercept[IllegalArgumentException](
      Processors.RemapProcessor(". = 42")(df).count())
    assert(e.getMessage.contains("object"))
  }

  test("vrl `timezone:` config matches the session zone or fails loudly " +
      "naming the session conf (docs/components/2-processors/vrl.md)") {
    val df = Processors.JsonToArrow()(envelope(sensorJson.head))
    // UTC session (SparkTestSession): matching zone passes through
    assert(Processors.RemapProcessor(".a = .value", Some("UTC"))(df).count() == 1)
    val e = intercept[IllegalArgumentException](
      Processors.RemapProcessor(".a = .value", Some("Asia/Shanghai"))(df).count())
    assert(e.getMessage.contains("spark.sql.session.timeZone"))
    // config-reachable
    val built = Processors.fromConf(Seq(ComponentConf("vrl",
      Map("statement" -> ".a = .value", "timezone" -> "UTC")))).head
    assert(built(df).count() == 1)
  }

  test("remap nested field paths (.a.b = rhs, del(.a.b), absent-root creation) " +
      "and %metadata refs map onto __meta_ columns (vrl path semantics)") {
    val out = Processors.RemapProcessor(
      """.obj = {"a": 1, "b": {"c": 2, "d": 3}}
        |.obj.b.c = 20
        |.obj.e = .value + 1
        |del(.obj.b.d)
        |.fresh.x.y = 7
        |.src = %source
        |""".stripMargin)(
      Processors.JsonToArrow()(envelope(sensorJson.head))
        .withColumn("__meta_source", org.apache.spark.sql.functions.lit("kafka_a")))
    val r = out.selectExpr("obj.a", "obj.b.c", "obj.e", "fresh.x.y", "src")
      .collect().head
    assert(r.getInt(0) == 1, "sibling fields untouched")
    assert(r.getInt(1) == 20, "nested path assignment replaces in place")
    assert(r.getLong(2) == 11L, "path assignment ADDS a new struct field")
    assert(r.getInt(3) == 7, "absent root: parents created like VRL")
    assert(r.getString(4) == "kafka_a", "%source reads __meta_source")
    assert(out.select("obj.b").schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      == Seq("c"), "del(.obj.b.d) drops only that nested field")
    // `%` with spaces stays modulo
    val mod = Processors.RemapProcessor(".m = .value % 3")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
    assert(mod.select("m").collect().head.getLong(0) == 1L)
  }

  test("remap statement-form if branches CHAIN sequentially like VRL: a later " +
      "rhs sees the branch's earlier assignment; first self-ref reads pre-if") {
    val out = Processors.RemapProcessor(
      """if .value > 5 {
        |  .a = .value + 1
        |  .b = .a * 10
        |  .a = .a + 100
        |} else {
        |  .b = 0
        |}
        |.c = .a
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("a", "b", "c").collect().head
    // value=10: a = (10+1)=11, b = 11*10=110, a = 11+100=111
    assert(r.getLong(0) == 111L, "second assignment chains on the first")
    assert(r.getLong(1) == 110L, "b sees a's FIRST value (sequential, not final)")
    assert(r.getLong(2) == 111L, "statements after the if see the branch result")
    // a literal containing a backticked name is NOT a reference
    val lit = Processors.RemapProcessor(
      """if .value > 5 { .a = .value; .t = concat('`a`', '!') }""")(
      Processors.JsonToArrow()(envelope(sensorJson.head)))
      .select("t").collect().head
    assert(lit.getString(0) == "`a`!")
  }

  test("remap parse_url and parse_regex: parts struct, named captures from a " +
      "raw r'…' regex literal with backslashes intact (processor/vrl.rs stdlib)") {
    val out = Processors.RemapProcessor(
      """.u = parse_url('https://u:pw@example.com:8443/a/b?x=1&y=2#frag')
        |.scheme = .u.scheme
        |.host = .u.host
        |.port = .u.port
        |.who = .u.username
        |.x = .u.query['x']
        |.frag = .u.fragment
        |.m = parse_regex('dur=250ms code=500', r'dur=(?P<ms>\d+)ms code=(?P<code>\d+)')
        |.ms = to_int(.m.ms)
        |.code = .m.code
        |.nomatch = parse_regex('hello', r'dur=(?P<ms>\d+)')
        |.noport = parse_url('https://example.com/a?x=1')
        |""".stripMargin)(Processors.JsonToArrow()(envelope(sensorJson.head)))
    val r = out.select("scheme", "host", "port", "who", "x", "frag",
      "ms", "code", "nomatch", "noport.port", "noport.host").collect().head
    // the COMMON portless case must degrade to null under default ANSI
    // (a plain '' -> int cast throws CAST_INVALID_INPUT)
    assert(r.isNullAt(9), "no explicit port -> port is null, not an ANSI throw")
    assert(r.getString(10) == "example.com")
    assert(r.getString(0) == "https")
    assert(r.getString(1) == "example.com")
    assert(r.getInt(2) == 8443)
    assert(r.getString(3) == "u")
    assert(r.getString(4) == "1")
    assert(r.getString(5) == "frag")
    assert(r.getLong(6) == 250L, "raw-string \\d survived the SQL literal re-parse")
    assert(r.getString(7) == "500")
    assert(r.isNullAt(8), "non-matching parse_regex yields a null struct")
    // a pattern with no NAMED groups is a build-time error
    val e = intercept[Exception](Processors.RemapProcessor(
      ".m = parse_regex(.sensor, r'(x+)')")(
      Processors.JsonToArrow()(envelope(sensorJson.head))))
    assert(e.getMessage.contains("named capture") ||
      Option(e.getCause).exists(_.getMessage.contains("named capture")))
  }

  test("yaml config parses the quick-start stream shape (README.md:60-96)") {
    val conf = Config.fromYaml(
      """streams:
        |  - input:
        |      type: generate
        |      context: '{ "timestamp": 1625000000000, "value": 10, "sensor": "temp_1" }'
        |      rows_per_second: "5"
        |    pipeline:
        |      processors:
        |        - type: json_to_arrow
        |        - type: sql
        |          query: "SELECT sensor, count(*) FROM flow GROUP BY sensor"
        |    output:
        |      type: stdout
        |    error_output:
        |      type: drop
        |""".stripMargin)
    assert(conf.streams.size == 1)
    val s = conf.streams.head
    assert(s.input.kind == "generate")
    assert(s.processors.map(_.kind) == Seq("json_to_arrow", "sql"))
    assert(s.output.kind == "stdout")
    assert(s.errorOutput.map(_.kind).contains("drop"))
    assert(conf.http.isEmpty, "no http section -> no control plane")
  }

  test("yaml config wires the embedded control plane like the reference server") {
    val conf = Config.fromYaml(
      """http:
        |  port: 0
        |  bearer_token: tok123
        |streams:
        |  - input:
        |      type: generate
        |      count: "1"
        |    pipeline:
        |      processors: []
        |    output:
        |      type: drop
        |""".stripMargin)
    assert(conf.http.contains(HttpConf(0, Some("tok123"))))
    val cp = new ControlPlane(spark, conf.http.get.port, conf.http.get.bearerToken)
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${cp.boundPort}/system").toURL
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestProperty("Authorization", "Bearer tok123")
      assert(c.getResponseCode == 200)
      // data routes stay token-gated; the console PAGE (no data in it)
      // serves unauthenticated so the operator can enter the token
      val denied = java.net.URI.create(s"http://127.0.0.1:${cp.boundPort}/system")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(denied.getResponseCode == 401)
      val page = java.net.URI.create(s"http://127.0.0.1:${cp.boundPort}/")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(page.getResponseCode == 200)
      assert(page.getContentType.startsWith("text/html"))
      val html = new String(page.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(html.contains("graft console") && html.contains("/config/rollback/"),
        "the embedded console page must ride the same API")
    } finally cp.stop()
  }

  test("control plane lifecycle: stop -> start flows data again; restart; validate") {
    def call(url: String, method: String = "GET",
        body: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod(method)
        body.foreach { b =>
          c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    def waitUntil(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        assert(System.currentTimeMillis() < deadline, s"timed out waiting: $what")
        Thread.sleep(100)
      }
    }
    val dir = tempDir("cp_lifecycle").toString
    val yaml =
      s"""streams:
         |  - id: gen-live
         |    input:
         |      type: generate
         |      rows_per_second: "100"
         |      context: '{"k": 1}'
         |    pipeline:
         |      processors: []
         |    output:
         |      type: parquet
         |      path: $dir/out
         |""".stripMargin
    val conf = Config.fromYaml(yaml)
    val registry = Config.streamIds(conf).zip(conf.streams)
    assert(registry.map(_._1) == Seq("gen-live"))
    val queries = Engine.run(spark, conf)
    val cp = new ControlPlane(spark, 0, None, registry)
    val base = s"http://127.0.0.1:${cp.boundPort}"
    def sinkRows(): Long =
      try spark.read.parquet(s"$dir/out").count()
      catch { case scala.util.control.NonFatal(_) => 0L } // dir not written yet
    try {
      // the configured stream runs under its id as the query name
      waitUntil("initial stream writes")(sinkRows() > 0)
      // start while active -> conflict, not a second query
      assert(call(s"$base/streams/gen-live/start", "POST")._1 == 409)
      // stop over HTTP: the query leaves streams.active
      assert(call(s"$base/streams/gen-live/stop", "POST")._1 == 200)
      waitUntil("stream stops")(spark.streams.active.forall(q =>
        !Option(q.name).contains("gen-live")))
      // a restarted query (no checkpoint) re-numbers batches from 0 and
      // the parquet sink dynamic-overwrites per batch_id partition — so
      // "data flows again" is proven by clearing the sink while the
      // stream is STOPPED (safe: no writer) and seeing fresh rows appear
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/out"))
      assert(sinkRows() == 0)
      // start over HTTP: config re-resolves, fresh query, data flows again
      val (startCode, startBody) = call(s"$base/streams/gen-live/start", "POST")
      assert(startCode == 202 && startBody.contains("\"started\":true"))
      waitUntil("restarted stream writes")(sinkRows() > 0)
      val runBefore = spark.streams.active
        .find(q => Option(q.name).contains("gen-live")).get.runId
      // restart while running: stop + fresh start under the same id —
      // proven by a NEW runId that makes progress
      val (rsCode, rsBody) = call(s"$base/streams/gen-live/restart", "POST")
      assert(rsCode == 202 && rsBody.contains("\"started\":true"))
      waitUntil("restarted (via /restart) query progresses") {
        spark.streams.active.find(q => Option(q.name).contains("gen-live"))
          .exists(q => q.runId != runBefore && q.recentProgress.nonEmpty)
      }
      // unknown ids 404 on both lifecycle routes
      assert(call(s"$base/streams/nope/start", "POST")._1 == 404)
      assert(call(s"$base/streams/nope/restart", "POST")._1 == 404)
      // config validation: good YAML echoes the resolved stream ids...
      val (vc, vb) = call(s"$base/configuration/validate", "POST", Some(yaml))
      assert(vc == 200 && vb.contains("\"valid\":true") && vb.contains("gen-live"))
      // ...bad YAML (no streams list) and duplicate ids are 400s with the error
      assert(call(s"$base/configuration/validate", "POST",
        Some("not_streams: []"))._1 == 400)
      val dup = yaml + yaml.linesIterator.drop(1).mkString("\n", "\n", "\n")
        .replace(s"$dir/out", s"$dir/out2")
      val (dc, db) = call(s"$base/config/validate", "POST", Some(dup))
      assert(dc == 400 && db.contains("duplicate stream id"))
    } finally {
      spark.streams.active.filter(q => Option(q.name).contains("gen-live"))
        .foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      queries.foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      cp.stop()
    }
  }

  test("control plane config management: apply swaps + restarts, versions " +
      "list content-addressed ids, rollback restores old behavior, diff") {
    def call(url: String, method: String = "GET",
        body: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod(method)
        body.foreach { b =>
          c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    def waitUntil(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        assert(System.currentTimeMillis() < deadline, s"timed out waiting: $what")
        Thread.sleep(100)
      }
    }
    val dir = tempDir("cp_config").toString
    def yamlTo(out: String) =
      s"""streams:
         |  - id: gen-cfg
         |    input:
         |      type: generate
         |      rows_per_second: "100"
         |      context: '{"k": 1}'
         |    pipeline:
         |      processors: []
         |    output:
         |      type: parquet
         |      path: $dir/$out
         |""".stripMargin
    def rows(out: String): Long =
      try spark.read.parquet(s"$dir/$out").count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    // no version store configured -> the routes answer 503, not 404
    val bare = new ControlPlane(spark, 0, None, Nil)
    try assert(call(s"http://127.0.0.1:${bare.boundPort}/config/versions")._1 == 503)
    finally bare.stop()
    val cp = new ControlPlane(spark, 0, None, Nil, Some(s"$dir/versions"))
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      // v1 applies into an EMPTY registry: persisted + registry swapped,
      // nothing active yet so nothing restarts
      val (a1, b1) = call(s"$base/config/apply", "POST", Some(yamlTo("out1")))
      assert(a1 == 202 && b1.contains("\"applied\":true"), b1)
      val v1 = "\"version\":\"(cfg-[0-9a-f]+)\"".r
        .findFirstMatchIn(b1).map(_.group(1)).get
      assert(b1.contains("\"restarted\":[]"))
      // the applied config backs the lifecycle routes
      assert(call(s"$base/streams/gen-cfg/start", "POST")._1 == 202)
      waitUntil("v1 stream writes out1")(rows("out1") > 0)
      // v2 (same stream, different sink path) restarts the ACTIVE stream
      // under the new config — the operator-facing apply semantics
      val (a2, b2) = call(s"$base/config/apply", "POST", Some(yamlTo("out2")))
      assert(a2 == 202 && b2.contains("\"restarted\":[\"gen-cfg\"]"), b2)
      val v2 = "\"version\":\"(cfg-[0-9a-f]+)\"".r
        .findFirstMatchIn(b2).map(_.group(1)).get
      assert(v1 != v2, "distinct content must get distinct version ids")
      waitUntil("v2 stream writes out2")(rows("out2") > 0)
      // versions list: both content-addressed ids, v2 active
      val (vc, vb) = call(s"$base/config/versions")
      assert(vc == 200 && vb.contains(v1) && vb.contains(v2), vb)
      assert(vb.contains(s""""id":"$v2","""), vb)
      assert("\"id\":\"%s\"[^}]*\"active\":true".format(v2).r
        .findFirstIn(vb).isDefined, s"v2 must be active: $vb")
      // rollback to v1: old behavior (writing out1) returns. out1 is
      // cleared first — v2 writes elsewhere, so the delete is safe —
      // proving the rows are FRESH v1 writes, not leftovers
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/out1"))
      assert(rows("out1") == 0)
      val (rc, rb) = call(s"$base/config/rollback/$v1", "POST")
      assert(rc == 202 && rb.contains("\"restarted\":[\"gen-cfg\"]"), rb)
      waitUntil("rolled-back stream writes out1 again")(rows("out1") > 0)
      assert("\"id\":\"%s\"[^}]*\"active\":true".format(v1).r
        .findFirstIn(call(s"$base/config/versions")._2).isDefined,
        "v1 must be active after rollback")
      // re-applying identical content reuses the content-addressed id
      val (a3, b3) = call(s"$base/config/apply", "POST", Some(yamlTo("out1")))
      assert(a3 == 202 && b3.contains(s""""version":"$v1""""), b3)
      // diff: changed across versions, unchanged against itself, 404 on
      // a missing id — same for rollback of an unknown id; bad YAML 422
      val (d1, db1) = call(s"$base/configuration/diff?from=$v1&to=$v2")
      assert(d1 == 200 && db1.contains("\"changed\":true"), db1)
      val (d2, db2) = call(s"$base/configuration/diff?from=$v1&to=$v1")
      assert(d2 == 200 && db2.contains("\"changed\":false"), db2)
      assert(call(s"$base/configuration/diff?from=$v1&to=cfg-000000000000")._1 == 404)
      assert(call(s"$base/config/rollback/cfg-000000000000", "POST")._1 == 404)
      assert(call(s"$base/config/apply", "POST", Some("not_streams: []"))._1 == 422)
    } finally {
      spark.streams.active.filter(q => Option(q.name).contains("gen-cfg"))
        .foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      cp.stop()
    }
  }

  test("config version store: 16-hex content ids; save verifies stored " +
      "bytes on id reuse so a collision fails loudly") {
    val dir = tempDir("cfgstore").toString
    val store = new ConfigVersionStore(dir, spark.sparkContext.hadoopConfiguration)
    val id = store.save("streams: []\n")
    assert(id.matches("cfg-[0-9a-f]{16}"), s"64-bit digest prefix: $id")
    assert(store.save("streams: []\n") == id, "identical content reuses the id")
    // forge a collision: the stored file holds DIFFERENT bytes under the
    // same id — re-saving must refuse instead of silently aliasing
    // (tamper THROUGH the hadoop fs so its .crc sidecar stays coherent)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"$id.yaml"), true)
    out.write("tampered: true\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val e = intercept[IllegalArgumentException](store.save("streams: []\n"))
    assert(e.getMessage.contains("collision"), e.getMessage)
    // format migration (round-15 ADVICE): content already stored under a
    // pre-round-15 12-hex id keeps that id on re-save — the
    // content-addressed reuse property holds ACROSS the id widening,
    // not just within one format. The legacy probe is GATED on the store
    // actually containing 12-hex files, checked once at first save
    // (round-16 ADVICE: on remote stores the probe is two fs round-trips
    // per /config/apply, and stores born after the migration would pay
    // them forever) — a legacy STORE is one holding legacy files when
    // the server (re)starts; model the restart with a fresh store
    // instance over the same dir.
    val legacyContent = "streams: [] # legacy\n"
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(legacyContent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val legacyId = "cfg-" + d.take(6).map(b => f"$b%02x").mkString
    val lout = fs.create(new org.apache.hadoop.fs.Path(dir, s"$legacyId.yaml"), true)
    lout.write(legacyContent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    lout.close()
    val migrated = new ConfigVersionStore(dir, spark.sparkContext.hadoopConfiguration)
    assert(migrated.save(legacyContent) == legacyId,
      "identical content saved under the legacy 12-hex format must reuse its id")
    assert(migrated.save(legacyContent) == legacyId) // and stay stable
    // the ORIGINAL handle first saved into an empty dir, so its legacy
    // probe is gated OFF for good: the same content lands under the NEW
    // format (no per-save legacy round-trips for post-migration stores)
    val fresh = store.save(legacyContent)
    assert(fresh.matches("cfg-[0-9a-f]{16}"),
      s"post-migration store must not honor the legacy namespace: $fresh")
  }

  test("ops surface e2e: /metrics scrapes named stream counters + cap drops, " +
      "health/readiness/liveness probe unauthenticated, GET /configuration " +
      "returns the active YAML, /components + /schema enumerate registries, " +
      "/operations + /events record the lifecycle") {
    def call(url: String, method: String = "GET", body: Option[String] = None,
        token: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod(method)
        token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
        body.foreach { b =>
          c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    def waitUntil(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        assert(System.currentTimeMillis() < deadline, s"timed out waiting: $what")
        Thread.sleep(100)
      }
    }
    val dir = tempDir("cp_ops").toString
    val yaml =
      s"""streams:
         |  - id: gen-ops
         |    input:
         |      type: generate
         |      rows_per_second: "200"
         |      context: '{"k": 1}'
         |    pipeline:
         |      processors: []
         |    output:
         |      type: parquet
         |      path: $dir/out
         |""".stripMargin
    val tok = Some("ops-tok")
    val cp = new ControlPlane(spark, 0, tok, Nil, Some(s"$dir/versions"))
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      // --- health trio + registry routes answer WITHOUT a token (k8s
      // probes and Prometheus scrapers carry none) while data routes 401
      assert(call(s"$base/streams")._1 == 401)
      val (hc, hb) = call(s"$base/health")
      assert(hc == 200 && hb.contains("\"running\":true"), hb)
      val (rc, rb) = call(s"$base/readiness")
      assert(rc == 200 && rb.contains("\"ready\":true"), rb)
      val (lc, lb) = call(s"$base/liveness")
      assert(lc == 200 && lb.contains("\"alive\":true"), lb)
      // --- components: live registry enumeration, singles, 404s
      val (coc, cob) = call(s"$base/components")
      assert(coc == 200, cob)
      for (probe <- Seq("""{"kind":"input","name":"kafka"}""",
          """{"kind":"processor","name":"vrl"}""",
          """{"kind":"output","name":"stdout"}""",
          """{"kind":"buffer","name":"memory"}""",
          """{"kind":"codec","name":"schema_registry"}"""))
        assert(cob.contains(probe), s"missing $probe in $cob")
      assert(call(s"$base/components/processor/sql")._1 == 200)
      assert(call(s"$base/components/processor/nope")._1 == 404)
      assert(call(s"$base/components/gizmo/sql")._1 == 404)
      // --- schema: component type enums come from the same registries
      val (sc2, sb2) = call(s"$base/schema")
      assert(sc2 == 200 && sb2.contains("\"generate\"") &&
        sb2.contains("\"required\":[\"streams\"]"), sb2)
      // --- configuration: 404 before any apply, the active YAML after
      assert(call(s"$base/configuration", token = tok)._1 == 404)
      // --- draft scratchpad: 204 before any save, echoed after PUT
      assert(call(s"$base/configuration/draft", token = tok)._1 == 204)
      assert(call(s"$base/configuration/draft", "PUT",
        Some("streams: [] # wip"), tok)._1 == 200)
      val (dgc, dgb) = call(s"$base/configuration/draft", token = tok)
      assert(dgc == 200 && dgb.contains("wip"), dgb)
      val (ac, ab) = call(s"$base/config/apply", "POST", Some(yaml), tok)
      assert(ac == 202, ab)
      val vId = "\"version\":\"(cfg-[0-9a-f]+)\"".r
        .findFirstMatchIn(ab).map(_.group(1)).get
      val (cc, cb) = call(s"$base/configuration", token = tok)
      assert(cc == 200 && cb.contains(vId) && cb.contains("gen-ops"), cb)
      // --- start the stream; summaries carry the registered pipeline
      assert(call(s"$base/streams/gen-ops/start", "POST", token = tok)._1 == 202)
      waitUntil("gen-ops progresses") {
        spark.streams.active.find(q => Option(q.name).contains("gen-ops"))
          .exists(_.recentProgress.nonEmpty)
      }
      val (stc, stb) = call(s"$base/streams", token = tok)
      assert(stc == 200 &&
        stb.contains("\"pipeline\":\"generate -> parquet\""), stb)
      // --- /metrics: the named stream's counters appear once progress
      // lands on the listener bus; start counts and cap drops ride along
      waitUntil("metrics expose gen-ops counters") {
        val m = call(s"$base/metrics")._2
        m.contains("graft_stream_input_rows_total{stream_id=\"gen-ops\"}") &&
          m.contains("graft_stream_batch_duration_ms{stream_id=\"gen-ops\"}")
      }
      val m = call(s"$base/metrics")._2
      assert(m.contains("graft_streams_active"), m.take(400))
      assert(m.contains("graft_stream_starts_total{stream_id=\"gen-ops\"} 1"),
        m.take(400))
      // --- BOTH drop-counter families expose through the scrape: tick
      // the accumulator-based ppjoin prefix cap and the observe-based
      // minhash bucket cap on a tiny flood corpus, then read them back
      locally {
        import spark.implicits._
        val flood = (1 to 40).map(i =>
          (i.toLong, "one shared template sentence repeated across docs"))
          .toDF("doc_id", "text")
        graft.operators.Dedup.prefixFilterJaccard(flood, "doc_id", "text",
          0.5, prefixCap = 8).count()
        graft.operators.Dedup.minhashPairs(flood, "doc_id", "text",
          bucketCap = 8).count()
      }
      waitUntil("cap drop counters reach /metrics") {
        val mm = call(s"$base/metrics")._2
        mm.contains("graft_cap_dropped_rows_total{label=\"ppjoin_prefix\"}") &&
          mm.contains("graft_bucket_cap_last_dropped{label=\"minhash\"}")
      }
      // exposition FORMAT (round 16): families are GROUPED — all samples
      // of a metric contiguous under one HELP/TYPE header (the format's
      // single-group rule; a naive per-stream loop interleaves names)
      locally {
        val mlines = call(s"$base/metrics")._2.linesIterator.toSeq
        val fams = mlines.filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(_.takeWhile(c => c != '{' && c != ' '))
        val grouped = fams.foldLeft(
          (Set.empty[String], Option.empty[String], true)) {
          case ((seen, prev, ok), f) =>
            if (prev.contains(f)) (seen, prev, ok)
            else (seen + f, Some(f), ok && !seen.contains(f))
        }._3
        assert(grouped, s"metric families must be contiguous: $fams")
        // ...and the TYPE header must PRECEDE the family's first sample
        // (existence alone would pass on a misplaced header)
        fams.distinct.foreach { f =>
          val typeIdx = mlines.indexWhere(_.startsWith(s"# TYPE $f "))
          val firstSample = mlines.indexWhere(l =>
            !l.startsWith("#") && (l.startsWith(s"$f{") || l.startsWith(s"$f ")))
          assert(typeIdx >= 0 && typeIdx < firstSample,
            s"family $f: TYPE at $typeIdx must precede first sample at $firstSample")
        }
      }
      // --- operations: apply + start recorded terminal, filterable;
      // DELETE (the reference's cancel) returns the terminal record
      val (oc, ob) = call(s"$base/operations", token = tok)
      assert(oc == 200 && ob.contains("\"operation\":\"apply\"") &&
        ob.contains("\"operation\":\"start\""), ob)
      val (ofc, ofb) = call(s"$base/operations?operation=start", token = tok)
      assert(ofc == 200 && !ofb.contains("\"operation\":\"apply\""), ofb)
      val opId = "\"id\":\"(op-[0-9]+)\"".r.findFirstMatchIn(ofb)
        .map(_.group(1)).get
      assert(call(s"$base/operations/$opId", token = tok)._1 == 200)
      val (dc2, db2) = call(s"$base/operations/$opId", "DELETE", token = tok)
      assert(dc2 == 200 && db2.contains("\"state\":\"succeeded\""), db2)
      assert(call(s"$base/operations/op-999999", token = tok)._1 == 404)
      // pagination (the reference's Page shape): one item per page,
      // total unchanged
      val (pc, pb) = call(s"$base/operations?page_size=1", token = tok)
      assert(pc == 200 && pb.contains("\"page_size\":1"), pb)
      assert(pb.split("\"id\":").length == 2, s"exactly one record per page: $pb")
      assert("\"total\":[2-9]".r.findFirstIn(pb).isDefined, pb)
      // --- events: config_applied + stream_started visible, filterable
      val (ec, eb) = call(s"$base/events", token = tok)
      assert(ec == 200 && eb.contains("\"event_type\":\"config_applied\"") &&
        eb.contains("\"event_type\":\"stream_started\""), eb)
      val (efc, efb) = call(s"$base/events?stream_id=gen-ops", token = tok)
      assert(efc == 200 && efb.contains("stream_started") &&
        !efb.contains("config_applied"), efb)
      // --- stop over HTTP records the stream_stopped event
      assert(call(s"$base/streams/gen-ops/stop", "POST", token = tok)._1 == 200)
      val (e2c, e2b) = call(s"$base/events?event_type=stream_stopped", token = tok)
      assert(e2c == 200 && e2b.contains("gen-ops"), e2b)
      // ...and the listener's termination event resolves the stream NAME,
      // so the per-stream filter surfaces it (not just the start)
      waitUntil("query_terminated event carries the stream id") {
        call(s"$base/events?stream_id=gen-ops&event_type=query_terminated",
          token = tok)._2.contains("query_terminated")
      }
      // --- a config whose stream fails to RESTART records a DURABLE
      // failed operation (the 202 body's `failed` list is ephemeral);
      // the dropped/stopped lists stay truthful
      assert(call(s"$base/streams/gen-ops/start", "POST", token = tok)._1 == 202)
      val badYaml =
        s"""streams:
           |  - id: gen-ops
           |    input:
           |      type: file
           |      path: /nonexistent_graft_ops_probe
           |    pipeline:
           |      processors: []
           |    output:
           |      type: parquet
           |      path: $dir/out2
           |""".stripMargin
      val (bac, bab) = call(s"$base/config/apply", "POST", Some(badYaml), tok)
      assert(bac == 202 && bab.contains("\"failed\":[\"gen-ops\"]"), bab)
      val (foc, fob) = call(s"$base/operations?state=failed", token = tok)
      assert(foc == 200 && fob.contains("\"operation\":\"apply\"") &&
        fob.contains("gen-ops"), fob)
    } finally {
      spark.streams.active.filter(q => Option(q.name).contains("gen-ops"))
        .foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      cp.stop()
    }
  }

  test("status/node/nodes rollup moves with the lifecycle, /events/stream " +
      "tails live over SSE, failed manual starts leave durable records, " +
      "and the draft -> diff -> apply flow lands an active version") {
    def call(url: String, method: String = "GET", body: Option[String] = None,
        token: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod(method)
        token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
        body.foreach { b =>
          c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    def waitUntil(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        assert(System.currentTimeMillis() < deadline, s"timed out waiting: $what")
        Thread.sleep(100)
      }
    }
    val dir = tempDir("cp_status").toString
    val yaml =
      s"""streams:
         |  - id: gen-status
         |    input:
         |      type: generate
         |      rows_per_second: "100"
         |      context: '{"k": 1}'
         |    pipeline:
         |      processors: []
         |    output:
         |      type: parquet
         |      path: $dir/out
         |""".stripMargin
    val tok = Some("st-tok")
    val cp = new ControlPlane(spark, 0, tok, Nil, Some(s"$dir/versions"))
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      // the console page carries the new surface hooks (status strip,
      // SSE tail, draft flow)
      val (pgc, pgb) = call(s"$base/console")
      assert(pgc == 200 && pgb.contains("/events/stream") &&
        pgb.contains("loadDraft") && pgb.contains("diffActive") &&
        pgb.contains("'/status'"), "console must wire the round-16 surface")
      // the rollup routes are DATA routes: token-gated
      assert(call(s"$base/status")._1 == 401)
      // --- /status before anything runs: engine up, zero streams
      val (sc1, sb1) = call(s"$base/status", token = tok)
      assert(sc1 == 200 && sb1.contains("\"state\":\"running\"") &&
        sb1.contains("\"streams_running\":0") &&
        sb1.contains("\"uptime_seconds\":"), sb1)
      // --- /node + /nodes: the degenerate single-node resource + page
      val (nc, nb) = call(s"$base/node", token = tok)
      assert(nc == 200 && nb.contains("\"role\":\"standalone\"") &&
        nb.contains("\"maintenance_state\":\"active\"") &&
        nb.contains("\"capabilities\":[\"stream_runtime\",\"local_configuration\"]"),
        nb)
      val (nsc, nsb) = call(s"$base/nodes", token = tok)
      assert(nsc == 200 && nsb.contains("\"total\":1") &&
        nsb.contains("\"role\":\"standalone\"") && nsb.contains("\"page\":1"), nsb)
      assert(call(s"$base/nodes?page=2", token = tok)._2.contains("\"items\":[]"),
        "past the one-element page the items list is empty, total stays 1")
      // --- draft -> diff -> apply (the console's config flow, over the
      // same routes its buttons call)
      assert(call(s"$base/configuration/draft", "PUT", Some(yaml), tok)._1 == 200)
      val (dgc, dgb) = call(s"$base/configuration/draft", token = tok)
      assert(dgc == 200 && dgb.contains("gen-status"), dgb)
      val (ac, ab) = call(s"$base/config/apply", "POST", Some(yaml), tok)
      assert(ac == 202, ab)
      val vId = "\"version\":\"(cfg-[0-9a-f]+)\"".r
        .findFirstMatchIn(ab).map(_.group(1)).get
      val (cfc, cfb) = call(s"$base/configuration", token = tok)
      assert(cfc == 200 && cfb.contains(vId), cfb)
      assert("\"id\":\"%s\"[^}]*\"active\":true".format(vId).r
        .findFirstIn(call(s"$base/config/versions", token = tok)._2).isDefined,
        "the applied draft must show active in the versions table")
      // --- SSE live tail: subscribe past the already-recorded events,
      // then drive a lifecycle action and read frames OFF THE OPEN
      // CONNECTION (not a poll)
      val lastSeen = "\"id\":([0-9]+)".r
        .findFirstMatchIn(call(s"$base/events?page_size=1", token = tok)._2)
        .map(_.group(1).toLong).getOrElse(0L)
      val frames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val conn = new java.net.URI(s"$base/events/stream?last_id=$lastSeen")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestProperty("Authorization", s"Bearer ${tok.get}")
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Type").startsWith("text/event-stream"))
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        conn.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val tailThread = new Thread(() => {
        try {
          var line = reader.readLine()
          while (line != null) {
            if (line.startsWith("data: ")) { frames.add(line.drop(6)); () }
            line = reader.readLine()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }, "sse-tail-test")
      tailThread.setDaemon(true)
      tailThread.start()
      // the lifecycle action the tail must see live: start, then stop
      assert(call(s"$base/streams/gen-status/start", "POST", token = tok)._1 == 202)
      // --- /status counts move: one running stream
      waitUntil("status shows 1 running") {
        val s = call(s"$base/status", token = tok)._2
        s.contains("\"streams_running\":1") && s.contains("\"streams_total\":1")
      }
      waitUntil("node mirrors the rollup") {
        call(s"$base/node", token = tok)._2.contains("\"streams_running\":1")
      }
      assert(call(s"$base/streams/gen-status/stop", "POST", token = tok)._1 == 200)
      waitUntil("status shows 0 running after stop") {
        call(s"$base/status", token = tok)._2.contains("\"streams_running\":0")
      }
      // >= 2 events arrived over the ONE streamed connection
      waitUntil("SSE tail delivers the lifecycle events") {
        val seen = frames.toArray(new Array[String](0))
        seen.exists(_.contains("stream_started")) &&
          seen.exists(_.contains("stream_stopped"))
      }
      frames.forEach(f => assert(f.startsWith("{") && f.contains("event_type"),
        s"SSE data frames carry the /events JSON shape: $f"))
      conn.disconnect()
      // Last-Event-ID RESUME (the EventSource reconnect contract): a
      // second connection carrying the header replays only events past
      // that id — the pre-subscribe history must not repeat
      val resumeConn = new java.net.URI(s"$base/events/stream")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      resumeConn.setRequestProperty("Authorization", s"Bearer ${tok.get}")
      resumeConn.setRequestProperty("Last-Event-ID", lastSeen.toString)
      val rr = new java.io.BufferedReader(new java.io.InputStreamReader(
        resumeConn.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val resumedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val rdl = System.currentTimeMillis() + 10000
      var rline = rr.readLine()
      while (rline != null && resumedIds.isEmpty &&
          System.currentTimeMillis() < rdl) {
        if (rline.startsWith("id: ")) resumedIds += rline.drop(4).toLong
        rline = rr.readLine()
      }
      assert(resumedIds.nonEmpty && resumedIds.head > lastSeen,
        s"resume must start past Last-Event-ID=$lastSeen, got $resumedIds")
      resumeConn.disconnect()
      // --- SSE concurrency cap: each tail pins a handler thread, so a
      // third concurrent tail answers 429 while two are held open — and
      // the probes still answer at the cap (the starvation this bounds)
      waitUntil("prior SSE windows release")(cp.activeEventStreams == 0)
      def openTail(): java.net.HttpURLConnection = {
        val c = new java.net.URI(s"$base/events/stream").toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setRequestProperty("Authorization", s"Bearer ${tok.get}")
        assert(c.getResponseCode == 200)
        c
      }
      val t1 = openTail(); val t2 = openTail()
      waitUntil("two tails registered")(cp.activeEventStreams == 2)
      assert(call(s"$base/events/stream", token = tok)._1 == 429)
      assert(call(s"$base/liveness")._1 == 200,
        "probes must still answer with every tail slot occupied")
      t1.disconnect(); t2.disconnect()
      // --- a manual /start that THROWS leaves a durable failed record
      // (round-15 ADVICE): apply a config whose input cannot start
      val badYaml =
        s"""streams:
           |  - id: gen-status
           |    input:
           |      type: file
           |      path: /nonexistent_graft_status_probe
           |    pipeline:
           |      processors: []
           |    output:
           |      type: parquet
           |      path: $dir/out2
           |""".stripMargin
      assert(call(s"$base/config/apply", "POST", Some(badYaml), tok)._1 == 202)
      val (fsc, fsb) = call(s"$base/streams/gen-status/start", "POST", token = tok)
      assert(fsc == 500 && fsb.contains("\"started\":false"), fsb)
      val (foc, fob) = call(s"$base/operations?state=failed&operation=start",
        token = tok)
      assert(foc == 200 && fob.contains("gen-status"),
        s"failed manual start must be durable in /operations: $fob")
      assert(call(s"$base/events?event_type=stream_failed", token = tok)
        ._2.contains("gen-status"))
      // Note: that start FAILURE does not tick streams_failed — the
      // stream never became a query; failed starts live in /operations.
      // streams_failed tracks failed QUERIES, driven next:
      // --- a stream that STARTS fine but FAILS at runtime (bang-call
      // on non-numeric input aborts the batch) must move the rollup's
      // streams_failed once its termination lands on the listener
      val failYaml =
        s"""streams:
           |  - id: gen-status
           |    input:
           |      type: generate
           |      rows_per_second: "50"
           |      context: '{"k": "abc"}'
           |    pipeline:
           |      processors:
           |        - type: json_to_arrow
           |        - type: vrl
           |          statement: '.x = parse_int!(.k)'
           |    output:
           |      type: stdout
           |""".stripMargin
      assert(call(s"$base/config/apply", "POST", Some(failYaml), tok)._1 == 202)
      assert(call(s"$base/streams/gen-status/start", "POST", token = tok)._1 == 202)
      waitUntil("runtime failure reaches the /status rollup") {
        call(s"$base/status", token = tok)._2.contains("\"streams_failed\":1")
      }
      // polled like /status above, NOT a one-shot assert: between the
      // two calls the failed query can be reaped from streams.active
      // while its termination record still rides the async listener bus
      // — both counts read 0 for that tick (flaked once in round 17)
      waitUntil("the node resource mirrors the failed count") {
        call(s"$base/node", token = tok)._2.contains("\"streams_failed\":1")
      }
    } finally {
      spark.streams.active.filter(q => Option(q.name).contains("gen-status"))
        .foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      cp.stop()
    }
  }

  test("/audit records apply/rollback/draft mutations with the acting " +
      "identity and timestamp, filters like /operations, and the console " +
      "carries the audit tab") {
    def call(url: String, method: String = "GET", body: Option[String] = None,
        token: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod(method)
        token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
        body.foreach { b =>
          c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    val dir = tempDir("cp_audit").toString
    val tok = "audit-tok"
    // the actor is the stable NON-SECRET token fingerprint
    val expectedActor = "bearer:" + java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    val cp = new ControlPlane(spark, 0, Some(tok), Nil, Some(s"$dir/versions"))
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      // audit is a DATA route: token-gated; console page carries the tab
      assert(call(s"$base/audit")._1 == 401)
      assert(call(s"$base/console")._2.contains("id=\"audit\""),
        "console must render the audit tab")
      val v1 = "streams: []\n"
      val v2 = "streams: [] # v2\n"
      assert(call(s"$base/configuration/draft", "PUT", Some(v1),
        Some(tok))._1 == 200)
      val (a1c, a1b) = call(s"$base/config/apply", "POST", Some(v1), Some(tok))
      assert(a1c == 202, a1b)
      val v1Id = "\"version\":\"(cfg-[0-9a-f]+)\"".r
        .findFirstMatchIn(a1b).map(_.group(1)).get
      val (a2c, a2b) = call(s"$base/config/apply", "POST", Some(v2), Some(tok))
      assert(a2c == 202, a2b)
      assert(call(s"$base/config/rollback/$v1Id", "POST",
        token = Some(tok))._1 == 202)
      val (ac, ab) = call(s"$base/audit", token = Some(tok))
      assert(ac == 200, ab)
      // every mutation kind landed, actor-stamped with a real timestamp
      Seq("draft_save", "\"operation\":\"apply\"",
          "\"operation\":\"rollback\"").foreach(k =>
        assert(ab.contains(k), s"audit must hold $k: $ab"))
      assert(ab.contains(s""""actor":"$expectedActor""""),
        s"audit records must carry the token fingerprint actor: $ab")
      assert(!ab.contains(tok), "the raw token must never appear in audit")
      assert("\"occurred_at_ms\":([0-9]{13})".r.findFirstIn(ab).isDefined, ab)
      // filters: operation + actor narrow like /operations
      val (rc, rb) = call(s"$base/audit?operation=rollback", token = Some(tok))
      assert(rc == 200 && rb.contains("\"operation\":\"rollback\"") &&
        !rb.contains("\"operation\":\"apply\""), rb)
      assert(call(s"$base/audit?actor=nobody", token = Some(tok))
        ._2.contains("\"total\":0"))
    } finally cp.stop()
  }

  test("SSE tail under churn: >1100 events through an OPEN tail cross the " +
      "ring's eviction boundary with strictly monotone ids and zero " +
      "duplicates") {
    val cp = new ControlPlane(spark, 0, None, Nil, None)
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      val conn = new java.net.URI(s"$base/events/stream")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        conn.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val sawLast = new java.util.concurrent.atomic.AtomicBoolean(false)
      val tail = new Thread(() => {
        try {
          var line = reader.readLine()
          while (line != null && !sawLast.get) {
            if (line.startsWith("id: ")) ids.synchronized {
              ids += line.drop(4).toLong; () }
            if (line.contains("churn-final")) sawLast.set(true)
            line = reader.readLine()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }, "sse-churn-tail")
      tail.setDaemon(true); tail.start()
      // burst 1150 events — 150 past the 1000-entry ring bound, so the
      // ring EVICTS while the tail is mid-read; the final event is marked
      (1 to 1149).foreach(i =>
        cp.recordEvent("churn_test", Some("churn"), s"m$i"))
      cp.recordEvent("churn_test", Some("churn"), "churn-final")
      val deadline = System.currentTimeMillis() + 20000
      while (!sawLast.get && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(sawLast.get, "tail must deliver the last churn event")
      val seen = ids.synchronized { ids.toVector }
      // the ring may evict entries the tail never saw (bounded-ring
      // contract) — but what IS delivered must be exact: strictly
      // monotone ids (no replay across the eviction boundary), no
      // duplicates, and at least a full ring's worth arrives
      assert(seen.size >= 1000,
        s"tail should deliver at least the newest ring: ${seen.size}")
      assert(seen == seen.distinct, "no duplicate ids over one connection")
      assert(seen.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
        "ids must be strictly monotone across the eviction boundary")
    } finally cp.stop()
  }

  test("engine runs memory-stream end-to-end: envelope -> decode -> sql -> sink") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val input = ms.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))
    val sink = new Engine.MemorySink
    val q = Engine.start(input,
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT sensor, sum(value) AS total FROM flow GROUP BY sensor")),
      sink, trigger = Trigger.AvailableNow())
    ms.addData(sensorJson: _*)
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("temp_1", 15L), ("temp_2", 15L)))
  }

  test("ingest-time exact dedup: dropDuplicatesWithinWatermark composes with the engine across micro-batches") {
    // Corpus dedup at INGEST: the stream-native stage sits before the
    // engine's foreachBatch pipeline (state-store-backed, watermark-
    // bounded — RocksDB at scale), so a duplicate arriving in a LATER
    // micro-batch is dropped too, which no per-batch processor can do.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val input = ms.toDF().toDF("text", "ts")
      .withColumn("event_time", timestamp_seconds(col("ts")))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("text")
    val sink = new Engine.MemorySink
    val q = Engine.start(input, Seq(), sink,
      trigger = Trigger.ProcessingTime(0L))
    ms.addData(("alpha", 100L), ("alpha", 101L), ("beta", 102L))
    q.processAllAvailable()
    ms.addData(("alpha", 103L), ("gamma", 104L)) // later-batch duplicate
    q.processAllAvailable()
    q.stop()
    val texts = sink.rows.map(_.getString(0))
    assert(texts.sorted == Seq("alpha", "beta", "gamma"),
      s"expected cross-batch dedup, got $texts")
  }

  test("per-batch inference follows an evolving JSON schema across micro-batches") {
    // the reference infers per batch (SURVEY §1.3), so a new field
    // appearing mid-stream just shows up — no fixed-schema rejection
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val input = ms.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))
    val seen = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val sink = new Engine.BatchSink {
      def write(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        seen.synchronized { seen += b.columns.toSeq.sorted }
    }
    val q = Engine.start(input, Seq(Processors.JsonToArrow()), sink,
      trigger = Trigger.ProcessingTime(0L))
    ms.addData("""{"sensor": "a", "value": 1}""")
    q.processAllAvailable()
    ms.addData("""{"sensor": "b", "value": 2, "unit": "C"}""") // field appears
    q.processAllAvailable()
    q.stop()
    assert(seen.toSeq == Seq(Seq("sensor", "value"), Seq("sensor", "unit", "value")),
      s"schemas per batch: $seen")
  }

  test("a computed-empty frame mid-pipeline still writes (count=0 rows are results, not hold-backs)") {
    // MemoryStream batches are LocalRelations, so a deterministic filter
    // that drops every row is optimizer-folded to an EMPTY LocalRelation
    // — indistinguishable from the old plan-emptiness sentinel. The
    // zero-column sentinel keeps the semantics source-independent: the
    // downstream aggregate must still run and write its count=0 row.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Long]
    val sink = new Engine.MemorySink
    val q = Engine.start(ms.toDF(),
      Seq(
        (df: org.apache.spark.sql.DataFrame) => df.filter(col("value") > 100),
        (df: org.apache.spark.sql.DataFrame) =>
          df.groupBy().agg(count(lit(1)).as("n"))),
      sink)
    ms.addData(1L, 2L) // both below the filter threshold
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(_.getLong(0)).toSeq == Seq(0L),
      s"expected one count=0 row, got ${sink.rows}")
  }

  test("one-shot batch runs keep a staged accumulator OFF the cross-run staging path") {
    // runBatch has no meaningful batch id; handing it a constant one
    // would make every run overwrite the same __acc_batch partition
    // (silent cross-run data loss). The batch path must use the plain
    // in-memory apply and never touch the staging directory.
    val staging = tempDir("graft_stage_batch").toString
    val sink = new Engine.MemorySink
    Engine.runBatch(envelope(sensorJson: _*),
      Seq(Processors.JsonToArrow(),
        new Processors.BatchAccumulator(minRows = 1, staging = Some(staging))),
      sink, None)
    assert(sink.rows.size == sensorJson.size)
    assert(Option(new java.io.File(staging).listFiles()).forall(_.isEmpty),
      "batch run wrote into the streaming staging directory")
  }

  test("failed batches route to error_output instead of killing the stream (stream/mod.rs:485-516)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val input = ms.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))
    val sink = new Engine.MemorySink
    val err = new Engine.MemorySink
    val q = Engine.start(input,
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT no_such_column FROM flow")),
      sink, errorSink = Some(err))
    ms.addData(sensorJson.head)
    q.processAllAvailable(); q.stop()
    assert(sink.rows.isEmpty)
    assert(err.rows.size == 1)
    assert(err.rows.head.schema.fieldNames.contains("__error"))
  }

  test("failing BATCH pipelines route to error_output too (parity with streaming)") {
    val sink = new Engine.MemorySink
    val err = new Engine.MemorySink
    Engine.runBatch(envelope(sensorJson.head),
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT no_such_column FROM flow")),
      sink, Some(err))
    assert(sink.rows.isEmpty)
    assert(err.rows.size == 1)
    assert(err.rows.head.schema.fieldNames.contains("__error"))
    // without an error sink the failure propagates, like streaming
    intercept[Exception](Engine.runBatch(envelope(sensorJson.head),
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT no_such_column FROM flow")),
      sink, None))
  }

  test("temporary lookup joins a side table into the sql (processor/sql.rs:148-183)") {
    val lookup = Processors.TemporaryLookup("sensor_info",
      _ => Seq(("temp_1", "room_a"), ("temp_2", "room_b")).toDF("sensor", "room"))
    val out = Processors.LookupSqlProcessor(
      "SELECT f.sensor, s.room FROM flow f JOIN sensor_info s ON f.sensor = s.sensor",
      "flow", Seq(lookup))(Processors.JsonToArrow()(envelope(sensorJson: _*)))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("temp_1", "room_a"), ("temp_2", "room_b")))
  }

  test("window join skips when an expected source is missing (buffer/join.rs:101-116)") {
    val s1 = Seq((1, "a")).toDF("id", "v")
    val out = Windows.windowJoin(spark, Map("in1" -> s1),
      Sql.parse("SELECT * FROM in1 JOIN in2 USING (id)"), expected = Seq("in1", "in2"))
    assert(out.isEmpty)
  }

  test("window join runs SQL across tagged sources (buffer/join.rs:62-130)") {
    val s1 = Seq((1, "a"), (2, "b")).toDF("id", "v1")
    val s2 = Seq((1, "x")).toDF("id", "v2")
    val out = Windows.windowJoin(spark, Map("in1" -> s1, "in2" -> s2),
      Sql.parse("SELECT in1.id, v1, v2 FROM in1 JOIN in2 ON in1.id = in2.id"),
      Seq("in1", "in2"))
    assert(out.collect().toSeq == Seq(Row(1, "a", "x")))
  }

  test("multiple_inputs fan-in tags each source (input/multiple_inputs.rs:30-110)") {
    val out = Windows.unionTagged(Map(
      "a" -> Seq(1).toDF("x"), "b" -> Seq(2).toDF("x")))
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
  }

  test("stateful windows run on the RocksDB state store (the 100TB state path)") {
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Windows.Keyed]
      val out = Windows.countSlidingWindow(ms.toDS(), windowSize = 3, slideSize = 2)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("rocks_out").start()
      ms.addData((1 to 7).map(i => Windows.Keyed("k", i.toDouble)): _*)
      q.processAllAvailable(); q.stop()
      val windows = spark.table("rocks_out").as[Windows.SlideOut]
        .collect().map(_.window.toList).toList
      assert(windows == List(List(1.0, 2.0, 3.0), List(3.0, 4.0, 5.0), List(5.0, 6.0, 7.0)),
        "RocksDB-backed run must produce the same windows as the default store")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("count-based sliding window emits overlapping windows (sliding_window.rs:41-50)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Windows.Keyed]
    val out = Windows.countSlidingWindow(ms.toDS(), windowSize = 3, slideSize = 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("slide_out").start()
    ms.addData((1 to 7).map(i => Windows.Keyed("k", i.toDouble)): _*)
    q.processAllAvailable(); q.stop()
    val windows = spark.table("slide_out").as[Windows.SlideOut]
      .collect().map(_.window.toList).toList
    assert(windows == List(List(1.0, 2.0, 3.0), List(3.0, 4.0, 5.0), List(5.0, 6.0, 7.0)))
  }

  test("streaming as-of join matches latest right state across micro-batches") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Windows.AsOfEvent]
    val out = Windows.streamingAsOf(ms.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("asof_out").start()
    // batch 0: two rights and one left (same-batch rights are visible)
    ms.addData(
      Windows.AsOfEvent("k", 10L, "right", "r10"),
      Windows.AsOfEvent("k", 20L, "right", "r20"),
      Windows.AsOfEvent("k", 15L, "left", "l15"))
    q.processAllAvailable()
    // batch 1: rights persist in state; a left before any right gets null
    ms.addData(
      Windows.AsOfEvent("k", 25L, "left", "l25"),
      Windows.AsOfEvent("k", 5L, "left", "l05"),
      Windows.AsOfEvent("other", 7L, "left", "lo"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("asof_out").as[Windows.AsOfMatch]
      .collect().map(m => (m.key, m.leftPayload, m.rightPayload)).toSet
    assert(rows == Set(
      ("k", "l15", Some("r10")),   // latest right <= 15 is r10
      ("k", "l25", Some("r20")),   // state carried r20 into batch 1
      ("k", "l05", None),          // no right at or before t=5
      ("other", "lo", None)))      // keys never mix
  }

  test("streaming sessionize stamps ordinals across micro-batches") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Windows.SessEvent]
    val out = Windows.streamingSessionize(ms.toDS(), gapNanos = 10L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    // batch 0: gap 10 == threshold continues; session 1 spans both
    ms.addData(Windows.SessEvent("u", 0L, "a"), Windows.SessEvent("u", 10L, "b"))
    q.processAllAvailable()
    // batch 1: gap 15 > threshold -> session 2 opens ACROSS the batch
    // boundary; a second key starts at its own session 1
    ms.addData(Windows.SessEvent("u", 25L, "c"), Windows.SessEvent("v", 3L, "d"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess_out").as[Windows.SessStamped]
      .collect().map(s => (s.key, s.payload, s.sessionSeq)).toSet
    assert(rows == Set(("u", "a", 1L), ("u", "b", 1L), ("u", "c", 2L),
      ("v", "d", 1L)))
    // parity with the batch operator on the same flattened data
    import spark.implicits._
    val batch = graft.operators.EventsOps.sessionize(
        Seq(("u", 0L, "a"), ("u", 10L, "b"), ("u", 25L, "c"), ("v", 3L, "d"))
          .toDF("key0", "ts", "tie0"),
        "key0", "ts", "tie0", gapNanos = 10L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    assert(batch == rows, "streaming stamps must equal the batch operator's")
  }

  test("sessionize state: a late straggler joins but never drags the watermark back") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val f = Windows.sessionizeFunc(gapNanos = 10L) _
    val s = TestGroupState.create[(Long, Long)](
      Optional.of((100L, 2L)), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty(), hasTimedOut = false)
    // t=5 is 95 late: it joins session 2; t=106 is within gap of the
    // TRUE latest time 100 and must also stay in session 2 (a regressed
    // watermark would wrongly open session 3)
    val out = f("k", Iterator(
      Windows.SessEvent("k", 5L, "late"),
      Windows.SessEvent("k", 106L, "ontime")), s).toSeq
    assert(out.map(e => (e.payload, e.sessionSeq)) ==
      Seq(("late", 2L), ("ontime", 2L)))
    assert(s.get == ((106L, 2L)))
  }

  test("streaming as-of state buffer evicts oldest rights at maxRightBuffer") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val f = Windows.asOfFunc(maxRightBuffer = 2) _
    val s = TestGroupState.create[Seq[(Long, String)]](
      Optional.of(Seq(1L -> "r1", 2L -> "r2")), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty(), hasTimedOut = false)
    val out = f("k", Iterator(
      Windows.AsOfEvent("k", 3L, "right", "r3"),
      Windows.AsOfEvent("k", 10L, "left", "l")), s).toSeq
    // cap 2: r1 evicted, r2/r3 retained, left matches the latest
    assert(s.get == Seq(2L -> "r2", 3L -> "r3"))
    assert(out == Seq(Windows.AsOfMatch("k", 10L, "l", Some(3L), Some("r3"))))
  }

  test("session state function accumulates then emits on timeout (session_window.rs:40-49)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val f = Windows.sessionFunc(gapMs = 1000) _
    // two arrivals accumulate silently
    val s1 = TestGroupState.create[Windows.SessionAgg](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 100L,
      Optional.empty(), hasTimedOut = false)
    assert(f("k", Iterator(Windows.Keyed("k", 2.0), Windows.Keyed("k", 3.0)), s1).isEmpty)
    assert(s1.get.n == 2 && s1.get.sum == 5.0)
    // gap elapses -> session emitted, state cleared
    val s2 = TestGroupState.create[Windows.SessionAgg](
      Optional.of(s1.get), GroupStateTimeout.ProcessingTimeTimeout, 2000L,
      Optional.empty(), hasTimedOut = true)
    val out = f("k", Iterator.empty, s2).toSeq
    assert(out == Seq(Windows.SessionOut("k", 2, 5.0)))
    assert(!s2.exists)
  }

  test("streaming event-time window with watermark aggregates in append mode") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = ms.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_out").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    ms.addData((t(0), "a", 1.0), (t(1), "a", 2.0), (t(6), "b", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    ms.addData((t(30), "a", 9.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wm_out")
      .select(col("window.start").cast("string"), col("k"), col("n"), col("total"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00", "a", 2L, 3.0),
      ("2024-01-01 10:05:00", "b", 1L, 5.0)))
  }

  test("sql processor latency: 10 pooled queries stay fast (sql.rs:432-450 analogue)") {
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L)).toDF("id", "value")
    val proc = Processors.SqlProcessor("SELECT * FROM flow WHERE id > 0")
    proc(df).collect() // warm
    val t0 = System.nanoTime()
    (1 to 10).foreach(_ => proc(df).collect())
    val elapsed = (System.nanoTime() - t0) / 1e6
    // reference asserts < 500ms natively; allow JVM/Spark planning headroom
    assert(elapsed < 5000, s"10 queries took ${elapsed}ms")
  }

  test("kafka input option mapping (input/kafka.rs:36-58)") {
    val opts = Engine.kafkaOptions(Map(
      "brokers" -> "b:9092", "topics" -> "t1", "consumer_group" -> "g1",
      "start_from_latest" -> "true"))
    assert(opts("kafka.bootstrap.servers") == "b:9092")
    assert(opts("subscribe") == "t1")
    assert(opts("startingOffsets") == "latest")
    assert(opts("kafka.group.id") == "g1")
  }

  test("batch file input with query runs EOF-style (input/file.rs:199-249)") {
    val dir = tempDir("graft_file").toString
    Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "tag")
      .write.mode("overwrite").parquet(s"$dir/t")
    val sink = new Engine.MemorySink
    Engine.run(spark, Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: file
         |      format: parquet
         |      path: $dir/t
         |      query: "SELECT tag, count(*) AS n FROM flow GROUP BY tag"
         |    output:
         |      type: drop
         |""".stripMargin))
    // run() with drop sink just needs to not throw; re-run with direct sink:
    val df = Engine.inputFromConf(spark, ComponentConf("file",
      Map("format" -> "parquet", "path" -> s"$dir/t",
        "query" -> "SELECT tag, count(*) AS n FROM flow GROUP BY tag")))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 1L)))
  }
}
