package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One YAML shape rule: `Config.fromYaml` flattens every nested map to
  * dotted keys and every list to indexed keys, and the builders read a
  * list through `Config.list` and an `Expr<String>` object through
  * `Config.expr`, so the reference's list and object forms reach the
  * engine as what they mean.
  */
class YamlShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def stream(body: String): StreamConf =
    Config.fromYaml("streams:\n" + body.stripMargin).streams.head

  test("any nested map flattens to dotted keys and any list to indexed keys, " +
      "a list of maps to k.N.name") {
    val s = stream(
      """  - input:
        |      type: generate
        |      count: 1
        |      foo: { a: 1, b: x }
        |      bar: [s, { x: 1, y: [p, q] }]
        |    output: { type: drop }
        |""")
    val o = s.input.options
    assert(o == Map("count" -> "1", "foo.a" -> "1", "foo.b" -> "x",
      "bar.0" -> "s", "bar.1.x" -> "1", "bar.1.y.0" -> "p", "bar.1.y.1" -> "q"))
    assert(Config.indexed(o, "bar") == Seq("s"))
    assert(Config.nested(o, "bar.1") == Map("x" -> "1", "y.0" -> "p", "y.1" -> "q"))
  }

  test("Config.list reads a list in index order and a scalar split on its " +
      "separator, entries trimmed and empty ones dropped") {
    val many = (0 until 12).map(i => s"t.$i" -> s"v$i").toMap
    assert(Config.list(many, "t") == (0 until 12).map(i => s"v$i"))
    assert(Config.list(Map("t" -> " a, b ,,c "), "t") == Seq("a", "b", "c"))
    assert(Config.list(Map("t" -> "x > 1; y"), "t", sep = ";") == Seq("x > 1", "y"))
    assert(Config.list(Map("t.0" -> "a, b"), "t") == Seq("a, b"))
    assert(Config.list(Map.empty, "t").isEmpty)
  }

  test("Config.expr decodes Expr<String> objects and rejects malformed ones") {
    assert(Config.expr(Map("k.type" -> "value", "k.value" -> "v"), "k") == Some(Left("v")))
    assert(Config.expr(Map("k.type" -> "expr", "k.expr" -> "a + 1"), "k") == Some(Right("a + 1")))
    assert(Config.expr(Map("k" -> "bare"), "k") == Some(Left("bare")))
    assert(Config.expr(Map("k" -> "id"), "k", bare = Right(_)) == Some(Right("id")))
    assert(Config.expr(Map.empty, "k").isEmpty)
    def err(o: Map[String, String]) =
      intercept[IllegalArgumentException](Config.expr(o, "topic")).getMessage
    assert(err(Map("topic.type" -> "expr")) == "topic expr object without 'expr'")
    assert(err(Map("topic.type" -> "value")) == "topic value object without 'value'")
    assert(err(Map("topic.type" -> "x", "topic.value" -> "t")) ==
      "topic type must be value or expr, got 'x'")
  }

  test("kafka input broker and topic lists map to comma-joined Spark options") {
    val s = stream(
      """  - input:
        |      type: kafka
        |      brokers: [h1:9092, h2:9092]
        |      topics: [a, b]
        |    output: { type: drop }
        |""")
    val opts = Engine.kafkaOptions(s.input.options)
    assert(opts("kafka.bootstrap.servers") == "h1:9092,h2:9092")
    assert(opts("subscribe") == "a,b")
    // the comma-string form keeps working
    assert(Engine.kafkaOptions(Map("brokers" -> "h1:9092, h2:9092", "topics" -> "a, b"))
      .filter(_._1 != "startingOffsets") ==
      Map("kafka.bootstrap.servers" -> "h1:9092,h2:9092", "subscribe" -> "a,b"))
  }

  test("json_to_arrow with a fields_to_include list decodes exactly those columns") {
    val s = stream(
      """  - input: { type: generate, count: 1 }
        |    pipeline:
        |      processors:
        |        - type: json_to_arrow
        |          fields_to_include: [a, b]
        |    output: { type: drop }
        |""")
    val proc = Processors.fromConf(s.processors).head
    val out = proc(Seq("""{"a": 1, "b": "x", "c": true}""").toDF("s")
      .select($"s".cast("binary").as(Codecs.ValueCol)))
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x")))
  }

  test("kafka output reads Expr<String> topic and key objects") {
    def output(yaml: String): ComponentConf = stream(
      s"""  - input: { type: generate, count: 1 }
         |    output:
         |      type: kafka
         |      brokers: [b1:9092, b2:9092]
         |$yaml""").output
    val value = output(
      """      topic: { type: value, value: t }
        |""")
    val opts = Engine.kafkaSinkOptions(value.options)
    assert(opts("topic") == "t")
    assert(opts("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(Engine.sinkFromConf(value).isInstanceOf[Engine.KafkaSink])

    val routed = output(
      """      topic: { type: expr, expr: "concat('t-', cast(v % 2 AS STRING))" }
        |      key: { type: expr, expr: id }
        |""")
    assert(!Engine.kafkaSinkOptions(routed.options).contains("topic"))
    val batch = Seq((0, "k0", "a"), (1, "k1", "b")).toDF("v", "id", Codecs.ValueCol)
    val recs = Engine.kafkaRecords(batch, routed.options, 3L)
    assert(recs.columns.toSeq == Seq("key", "value", "topic", "headers"))
    assert(recs.collect().map(r => (r.getAs[String]("key"), r.getAs[String]("topic")))
      .toSeq.sorted == Seq(("k0", "t-0"), ("k1", "t-1")))
    // the transactional sink keeps rejecting per-row topics
    val txn = intercept[IllegalArgumentException](Engine.TransactionalKafkaSink(
      routed.options + ("exactly_once" -> "transactional")))
    assert(txn.getMessage.contains("does not support 'topic_expr'"))
    // a kafka output without a topic fails at build
    assert(intercept[IllegalArgumentException](Engine.sinkFromConf(
      ComponentConf("kafka", Map("brokers" -> "b1:9092")))).getMessage ==
      "kafka output needs a topic")
    // a value key is one constant key for every record
    val constKey = Engine.kafkaRecords(batch,
      Map("topic" -> "t", "key.type" -> "value", "key.value" -> "id"), 3L)
    assert(constKey.collect().map(_.getAs[String]("key")).toSeq == Seq("id", "id"))
  }

  test("input codec blocks resolve through the codec table the registry lists") {
    assert(Engine.componentRegistry("codec") ==
      Seq("debezium_json", "json", "protobuf", "schema_registry"))
    def input(codec: String) = stream(
      s"""  - input:
         |      type: generate
         |      count: 1
         |      codec: $codec
         |    output: { type: drop }
         |""").input
    val missing = intercept[IllegalArgumentException](
      Engine.inputCodec(input("{ registry_url: http://r }"))).getMessage
    assert(missing.contains("no `type` key") && missing.contains("codec.registry_url"))
    val unknown = intercept[IllegalArgumentException](
      Engine.inputCodec(input("{ type: avro }"))).getMessage
    assert(unknown.contains("unknown input codec: avro"))
    // a list-valued option inside the block reads through the same rule
    assert(Engine.inputCodec(input("{ type: protobuf, fields: [\"id:1:int64\"] }")).size == 1)
  }
}
