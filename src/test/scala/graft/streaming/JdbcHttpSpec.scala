package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connector specs runnable inside the sandbox: the JDBC `sql` input +
  * output against embedded Derby (reference input/sql.rs:48-73,
  * output/sql.rs:48-158), the HTTP output (output/http.rs:36-60) against
  * an embedded JDK HttpServer, and the kafka sink option mapping
  * (output/kafka.rs — broker-free, like the input-side mapping spec).
  */
class JdbcHttpSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def derbyUrl(): String = {
    val dir = tempDir("graft_derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  test("jdbc sink + sql input round-trip (write batches, poll them back)") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE readings ("id" BIGINT, "v" VARCHAR(64), "batch_id" BIGINT)""")
    val sink = Jdbc.JdbcSink(url, "readings")
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L)
    sink.write(Seq((3L, "c")).toDF("id", "v"), batchId = 1L)
    val back = Jdbc.read(spark,
      Map("url" -> url, "select_sql" -> """SELECT "id", "v" FROM readings"""))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("jdbc sink replay is idempotent per batchId (delete-before-insert)") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE t ("id" BIGINT, "batch_id" BIGINT)""")
    val sink = Jdbc.JdbcSink(url, "t")
    sink.write(Seq(1L, 2L).toDF("id"), batchId = 0L)
    sink.write(Seq(3L).toDF("id"), batchId = 1L)
    // replay batch 0 (restart between sink write and checkpoint commit)
    sink.write(Seq(1L, 2L).toDF("id"), batchId = 0L)
    val rows = Jdbc.read(spark,
      Map("url" -> url, "select_sql" -> """SELECT "id" FROM t"""))
      .as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"replay must overwrite, got ${rows.toSeq}")
  }

  test("jdbc input slices into parallel range partitions (partition_column)") {
    val url = derbyUrl()
    Jdbc.execute(url, """CREATE TABLE big ("id" BIGINT, "batch_id" BIGINT)""")
    Jdbc.JdbcSink(url, "big").write((1L to 100L).toDF("id"), batchId = 0L)
    val df = Jdbc.read(spark, Map(
      "url" -> url,
      "select_sql" -> """SELECT "id" AS pid FROM big""",
      "partition_column" -> "pid",
      "lower_bound" -> "1", "upper_bound" -> "101", "num_partitions" -> "4"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
  }

  test("engine streams into the jdbc sink and the sql input polls it back") {
    implicit val sq = spark.sqlContext
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE sensor_sums ("sensor" VARCHAR(32), "total" BIGINT, "batch_id" BIGINT)""")
    val ms = MemoryStream[String]
    val input = ms.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))
    val q = Engine.start(input,
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT sensor, sum(value) AS total FROM flow GROUP BY sensor")),
      Engine.sinkFromConf(ComponentConf("sql",
        Map("url" -> url, "table" -> "sensor_sums"))))
    ms.addData("""{"sensor": "s1", "value": 10}""", """{"sensor": "s1", "value": 5}""")
    q.processAllAvailable(); q.stop()
    val polled = Engine.inputFromConf(spark, ComponentConf("sql", Map(
      "url" -> url,
      "select_sql" -> """SELECT "sensor", "total" FROM sensor_sums""")))
    assert(polled.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("s1", 15L)))
  }

  test("jdbc temporary-lookup provider pushes the batch's keys into the source query") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE sensor_rooms ("sensor" VARCHAR(32), "room" VARCHAR(32))""",
      """INSERT INTO sensor_rooms VALUES ('temp_1', 'room_a'), ('temp_2', 'room_b'), ('temp_9', 'room_z')""")
    val batch = Seq(("temp_1", 10L), ("temp_2", 15L), ("temp_1", 5L)).toDF("sensor", "value")
    val provider = Jdbc.lookupProvider(spark,
      Map("url" -> url,
        "select_sql" -> """SELECT "sensor" AS skey, "room" AS room FROM sensor_rooms"""),
      batchKeyCol = "sensor", remoteKeyCol = "skey")
    val fetched = provider(batch)
    // only the batch's two distinct keys come back, not temp_9
    assert(fetched.count() == 2)
    val out = Processors.LookupSqlProcessor(
      "SELECT f.sensor, f.value, s.room FROM flow f JOIN sensor_info s ON f.sensor = s.skey",
      "flow", Seq(Processors.TemporaryLookup("sensor_info", provider)))(batch)
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ==
      Set(("temp_1", 10L, "room_a"), ("temp_1", 5L, "room_a"), ("temp_2", 15L, "room_b")))
  }

  test("jdbc lookup never drops a key when a null shares the batch: nulls " +
      "cannot take the maxKeys+1 overflow slot") {
    val url = derbyUrl()
    val keys = (0 until 24).map(i => s"k$i")
    Jdbc.execute(url, """CREATE TABLE rooms ("sensor" VARCHAR(32), "room" VARCHAR(32))""",
      s"INSERT INTO rooms VALUES ${keys.map(k => s"('$k', 'r_$k')").mkString(", ")}")
    val provider = Jdbc.lookupProvider(spark,
      Map("url" -> url,
        "select_sql" -> """SELECT "sensor" AS skey, "room" AS room FROM rooms"""),
      batchKeyCol = "sensor", remoteKeyCol = "skey", maxKeys = 2)
    // without AQE the distinct keeps its shuffle partitions, as it does on
    // a batch too large to coalesce, so the null's partition can come
    // ahead of a key's and reach the limit
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (parts <- Seq(1, 4); batchKeys <- keys.grouped(3)) {
      val batch = (None +: batchKeys.map(Option(_))).toDF("sensor").repartition(parts)
      val fetched = provider(batch).collect().map(_.getString(0)).toSet
      assert(batchKeys.toSet.subsetOf(fetched),
        s"$parts partition(s), keys $batchKeys: fetched only ${fetched.toSeq.sorted}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("jdbc lookup renders non-string key types as typed SQL literals (DATE keys)") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE day_rates ("d" DATE, "rate" INT)""",
      """INSERT INTO day_rates VALUES (DATE('2024-03-01'), 10), (DATE('2024-03-02'), 20), (DATE('2024-03-09'), 99)""")
    val batch = Seq("2024-03-01", "2024-03-02")
      .toDF("ds").select(to_date(col("ds")).as("day"))
    val provider = Jdbc.lookupProvider(spark,
      Map("url" -> url,
        "select_sql" -> """SELECT "d" AS dkey, "rate" AS rate FROM day_rates"""),
      batchKeyCol = "day", remoteKeyCol = "dkey")
    // a bare toString would compare DATE against VARCHAR and either error
    // or miss; the typed DATE literal must fetch exactly the batch's days
    val fetched = provider(batch).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1))).toSet
    assert(fetched == Set(("2024-03-01", 10), ("2024-03-02", 20)))
  }

  test("sql literals format java8 datetime key types as valid JDBC escapes") {
    import org.apache.spark.sql.types._
    // LocalDateTime.toString is ISO-8601 ('T' separator, zero seconds
    // elided) — an invalid {ts} escape body. The formatter must normalize
    // every timestamp class Spark can collect.
    assert(Jdbc.sqlLiteral(
      java.time.LocalDateTime.of(2024, 3, 1, 10, 15), TimestampNTZType)
      == "{ts '2024-03-01 10:15:00.000000'}")
    assert(Jdbc.sqlLiteral(
      java.time.Instant.parse("2024-03-01T10:15:30.123456Z"), TimestampType)
      == "{ts '2024-03-01 10:15:30.123456'}")
    assert(Jdbc.sqlLiteral(
      java.sql.Timestamp.valueOf("2024-03-01 10:15:30.5"), TimestampType)
      == "{ts '2024-03-01 10:15:30.500000'}")
    assert(Jdbc.sqlLiteral(java.sql.Date.valueOf("2024-03-01"), DateType)
      == "{d '2024-03-01'}")
    assert(Jdbc.sqlLiteral(java.time.LocalDate.of(2024, 3, 1), DateType)
      == "{d '2024-03-01'}")
  }

  test("http output: 4xx is terminal (no retry) and requests carry X-Batch-Id") {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val batchIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/reject", { exchange =>
      try {
        hits.incrementAndGet()
        Option(exchange.getRequestHeaders.getFirst("X-Batch-Id")).foreach(batchIds.add)
        exchange.sendResponseHeaders(422, -1)
      } finally exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/reject"
      // retryCount=5 — but a 4xx rejection must fail immediately: the
      // server judged the request itself invalid, a replay can't succeed
      intercept[org.apache.spark.SparkException] {
        HttpOutputSink(url, retryCount = 5).write(
          Seq(1L).toDF("id").coalesce(1), batchId = 7L)
      }
      assert(hits.get() == 1, s"4xx was retried: ${hits.get()} attempts")
      // the dedupe marker names batch/partition/chunk for receiver-side dedupe
      assert(batchIds.toArray(Array.empty[String]).toSeq == Seq("7/0/0"))
    } finally server.stop(0)
  }

  test("http output: 429 rate-limit stays on the backoff path (unlike other 4xx)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/limited", { exchange =>
      try exchange.sendResponseHeaders(if (hits.incrementAndGet() <= 2) 429 else 200, -1)
      finally exchange.close()
    })
    server.start()
    try {
      HttpOutputSink(s"http://127.0.0.1:${server.getAddress.getPort}/limited",
        retryCount = 3).write(Seq(1L).toDF("id").coalesce(1), batchId = 0L)
      assert(hits.get() == 3, s"429 must retry with backoff, got ${hits.get()} attempts")
    } finally server.stop(0)
  }

  test("http output POSTs NDJSON from executors with bearer auth (output/http.rs)") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val authed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/collect", { exchange =>
      try {
        if (!Option(exchange.getRequestHeaders.getFirst("Authorization"))
          .contains("Bearer tok123")) authed.set(false)
        received.add(new String(exchange.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        exchange.sendResponseHeaders(200, -1)
      } finally exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/collect"
      val sink = HttpOutputSink(url, bearerToken = Some("tok123"), rowsPerRequest = 2)
      sink.write(Seq(1L, 2L, 3L, 4L, 5L).toDF("id").coalesce(1), batchId = 0L)
      assert(authed.get(), "bearer token missing on a request")
      val lines = received.toArray(Array.empty[String]).flatMap(_.split("\n"))
      assert(lines.length == 5)
      assert(lines.map(_.trim).sorted.toSeq ==
        (1L to 5L).map(i => s"""{"id":$i}""").sorted)
      // 5 rows at 2 rows/request from one partition = 3 POSTs
      assert(received.size == 3, s"got ${received.size} requests")
    } finally server.stop(0)
  }

  test("http output fails the batch on non-2xx (routes to error_output upstream)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/deny", { exchange =>
      try exchange.sendResponseHeaders(503, -1) finally exchange.close()
    })
    server.start()
    try {
      val sink = HttpOutputSink(
        s"http://127.0.0.1:${server.getAddress.getPort}/deny")
      intercept[org.apache.spark.SparkException] {
        sink.write(Seq(1L).toDF("id"), batchId = 0L)
      }
    } finally server.stop(0)
  }

  test("http output retries with exponential backoff, then succeeds (output/http.rs:181-210)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/flaky", { exchange =>
      // first two attempts fail, the third succeeds
      try exchange.sendResponseHeaders(if (hits.incrementAndGet() <= 2) 503 else 200, -1)
      finally exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/flaky"
      // retry_count=3 rides through sinkFromConf like the reference config
      val sink = Engine.sinkFromConf(ComponentConf("http",
        Map("url" -> url, "retry_count" -> "3")))
      sink.write(Seq(1L).toDF("id").coalesce(1), batchId = 0L)
      assert(hits.get() == 3, s"expected 2 failures + 1 success, got ${hits.get()} attempts")
      // with retries exhausted the batch still fails loudly
      hits.set(-100) // next 102 responses are 503
      intercept[org.apache.spark.SparkException] {
        HttpOutputSink(url, retryCount = 1).write(Seq(1L).toDF("id"), batchId = 1L)
      }
    } finally server.stop(0)
  }

  test("sql processor with a config-declared jdbc lookup (processor/sql.rs temporary_list)") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE rooms ("sensor" VARCHAR(32), "room" VARCHAR(32))""",
      """INSERT INTO rooms VALUES ('temp_1', 'room_a'), ('temp_2', 'room_b')""")
    val procs = Processors.fromConf(Seq(ComponentConf("sql", Map(
      "query" -> "SELECT f.sensor, s.room FROM flow f JOIN sensors s ON f.sensor = s.skey",
      "lookup_name" -> "sensors",
      "lookup_kind" -> "sql",
      "lookup_key" -> "sensor",
      "lookup_remote_key" -> "skey",
      "url" -> url,
      "select_sql" -> """SELECT "sensor" AS skey, "room" AS room FROM rooms"""))))
    val out = procs.head(Seq(("temp_1", 1L)).toDF("sensor", "value"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("temp_1", "room_a")))
  }

  test("generate input with a total count EOFs as a batch (input/generate.rs)") {
    val df = Engine.inputFromConf(spark, ComponentConf("generate", Map(
      "context" -> """{"v": 9}""", "count" -> "4")))
    assert(!df.isStreaming)
    val out = Processors.JsonToArrow()(df)
    assert(out.select("v").as[Long].collect().toSeq == Seq(9L, 9L, 9L, 9L))
  }

  test("yaml config drives file input -> sql processor -> jdbc output end-to-end") {
    val url = derbyUrl()
    Jdbc.execute(url,
      """CREATE TABLE nation_counts ("n_regionkey" BIGINT, "n" BIGINT, "batch_id" BIGINT)""")
    val conf = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: file
         |      format: parquet
         |      path: /root/testdata/sf0.001/nation.parquet
         |      query: "SELECT n_regionkey, count(*) AS n FROM flow GROUP BY n_regionkey"
         |    output:
         |      type: sql
         |      url: "$url"
         |      table: nation_counts
         |""".stripMargin)
    Engine.run(spark, conf)
    val back = Jdbc.read(spark, Map("url" -> url,
      "select_sql" -> """SELECT "n_regionkey", "n" FROM nation_counts"""))
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
      Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)))
  }

  test("kafka sink options map the reference output config incl. EOS boundary") {
    val opts = Engine.kafkaSinkOptions(Map(
      "brokers" -> "b1:9092", "topic" -> "out",
      "compression" -> "lz4", "client_id" -> "c1",
      "exactly_once" -> "true", "transactional_id" -> "tx-graft-1"))
    assert(opts("kafka.bootstrap.servers") == "b1:9092")
    assert(opts("topic") == "out")
    assert(opts("kafka.compression.type") == "lz4")
    assert(opts("kafka.client.id") == "c1")
    // exactly_once must NEVER configure transactional.id on Spark's
    // producer: Spark never calls initTransactions(), so a transactional
    // producer throws IllegalStateException on the first send() — the EOS
    // guarantee is idempotence + checkpointed batch_id headers instead.
    assert(!opts.contains("kafka.transactional.id"))
    assert(opts("kafka.enable.idempotence") == "true")
    assert(opts("kafka.acks") == "all", "idempotence requires acks=all")
    // without exactly_once neither idempotence nor acks are forced
    val plain = Engine.kafkaSinkOptions(Map("topic" -> "t", "acks" -> "1"))
    assert(!plain.contains("kafka.enable.idempotence"))
    assert(plain("kafka.acks") == "1")
    // sinkFromConf resolves the kafka kind
    assert(Engine.sinkFromConf(ComponentConf("kafka",
      Map("topic" -> "t"))).isInstanceOf[Engine.KafkaSink])
  }

  test("kafka sink topic-as-expression projects a per-row topic column (output/kafka.rs Expr<String> topic)") {
    import spark.implicits._
    val batch = Seq((0, "a"), (1, "b")).toDF("v", Codecs.ValueCol)
    val recs = Engine.kafkaRecords(batch,
      Map("topic_expr" -> "concat('t-', cast(v % 2 as string))"), 5L)
      .collect().map(r => (r.getAs[String]("topic"),
        new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toSeq.sorted
    assert(recs == Seq(("t-0", "a"), ("t-1", "b")))
    // with topic_expr the static topic option disappears (the writer
    // must route by the column) and no static topic is required
    val opts = Engine.kafkaSinkOptions(Map("topic_expr" -> "x"))
    assert(!opts.contains("topic"))
    // static topic still maps when no expression is configured, and the
    // batch_id header rides in both shapes
    val static = Engine.kafkaRecords(batch, Map("topic" -> "t"), 9L).collect().head
    assert(!Engine.kafkaRecords(batch, Map("topic" -> "t"), 9L).columns.contains("topic"))
    val hdr = static.getAs[Seq[org.apache.spark.sql.Row]]("headers").head
    assert(hdr.getString(0) == "batch_id" &&
      new String(hdr.getAs[Array[Byte]](1), "UTF-8") == "9")
  }
}
