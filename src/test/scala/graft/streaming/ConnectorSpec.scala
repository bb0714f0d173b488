package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 connector coverage on in-sandbox endpoints: influxdb line
  * protocol + write API (embedded HTTP server), websocket client input
  * (hand-rolled RFC6455 test server), and the redis trio over a
  * from-scratch in-memory RESP server.
  */
class ConnectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- influxdb ----

  test("influx line protocol escapes measurements, tags and string fields") {
    val df = Seq(("us west", "q=1", 42L, 1.5, "say \"hi\"", 1625000000000000000L))
      .toDF("region", "oddtag", "count", "temp", "note", "ts")
    val line = Influx.lineProtocol(df, "cpu load", Seq("region", "oddtag"),
      Seq("count", "temp", "note"), Some("ts")).as[String].collect().head
    assert(line ==
      "cpu\\ load,region=us\\ west,oddtag=q\\=1 " +
        "count=42i,temp=1.5,note=\"say \\\"hi\\\"\" 1625000000000000000")
  }

  test("influx sink POSTs line protocol to /api/v2/write with token auth") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val auth = new java.util.concurrent.atomic.AtomicReference[String]()
    val query = new java.util.concurrent.atomic.AtomicReference[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/write", { ex =>
      try {
        auth.set(ex.getRequestHeaders.getFirst("Authorization"))
        query.set(ex.getRequestURI.getQuery)
        received.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(204, -1)
      } finally ex.close()
    })
    server.start()
    try {
      val sink = Influx.InfluxSink(Map(
        "url" -> s"http://127.0.0.1:${server.getAddress.getPort}",
        "org" -> "graft", "bucket" -> "b1", "token" -> "tok-42",
        "measurement" -> "sensors", "tags" -> "sensor",
        "fields" -> "value", "time_col" -> "ts"))
      sink.write(Seq(("temp_1", 10.5, 111L), ("temp_2", 0.5, 222L))
        .toDF("sensor", "value", "ts").coalesce(1), batchId = 0L)
      assert(auth.get() == "Token tok-42")
      assert(query.get().contains("org=graft") && query.get().contains("bucket=b1"))
      val lines = received.toArray(Array.empty[String]).flatMap(_.split("\n")).sorted
      assert(lines.toSeq == Seq(
        "sensors,sensor=temp_1 value=10.5 111",
        "sensors,sensor=temp_2 value=0.5 222"))
    } finally server.stop(0)
  }

  test("an influxdb output without `token` fails at build and names the key") {
    val e = intercept[IllegalArgumentException](Engine.sinkFromConf(
      ComponentConf("influxdb", Map("url" -> "http://127.0.0.1:9",
        "org" -> "graft", "bucket" -> "b1", "measurement" -> "m",
        "fields" -> "value"))))
    assert(e.getMessage.contains("token"), e.getMessage)
  }

  test("http server input rate-limits and locks out failed auth (http.rs middleware)") {
    val port = {
      val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p
    }
    val http = new HttpInput(spark, port, bearerToken = Some("tok"),
      maxRequestsPerSecond = Some(3), authLockoutAfter = 2)
    try {
      def post(token: Option[String]): Int = {
        val conn = new java.net.URI(http.boundAddress).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
        conn.getOutputStream.write("{}".getBytes(StandardCharsets.UTF_8))
        val code = conn.getResponseCode; conn.disconnect(); code
      }
      // token bucket: 3 requests pass, the 4th inside the same second is 429
      val codes = (1 to 4).map(_ => post(Some("tok")))
      assert(codes.take(3).forall(_ == 200) && codes(3) == 429, s"got $codes")
      // two failed auths -> locked out (403) even with the right token
      assert(post(Some("bad")) == 401)
      assert(post(Some("bad")) == 401)
      assert(post(Some("tok")) == 403, "lockout must engage after repeated failures")
    } finally http.stop()
  }

  test("http server input Basic auth: valid, wrong-password, malformed, and " +
      "missing credentials (input/http.rs:43-44, 252-285)") {
    val port = {
      val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p
    }
    val http = new HttpInput(spark, port,
      basicAuth = Some(("alice", "s3cret")))
    try {
      def post(header: Option[String]): Int = {
        val conn = new java.net.URI(http.boundAddress).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        header.foreach(h => conn.setRequestProperty("Authorization", h))
        conn.getOutputStream.write("{}".getBytes(StandardCharsets.UTF_8))
        val code = conn.getResponseCode; conn.disconnect(); code
      }
      def basic(cred: String): String =
        "Basic " + java.util.Base64.getEncoder.encodeToString(
          cred.getBytes(StandardCharsets.UTF_8))
      assert(post(Some(basic("alice:s3cret"))) == 200)
      assert(post(Some(basic("alice:wrong"))) == 401)
      assert(post(Some(basic("bob:s3cret"))) == 401)
      assert(post(Some(basic("no-colon-here"))) == 401, "credential without ':'")
      assert(post(Some("Basic %%%not-base64%%%")) == 401, "malformed base64 is a 401, not a 500")
      assert(post(Some("Bearer s3cret")) == 401, "wrong scheme")
      assert(post(None) == 401, "missing header")
      // Basic-authed posts really land in the stream
      assert(post(Some(basic("alice:s3cret"))) == 200)
    } finally http.stop()
  }

  test("humantime config durations parse like the reference (config duration tests)") {
    assert(Config.parseDurationMs("5s") == 5000L)
    assert(Config.parseDurationMs("100ms") == 100L)
    assert(Config.parseDurationMs("2m") == 120000L)
    assert(Config.parseDurationMs("1h") == 3600000L)
    assert(Config.parseDurationMs("1500us") == 1L)
    assert(Config.parseDurationMs("2000000ns") == 2L)
    assert(Config.parseDurationMs("250") == 250L) // bare number = ms
    intercept[IllegalArgumentException](Config.parseDurationMs("soon"))
    assert(Config.triggerInterval("5s") == "5000 milliseconds")
    assert(Config.triggerInterval("5 seconds") == "5 seconds") // Spark syntax passes
  }

  test("http client-mode input polls an endpoint with EOF semantics (input/http.rs client)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", { ex =>
      try {
        val ok = Option(ex.getRequestHeaders.getFirst("Authorization"))
          .contains("Bearer poll-tok")
        if (!ok) ex.sendResponseHeaders(401, -1)
        else {
          val body = "{\"v\": 1}\n{\"v\": 2}\n".getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body)
        }
      } finally ex.close()
    })
    server.start()
    try {
      val df = Engine.inputFromConf(spark, ComponentConf("http", Map(
        "url" -> s"http://127.0.0.1:${server.getAddress.getPort}/feed",
        "bearer_token" -> "poll-tok", "split_lines" -> "true")))
      val out = Processors.JsonToArrow()(df)
      assert(out.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally server.stop(0)
  }

  // ---- websocket ----

  /** Single-connection RFC6455 server: HTTP upgrade handshake, then
    * server->client unmasked text frames, then binary frames. */
  private def wsServer(messages: Seq[String],
      binary: Seq[Array[Byte]] = Nil): (Int, Thread) = {
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val s = server.accept()
      try {
        val in = new BufferedInputStream(s.getInputStream)
        val out = new BufferedOutputStream(s.getOutputStream)
        // read handshake headers
        val req = new StringBuilder
        var prev = 0
        while (!req.endsWith("\r\n\r\n")) { prev = in.read(); req.append(prev.toChar) }
        val key = req.toString.linesIterator
          .find(_.toLowerCase.startsWith("sec-websocket-key:"))
          .get.split(":", 2)(1).trim
        val accept = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-1").digest(
            (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.UTF_8)))
        out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
          s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
          .getBytes(StandardCharsets.UTF_8))
        out.flush()
        (messages.map(m => (0x81, m.getBytes(StandardCharsets.UTF_8))) ++
            binary.map((0x82, _))).foreach { case (first, payload) =>
          out.write(first) // FIN + text (1) or binary (2) opcode
          if (payload.length < 126) out.write(payload.length)
          else { out.write(126); out.write(payload.length >> 8); out.write(payload.length & 0xff) }
          out.write(payload)
          out.flush()
        }
        out.write(0x88); out.write(0x00); out.flush() // close frame
        Thread.sleep(500) // let the client read before the socket dies
      } finally { s.close(); server.close() }
    }, "graft-ws-test-server")
    t.setDaemon(true); t.start()
    (server.getLocalPort, t)
  }

  test("websocket input streams server frames into the engine (input/websocket.rs)") {
    val msgs = Seq(
      """{"sensor": "w1", "value": 1}""",
      """{"sensor": "w2", "value": 2}""")
    val (port, _) = wsServer(msgs)
    val ws = new WebSocketInput(spark, s"ws://127.0.0.1:$port/stream")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!ws.isClosed && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ws.isClosed, "server close frame never arrived")
    val sink = new Engine.MemorySink
    val q = Engine.start(ws.toDF,
      Seq(Processors.JsonToArrow(),
        Processors.SqlProcessor("SELECT sensor, value FROM flow")),
      sink)
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("w1", 1L), ("w2", 2L)))
  }

  test("websocket input keeps a binary frame as one __value__ row, byte for byte") {
    val bytes = Array(0x08, 0x96, 0x01, 0xff, 0xfe).map(_.toByte)
    val (port, _) = wsServer(Nil, binary = Seq(bytes))
    val ws = new WebSocketInput(spark, s"ws://127.0.0.1:$port/stream")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!ws.isClosed && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ws.isClosed, "server close frame never arrived")
    val sink = new Engine.MemorySink
    val q = Engine.start(ws.toDF, Nil, sink)
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(_.getAs[Array[Byte]](Codecs.ValueCol).toSeq) == Seq(bytes.toSeq))
  }

  // ---- redis ----

  // FakeRedis (shared RESP2 stub) lives in FakeRedis.scala

  test("redis sink writes SET per row from executors; replay is idempotent (output/redis.rs)") {
    val redis = new FakeRedis
    try {
      val sink = Redis.RedisSink("127.0.0.1", redis.port, "set",
        "concat('sensor:', sensor)", "value")
      val batch = Seq(("t1", 10L), ("t2", 20L)).toDF("sensor", "value")
      sink.write(batch, 0L)
      sink.write(batch, 0L) // replay overwrites the same keys
      assert(redis.strings.toMap ==
        Map("sensor:t1" -> "10", "sensor:t2" -> "20"))
    } finally redis.stop()
  }

  test("redis temporary lookup MGETs the batch's keys and joins (plugin/temporary/redis.rs)") {
    val redis = new FakeRedis
    try {
      redis.strings ++= Map("temp_1" -> "room_a", "temp_2" -> "room_b", "temp_9" -> "room_z")
      val batch = Seq(("temp_1", 5L), ("temp_2", 7L)).toDF("sensor", "value")
      val provider = Redis.lookupProvider(spark, "127.0.0.1", redis.port, "sensor")
      val out = Processors.LookupSqlProcessor(
        "SELECT f.sensor, f.value, r.value AS room FROM flow f JOIN rooms r ON f.sensor = r.key",
        "flow", Seq(Processors.TemporaryLookup("rooms", provider)))(batch)
      assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ==
        Set(("temp_1", 5L, "room_a"), ("temp_2", 7L, "room_b")))
    } finally redis.stop()
  }

  test("redis lookup chunks MGET over ALL keys — no silent truncation — and fails loudly past maxKeys") {
    val redis = new FakeRedis
    try {
      redis.strings ++= (1 to 5).map(i => s"k$i" -> s"v$i").toMap
      val batch = (1 to 5).map(i => s"k$i").toDF("k")
      // chunk size 2 over 5 keys -> 3 MGET commands, every key resolved
      val provider = Redis.lookupProvider(spark, "127.0.0.1", redis.port,
        "k", maxKeys = 100, mgetChunk = 2)
      val out = provider(batch).collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(out == (1 to 5).map(i => (s"k$i", s"v$i")).toSet,
        "chunked MGET dropped keys")
      assert(redis.mgetCalls.get() == 3, s"expected 3 MGET chunks, got ${redis.mgetCalls.get()}")
      // beyond maxKeys the lookup must fail loudly, not null out overflow keys
      val overflow = Redis.lookupProvider(spark, "127.0.0.1", redis.port,
        "k", maxKeys = 3)
      val e = intercept[IllegalStateException](overflow(batch).collect())
      assert(e.getMessage.contains("distinct keys"))
    } finally redis.stop()
  }

  test("redis url parsing honors db and userinfo, rejects rediss:// and " +
      "malformed parts loudly (component/redis.rs Mode::Single)") {
    assert(Redis.parseUrl("redis://h") == Redis.Endpoint("h", 6379))
    assert(Redis.parseUrl("redis://h:6380") == Redis.Endpoint("h", 6380))
    assert(Redis.parseUrl("redis://h:6380/2") == Redis.Endpoint("h", 6380, db = 2))
    assert(Redis.parseUrl("redis://h/3") == Redis.Endpoint("h", 6379, db = 3))
    assert(Redis.parseUrl("redis://alice:secret@h:7000/1") ==
      Redis.Endpoint("h", 7000, 1, Some("alice"), Some("secret")))
    assert(Redis.parseUrl("redis://:secret@h") ==
      Redis.Endpoint("h", 6379, 0, None, Some("secret")))
    intercept[IllegalArgumentException](Redis.parseUrl("rediss://h:6379"))
    intercept[IllegalArgumentException](Redis.parseUrl("redis://h/not-a-db"))
    intercept[IllegalArgumentException](Redis.parseUrl("redis://h:port"))
  }

  test("redis connection issues AUTH then SELECT at connect for userinfo/db urls") {
    val redis = new FakeRedis
    try {
      val conn = new Redis.Conn(Redis.parseUrl(s"redis://u:pw@127.0.0.1:${redis.port}/2"))
      try { conn.command("SET", "k", "v"); () } finally conn.close()
      assert(redis.auths.toArray(Array.empty[Seq[String]]).toSeq == Seq(Seq("u", "pw")))
      assert(redis.selects.toArray(Array.empty[Integer]).toSeq == Seq(2))
      // db 0 / no auth: no commands sent
      val plain = new Redis.Conn(Redis.parseUrl(s"redis://127.0.0.1:${redis.port}"))
      try { plain.command("GET", "k"); () } finally plain.close()
      assert(redis.auths.size == 1 && redis.selects.size == 1)
    } finally redis.stop()
  }

  test("temporary key extraction filters nulls BEFORE the maxKeys limit " +
      "(a null can never occupy the overflow slot and mask dropped keys)") {
    // 3 distinct real keys + nulls, maxKeys=2: MUST overflow loudly
    val batch = Seq(Some("a"), Some("b"), Some("c"), None, None).toDF("k")
    val keysFn = Redis.temporaryKeys(
      Map("key.type" -> "expr", "key.expr" -> "k"), maxKeys = 2)
    val e = intercept[IllegalStateException](keysFn(batch))
    assert(e.getMessage.contains("distinct keys"))
    // within bounds: nulls dropped, all real keys kept
    val ok = Redis.temporaryKeys(
      Map("key.type" -> "expr", "key.expr" -> "k"), maxKeys = 10)(batch)
    assert(ok.sorted == Seq("a", "b", "c"))
  }

  test("unsupported temporary codec fails at BUILD time (processor " +
      "construction), not at the first micro-batch") {
    val conf = Config.fromYaml(
      """streams:
        |  - input: { type: generate, context: '{"x": 1}', count: "1" }
        |    temporary:
        |      - name: t1
        |        type: redis
        |        mode: { type: single, url: "redis://127.0.0.1:6379" }
        |        codec: { type: msgpack }
        |    pipeline:
        |      processors:
        |        - type: sql
        |          query: "SELECT * FROM flow"
        |          temporary_list:
        |            - name: t1
        |              table_name: t1_table
        |              key: { type: value, value: k }
        |    output: { type: stdout }
        |""".stripMargin)
    val s = conf.streams.head
    val e = intercept[IllegalArgumentException](
      Processors.fromConf(s.processors, s.temporaries))
    assert(e.getMessage.contains("msgpack"))
  }

  test("lookup temp views are dropped after the query is analyzed — no " +
      "leak into other streams sharing the session") {
    val redis = new FakeRedis
    try {
      redis.strings ++= Map("temp_1" -> "room_a")
      val batch = Seq(("temp_1", 5L)).toDF("sensor", "value")
      val provider = Redis.lookupProvider(spark, "127.0.0.1", redis.port, "sensor")
      val out = Processors.LookupSqlProcessor(
        "SELECT f.sensor, r.value AS room FROM flow f JOIN lkp_rooms r ON f.sensor = r.key",
        "flow", Seq(Processors.TemporaryLookup("lkp_rooms", provider)))(batch)
      assert(!spark.catalog.tableExists("lkp_rooms"),
        "temp view must not outlive the processor call")
      // the returned frame still executes (the view resolved eagerly)
      assert(out.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("temp_1", "room_a")))
    } finally redis.stop()
  }

  test("protocol clients raise EOFException on peer disconnect mid-reply (never spin)") {
    // a server that accepts, writes a PARTIAL reply, then closes
    def partialServer(partial: Array[Byte]): java.net.ServerSocket = {
      val srv = new java.net.ServerSocket(0, 4, java.net.InetAddress.getByName("127.0.0.1"))
      val t = new Thread(() => {
        try {
          val s = srv.accept()
          s.getOutputStream.write(partial); s.getOutputStream.flush()
          Thread.sleep(100); s.close()
        } catch { case _: Exception => () }
      })
      t.setDaemon(true); t.start()
      srv
    }
    // redis: simple-string reply cut before \r\n
    val r = partialServer("+OK".getBytes(StandardCharsets.UTF_8))
    try {
      val conn = new Redis.Conn("127.0.0.1", r.getLocalPort)
      try intercept[java.io.EOFException](conn.command("PING"))
      finally conn.close()
    } finally r.close()
    // nats: INFO line cut mid-line (constructor reads it)
    val n = partialServer("INFO {".getBytes(StandardCharsets.UTF_8))
    try intercept[java.io.EOFException](new Nats.Conn("127.0.0.1", n.getLocalPort))
    finally n.close()
    // mqtt: CONNACK first byte sent, remaining-length varint cut by close
    val m = partialServer(Array[Byte](0x20))
    try intercept[java.io.EOFException](new Mqtt.Conn("127.0.0.1", m.getLocalPort, "c1"))
    finally m.close()
  }

  test("redis input drains a list with EOF semantics (input/redis.rs)") {
    val redis = new FakeRedis
    try {
      val seed = new Redis.Conn("127.0.0.1", redis.port)
      try Seq("""{"v": 3}""", """{"v": 2}""", """{"v": 1}""")
        .foreach(m => seed.command("LPUSH", "q", m))
      finally seed.close()
      val df = Engine.inputFromConf(spark, ComponentConf("redis", Map(
        "host" -> "127.0.0.1", "port" -> redis.port.toString,
        "mode" -> "list", "key" -> "q")))
      val out = Processors.JsonToArrow()(df)
      assert(out.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // drained: a second poll yields an empty batch
      assert(Redis.read(spark, Map("host" -> "127.0.0.1",
        "port" -> redis.port.toString, "mode" -> "list", "key" -> "q")).count() == 0)
    } finally redis.stop()
  }

  test("redis publish mode sends one message per row") {
    val redis = new FakeRedis
    try {
      Redis.RedisSink("127.0.0.1", redis.port, "publish", "'events'", "sensor")
        .write(Seq("a", "b").toDF("sensor"), 0L)
      assert(redis.published.toArray(Array.empty[(String, String)]).toSet ==
        Set(("events", "a"), ("events", "b")))
    } finally redis.stop()
  }
}
