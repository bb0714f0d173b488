package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pulsar protocol client verified against an in-memory broker speaking
  * the public binary protocol (frames, magic+CRC-32C message framing,
  * the CONNECT/PRODUCER/SEND/SUBSCRIBE/MESSAGE/ACK command subset), plus
  * the pure config-surface mappings from pulsar/common.rs.
  *
  * The fake's frame encode/decode is written independently here (not via
  * [[Pulsar.Pb]]'s frame writers) so a framing bug in the client can't
  * cancel itself out in the round-trip.
  */
class PulsarSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- fake Pulsar broker ----
  private final class FakePulsar {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val acked = new java.util.concurrent.atomic.AtomicInteger(0)
    val crcFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    // (topic, consumerId, out) — MESSAGE frames push here
    private val subscribers =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, BufferedOutputStream)]()
    private val entrySeq = new java.util.concurrent.atomic.AtomicLong(0)
    private val server = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort
    val serviceUrl: String = s"pulsar://127.0.0.1:$port"
    @volatile var lastAuthMethod: String = ""
    @volatile var lastAuthData: String = ""

    private def cmdFrame(cmd: Pulsar.Pb): Array[Byte] = {
      val c = cmd.toBytes
      val bb = ByteBuffer.allocate(8 + c.length)
      bb.putInt(4 + c.length).putInt(c.length).put(c).array()
    }

    private def msgFrame(consumerId: Long, ledger: Long, entry: Long,
        md: Array[Byte], payload: Array[Byte]): Array[Byte] = {
      val c = new Pulsar.Pb().int(1, Pulsar.MESSAGE.toLong).msg(9,
        new Pulsar.Pb().int(1, consumerId)
          .msg(2, new Pulsar.Pb().int(1, ledger).int(2, entry))).toBytes
      val after = ByteBuffer.allocate(4 + md.length + payload.length)
        .putInt(md.length).put(md).put(payload).array()
      val crc = new java.util.zip.CRC32C(); crc.update(after)
      val total = 4 + c.length + 2 + 4 + after.length
      ByteBuffer.allocate(4 + total).putInt(total).putInt(c.length).put(c)
        .putShort(0x0e01.toShort).putInt(crc.getValue.toInt).put(after).array()
    }

    private def handle(s: java.net.Socket): Unit = {
      val in = new BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream)
      val producerTopics = scala.collection.mutable.Map[Long, String]()
      def readFully(n: Int): Array[Byte] = {
        val buf = new Array[Byte](n); var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) throw new java.io.EOFException
          off += r
        }
        buf
      }
      def reply(b: Array[Byte]): Unit =
        out.synchronized { out.write(b); out.flush() }
      try while (true) {
        val totalSize = ByteBuffer.wrap(readFully(4)).getInt
        val body = readFully(totalSize)
        val cmdSize = ByteBuffer.wrap(body).getInt
        val cmd = ProtoWire.parse(java.util.Arrays.copyOfRange(body, 4, 4 + cmdSize))
        def sub(field: Int) = ProtoWire.parse(cmd(field).asInstanceOf[Array[Byte]])
        cmd(1).asInstanceOf[Long].toInt match {
          case Pulsar.CONNECT =>
            val c = sub(2)
            lastAuthMethod = c.get(5).map(b => new String(b.asInstanceOf[Array[Byte]], UTF_8)).getOrElse("")
            lastAuthData = c.get(3).map(b => new String(b.asInstanceOf[Array[Byte]], UTF_8)).getOrElse("")
            reply(cmdFrame(new Pulsar.Pb().int(1, Pulsar.CONNECTED.toLong)
              .msg(3, new Pulsar.Pb().str(1, "fake-pulsar").int(2, 21L))))
          case Pulsar.PRODUCER =>
            val p = sub(5)
            val topic = new String(p(1).asInstanceOf[Array[Byte]], UTF_8)
            val pid = p(2).asInstanceOf[Long]
            producerTopics(pid) = topic
            reply(cmdFrame(new Pulsar.Pb().int(1, Pulsar.PRODUCER_SUCCESS.toLong)
              .msg(17, new Pulsar.Pb().int(1, p(3).asInstanceOf[Long])
                .str(2, s"fake-prod-$pid"))))
          case Pulsar.SEND =>
            val sd = sub(6)
            val pid = sd(1).asInstanceOf[Long]
            val seq = sd(2).asInstanceOf[Long]
            // payload section: [0x0e01][crc][mdSize][md][payload]
            var pos = 4 + cmdSize
            val hasMagic = (body(pos) & 0xff) == 0x0e && (body(pos + 1) & 0xff) == 0x01
            if (hasMagic) {
              val sent = ByteBuffer.wrap(body, pos + 2, 4).getInt
              val crc = new java.util.zip.CRC32C()
              crc.update(body, pos + 6, body.length - pos - 6)
              if (crc.getValue.toInt != sent) crcFailures.incrementAndGet()
              pos += 6
            }
            val mdSize = ByteBuffer.wrap(body, pos, 4).getInt
            val md = java.util.Arrays.copyOfRange(body, pos + 4, pos + 4 + mdSize)
            val payload = java.util.Arrays.copyOfRange(body, pos + 4 + mdSize, body.length)
            val topic = producerTopics.getOrElse(pid, "?")
            received.add((topic, new String(payload, UTF_8)))
            subscribers.forEach { case (t, cid, sout) =>
              if (t == topic)
                sout.synchronized {
                  sout.write(msgFrame(cid, 7L, entrySeq.incrementAndGet(), md, payload))
                  sout.flush()
                }
            }
            reply(cmdFrame(new Pulsar.Pb().int(1, Pulsar.SEND_RECEIPT.toLong)
              .msg(7, new Pulsar.Pb().int(1, pid).int(2, seq)
                .msg(3, new Pulsar.Pb().int(1, 7L).int(2, seq)))))
          case Pulsar.SUBSCRIBE =>
            val sb = sub(4)
            subscribers.add((new String(sb(1).asInstanceOf[Array[Byte]], UTF_8),
              sb(4).asInstanceOf[Long], out))
            reply(cmdFrame(new Pulsar.Pb().int(1, Pulsar.SUCCESS.toLong)
              .msg(13, new Pulsar.Pb().int(1, sb(5).asInstanceOf[Long]))))
          case Pulsar.ACK => acked.incrementAndGet()
          case Pulsar.FLOW => ()
          case Pulsar.PING =>
            reply(cmdFrame(new Pulsar.Pb().int(1, Pulsar.PONG.toLong)
              .msg(19, new Pulsar.Pb())))
          case _ => ()
        }
      } catch { case _: java.io.EOFException | _: java.net.SocketException => () }
      finally s.close()
    }

    private val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => handle(s)); t.setDaemon(true); t.start()
      } catch { case _: java.net.SocketException => () }
    }, "fake-pulsar")
    acceptor.setDaemon(true); acceptor.start()
    def stop(): Unit = server.close()
  }

  test("pulsar output publishes per row and the input streams it back, acking each message (input/pulsar.rs, output/pulsar.rs)") {
    val broker = new FakePulsar
    try {
      val input = new Pulsar.PulsarInput(spark, broker.serviceUrl,
        "events", "graft-sub", "shared")
      Pulsar.PulsarSink(broker.serviceUrl, "'events'", "msg")
        .write(Seq("""{"v": 1}""", """{"v": 2}""").toDF("msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.received.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300) // let the reader thread drain the MESSAGE frames
      assert(broker.acked.get() == 0,
        "deferred acks: nothing may be ACKed before a checkpoint commit")
      val sink = new Engine.MemorySink
      // continuous trigger: deferred acks ride the CHECKPOINT COMMIT,
      // which Spark performs as the next batch is constructed — the
      // query must keep triggering for the commit (and its acks) to land
      val q = Engine.start(input.toDF,
        Seq(Processors.JsonToArrow(Seq("v"))), sink,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      // Spark commits batch N's source offsets while constructing batch
      // N+1, so a quiet stream leaves the tail unacked until the next
      // arrival (the broker's redelivery covers a crash in that window)
      // — nudge a follow-up message to drive the commit
      val ackDeadline = System.nanoTime() + 15e9.toLong
      while (broker.acked.get() < 2 && System.nanoTime() < ackDeadline) {
        Pulsar.PulsarSink(broker.serviceUrl, "'events'", "msg")
          .write(Seq("""{"v": 9}""").toDF("msg"), 1L)
        q.processAllAvailable()
        Thread.sleep(100)
      }
      q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq.startsWith(Seq(1L, 2L)))
      assert(broker.crcFailures.get() == 0, "client CRC-32C must verify broker-side")
      assert(broker.acked.get() >= 2,
        "each delivered message is ACKed once the batch holding it commits")
    } finally broker.stop()
  }

  test("pulsar sink routes rows to per-row expression topics with one producer per topic") {
    val broker = new FakePulsar
    try {
      Pulsar.PulsarSink(broker.serviceUrl,
        "concat('t-', cast(v % 2 as string))", "msg")
        .write(Seq((0, "a"), (1, "b"), (2, "c")).toDF("v", "msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.received.size < 3 && System.nanoTime() < deadline) Thread.sleep(20)
      val got = broker.received.toArray(Array.empty[(String, String)]).toSeq.sorted
      assert(got == Seq(("t-0", "a"), ("t-0", "c"), ("t-1", "b")))
    } finally broker.stop()
  }

  test("pulsar input is config-reachable via the engine registry with nested auth, and token auth reaches the broker") {
    val broker = new FakePulsar
    try {
      val df = Engine.inputFromConf(spark, ComponentConf("pulsar", Map(
        "service_url" -> broker.serviceUrl,
        "topic" -> "cfg-topic",
        "subscription_name" -> "cfg-sub",
        "auth.type" -> "token", "auth.token" -> "secret-tok")))
      assert(df.isStreaming)
      assert(df.columns.toSeq ==
        Seq(Codecs.ValueCol, "__meta_topic", "__meta_message_id"))
      assert(broker.lastAuthMethod == "token")
      assert(broker.lastAuthData == "secret-tok")
      Engine.closeConfigInputs()
    } finally broker.stop()
  }

  test("pulsar sink is config-reachable; Expr<String> topic forms map like the reference (output/pulsar.rs topic)") {
    val s = Engine.sinkFromConf(ComponentConf("pulsar", Map(
      "service_url" -> "pulsar://h:6650", "topic" -> "plain-topic")))
    assert(s.asInstanceOf[Pulsar.PulsarSink].topicExpr == "'plain-topic'")
    assert(Config.expr(Map("topic.type" -> "value",
      "topic.value" -> "persistent://t/n/x"), "topic") == Some(Left("persistent://t/n/x")))
    assert(Config.expr(Map("topic.type" -> "expr",
      "topic.expr" -> "concat('a', b)"), "topic") == Some(Right("concat('a', b)")))
    def sinkTopic(o: Map[String, String]) = Engine.sinkFromConf(ComponentConf("pulsar",
      o + ("service_url" -> "pulsar://h:6650"))).asInstanceOf[Pulsar.PulsarSink].topicExpr
    assert(sinkTopic(Map("topic.type" -> "value",
      "topic.value" -> "persistent://t/n/x")) == "'persistent://t/n/x'")
    assert(sinkTopic(Map("topic.type" -> "expr",
      "topic.expr" -> "concat('a', b)")) == "concat('a', b)")
  }

  test("a YAML pulsar output's auth and topic blocks reach the sink verbatim, " +
      "commas and equals signs included") {
    val conf = Config.fromYaml(
      """streams:
        |  - input:
        |      type: generate
        |      count: 1
        |    output:
        |      type: pulsar
        |      service_url: pulsar://h:6650
        |      topic:
        |        type: expr
        |        expr: "concat('t-', cast(id AS STRING))"
        |      auth:
        |        type: token
        |        token: "a,b=c"
        |""".stripMargin)
    val s = Engine.sinkFromConf(conf.streams.head.output)
      .asInstanceOf[Pulsar.PulsarSink]
    assert(s.auth == Map("type" -> "token", "token" -> "a,b=c"))
    assert(s.topicExpr == "concat('t-', cast(id AS STRING))")
  }

  test("config validation matches pulsar/common.rs rules") {
    Pulsar.validateServiceUrl("pulsar://host:6650")
    Pulsar.validateServiceUrl("pulsar+ssl://host:6651")
    intercept[IllegalArgumentException](Pulsar.validateServiceUrl("http://x"))
    intercept[IllegalArgumentException](Pulsar.validateServiceUrl("pulsar://"))
    intercept[IllegalArgumentException](Pulsar.validateServiceUrl(""))

    Pulsar.validateTopic("persistent://tenant/ns/topic")
    Pulsar.validateTopic("my-ns/my-topic")
    intercept[IllegalArgumentException](Pulsar.validateTopic("a..b"))
    intercept[IllegalArgumentException](Pulsar.validateTopic("/lead"))
    intercept[IllegalArgumentException](Pulsar.validateTopic("trail/"))
    intercept[IllegalArgumentException](Pulsar.validateTopic("a" * 256))
    intercept[IllegalArgumentException](Pulsar.validateTopic("x//y"))

    Pulsar.validateSubscription("sub-1._x")
    intercept[IllegalArgumentException](Pulsar.validateSubscription("bad sub"))
    intercept[IllegalArgumentException](Pulsar.validateSubscription(""))

    assert(Seq("exclusive", "shared", "failover", "key_shared")
      .map(Pulsar.subTypeCode) == Seq(0, 1, 2, 3))
    intercept[IllegalArgumentException](Pulsar.subTypeCode("nope"))
  }

  test("auth payload mapping: token raw bytes, oauth2 client_credentials JSON (pulsar/common.rs:60-92)") {
    assert(Pulsar.authPayload(Map.empty).isEmpty)
    val Some((tn, td)) = Pulsar.authPayload(Map("type" -> "token", "token" -> "abc"))
    assert(tn == "token" && new String(td, UTF_8) == "abc")
    intercept[IllegalArgumentException](
      Pulsar.authPayload(Map("type" -> "token", "token" -> "")))
    intercept[IllegalArgumentException](
      Pulsar.authPayload(Map("type" -> "token", "token" -> "a" * 4097)))
    val Some((on, od)) = Pulsar.authPayload(Map("type" -> "oauth2",
      "issuer_url" -> "https://i", "credentials_url" -> "file:///c",
      "audience" -> "aud"))
    assert(on == "oauth2")
    val doc = new String(od, UTF_8)
    assert(doc.contains("\"type\":\"client_credentials\"") &&
      doc.contains("\"issuer_url\":\"https://i\"") &&
      doc.contains("\"audience\":\"aud\""))
    intercept[IllegalArgumentException](
      Pulsar.authPayload(Map("type" -> "oauth2", "issuer_url" -> "")))
  }

  test("retry schedule: exponential backoff capped at max (pulsar/common.rs RetryConfig)") {
    assert(Pulsar.retryDelaysMs(4, 100, 5000, 2.0) == Seq(100L, 200L, 400L, 800L))
    assert(Pulsar.retryDelaysMs(8, 100, 1000, 2.0).max == 1000L)
    intercept[IllegalArgumentException](Pulsar.retryDelaysMs(0, 100, 5000, 2.0))
    intercept[IllegalArgumentException](Pulsar.retryDelaysMs(3, 0, 5000, 2.0))
    intercept[IllegalArgumentException](Pulsar.retryDelaysMs(3, 100, 50, 2.0))
    intercept[IllegalArgumentException](Pulsar.retryDelaysMs(3, 100, 5000, 1.0))
  }
}
