package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** NATS / MQTT / Modbus protocol clients verified against in-memory
  * broker/device implementations of each wire protocol.
  */
class BrokerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- fake NATS server ----
  private final class FakeNats {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val jsAcks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var lastConnect = ""
    private val subscribers =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String, BufferedOutputStream)]()
    // ---- JetStream state: per-stream message log, per-durable cursor,
    // unfulfilled pull requests waiting for a publish ----
    private val jsLock = new Object
    private val jsStreams = scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuffer[String]]()
    private val jsCursors = scala.collection.mutable.Map[(String, String), Int]()
    // highest CONTIGUOUS acked sequence per durable — JetStream's ack
    // floor: a RE-CREATED durable resumes delivery from here, so
    // delivered-but-unacked messages REDELIVER (the crash-recovery
    // semantics the commit-deferred acks exist for)
    private val jsAckFloor = scala.collection.mutable.Map[(String, String), Int]()
    private val jsPending = scala.collection.mutable.ArrayBuffer[(String, String, String)]() // (stream, durable, inbox)
    private val server = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort

    /** false when no live subscriber took the message (dead inboxes are
      * pruned — a pull fulfilled toward a closed consumer must NOT
      * advance the durable cursor). */
    private def sendMsg(inbox: String, reply: Option[String], payload: String): Boolean = {
      var delivered = false
      subscribers.forEach { case sub @ (subj, sid, sout) =>
        if (subj == inbox)
          try sout.synchronized {
            val r = reply.map(" " + _).getOrElse("")
            sout.write(s"MSG $inbox $sid$r ${payload.getBytes(StandardCharsets.UTF_8).length}\r\n$payload\r\n"
              .getBytes(StandardCharsets.UTF_8))
            sout.flush()
            delivered = true
          } catch {
            case _: java.io.IOException => subscribers.remove(sub)
          }
      }
      delivered
    }

    /** Seed a JetStream stream; fulfills any waiting pull request. */
    def jsPublish(stream: String, payload: String): Unit = jsLock.synchronized {
      jsStreams.getOrElseUpdate(stream, scala.collection.mutable.ArrayBuffer()) += payload
      fulfill()
    }

    private def fulfill(): Unit = { // callers hold jsLock
      var i = 0
      while (i < jsPending.length) {
        val (stream, durable, inbox) = jsPending(i)
        val log = jsStreams.getOrElse(stream, scala.collection.mutable.ArrayBuffer())
        val cur = jsCursors.getOrElse((stream, durable), 0)
        if (cur < log.length) {
          jsPending.remove(i)
          if (sendMsg(inbox, Some(s"$$JS.ACK.$stream.$durable.${cur + 1}"), log(cur)))
            jsCursors((stream, durable)) = cur + 1
          // dead consumer: pending entry dropped, cursor NOT advanced —
          // the message stays for the durable's next pull
        } else i += 1
      }
    }

    private def handle(s: java.net.Socket): Unit = {
      val in = new BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream)
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        if (c == -1) throw new java.io.EOFException
        while (c != '\r') { sb.append(c.toChar); c = in.read() }
        in.read(); sb.toString
      }
      out.write("INFO {}\r\n".getBytes(StandardCharsets.UTF_8)); out.flush()
      try while (true) {
        val parts = line().split(" ")
        parts.head match {
          case "CONNECT" => lastConnect = parts.drop(1).mkString(" ")
          case "SUB" =>
            // SUB <subject> [group] <sid>
            subscribers.add((parts(1), parts.last, out))
          case "PUB" =>
            // PUB <subject> [reply-to] <#bytes>
            val subject = parts(1)
            val reply = if (parts.length == 4) Some(parts(2)) else None
            val n = parts.last.toInt
            val buf = new Array[Byte](n)
            var off = 0
            while (off < n) off += in.read(buf, off, n - off)
            in.read(); in.read()
            val payload = new String(buf, StandardCharsets.UTF_8)
            if (subject.startsWith("$JS.API.CONSUMER.DURABLE.CREATE.")) {
              val Array(stream, durable) =
                subject.stripPrefix("$JS.API.CONSUMER.DURABLE.CREATE.").split("\\.", 2)
              jsLock.synchronized {
                // (re-)creating a durable resets delivery to the ACK
                // FLOOR: anything delivered but never +ACKed redelivers
                jsCursors((stream, durable)) =
                  jsAckFloor.getOrElse((stream, durable), 0)
              }
              reply.foreach(sendMsg(_, None,
                """{"type":"io.nats.jetstream.api.v1.consumer_create_response"}"""))
            } else if (subject.startsWith("$JS.API.CONSUMER.MSG.NEXT.")) {
              val Array(stream, durable) =
                subject.stripPrefix("$JS.API.CONSUMER.MSG.NEXT.").split("\\.", 2)
              jsLock.synchronized {
                jsPending += ((stream, durable, reply.get))
                fulfill()
              }
            } else if (subject.startsWith("$JS.ACK.")) {
              jsAcks.add(subject)
              // subject shape: $JS.ACK.<stream>.<durable>.<seq> — advance
              // the CONTIGUOUS ack floor (gaps hold it back, like the
              // real broker's ack-floor accounting)
              subject.stripPrefix("$JS.ACK.").split("\\.") match {
                case Array(stream, durable, seq) => jsLock.synchronized {
                  val key = (stream, durable)
                  if (seq.toInt == jsAckFloor.getOrElse(key, 0) + 1)
                    jsAckFloor(key) = seq.toInt
                }
                case _ => ()
              }
            } else {
              received.add((subject, payload))
              subscribers.forEach { case (subj, sid, sout) =>
                if (subj == subject) sout.synchronized {
                  sout.write(s"MSG $subject $sid $n\r\n".getBytes(StandardCharsets.UTF_8))
                  sout.write(buf) // the payload as published, byte for byte
                  sout.write("\r\n".getBytes(StandardCharsets.UTF_8))
                  sout.flush()
                }
              }
            }
          case "PING" => out.write("PONG\r\n".getBytes); out.flush()
          case _ => ()
        }
      } catch { case _: java.io.EOFException | _: java.net.SocketException => () }
      finally {
        s.close()
        subscribers.removeIf(_._3 eq out) // a closed client subscribes to nothing
      }
    }

    /** Subscriptions to `subject` whose client connection is still open. */
    def liveSubscribers(subject: String): Int = {
      var n = 0
      subscribers.forEach { case (subj, _, _) => if (subj == subject) n += 1 }
      n
    }

    private val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => handle(s)); t.setDaemon(true); t.start()
      } catch { case _: java.net.SocketException => () }
    }, "fake-nats")
    acceptor.setDaemon(true); acceptor.start()
    def stop(): Unit = server.close()
  }

  test("nats output publishes per row and the input streams it back (input/nats.rs, output/nats.rs)") {
    val nats = new FakeNats
    try {
      val input = new Nats.NatsInput(spark, "127.0.0.1", nats.port, "events")
      Nats.NatsSink("127.0.0.1", nats.port, "'events'", "msg")
        .write(Seq("""{"v": 1}""", """{"v": 2}""").toDF("msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (nats.received.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300) // let the reader thread drain the MSG frames
      val sink = new Engine.MemorySink
      val q = Engine.start(input.toDF,
        Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally nats.stop()
  }

  test("nats jetstream durable pull consumer: explicit acks, and a RESTART resumes at the durable cursor (input/nats.rs JetStream mode)") {
    val nats = new FakeNats
    try {
      nats.jsPublish("ORDERS", """{"v": 1}""")
      nats.jsPublish("ORDERS", """{"v": 2}""")
      val input = new Nats.JetStreamInput(spark, "127.0.0.1", nats.port,
        "ORDERS", "dur1", auth = Map("token" -> "js-tok"))
      assert(nats.lastConnect.contains(""""auth_token":"js-tok""""))
      // a message published AFTER the consumer starts also flows (held
      // pull request fulfilled on publish)
      nats.jsPublish("ORDERS", """{"v": 3}""")
      // deferred acks (round 8): NOTHING is acked before a micro-batch
      // commits — the pull loop runs ack-free and the +ACKs ride the
      // checkpoint commit below
      Thread.sleep(400)
      assert(nats.jsAcks.isEmpty, "no ack may precede a checkpoint commit")
      val sink = new Engine.MemorySink
      val q = Engine.start(input.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      // commit (and its acks) lands while the NEXT batch is constructed
      // — nudge follow-up messages to drive it
      val deadline = System.nanoTime() + 15e9.toLong
      var nudge = 100
      while (nats.jsAcks.size < 3 && System.nanoTime() < deadline) {
        nats.jsPublish("ORDERS", s"""{"v": $nudge}"""); nudge += 1
        q.processAllAvailable()
        Thread.sleep(100)
      }
      q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq.startsWith(Seq(1L, 2L, 3L)))
      assert(nats.jsAcks.size >= 3,
        "every delivery is +ACKed once the batch holding it commits")

      // restart: same durable name resumes at the broker-held cursor —
      // only messages published after the stop arrive
      val ackBase = nats.jsAcks.size
      nats.jsPublish("ORDERS", """{"v": 4}""")
      nats.jsPublish("ORDERS", """{"v": 5}""")
      val input2 = new Nats.JetStreamInput(spark, "127.0.0.1", nats.port,
        "ORDERS", "dur1")
      Thread.sleep(400) // let the pull loop drain both deliveries
      val sink2 = new Engine.MemorySink
      val q2 = Engine.start(input2.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink2,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q2.processAllAvailable()
      val deadline2 = System.nanoTime() + 15e9.toLong
      var nudge2 = 200
      while (nats.jsAcks.size < ackBase + 2 && System.nanoTime() < deadline2) {
        nats.jsPublish("ORDERS", s"""{"v": $nudge2}"""); nudge2 += 1
        q2.processAllAvailable()
        Thread.sleep(100)
      }
      q2.stop()
      input2.stop()
      assert(sink2.rows.map(_.getLong(0)).sorted.toSeq.startsWith(Seq(4L, 5L)),
        "the durable cursor must survive the consumer restart")
      assert(nats.jsAcks.size >= ackBase + 2)
    } finally nats.stop()
  }

  test("nats jetstream CRASH SEMANTICS: delivered-but-unacked messages " +
      "redeliver to the re-created durable (commit-deferred acks make the " +
      "ack floor, not delivery, the restart point)") {
    val nats = new FakeNats
    try {
      nats.jsPublish("CRASH", """{"v": 1}""")
      nats.jsPublish("CRASH", """{"v": 2}""")
      // a consumer that pulls both messages but NEVER runs a committing
      // query — the crash-before-commit shape: zero acks are sent
      val doomed = new Nats.JetStreamInput(spark, "127.0.0.1", nats.port,
        "CRASH", "dur-c")
      Thread.sleep(500) // reader drains both deliveries (no acks: deferred)
      doomed.stop()     // the "crash"
      assert(nats.jsAcks.isEmpty, "nothing committed -> nothing acked")
      // restart: the durable resumes at the ACK FLOOR (0) — both
      // messages REDELIVER and this time a committing query acks them
      val revived = new Nats.JetStreamInput(spark, "127.0.0.1", nats.port,
        "CRASH", "dur-c")
      Thread.sleep(400)
      val sink = new Engine.MemorySink
      val q = Engine.start(revived.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 15e9.toLong
      var nudge = 400
      while (nats.jsAcks.size < 2 && System.nanoTime() < deadline) {
        nats.jsPublish("CRASH", s"""{"v": $nudge}"""); nudge += 1
        q.processAllAvailable()
        Thread.sleep(100)
      }
      q.stop()
      revived.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq.startsWith(Seq(1L, 2L)),
        s"the unacked tail must REDELIVER after the crash: ${sink.rows}")
      assert(nats.jsAcks.size >= 2)
    } finally nats.stop()
  }

  test("nats jetstream + queue-group options are config-reachable (input/nats.rs modes)") {
    val nats = new FakeNats
    try {
      nats.jsPublish("EVTS", """{"v": 9}""")
      val df = Engine.inputFromConf(spark, ComponentConf("nats", Map(
        "host" -> "127.0.0.1", "port" -> nats.port.toString,
        "mode" -> "jetstream", "stream" -> "EVTS",
        "durable_name" -> "cfg-dur")))
      assert(df.isStreaming)
      assert(df.columns.toSeq == Seq(Codecs.ValueCol, "__meta_stream"))
      // deferred acks: the delivered message reaches the sink through a
      // committing query, and the +ACK follows that commit (driven by a
      // nudge batch, since commit rides the NEXT batch's construction)
      val sinkJs = new Engine.MemorySink
      val qJs = Engine.start(df, Nil, sinkJs,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      qJs.processAllAvailable()
      val deadline = System.nanoTime() + 15e9.toLong
      var nudge = 300
      while (nats.jsAcks.size < 1 && System.nanoTime() < deadline) {
        nats.jsPublish("EVTS", s"""{"v": $nudge}"""); nudge += 1
        qJs.processAllAvailable()
        Thread.sleep(100)
      }
      qJs.stop()
      assert(sinkJs.rows.nonEmpty && nats.jsAcks.size >= 1)
      Engine.closeConfigInputs()

      // regular mode with a queue group: the SUB line carries the group
      val in2 = new Nats.NatsInput(spark, "127.0.0.1", nats.port,
        "jobs", queueGroup = Some("workers"))
      val c = new Nats.Conn("127.0.0.1", nats.port)
      c.publish("jobs", """{"v": 1}""".getBytes(StandardCharsets.UTF_8))
      val dl = System.nanoTime() + 10e9.toLong
      while (nats.received.size < 1 && System.nanoTime() < dl) Thread.sleep(20)
      Thread.sleep(200)
      val sink = new Engine.MemorySink
      val q = Engine.start(in2.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      in2.stop(); c.close()
      assert(sink.rows.map(_.getLong(0)) == Seq(1L))
    } finally nats.stop()
  }

  test("nats sink publishes a binary value's bytes and the nats input " +
      "streams them back unchanged") {
    val nats = new FakeNats
    try {
      val input = new Nats.NatsInput(spark, "127.0.0.1", nats.port, "raw")
      val bytes = Array(0x08, 0x96, 0x01, 0xff, 0xfe).map(_.toByte)
      Nats.NatsSink("127.0.0.1", nats.port, "'raw'", "b")
        .write(Seq(bytes).toDF("b"), 0L)
      val rows = PushInputSpec.rows(input.toDF, 1)
      assert(rows.map(_.getAs[Array[Byte]](Codecs.ValueCol).toSeq) == Seq(bytes.toSeq))
      assert(rows.map(_.getAs[String]("__meta_subject")) == Seq("raw"))
    } finally nats.stop()
  }

  private def natsStream(port: Int): StreamConf = Config.fromYaml(
    s"""streams:
       |  - input:
       |      type: nats
       |      host: 127.0.0.1
       |      port: $port
       |      subject: orders
       |      queue_group: workers
       |    output: { type: drop }
       |""".stripMargin).streams.head

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 15e9.toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("a nats stream run from YAML leaves no live subscriber once its " +
      "query stops") {
    val nats = new FakeNats
    try {
      val q = Engine.runStream(spark, natsStream(nats.port), "nats-close").get
      waitFor("the stream subscribes")(nats.liveSubscribers("orders") == 1)
      q.stop()
      waitFor("the stopped stream's subscription closes")(
        nats.liveSubscribers("orders") == 0)
    } finally { Engine.closeConfigInputs(); nats.stop() }
  }

  test("a control-plane restart of a nats stream leaves one live " +
      "subscriber, not two") {
    val nats = new FakeNats
    val sc = natsStream(nats.port)
    val q = Engine.runStream(spark, sc, "nats-restart").get
    val cp = new ControlPlane(spark, 0, None, Seq("nats-restart" -> sc))
    try {
      waitFor("the stream subscribes")(nats.liveSubscribers("orders") == 1)
      val c = new java.net.URI(
        s"http://127.0.0.1:${cp.boundPort}/streams/nats-restart/restart")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST")
      assert(c.getResponseCode == 202)
      c.disconnect()
      waitFor("the restarted query runs")(spark.streams.active.exists(r =>
        Option(r.name).contains("nats-restart") && r.runId != q.runId))
      waitFor("only the restarted query's subscription is live")(
        nats.liveSubscribers("orders") == 1)
    } finally {
      spark.streams.active.filter(r => Option(r.name).contains("nats-restart"))
        .foreach(_.stop())
      cp.stop(); Engine.closeConfigInputs(); nats.stop()
    }
  }

  test("a nats stream whose query fails to start closes its input") {
    val nats = new FakeNats
    val sc = natsStream(nats.port)
    val q = Engine.runStream(spark, sc, "nats-dup").get
    try {
      waitFor("the stream subscribes")(nats.liveSubscribers("orders") == 1)
      // a second query under an active query's name fails in start()
      intercept[IllegalArgumentException](Engine.runStream(spark, sc, "nats-dup"))
      Thread.sleep(300) // a leaked subscription, had there been one, is registered
      waitFor("the failed start's subscription closes")(
        nats.liveSubscribers("orders") == 1)
      assert(q.isActive)
    } finally { q.stop(); Engine.closeConfigInputs(); nats.stop() }
  }

  // ---- fake MQTT broker ----
  private final class FakeMqtt(requiredAuth: Option[(String, String)] = None) {
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val pubacksFromSubscribers = new java.util.concurrent.atomic.AtomicInteger(0)
    val connects = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var lastConnectFlags: Int = -1
    @volatile var lastKeepAlive: Int = -1
    // (filter, granted qos, out)
    private val subscribers =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, BufferedOutputStream)]()
    private val pidSeq = new java.util.concurrent.atomic.AtomicInteger(100)
    private val server = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort

    private def handle(s: java.net.Socket): Unit = {
      val in = new BufferedInputStream(s.getInputStream)
      val out = new BufferedOutputStream(s.getOutputStream)
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
      def writeTo(o: BufferedOutputStream, first: Int, body: Array[Byte]): Unit =
        o.synchronized {
          o.write(first)
          var n = body.length
          while ({
            var dd = n % 128; n /= 128
            if (n > 0) dd |= 0x80
            o.write(dd); n > 0
          }) ()
          o.write(body); o.flush()
        }
      def write(first: Int, body: Array[Byte]): Unit = writeTo(out, first, body)
      try while (true) {
        val (tpe, body) = readPacket()
        (tpe & 0xf0) match {
          case 0x10 => // CONNECT: variable header then clientId [user] [pass]
            connects.incrementAndGet()
            val protoLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
            val flags = body(protoLen + 3) & 0xff
            lastConnectFlags = flags
            lastKeepAlive = ((body(protoLen + 4) & 0xff) << 8) | (body(protoLen + 5) & 0xff)
            var pos = protoLen + 6
            def field(): String = {
              val n = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff)
              val v = new String(body, pos + 2, n, StandardCharsets.UTF_8)
              pos += 2 + n; v
            }
            field() // client id
            val user = if ((flags & 0x80) != 0) Some(field()) else None
            val pass = if ((flags & 0x40) != 0) Some(field()) else None
            val ok = requiredAuth.forall { case (u, p) =>
              user.contains(u) && pass.contains(p)
            }
            // CONNACK: 0 = accepted, 4 = bad user name or password
            write(0x20, Array[Byte](0, if (ok) 0 else 4))
            if (!ok) throw new java.io.EOFException
          case 0x80 => // SUBSCRIBE: packet id + one topic filter + qos
            val filterLen = ((body(2) & 0xff) << 8) | (body(3) & 0xff)
            val filter = new String(body, 4, filterLen, StandardCharsets.UTF_8)
            val reqQos = body(4 + filterLen) & 0x03
            subscribers.add((filter, reqQos, out))
            write(0x90, Array(body(0), body(1), reqQos.toByte)) // grant requested
          case 0x30 =>
            val qos = (tpe >> 1) & 0x03
            val topicLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
            val topic = new String(body, 2, topicLen, StandardCharsets.UTF_8)
            val pidOff = 2 + topicLen
            val payloadOff = pidOff + (if (qos > 0) 2 else 0)
            val payload = new String(body, payloadOff,
              body.length - payloadOff, StandardCharsets.UTF_8)
            published.add((topic, payload))
            if (qos == 1) write(0x40, Array(body(pidOff), body(pidOff + 1)))
            else if (qos == 2) write(0x50, Array(body(pidOff), body(pidOff + 1)))
            subscribers.forEach { case (f, subQos, sout) =>
              if (f == topic || f == "#") {
                // deliver at min(publish qos, granted qos)
                val dQos = math.min(qos, subQos)
                val b =
                  if (dQos == 0)
                    body.take(2 + topicLen) ++
                      body.drop(payloadOff)
                  else {
                    val pid = pidSeq.incrementAndGet()
                    body.take(2 + topicLen) ++
                      Array(((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte) ++
                      body.drop(payloadOff)
                  }
                writeTo(sout, 0x30 | (dQos << 1), b)
                // QoS 2 delivery: simulate a REDELIVERY (lost PUBREC
                // case) — the client's deferred-release ladder must
                // still produce the message exactly once
                if (dQos == 2) writeTo(sout, 0x30 | (dQos << 1) | 0x08, b)
              }
            }
          case 0x40 => pubacksFromSubscribers.incrementAndGet() // subscriber PUBACK
          case 0x50 => write(0x62, body.take(2)) // subscriber PUBREC -> PUBREL
          case 0x70 => () // subscriber PUBCOMP
          case 0x60 => write(0x70, body.take(2)) // PUBREL -> PUBCOMP
          case 0xc0 => write(0xd0, Array.empty) // PINGREQ -> PINGRESP
          case 0xe0 => throw new java.io.EOFException // DISCONNECT
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
    }, "fake-mqtt")
    acceptor.setDaemon(true); acceptor.start()
    def stop(): Unit = server.close()
  }

  test("mqtt output publishes QoS-0 per row and the input streams it back (input/mqtt.rs, output/mqtt.rs)") {
    val broker = new FakeMqtt
    try {
      val input = new Mqtt.MqttInput(spark, "127.0.0.1", broker.port, "sensors/temp")
      Mqtt.MqttSink("127.0.0.1", broker.port, "'sensors/temp'", "msg")
        .write(Seq("""{"v": 7}""", """{"v": 8}""").toDF("msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.published.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300)
      val sink = new Engine.MemorySink
      val q = Engine.start(input.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
    } finally broker.stop()
  }

  test("mqtt QoS 1 round trip with auth: publisher waits PUBACK, subscriber acks delivery (input/mqtt.rs:44-57)") {
    val broker = new FakeMqtt(requiredAuth = Some(("mq-user", "mq-pass")))
    try {
      // wrong password is refused at CONNACK
      intercept[IllegalArgumentException] {
        new Mqtt.Conn("127.0.0.1", broker.port, "bad",
          Some("mq-user"), Some("wrong"))
      }
      val input = new Mqtt.MqttInput(spark, "127.0.0.1", broker.port,
        "sensors/q1", clientId = "durable-sub", qos = 1,
        username = Some("mq-user"), password = Some("mq-pass"),
        cleanSession = false, keepAliveSecs = 30)
      assert((broker.lastConnectFlags & 0x02) == 0, "clean_session=false must clear the flag")
      assert((broker.lastConnectFlags & 0xc0) == 0xc0, "user+pass flags must be set")
      assert(broker.lastKeepAlive == 30)
      Mqtt.MqttSink("127.0.0.1", broker.port, "'sensors/q1'", "msg", qos = 1,
          username = Some("mq-user"), password = Some("mq-pass"))
        .write(Seq("""{"v": 11}""", """{"v": 12}""").toDF("msg"), 0L)
      // sink returned -> every publish got its PUBACK (QoS 1 contract)
      assert(broker.published.size == 2)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.pubacksFromSubscribers.get() < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(broker.pubacksFromSubscribers.get() == 2,
        "the subscriber must PUBACK each QoS-1 delivery")
      Thread.sleep(200)
      val sink = new Engine.MemorySink
      val q = Engine.start(input.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)).sorted.toSeq == Seq(11L, 12L))
    } finally broker.stop()
  }

  test("mqtt QoS 2 publish completes the PUBREC/PUBREL/PUBCOMP ladder") {
    val broker = new FakeMqtt()
    try {
      val conn = new Mqtt.Conn("127.0.0.1", broker.port, "q2-pub")
      conn.publish("t2", "exactly-once".getBytes(StandardCharsets.UTF_8), qos = 2)
      conn.close()
      assert(broker.published.toArray(Array.empty[(String, String)]).toSeq ==
        Seq(("t2", "exactly-once")))
    } finally broker.stop()
  }

  test("mqtt QoS 2 receive delivers exactly once across a simulated redelivery (release at PUBREL)") {
    val broker = new FakeMqtt()
    try {
      val input = new Mqtt.MqttInput(spark, "127.0.0.1", broker.port,
        "q2/topic", clientId = "q2-sub", qos = 2)
      val pub = new Mqtt.Conn("127.0.0.1", broker.port, "q2-src")
      pub.publish("q2/topic", """{"v": 77}""".getBytes(StandardCharsets.UTF_8), qos = 2)
      pub.close()
      Thread.sleep(500) // both deliveries + the PUBREL release land
      val sink = new Engine.MemorySink
      val q = Engine.start(input.toDF, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      input.stop()
      assert(sink.rows.map(_.getLong(0)) == Seq(77L),
        "the redelivered QoS-2 PUBLISH must not produce a duplicate row")
    } finally broker.stop()
  }

  test("mqtt input is config-reachable and closes via the engine registry") {
    val broker = new FakeMqtt
    try {
      val in = Engine.inputFromConf(spark, ComponentConf("mqtt", Map(
        "host" -> "127.0.0.1", "port" -> broker.port.toString,
        "topics" -> "sensors/temp", "client_id" -> "conf-in")))
      Mqtt.MqttSink("127.0.0.1", broker.port, "'sensors/temp'", "msg")
        .write(Seq("""{"v": 41}""").toDF("msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.published.size < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300)
      val sink = new Engine.MemorySink
      val q = Engine.start(in, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      assert(sink.rows.map(_.getLong(0)) == Seq(41L))
      Engine.closeConfigInputs() // must not throw; closes the live conn
    } finally broker.stop()
  }

  test("a YAML mqtt topics list of one entry subscribes to that filter; " +
      "more than one fails at build") {
    val broker = new FakeMqtt
    def input(topics: String) = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: mqtt
         |      host: 127.0.0.1
         |      port: ${broker.port}
         |      client_id: list-in
         |      topics: $topics
         |    output: { type: drop }
         |""".stripMargin).streams.head.input
    try {
      val e = intercept[IllegalArgumentException](
        Engine.inputFromConf(spark, input("[x/y, x/z]")))
      assert(e.getMessage.contains("one topic filter"))
      val in = Engine.inputFromConf(spark, input("[x/y]"))
      Mqtt.MqttSink("127.0.0.1", broker.port, "'x/y'", "msg")
        .write(Seq("""{"v": 7}""").toDF("msg"), 0L)
      val deadline = System.nanoTime() + 10e9.toLong
      while (broker.published.size < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(300)
      val sink = new Engine.MemorySink
      val q = Engine.start(in, Seq(Processors.JsonToArrow(Seq("v"))), sink)
      q.processAllAvailable(); q.stop()
      assert(sink.rows.map(_.getLong(0)) == Seq(7L))
    } finally { Engine.closeConfigInputs(); broker.stop() }
  }

  test("mqtt input keeps a payload that is not UTF-8 byte for byte") {
    val broker = new FakeMqtt
    try {
      val input = new Mqtt.MqttInput(spark, "127.0.0.1", broker.port, "raw/t")
      val bytes = Array(0x08, 0x96, 0x01, 0xff, 0xfe).map(_.toByte)
      val pub = new Mqtt.Conn("127.0.0.1", broker.port, "raw-pub")
      try pub.publish("raw/t", bytes) finally pub.close()
      val rows = PushInputSpec.rows(input.toDF, 1)
      assert(rows.map(_.getAs[Array[Byte]](Codecs.ValueCol).toSeq) == Seq(bytes.toSeq))
      assert(rows.map(_.getAs[String]("__meta_topic")) == Seq("raw/t"))
    } finally broker.stop()
  }

  test("runStream builds the output before the input: a kafka output " +
      "without a topic fails at build and opens no mqtt connection") {
    val broker = new FakeMqtt
    val conf = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: mqtt
         |      host: 127.0.0.1
         |      port: ${broker.port}
         |      topics: [a/b]
         |    output:
         |      type: kafka
         |      brokers: [127.0.0.1:9]
         |""".stripMargin)
    try {
      intercept[IllegalArgumentException](
        Engine.runStream(spark, conf.streams.head, "no-topic"))
      Thread.sleep(200) // a CONNECT, had one been sent, would have landed
      assert(broker.connects.get() == 0)
    } finally { Engine.closeConfigInputs(); broker.stop() }
  }

  test("runStream resolves the trigger before the input: an interval " +
      "that does not parse opens no mqtt connection") {
    val broker = new FakeMqtt
    val conf = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: mqtt
         |      host: 127.0.0.1
         |      port: ${broker.port}
         |      topics: [a/b]
         |    buffer:
         |      type: tumbling_window
         |      interval: not-a-duration
         |    output: { type: drop }
         |""".stripMargin)
    try {
      intercept[IllegalArgumentException](
        Engine.runStream(spark, conf.streams.head, "bad-interval"))
      Thread.sleep(200) // a CONNECT, had one been sent, would have landed
      assert(broker.connects.get() == 0)
    } finally { Engine.closeConfigInputs(); broker.stop() }
  }

  test("mqtt and nats sinks publish a numeric value as its text") {
    val broker = new FakeMqtt
    val nats = new FakeNats
    try {
      val temps = Seq(21.5).toDF("temp")
      Mqtt.MqttSink("127.0.0.1", broker.port, "'sensors/temp'", "temp")
        .write(temps, 0L)
      Nats.NatsSink("127.0.0.1", nats.port, "'temp'", "temp").write(temps, 0L)
      waitFor("both brokers receive the value")(
        broker.published.size == 1 && nats.received.size == 1)
      assert(broker.published.peek() == ("sensors/temp", "21.5"))
      assert(nats.received.peek() == ("temp", "21.5"))
    } finally { broker.stop(); nats.stop() }
  }

  // ---- fake Modbus device ----
  private final class FakeModbus(registers: Map[Int, Int]) {
    private val server = new java.net.ServerSocket(0, 4,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort
    private val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => {
          val in = new BufferedInputStream(s.getInputStream)
          val out = new BufferedOutputStream(s.getOutputStream)
          try while (true) {
            val head = new Array[Byte](12)
            var off = 0
            while (off < 12) {
              val r = in.read(head, off, 12 - off)
              if (r < 0) throw new java.io.EOFException
              off += r
            }
            val addr = ((head(8) & 0xff) << 8) | (head(9) & 0xff)
            val count = ((head(10) & 0xff) << 8) | (head(11) & 0xff)
            val data = (0 until count).flatMap { i =>
              val v = registers.getOrElse(addr + i, 0)
              Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
            }
            out.write(Array[Byte](head(0), head(1), 0, 0,
              ((3 + data.size) >> 8).toByte, ((3 + data.size) & 0xff).toByte,
              head(6), 3.toByte, (count * 2).toByte))
            out.write(data.toArray)
            out.flush()
          } catch { case _: java.io.EOFException | _: java.net.SocketException => () }
          finally s.close()
        })
        t.setDaemon(true); t.start()
      } catch { case _: java.net.SocketException => () }
    }, "fake-modbus")
    acceptor.setDaemon(true); acceptor.start()
    def stop(): Unit = server.close()
  }

  // ---- fake MongoDB (OP_MSG) ----
  private final class FakeMongo {
    val inserted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Any)]]()
    private val server = new java.net.ServerSocket(0, 4,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = server.getLocalPort
    private val acceptor = new Thread(() => {
      try while (true) {
        val s = server.accept()
        val t = new Thread(() => {
          val in = new BufferedInputStream(s.getInputStream)
          val out = new BufferedOutputStream(s.getOutputStream)
          def readN(n: Int): Array[Byte] = {
            val buf = new Array[Byte](n)
            var off = 0
            while (off < n) {
              val r = in.read(buf, off, n - off)
              if (r < 0) throw new java.io.EOFException
              off += r
            }
            buf
          }
          try while (true) {
            val header = readN(16)
            val bb = java.nio.ByteBuffer.wrap(header).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val totalLen = bb.getInt
            val requestId = bb.getInt
            val rest = readN(totalLen - 16)
            val cmd = Mongo.decodeDoc(java.util.Arrays.copyOfRange(rest, 5, rest.length))
            val docs = cmd.find(_._1 == "documents").map(_._2)
              .getOrElse(Seq.empty).asInstanceOf[Seq[Any]]
            docs.foreach(d => inserted.add(d.asInstanceOf[Seq[(String, Any)]]))
            val replyBody = java.nio.ByteBuffer.allocate(5)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(0).put(0.toByte).array() ++
              Mongo.encodeDoc(Seq("n" -> docs.size, "ok" -> 1.0))
            val replyHeader = java.nio.ByteBuffer.allocate(16)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              .putInt(16 + replyBody.length).putInt(1).putInt(requestId).putInt(2013)
              .array()
            out.write(replyHeader ++ replyBody)
            out.flush()
          } catch { case _: java.io.EOFException | _: java.net.SocketException => () }
          finally s.close()
        })
        t.setDaemon(true); t.start()
      } catch { case _: java.net.SocketException => () }
    }, "fake-mongo")
    acceptor.setDaemon(true); acceptor.start()
    def stop(): Unit = server.close()
  }

  test("mongodb sink inserts documents over OP_MSG (output/mongodb.rs)") {
    val mongo = new FakeMongo
    try {
      val sink = Engine.sinkFromConf(ComponentConf("mongodb", Map(
        "host" -> "127.0.0.1", "port" -> mongo.port.toString,
        "db" -> "graft", "collection" -> "readings", "batch_size" -> "2")))
      sink.write(Seq(("t1", 10L, 1.5), ("t2", 20L, 2.5), ("t3", 30L, 3.5))
        .toDF("sensor", "count", "value").coalesce(1), batchId = 0L)
      val docs = mongo.inserted.toArray(Array.empty[Seq[(String, Any)]])
        .map(_.toMap).sortBy(_("sensor").toString)
      assert(docs.length == 3)
      assert(docs(0) == Map("sensor" -> "t1", "count" -> 10L, "value" -> 1.5))
      assert(docs(2)("count") == 30L)
    } finally mongo.stop()
  }

  test("bson codec round-trips flat and nested documents") {
    val doc = Seq("a" -> 1.5, "b" -> "hi", "c" -> true, "d" -> 42, "e" -> 7L,
      "f" -> null, "sub" -> Seq("x" -> 1), "arr" -> Seq("p", "q"))
    val decoded = Mongo.decodeDoc(Mongo.encodeDoc(doc)).toMap
    assert(decoded("a") == 1.5 && decoded("b") == "hi" && decoded("c") == true)
    assert(decoded("d") == 42 && decoded("e") == 7L && decoded("f") == null)
    assert(decoded("sub") == Seq("x" -> 1))
    assert(decoded("arr") == Seq("p", "q"))
  }

  test("modbus input polls holding registers into columns per point (input/modbus.rs)") {
    val device = new FakeModbus(Map(100 -> 1234, 101 -> 5678, 200 -> 42))
    try {
      val df = Engine.inputFromConf(spark, ComponentConf("modbus", Map(
        "host" -> "127.0.0.1", "port" -> device.port.toString,
        "points" -> "temp:100:2,mode:200")))
      val row = df.collect().head
      assert(row.getSeq[Int](row.fieldIndex("temp")).toSeq == Seq(1234, 5678))
      assert(row.getAs[Int]("mode") == 42)
      assert(df.columns.contains("__meta_poll_time"))
    } finally device.stop()
  }
}
