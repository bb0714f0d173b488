package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pulsar input + output (SURVEY.md §2.1/§2.2; reference
  * input/pulsar.rs:39-62 topic+subscription consumer,
  * output/pulsar.rs:38 single-producer publisher,
  * pulsar/common.rs:28-300 auth/validation/retry).
  *
  * Like [[Nats]]/[[Mqtt]]/[[Modbus]] this is a from-scratch protocol
  * client — no Pulsar client jar exists in this environment. Pulsar's
  * client protocol is protobuf-framed TCP (the public `PulsarApi.proto`):
  * every frame is `[totalSize:i32][commandSize:i32][BaseCommand]`, and
  * message-bearing frames append
  * `[0x0e01][crc32c][metadataSize:i32][MessageMetadata][payload]` where
  * the CRC-32C covers everything after the checksum field. The
  * `BaseCommand` encode/decode below reuses [[ProtoWire]] and covers the
  * command subset a consumer/producer needs: CONNECT/CONNECTED,
  * SUBSCRIBE/SUCCESS, FLOW, MESSAGE, ACK, PRODUCER/PRODUCER_SUCCESS,
  * SEND/SEND_RECEIPT, PING/PONG.
  *
  * Input shape (input/pulsar.rs): a background reader thread feeds
  * MESSAGE payloads into the [[PushInput]] envelope (the driver-side
  * ingestion edge, like [[HttpInput]]). Delivery guarantee (round 8):
  * acks are DEFERRED to checkpoint commit via [[CommitAckStream]] — a
  * message is ACKed only after the micro-batch holding it has committed,
  * so a driver crash redelivers from the subscription cursor instead of
  * losing acked-but-uncommitted messages: at-least-once across driver
  * restarts (STRONGER than the reference's ack-on-read, whose
  * ack-before-processing window is at-most-once). Redelivered messages
  * re-enter idempotent-per-batchId sinks for consumer-side dedupe.
  *
  * Output shape (output/pulsar.rs): executor-side `foreachPartition`,
  * one connection per partition, one producer per distinct topic the
  * partition's `topic` expression evaluates to (the reference's
  * `Expr<String>` topic).
  */
object Pulsar {

  // ---- BaseCommand.Type values (public PulsarApi.proto) ----
  val CONNECT = 2; val CONNECTED = 3; val SUBSCRIBE = 4; val PRODUCER = 5
  val SEND = 6; val SEND_RECEIPT = 7; val SEND_ERROR = 8; val MESSAGE = 9
  val ACK = 10; val FLOW = 11; val SUCCESS = 13; val ERROR = 14
  val CLOSE_PRODUCER = 15; val CLOSE_CONSUMER = 16; val PRODUCER_SUCCESS = 17
  val PING = 18; val PONG = 19

  /** Minimal protobuf message builder over [[ProtoWire.writeVarint]]. */
  final class Pb {
    private val out = new ByteArrayOutputStream()
    def int(field: Int, v: Long): Pb = {
      ProtoWire.writeVarint(out, (field.toLong << 3) | 0)
      ProtoWire.writeVarint(out, v); this
    }
    def str(field: Int, s: String): Pb = bytes(field, s.getBytes(UTF_8))
    def bytes(field: Int, b: Array[Byte]): Pb = {
      ProtoWire.writeVarint(out, (field.toLong << 3) | 2)
      ProtoWire.writeVarint(out, b.length.toLong); out.write(b, 0, b.length); this
    }
    def msg(field: Int, m: Pb): Pb = bytes(field, m.toBytes)
    def toBytes: Array[Byte] = out.toByteArray
  }

  /** One decoded frame: command type, the nested command's fields, and
    * (for MESSAGE) the metadata fields + payload after the command. */
  final case class Frame(cmdType: Int, cmd: Map[Int, Any],
      metadata: Map[Int, Any], payload: Array[Byte])

  // ---- config validation (pulsar/common.rs:173-300, same rules) ----

  def validateServiceUrl(url: String): Unit = {
    require(url.nonEmpty, "Service URL cannot be empty")
    require(url.startsWith("pulsar://") || url.startsWith("pulsar+ssl://"),
      s"Invalid service URL format: $url. Must start with 'pulsar://' or 'pulsar+ssl://'")
    val prefix = if (url.startsWith("pulsar+ssl://")) "pulsar+ssl://" else "pulsar://"
    require(url.length > prefix.length, "Service URL must include host")
  }

  def validateTopic(topic: String): Unit = {
    require(topic.nonEmpty, "Topic name cannot be empty")
    val badDoubleSlash = topic.contains("//") &&
      !topic.startsWith("persistent://") && !topic.startsWith("non-persistent://")
    require(!topic.contains("..") && !badDoubleSlash &&
      !topic.startsWith("/") && !topic.endsWith("/"),
      s"Invalid topic name: '$topic'. Topic names cannot contain '..', '//' or start/end with '/'")
    require(topic.length <= 255,
      s"Topic name too long: ${topic.length} characters (max 255)")
  }

  def validateSubscription(sub: String): Unit = {
    require(sub.nonEmpty, "Subscription name cannot be empty")
    require(sub.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"Invalid subscription name: '$sub'. Only alphanumeric characters, '-', '_', and '.' are allowed")
  }

  /** Subscription type → the protocol's `SubType` code
    * (exclusive=0, shared=1, failover=2, key_shared=3; the reference's
    * default is exclusive). */
  def subTypeCode(s: String): Int = s.toLowerCase match {
    case "exclusive" => 0
    case "shared" => 1
    case "failover" => 2
    case "key_shared" => 3
    case other => throw new IllegalArgumentException(
      s"Invalid subscription type: '$other'. Must be exclusive/shared/failover/key_shared")
  }

  /** auth options → (auth_method_name, auth_data) for CommandConnect;
    * reference pulsar/common.rs:60-92 ("token" raw bytes; "oauth2" a
    * client_credentials JSON document) with common.rs:282-300 validation. */
  def authPayload(auth: Map[String, String]): Option[(String, Array[Byte])] =
    auth.get("type") match {
      case None => None
      case Some("token") =>
        val t = auth.getOrElse("token", "")
        require(t.nonEmpty, "Token cannot be empty")
        require(t.length <= 4096, "Token too long (max 4096 characters)")
        Some(("token", t.getBytes(UTF_8)))
      case Some("oauth2") =>
        val issuer = auth.getOrElse("issuer_url", "")
        val creds = auth.getOrElse("credentials_url", "")
        val aud = auth.getOrElse("audience", "")
        require(issuer.nonEmpty, "Issuer URL cannot be empty")
        require(creds.nonEmpty, "Credentials URL cannot be empty")
        require(aud.nonEmpty, "Audience cannot be empty")
        import Codecs.{jsonEscape => js}
        val doc = s"""{"type":"client_credentials","issuer_url":"${js(issuer)}","credentials_url":"${js(creds)}","audience":"${js(aud)}"}"""
        Some(("oauth2", doc.getBytes(UTF_8)))
      case Some(other) =>
        throw new IllegalArgumentException(s"Unknown auth type: '$other'")
    }

  /** Exponential-backoff delay schedule (pulsar/common.rs:95-170
    * RetryConfig/RetryUtils): attempt i waits
    * min(initial * multiplier^i, max). Validation mirrors
    * common.rs:255-280. */
  def retryDelaysMs(maxAttempts: Int, initialMs: Long, maxMs: Long,
      multiplier: Double): Seq[Long] = {
    require(maxAttempts >= 1, "Max attempts must be at least 1")
    require(initialMs > 0, "Initial delay must be greater than 0")
    require(maxMs >= initialMs, "Max delay must be greater than or equal to initial delay")
    require(multiplier > 1.0, "Backoff multiplier must be greater than 1.0")
    (0 until maxAttempts).map { i =>
      math.min(maxMs.toDouble, initialMs * math.pow(multiplier, i.toDouble)).toLong
    }
  }

  // ---- wire client ----

  /** Blocking protocol connection. Single-threaded use per instance
    * (the input wraps it in one reader thread; the sink uses one per
    * partition). */
  final class Conn(serviceUrl: String, auth: Map[String, String] = Map.empty)
      extends AutoCloseable {
    validateServiceUrl(serviceUrl)
    private val tls = serviceUrl.startsWith("pulsar+ssl://")
    private val hostPort = serviceUrl.stripPrefix("pulsar+ssl://")
      .stripPrefix("pulsar://").split(",").head
    private val host = hostPort.split(":").head
    private val port = hostPort.split(":").lift(1).map(_.toInt)
      .getOrElse(if (tls) 6651 else 6650)
    // pulsar+ssl:// negotiates TLS — a plaintext socket here would ship
    // the auth token in the clear to whatever answers the port
    private val socket: java.net.Socket =
      if (tls) {
        val s = javax.net.ssl.SSLSocketFactory.getDefault
          .createSocket(host, port).asInstanceOf[javax.net.ssl.SSLSocket]
        s.startHandshake()
        s
      } else new java.net.Socket(host, port)
    socket.setTcpNoDelay(true)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val in = new BufferedInputStream(socket.getInputStream)
    private var requestId = 0L
    private var producerSeq = 0L

    // CONNECT → CONNECTED handshake (protocol_version 21, the floor for
    // the command subset used here)
    locally {
      val connect = new Pb().str(1, "graft-pulsar").int(4, 21L)
      authPayload(auth).foreach { case (name, data) =>
        connect.str(5, name).bytes(3, data)
      }
      writeCmd(new Pb().int(1, CONNECT.toLong).msg(2, connect))
      val f = nextFrame()
      require(f.cmdType == CONNECTED, s"expected CONNECTED, got ${f.cmdType}")
    }

    private def nextRequestId(): Long = { requestId += 1; requestId }

    // synchronized: deferred acks write from the checkpoint-commit
    // thread while the reader thread writes FLOW permits — interleaved
    // frame bytes would corrupt the wire protocol
    private[Pulsar] def writeCmd(cmd: Pb): Unit = synchronized {
      val c = cmd.toBytes
      val bb = ByteBuffer.allocate(8 + c.length)
      bb.putInt(4 + c.length); bb.putInt(c.length); bb.put(c)
      out.write(bb.array()); out.flush()
    }

    private def writePayloadCmd(cmd: Pb, metadata: Pb, payload: Array[Byte]): Unit = {
      val c = cmd.toBytes; val md = metadata.toBytes
      // checksum covers [metadataSize][metadata][payload]
      val after = ByteBuffer.allocate(4 + md.length + payload.length)
      after.putInt(md.length); after.put(md); after.put(payload)
      val crc = new java.util.zip.CRC32C()
      crc.update(after.array())
      val total = 4 + c.length + 2 + 4 + after.capacity()
      val bb = ByteBuffer.allocate(4 + total)
      bb.putInt(total); bb.putInt(c.length); bb.put(c)
      bb.putShort(0x0e01.toShort); bb.putInt(crc.getValue.toInt)
      bb.put(after.array())
      out.write(bb.array()); out.flush()
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new java.io.EOFException("pulsar: peer closed mid-frame")
        off += r
      }
      buf
    }

    /** Read one frame; transparently answers PING with PONG and skips
      * it (both directions of the protocol's keep-alive). */
    private[Pulsar] def nextFrame(): Frame = {
      while (true) {
        val totalSize = ByteBuffer.wrap(readFully(4)).getInt
        val body = readFully(totalSize)
        val bb = ByteBuffer.wrap(body)
        val cmdSize = bb.getInt
        val cmdBytes = java.util.Arrays.copyOfRange(body, 4, 4 + cmdSize)
        val cmd = ProtoWire.parse(cmdBytes)
        val cmdType = cmd(1).asInstanceOf[Long].toInt
        if (cmdType == PING) writeCmd(new Pb().int(1, PONG.toLong).msg(19, new Pb()))
        else {
          var metadata = Map.empty[Int, Any]
          var payload = Array.empty[Byte]
          val rest = totalSize - 4 - cmdSize
          if (rest > 0) {
            var pos = 4 + cmdSize
            // optional [magic 0x0e01][crc32c]
            if (rest >= 6 && (body(pos) & 0xff) == 0x0e && (body(pos + 1) & 0xff) == 0x01)
              pos += 6
            val mdSize = ByteBuffer.wrap(body, pos, 4).getInt
            metadata = ProtoWire.parse(
              java.util.Arrays.copyOfRange(body, pos + 4, pos + 4 + mdSize))
            payload = java.util.Arrays.copyOfRange(body, pos + 4 + mdSize, body.length)
          }
          return Frame(cmdType, ProtoWire.parse(nested(cmd, cmdType)), metadata, payload)
        }
      }
      sys.error("unreachable")
    }

    /** The nested command message rides in the field numbered like its
      * type (CommandConnected = field 3, CommandMessage = field 9, …). */
    private def nested(cmd: Map[Int, Any], cmdType: Int): Array[Byte] =
      cmd.get(cmdType) match {
        case Some(b: Array[Byte]) => b
        case _ => Array.empty[Byte]
      }

    def createProducer(topic: String, producerId: Long = 0L): String = {
      validateTopic(topic)
      writeCmd(new Pb().int(1, PRODUCER.toLong).msg(5,
        new Pb().str(1, topic).int(2, producerId).int(3, nextRequestId())))
      val f = nextFrame()
      require(f.cmdType == PRODUCER_SUCCESS, s"expected PRODUCER_SUCCESS, got ${f.cmdType}")
      f.cmd.get(2).map(b => new String(b.asInstanceOf[Array[Byte]], UTF_8))
        .getOrElse("graft-producer")
    }

    /** Synchronous publish: SEND then wait for the matching
      * SEND_RECEIPT (at-least-once, like the reference's per-batch
      * `send().await`). */
    def send(producerName: String, payload: Array[Byte],
        partitionKey: Option[String] = None, producerId: Long = 0L): Unit = {
      producerSeq += 1
      val seq = producerSeq
      val md = new Pb().str(1, producerName).int(2, seq)
        .int(3, System.currentTimeMillis())
      partitionKey.foreach(k => md.str(6, k))
      writePayloadCmd(new Pb().int(1, SEND.toLong).msg(6,
        new Pb().int(1, producerId).int(2, seq).int(3, 1L)), md, payload)
      val f = nextFrame()
      if (f.cmdType == SEND_ERROR)
        throw new java.io.IOException(s"pulsar SEND_ERROR for seq $seq")
      require(f.cmdType == SEND_RECEIPT, s"expected SEND_RECEIPT, got ${f.cmdType}")
    }

    def subscribe(topic: String, subscription: String, subType: String,
        consumerId: Long = 0L): Unit = {
      validateTopic(topic); validateSubscription(subscription)
      writeCmd(new Pb().int(1, SUBSCRIBE.toLong).msg(4,
        new Pb().str(1, topic).str(2, subscription)
          .int(3, subTypeCode(subType).toLong)
          .int(4, consumerId).int(5, nextRequestId())))
      val f = nextFrame()
      require(f.cmdType == SUCCESS, s"expected SUCCESS, got ${f.cmdType}")
    }

    def flow(permits: Int, consumerId: Long = 0L): Unit =
      writeCmd(new Pb().int(1, FLOW.toLong).msg(11,
        new Pb().int(1, consumerId).int(2, permits.toLong)))

    /** Blocks for the next MESSAGE; returns (ledgerId, entryId, payload). */
    def nextMessage(): (Long, Long, Array[Byte]) = {
      var f = nextFrame()
      while (f.cmdType != MESSAGE) f = nextFrame()
      val mid = ProtoWire.parse(f.cmd(2).asInstanceOf[Array[Byte]])
      (mid.getOrElse(1, 0L).asInstanceOf[Long],
        mid.getOrElse(2, 0L).asInstanceOf[Long], f.payload)
    }

    def ack(ledgerId: Long, entryId: Long, consumerId: Long = 0L): Unit =
      writeCmd(new Pb().int(1, ACK.toLong).msg(10,
        new Pb().int(1, consumerId).int(2, 0L) // Individual
          .msg(3, new Pb().int(1, ledgerId).int(2, entryId))))

    def close(): Unit = socket.close()
  }

  // ---- Spark-facing input/output ----

  /** Streaming topic input (input/pulsar.rs:39-62): subscribe + flow
    * permits. Round 8: acks are DEFERRED to checkpoint commit
    * ([[CommitAckStream]]) — the reader enqueues without acking, and the
    * broker ack for a message is sent only once the micro-batch holding
    * it has committed, so a driver crash redelivers from the
    * subscription cursor instead of dropping acked-but-uncommitted
    * messages: at-least-once across restarts (the reference acks on
    * read, which is at-most-once across that window).
    * Connect retries follow the reference's RetryConfig schedule. */
  final class PulsarInput(spark: SparkSession, serviceUrl: String,
      topic: String, subscription: String, subType: String = "exclusive",
      auth: Map[String, String] = Map.empty,
      retry: Map[String, String] = Map.empty)
      extends AckingPushInput(spark, Seq("__meta_topic", "__meta_message_id")) {
    private val conn: Conn = {
      val delays =
        if (retry.isEmpty) Seq(0L)
        else retryDelaysMs(retry.getOrElse("max_attempts", "3").toInt,
          retry.getOrElse("initial_delay_ms", "100").toLong,
          retry.getOrElse("max_delay_ms", "5000").toLong,
          retry.getOrElse("backoff_multiplier", "2.0").toDouble)
      var last: Throwable = null
      var made: Conn = null
      val it = delays.iterator
      while (made == null && it.hasNext) {
        val d = it.next()
        try made = new Conn(serviceUrl, auth)
        catch {
          case e: java.io.IOException => last = e; Thread.sleep(d)
        }
      }
      if (made == null) throw new java.io.IOException(
        s"pulsar: connect failed after ${delays.size} attempts", last)
      made
    }
    conn.subscribe(topic, subscription, subType)
    conn.flow(1000)
    opened("graft-pulsar-reader") {
      while (true) {
        val (ledger, entry, payload) = conn.nextMessage()
        pushAcked(() => conn.ack(ledger, entry), payload, topic, s"$ledger:$entry")
        conn.flow(1) // replenish the consumed permit
      }
    }

    protected def disconnect(): Unit = conn.close()
  }

  /** Publish each row to its evaluated topic (output/pulsar.rs:38;
    * topic is the reference's `Expr<String>`) — executor-side, one
    * connection per partition, one producer per distinct topic seen.
    * The value goes out as its bytes ([[Engine.publish]]).
    * At-least-once: every send waits for its receipt. */
  final case class PulsarSink(serviceUrl: String, topicExpr: String,
      valueField: String, auth: Map[String, String] = Map.empty)
      extends Engine.BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit = {
      val (url, a) = (serviceUrl, auth)
      Engine.publish(batch, topicExpr, s"`$valueField`")(() => new Conn(url, a)) {
        conn =>
          // producer per distinct topic in this partition: (id, name)
          val producers = scala.collection.mutable.Map[String, (Long, String)]()
          (topic, value) => {
            val (pid, pname) = producers.getOrElseUpdate(topic, {
              val id = producers.size + 1L
              (id, conn.createProducer(topic, id))
            })
            conn.send(pname, value, producerId = pid)
          }
      }
    }
  }
}
