package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MQTT 3.1.1 input + output (SURVEY.md §2.1/§2.2; reference
  * input/mqtt.rs:35-57 subscribe incl. qos/clean_session/keep_alive/
  * username/password, output/mqtt.rs:37 publish). Like [[Redis]]/
  * [[Nats]], a from-scratch wire client over a plain socket — the 3.1.1
  * control packets used here (CONNECT/CONNACK, SUBSCRIBE/SUBACK,
  * PUBLISH + the QoS 1 PUBACK and QoS 2 PUBREC/PUBREL/PUBCOMP ladders,
  * PINGREQ/PINGRESP, DISCONNECT) are a few dozen bytes of framing.
  * Round 7 closed the option-surface gap: QoS 0/1/2 on both publish and
  * subscribe, clean-session off for durable subscriptions, keep-alive
  * with a client-side PINGREQ timer, username/password auth. End-to-end
  * exactly-once on the Spark side remains the checkpoint +
  * idempotent-sink story — the QoS ladders govern broker redelivery,
  * not pipeline semantics.
  */
object Mqtt {

  private def encodeRemainingLength(n0: Int): Array[Byte] = {
    var n = n0
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    while ({
      var d = n % 128
      n /= 128
      if (n > 0) d |= 0x80
      out += d.toByte
      n > 0
    }) ()
    out.toArray
  }

  private def utf8Field(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    Array(((b.length >> 8) & 0xff).toByte, (b.length & 0xff).toByte) ++ b
  }

  final class Conn(host: String, port: Int, clientId: String,
      username: Option[String] = None, password: Option[String] = None,
      cleanSession: Boolean = true, keepAliveSecs: Int = 60)
      extends AutoCloseable {
    require(keepAliveSecs >= 0 && keepAliveSecs <= 0xffff,
      s"keep_alive must be in [0, 65535] seconds, got $keepAliveSecs")
    private val socket = new java.net.Socket(host, port)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private[Mqtt] val in = new BufferedInputStream(socket.getInputStream)
    private var packetId = 0
    private def nextPacketId(): Int = { packetId = (packetId % 0xffff) + 1; packetId }

    // CONNECT: protocol "MQTT" level 4; flags carry clean-session +
    // user/pass presence (input/mqtt.rs:44-49 config surface)
    locally {
      val flags = (if (cleanSession) 0x02 else 0x00) |
        username.map(_ => 0x80).getOrElse(0) |
        password.map(_ => 0x40).getOrElse(0)
      require(password.isEmpty || username.nonEmpty,
        "mqtt 3.1.1: password requires username")
      val body = utf8Field("MQTT") ++
        Array[Byte](4, flags.toByte,
          ((keepAliveSecs >> 8) & 0xff).toByte, (keepAliveSecs & 0xff).toByte) ++
        utf8Field(clientId) ++
        username.map(utf8Field).getOrElse(Array.empty[Byte]) ++
        password.map(utf8Field).getOrElse(Array.empty[Byte])
      writePacket(0x10, body)
      val (_, connack) = readPacket()
      require(connack.length >= 2 && connack(1) == 0,
        s"mqtt CONNACK refused: code ${if (connack.length >= 2) connack(1) else -1}")
    }

    /** Client-side keep-alive: PINGREQ at half the negotiated interval.
      * Call once on long-lived (input) connections; the reader thread
      * swallows the PINGRESP. */
    private[Mqtt] def startKeepAlive(): Unit =
      if (keepAliveSecs > 0) {
        val t = new Thread(() => {
          try while (true) {
            Thread.sleep(math.max(1000L, keepAliveSecs * 500L))
            writePacket(0xc0, Array.empty)
          } catch {
            case _: InterruptedException | _: java.io.IOException |
                 _: java.net.SocketException => ()
          }
        }, "graft-mqtt-keepalive")
        t.setDaemon(true)
        t.start()
      }

    // synchronized: the reader thread's acks and the keep-alive
    // thread's PINGREQs share this stream — unsynchronized multi-write
    // packets would interleave bytes and corrupt the connection
    private[Mqtt] def writePacket(firstByte: Int, body: Array[Byte]): Unit = out.synchronized {
      out.write(firstByte)
      out.write(encodeRemainingLength(body.length))
      out.write(body)
      out.flush()
    }

    /** (packetType, body) */
    private[Mqtt] def readPacket(): (Int, Array[Byte]) = {
      val first = in.read()
      if (first == -1) throw new java.io.EOFException
      var len = 0; var shift = 0; var d = 0
      while ({
        d = in.read()
        if (d == -1) throw new java.io.EOFException("mqtt: peer closed mid-frame")
        len |= (d & 0x7f) << shift; shift += 7; (d & 0x80) != 0
      }) ()
      val body = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val r = in.read(body, off, len - off)
        if (r < 0) throw new java.io.EOFException
        off += r
      }
      (first & 0xff, body)
    }

    private def expectPacketType(t: Int): Unit = {
      val (got, _) = readPacket()
      require((got & 0xf0) == (t & 0xf0), f"mqtt: expected packet 0x$t%02x, got 0x$got%02x")
    }

    /** Publish at `qos` 0/1/2 — QoS 1 waits for PUBACK, QoS 2 walks the
      * PUBREC→PUBREL→PUBCOMP ladder (input/mqtt.rs qos config). */
    def publish(topic: String, payload: Array[Byte], qos: Int = 0): Unit = {
      require(qos >= 0 && qos <= 2, s"mqtt qos must be 0, 1 or 2, got $qos")
      if (qos == 0) writePacket(0x30, utf8Field(topic) ++ payload)
      else {
        val pid = nextPacketId()
        val pidBytes = Array(((pid >> 8) & 0xff).toByte, (pid & 0xff).toByte)
        writePacket(0x30 | (qos << 1), utf8Field(topic) ++ pidBytes ++ payload)
        if (qos == 1) expectPacketType(0x40) // PUBACK
        else {
          expectPacketType(0x50) // PUBREC
          writePacket(0x62, pidBytes) // PUBREL (flags 0b0010 mandated)
          expectPacketType(0x70) // PUBCOMP
        }
      }
    }

    def subscribe(topicFilter: String, qos: Int = 0): Unit = {
      require(qos >= 0 && qos <= 2, s"mqtt qos must be 0, 1 or 2, got $qos")
      writePacket(0x82,
        Array[Byte](0, 1) ++ utf8Field(topicFilter) ++ Array(qos.toByte))
      expectPacketType(0x90) // SUBACK
    }

    // QoS 2 inflight state: messages received but not yet PUBREL'd.
    // Proper method-B receive — delivery happens at PUBREL, so a broker
    // redelivering the PUBLISH (lost PUBREC) can never duplicate a row.
    private val qos2Inflight =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Array[Byte])]()

    /** The receive-side QoS ladders, called by the input reader on each
      * PUBLISH frame: QoS 0/1 deliver immediately (1 answers PUBACK);
      * QoS 2 answers PUBREC and STASHES the message — delivery is
      * deferred to [[onPubRel]], the exactly-once half of the ladder.
      * Returns the message to enqueue now, if any. */
    private[Mqtt] def onPublish(tpe: Int, body: Array[Byte]): Option[(String, Array[Byte])] = {
      val qos = (tpe >> 1) & 0x03
      val topicLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
      val topic = new String(body, 2, topicLen, StandardCharsets.UTF_8)
      val payloadStart = 2 + topicLen + (if (qos > 0) 2 else 0)
      val payload = java.util.Arrays.copyOfRange(body, payloadStart, body.length)
      qos match {
        case 0 => Some((topic, payload))
        case 1 =>
          writePacket(0x40, Array(body(2 + topicLen), body(3 + topicLen))) // PUBACK
          Some((topic, payload))
        case _ =>
          val pid = ((body(2 + topicLen) & 0xff) << 8) | (body(3 + topicLen) & 0xff)
          qos2Inflight.put(pid, (topic, payload)) // redelivery overwrites, never duplicates
          writePacket(0x50, Array(body(2 + topicLen), body(3 + topicLen))) // PUBREC
          None
      }
    }

    /** Broker's PUBREL: release the stashed QoS 2 message exactly once
      * and complete with PUBCOMP. */
    private[Mqtt] def onPubRel(body: Array[Byte]): Option[(String, Array[Byte])] = {
      val pid = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
      val msg = Option(qos2Inflight.remove(pid))
      writePacket(0x70, body.take(2)) // PUBCOMP
      msg
    }

    def close(): Unit = {
      try writePacket(0xe0, Array.empty) // DISCONNECT
      catch { case _: java.io.IOException => () }
      socket.close()
    }
  }

  /** Streaming subscribe input: PUBLISH frames land as envelope rows
    * tagged with `__meta_topic`. `qos`/`cleanSession`/`keepAlive`/auth
    * mirror input/mqtt.rs:35-57 (clean_session=false + a stable client
    * id = the broker-durable subscription). Each PUBLISH is one offset of
    * the [[PushInput]], its payload kept byte for byte.
    *
    * Delivery boundary, stated: MQTT's QoS acknowledgments (PUBACK /
    * PUBREC-PUBREL-PUBCOMP) are TRANSPORT handshakes the broker paces
    * in-flight windows by, not consumer-offset commits — deferring them
    * to checkpoint commit (the [[CommitAckStream]] treatment Pulsar and
    * JetStream get) would stall the broker's receive window. So a driver
    * crash between the QoS handshake and the batch commit can drop the
    * handshaken tail: at-most-once across restarts, like the reference.
    * For restart-durable MQTT ingestion put a durable staging
    * accumulator behind this input, or bridge through kafka. */
  final class MqttInput(spark: SparkSession, host: String, port: Int,
      topicFilter: String, clientId: String = "graft-in", qos: Int = 0,
      username: Option[String] = None, password: Option[String] = None,
      cleanSession: Boolean = true, keepAliveSecs: Int = 60)
      extends PushInput(spark, Seq("__meta_topic")) {
    private val conn = new Conn(host, port, clientId, username, password,
      cleanSession, keepAliveSecs)
    conn.subscribe(topicFilter, qos)
    conn.startKeepAlive()
    opened("graft-mqtt-reader") {
      while (true) {
        val (tpe, body) = conn.readPacket()
        (tpe & 0xf0) match {
          case 0x30 => conn.onPublish(tpe, body).foreach { case (t, p) => push(p, t) }
          case 0x60 => // broker's PUBREL: release the QoS 2 message
            conn.onPubRel(body).foreach { case (t, p) => push(p, t) }
          case 0xc0 => conn.writePacket(0xd0, Array.empty) // PINGREQ -> PINGRESP
          case _ => () // PINGRESP for our keep-alive PINGREQs, and the rest
        }
      }
    }

    protected def disconnect(): Unit = conn.close()
  }

  /** Publish each row's value as its bytes ([[Engine.publish]]: a
    * binary value unchanged, anything else as its text in UTF-8) —
    * executor-side, one connection per partition. QoS 0 is at-most-once
    * (the reference default); QoS 1/2 wait out each row's ack ladder
    * (at-least-once / broker-exactly-once). */
  final case class MqttSink(host: String, port: Int, topicExpr: String,
      valueExpr: String, qos: Int = 0,
      username: Option[String] = None, password: Option[String] = None)
      extends Engine.BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit = {
      val (h, p, q, u, pw) = (host, port, qos, username, password)
      Engine.publish(batch, topicExpr, valueExpr)(() => new Conn(h, p,
        s"graft-out-${java.util.UUID.randomUUID()}", u, pw))(
        conn => conn.publish(_, _, q))
    }
  }
}
