package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}

/** NATS input + output (SURVEY.md §2.1/§2.2; reference
  * input/nats.rs:38-90 — Regular subject subscribe incl. queue groups,
  * JetStream durable pull consumers, user/pass/token auth;
  * output/nats.rs:37-55 publish). NATS' client protocol is line-based
  * text (INFO/CONNECT/SUB/MSG/PUB/PING/PONG), so like [[Redis]] this is
  * a from-scratch protocol client over a plain socket — no client jar
  * exists in this environment. JetStream rides the same core protocol:
  * the management API is request/reply over `$JS.API.*` subjects, pull
  * consumption is a `MSG.NEXT` request whose deliveries arrive on the
  * reply inbox carrying `$JS.ACK.*` reply subjects to ack into.
  *
  * Input shape: a background reader thread feeds MSG payloads into the
  * [[PushInput]] envelope (the driver-side ingestion edge, like
  * [[HttpInput]]/[[WebSocketInput]]). The output publishes from
  * executors with one connection per partition.
  */
object Nats {

  /** auth keys (input/nats.rs:65-75): username+password or token. */
  final class Conn(host: String, port: Int,
      auth: Map[String, String] = Map.empty) extends AutoCloseable {
    private val socket = new java.net.Socket(host, port)
    socket.setSoTimeout(0)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private[Nats] val in = new BufferedInputStream(socket.getInputStream)

    readLine() // server INFO
    locally {
      import Codecs.{jsonEscape => js}
      val authFields =
        auth.get("username").map(u => s""","user":"${js(u)}"""").getOrElse("") +
        auth.get("password").map(p => s""","pass":"${js(p)}"""").getOrElse("") +
        auth.get("token").map(t => s""","auth_token":"${js(t)}"""").getOrElse("")
      send(s"""CONNECT {"verbose":false,"pedantic":false$authFields}""")
    }

    // synchronized like sendRaw below — the reader thread's PONG
    // keep-alive answer must not interleave with the commit thread's
    // deferred +ACK publishes on the shared output stream
    private[Nats] def send(line: String): Unit = synchronized {
      out.write((line + "\r\n").getBytes(StandardCharsets.UTF_8))
      out.flush()
    }

    // synchronized: deferred JetStream acks publish from the
    // checkpoint-commit thread while the reader thread publishes pulls —
    // interleaved protocol lines would corrupt the wire
    private[Nats] def sendRaw(head: String, payload: Array[Byte]): Unit =
      synchronized {
        out.write((head + "\r\n").getBytes(StandardCharsets.UTF_8))
        out.write(payload)
        out.write("\r\n".getBytes(StandardCharsets.UTF_8))
        out.flush()
      }

    private[Nats] def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\r') {
        if (c == -1) throw new java.io.EOFException("nats: peer closed mid-line")
        sb.append(c.toChar); c = in.read()
      }
      in.read() // \n
      sb.toString
    }

    private[Nats] def readBytes(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new java.io.EOFException
        off += r
      }
      in.read(); in.read() // trailing \r\n
      buf
    }

    def publish(subject: String, payload: Array[Byte]): Unit =
      sendRaw(s"PUB $subject ${payload.length}", payload)

    /** Publish with a reply-to subject (the JS API request shape). */
    private[Nats] def publishRequest(subject: String, replyTo: String,
        payload: Array[Byte]): Unit =
      sendRaw(s"PUB $subject $replyTo ${payload.length}", payload)

    /** Queue-group membership load-balances the subscription across
      * group members (input/nats.rs Regular.queue_group). */
    def subscribe(subject: String, sid: String = "1",
        queueGroup: Option[String] = None): Unit =
      send(queueGroup.fold(s"SUB $subject $sid")(g => s"SUB $subject $g $sid"))

    def close(): Unit = socket.close()
  }

  /** One parsed MSG frame: subject, optional reply-to, payload. */
  private final case class Msg(subject: String, reply: Option[String],
      payload: Array[Byte])

  /** Read the next MSG off the wire, answering PINGs along the way;
    * None when the peer closes. */
  private def nextMsg(conn: Conn): Option[Msg] =
    try {
      while (true) {
        val parts = conn.readLine().split(" ")
        parts.head match {
          case "MSG" =>
            // MSG <subject> <sid> [reply-to] <#bytes>
            val n = parts.last.toInt
            val reply = if (parts.length == 5) Some(parts(3)) else None
            return Some(Msg(parts(1), reply, conn.readBytes(n)))
          case "PING" => conn.send("PONG")
          case _ => () // +OK, INFO updates
        }
      }
      None
    } catch {
      case _: java.io.EOFException | _: java.net.SocketException => None
    }

  /** The MSG frames off the wire until the peer closes. */
  private def msgs(conn: Conn): Iterator[Msg] =
    Iterator.continually(nextMsg(conn)).takeWhile(_.isDefined).flatten

  /** Streaming subject input: `MSG <subject> <sid> [reply] <#bytes>`
    * frames land as envelope rows tagged with `__meta_subject`
    * (input/nats.rs Regular mode, optional queue group + auth). Each MSG
    * is one message of the [[PushInput]], its payload kept byte for
    * byte. */
  final class NatsInput(spark: SparkSession, host: String, port: Int,
      subject: String, queueGroup: Option[String] = None,
      auth: Map[String, String] = Map.empty)
      extends PushInput(spark, Seq("__meta_subject")) {
    private val conn = new Conn(host, port, auth)
    conn.subscribe(subject, "1", queueGroup)
    opened("graft-nats-reader") {
      msgs(conn).foreach(m => push(m.payload, m.subject))
    }

    protected def disconnect(): Unit = conn.close()
  }

  /** JetStream DURABLE pull consumer (input/nats.rs JetStream mode:
    * stream + consumer/durable name): creates the durable via the
    * `$JS.API.CONSUMER.DURABLE.CREATE` request (idempotent broker-side),
    * then loops `MSG.NEXT` batch pulls; every delivery arrives on the
    * reply inbox with a `$JS.ACK.*` reply subject that gets an explicit
    * `+ACK` once the micro-batch holding the row has COMMITTED (round 8,
    * [[CommitAckStream]] — same contract as [[Pulsar.PulsarInput]]) — a
    * broker-durable cursor plus commit-deferred acks, so a RESTARTED
    * input resumes where the durable left off and a crashed driver's
    * unacked tail REDELIVERS after ack_wait instead of being lost:
    * at-least-once across driver restarts (spec'd with a restart in
    * BrokerSpec). The broker's ack_wait redelivers anything a crash left
    * unacked; duplicates are the consumer-dedupe case the idempotent
    * sinks already handle.
    */
  final class JetStreamInput(spark: SparkSession, host: String, port: Int,
      streamName: String, durable: String,
      auth: Map[String, String] = Map.empty)
      extends AckingPushInput(spark, Seq("__meta_stream")) {
    private val conn = new Conn(host, port, auth)
    private val inbox = s"_INBOX.graft.${java.util.UUID.randomUUID()}"
    conn.subscribe(inbox)
    locally {
      import Codecs.{jsonEscape => js}
      val cfg = s"""{"stream_name":"${js(streamName)}","config":{"durable_name":"${js(durable)}","ack_policy":"explicit","deliver_policy":"all"}}"""
      conn.publishRequest(
        s"$$JS.API.CONSUMER.DURABLE.CREATE.$streamName.$durable", inbox,
        cfg.getBytes(StandardCharsets.UTF_8))
      // the create response arrives on the inbox before any pull
      // starts — and it must be CHECKED: a missing stream or denied
      // permission answers with an error document, and swallowing it
      // would leave the input pulling from a consumer that does not
      // exist (a permanent silent hang, zero rows, zero diagnostics)
      nextMsg(conn) match {
        case Some(resp) =>
          val body = new String(resp.payload, StandardCharsets.UTF_8)
          if (body.contains("\"error\""))
            throw new java.io.IOException(
              s"nats jetstream: consumer create failed for stream '$streamName', durable '$durable': $body")
        case None =>
          throw new java.io.IOException(
            "nats jetstream: connection closed before the consumer-create response")
      }
    }
    // ONE pull request outstanding at a time (batch:1): re-requested
    // after each delivery, so liveness never depends on a batch filling
    // up. The server holds an unfulfilled request until a message
    // arrives. Production clients raise the batch and juggle 404/408
    // status replies; one-at-a-time keeps the protocol surface minimal
    // at the cost of a request per message.
    private def requestNext(): Unit =
      conn.publishRequest(s"$$JS.API.CONSUMER.MSG.NEXT.$streamName.$durable",
        inbox, """{"batch":1}""".getBytes(StandardCharsets.UTF_8))

    opened("graft-nats-js-reader") {
      requestNext()
      msgs(conn).foreach { m =>
        m.reply match {
          case Some(ack) if ack.startsWith("$JS.ACK") =>
            // the +ACK itself rides the checkpoint commit (CommitAckStream)
            pushAcked(() => conn.publish(ack, "+ACK".getBytes(StandardCharsets.UTF_8)),
              m.payload, streamName)
            requestNext()
          case _ => () // API responses / status messages
        }
      }
    }

    protected def disconnect(): Unit = conn.close()
  }

  /** Publish each row's value as its bytes ([[Engine.publish]]: a
    * binary value unchanged, anything else as its text in UTF-8) to
    * `subjectExpr` — executor-side, one connection per partition.
    * At-least-once, like the reference. */
  final case class NatsSink(host: String, port: Int, subjectExpr: String,
      valueExpr: String) extends Engine.BatchSink {
    def write(batch: DataFrame, batchId: Long): Unit = {
      val (h, p) = (host, port)
      Engine.publish(batch, subjectExpr, valueExpr)(() => new Conn(h, p))(
        conn => conn.publish(_, _))
    }
  }
}
