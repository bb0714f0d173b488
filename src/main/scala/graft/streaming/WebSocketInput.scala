package graft.streaming

import java.io.ByteArrayOutputStream
import java.net.http.{HttpClient, WebSocket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletionStage, TimeUnit}
import org.apache.spark.sql.SparkSession

/** WebSocket client input (SURVEY.md §2.1; reference input/websocket.rs:
  * 42-60: connect to a URL and stream frames into the pipeline). Built on
  * the JDK 11+ `java.net.http.WebSocket` client — no extra dependency —
  * feeding the same [[PushInput]] envelope as [[HttpInput]]: the
  * driver-side queue is the ingestion edge (the reference's bounded
  * channel), all downstream processing is distributed.
  *
  * Text and binary messages may arrive fragmented; fragments accumulate
  * until the final frame flag, then the whole message enqueues as one
  * envelope row — a text message as its UTF-8 bytes, a binary one as
  * received.
  */
final class WebSocketInput(spark: SparkSession, uri: String,
    headers: Map[String, String] = Map.empty) extends PushInput(spark) {

  @volatile private var closed = false

  private val listener = new WebSocket.Listener {
    private val text = new StringBuilder
    private val binary = new ByteArrayOutputStream
    override def onText(ws: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      text.append(data)
      if (last) {
        push(text.toString.getBytes(StandardCharsets.UTF_8))
        text.clear()
      }
      ws.request(1)
      null
    }
    override def onBinary(ws: WebSocket, data: ByteBuffer,
        last: Boolean): CompletionStage[_] = {
      val bytes = new Array[Byte](data.remaining)
      data.get(bytes)
      binary.write(bytes)
      if (last) {
        push(binary.toByteArray)
        binary.reset()
      }
      ws.request(1)
      null
    }
    override def onClose(ws: WebSocket, statusCode: Int,
        reason: String): CompletionStage[_] = {
      closed = true
      null
    }
  }

  private val socket: WebSocket = {
    val b = HttpClient.newHttpClient().newWebSocketBuilder()
    headers.foreach { case (k, v) => b.header(k, v) }
    b.buildAsync(java.net.URI.create(uri), listener).join()
  }
  opened()

  def isClosed: Boolean = closed

  /** Sends the close frame (waiting at most a second for it to go out),
    * then drops the connection without waiting for the server's reply. */
  protected def disconnect(): Unit =
    try {
      if (!closed)
        socket.sendClose(WebSocket.NORMAL_CLOSURE, "stop").get(1, TimeUnit.SECONDS)
    } catch { case scala.util.control.NonFatal(_) => () }
    finally socket.abort()
}
