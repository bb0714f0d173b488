package graft.streaming

import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.CompletionStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebSocket client input (SURVEY.md §2.1; reference input/websocket.rs:
  * 42-60: connect to a URL and stream frames into the pipeline). Built on
  * the JDK 11+ `java.net.http.WebSocket` client — no extra dependency —
  * feeding the same [[PushStream]] envelope as [[HttpInput]]: the
  * driver-side queue is the ingestion edge (the reference's bounded
  * channel), all downstream processing is distributed. Each message is
  * one offset; a micro-batch plans at most one contiguous partition per
  * core.
  *
  * Text frames may arrive fragmented; fragments accumulate until the
  * final frame flag, then the whole message enqueues as one envelope row.
  */
final class WebSocketInput(spark: SparkSession, uri: String,
    headers: Map[String, String] = Map.empty) {

  import spark.implicits._
  private val stream = new PushStream[String](spark)
  @volatile private var closed = false

  private val listener = new WebSocket.Listener {
    private val partial = new StringBuilder
    override def onText(ws: WebSocket, data: CharSequence,
        last: Boolean): CompletionStage[_] = {
      partial.append(data)
      if (last) {
        stream.addData(partial.toString)
        partial.clear()
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

  /** The streaming frame in the engine's binary-envelope shape. */
  def toDF: DataFrame =
    stream.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))

  def isClosed: Boolean = closed

  def stop(): Unit =
    if (!closed) socket.sendClose(WebSocket.NORMAL_CLOSURE, "stop").join()
}
