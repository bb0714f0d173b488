package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The [[PushInput]] lifecycle through [[HttpInput]]: payload bytes reach
  * `__value__` unchanged, the query that reads an input closes it, and
  * `Engine.closeConfigInputs` closes the inputs no query started. The
  * http input's client mode ([[HttpPoll]]) keeps bytes too. */
class PushInputSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** POSTs `body` on a fresh connection; returns the status. */
  private def post(url: String, body: Array[Byte]): Int = {
    val c = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.setRequestProperty("Connection", "close")
    c.getOutputStream.write(body)
    try c.getResponseCode finally c.disconnect()
  }

  test("http server input keeps a body that is not UTF-8 byte for byte") {
    val http = new HttpInput(spark, freePort())
    try {
      val bytes = Array(0x08, 0x96, 0x01, 0xff, 0xfe).map(_.toByte)
      assert(post(http.boundAddress, bytes) == 200)
      val rows = PushInputSpec.rows(http.toDF, 1)
      assert(rows.map(_.getAs[Array[Byte]](Codecs.ValueCol).toSeq) == Seq(bytes.toSeq))
    } finally http.stop()
  }

  test("http client input keeps a body that is not UTF-8 byte for byte") {
    val bytes = Array(0x08, 0x96, 0x01, 0xff, 0xfe).map(_.toByte)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/raw", exchange => {
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val df = HttpPoll.read(spark,
        Map("url" -> s"http://127.0.0.1:${server.getAddress.getPort}/raw"))
      assert(df.collect().map(_.getAs[Array[Byte]](Codecs.ValueCol).toSeq).toSeq ==
        Seq(bytes.toSeq))
    } finally server.stop(0)
  }

  test("http server input closes when the query reading it stops; a " +
      "second stop is a no-op") {
    val http = new HttpInput(spark, freePort())
    val q = Engine.start(http.toDF, Nil, new Engine.MemorySink,
      trigger = Trigger.ProcessingTime(0L))
    try {
      assert(post(http.boundAddress, "{}".getBytes(StandardCharsets.UTF_8)) == 200)
      q.processAllAvailable()
    } finally q.stop()
    intercept[java.net.ConnectException](
      post(http.boundAddress, "{}".getBytes(StandardCharsets.UTF_8)))
    http.stop()
    http.stop()
  }

  test("closeConfigInputs closes an input that no query started, and a " +
      "stopped input leaves the open set") {
    val idle = new HttpInput(spark, freePort())
    val read = new HttpInput(spark, freePort())
    assert(PushInput.open.contains(idle) && PushInput.open.contains(read))
    Engine.start(read.toDF, Nil, new Engine.MemorySink).awaitTermination()
    assert(!PushInput.open.contains(read), "an AvailableNow query closes its input on completion")
    Engine.closeConfigInputs()
    assert(!PushInput.open.contains(idle))
    intercept[java.net.ConnectException](
      post(idle.boundAddress, "{}".getBytes(StandardCharsets.UTF_8)))
  }
}

object PushInputSpec {
  /** Runs `df` until it has given `n` rows (or 15 s pass), stops the
    * query and returns the rows. */
  def rows(df: DataFrame, n: Int): Seq[Row] = {
    val sink = new Engine.MemorySink
    val q = Engine.start(df, Nil, sink, trigger = Trigger.ProcessingTime(0L))
    try {
      val deadline = System.nanoTime() + 15e9.toLong
      while (sink.rows.size < n && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(20)
      }
    } finally q.stop()
    sink.rows
  }
}
