package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

/** HTTP input, client mode (reference input/http.rs:225-233: poll a
  * remote endpoint with `method` on an `interval`). One poll = one GET →
  * envelope rows, EOF semantics; the engine trigger drives repetition.
  * The body reaches `__value__` byte for byte; `split_lines=true` turns
  * an NDJSON body into one row per line.
  */
object HttpPoll {
  def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    import spark.implicits._
    val conn = new java.net.URI(options("url")).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val body =
      try {
        conn.setRequestMethod(options.getOrElse("method", "GET"))
        options.get("bearer_token").foreach(t =>
          conn.setRequestProperty("Authorization", s"Bearer $t"))
        if (conn.getResponseCode < 200 || conn.getResponseCode >= 300)
          throw new java.io.IOException(
            s"http input: ${options("url")} returned ${conn.getResponseCode}")
        conn.getInputStream.readAllBytes()
      } finally conn.disconnect()
    val messages =
      if (options.get("split_lines").contains("true"))
        new String(body, UTF_8).linesIterator.filter(_.nonEmpty).map(_.getBytes(UTF_8)).toSeq
      else Seq(body)
    messages.toDF(Codecs.ValueCol)
  }
}

/** HTTP server input (SURVEY.md §2.1; reference input/http.rs:42-115):
  * an embedded endpoint receives POST bodies and feeds them, byte for
  * byte, into the stream as binary envelopes — the foreachBatch-harness
  * shape the survey prescribes (no custom DataSourceV2 needed). Uses the
  * JDK's built-in HttpServer, so no extra dependency.
  *
  * Optional bearer-token auth mirrors the reference's auth block. The
  * driver-side queue is the ingestion edge (like the reference's bounded
  * channel); downstream processing is fully distributed. Each accepted
  * POST is one message of the [[PushInput]]; the server stops with the
  * query that reads it.
  */
final class HttpInput(spark: SparkSession, port: Int, path: String = "/ingest",
                      bearerToken: Option[String] = None,
                      maxRequestsPerSecond: Option[Int] = None,
                      authLockoutAfter: Int = Int.MaxValue,
                      basicAuth: Option[(String, String)] = None)
    extends PushInput(spark) {
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", port), 0)

  // reference http.rs middleware: a token-bucket rate limiter (burst =
  // one second's quota) and failed-auth lockout.
  private val tokens = new java.util.concurrent.atomic.AtomicLong(
    maxRequestsPerSecond.map(_.toLong).getOrElse(Long.MaxValue))
  private val lastRefillMs = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())
  private val failedAuths = new java.util.concurrent.atomic.AtomicInteger(0)

  private def tryAcquire(): Boolean = maxRequestsPerSecond match {
    case None => true
    case Some(limit) =>
      val now = System.currentTimeMillis()
      val last = lastRefillMs.get()
      if (now - last >= 1000 && lastRefillMs.compareAndSet(last, now))
        tokens.set(limit.toLong)
      tokens.getAndUpdate(t => if (t > 0) t - 1 else t) > 0
  }

  // Constant-time compare (reference http.rs:252-285 uses ct_eq against
  // credential-probing timing attacks); `&` not `&&` so both halves of a
  // Basic credential always compare.
  private def constEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Auth modes, mirroring input/http.rs:43-49 `AuthType`: Basic
    * (username/password, base64 — malformed or truncated credentials are
    * a plain 401, never an exception) takes precedence when configured,
    * then Bearer, else open. */
  private def checkAuth(header: Option[String]): Boolean =
    (basicAuth, bearerToken) match {
      case (Some((u, p)), _) => header.exists { s =>
        s.startsWith("Basic ") && {
          val decoded =
            try new String(java.util.Base64.getDecoder.decode(
              s.stripPrefix("Basic ").trim),
              java.nio.charset.StandardCharsets.UTF_8)
            catch { case _: IllegalArgumentException => "" }
          decoded.split(":", 2) match {
            case Array(gu, gp) => constEq(gu, u) & constEq(gp, p)
            case _ => false
          }
        }
      }
      case (None, Some(t)) => header.exists(s =>
        s.startsWith("Bearer ") && constEq(s.stripPrefix("Bearer "), t))
      case (None, None) => true
    }

  server.createContext(path, { exchange =>
    try {
      val authorized = checkAuth(
        Option(exchange.getRequestHeaders.getFirst("Authorization")))
      if (failedAuths.get() >= authLockoutAfter) {
        exchange.sendResponseHeaders(403, -1) // locked out
      } else if (!authorized) {
        failedAuths.incrementAndGet()
        exchange.sendResponseHeaders(401, -1)
      } else if (!tryAcquire()) {
        exchange.sendResponseHeaders(429, -1)
      } else if (exchange.getRequestMethod != "POST") {
        exchange.sendResponseHeaders(405, -1)
      } else {
        failedAuths.set(0) // a successful auth resets the lockout counter
        push(exchange.getRequestBody.readAllBytes())
        exchange.sendResponseHeaders(200, -1)
      }
    } finally exchange.close()
  })
  server.setExecutor(null)
  server.start()
  opened()

  def boundAddress: String = s"http://127.0.0.1:$port$path"

  protected def disconnect(): Unit = server.stop(0)
}
