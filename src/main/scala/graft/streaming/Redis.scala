package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal RESP2 redis client + the three redis components (SURVEY.md
  * §2.1/§2.2/§2.6; reference input/redis.rs:39-83 poll list/string,
  * output/redis.rs:32-45 set/lpush/publish, plugin/temporary/redis.rs —
  * the reference's ONLY temporary-lookup implementation). No redis client
  * jar ships here, and the wire protocol is ~a page of spec — so this is
  * a from-scratch RESP codec over a plain socket, protocol-complete for
  * the five reply types, verified against an in-memory RESP server in
  * RedisSpec.
  *
  * Distribution shape: the OUTPUT writes from executors (one pipelined
  * connection per partition). The lookup + poll input run on the driver
  * edge exactly like the reference's single connection — their volume is
  * key-bounded by construction.
  */
object Redis {

  /** One RESP2 connection. Not thread-safe (one per task/driver loop).
    * `password`/`user` issue AUTH and a non-zero `db` issues SELECT at
    * connect time (component/redis.rs Mode::Single honors both via the
    * url), so every later command runs against the right database. */
  final class Conn(host: String, port: Int, db: Int = 0,
      user: Option[String] = None, password: Option[String] = None)
      extends AutoCloseable {
    private val socket = new java.net.Socket(host, port)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val in = new BufferedInputStream(socket.getInputStream)
    password.foreach { pw =>
      user match {
        case Some(u) => command("AUTH", u, pw)
        case None => command("AUTH", pw)
      }
      ()
    }
    if (db != 0) command("SELECT", db.toString)

    def this(ep: Endpoint) = this(ep.host, ep.port, ep.db, ep.user, ep.password)

    def command(args: String*): Any = {
      val sb = new StringBuilder(s"*${args.size}\r\n")
      args.foreach { a =>
        val bytes = a.getBytes(StandardCharsets.UTF_8)
        sb.append(s"$$${bytes.length}\r\n").append(a).append("\r\n")
      }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      out.flush()
      readReply()
    }

    private def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\r') {
        if (c == -1) throw new java.io.EOFException("redis: peer closed mid-reply")
        sb.append(c.toChar); c = in.read()
      }
      in.read() // \n
      sb.toString
    }

    private def readReply(): Any = in.read() match {
      case '+' => readLine()
      case '-' => throw new RuntimeException(s"redis error: ${readLine()}")
      case ':' => readLine().toLong
      case '$' =>
        val n = readLine().toInt
        if (n < 0) null
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new java.io.EOFException("redis: peer closed mid-bulk")
            off += r
          }
          in.read(); in.read() // trailing \r\n
          new String(buf, StandardCharsets.UTF_8)
        }
      case '*' =>
        val n = readLine().toInt
        if (n < 0) null else Seq.fill(n)(readReply())
      case other => throw new RuntimeException(s"redis: bad reply type byte $other")
    }

    def close(): Unit = socket.close()
  }

  /** redis output (output/redis.rs): `mode` = set | lpush | publish; the
    * key/channel is an expression over the row, the value a column.
    * Executor-side: one connection per partition, commands pipelined by
    * the socket buffer. Replays overwrite under `set` (idempotent);
    * lpush/publish are at-least-once, like the reference. */
  final case class RedisSink(host: String, port: Int, mode: String,
      keyExpr: String, valueExpr: String) extends Engine.BatchSink {
    private val cmd = mode match {
      case "set" => "SET"
      case "lpush" => "LPUSH"
      case "publish" => "PUBLISH"
      case other => throw new IllegalArgumentException(s"redis output mode: $other")
    }
    def write(batch: DataFrame, batchId: Long): Unit = {
      val (h, p, c) = (host, port, cmd)
      batch.selectExpr(s"CAST(($keyExpr) AS STRING) AS k",
          s"CAST(($valueExpr) AS STRING) AS v")
        .foreachPartition { (rows: Iterator[Row]) =>
          if (rows.nonEmpty) {
            val conn = new Conn(h, p)
            try rows.foreach(r => conn.command(c, r.getString(0), r.getString(1)))
            finally conn.close()
          }
        }
    }
  }

  /** Temporary lookup (plugin/temporary/redis.rs): the batch's distinct
    * keys fetch via MGET, chunked at `mgetChunk` keys per command so no
    * key is ever silently dropped (unlike an IN-list there is no server
    * cost cliff — MGET is O(keys) regardless of how they are batched);
    * the (key, value) result joins in broadcast through
    * [[Processors.LookupSqlProcessor]]. `maxKeys` bounds what the driver
    * will ship in one batch — beyond it the lookup FAILS LOUDLY rather
    * than returning silent nulls for the overflow keys (the JDBC
    * provider's unfiltered-query fallback has no MGET analogue). */
  def lookupProvider(spark: SparkSession, host: String, port: Int,
      batchKeyCol: String, maxKeys: Int = 100000,
      mgetChunk: Int = 1000): DataFrame => DataFrame = { batch =>
    import spark.implicits._
    // batchKeyCol may be any SQL expression over the batch; nulls filter
    // IN THE QUERY, before distinct/limit, so they can never occupy a
    // limit slot and mask an overflow past maxKeys
    val keys = batch.select(expr(batchKeyCol).cast("string").as("k"))
      .where(col("k").isNotNull).distinct()
      .limit(maxKeys + 1).as[String].collect().toSeq
    if (keys.length > maxKeys)
      throw new IllegalStateException(
        s"redis lookup: batch has more than $maxKeys distinct keys; " +
          "raise maxKeys or pre-aggregate the key expression")
    val values =
      if (keys.isEmpty) Seq.empty[(String, String)]
      else {
        val conn = new Conn(host, port)
        try keys.grouped(mgetChunk).flatMap { chunk =>
          val replies = conn.command("MGET" +: chunk: _*).asInstanceOf[Seq[Any]]
          chunk.zip(replies).collect { case (k, v: String) => (k, v) }
        }.toSeq
        finally conn.close()
      }
    values.toDF("key", "value")
  }

  /** A parsed redis connection endpoint (component/redis.rs Mode::Single
    * url semantics: `redis://[user:pass@]host[:port][/db]`). */
  final case class Endpoint(host: String, port: Int, db: Int = 0,
    user: Option[String] = None, password: Option[String] = None)

  /** Parse the reference's `mode.url` connection string
    * (`redis://[user:pass@]host[:port][/db]`, component/redis.rs
    * Mode::Single). The db index and userinfo are HONORED (SELECT/AUTH at
    * connect, [[Conn]]) — the reference's client does both, so silently
    * reading db 0 for a `/2` url would return wrong lookup data.
    * `rediss://` (TLS) and cluster mode are rejected loudly — a silent
    * plaintext downgrade or first-node-only cluster read would be worse
    * than an error. */
  def parseUrl(url: String): Endpoint = {
    val t = url.trim
    require(!t.startsWith("rediss://"),
      s"rediss:// (TLS) is not supported by this engine's RESP client — " +
        "terminate TLS at a proxy and use redis://")
    val stripped = t.stripPrefix("redis://")
    val (userinfo, rest) = stripped.lastIndexOf('@') match {
      case -1 => (None, stripped)
      case i => (Some(stripped.substring(0, i)), stripped.substring(i + 1))
    }
    val (user, password) = userinfo match {
      case None => (None, None)
      case Some(ui) => ui.split(":", 2) match {
        case Array("", pw) => (None, Some(pw)) // :pass@ — password only
        case Array(u, pw) => (Some(u), Some(pw))
        case Array(pw) => (None, Some(pw)) // pass@ — legacy password-only
      }
    }
    val (hostPort, path) = rest.indexOf('/') match {
      case -1 => (rest, "")
      case i => (rest.substring(0, i), rest.substring(i + 1))
    }
    val db =
      if (path.isEmpty) 0
      else if (path.forall(_.isDigit)) path.toInt
      else throw new IllegalArgumentException(
        s"redis url '$url': path '/$path' is not a database index")
    hostPort.split(":", 2) match {
      case Array(h, p) =>
        val port = try p.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"redis url '$url': bad port '$p'") }
        Endpoint(h, port, db, user, password)
      case Array(h) => Endpoint(h, 6379, db, user, password)
    }
  }

  /** Reference-dialect temporary provider (plugin/temporary/redis.rs):
    * fetch the batch's keys from redis and DECODE the values through the
    * declared codec into the lookup table's rows — the fetched JSON
    * documents ARE the table (no key/value columns; the user's query
    * joins on the decoded columns, as redis_temporary_example.yaml's
    * `flow.sensor = redis_table.x` does).
    *
    *  - `redis_type` string → one MGET over the distinct keys
    *    (temporary/redis.rs RedisType::String);
    *  - `redis_type` list → LRANGE key 0 -1 per key, concatenated
    *    (RedisType::List).
    *
    * `keys` yields the lookup keys for the current batch: a constant
    * (`key.type: value`) or the distinct values of a batch expression
    * (`key.type: expr`), bounded by `maxKeys` with a loud overflow
    * failure like [[lookupProvider]]. Driver-edge fetch, key-bounded by
    * construction; the decoded table broadcasts through
    * LookupSqlProcessor. */
  def temporaryProvider(spark: SparkSession, endpoint: Endpoint,
      redisType: String, keys: DataFrame => Seq[String],
      mgetChunk: Int = 1000): DataFrame => DataFrame = { batch =>
    // (codec validity is a BUILD-time check in lookupSqlFromRefs, like
    // the reference's builder — not a first-micro-batch surprise)
    import spark.implicits._
    val ks = keys(batch)
    val values: Seq[String] =
      if (ks.isEmpty) Seq.empty
      else {
        val conn = new Conn(endpoint)
        try redisType match {
          case "string" =>
            // MGET over the distinct key set, chunked so no key drops
            ks.distinct.grouped(mgetChunk).flatMap { chunk =>
              val replies = conn.command("MGET" +: chunk: _*).asInstanceOf[Seq[Any]]
              replies.collect { case v: String => v }
            }.toSeq
          case "list" =>
            ks.flatMap(k =>
              conn.command("LRANGE", k, "0", "-1").asInstanceOf[Seq[Any]]
                .collect { case v: String => v })
          case other => throw new IllegalArgumentException(
            s"redis temporary redis_type '$other' (want string | list)")
        } finally conn.close()
      }
    val decoded = Processors.JsonToArrow()(
      values.toDF("s").select(col("s").cast("binary").as(Codecs.ValueCol)))
    // zero fetched documents: JsonToArrow's zero-row inference guard
    // returns the empty-schema sentinel; register a truly empty frame so
    // the failure mode is the query's own unresolved-column error (what
    // the reference's DataFusion produces for an unregistered/empty
    // temporary), not a sentinel leaking downstream
    if (decoded.schema.isEmpty) spark.emptyDataFrame else decoded
  }

  /** Key extraction for a temporary_ref (processor/sql.rs `Expr<String>`
    * key, read through [[Config.expr]]): a value is a constant, an expr
    * evaluates over the batch per micro-batch (distinct, maxKeys-bounded). */
  def temporaryKeys(opts: Map[String, String],
      maxKeys: Int = 100000): DataFrame => Seq[String] =
    Config.expr(opts, "key") match {
      case None => throw new IllegalArgumentException("temporary_list entry needs a key")
      case Some(Left(k)) => _ => Seq(k)
      case Some(Right(e)) =>
        batch => {
          // nulls filter BEFORE distinct/limit: a post-collect filter let
          // a null occupy the maxKeys+1 overflow slot, so a batch with
          // >maxKeys real keys plus a null silently dropped keys
          val ks = batch.select(expr(e).cast("string").as("k"))
            .where(col("k").isNotNull).distinct()
            .limit(maxKeys + 1).collect().map(_.getString(0)).toSeq
          if (ks.length > maxKeys) throw new IllegalStateException(
            s"temporary lookup: batch has more than $maxKeys distinct keys; " +
              "raise maxKeys or pre-aggregate the key expression")
          ks
        }
    }

  /** redis input (input/redis.rs poll modes): drain a list via LPOP or
    * read one string key — one poll, EOF semantics, envelope shape. */
  def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    import spark.implicits._
    val conn = new Conn(options("host"), options.getOrElse("port", "6379").toInt)
    try {
      val values = options.getOrElse("mode", "list") match {
        case "list" =>
          val key = options("key")
          val max = options.getOrElse("max_messages", "10000").toInt
          Iterator.continually(conn.command("LPOP", key))
            .takeWhile(_ != null).take(max).map(_.asInstanceOf[String]).toSeq
        case "string" =>
          Option(conn.command("GET", options("key"))).map(_.asInstanceOf[String]).toSeq
        case other => throw new IllegalArgumentException(s"redis input mode: $other")
      }
      values.toDF("s").select(col("s").cast("binary").as(Codecs.ValueCol))
    } finally conn.close()
  }
}
