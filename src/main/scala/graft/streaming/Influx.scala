package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** InfluxDB v2 output (SURVEY.md §2.2; reference output/influxdb.rs:39-160:
  * measurement/tags/fields mapping with line-protocol escaping,
  * 529-560). The line-protocol rendering is pure column expressions
  * (codegen, fully distributed); the write is executor-side POSTs of
  * `rows_per_request`-bounded bodies to `/api/v2/write` with token auth —
  * the same no-driver-collect shape as [[HttpOutputSink]].
  */
object Influx {

  /** Line-protocol escaping (reference output/influxdb.rs:529-560):
    * measurements escape `, `; tag keys/values escape `,= `; string field
    * values escape `"` and backslash and are double-quoted. */
  private def escMeasurement(c: Column): Column =
    regexp_replace(c, "([, ])", "\\\\$1")
  private def escTag(c: Column): Column =
    regexp_replace(c, "([,= ])", "\\\\$1")
  private def escFieldString(c: Column): Column =
    concat(lit("\""), regexp_replace(c, "([\"\\\\])", "\\\\$1"), lit("\""))

  /** Render one line-protocol string per row:
    * `measurement[,tag=v...] field=v[,field=v...] [timestamp]`.
    * Integer fields get the `i` suffix, strings are quoted+escaped,
    * booleans render true/false, floats render plain. */
  def lineProtocol(df: DataFrame, measurement: String, tags: Seq[String],
      fields: Seq[String], timeCol: Option[String]): DataFrame = {
    val schema = df.schema
    def fieldValue(name: String): Column = schema(name).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        concat(col(name).cast("string"), lit("i"))
      case BooleanType | FloatType | DoubleType => col(name).cast("string")
      case StringType => escFieldString(col(name))
      case other => throw new IllegalArgumentException(
        s"influxdb field $name: unsupported type $other")
    }
    val tagPart =
      if (tags.isEmpty) lit("")
      else concat(tags.map(t =>
        concat(lit(s",${t}="), escTag(col(t).cast("string")))): _*)
    val fieldPart = concat_ws(",",
      fields.map(f => concat(lit(s"$f="), fieldValue(f))): _*)
    val timePart = timeCol.map(t => concat(lit(" "), col(t).cast("string")))
      .getOrElse(lit(""))
    df.select(concat(escMeasurement(lit(measurement)), tagPart,
      lit(" "), fieldPart, timePart).as("line"))
  }

  /** options: url, org, bucket, token, measurement, tags and fields (each
    * a list or a comma string), time_col?, rows_per_request?. The
    * required options are read at construction, so an output that lacks
    * one fails at build and names the key. */
  final case class InfluxSink(options: Map[String, String]) extends Engine.BatchSink {
    private def required(key: String): String = options.getOrElse(key,
      throw new IllegalArgumentException(s"influxdb output needs `$key`"))
    private val measurement = required("measurement")
    private val endpoint = s"${required("url")}/api/v2/write?org=${required("org")}" +
      s"&bucket=${required("bucket")}&precision=ns"
    private val token = required("token")
    private val tags = Config.list(options, "tags")
    private val fields = Config.list(options, "fields")
    require(fields.nonEmpty, "influxdb output needs a non-empty `fields` list")
    def write(batch: DataFrame, batchId: Long): Unit = {
      val lines = lineProtocol(batch, measurement, tags, fields,
        options.get("time_col"))
      // locals, so the executor closure captures two strings, not the sink
      val (url, auth) = (endpoint, s"Token $token")
      val cap = options.getOrElse("rows_per_request", "5000").toInt
      lines.select("line").foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.map(_.getString(0)).grouped(cap).foreach { chunk =>
          val conn = new java.net.URI(url).toURL.openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          try {
            conn.setRequestMethod("POST")
            conn.setDoOutput(true)
            conn.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
            conn.setRequestProperty("Authorization", auth)
            val out = conn.getOutputStream
            try out.write(chunk.mkString("\n").getBytes(StandardCharsets.UTF_8))
            finally out.close()
            val code = conn.getResponseCode
            if (code < 200 || code >= 300)
              throw new java.io.IOException(s"influxdb write returned $code")
          } finally conn.disconnect()
        }
      }
    }
  }
}
