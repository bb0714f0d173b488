package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Order-independent output checksums.
  *
  * Each output row is rendered to a canonical string (columns joined by
  * `|`, null as `~`, decimals as integer thousandths) and hashed with
  * xxhash64. A set of rows is summarised by its row count, the XOR of the
  * hashes and the sum of their low 20 bits: all three are bounded, so the
  * Spark side never overflows under ANSI mode, and together they catch a
  * changed, dropped or duplicated row.
  */
object Check {
  val Sep = "|"
  val Null = "~"

  final case class Sum(rows: Long, xor: Long, low: Long) {
    override def toString = f"rows=$rows xor=$xor%016x low=$low"
  }

  object Sum {
    def hash(row: String): Long = {
      val b = row.getBytes(UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    def of(rows: Iterator[String]): Sum = {
      var n, x, l = 0L
      rows.foreach { r => val h = hash(r); n += 1; x ^= h; l += h & 0xFFFFF }
      Sum(n, x, l)
    }
  }

  private def str(c: Column): Column = coalesce(c.cast("string"), lit(Null))
  private def milli(c: Column): Column = str(round(c * 1000).cast("long"))

  /** Canonical columns of a `json_ingest` output row. */
  val JsonIngestCols: Seq[Column] = Seq(str(col("device")), str(col("site")),
    str(col("seq")), str(col("ts")), milli(col("temp")), str(col("hum")),
    str(col("status")), str(col("alt")), str(col("zone")), str(col("fw")),
    str(col("dev")), milli(col("temp_f")), str(col("band")))

  /** Canonical columns of an `http_stream` output row. */
  val HttpCols: Seq[Column] = Seq(str(col("stream")), str(col("seq")),
    str(col("device")), milli(col("temp")), str(col("hum")), str(col("dev")),
    milli(col("temp_f")), str(col("band")))

  /** Canonical columns of a `corpus_dedup` output row. */
  val PairCols: Seq[Column] = Seq(str(col("doc_a")), str(col("doc_b")), str(col("dist")))

  def rowHash(cols: Seq[Column]): Column = xxhash64(concat_ws(Sep, cols: _*))

  /** The checksum of a frame, in one Spark job. */
  def of(df: DataFrame, cols: Seq[Column]): Sum = {
    val r = df.select(rowHash(cols).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFL)), lit(0L)))
      .head()
    Sum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
