package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Modbus TCP input (SURVEY.md §2.1; reference input/modbus.rs:35-108:
  * poll coils/holding registers on an interval, one column per
  * configured point). The protocol is a 7-byte MBAP header + tiny PDU —
  * implemented directly on a socket like the other from-scratch clients.
  *
  * One poll = one batch with a column per point (EOF semantics; the
  * engine's trigger/interval drives repeated polls, mirroring the
  * reference's tokio timer loop).
  */
object Modbus {

  /** One configured point: read `count` holding registers at `addr`. */
  final case class Point(name: String, addr: Int, count: Int)

  /** "name:addr[:count]" entries → points. */
  def parsePoints(entries: Seq[String]): Seq[Point] =
    entries.map { p =>
      p.split(":") match {
        case Array(n, a, c) => Point(n, a.toInt, c.toInt)
        case Array(n, a) => Point(n, a.toInt, 1)
        case _ => throw new IllegalArgumentException(s"bad modbus point: $p")
      }
    }

  final class Conn(host: String, port: Int, unitId: Int = 1) extends AutoCloseable {
    private val socket = new java.net.Socket(host, port)
    private val out = new BufferedOutputStream(socket.getOutputStream)
    private val in = new BufferedInputStream(socket.getInputStream)
    private var txn = 0

    /** Function 3 (read holding registers) → unsigned register values. */
    def readHoldingRegisters(addr: Int, count: Int): Seq[Int] = {
      txn += 1
      val req = Array[Byte](
        ((txn >> 8) & 0xff).toByte, (txn & 0xff).toByte, // transaction id
        0, 0, // protocol id
        0, 6, // remaining length
        unitId.toByte,
        3, // function: read holding registers
        ((addr >> 8) & 0xff).toByte, (addr & 0xff).toByte,
        ((count >> 8) & 0xff).toByte, (count & 0xff).toByte)
      out.write(req); out.flush()
      val header = readN(7)
      val func = in.read()
      if ((func & 0x80) != 0)
        throw new RuntimeException(s"modbus exception code ${in.read()}")
      require(func == 3, s"modbus: unexpected function $func")
      val byteCount = in.read()
      require(byteCount == count * 2, s"modbus: byte count $byteCount for $count registers")
      val data = readN(byteCount)
      require(((header(0) & 0xff) << 8 | (header(1) & 0xff)) == txn, "modbus: txn mismatch")
      (0 until count).map(i => ((data(2 * i) & 0xff) << 8) | (data(2 * i + 1) & 0xff))
    }

    private def readN(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new java.io.EOFException
        off += r
      }
      buf
    }

    def close(): Unit = socket.close()
  }

  /** One poll over all points → a single-row DataFrame, one column per
    * point (count=1 → the value; count>1 → an array column), plus a poll
    * timestamp — the reference's columns-per-point layout. */
  def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val points = parsePoints(Config.list(options, "points"))
    require(points.nonEmpty, "modbus input needs a non-empty `points` list")
    val conn = new Conn(options("host"), options.getOrElse("port", "502").toInt,
      options.getOrElse("unit_id", "1").toInt)
    val values =
      try points.map(p => p -> conn.readHoldingRegisters(p.addr, p.count))
      finally conn.close()
    val cols = values.map {
      case (p, vs) if p.count == 1 => lit(vs.head).as(p.name)
      case (p, vs) => array(vs.map(lit(_)): _*).as(p.name)
    }
    spark.range(1).select(cols :+ current_timestamp().as("__meta_poll_time"): _*)
  }
}
