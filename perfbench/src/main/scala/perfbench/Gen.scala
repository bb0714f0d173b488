package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators and the reference outputs derived from them.
  *
  * Every record is a pure function of (seed, index), so the generator can
  * rebuild any record on its own and the expected pipeline output is
  * computed here in plain Scala, never through the engine.
  */
object Gen {

  /** One telemetry event. Temperatures are integer hundredths so the
    * reference arithmetic is exact; the JSON carries them as decimals. */
  final case class Event(device: String, site: String, seq: Long, ts: Long,
      temp100: Int, hum: Int, status: String,
      loc: Option[(Int, Option[String])], fw: Option[String])

  private def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 40) ^ i)

  private val statuses = Array("ok", "warn", "maint", "err")

  private def status(r: SplittableRandom): String = {
    val p = r.nextInt(100)
    statuses(if (p < 85) 0 else if (p < 93) 1 else if (p < 98) 2 else 3)
  }

  /** Event `i` of `n`. Optional and nested fields (`loc`, `loc.zone`,
    * `fw`) occur only in the last 40% of the input, so a decoder that
    * infers its schema from a prefix loses them and fails the check. */
  def event(seed: Long, salt: Long, i: Long, n: Long): Event = {
    val r = rng(seed, salt, i)
    val late = i >= n * 6 / 10
    val opt = late && r.nextInt(100) < 35
    Event(
      device = "dev-" + pad(r.nextInt(5000), 4),
      site = s"s${r.nextInt(40)}",
      seq = i,
      ts = 1700000000000L + i * 7 + r.nextInt(7),
      temp100 = r.nextInt(-2000, 4500),
      hum = r.nextInt(101),
      status = status(r),
      loc = if (opt) Some((r.nextInt(3000),
        if (r.nextBoolean()) Some(s"z${r.nextInt(9)}") else None)) else None,
      fw = if (opt && r.nextInt(3) > 0)
        Some(s"${1 + r.nextInt(3)}.${r.nextInt(10)}.${r.nextInt(20)}") else None)
  }

  private def pad(v: Int, width: Int): String = {
    val s = v.toString
    "0" * (width - s.length) + s
  }

  def decimal2(v100: Int): String = {
    val a = math.abs(v100)
    (if (v100 < 0) "-" else "") + (a / 100) + "." + pad(a % 100, 2)
  }

  def json(e: Event, stream: Option[String] = None, ts: Long = -1L): String = {
    val b = new StringBuilder(160)
    b.append('{')
    stream.foreach(s => b.append("\"stream\":\"").append(s).append("\","))
    b.append("\"device\":\"").append(e.device)
      .append("\",\"site\":\"").append(e.site)
      .append("\",\"seq\":").append(e.seq)
      .append(",\"ts\":").append(if (ts >= 0) ts else e.ts)
      .append(",\"temp\":").append(decimal2(e.temp100))
      .append(",\"hum\":").append(e.hum)
      .append(",\"status\":\"").append(e.status).append('"')
    e.loc.foreach { case (alt, zone) =>
      b.append(",\"loc\":{\"alt\":").append(alt)
      zone.foreach(z => b.append(",\"zone\":\"").append(z).append('"'))
      b.append('}')
    }
    e.fw.foreach(f => b.append(",\"fw\":\"").append(f).append('"'))
    b.append('}').toString
  }

  /** The pipelines' `sql` step keeps every status but `maint`. */
  def passes(e: Event): Boolean = e.status != "maint"

  private def opt(v: Option[Any]): String = v.map(_.toString).getOrElse(Check.Null)

  /** Canonical output row of `json_ingest` (column order of
    * [[Check.JsonIngestCols]]): the sql projection plus the vrl fields. */
  def ingestRow(e: Event): String = Seq(
    e.device, e.site, e.seq.toString, e.ts.toString, (e.temp100 * 10L).toString,
    e.hum.toString, e.status, opt(e.loc.map(_._1)), opt(e.loc.flatMap(_._2)),
    opt(e.fw), e.device.toUpperCase, (e.temp100 * 18L + 32000L).toString,
    if (e.temp100 > 3000) "hot" else "normal").mkString(Check.Sep)

  /** Canonical output row of one `http_stream` event. */
  def httpRow(stream: String, e: Event): String = Seq(
    stream, e.seq.toString, e.device, (e.temp100 * 10L).toString, e.hum.toString,
    e.device.toUpperCase, (e.temp100 * 18L + 32000L).toString,
    if (e.temp100 > 3000) "hot" else "normal").mkString(Check.Sep)

  def ingestExpected(seed: Long, n: Long): Check.Sum =
    Check.Sum.of((0L until n).iterator.map(event(seed, 1, _, n))
      .filter(passes).map(ingestRow))

  /** Input bytes digest: the same seed must give the same bytes. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---- corpus_dedup ----

  /** A document corpus over a fixed vocabulary. About 12% of documents
    * copy an earlier one exactly and 15% copy one with one or two words
    * substituted, so the recipe has both exact and near duplicates. */
  def corpus(seed: Long, n: Int): Array[String] = {
    val vocab = Array.tabulate(20000)(w => s"w${Integer.toString(w * 7919 % 20000, 36)}")
    val docs = new Array[String](n)
    val r = rng(seed, 2, 0)
    var i = 0
    while (i < n) {
      val p = r.nextInt(100)
      docs(i) =
        if (i > 10 && p < 12) docs(r.nextInt(i))
        else if (i > 10 && p < 27) {
          val ws = docs(r.nextInt(i)).split(" ")
          (0 until 1 + r.nextInt(2)).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length)))
          ws.mkString(" ")
        } else Array.fill(24 + r.nextInt(24))(vocab(zipf(r, vocab.length))).mkString(" ")
      i += 1
    }
    docs
  }

  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble, r.nextDouble()) - 1).toInt)

  /** Reference for `dedup_recipe` with `bits` pinned: collapse identical
    * texts to their smallest id, simhash each keeper (md5 per word, one
    * vote per bit-plane as the recipe documents), and return every keeper
    * pair within hamming distance `maxDist`, found exactly by the
    * pigeonhole bands (two signatures within d differ in at most d of
    * d+1 bands, so they agree on one). */
  final case class DedupRef(keepers: Int, pairs: Seq[(Long, Long, Int)])

  def dedupExpected(docs: Array[String], bits: Int, maxDist: Int): DedupRef = {
    val keeper = scala.collection.mutable.LinkedHashMap[String, Long]()
    docs.zipWithIndex.foreach { case (t, i) => if (!keeper.contains(t)) keeper(t) = i.toLong }
    val md5 = scala.collection.mutable.HashMap[String, String]()
    def hex(w: String): String = md5.getOrElseUpdate(w,
      java.security.MessageDigest.getInstance("MD5").digest(w.getBytes(UTF_8))
        .map(b => f"$b%02x").mkString)
    val sigs: Array[(Long, Array[Boolean])] = keeper.toArray.map { case (text, id) =>
      val votes = new Array[Int](bits)
      text.split(" ").foreach { w =>
        val h = hex(w)
        (0 until bits).foreach { j =>
          val v = Character.digit(h.charAt(j % 32), 16)
          votes(j) += (if (((v >> (3 - j / 32)) & 1) == 1) 1 else -1)
        }
      }
      (id, votes.map(_ > 0))
    }
    val bands = (0 to maxDist).map(c => (c * bits / (maxDist + 1), (c + 1) * bits / (maxDist + 1)))
    val found = scala.collection.mutable.HashMap[(Long, Long), Int]()
    bands.foreach { case (from, until) =>
      sigs.groupBy { case (_, s) => s.slice(from, until).toSeq }.valuesIterator
        .filter(_.length > 1).foreach { bucket =>
          for (x <- bucket.indices; y <- x + 1 until bucket.length) {
            val (a, sa) = bucket(x); val (b, sb) = bucket(y)
            val d = sa.indices.count(k => sa(k) != sb(k))
            if (d <= maxDist) found((math.min(a, b), math.max(a, b))) = d
          }
        }
    }
    DedupRef(keeper.size, found.toSeq.map { case ((a, b), d) => (a, b, d) })
  }

  def pairRow(a: Long, b: Long, d: Int): String = Seq(a, b, d).mkString(Check.Sep)
}
