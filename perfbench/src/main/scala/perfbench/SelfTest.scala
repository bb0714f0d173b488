package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Self-tests of the benchmark itself: seeded inputs are reproducible,
  * and the checkers accept the reference output and reject a planted
  * wrong one (one changed row, one dropped row, one duplicated row, one
  * foreign-stream row). */
object SelfTest {

  private val IngestSchema = StructType.fromDDL(
    "device STRING, site STRING, seq BIGINT, ts BIGINT, temp DOUBLE, hum BIGINT, " +
      "status STRING, alt BIGINT, zone STRING, fw STRING, dev STRING, temp_f DOUBLE, band STRING")

  /** The `json_ingest` output the pipeline should produce, built from the
    * generator's values. */
  private def ingestRows(seed: Long, n: Int): Seq[Row] =
    (0 until n).map(i => Gen.event(seed, 1, i, n)).filter(Gen.passes).map { e =>
      val t = e.temp100 / 100.0
      Row(e.device, e.site, e.seq, e.ts, t, e.hum.toLong, e.status,
        e.loc.map(_._1.toLong).orNull, e.loc.flatMap(_._2).orNull, e.fw.orNull,
        e.device.toUpperCase, t * 9 / 5 + 32, if (t > 30) "hot" else "normal")
    }

  def run(a: Main.Args): Boolean = {
    val spark = Main.session(a)
    var ok = true
    def expect(what: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $what")
      ok &&= cond
    }
    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    try {
      val n = 3000
      def ingestDigest(seed: Long) =
        Gen.digest((0 until n).iterator.map(i => Gen.json(Gen.event(seed, 1, i, n))))
      expect("json_ingest: same seed, same input bytes", ingestDigest(7) == ingestDigest(7))
      expect("json_ingest: other seed, other input bytes", ingestDigest(7) != ingestDigest(8))
      expect("json_ingest: same seed, same expected checksum",
        Gen.ingestExpected(7, n) == Gen.ingestExpected(7, n))
      expect("json_ingest: optional fields only in the last 40%",
        (0 until n).forall(i => Gen.event(7, 1, i, n).loc.isEmpty || i >= n * 6 / 10) &&
          (0 until n).exists(i => Gen.event(7, 1, i, n).loc.isDefined))
      expect("corpus_dedup: same seed, same input bytes",
        Gen.digest(Gen.corpus(7, 2000).iterator) == Gen.digest(Gen.corpus(7, 2000).iterator))
      expect("corpus_dedup: other seed, other input bytes",
        Gen.digest(Gen.corpus(7, 2000).iterator) != Gen.digest(Gen.corpus(8, 2000).iterator))
      expect("http_stream: other seed, other events",
        Gen.json(HttpStream.event(7, "a", 5)) != Gen.json(HttpStream.event(8, "a", 5)))

      // json_ingest checker against planted wrong outputs
      val rows = ingestRows(7, n)
      val want = Gen.ingestExpected(7, n)
      def sum(rs: Seq[Row]) = Check.of(frame(rs, IngestSchema), Check.JsonIngestCols)
      expect("json_ingest: checker accepts the reference output", sum(rows) == want)
      val changed = rows.updated(5, Row.fromSeq(rows(5).toSeq.updated(5, rows(5).getLong(5) + 1)))
      expect("json_ingest: checker rejects one changed row", sum(changed) != want)
      expect("json_ingest: checker rejects one dropped row", sum(rows.patch(9, Nil, 1)) != want)
      expect("json_ingest: checker rejects one duplicated row", sum(rows :+ rows(3)) != want)
      val noOptional = Row.fromSeq(rows.last.toSeq.updated(7, null).updated(8, null).updated(9, null))
      expect("json_ingest: checker rejects lost optional fields",
        rows.last.get(7) == null || sum(rows.init :+ noOptional) != want)

      // corpus_dedup checker
      val docs = Gen.corpus(7, 3000)
      val ref = Gen.dedupExpected(docs, 64, 2)
      val pairSchema = StructType.fromDDL("doc_a BIGINT, doc_b BIGINT, dist INT")
      val pairs = ref.pairs.map { case (x, y, d) => Row(x, y, d) }
      val pairWant = Check.Sum.of(ref.pairs.iterator.map { case (x, y, d) => Gen.pairRow(x, y, d) })
      def pairSum(rs: Seq[Row]) = Check.of(frame(rs, pairSchema), Check.PairCols)
      expect(s"corpus_dedup: reference has near-duplicate pairs (${pairs.size})", pairs.nonEmpty)
      expect("corpus_dedup: checker accepts the reference output", pairSum(pairs) == pairWant)
      expect("corpus_dedup: checker rejects one dropped pair", pairSum(pairs.tail) != pairWant)
      expect("corpus_dedup: checker rejects one changed pair",
        pairSum(Row(pairs.head.getLong(0), pairs.head.getLong(1), pairs.head.getInt(2) + 1) +: pairs.tail) != pairWant)
      val recipe = graft.streaming.Processors.fromConf(Seq(graft.streaming.ComponentConf(
        "dedup_recipe", Map("max_dist" -> "2", "bits" -> "64")))).head
      val engine = recipe(frame(docs.indices.map(i => Row(i.toLong, docs(i))),
        StructType.fromDDL("doc_id BIGINT, text STRING")))
      expect("corpus_dedup: the recipe matches the reference", Check.of(engine, Check.PairCols) == pairWant)

      // http_stream checker
      val httpSchema = StructType.fromDDL(
        "stream STRING, seq BIGINT, device STRING, temp DOUBLE, hum BIGINT, dev STRING, temp_f DOUBLE, band STRING")
      def httpRow(stream: String, seq: Long, tag: String): Row = {
        val e = HttpStream.event(7, stream, seq)
        val t = e.temp100 / 100.0
        Row(tag, seq, e.device, t, e.hum.toLong, e.device.toUpperCase, t * 9 / 5 + 32,
          if (t > 30) "hot" else "normal")
      }
      val kept = (1L to 40L).filter(s => Gen.passes(HttpStream.event(7, "a", s)))
      val good = new HttpStream.CheckSink("a", 7)
      good.write(frame(kept.map(httpRow("a", _, "a")), httpSchema), 0)
      expect("http_stream: checker accepts the reference output",
        good.badRows.isEmpty && good.committedNs.size == kept.size)
      val foreign = new HttpStream.CheckSink("a", 7)
      val otherSeq = (1L to 40L).filter(s => Gen.passes(HttpStream.event(7, "b", s))).head
      foreign.write(frame(kept.map(httpRow("a", _, "a")) :+ httpRow("b", otherSeq, "b"), httpSchema), 0)
      expect("http_stream: checker rejects one foreign-stream row",
        foreign.bad(foreign.badRows, "crossed_stream") == 1 &&
          foreign.bad(foreign.badBatches, "crossed_stream") == 1)
      val wrong = new HttpStream.CheckSink("a", 7)
      val bad = httpRow("a", kept.head, "a")
      wrong.write(frame(Row.fromSeq(bad.toSeq.updated(4, bad.getLong(4) + 1)) +: kept.tail.map(httpRow("a", _, "a")), httpSchema), 0)
      expect("http_stream: checker rejects one changed row", wrong.bad(wrong.badRows, "mismatch") == 1)
    } finally spark.stop()
    ok
  }
}
