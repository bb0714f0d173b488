package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Coverage fill-ins: csv/orc file formats through the engine input,
  * metadata column stamping, MLlib-LSH ANN vs brute force. */
class CoverageSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("file input reads csv with header and orc (input/file.rs formats enum)") {
    val base = tempDir("graft_fmt").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    df.write.option("header", "true").csv(s"$base/c")
    df.write.orc(s"$base/o")
    val csv = Engine.inputFromConf(spark, ComponentConf("file",
      Map("format" -> "csv", "path" -> s"$base/c", "header" -> "true",
        "inferSchema" -> "true")))
    assert(csv.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
    val orc = Engine.inputFromConf(spark, ComponentConf("file",
      Map("format" -> "orc", "path" -> s"$base/o")))
    assert(orc.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("metadata columns stamp and strip (lib.rs:56-69)") {
    val df = Seq(1, 2).toDF("x")
    val stamped = Metadata.stamp(df, "kafka_in", Map("env" -> "test"))
    assert(stamped.columns.toSet ==
      Set("x", Metadata.Source, Metadata.IngestTime, Metadata.Ext))
    val row = stamped.select(Metadata.Source, Metadata.Ext).collect().head
    assert(row.getString(0) == "kafka_in")
    assert(row.getMap[String, String](1) == Map("env" -> "test"))
    assert(Metadata.strip(stamped).columns.toSeq == Seq("x"))
  }

  test("http input: POST bodies flow through the pipeline; auth rejects bad tokens (input/http.rs)") {
    val port = 18321 + scala.util.Random.nextInt(1000)
    val http = new HttpInput(spark, port, bearerToken = Some("s3cret"))
    try {
      val sink = new Engine.MemorySink
      val q = Engine.start(http.toDF,
        Seq(Processors.JsonToArrow(),
          Processors.SqlProcessor("SELECT sensor, sum(value) AS total FROM flow GROUP BY sensor")),
        sink, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      def post(body: String, token: Option[String]): Int = {
        val conn = new java.net.URL(http.boundAddress).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode; conn.disconnect(); code
      }
      assert(post("""{"sensor":"t1","value":7}""", Some("s3cret")) == 200)
      assert(post("""{"sensor":"t1","value":5}""", Some("s3cret")) == 200)
      assert(post("""{"sensor":"x","value":1}""", Some("wrong")) == 401)
      assert(post("""{"sensor":"x","value":1}""", None) == 401)
      q.processAllAvailable(); q.stop()
      // per-micro-batch aggregates: sum across batches for the total
      val bySensor = sink.rows.groupBy(_.getString(0))
        .view.mapValues(_.map(_.getLong(1)).sum).toMap
      assert(bySensor == Map("t1" -> 12L), s"got $bySensor")
    } finally http.stop()
  }

  test("UDAF over a window frame covers the window-UDF surface (SURVEY §2.8)") {
    graft.functions.WeightedPercentile.register(spark, Seq(0.5))
    Seq(("a", 1.0), ("a", 2.0), ("a", 30.0), ("b", 5.0))
      .toDF("k", "v").createOrReplaceTempView("wudf_t")
    val rows = spark.sql(
      """SELECT k, v, weighted_percentile_50(v, 1.0)
        |  OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_med
        |FROM wudf_t ORDER BY k, v""".stripMargin).collect()
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.0, 1.0, 2.0, 5.0))
  }

  test("tumbling window join over multiple_inputs fan-in (buffer/tumbling_window.rs + join.rs)") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sensors = MemoryStream[String]; val labels = MemoryStream[String]
    def env(ms: MemoryStream[String]) =
      ms.toDF().select(col("value").cast("binary").as(Codecs.ValueCol))
    // both sources populated before the window fires -> joined rows
    sensors.addData("""{"id":1,"v":10}""", """{"id":2,"v":20}""")
    labels.addData("""{"id":1,"name":"a"}""")
    val input = Windows.unionTagged(Map("sensors" -> env(sensors), "labels" -> env(labels)))
    val sink = new Engine.MemorySink
    val q = Engine.start(input, Seq(Processors.WindowJoinProcessor(
        "SELECT s.id, s.v, l.name FROM sensors s JOIN labels l ON s.id = l.id",
        Seq("sensors", "labels"))), sink)
    q.processAllAvailable(); q.stop()
    assert(sink.rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((1L, 10L, "a")))
    // a window where an expected source is absent yields nothing
    val sensors2 = MemoryStream[String]; val labels2 = MemoryStream[String]
    sensors2.addData("""{"id":3,"v":30}""")
    val input2 = Windows.unionTagged(Map("sensors" -> env(sensors2), "labels" -> env(labels2)))
    val sink2 = new Engine.MemorySink
    val q2 = Engine.start(input2, Seq(Processors.WindowJoinProcessor(
        "SELECT s.id, s.v, l.name FROM sensors s JOIN labels l ON s.id = l.id",
        Seq("sensors", "labels"))), sink2)
    q2.processAllAvailable(); q2.stop()
    assert(sink2.rows.isEmpty)
  }

  test("salted join is row-identical to the plain join while spreading hot keys") {
    val big = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"), col("l_linenumber"))
    val small = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val plain = big.join(small, Seq("k"))
      .select(col("k"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val salted = graft.operators.Skew.saltedJoin(big, small, "k",
        saltFactor = 8, saltBy = Seq("k", "l_linenumber"))
      .select(col("k"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(salted.length == plain.length && (salted sameElements plain))
  }

  test("control plane serves stream status/lastProgress and stops a query (arkflow-server)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def get(url: String, token: Option[String] = None): (Int, String) = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      } finally c.disconnect()
    }
    def post(url: String, token: Option[String]): Int = {
      val c = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        c.setRequestMethod("POST")
        token.foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
        c.getResponseCode
      } finally c.disconnect()
    }
    val ms = MemoryStream[Int]
    val sink = new Engine.MemorySink
    val q = Engine.start(ms.toDF(), Seq(), sink,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      queryName = Some("cp_stream"))
    val cp = new ControlPlane(spark, 0, bearerToken = Some("cp-tok"))
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      ms.addData(1, 2, 3)
      q.processAllAvailable()
      // middleware: no/bad token is rejected before any state leaks
      assert(get(s"$base/streams")._1 == 401)
      val tok = Some("cp-tok")
      val (sysCode, sysBody) = get(s"$base/system", tok)
      assert(sysCode == 200 && sysBody.contains("\"sparkVersion\""))
      val (lc, listing) = get(s"$base/streams", tok)
      assert(lc == 200 && listing.contains("\"cp_stream\""))
      // detail by NAME: Spark's own status + lastProgress JSON ride through
      val (dc, detail) = get(s"$base/streams/cp_stream", tok)
      assert(dc == 200 && detail.contains("\"isTriggerActive\""))
      assert(detail.contains("\"numInputRows\""), s"no progress in: $detail")
      // detail by UUID id too (the reference's {id} route)
      assert(get(s"$base/streams/${q.id}", tok)._1 == 200)
      assert(get(s"$base/streams/nope", tok)._1 == 404)
      // stop through the API
      assert(post(s"$base/streams/cp_stream/stop", tok) == 200)
      assert(!q.isActive, "POST /streams/{id}/stop must stop the query")
      q.awaitTermination(10000)
      // clean stop: exception route answers for the TERMINATED query
      // (listener delivery is async — poll briefly)
      def getUntil200(url: String): (Int, String) = {
        var r = get(url, tok)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (r._1 != 200 && System.nanoTime() < deadline) {
          Thread.sleep(100); r = get(url, tok)
        }
        r
      }
      val (ec, eb) = getUntil200(s"$base/streams/cp_stream/exception")
      assert(ec == 200 && eb.contains("\"failed\":false"), s"$ec $eb")
      // a genuinely failing stream: the listener records the error
      val ms2 = MemoryStream[Int]
      val bad = Engine.start(ms2.toDF(), Seq(
          (df: org.apache.spark.sql.DataFrame) =>
            throw new RuntimeException("boom_graft")),
        new Engine.MemorySink,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        queryName = Some("cp_bad"))
      ms2.addData(1)
      intercept[Exception](bad.awaitTermination(20000))
      var (fc, fb) = getUntil200(s"$base/streams/cp_bad/exception")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!fb.contains("\"failed\":true") && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val r = getUntil200(s"$base/streams/cp_bad/exception"); fc = r._1; fb = r._2
      }
      assert(fc == 200 && fb.contains("\"failed\":true") && fb.contains("boom_graft"),
        s"$fc $fb")
    } finally { cp.stop(); if (q.isActive) q.stop() }
  }

  test("mllib LSH ANN finds neighbors consistent with brute force") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val lsh = graft.operators.Similarity.mllibLshKnn(emb, queryId = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSet
    val brute = graft.operators.Similarity
      .bruteForceKnn(emb, nQueries = 1, k = 10)
      .select("cid").as[Long].collect().toSet
    // approx NN by euclidean vs exact top-10 by cosine: expect overlap
    assert(lsh.nonEmpty)
    assert((lsh & brute).nonEmpty, s"no overlap between lsh=$lsh and brute=$brute")
  }
}
