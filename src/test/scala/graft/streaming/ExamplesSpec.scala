package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Every example config parses and resolves against the component
  * registries — the "a reference user could switch" config surface,
  * checked file by file. (Inputs that dial endpoints at read time are
  * resolution-checked via their registry case, not connected.)
  */
class ExamplesSpec extends AnyFunSuite with graft.TempDirs {

  private val exampleDir = new java.io.File("examples")
  private val inputKindsNeedingEndpoint =
    Set("sql", "redis", "modbus", "mqtt", "nats", "websocket", "pulsar")

  test("all example configs parse and their components resolve") {
    val files = exampleDir.listFiles().filter(_.getName.endsWith(".yaml")).sortBy(_.getName)
    assert(files.nonEmpty, "no example configs found")
    files.foreach { f =>
      val conf = Config.fromYaml(
        new String(java.nio.file.Files.readAllBytes(f.toPath)))
      assert(conf.streams.nonEmpty, s"${f.getName}: empty streams")
      conf.streams.foreach { s =>
        // processors + buffer + sinks must all build from the registries
        val procs = Processors.fromConf(s.processors)
        assert(procs.size == s.processors.size, s"${f.getName}: processor resolution")
        Engine.bufferProcessors(s.buffer)
        val sink = Engine.sinkFromConf(s.output)
        assert(sink != null)
        s.errorOutput.foreach(e => assert(Engine.sinkFromConf(e) != null))
        // inputs: endpoint-dialing kinds are covered by their own specs;
        // every kind (incl. multiple_inputs children) must resolve in
        // the engine's REAL dispatch table
        def knownInput(c: ComponentConf): Unit = {
          assert(Engine.inputBuilders.contains(c.kind),
            s"${f.getName}: unknown input kind ${c.kind}")
          c.children.foreach(knownInput)
        }
        knownInput(s.input)
      }
    }
  }

  test("corpus curation example runs end-to-end and matches its SQL semantics") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "corpus_curation.yaml").toPath))
    val outDir = tempDir("graft_corpus_out").toString
    val conf = Config.fromYaml(yaml.replace("/tmp/graft/out/corpus", outDir))
    Engine.run(spark, conf) // batch input -> runBatch, EOF semantics
    val got = spark.read.parquet(outDir).drop("batch_id")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("curation_docs")
    val expected = spark.sql(
      """SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(text))) AS keeper
        |  FROM curation_docs WHERE length(text) >= 40
        |) WHERE doc_id = keeper
        |  AND substring(md5(CAST(doc_id AS STRING)), 1, 2) < '80'""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    assert(expected.nonEmpty && got.columns.toSet ==
      Set("doc_id", "text", "lang", "source"))
  }

  test("log-enrichment example normalizes mixed lines through the " +
      "round-13 stdlib (groks / facility / seahash / truncate) from " +
      "config alone") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "log_enrichment.yaml").toPath))
    val outDir = tempDir("graft_logenrich_out").toString
    Engine.run(spark, Config.fromYaml(
      yaml.replace("/tmp/graft/out/log_enrichment", outDir)))
    val rows = spark.read.parquet(outDir)
      .select("kind", "facility", "severity", "fp", "summary", "code",
        "level", "host")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) "" else r.getString(6),
        if (r.isNullAt(7)) "" else r.getString(7))).toSet
    def fp(line: String): Long =
      graft.functions.VrlSeaHash.hashBytes(line.getBytes("UTF-8"))
    // PRI 38 = auth.info, 9 = user.alert, 165 = local4.notice (RFC 3164)
    assert(rows == Set(
      ("access", "auth", "info", fp("10.2.0.41 GET 200"),
        "10.2.0.41 GET ...", 200L, "", "10.2.0.41"),
      ("app", "user", "alert", fp("2024-03-01T12:00:00Z ERROR disk full on /var"),
        "2024-03-01T12:...", -1L, "ERROR", ""),
      ("access", "local4", "notice", fp("172.16.9.2 POST 503"),
        "172.16.9.2 POS...", 503L, "", "172.16.9.2")),
      rows.toString)
  }

  test("near-dedup example mines winnowing pairs from config alone") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "near_dedup.yaml").toPath))
    val outDir = tempDir("graft_neardup_out").toString
    Engine.run(spark, Config.fromYaml(yaml.replace("/tmp/graft/out/near_dedup", outDir)))
    val got = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.functions.Registry.install(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("neardup_docs")
    val expected = spark.sql(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM (SELECT doc_id, explode(winnow_fps(text, 8, 4)) AS fp FROM neardup_docs) a
        |JOIN (SELECT doc_id, explode(winnow_fps(text, 8, 4)) AS fp FROM neardup_docs) b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY doc_a, doc_b HAVING count(*) >= 8""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && expected.nonEmpty,
      s"config pipeline must reproduce the library SQL: ${got.size} vs ${expected.size}")
  }

  test("dedup-recipe example runs the production recipe from config alone " +
      "and matches the library call exactly") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "dedup_recipe.yaml").toPath))
    val outDir = tempDir("graft_dedupr_out").toString
    Engine.run(spark, Config.fromYaml(
      yaml.replace("/tmp/graft/out/dedup_recipe", outDir)))
    val got = spark.read.parquet(outDir)
      .select("doc_a", "doc_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .sortBy(identity).toSeq
    graft.functions.Registry.install(spark)
    val expected = graft.operators.Dedup.dedupRecipePairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .sortBy(identity).toSeq
    assert(got == expected && expected.nonEmpty,
      s"config pipeline must reproduce the library recipe: ${got.size} vs ${expected.size}")
  }

  test("dedup_recipe processor honors bits and checkpoint_dir from YAML: " +
      "pinned width matches the library pin, and the reliable checkpoint " +
      "materializes under the configured dir") {
    val spark = SparkTestSession.spark
    val outDir = tempDir("graft_deduprb_out").toString
    val ckptDir = tempDir("graft_deduprb_ck").toString
    val yaml =
      s"""streams:
         |  - input:
         |      type: file
         |      format: parquet
         |      path: /root/testdata/sf0.001/documents.parquet
         |    pipeline:
         |      processors:
         |        - type: dedup_recipe
         |          id_col: doc_id
         |          text_col: text
         |          max_dist: "2"
         |          bits: "64"
         |          checkpoint_dir: "$ckptDir"
         |    output:
         |      type: parquet
         |      path: "$outDir"
         |""".stripMargin
    Engine.run(spark, Config.fromYaml(yaml))
    val got = spark.read.parquet(outDir)
      .select("doc_a", "doc_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .sortBy(identity).toSeq
    graft.functions.Registry.install(spark)
    val expected = graft.operators.Dedup.dedupRecipePairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", maxDist = 2, bits = Some(64)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .sortBy(identity).toSeq
    assert(got == expected && expected.nonEmpty,
      s"config pins must reproduce the library pins: ${got.size} vs ${expected.size}")
    def walkSize(p: java.io.File): Long =
      if (p.isDirectory) Option(p.listFiles).toSeq.flatten.map(walkSize).sum
      else p.length
    assert(walkSize(new java.io.File(ckptDir)) > 0L,
      "checkpoint_dir from YAML must land a real reliable checkpoint")
  }

  test("record-linkage example scores blocked pairs with both string metrics") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "record_linkage.yaml").toPath))
    val outDir = tempDir("graft_linkage_out").toString
    Engine.run(spark, Config.fromYaml(yaml.replace("/tmp/graft/out/record_linkage", outDir)))
    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(3), r.getDouble(4))))
      .toMap
    graft.functions.Registry.install(spark)
    spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .createOrReplaceTempView("linkage_parts")
    val expected = spark.sql(
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  damerau_levenshtein(a.p_name, b.p_name) AS dl,
        |  round(jaro_winkler(a.p_name, b.p_name), 6) AS jw
        |FROM linkage_parts a JOIN linkage_parts b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
        |  AND damerau_levenshtein(a.p_name, b.p_name) <= 3""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
      .toMap
    assert(got == expected && expected.nonEmpty,
      s"config pipeline must reproduce the library SQL: ${got.size} vs ${expected.size}")
    // transpositions score closer under DL than plain character identity:
    // every pair here is within 3 edits, so jw stays high
    assert(got.values.forall { case (d, j) => d <= 3 && j >= 0.0 && j <= 1.0 })
  }

  test("ingest-guardrails example conforms the schema, caps releases, and drains at EOF") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "ingest_guardrails.yaml").toPath))
    val outDir = tempDir("graft_guard_out").toString
    Engine.run(spark, Config.fromYaml(yaml.replace("/tmp/graft/out/ingest_guardrails", outDir)))
    val got = spark.read.parquet(outDir)
    // conform: declared columns only — extras (lang, n_chars) dropped,
    // the declared-but-absent column null-filled
    assert(got.columns.toSet ==
      Set("doc_id", "text", "source", "missing_col", "batch_id"))
    assert(got.filter(got("missing_col").isNotNull).count() == 0)
    // conservation: all 500 docs arrive despite the 200-row cap...
    assert(got.count() == 500)
    assert(got.select("doc_id").distinct().count() == 500)
    // ...released as 200/200/100 across the initial pass + EOF drain
    val sizes = got.groupBy("batch_id").count()
      .orderBy(got("batch_id")).collect().map(_.getLong(1)).toSeq
    assert(sizes == Seq(200L, 200L, 100L), s"releases were $sizes")
  }

  test("drift-monitor example stamps the batch JSD and routes the quarantine verdict") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "drift_monitor.yaml").toPath))
    val outDir = tempDir("graft_drift_out").toString
    Engine.run(spark, Config.fromYaml(yaml.replace("/tmp/graft/out/drift_monitor", outDir)))
    val got = spark.read.parquet(outDir)
    assert(got.count() == 500)
    // the stamp must equal DriftMonitor applied directly to the table
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseline = (0 to 4).map(i => s"src$i" -> 0.2).toMap
    val expect = Processors.DriftMonitor("source", baseline)(docs)
      .select("__drift_jsd").head().getDouble(0)
    val stamped = got.select("__drift_jsd").distinct().collect().map(_.getDouble(0))
    assert(stamped.toSeq == Seq(expect), s"stamped $stamped, want $expect")
    // 15 of 20 sources are novel vs the 5-source baseline -> real drift
    assert(expect > 0.2)
    val verdicts = got.select("quarantine").distinct().collect().map(_.getBoolean(0))
    assert(verdicts.toSeq == Seq(true))
  }

  test("sessionize example reproduces EventsOps.sessionize row for row") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "sessionize.yaml").toPath))
    val outDir = tempDir("graft_sess_out").toString
    Engine.run(spark, Config.fromYaml(yaml.replace("/tmp/graft/out/sessionize", outDir)))
    val got = spark.read.parquet(outDir)
      .select("user_id", "event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = graft.operators.EventsOps.sessionize(
        graft.Tables.load(spark, "/root/testdata/sf0.001", "events"),
        "user_id", "ts", "event_id", gapNanos = 4L * 3600L * 1000000000L)
      .select("key", "tie", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == expected,
      s"config pipeline drifted from the library operator: ${got.size} vs ${expected.size}")
  }

  test("REFERENCE join_buffer_example.yaml runs e2e: multiple_inputs fan-in, " +
      "session window buffer, cross-source window join (input/multiple_inputs.rs, buffer/join.rs)") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/join_buffer_example.yaml")))
    val conf = Config.fromYaml(yaml)
    val s = conf.streams.head
    assert(s.input.kind == "multiple_inputs" && s.input.children.size == 2)
    assert(s.input.children.map(_.name) ==
      Seq(Some("flow_input1"), Some("flow_input2")))
    val in = Engine.inputFromConf(spark, s.input)
    assert(!in.isStreaming, "generate with count EOFs -> batch semantics")
    // the engine's own dispatch end to end, with a memory sink so the
    // joined window is assertable (the example's stdout sink prints)
    val procs = Engine.bufferProcessors(s.buffer, s.input) ++
      Processors.fromConf(s.processors)
    val sink = new Engine.MemorySink
    Engine.runBatch(in, procs, sink, None)
    // 10 rows per input, every row id=1625000000000 -> 10x10 joined rows
    // of SELECT * across both decoded sources
    assert(sink.rows.size == 100, s"expected 100 joined rows, got ${sink.rows.size}")
    val flat = sink.rows.flatMap(_.toSeq).toSet
    assert(flat.contains("temp_1") && flat.contains("temp_2") &&
      flat.contains(10L) && flat.contains(20L) && flat.contains(1625000000000L))
  }

  test("REFERENCE vrl_example.yaml's exact program runs: `;` statements, " +
      "fallible `.v2, err = .value * 2`, bare `.` return (processor/vrl.rs)") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/vrl_example.yaml")))
    val conf = Config.fromYaml(yaml)
    val s = conf.streams.head
    assert(s.processors.map(_.kind) == Seq("json_to_arrow", "vrl", "arrow_to_json"))
    val procs = Processors.fromConf(s.processors) // compiles the verbatim program
    // the example's generate input is an unbounded tick stream; run the
    // SAME context through the count/EOF path — program semantics identical
    val in = Engine.inputFromConf(spark,
      s.input.copy(options = s.input.options + ("count" -> "3")))
    val sink = new Engine.MemorySink
    Engine.runBatch(in, procs, sink, None)
    assert(sink.rows.size == 3)
    sink.rows.foreach { r =>
      assert(r.getAs[Long]("v2") == 20L, s"v2 should be .value * 2: $r")
      // reference fidelity: `err` is a VRL VARIABLE — the reference's
      // output event carries v2 and NO err column (vrl runtime scopes
      // variables to the program; only `.` paths mutate the event)
      assert(!r.schema.fieldNames.contains("err"),
        s"err is a local variable, not an event field: ${r.schema.fieldNames.toSeq}")
    }
    // the fallible form really is fallible: a failing rhs lands the error
    // in the err VARIABLE (readable by later statements) and null in the
    // value, instead of killing the batch
    val failing = Processors.RemapProcessor(".v2, err = .value / 0; .msg = err; .")
    val base = Processors.fromConf(s.processors.take(1)).head(
      Engine.inputFromConf(spark,
        s.input.copy(options = s.input.options + ("count" -> "1"))))
    val out = failing(base).collect().head
    assert(out.getAs[Any]("v2") == null)
    assert(Option(out.getAs[String]("msg")).exists(_.toLowerCase.contains("divi")),
      s"a later statement reads the err variable: $out")
    assert(!out.schema.fieldNames.contains("err"))
  }

  test("window-join example runs e2e: readings enrich against the registry " +
      "inside the fired window") {
    val spark = SparkTestSession.spark
    val yaml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(exampleDir, "window_join.yaml").toPath))
    val outDir = tempDir("graft_wj_out").toString
    Engine.run(spark, Config.fromYaml(
      yaml.replace("/tmp/graft/out/window_join", outDir)))
    val got = spark.read.parquet(outDir)
    assert(got.count() == 10, "10 readings x 1 registry row")
    val r = got.collect().head
    assert(r.getAs[Long]("device") == 42L && r.getAs[String]("room") == "lab_a")
  }

  test("FULL config path e2e: Engine.run on a multiple_inputs + session " +
      "window + join YAML lands the joined window in the parquet sink") {
    val spark = SparkTestSession.spark
    val outDir = tempDir("graft_mi_join").toString
    val conf = Config.fromYaml(
      s"""streams:
         |  - input:
         |      type: "multiple_inputs"
         |      inputs:
         |        - type: "generate"
         |          name: "left_feed"
         |          context: '{ "id": 7, "x": 1 }'
         |          count: 3
         |        - type: "generate"
         |          name: "right_feed"
         |          context: '{ "id": 7, "y": 2 }'
         |          count: 2
         |    buffer:
         |      type: "session_window"
         |      gap: 1s
         |      join:
         |        query: "SELECT left_feed.id AS id, x, y FROM left_feed JOIN right_feed ON left_feed.id = right_feed.id"
         |        codec:
         |          type: "json"
         |    output:
         |      type: "parquet"
         |      path: "$outDir"
         |""".stripMargin)
    Engine.run(spark, conf) // batch children -> one-shot run, EOF flush
    val got = spark.read.parquet(outDir).drop("batch_id")
    assert(got.count() == 6, "3 left x 2 right rows joined on id")
    val r = got.collect().head
    assert(r.getAs[Long]("id") == 7L && r.getAs[Long]("x") == 1L &&
      r.getAs[Long]("y") == 2L)
  }

  test("buffer config with capacity resolves to a batch accumulator") {
    val procs = Engine.bufferProcessors(Some(ComponentConf("memory",
      Map("capacity" -> "5", "timeout_ms" -> "1000"))))
    assert(procs.size == 1 && procs.head.isInstanceOf[Processors.BatchAccumulator])
    // pacing-only buffer (interval) adds no accumulator
    assert(Engine.bufferProcessors(Some(ComponentConf("memory",
      Map("interval" -> "5 seconds")))).isEmpty)
    assert(Engine.bufferProcessors(None).isEmpty)
  }
}
