package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The file input's object-store config surface (reference
  * file.rs:288-390 `store:` block) → Hadoop FS conf translation —
  * pure-mapping specs, no live store needed (the sandbox has no
  * endpoints; the translation IS the deliverable, per README's table).
  */
class ObjectStoreSpec extends AnyFunSuite with graft.TempDirs {

  test("s3 store maps to PER-BUCKET fs.s3a.bucket.<name>.* keys (two streams " +
      "with different credentials coexist); endpoint forces path-style, allow_http drops TLS") {
    val conf = Engine.objectStoreConf(Map(
      "store.type" -> "s3",
      "store.bucket_name" -> "corpus",
      "store.access_key_id" -> "AK",
      "store.secret_access_key" -> "SK",
      "store.endpoint" -> "http://minio:9000",
      "store.region" -> "us-east-1",
      "store.allow_http" -> "true"))
    assert(conf == Map(
      "fs.s3a.bucket.corpus.access.key" -> "AK",
      "fs.s3a.bucket.corpus.secret.key" -> "SK",
      "fs.s3a.bucket.corpus.endpoint" -> "http://minio:9000",
      "fs.s3a.bucket.corpus.path.style.access" -> "true",
      "fs.s3a.bucket.corpus.endpoint.region" -> "us-east-1",
      "fs.s3a.bucket.corpus.connection.ssl.enabled" -> "false"))
    // a second stream's different bucket lands on DIFFERENT keys
    val other = Engine.objectStoreConf(Map(
      "store.type" -> "s3", "store.bucket_name" -> "evals",
      "store.access_key_id" -> "AK2", "store.secret_access_key" -> "SK2"))
    assert(other.keySet.intersect(conf.keySet).isEmpty,
      "per-bucket scoping must prevent cross-stream overwrites")
    // no bucket_name -> session-global fs.s3a.* fallback, AWS defaults:
    // no endpoint -> no path-style override, TLS on
    val aws = Engine.objectStoreConf(Map(
      "store.type" -> "s3", "store.access_key_id" -> "AK",
      "store.secret_access_key" -> "SK"))
    assert(aws("fs.s3a.access.key") == "AK")
    assert(!aws.contains("fs.s3a.path.style.access") &&
      !aws.contains("fs.s3a.connection.ssl.enabled"))
  }

  test("s3:// and az:// paths rewrite to the Hadoop connector schemes; gs/hdfs pass") {
    assert(Engine.objectStorePath("s3://corpus/part-0.parquet", Map.empty) ==
      "s3a://corpus/part-0.parquet")
    assert(Engine.objectStorePath("az://box/data/x.parquet",
      Map("store.account" -> "acct")) ==
      "abfs://box@acct.dfs.core.windows.net/data/x.parquet")
    assertThrows[IllegalArgumentException](
      Engine.objectStorePath("az://box/x.parquet", Map.empty))
    assert(Engine.objectStorePath("gs://b/x.parquet", Map.empty) == "gs://b/x.parquet")
    assert(Engine.objectStorePath("hdfs://nn/x.parquet", Map.empty) == "hdfs://nn/x.parquet")
    assert(Engine.objectStorePath("/local/x.parquet", Map.empty) == "/local/x.parquet")
  }

  test("gs store: keyfile path or raw key (exactly one), raw key lands in a temp keyfile") {
    val byPath = Engine.objectStoreConf(Map(
      "store.type" -> "gs", "store.bucket_name" -> "b",
      "store.service_account_path" -> "/keys/sa.json"))
    assert(byPath("fs.gs.auth.service.account.json.keyfile") == "/keys/sa.json")
    val byKey = Engine.objectStoreConf(Map(
      "store.type" -> "gs", "store.bucket_name" -> "b",
      "store.service_account_key" -> """{"type":"service_account"}"""))
    val f = byKey("fs.gs.auth.service.account.json.keyfile")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8").contains("service_account"))
    assertThrows[IllegalArgumentException](Engine.objectStoreConf(Map(
      "store.type" -> "gs", "store.bucket_name" -> "b")))
    assertThrows[IllegalArgumentException](Engine.objectStoreConf(Map(
      "store.type" -> "gs", "store.service_account_path" -> "p",
      "store.service_account_key" -> "k")))
  }

  test("az/hdfs stores map account key and HA client conf; http maps to the " +
      "engine's Range-request FileSystem with path-under-url validation") {
    val az = Engine.objectStoreConf(Map(
      "store.type" -> "az", "store.account" -> "acct",
      "store.container_name" -> "box", "store.access_key" -> "AZK"))
    assert(az("fs.azure.account.key.acct.dfs.core.windows.net") == "AZK")
    assert(az("fs.azure.account.key.acct.blob.core.windows.net") == "AZK")
    val hdfs = Engine.objectStoreConf(Map(
      "store.type" -> "hdfs", "store.url" -> "hdfs://ns1",
      "path" -> "hdfs://ns1/data/x.parquet",
      "store.ha_config.dfs.nameservices" -> "ns1"))
    // HA client keys pass through; fs.defaultFS is deliberately NOT set
    // (session-global — it would re-root every relative path)
    assert(hdfs("dfs.nameservices") == "ns1" && !hdfs.contains("fs.defaultFS"))
    assertThrows[IllegalArgumentException](Engine.objectStoreConf(Map(
      "store.type" -> "hdfs", "store.url" -> "hdfs://ns1",
      "path" -> "/relative/x.parquet"))) // must be fully qualified
    val http = Engine.objectStoreConf(Map(
      "store.type" -> "http", "store.url" -> "http://files.example",
      "path" -> "http://files.example/data/x.parquet"))
    assert(http("fs.http.impl") == classOf[HttpFileSystem].getName)
    assert(http("fs.https.impl") == classOf[HttpsFileSystem].getName)
    // a path outside the declared store url is a build error, not a 404
    assertThrows[IllegalArgumentException](Engine.objectStoreConf(Map(
      "store.type" -> "http", "store.url" -> "http://files.example",
      "path" -> "http://elsewhere/data/x.parquet")))
    assertThrows[IllegalArgumentException](Engine.objectStoreConf(Map(
      "store.type" -> "http", "path" -> "/local/x.parquet")))
    assert(Engine.objectStoreConf(Map("format" -> "parquet")) == Map.empty)
  }

  test("http store end-to-end: parquet read over HTTP Range requests " +
      "through the engine file input (reference input/file.rs:368-378)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // a real parquet file served by a stub HTTP server that honors Range
    // (and HEAD) — parquet's footer-then-column reads exercise the seeks
    val dir = tempDir("graft_httpfs")
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "tag").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val file = new java.io.File(s"$dir/t.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    @volatile var sawRange = false
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/corpus/t.parquet", { ex =>
      try ex.getRequestMethod match {
        case "HEAD" =>
          ex.getResponseHeaders.add("Accept-Ranges", "bytes")
          ex.sendResponseHeaders(200, bytes.length.toLong)
        case _ =>
          Option(ex.getRequestHeaders.getFirst("Range")) match {
            case Some(r) =>
              sawRange = true
              val Array(a, b) = r.stripPrefix("bytes=").split("-", 2)
              val from = a.toLong
              val to = if (b.isEmpty) bytes.length - 1L else b.toLong
              val slice = java.util.Arrays.copyOfRange(
                bytes, from.toInt, to.toInt + 1)
              ex.getResponseHeaders.add("Content-Range",
                s"bytes $from-$to/${bytes.length}")
              ex.sendResponseHeaders(206, slice.length.toLong)
              ex.getResponseBody.write(slice)
            case None =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
          }
      } finally ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val out = tempDir("graft_httpfs_out")
      val yaml =
        s"""streams:
           |  - input:
           |      type: file
           |      format: parquet
           |      path: "$base/corpus/t.parquet"
           |      store:
           |        type: http
           |        url: "$base"
           |    pipeline:
           |      processors:
           |        - type: sql
           |          query: "SELECT count(*) AS n, CAST(sum(id) AS BIGINT) AS s, min(tag) AS t FROM flow"
           |    output:
           |      type: parquet
           |      path: "$out/res"
           |""".stripMargin
      Engine.run(spark, Config.fromYaml(yaml))
      val r = spark.read.parquet(s"$out/res").collect().head
      assert(r.getLong(0) == 4L && r.getLong(1) == 10L && r.getString(2) == "a")
      assert(sawRange, "the parquet read must go through ranged GETs")
    } finally server.stop(0)
  }

  test("the YAML `store:` block parses to the dotted options the mapping reads") {
    val conf = Config.fromYaml(
      """streams:
        |  - input:
        |      type: "file"
        |      format: "parquet"
        |      path: "s3://corpus/docs.parquet"
        |      store:
        |        type: "s3"
        |        bucket_name: "corpus"
        |        access_key_id: "AK"
        |        secret_access_key: "SK"
        |        endpoint: "http://minio:9000"
        |        allow_http: true
        |    output:
        |      type: "drop"
        |""".stripMargin)
    val opts = conf.streams.head.input.options
    assert(opts("store.type") == "s3" && opts("store.access_key_id") == "AK")
    assert(Engine.objectStoreConf(opts)("fs.s3a.bucket.corpus.endpoint") ==
      "http://minio:9000")
    assert(Engine.objectStorePath(opts("path"), opts) == "s3a://corpus/docs.parquet")
  }
}
