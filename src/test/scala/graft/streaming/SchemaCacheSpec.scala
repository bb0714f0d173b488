package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Tables` caches must not serve stale state: a rewritten
  * parquet path is read with its new schema, and a dropped table view is
  * registered again. */
class SchemaCacheSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("file input: a path rewritten with an extra column between two " +
      "pipeline runs is read with the new column") {
    val path = tempDir("graft_schema").toString + "/t"
    val conf = ComponentConf("file", Map("path" -> path))
    def run(): (Seq[String], Long) = {
      var seen: (Seq[String], Long) = null
      Engine.runBatch(Engine.inputFromConf(spark, conf), Nil,
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen = (batch.columns.toSeq, batch.count()), None)
      seen
    }
    Seq(1L, 2L).toDF("id").write.parquet(path)
    assert(run() == (Seq("id"), 2L))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
      .write.mode("overwrite").parquet(path)
    assert(run() == (Seq("id", "tag"), 3L))
  }

  test("one path read under two spark.sql.parquet.binaryAsString values " +
      "yields two column types") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a file without Spark's schema in its footer, so inference reads
    // the parquet types and the conf decides what BINARY becomes
    val dir = tempDir("graft_binary").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "abc"))
    finally writer.close()
    def typeOf() = graft.Tables.cachedParquet(spark, dir).schema("b").dataType
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(typeOf() == BinaryType)
      spark.conf.set(key, "true")
      assert(typeOf() == StringType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Tables.register re-registers a view dropped since the last call") {
    val dir = tempDir("graft_tables").toString
    graft.Tables.names.foreach(n => Seq(1L).toDF(s"${n}_id").write.parquet(s"$dir/$n.parquet"))
    graft.Tables.register(spark, dir)
    spark.catalog.dropTempView("orders")
    graft.Tables.register(spark, dir)
    try assert(spark.table("orders").columns.toSeq == Seq("orders_id"))
    finally graft.Tables.names.foreach(spark.catalog.dropTempView)
  }
}
