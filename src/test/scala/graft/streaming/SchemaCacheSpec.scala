package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Tables` caches must not serve stale state: a rewritten
  * parquet path is read with its new schema, and a dropped table view is
  * registered again. */
class SchemaCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("file input: a path rewritten with an extra column between two " +
      "pipeline runs is read with the new column") {
    val path = java.nio.file.Files.createTempDirectory("graft_schema").toString + "/t"
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

  test("Tables.register re-registers a view dropped since the last call") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    graft.Tables.names.foreach(n => Seq(1L).toDF(s"${n}_id").write.parquet(s"$dir/$n.parquet"))
    graft.Tables.register(spark, dir)
    spark.catalog.dropTempView("orders")
    graft.Tables.register(spark, dir)
    try assert(spark.table("orders").columns.toSeq == Seq("orders_id"))
    finally graft.Tables.names.foreach(spark.catalog.dropTempView)
  }
}
