package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The config-pipeline entries (q250–q276) write their outputs under one
  * scratch root per SparkContext, and that root is deleted when the
  * application ends. */
class ConfigScratchSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark
  import spark.implicits._

  test("two config entries in one session write under the same scratch " +
      "root, which the application-end cleanup deletes") {
    val dir = tempDir("graft_scratch_fixture").toString
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L), (2L, "BRAZIL", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    val outs = Seq("q250_config_pipeline", "q251_config_vrl")
      .map(ConfigPipeline.queries(_)(spark, dir))
    val root = ConfigPipeline.scratchRoot(spark.sparkContext)
    // each entry's files sit in its own directory right under the root
    val entryDirs = outs.map(_.inputFiles.map(f =>
      root.path.relativize(Paths.get(new java.net.URI(f))).getName(0).toString).toSet)
    assert(entryDirs.forall(_.size == 1), entryDirs)
    assert(entryDirs.flatten.distinct.size == 2 &&
      entryDirs.flatten.forall(d => !d.startsWith("..")), entryDirs)
    assert(outs.map(_.count()) == Seq(2L, 1L))
    root.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(!Files.exists(root.path))
    // the next entry gets a fresh root
    assert(ConfigPipeline.scratchRoot(spark.sparkContext).path != root.path)
  }
}
