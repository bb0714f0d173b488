package graft
import graft.streaming.Codecs.jsonEscape
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // GraftSession carries the engine config (AQE floor, tmpfs shuffle
    // dir, nanosAsLong); verify keeps its lower default core count.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY limits the dump to the entries it names,
    // the same filter Bench applies. The driver sets nothing → full run.
    val picked = SparkEntry.selected
    if (picked.isEmpty)
      System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY=${SparkEntry.only.map(_.mkString(",")).getOrElse("")} selected ZERO queries")
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness
    def q(s: String): String = "\"" + jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
