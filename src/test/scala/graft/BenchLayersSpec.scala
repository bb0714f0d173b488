package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-entry layers: each rep's jobs carry their own tag, so the
  * one listener's totals for a rep hold that rep's jobs and no other's. */
class BenchLayersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark

  test("each rep of an entry reads its own jobs, stages and tasks, with no " +
      "bleed between entries") {
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q03_join_topn", "q07_rollup")
    // Bench's warm-up: a table's first load infers its parquet schema
    // (a job of its own), later loads reuse it
    Tables.names.foreach(n => Tables.load(spark, sf, n))
    val listener = new Bench.LayerListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // interleaved, so a count that bled from one entry into the next
      // would make an entry's two runs differ
      val reps = (1 to 2).flatMap(_ => names.map(n =>
        n -> Bench.runRep(spark, n, SparkEntry.queries(n), sf).get))
      val layers = listener.layers(spark)
      val byEntry = reps.groupBy(_._1).map { case (n, rs) =>
        n -> rs.map { case (_, r) => layers(r.tag) } }
      assert(byEntry.keySet == names.toSet)
      byEntry.foreach { case (n, ls) =>
        ls.foreach { l =>
          assert(l.jobs >= 1, n)
          assert(l.stages >= 1 && l.tasks >= l.stages, s"$n: ${l.fields}")
        }
        assert(ls.map(_.jobs).distinct.size == 1, s"$n: ${ls.map(_.jobs)}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
