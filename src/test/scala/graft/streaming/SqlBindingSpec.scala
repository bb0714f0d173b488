package graft.streaming

import java.util.concurrent.CountDownLatch

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** How a batch is bound to SQL (`sql`, its lookup variant, the window
  * join and the `file` input's `query`): each application reads its own
  * batch even while other threads bind the same names in the same
  * session, the session catalog is left as it was, and the statement is
  * checked when the processor is built. */
class SqlBindingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val perThread = 2000

  /** Starts one thread per tag together; each makes `perThread` calls of
    * `run(tag)`. Returns every outcome with the tag of its thread. */
  private def race(run: String => DataFrame): Seq[(String, Try[DataFrame])] = {
    val go = new CountDownLatch(1)
    val tags = Seq("a", "b")
    val outs = Array.fill(tags.size)(Seq.empty[Try[DataFrame]])
    val threads = tags.zipWithIndex.map { case (tag, i) =>
      new Thread(() => {
        go.await()
        outs(i) = (1 to perThread).map(_ => Try(run(tag)))
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    tags.zip(outs).flatMap { case (tag, os) => os.map(tag -> _) }
  }

  test("two threads applying their own sql processor in one session each " +
      "read their own batch") {
    val procs = Seq("a", "b").map(t =>
      t -> (Processors.SqlProcessor("SELECT tag FROM flow"), Seq(t).toDF("tag"))).toMap
    val outcomes = race { tag => val (p, batch) = procs(tag); p(batch) }
    // a one-row local batch collects on the driver without a job
    val crossed = outcomes.count { case (tag, out) =>
      out.map(_.collect().toSeq).toOption != Some(Seq(Row(tag))) }
    assert(outcomes.size == 2 * perThread)
    assert(crossed == 0, s"$crossed of ${outcomes.size} applications read another batch")
  }

  test("two threads applying lookup sql processors whose lookups share a " +
      "name each read their own batch and lookup") {
    val procs = Seq("a", "b").map { t =>
      val lookup = Seq(s"l$t").toDF("ltag")
      t -> (Processors.LookupSqlProcessor(
        "SELECT f.tag, l.ltag FROM flow f CROSS JOIN lkp l", "flow",
        Seq(Processors.TemporaryLookup("lkp", _ => lookup))), Seq(t).toDF("tag"))
    }.toMap
    val outcomes = race { tag => val (p, batch) = procs(tag); p(batch) }
    // the rows each result reads are the local relations its analyzed
    // plan was bound to (a join of two local frames would cost a job)
    def reads(df: DataFrame): Set[String] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case l: LocalRelation => l.data.map(_.getUTF8String(0).toString)
      }.flatten.toSet
    val crossed = outcomes.count { case (tag, out) =>
      out.map(reads).toOption != Some(Set(tag, s"l$tag")) }
    assert(crossed == 0, s"$crossed of ${outcomes.size} applications read another batch")
    assert(procs("a")._1(Seq("a").toDF("tag")).collect().toSeq == Seq(Row("a", "la")))
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("runBatch through a file query, sql on table_name orders, lookup sql " +
      "and a window join leaves the session's temp views as they were") {
    val dir = tempDir("graft_bind").toString
    graft.Tables.names.foreach(n =>
      Seq(7L).toDF(s"${n}_id").write.parquet(s"$dir/$n.parquet"))
    graft.Tables.register(spark, dir)
    try {
      val before = tempViews()
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "name")
        .write.parquet(s"$dir/in")
      val in = Engine.inputFromConf(spark, ComponentConf("file", Map(
        "path" -> s"$dir/in", "table_name" -> "src",
        "query" -> "SELECT id, name FROM src WHERE id < 3")))
      val procs: Seq[Processors.BatchTransform] = Seq(
        Processors.SqlProcessor("SELECT id * 10 AS id, name FROM orders", "orders"),
        Processors.LookupSqlProcessor(
          "SELECT f.id, l.tag FROM flow f JOIN lkp l ON f.name = l.name", "flow",
          Seq(Processors.TemporaryLookup("lkp",
            _ => Seq(("x", "tx"), ("y", "ty")).toDF("name", "tag")))),
        Processors.WindowJoinProcessor("SELECT id, tag FROM flow", Seq("flow"),
          _ => (df: DataFrame) => df))
      val sink = new Engine.MemorySink
      Engine.runBatch(in, procs, sink, None)
      assert(sink.rows.map(r => (r.getLong(0), r.getString(1))).sorted ==
        Seq((10L, "tx"), (20L, "ty")))
      assert(tempViews() == before)
      // the fixture view named like the processor's table is untouched
      assert(spark.table("orders").collect().toSeq == Seq(Row(7L)))
    } finally graft.Tables.names.foreach(spark.catalog.dropTempView)
  }

  test("a window join's join.query and a file input's query resolve graft " +
      "functions on a fresh session") {
    val sigs = "SELECT id, size(minhash_sigs(split(t, ' '), 4)) AS n FROM flow"
    val join = Processors.WindowJoinProcessor(sigs, Seq("flow"),
      _ => (df: DataFrame) => df)
    val fresh = spark.newSession()
    val batch = fresh.createDataFrame(Seq((1L, "a b"))).toDF("id", "t")
    assert(join(batch).collect().toSeq == Seq(Row(1L, 4)))
    val dir = tempDir("graft_bind_fn").toString
    Seq((2L, "c d")).toDF("id", "t").write.parquet(s"$dir/in")
    val in = Engine.inputFromConf(spark.newSession(), ComponentConf("file",
      Map("path" -> s"$dir/in", "query" -> sigs)))
    assert(in.collect().toSeq == Seq(Row(2L, 4)))
  }

  private def sql(query: String, tableName: String = "flow") =
    Processors.fromConf(Seq(ComponentConf("sql",
      Map("query" -> query, "table_name" -> tableName)))).head

  test("fromConf rejects DDL and unparsable sql when the processor is built") {
    intercept[IllegalArgumentException](sql("DROP TABLE t"))
    intercept[IllegalArgumentException](sql("SELEC id FRM flow"))
  }

  test("a buffer's DDL or unparsable join.query fails when the stream is " +
      "built, not when the first window fires") {
    def build(query: String) = Engine.bufferProcessors(
      Some(ComponentConf("memory", Map("join.query" -> query))))
    intercept[IllegalArgumentException](build("DROP TABLE t"))
    intercept[IllegalArgumentException](build("SELEC id FRM flow"))
    assert(build("SELECT id FROM flow").size == 1)
  }

  private val ids = Seq(1L, 2L, 3L)
  private def run(query: String, tableName: String = "flow"): Seq[Long] =
    sql(query, tableName)(ids.toDF("id")).collect().map(_.getLong(0)).toSeq.sorted

  test("a CTE named flow shadows the batch; one that reads flow reads the batch") {
    assert(run("WITH flow AS (SELECT 42L AS id) SELECT id FROM flow") == Seq(42L))
    assert(run("WITH flow AS (SELECT id * 10 AS id FROM flow) SELECT id FROM flow") ==
      Seq(10L, 20L, 30L))
  }

  test("table names bind case-insensitively: FROM FLOW reads table_name flow") {
    assert(run("SELECT id FROM FLOW") == ids)
    assert(run("SELECT id FROM flow", tableName = "FLOW") == ids)
  }

  test("flow binds inside an IN subquery and on both sides of a self-join") {
    assert(run("SELECT v FROM VALUES (1L), (5L) AS t(v) WHERE v IN (SELECT id FROM flow)") ==
      Seq(1L))
    assert(run("SELECT a.id FROM flow a JOIN flow b ON a.id = b.id + 1") == Seq(2L, 3L))
  }

  test("a session view registered under another name still resolves") {
    Seq(2L, 3L, 4L).toDF("id").createOrReplaceTempView("graft_bind_dims")
    try assert(run("SELECT f.id FROM flow f JOIN graft_bind_dims d ON f.id = d.id") ==
      Seq(2L, 3L))
    finally spark.catalog.dropTempView("graft_bind_dims")
  }
}
