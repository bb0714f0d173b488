package graft.functions

import java.util.concurrent.CountDownLatch

import scala.util.Try

import org.apache.spark.sql.{GraftInternal, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Codecs, ComponentConf, Processors, ProtoField, SparkTestSession}

/** The graft function library is one table ([[Registry.functions]]),
  * installed once per session: every name resolves in a session built
  * with GraftExtensions or given `Registry.install`, and applying
  * processors batch after batch never writes the session's function
  * registry again. */
class RegistrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val names = Registry.functions.map(_._1)
  private def missing(s: SparkSession): Seq[String] =
    names.filterNot(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  test("the table names each function once") {
    assert(names.map(_.toLowerCase).distinct.size == names.size)
  }

  test("an extension-built session resolves every function in the table") {
    val s = GraftInternal.sessionWithExtensions(spark,
      new graft.plans.GraftExtensions()(_))
    assert(missing(s) == Nil)
    val r = s.sql("""SELECT size(cdc_chunks('abcdefgh', 2, 4)) > 0,
      |  try_pair(1).value, graft_vrl_length('abc')""".stripMargin).collect().head
    assert(r == Row(true, 1, 3))
  }

  test("install on a fresh session makes every function resolve there, " +
      "after another session of the JVM got the library") {
    Registry.install(spark)
    val fresh = spark.newSession()
    assert(missing(fresh) == names)
    Registry.install(fresh)
    assert(missing(fresh) == Nil)
    assert(fresh.sql("SELECT graft_vrl_length('abcd')").head().getInt(0) == 4)
  }

  test("50 batches through a sql and a vrl processor leave the registered " +
      "functions as the first batch found them") {
    val fresh = spark.newSession()
    val sql = Processors.SqlProcessor(
      "SELECT s, size(minhash_sigs(array(s), 4)) AS n FROM flow")
    val vrl = Processors.fromConf(Seq(ComponentConf("vrl",
      Map("statement" -> ".len = length(.s)")))).head
    val reg = fresh.sessionState.functionRegistry
    def entries() = Seq("minhash_sigs", "graft_vrl_length").map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    def batch() = fresh.sql("SELECT 'abc' AS s")
    sql(batch()); vrl(batch())
    val first = entries()
    val outs = (1 to 50).map(_ => (sql(batch()), vrl(batch())))
    entries().zip(first).foreach { case ((info, build), (info0, build0)) =>
      assert(info eq info0, s"${info.getName} was registered again")
      assert(build eq build0, s"${info.getName}'s builder was replaced")
    }
    val (s, v) = outs.last
    assert(s.collect().toSeq == Seq(Row("abc", 4)))
    assert(v.select("len").collect().toSeq == Seq(Row(3)))
  }

  test("two threads applying protobuf decoders of different schemas in one " +
      "session each decode with their own schema") {
    val perThread = 2000
    val batch = Seq(Array[Byte](8, 1)).toDF(Codecs.ValueCol)
    val procs = Seq("alpha", "beta").map(n =>
      n -> Processors.ProtobufToArrow(Seq(ProtoField(1, n, "int64"))))
    val go = new CountDownLatch(1)
    val outs = Array.fill(procs.size)(Seq.empty[Boolean])
    val threads = procs.zipWithIndex.map { case ((name, p), i) =>
      new Thread(() => {
        go.await()
        outs(i) = (1 to perThread).map(_ =>
          Try(p(batch).columns.toSeq).toOption.contains(Seq(name)))
      })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    val crossed = outs.flatten.count(!_)
    assert(outs.flatten.size == 2 * perThread)
    assert(crossed == 0, s"$crossed of ${2 * perThread} applications decoded " +
      "with the other thread's schema")
    assert(procs.head._2(batch).collect().toSeq == Seq(Row(1L)))
  }
}
