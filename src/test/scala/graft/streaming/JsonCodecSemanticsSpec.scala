package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins what `json_to_arrow` (no declared schema) and the debezium codec
  * make of the awkward corners of JSON input — blank and null records,
  * top-level arrays and scalars, malformed text, big integers, duplicate
  * and case-variant keys, an empty batch — as `spark.read.json` decides
  * them: schema and rows both. */
class JsonCodecSemanticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def envelope(records: Option[String]*): DataFrame = {
    import spark.implicits._
    records.toDF("s").select(col("s").cast("binary").as(Codecs.ValueCol))
  }
  private def json(records: String*) = envelope(records.map(Some(_)): _*)

  /** (schema, rows) of a decoded frame, rows in input order. */
  private def shape(df: DataFrame): (String, Seq[String]) =
    (df.schema.simpleString, df.collect().map(_.toString).toSeq)
  private def decode(df: DataFrame) = shape(Processors.JsonToArrow()(df))

  private lazy val blanks = json("""{"a":1}""", "", "   ", "\t\n", """{"a":2}""")
  private lazy val nullEnvelope = envelope(Some("""{"a":1,"b":"x"}"""), None)
  private lazy val topArrays = json("""[{"a":1},{"a":2,"b":true}]""", "[]", """{"a":3}""")
  private lazy val malformed = json("""{"a":1}""", """{"a":""", "[1,2]", "nope")
  private lazy val bigInt = json("""{"n":1234567890123456789012}""", """{"n":7}""")
  private lazy val duplicateKeys = json("""{"a":"s","a":2}""")
  private lazy val caseVariants = json("""{"a":1,"A":"x"}""", """{"a":2}""")

  test("blank and whitespace-only records give no row") {
    assert(decode(blanks) == (("struct<a:bigint>", Seq("[1]", "[2]"))))
  }

  test("a null envelope gives one all-null row") {
    assert(decode(nullEnvelope) ==
      (("struct<_corrupt_record:string,a:bigint,b:string>",
        Seq("[null,1,x]", "[null,null,null]"))))
  }

  test("a top-level array gives one row per element and [] gives none") {
    assert(decode(topArrays) ==
      (("struct<a:bigint,b:boolean>", Seq("[1,null]", "[2,true]", "[3,null]"))))
  }

  test("malformed text and a top-level array of scalars fill _corrupt_record") {
    assert(decode(malformed) ==
      (("struct<_corrupt_record:string,a:bigint>",
        Seq("[null,1]", """[{"a":,null]""", "[[1,2],null]", "[nope,null]"))))
  }

  test("a 22-digit integer infers decimal(22,0)") {
    assert(decode(bigInt) ==
      (("struct<n:decimal(22,0)>", Seq("[1234567890123456789012]", "[7]"))))
  }

  test("duplicate keys and case-variant keys") {
    assert(decode(duplicateKeys) == (("struct<a:string,a:bigint>", Seq("[null,2]"))))
    assert(decode(caseVariants) ==
      (("struct<A:string,a:bigint>", Seq("[x,1]", "[null,2]"))))
  }

  test("a zero-row batch gives the held-back sentinel") {
    val out = Processors.JsonToArrow()(json())
    assert(out.schema.isEmpty && out.collect().isEmpty)
  }

  test("the same corners through the debezium codec") {
    val create = """{"op":"c","ts_ms":1,"after":{"id":1,"v":"x"},"source":{"db":"d"}}"""
    def after(payload: String) = s"""{"op":"c","ts_ms":3,"after":$payload}"""
    def debezium(df: DataFrame) =
      scala.util.Try(shape(Codecs.DebeziumJsonCodec.decode(df))).toEither
        .left.map(_.getClass.getSimpleName)
    val got = Seq(
      json(create, "", "   "),
      envelope(Some(create), None),
      json(s"[$create,${"""{"op":"d","ts_ms":2,"before":{"id":2}}"""}]", "[]"),
      json(create, """{"op":""", "[1,2]"),
      json(create, after("""{"id":1234567890123456789012}""")),
      json(create, after("""{"id":3,"id":"dup"}""")),
      json(create, after("""{"id":4,"ID":"case"}"""))).map(debezium)
    val meta = "op:string,ts_ms:bigint,source_db:string,source_table:string," +
      "before:string,source:string"
    val row1 = """[1,x,c,1,d,null,null,{"db":"d"}]"""
    val allNull = "[null,null,null,null,null,null,null,null]"
    assert(got == Seq(
      Right((s"struct<id:bigint,v:string,$meta>", Seq(row1))),
      Right((s"struct<id:bigint,v:string,$meta>", Seq(row1, allNull))),
      Right((s"struct<id:bigint,v:string,$meta>",
        Seq(row1, """[2,null,d,2,null,null,{"id":2},null]"""))),
      Right((s"struct<id:bigint,v:string,$meta>", Seq(row1, allNull, allNull))),
      Right((s"struct<id:decimal(22,0),v:string,$meta>",
        Seq(row1, "[1234567890123456789012,null,c,3,null,null,null,null]"))),
      // a payload with a duplicate or case-variant key is ambiguous to select
      Left("AnalysisException"),
      Left("AnalysisException")))
  }
}
