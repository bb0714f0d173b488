package graft.streaming

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, GraftJson}
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** [[Codecs.inferJsonSchema]] against `spark.read.json` on random record
  * lists: nested objects and arrays, ints, longs, big integers, floats,
  * NaN, `""`, nulls, booleans, type conflicts, duplicate and case-variant
  * keys, malformed records, top-level scalars and arrays — each list drawn
  * from a small pool of records so that same-shape records repeat inside
  * a partition and the skip fires. The schema must be `spark.read.json`'s,
  * and the rows decoded with it must be the rows `spark.read.json` gives.
  */
class JsonSchemaInferencePropertySpec extends AnyFunSuite {
  import JsonSchemaInferencePropertySpec._
  lazy val spark = SparkTestSession.spark

  private val key = Gen.oneOf("a", "A", "b", "B", "c", "é")

  private val scalar: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(-5, 99).map(_.toString),
    1 -> Gen.oneOf("3000000000", "-9223372036854775808"),
    1 -> Gen.oneOf("1234567890123456789012", "-99999999999999999999"),
    3 -> Gen.oneOf("1.5", "-0.25", "2e3", "0.0"),
    1 -> Gen.oneOf("NaN", "Infinity", "-Infinity"),
    2 -> Gen.const("\"\""),
    3 -> Gen.const("null"),
    2 -> Gen.oneOf("true", "false"),
    3 -> Gen.oneOf("\"x\"", "\"12\"", "\"é\"", "\"\\u00e9\\n\""))

  /** `j` as JSON text; `lower` folds every key to lower case. */
  private def render(j: J, lower: Boolean): String = j match {
    case Leaf(t) => t
    case Obj(fs) => fs.map { case (k, v) =>
      s""""${if (lower) k.toLowerCase else k}":${render(v, lower)}"""
    }.mkString("{", ",", "}")
    case Arr(vs) => vs.map(render(_, lower)).mkString("[", ",", "]")
  }

  private def value(depth: Int): Gen[J] =
    if (depth == 0) scalar.map(Leaf)
    else Gen.frequency(6 -> scalar.map(Leaf), 2 -> obj(depth - 1), 2 -> arr(depth - 1))

  private def obj(depth: Int): Gen[Obj] = for {
    n <- Gen.chooseNum(0, 4)
    ks <- Gen.listOfN(n, key)
    vs <- Gen.listOfN(n, value(depth))
  } yield Obj(ks.zip(vs))

  private def arr(depth: Int): Gen[Arr] =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, value(depth))).map(Arr)

  /** `j` with some leaves replaced and, in objects, a field sometimes
    * added (possibly a duplicate or case variant) or dropped. */
  private def variant(j: J): Gen[J] = j match {
    case Leaf(_) => Gen.frequency(2 -> Gen.const(j), 1 -> scalar.map(Leaf))
    case Arr(vs) => Gen.sequence[Seq[J], J](vs.map(variant)).map(Arr)
    case Obj(fs) => for {
      vs <- Gen.sequence[Seq[J], J](fs.map(f => variant(f._2)))
      kept = fs.map(_._1).zip(vs)
      edit <- Gen.chooseNum(0, 5)
      extra <- key.flatMap(k => value(1).map(k -> _))
    } yield Obj(edit match {
      case 0 => kept :+ extra
      case 1 => kept.drop(1)
      case _ => kept
    })
  }

  private def oddRecord(lower: Boolean): Gen[String] = Gen.frequency(
    1 -> obj(1).map(o => " " + render(o, lower)),
    2 -> Gen.oneOf("""{"a":""", "{a:1}", "nope", """{"a" 1}""",
      """{"a":1} trailing""", """{'b':'single'}""", """{"a":01}"""),
    1 -> Gen.oneOf("1", "\"s\"", "true", "null", "", "  "),
    1 -> Gen.oneOf(Gen.const("[]"), Gen.const("[1,2]"), arr(2).map(render(_, lower))))

  /** 1-4 partitions over a pool of one object record, 1-4 variants of it
    * and 0-2 odd records, either as runs of 1-8 copies in pool order (each
    * partition then meets a record before its variants) or as 5-60 draws
    * in random order.
    *
    * Case-variant keys appear only in single-partition batches: Spark
    * merges the partitions' types in the order their tasks finish, and a
    * case-insensitive struct merge keeps the first side's name, so
    * `spark.read.json` itself names the field `A` or `a` from run to run
    * when the variants sit in different partitions. */
  private val batch: Gen[(Seq[String], Int)] = for {
    parts <- Gen.chooseNum(1, 4)
    lower = parts > 1
    base <- obj(2)
    variants <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, variant(base)))
    odd <- Gen.chooseNum(0, 2).flatMap(n => Gen.listOfN(n, oddRecord(lower)))
    pool = (base +: variants).map(render(_, lower)) ++ odd
    runs <- Gen.oneOf(true, false)
    records <-
      if (runs) Gen.listOfN(pool.size, Gen.chooseNum(1, 8))
        .map(ns => pool.zip(ns).flatMap { case (r, n) => Seq.fill(n)(r) })
      else Gen.chooseNum(5, 60).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool)))
  } yield (records, parts)

  private def samples[A](g: Gen[A], n: Int, seedBase: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, rng.Seed(seedBase + i)))

  private def strings(records: Seq[String], parts: Int): Dataset[String] = {
    import spark.implicits._
    spark.sparkContext.parallelize(records, parts).toDS()
  }

  /** Rows as text (NaN compares equal), or the failure's class. */
  private def rows(df: => DataFrame): Either[String, Seq[String]] =
    Try(df.collect().map(_.toString).toSeq).toEither.left.map(_.getClass.getName)

  test("inferJsonSchema equals spark.read.json's schema and rows on 500 random batches") {
    val cases = samples(batch, 500, 9100L)
    assert(cases.size == 500)
    val options = GraftJson.readerOptions(spark)
    var skipped = 0 // cases where Spark's inference saw fewer records than the batch has
    cases.zipWithIndex.foreach { case ((records, parts), i) =>
      val ds = strings(records, parts)
      if (GraftJson.keptRecords(ds.queryExecution.toRdd, options).count() < records.size)
        skipped += 1
      val expected = spark.read.json(ds)
      val inferred = Codecs.inferJsonSchema(ds)
      val where = s"case $i ($parts partitions): ${records.mkString(" | ")}"
      assert(inferred == expected.schema,
        s"$where\n  got      ${inferred.simpleString}\n  expected ${expected.schema.simpleString}")
      assert(rows(spark.read.schema(inferred).json(ds)) == rows(expected), where)
    }
    assert(skipped >= 250, s"the skip fired in $skipped of 500 cases")
  }

  test("array elements whose keys differ only in case are handed to Spark") {
    // Spark merges the two elements by position under the case-insensitive
    // resolver ({"A":null} and {"a":"t"} become {"A":"string"}), which
    // widens A although each element alone fits the shadow
    val ds = strings(Seq("""{"x":[{"A":1,"a":"s"}]}""", """{"x":[{"A":null},{"a":"t"}]}"""), 1)
    assert(spark.read.json(ds).schema.simpleString == "struct<x:array<struct<A:string,a:string>>>")
    assert(Codecs.inferJsonSchema(ds) == spark.read.json(ds).schema)
  }

  test("10,000 same-shape records over 4 partitions hand Spark's inference " +
      "at most a few records per partition") {
    val records = (0 until 10000).map { i =>
      val v = if (i % 2 == 0) s"$i" else s"$i.5"
      s"""{"id":$i,"name":"n$i","v":$v,"ok":${i % 3 == 0},"tags":["t$i",""],""" +
        s""""loc":{"x":$i,"zone":null}}"""
    }
    val ds = strings(records, 4)
    val kept = GraftJson.keptRecords(ds.queryExecution.toRdd, GraftJson.readerOptions(spark))
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(kept.length == 4 && kept.forall(n => n >= 1 && n <= 3), kept.mkString(","))
    assert(Codecs.inferJsonSchema(ds) == spark.read.json(ds).schema)
  }
}

object JsonSchemaInferencePropertySpec {
  /** A JSON value as a tree, so that a record's variants keep its keys
    * and change its leaves (the type conflicts inference has to widen). */
  sealed trait J
  final case class Leaf(text: String) extends J
  final case class Obj(fields: Seq[(String, J)]) extends J
  final case class Arr(items: Seq[J]) extends J
}
