package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the analytics-operator library over the sf0.001 fixtures. */
class OperatorsSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has either an oracle or a documented omission") {
    val qs = graft.SparkEntry.queries.keySet
    val os = graft.SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle keys without queries: ${os -- qs}")
    // round 7 retired the last rows-only entries (q40/q67 exact-regime
    // grading, q93/q94/q101 unrolled-merge oracles, q107 deterministic
    // GD) — every query is now oracle-graded
    assert((qs -- os).isEmpty, s"missing oracles: ${qs -- os}")
  }

  test("every graded query output is scalar-typed (driver sort/hash contract)") {
    // The driver sorts Spark output rows with pandas before hashing;
    // ndarray cells (array/map/struct columns) crash that sort — q94/q101
    // were dark for a whole round this way. Library APIs may return
    // arrays; GRADED entries must project them to joined strings.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => s"$name.${f.name}"
        }
    }
    assert(bad.isEmpty, s"complex-typed graded columns: ${bad.mkString(", ")}")
  }

  test("q40 approx aggregates stay within documented error of exact (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    graft.Tables.register(spark, dir)
    val approx = spark.sql(
      """SELECT l_returnflag, approx_count_distinct(l_partkey) AS acd,
        |  percentile_approx(l_quantity, 0.5) AS amed
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = spark.sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS cd,
        |  percentile(l_quantity, 0.48) AS p48, percentile(l_quantity, 0.52) AS p52
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (flag, (cd, p48, p52)) =>
      val (acd, amed) = approx(flag)
      // HLL++ default relative standard deviation is 5%
      assert(math.abs(acd - cd).toDouble / cd <= 0.05,
        s"$flag: approx_count_distinct $acd vs exact $cd drifts > 5%")
      // approx percentile's rank error keeps the result inside a +-2% rank band
      assert(amed >= p48 && amed <= p52,
        s"$flag: approx median $amed outside [$p48, $p52]")
    }
  }

  test("dot_product codegen expression: fold parity, null, length mismatch") {
    graft.functions.Registry.install(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       dot_product(array(1.0D), CAST(NULL AS ARRAY<DOUBLE>)) AS n,
        |       dot_product(array(1.0D, 2.0D), array(3.0D)) AS shorter,
        |       aggregate(zip_with(array(0.1D, 0.2D, 0.3D), array(0.4D, 0.5D, 0.6D),
        |         (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS fold,
        |       dot_product(array(0.1D, 0.2D, 0.3D), array(0.4D, 0.5D, 0.6D)) AS fast
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 32.0)
    assert(r.isNullAt(1))
    assert(r.getDouble(2) == 3.0)
    assert(r.getDouble(3) == r.getDouble(4), "must be bit-identical to the sequential fold")
  }

  test("nfc_normalize / strip_accents codegen expressions") {
    graft.functions.Registry.install(spark)
    val r = spark.sql(
      """SELECT nfc_normalize('caf' || 'é') AS composed,
        |       length(nfc_normalize('é')) AS n1,
        |       strip_accents('école') AS folded,
        |       strip_accents('ø ç ñ') AS mixed,
        |       nfc_normalize(CAST(NULL AS STRING)) AS nn,
        |       nfc_normalize('plain ascii') AS ascii
        |""".stripMargin).collect().head
    assert(r.getString(0) == "café") // e + combining acute -> U+00E9
    assert(r.getInt(1) == 1)
    assert(r.getString(2) == "ecole")
    assert(r.getString(3) == "ø c n") // ø has no decomposition; ç/ñ fold
    assert(r.isNullAt(4))
    assert(r.getString(5) == "plain ascii")
    // ASCII fast path: the helper returns the input object untouched
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("ascii only")
    assert(graft.functions.NormalizeOps.nfc(s) eq s)
    assert(graft.functions.NormalizeOps.stripAccents(s) eq s)
  }

  test("SpaceSaving sketch: exact regime matches groupBy, tiny capacity keeps the bounds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.Registry.install(spark)
    // skewed stream: item i appears ~1000/i times (zipf-ish), 40 distinct
    val rows = (1 to 40).flatMap(i => Seq.fill(1000 / i)(s"item$i"))
    val df = spark.sparkContext.parallelize(rows, 16).toDF("w")
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong

    // capacity >= distinct: exact counts in any partitioning
    val exact = df.agg(expr("topk_sketch(w, 10, 64)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(exact.length == 10)
    exact.foreach { case (item, cnt, err) =>
      assert(cnt == truth(item) && err == 0L, s"$item: exact regime must be exact")
    }
    assert(exact.map(_._1).take(3).toSeq == Seq("item1", "item2", "item3"))

    // capacity 8 << 40 distinct: SpaceSaving bounds must survive Spark's
    // arbitrary partial-merge order — cnt overestimates, cnt-err lower-
    // bounds, and every item with true count > N/capacity is reported
    val approx = df.agg(expr("topk_sketch(w, 8, 8)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    approx.foreach { case (item, cnt, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(cnt >= t, s"$item: estimate $cnt must overestimate true $t")
      assert(cnt - err <= t, s"$item: lower bound ${cnt - err} must not exceed true $t")
    }
    val guaranteed = truth.filter(_._2 > n / 8).keySet
    assert(guaranteed.subsetOf(approx.map(_._1).toSet),
      s"heavy hitters $guaranteed must all be reported")
  }

  test("PQ-ADC with ksub = corpus size is exact L2 search; 16-centroid codebooks keep recall") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = emb.count().toInt
    // codebook = every subvector -> each vector encodes as itself -> ADC
    // distance IS the exact squared L2 distance (quantization error zero)
    val asExact = Similarity.pqKnn(emb, m = 8, ksub = n, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    // independent exact baseline: direct L2 on the full vectors
    graft.functions.Registry.install(spark)
    val v = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vd").as("qv"))
    val scored = v.select(col("vec_id").as("cid"), col("vd").as("cv"))
      .crossJoin(broadcast(q)).filter(col("qid") =!= col("cid"))
      .withColumn("d2",
        expr("dot_product(qv, qv) - 2 * dot_product(qv, cv) + dot_product(cv, cv)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
    val base = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(asExact.sorted.toSeq == base.sorted.toSeq)

    // the graded configuration (16 centroids/subspace = 32x compression):
    // top-10 recall vs exact on every query above a measured floor
    val pq = Similarity.pqKnn(emb, m = 8, ksub = 16, nQueries = 5, k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val exact = base.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exact.keys.toSeq.sorted
      .map(qid => pq(qid).intersect(exact(qid)).size / 10.0)
    info(s"PQ m=8 ksub=16 top-10 recall per query: $recalls")
    // this corpus is near-uniform random — PQ's worst case — and the
    // oracle-reproducible codebook is untrained (first-16 subvectors, no
    // KMeans), so absolute recall is modest; chance is 10/500 = 0.02 and
    // measured mean is ~0.32. The floor guards against collapse, not
    // against the data being hard.
    assert(recalls.sum / recalls.size >= 0.15,
      s"mean PQ recall collapsed toward chance (0.02): $recalls")
  }

  test("kmeans IVF with all cells probed is exactly brute force; partial probes recall") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val brute = Similarity.bruteForceKnn(emb, nQueries = 5, k = 5)
      .select("qid", "cid", "cos", "rnk").orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val full = Similarity.ivfKnnKMeans(emb, nList = 8, nQueries = 5, k = 5, nProbe = 8)
      .orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(full.toSeq == brute.toSeq,
      "probing every cell must degenerate to exact brute-force top-k")
    val trueSets = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // these synthetic embeddings are near-uniform (max pairwise cos ~0.51),
    // the hardest case for IVF — half-probe recall is the guard, not 1-probe
    val approx4 = Similarity.ivfKnnKMeans(emb, nList = 8, nQueries = 5, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = trueSets.map { case (q, t) =>
      approx4.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }.sum / trueSets.size
    assert(recall >= 0.5, s"4-of-8-cell probe recall $recall collapsed")
  }

  test("one Lloyd step: cells partition the vectors; k=1 degenerates to the column mean") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val n = emb.count()
    val step = Similarity.kmeansLloydStep(emb, k = 8)
    // every dimension accounts every assigned vector exactly once
    val perDim = step.groupBy("dim").agg(sum("n_members").as("m"))
      .select("m").distinct().collect()
    assert(perDim.length == 1 && perDim.head.getLong(0) == n - 8,
      s"cells must partition the ${n - 8} non-seed vectors")
    // k=1: a single cell whose centroid is the plain per-dimension mean
    val one = Similarity.kmeansLloydStep(emb, k = 1)
    val direct = emb.filter(col("vec_id") >= 1)
      .select(posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .as(Seq("d0", "x")))
      .groupBy((col("d0") + 1).as("dim")).agg(avg("x").as("m"))
    val maxErr = one.join(direct, "dim")
      .select(abs(col("cval") - col("m")).as("err"))
      .agg(max("err")).collect().head.getDouble(0)
    assert(maxErr <= 1e-5, s"k=1 centroid drifted from the column mean by $maxErr")
  }

  test("gradient step matches the closed form at w = 0") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val n = emb.count()
    val g = Similarity.logisticGradStep(emb, lr = 0.1)
      .orderBy("dim").collect()
    assert(g.length == 64 && g.forall(_.getLong(3) == n))
    g.foreach { r =>
      assert(math.abs(r.getDouble(2) + 0.1 * r.getDouble(1)) <= 1e-6,
        s"w1 must be -lr*grad at dim ${r.getLong(0)}")
    }
    // dim-1 gradient against a driver-side fold of the raw vectors
    val expected = {
      val rows = emb.selectExpr("vec_id", "CAST(embedding[0] AS DOUBLE) AS x")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      rows.map { case (id, x) => (0.5 - (id % 2)) * x }.sum / rows.length
    }
    assert(math.abs(g.head.getDouble(1) - expected) <= 1e-5,
      s"dim-1 gradient ${g.head.getDouble(1)} vs closed form $expected")
  }

  test("interval overlap join: binned result == brute force, at any bin width") {
    import org.apache.spark.sql.functions._
    val iv = graft.Tables.load(spark, sf, "events").select(
      col("event_id"), col("user_id"),
      col("ts").cast("long").as("lo"),
      (col("ts").cast("long") +
        expr("CAST(round(value * 60000000000) AS LONG)")).as("hi"))
    val a = iv.select(col("user_id"), col("event_id").as("ea"),
      col("lo").as("la"), col("hi").as("ha"))
    val b = iv.select(col("user_id"), col("event_id").as("eb"),
      col("lo").as("lb"), col("hi").as("hb"))
    val brute = a.join(b, "user_id")
      .filter(col("ea") < col("eb") && col("la") <= col("hb") && col("lb") <= col("ha"))
      .select(col("user_id"), col("ea"), col("eb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "fixture must produce overlapping spans")
    Seq(3600e9.toLong, 6L * 3600L * 1000000000L, 86400e9.toLong).foreach { w =>
      val binned = RangeJoin.intervalOverlapPairs(
          iv, Seq("user_id"), "event_id", "lo", "hi", binWidth = w)
        .select(col("user_id"), col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(binned.length == binned.toSet.size, s"duplicate pairs at binWidth=$w")
      assert(binned.toSet == brute, s"pair set drifted at binWidth=$w")
    }
  }

  test("prefix-filter jaccard equals the direct cap-free join at every threshold") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    // direct (quadratic-candidate) reference: inverted index, no cap
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))"))
        .as("sh"))
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val inter = sh.select(col("sh"), col("doc_id").as("doc_a"))
      .join(sh.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("doc_a"), col("nw").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("nw").as("nb")), "doc_b")
      .withColumn("jac", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
    // 0.07 and 0.9 sit where double noise once pushed ceil(t*n) past the
    // exact rational ceiling (0.07*100 -> 7.000000000000001)
    Seq(0.07, 0.3, 0.5, 0.8, 0.9).foreach { t =>
      val direct = inter.filter(col("jac") >= t)
        .select("doc_a", "doc_b", "jac")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pf = Dedup.prefixFilterJaccard(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pf == direct, s"prefix filtering lost/invented pairs at t=$t")
    }
  }

  test("sessionize: gap == threshold continues the session, gap > threshold breaks it") {
    import spark.implicits._
    val evs = Seq(
      (1L, 0L, 1L), (1L, 10L, 2L), (1L, 21L, 3L), // gap 10 holds, gap 11 breaks
      (2L, 5L, 4L)
    ).toDF("user_id", "ts", "event_id")
    val got = EventsOps.sessionize(evs, "user_id", "ts", "event_id", gapNanos = 10L)
      .orderBy("key", "tsn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }

  test("novelty curve: every gram is novel exactly once; duplicates score zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // docs 1 and 2 are identical; whichever md5-orders first takes all
    // the novelty, the other scores 0. Doc 3 is all-fresh -> 1.0.
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w")
    ).toDF("doc_id", "text")
    val got = Corpus.noveltyCurve(docs, "doc_id", "text", seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val Seq(d1, d2, d3) = got.toSeq
    assert(d3 == ((3L, 2L, 2L, 1.0)), "fresh doc must be fully novel")
    assert(Set(d1._4, d2._4) == Set(1.0, 0.0),
      "one twin takes the novelty, the other scores zero")
    // corpus-wide: each distinct gram is first-seen exactly once
    assert(got.map(_._3).sum == 3 + 2, "sum(n_novel) == distinct grams")
  }

  test("quantile normalization maps each source's ranks onto the global CDF") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "X", 10), (1L, "X", 20),
      (2L, "Y", 5), (3L, "Y", 30), (4L, "Y", 40)
    ).toDF("doc_id", "source", "n_chars")
    // global CDF: 5->0, 10->.25, 20->.5, 30->.75, 40->1
    // X ranks 0, 1 -> 5, 40; Y ranks 0, .5, 1 -> 5, 20, 40
    val got = Selection.quantileNormalize(docs, "doc_id", "source",
        col("n_chars").cast("double"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.toSeq == Seq((0L, 5.0), (1L, 40.0), (2L, 5.0), (3L, 20.0), (4L, 40.0)))
  }

  test("label propagation: majority vote, smallest-label ties, seeds never overwritten") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 4L), (1L, 6L), (3L, 2L), (5L, 7L), (2L, 4L))
      .toDF("doc_a", "doc_b")
    val seeds = Seq((2L, 10L), (4L, 20L), (6L, 10L)).toDF("doc_id", "label")
    val got = Corpus.labelPropagationStep(pairs, "doc_a", "doc_b",
        seeds, "doc_id", "label")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // node 1: {10:2, 20:1} -> 10; node 3: one vote; nodes 5/7 have no
    // labeled neighbor; nodes 2/4 are seeds and never receive
    assert(got.toSeq == Seq((1L, 10L, 2L, 3L), (3L, 10L, 1L, 1L)))
    // tie: equal votes resolve to the smallest label
    val tie = Corpus.labelPropagationStep(
        Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", Seq((2L, 30L), (4L, 20L)).toDF("doc_id", "label"),
        "doc_id", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tie.toSeq == Seq((1L, 20L)))
  }

  test("RRF fusion matches the closed form: both-list docs beat single-list docs") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f)), (3L, Seq(0.6f, 0.8f, 0f))
    ).toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "a b c d"), (1L, "z1 z2"), (2L, "q r"), (3L, "a b c d")
    ).toDF("doc_id", "text")
    // cos top-2 for q0: d1 (1.0), d2 (0.8); lex top-2: d3 (jac 1), d1 (0, tie->id)
    val got = Similarity.rrfFusion(emb, docs, "doc_id", "text",
        nQueries = 1, k = 2, topK = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.toSeq == Seq(
      (1L, r6(1.0 / 61 + 1.0 / 62), 1), // in both lists
      (3L, r6(1.0 / 61), 2),            // lex #1 only
      (2L, r6(1.0 / 62), 3)))           // cos #2 only
  }

  test("OHLC resample: open/close by event order, ties broken by the tie column") {
    import spark.implicits._
    // bucket 0: ties at ts=5 resolved by event_id; bucket 10: singleton
    val evs = Seq(
      ("a", 1_000_000_000L, 3L, 7.0), ("a", 5_000_000_000L, 1L, 2.0),
      ("a", 5_000_000_000L, 2L, 9.0), ("a", 11_000_000_000L, 4L, 4.0),
      ("a", -1L, 5L, 1.0) // pre-epoch: floor bucket -10, never bucket 0
    ).toDF("event_type", "ts", "event_id", "value")
    val got = EventsOps.ohlcResample(evs, "event_type", "ts", "event_id",
        "value", stepSeconds = 10L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (-10L, 1.0, 1.0, 1.0, 1.0, 1L),
      (0L, 7.0, 9.0, 2.0, 9.0, 3L), // open=first(ts=1), close=ts5/id2
      (10L, 4.0, 4.0, 4.0, 4.0, 1L)))
  }

  test("PMI collocations match the closed form on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((0L, "a b a b"), (1L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "doc_id", "text", minCount = 1L)
      .orderBy("w1", "w2").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // unigrams: a=3 b=2 c=1 (n=6); bigrams: (a,b)=2 (b,a)=1 (a,c)=1 (n=4)
    def pmi(np: Long, ca: Long, cb: Long): Double =
      math.rint(math.log(np.toDouble * 6 * 6 / (4.0 * ca * cb)) * 1e6) / 1e6
    assert(got == Map(
      ("a", "b") -> (2L, pmi(2, 3, 2)),
      ("b", "a") -> (1L, pmi(1, 2, 3)),
      ("a", "c") -> (1L, pmi(1, 3, 1))))
  }

  test("twap weights by holding time, not sample count") {
    import spark.implicits._
    // key 1: 10 held for 3 units then 0 held for 1 unit -> 7.5;
    // the final sample (ts=4) holds for zero time and must not count.
    // key 2: constant signal sampled unevenly -> the constant.
    val evs = Seq(
      (1L, 0L, 10.0, 100L), (1L, 3L, 0.0, 101L), (1L, 4L, 99.0, 102L),
      (2L, 0L, 5.0, 200L), (2L, 1L, 5.0, 201L), (2L, 9L, 5.0, 202L)
    ).toDF("user_id", "ts", "value", "event_id")
    val got = EventsOps.twap(evs, "user_id", "ts", "value", "event_id")
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 7.5, 4L, 2L), (2L, 5.0, 9L, 2L)))
  }

  test("module query maps never shadow each other (Map ++ overwrites silently)") {
    val modules: Seq[(String, Set[String])] = Seq(
      "Relational" -> Relational.queries.keySet,
      "Functions" -> Functions.queries.keySet,
      "Analytics" -> Analytics.queries.keySet,
      "EventsOps" -> EventsOps.queries.keySet,
      "Dedup" -> Dedup.queries.keySet,
      "TextAnalysis" -> TextAnalysis.queries.keySet,
      "Similarity" -> Similarity.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet,
      "Extensions" -> Extensions.queries.keySet,
      "RangeJoin" -> RangeJoin.queries.keySet,
      "Corpus" -> Corpus.queries.keySet,
      "BpeTokenizer" -> BpeTokenizer.queries.keySet,
      "Selection" -> Selection.queries.keySet,
      "Eval" -> Eval.queries.keySet,
      "ConfigPipeline" -> ConfigPipeline.queries.keySet)
    val total = modules.map(_._2.size).sum
    assert(total == graft.SparkEntry.queries.size,
      s"key collision: modules declare $total keys, merged map has ${graft.SparkEntry.queries.size}")
  }

  test("q173 MMR selection matches the brute-force greedy on collected vectors") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val vecs = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val lambda = 0.7
    val q = vecs(0L)
    val rel = vecs.view.filterKeys(_ != 0L)
      .map { case (id, v) => id -> cos(q, v) }.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (picked.size < 10) {
      val best = rel.keysIterator.filterNot(picked.contains).map { id =>
        val msim =
          if (picked.isEmpty) 0.0
          else picked.map(s => cos(vecs(id), vecs(s))).max
        val mmr = if (picked.isEmpty) rel(id) * lambda
                  else rel(id) * lambda - msim * (1 - lambda)
        (id, mmr)
      }.minBy { case (id, m) => (-m, id) }
      picked += best._1
    }
    val got = graft.SparkEntry.queries("q173_mmr_select")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .collect().map(_.getLong(1)).toSeq
    assert(got == picked.toSeq, s"got $got expected $picked")
  }

  test("q184 k-center selection matches the brute-force farthest-point traversal") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val vecs = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer[Long](vecs.keys.min)
    while (picked.size < 10) {
      val best = vecs.keysIterator.filterNot(picked.contains).map { id =>
        id -> (1.0 - picked.map(s => cos(vecs(id), vecs(s))).max)
      }.minBy { case (id, d) => (-d, id) }
      picked += best._1
    }
    val got = graft.SparkEntry.queries("q184_kcenter")(spark, sf)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .collect().map(_.getLong(1)).toSeq
    assert(got == picked.toSeq, s"got $got expected $picked")
  }

  test("multimodal stub decode (the audio/video fake path) stays deterministic on the bytes") {
    val meta = Multimodal.decodeMedia(spark, Multimodal.fakeMediaTable(spark, sf))
      .collect().sortBy(_.doc_id)
    assert(meta.nonEmpty)
    meta.take(5).foreach { m =>
      assert(m.width == 64 + m.n_bytes % 64)
      assert(m.height == 64 + (m.n_bytes / 64) % 64)
      assert(m.n_frames == m.n_bytes % 10)
      assert(m.digest.length == 32)
    }
  }

  test("real image decode recovers pixel dimensions and formats from actual bytes (javax.imageio)") {
    import spark.implicits._
    // PNG and JPEG payloads with known dims, plus a non-image row
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val media = Seq(
      (1L, Multimodal.makePng(1L, 20, 30)),
      (2L, jpeg(17, 5)),
      (3L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val got = Multimodal.decodeImages(spark, media).collect()
      .map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    assert(got(1L) == ((20, 30, "png")))
    assert(got(2L)._1 == 17 && got(2L)._2 == 5 &&
      (got(2L)._3 == "jpeg" || got(2L)._3 == "jpg"))
    assert(got(3L) == ((-1, -1, "unknown")))
  }

  test("wav decode: chunk walker honors extra chunks and word alignment; " +
      "malformed bytes degrade to a -1 row, never a thrown task") {
    import spark.implicits._
    // a WAV with a 3-byte LIST chunk BEFORE data (word-aligned to 4) —
    // a fixed-offset parser would misread fmt/data here
    val base = Multimodal.makeWav(5L)
    val bb = java.nio.ByteBuffer.allocate(base.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(base, 0, 36) // RIFF header + fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3, 0)) // 3-byte chunk + pad byte
    bb.put(base, 36, base.length - 36) // data chunk
    val padded = bb.array()
    // fix the RIFF size field for the inserted chunk
    val fixed = padded.clone()
    java.nio.ByteBuffer.wrap(fixed).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, padded.length - 8)
    val media = Seq(
      (5L, Multimodal.makeWav(5L)),
      (6L, fixed),
      (7L, "not riff at all".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val got = Multimodal.decodeWav(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    // id 5: rate 12000 (5%4=1), channels 2, frames 69
    assert(got(5L).sample_rate == 12000 && got(5L).channels == 2 &&
      got(5L).n_frames == 69L)
    assert(got(6L).sample_rate == 12000 && got(6L).n_frames == 69L &&
      got(6L).energy == got(5L).energy,
      "an interleaved LIST chunk must not shift the data parse")
    assert(got(7L).sample_rate == -1 && got(7L).energy == -1L,
      "garbage degrades, never throws")
  }

  test("avi decode: header/walk/index must AGREE; a lying header, a " +
      "corrupted index, and garbage all degrade to a -1 row") {
    import spark.implicits._
    val base = Multimodal.makeAvi(9L)
    // id 9: width 16*(1+9%8)=32, height 16*(1+9%6)=64, fps 10+9%21=19,
    // frames 4+9%12=13
    // corrupt the avih dwTotalFrames (offset: 12 RIFF + 12 LIST/hdrl +
    // 8 avih hdr + 16 = 48) — header now disagrees with the movi walk
    val lyingHeader = base.clone()
    java.nio.ByteBuffer.wrap(lyingHeader)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(48, 99)
    // corrupt the FIRST idx1 entry's size field so the index disagrees
    // with the walked chunk
    val badIndex = base.clone()
    val idxPos = {
      var p = 12; var found = -1
      val bb = java.nio.ByteBuffer.wrap(base)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (found < 0 && p + 8 <= base.length) {
        if (new String(base, p, 4, "US-ASCII") == "idx1") found = p
        else { val sz = bb.getInt(p + 4); p += 8 + sz + (sz & 1) }
      }
      found
    }
    assert(idxPos > 0, "fixture has an idx1 chunk")
    java.nio.ByteBuffer.wrap(badIndex)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(idxPos + 8 + 12, 1)
    // a NEGATIVE chunk size would stall the walk (step <= 0) — must
    // degrade like any other malformed input, not spin the task
    val negSize = base.clone()
    java.nio.ByteBuffer.wrap(negSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(16, -8)
    val media = Seq(
      (9L, base),
      (10L, lyingHeader),
      (11L, badIndex),
      (12L, "not an avi".getBytes("UTF-8")),
      (13L, negSize)
    ).toDF("doc_id", "payload")
    val got = Multimodal.decodeAvi(spark, media).collect()
      .map(m => m.doc_id -> m).toMap
    assert(got(9L).width == 32L && got(9L).height == 64L &&
      got(9L).fps == 19L && got(9L).n_frames == 13L)
    assert(got(9L).total_frame_bytes ==
      (0 until 13).map(i => 16 + (9L * 31 + i * 7) % 48).sum)
    assert(got(10L).width == -1L,
      "header/walk frame-count mismatch degrades")
    assert(got(11L).width == -1L, "index/walk disagreement degrades")
    assert(got(12L).width == -1L, "garbage degrades, never throws")
    assert(got(13L).width == -1L,
      "a negative chunk size degrades instead of stalling the walk")
  }

  test("real resize: a black/white checkerboard downscales to mid-gray; dims honor the contract") {
    import spark.implicits._
    // 2x2 checkerboard: two black, two white pixels
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 1, 0xffffff)
    img.setRGB(1, 0, 0x000000); img.setRGB(0, 1, 0x000000)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val r = Multimodal.resizeImages(spark,
      Seq((1L, out.toByteArray)).toDF("doc_id", "payload"), 1, 1)
      .collect().head
    assert(r.getInt(1) == 2 && r.getInt(2) == 2)
    val thumb = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](3)))
    assert(thumb.getWidth == 1 && thumb.getHeight == 1)
    val gray = thumb.getRGB(0, 0) & 0xff
    assert(gray > 32 && gray < 224,
      s"2x2 checkerboard must average toward mid-gray, got $gray")
  }

  test("simhash library default is 32 bits and banded pairing matches brute force at that width") {
    import org.apache.spark.sql.functions._
    graft.functions.Registry.install(spark)
    val docs = graft.Tables.load(spark, sf, "documents")
    val sh = Dedup.simhash(docs, "doc_id", "text") // library default: 32 bits
    assert(sh.select(length(col("simhash"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(32),
      "default signature width must be 32 (SCALING.md: 16-bit saturates at ~20k docs)")
    val banded = Dedup.simhashBandedPairs(sh, maxDist = 2) // default bits = 32
      .select("doc_a", "doc_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force all-pairs hamming on the same 32-bit signatures
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", expr("hamming_distance(sa, sb)"))
      .filter(col("dist") <= 2)
      .select("doc_a", "doc_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"banded 32-bit pairing diverged from brute force: ${banded.diff(brute)} / ${brute.diff(banded)}")
  }

  test("range join: [start, end) boundaries, bin-straddling intervals, empty intervals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val points = Seq(0L, 9L, 10L, 15L, 19L, 20L, 25L, 99L).toDF("p")
    val intervals = Seq(
      (1L, 10L, 20L),  // matches 10,15,19 — not 9 (below) nor 20 (exclusive end)
      (2L, 5L, 35L),   // straddles 4 bins at width 10: 9,10,15,19,20,25
      (3L, 22L, 22L),  // empty [s, e) with s == e — matches nothing
      (4L, 90L, 100L)  // matches 99
    ).toDF("iv_id", "s", "e")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", binWidth = 10L)
      .select("iv_id", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 10L), (1L, 15L), (1L, 19L),
      (2L, 9L), (2L, 10L), (2L, 15L), (2L, 19L), (2L, 20L), (2L, 25L),
      (4L, 99L))
    assert(got == want, s"missing=${want.diff(got)} extra=${got.diff(want)}")
  }

  test("range join bins exactly above 2^53 (ns-epoch scale, where double division rounds)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ~2026 in ns epochs (~1.77e18): pick points exactly ON bin boundaries,
    // where floor(x / w) computed in Double can land one bin off. The exact
    // predicate only removes false candidates, so a mis-binned true pair is
    // silently dropped — this test fails with the floor(/) formulation.
    val w = 86400L * 1000000000L // 1-day bins in ns
    val base = 1770000000000000000L - (1770000000000000000L % w) // bin-aligned
    val points = Seq(base, base + 1L, base + w - 1L, base + w, base - 1L).toDF("p")
    val intervals = Seq((10L, base, base + w), (20L, base + w, base + 2 * w)).toDF("iv", "s", "e")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "s", "e", binWidth = w)
      .select("iv", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((10L, base), (10L, base + 1L), (10L, base + w - 1L), (20L, base + w))
    assert(got == want, s"missing=${want.diff(got)} extra=${got.diff(want)}")
  }

  test("range join agrees with the naive theta-join on real data (sf0.001)") {
    import org.apache.spark.sql.functions._
    val lineitem = graft.Tables.load(spark, sf, "lineitem")
      .select(unix_timestamp(col("l_shipdate")).as("ship_s"))
    val orders = graft.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("s"),
        (unix_timestamp(col("o_orderdate")) + 86400L * 7).as("e"))
    val binned = RangeJoin.pointInInterval(lineitem, "ship_s", orders, "s", "e", 86400L)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = lineitem.join(orders,
        col("ship_s") >= col("s") && col("ship_s") < col("e"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(binned == naive && binned.nonEmpty)
  }

  test("row-local signatures equal the exploded groupBy formulation (seeded random docs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the zero-shuffle rewrite must be bit-identical to the reference
    // shape (explode -> groupBy) it replaced, on adversarial docs:
    // repeats, single-word, hash-collisions-by-prefix
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "the", "data", "spark", "x1", "zz")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    // simhash: exploded ±1 vote sums (the oracle's shape)
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val bitCols = (1 to 16).map { j =>
      when(sum(when(substring(md5(col("w")), j, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)) > 0, "1")
        .otherwise("0").as(s"b$j")
    }
    val exploded = words.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), concat((1 to 16).map(j => col(s"b$j")): _*).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rowLocal = Dedup.simhash(docs, "doc_id", "text", bits = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rowLocal == exploded)
    // minhash: row-local array_min folds vs exploded distinct+groupBy(min)
    val w3 = docs.filter(size(split(col("text"), " ")) >= 3)
    val sh = w3.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), i -> concat_ws(' ', " +
          "element_at(split(text, ' '), i), element_at(split(text, ' '), i + 1), " +
          "element_at(split(text, ' '), i + 2)))")).as("s"))
      .distinct()
    val refMinCols = (0 until 8).map(seed =>
      min(md5(concat(lit(s"$seed:"), col("s")))).as(s"m$seed"))
    val refMins = sh.groupBy("doc_id")
      .agg(refMinCols.head, refMinCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString).toSeq).toMap
    val gotPairs = Dedup.minhashPairs(docs, "doc_id", "text")
    // pairs derive from signatures; equality of the signature layer is
    // checked through the band-collision sets being identical
    val refBands = refMins.toSeq.flatMap { case (id, ms) =>
      ms.grouped(2).zipWithIndex.map { case (band, bi) =>
        (bi, band.sorted.mkString("|"), id)
      }
    }
    val refPairs = refBands.groupBy(t => (t._1, t._2)).values
      .flatMap(g => for (a <- g; b <- g if a._3 < b._3) yield (a._3, b._3)).toSet
    val got = gotPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == refPairs, s"missing=${refPairs.diff(got)} extra=${got.diff(refPairs)}")
  }

  test("connected components: chains collapse, islands stay apart, non-convergence throws") {
    import spark.implicits._
    // a~b, b~c, c~d is one cluster (even though a~d was never a candidate
    // pair); e~f is another; g is absent (no pairs -> no row)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // BOTH paths must agree: driver union-find (small graphs) and the
    // distributed propagation loop (driverThreshold = 0 forces it)
    val viaDriver = Corpus.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCluster = Corpus.connectedComponents(pairs, "doc_a", "doc_b",
        driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == want && viaCluster == want)
    // label propagation needs O(diameter) rounds; a capped DISTRIBUTED
    // run must throw, never return partially-propagated labels
    intercept[IllegalStateException] {
      Corpus.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
          .toDF("doc_a", "doc_b"), "doc_a", "doc_b",
        maxIter = 1, driverThreshold = 0).collect()
    }
    // driver path survives a deep chain (iterative find, no stack limit)
    val chain = (0L until 5000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val deep = Corpus.connectedComponents(chain, "doc_a", "doc_b")
      .agg(org.apache.spark.sql.functions.countDistinct("cluster")).collect()(0).getLong(0)
    assert(deep == 1L)
  }

  test("sequence packing equals the single-window formulation and is partition-invariant") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
    def asTuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val packed = asTuples(Corpus.packSequences(docs, "doc_id", "text", 128L))
    // oracle shape: one global ordered window (fine at test scale)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id").rowsBetween(Long.MinValue, -1)
    val windowed = asTuples(docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .select(col("doc_id"), col("n"),
        coalesce(sum(col("n")).over(w), lit(0L)).as("start"))
      .select(col("doc_id"), col("n"), col("start"),
        expr("start div 128").as("seq")))
    assert(packed == windowed)
    // offsets are a property of the DATA (id order), not the partitioning
    val repacked = asTuples(Corpus.packSequences(
      docs.repartition(7, col("source")), "doc_id", "text", 128L))
    assert(repacked == packed, "partitioning leaked into pack offsets")
  }

  test("token chunks overlap correctly and cover every token") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 50).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = Corpus.tokenChunks(doc, "doc_id", "text", window = 32, stride = 24)
      .orderBy("chunk_idx").collect()
    assert(chunks.length == 3) // starts at tokens 1, 25, 49
    val texts = chunks.map(_.getString(2))
    assert(texts(0).startsWith("t1 ") && texts(0).endsWith(" t32"))
    assert(texts(1).startsWith("t25 ") && texts(1).endsWith(" t50")) // clamped to 26 tokens
    assert(texts(2) == "t49 t50")
    assert(chunks.map(_.getLong(3)).toSeq == Seq(32L, 26L, 2L))
  }

  test("cross-doc repeats count positions, not distinct n-grams, and ignore within-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e x y z w v"),     // 'a b c d e' shared with doc 2
      (2L, "q r a b c d e s t u"),
      (3L, "a b c d e f a b c d e f"), // repeats 'a b c d e' TWICE (positions 1 and 7)
      (4L, "m n o p q r s t")          // nothing shared
    ).toDF("doc_id", "text")
    val got = Corpus.crossDocRepeats(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 3: 8 positions; cross-doc-repeated 5-grams at positions 1 and 7
    // ('a b c d e' twice) plus 'b c d e f'? no — that 5-gram exists only
    // in doc 3, and within-doc repetition alone must NOT mark it
    assert(got == Map(1L -> (6L, 1L), 2L -> (6L, 1L), 3L -> (8L, 2L)),
      s"got $got") // doc 4 has no repeated positions -> no row
  }

  test("corpus operators tolerate an empty corpus (a filtered-out partition must not throw)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents").filter(col("doc_id") < 0)
    assert(Corpus.packSequences(docs, "doc_id", "text", 128L).count() == 0)
    assert(Corpus.repetitionQuality(docs, "doc_id", "text").count() == 0)
    assert(Corpus.bm25(docs, "doc_id", "text", Seq("spark")).count() == 0)
    assert(Corpus.lmQuality(docs, "doc_id", "text").count() == 0)
    assert(Corpus.stratifiedSample(docs, "doc_id", "lang", Map(), "80").count() == 0)
    assert(Corpus.capPerSource(docs, "doc_id", "source", 3).count() == 0)
    assert(Corpus.tokenChunks(docs, "doc_id", "text", 32, 24).count() == 0)
    assert(Corpus.mixtureSample(docs, "doc_id", "text", "source",
      Map(), 1.0, 0.4).count() == 0)
    assert(Corpus.crossDocRepeats(docs, "doc_id", "text").count() == 0)
    assert(Corpus.connectedComponents(
      docs.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")),
      "doc_a", "doc_b").count() == 0)
    assert(Corpus.dedupSurvivors(docs, "doc_id",
      docs.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b")),
      "doc_a", "doc_b").count() == 0)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark set") {
    import spark.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val training = Seq(
      (100L, "prefix words the quick brown fox jumps elsewhere"), // shares a 5-gram
      (101L, "quick brown fox leaps high instead of jumping"),    // 4-gram overlap only
      (102L, "completely unrelated text with no shared phrases at all"),
      // shares 3 benchmark 5-grams: 'fox jumps over the lazy',
      // 'jumps over the lazy dog', 'the quick brown fox jumps'
      (103L, "fox jumps over the lazy dog tail the quick brown fox jumps")
    ).toDF("doc_id", "text")
    val got = Corpus.decontaminate(training, bench, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((100L, 1L, 1L), (103L, 3L, 1L)), s"got $got")
  }

  test("per-source cap keeps at most K docs per source, deterministically") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val capped = Corpus.capPerSource(docs, "doc_id", "source", cap = 3)
    val bySource = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(bySource.nonEmpty && bySource.forall(_._2 <= 3))
    val again = Corpus.capPerSource(docs, "doc_id", "source", cap = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == capped.select("doc_id").collect().map(_.getLong(0)).toSet,
      "survivor set must be content-addressed, not run-dependent")
  }

  test("persisted IVF index: full probe equals brute force; probing prunes cell partitions") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val dir = tempDir("graft_ivf").toString
    try {
      Similarity.buildIvfIndex(emb, nList = 4, dir)
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding"))
      def tuples(df: org.apache.spark.sql.DataFrame) = df
        .orderBy("qid", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      // probing every cell of the persisted index = exact brute force
      assert(tuples(Similarity.probeIvfIndex(queries, dir, k = 5, nProbe = 4))
        == tuples(Similarity.bruteForceKnn(emb, nQueries = 3, k = 5)))
      // partial probe reads ONLY the probed cells' directories: the cell
      // filter must reach the scan as a partition filter (pruning, not a
      // post-scan row filter)
      val partial = Similarity.probeIvfIndex(queries, dir, k = 5, nProbe = 1)
      val plan = partial.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
        "probe scan lost partition pruning:\n" +
          plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
      assert(partial.count() > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("training shards land partitioned by shard with complete, ordered content") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
    val dir = tempDir("graft_shards").toString
    try {
      Corpus.writeShards(docs, "doc_id", "text", seqLen = 128L, seqsPerShard = 4L, dir)
      val back = spark.read.parquet(dir)
      val packed = Corpus.packSequences(docs, "doc_id", "text", 128L)
      assert(back.count() == packed.count(), "shards lost or duplicated docs")
      // every sequence sits in exactly the shard its id maps to
      val misplaced = back
        .filter(expr("seq_id div 4") =!= col("shard_id")).count()
      assert(misplaced == 0)
      // one file per shard (repartition(shard) + partitionBy writes a
      // single sorted file per directory)
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard_id="))
      assert(shardDirs.nonEmpty && shardDirs.forall(
        _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("mixture sampling tracks weighted token targets and caps at full sources") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val totalTok = docs.select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val mixed = Corpus.mixtureSample(docs, "doc_id", "text", "source",
      Map("src0" -> 3.0, "src1" -> 2.0), defaultWeight = 1.0, budgetFrac = 0.4)
    val gotTok = mixed.select(sum(col("n_tokens"))).collect()(0).getLong(0)
    // overall budget: 40% of corpus tokens, within md5-quantization slack
    assert(math.abs(gotTok.toDouble / totalTok - 0.4) < 0.08,
      s"token share ${gotTok.toDouble / totalTok} far from 0.4")
    // upweighted sources keep a larger fraction of their own tokens
    val keptFrac = mixed.groupBy("source").agg(sum("n_tokens").as("kept"))
      .join(docs.withColumn("nt", size(split(col("text"), " ")))
        .groupBy("source").agg(sum("nt").as("all")), "source")
      .select(col("source"), col("kept").cast("double") / col("all"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val restAvg = keptFrac.filterKeys(k => k != "src0" && k != "src1").values
    assert(keptFrac("src0") > restAvg.max * 1.5,
      s"src0 (3x weight) not upweighted: $keptFrac")
    assert(keptFrac("src1") > restAvg.max * 1.1,
      s"src1 (2x weight) not upweighted: $keptFrac")
  }

  test("stratified sample is deterministic and tracks per-stratum rates") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val s1 = Corpus.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> "40"), defaultThreshold = "ff")
    val ids = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == s1.select("doc_id").collect().map(_.getLong(0)).toSet) // stable re-run
    // en stratum: ~25% of en docs survive (md5 first byte < 0x40)
    val en = docs.filter("lang = 'en'").count().toDouble
    val enKept = s1.filter("lang = 'en'").count().toDouble
    assert(enKept / en > 0.15 && enKept / en < 0.35, s"en rate ${enKept / en}")
    // non-en strata at 'ff' keep everything except the 1/256 md5-'ff' tail
    val others = docs.filter("lang <> 'en'").count()
    assert(s1.filter("lang <> 'en'").count() >= others - 5)
  }

  test("pii redaction: URLs first, then emails, then phones; counts audit the source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      "visit https://docs.site.org/page mail joe1@acme.com or call 555-0199 and 555-12345"
    ).toDF("t").select(
      TextAnalysis.redactPii(col("t")).as("clean"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.UrlRe).as("n_urls"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.EmailRe).as("n_emails"),
      TextAnalysis.piiCount(col("t"), TextAnalysis.PhoneRe).as("n_phones"))
    val r = df.collect().head
    // 555-12345 redacts its first 8 chars (the pattern is 4 digits), leaving the 5
    assert(r.getString(0) == "visit [URL] mail [EMAIL] or call [PHONE] and [PHONE]5",
      r.getString(0))
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 2L)))
  }

  test("minhash finds high-jaccard pairs and dedup_exact groups are consistent") {
    val pairs = Dedup.minhashPairs(graft.Tables.load(spark, sf, "documents"), "doc_id", "text")
    assert(pairs.count() >= 0) // shape check: columns + no self-pairs
    assert(pairs.columns.toSeq == Seq("doc_a", "doc_b"))
    assert(pairs.filter("doc_a >= doc_b").count() == 0)
  }

  test("knn returns k neighbors per query with cosine in [-1, 1]") {
    val k = Similarity.bruteForceKnn(graft.Tables.load(spark, sf, "embeddings"), 3, 4)
    val rows = k.collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 4))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.000001))
  }

  test("containment catches subset duplication that symmetric jaccard misses") {
    import spark.implicits._
    // doc 2 is a 6-word quote lifted verbatim from the middle of doc 1
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (10 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, quote), (3L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(cont.toSeq == Seq((1L, 2L, 0.142857, 1.0)),
      "the quoted side must be fully contained (cont_b = 1.0)")
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5).count() == 0,
      "symmetric jaccard (4/28 shared) must NOT flag the quote pair")
  }

  test("edit-distance confirm keeps near-identical candidates, drops divergent ones") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val oneOff = (1 to 19).map(i => s"w$i").mkString(" ") + " zz"
    // shares enough shingles with base to become an LSH candidate, but
    // diverges over a long suffix -> high relative edit distance
    val drifted = (1 to 12).map(i => s"w$i").mkString(" ") +
      " aa bb cc dd ee ff gg hh"
    val docs = Seq((1L, base), (2L, oneOff), (3L, drifted)).toDF("doc_id", "text")
    val cand = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), "one-word edit must be an LSH candidate")
    val confirmed = Dedup.editDistanceConfirm(docs, "doc_id", "text", maxRel = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // base/oneOff differ by one 3-char token swap ("w20" -> "zz"): dist 3
    assert(confirmed.contains((1L, 2L, 3)))
    assert(!confirmed.exists(c => c._2 == 3L || c._1 == 3L),
      "the drifted doc must fail the relative-distance confirmation")
  }

  test("tfidf: corpus-wide words score zero, distinctive words rank first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the zebra the the"),
      (2L, "the lion"),
      (3L, "the lion cat")).toDF("doc_id", "text")
    val kw = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val byDoc = kw.groupBy(_._1)
    assert(byDoc(1L).find(_._4 == 1).get._2 == "zebra",
      "the unique word must outrank the corpus-wide 'the'")
    // 'the' appears in every doc: ln(3/3) = 0 exactly
    assert(kw.filter(_._2 == "the").forall(_._3 == 0.0))
    // 'lion' in 2 of 3 docs: tf=1 -> ln(1.5)
    val lion = byDoc(2L).find(_._2 == "lion").get._3
    assert(math.abs(lion - math.log(1.5)) < 1e-6)
  }

  test("hashed features preserve totals and stay inside the bucket range") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a a a b")).toDF("doc_id", "text")
    val f = TextAnalysis.hashedFeatures(docs, "doc_id", "text", dims = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(f.forall(r => r._2 >= 0 && r._2 < 4))
    val totals = f.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(totals == Map(1L -> 8L, 2L -> 4L),
      "bucket counts must partition the word multiset exactly")
    // same word, same bucket: doc 2's three 'a's land together
    assert(f.filter(_._1 == 2L).map(_._3).sorted.toSeq == Seq(1L, 3L))
  }

  test("BPE train matches an independent reference implementation; encode round-trips") {
    import spark.implicits._
    // the classic Sennrich corpus shape: low*5 lower*2 newest*6 widest*3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")

    // independent single-node reference (lists + maps, recursive merge —
    // shares NO code with the operator under test)
    def rmerge(s: List[String], l: String, r: String): List[String] = s match {
      case a :: b :: rest if a == l && b == r => (a + b) :: rmerge(rest, l, r)
      case a :: rest => a :: rmerge(rest, l, r)
      case Nil => Nil
    }
    def refTrain(numMerges: Int, minFreq: Long): List[(Int, String, String, Long)] = {
      var types: Map[List[String], Long] = text.split(" ").toSeq
        .groupBy(identity).map { case (w, ws) =>
          val cs = w.map(_.toString).toList
          (cs.init :+ (cs.last + "</w>")) -> ws.size.toLong
        }
      var out = List.empty[(Int, String, String, Long)]
      var rank = 0
      var stop = false
      while (rank < numMerges && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- types; Seq(a, b) <- syms.sliding(2))
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f
        val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
        best match {
          case Some(((l, r), c)) if c >= minFreq =>
            out :+= ((rank, l, r, c))
            types = types.map { case (syms, f) => rmerge(syms, l, r) -> f }
            rank += 1
          case _ => stop = true
        }
      }
      out
    }

    val expected = refTrain(numMerges = 50, minFreq = 2)
    val got = BpeTokenizer.train(docs, "text", numMerges = 50, minFreq = 2)
      .map(m => (m.rank, m.left, m.right, m.freq))
    assert(got.toList == expected,
      "trainer (driver fast path) must learn the exact reference merge table")
    // threshold 0 forces the distributed per-iteration dataflow — it must
    // learn merge-for-merge the same table as the driver fast path
    val distributed = BpeTokenizer
      .train(docs, "text", numMerges = 50, minFreq = 2, localTypeThreshold = 0L)
      .map(m => (m.rank, m.left, m.right, m.freq))
    assert(distributed.toList == expected,
      "distributed loop must match the driver fast path merge-for-merge")
    assert(expected.nonEmpty && expected.size < 50,
      "the corpus must exhaust mergeable pairs before the cap (early stop path)")

    // encode parity + round-trip through the fused codegen expression
    val merges = got.map(g => BpeTokenizer.Merge(g._1, g._2, g._3, g._4))
    val toks = BpeTokenizer.tokenize(docs, "doc_id", "text", merges)
      .collect().head.getAs[scala.collection.Seq[String]]("tokens")
    def refEncode(w: String): List[String] = {
      val cs = w.map(_.toString).toList
      merges.foldLeft(cs.init :+ (cs.last + "</w>")) {
        case (syms, m) => rmerge(syms, m.left, m.right)
      }
    }
    val expectedToks = text.split(" ").toList.flatMap(refEncode)
    assert(toks.toList == expectedToks,
      "fused bpe_encode must equal merge-by-merge reference encoding")
    assert(toks.mkString.replace("</w>", " ").trim == text,
      "token concatenation must reproduce the original text")
    // the most frequent word fuses to a single token at this merge depth
    assert(toks.contains("newest</w>"))

    // id encoding: base alphabet ids 0..B-1 (sorted), merges at B+rank;
    // every emitted id decodes back to the emitted token (total lookup)
    val vocab = BpeTokenizer.vocab(docs, "text", merges)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val baseCount = vocab.count(_._3 == -1)
    assert(vocab.filter(_._3 >= 0).map(_._2).toSeq ==
      (baseCount until vocab.length).map(_.toLong),
      "merged ids must be contiguous after the base alphabet")
    val byId = vocab.map(v => v._2 -> v._1).toMap
    val ids = BpeTokenizer.encodeIds(docs, "doc_id", "text", merges)
      .collect().head.getAs[scala.collection.Seq[Long]]("ids")
    assert(!ids.contains(null), "vocab lookup must be total")
    assert(ids.map(byId).toList == toks.toList,
      "ids must decode back to the token stream")
  }

  test("quantile band filter: approx scale path tracks the exact window path") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val score = size(split(col("text"), " ")).cast("long")
    def rows(exact: Boolean) =
      Corpus.quantileBandFilter(docs, "lang", score, 0.10, 0.90, exact = exact)
        .select("doc_id", "__score").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (ex, ap) = (rows(exact = true), rows(exact = false))
    // value-thresholding vs rank-banding differ ONLY where a tie group
    // straddles a band edge; at accuracy=10000 on ~6k docs the sketch is
    // exact, so every diverging row's score must equal a band-edge value
    val edges = docs.withColumn("__score", score)
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.percentile_approx(
        col("__score"), array(lit(0.10), lit(0.90)), lit(10000)).as("t"))
      .collect().flatMap(_.getAs[scala.collection.Seq[Long]]("t")).toSet
    val diverging = (ex.keySet | ap.keySet) -- (ex.keySet & ap.keySet)
    assert(diverging.nonEmpty || ex == ap) // sanity: maps agree when no divergence
    diverging.foreach { id =>
      val s = ex.getOrElse(id, ap(id))
      assert(edges.contains(s),
        s"doc $id (score=$s) diverged but is not at a band edge $edges")
    }
    // and the overlap still dominates: edges are a sliver of the corpus
    assert((ex.keySet & ap.keySet).size.toDouble / (ex.keySet | ap.keySet).size > 0.9)
    // scale-path plan shape: thresholds broadcast back, no window sort
    val plan = Corpus.quantileBandFilter(docs, "lang", score, 0.10, 0.90)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "thresholds must broadcast")
    assert(!plan.contains("Window"), "scale path must not run a window sort")
    // a null group is a group: the approx path's threshold join must
    // keep its rows like the exact path's window does
    val withNullGroup = docs.withColumn("lang",
      when(col("doc_id") % 5 === 0, lit(null: String)).otherwise(col("lang")))
    val (exN, apN) = (
      Corpus.quantileBandFilter(withNullGroup, "lang", score, 0.10, 0.90,
        exact = true).count(),
      Corpus.quantileBandFilter(withNullGroup, "lang", score, 0.10, 0.90).count())
    assert(apN > 0 && math.abs(exN - apN) < exN * 0.1,
      s"null-group rows must survive both paths (exact=$exN approx=$apN)")
  }

  test("deterministic shuffle is a reproducible, seed-sensitive permutation") {
    val docs = graft.Tables.load(spark, sf, "documents")
    def order(seed: Long) =
      Corpus.deterministicShuffle(docs, "doc_id", seed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val o1 = order(42L)
    assert(o1.values.toSeq.sorted == (0L until o1.size).toList,
      "positions must be a contiguous permutation 0..n-1")
    assert(o1 == order(42L), "same seed must reproduce the exact order")
    val o2 = order(43L)
    assert(o1 != o2, "a different seed must reshuffle")
    assert(o1.keySet == o2.keySet, "reshuffling must not drop documents")
  }

  test("incremental dedup drops a planted near-duplicate and only that") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") < 100)
    val index = Dedup.bandSignatures(corpus, "doc_id", "text")
    // batch: one verbatim copy of corpus doc 7 + one genuinely new doc
    val copied = corpus.filter(col("doc_id") === 7)
      .select(lit(9001L).as("doc_id"), col("text"))
    val fresh = Seq((9002L, "completely novel words zq xv kj pw mn rt"))
      .toDF("doc_id", "text")
    val survivors = Dedup.incrementalDedup(copied.union(fresh), index,
      "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(9002L),
      s"the verbatim copy must collide into the index, the novel doc must survive: $survivors")
    // scale shape: batch signatures broadcast; the index side never shuffles
    val plan = Dedup.incrementalDedup(copied.union(fresh), index, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "batch side must broadcast")
  }

  test("split assignment is growth-stable and lands near the target fractions") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val bands = Seq("train" -> 0.90, "val" -> 0.95, "test" -> 1.0)
    def assigned(df: org.apache.spark.sql.DataFrame) =
      Corpus.assignSplits(df, "doc_id", bands)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = assigned(docs)
    val sub = assigned(docs.filter(col("doc_id") % 2 === 0))
    assert(sub.forall { case (id, s) => full(id) == s },
      "a grown corpus must never move an existing doc between splits")
    val trainFrac = full.values.count(_ == "train").toDouble / full.size
    assert(math.abs(trainFrac - 0.90) < 0.03, s"train fraction drifted: $trainFrac")
    assert(full.values.toSet == Set("train", "val", "test"))
    // leakage guard: keying the hash by source pins every doc of a
    // domain to one split — within-domain near-dups can't straddle
    // train/heldout
    val bySource = Corpus.assignSplits(docs, "source", Seq("train" -> 0.8, "heldout" -> 1.0))
      .select("source", "split").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val splitsPerSource = bySource.groupBy(_._1).values.map(_.map(_._2).distinct.length)
    assert(splitsPerSource.forall(_ == 1), "a source must map to exactly one split")
  }

  test("hilbert keys are a bijection with unit-step adjacency (bits=3)") {
    // the property the shared-expression oracle diff CANNOT check: an
    // algorithmic slip applied to both engines would pass the hash
    // compare, but not this — every d in [0,64) hit exactly once, and
    // consecutive d always grid-adjacent (|dx|+|dy| = 1, the Hilbert
    // property Morton/Z-order lacks at quadrant seams)
    import spark.implicits._
    val grid = (0 until 8).flatMap(x => (0 until 8).map(y => (x.toLong, y.toLong)))
      .toDF("u", "t")
    val keys = EventsOps.hilbertKeys(grid, "u", "t", bits = 3)
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(keys.map(_._1).toSeq == (0L until 64L).toSeq, "keys not a bijection onto [0,64)")
    keys.sliding(2).foreach { case Array((_, (x1, y1)), (d2, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"consecutive keys ${d2 - 1},$d2 not grid-adjacent: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("appendToIndex closes the loop: batch 2 collides with batch 1's survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val idx = tempDir("append_idx").toString + "/band_index"
    val docs = graft.Tables.load(spark, sf, "documents")
    val day0 = docs.filter(col("doc_id") < 100)
    // bootstrap and increment are the same call
    Dedup.appendToIndex(day0, idx, "doc_id", "text")
    def survivors(batch: org.apache.spark.sql.DataFrame): Set[Long] = {
      val s = Dedup.incrementalDedup(batch, spark.read.parquet(idx), "doc_id", "text")
      val ids = s.select("doc_id").collect().map(_.getLong(0)).toSet
      Dedup.appendToIndex(s, idx, "doc_id", "text")
      ids
    }
    val novel1 = "quartz zebra lantern mossy fjord umbrella pickle brontide vex"
    val novel2 = "glacier thimble orbit paprika wysteria knoll dravite mist echo"
    // batch 1: a verbatim re-crawl of corpus doc 7 + one novel doc
    val batch1 = day0.filter(col("doc_id") === 7)
      .select(lit(9000L).as("doc_id"), col("text"))
      .union(Seq((9001L, novel1)).toDF("doc_id", "text"))
    assert(survivors(batch1) == Set(9001L),
      "the re-crawl collides with day 0; the novel doc survives")
    // batch 2: a copy of batch 1's SURVIVOR + a fresh novel doc — only
    // an appended index can catch the copy, day 0 never saw novel1
    val batch2 = Seq((9002L, novel1), (9003L, novel2)).toDF("doc_id", "text")
    assert(survivors(batch2) == Set(9003L),
      "batch 2's copy must collide with batch 1's appended survivor")
    // the index grew by accretion: day 0 docs + the two accepted survivors
    val indexed = spark.read.parquet(idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(indexed.contains(9001L) && indexed.contains(9003L) &&
      !indexed.contains(9000L) && !indexed.contains(9002L),
      "only accepted documents enter the index")
  }

  test("re-ingesting an already-indexed batch collides completely") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") < 100)
    val index = Dedup.bandSignatures(corpus, "doc_id", "text")
    assert(Dedup.incrementalDedup(corpus, index, "doc_id", "text").count() == 0,
      "every re-ingested doc must collide with its own index entry")
  }

  test("ingest lifecycle end-to-end: index -> increment -> splits -> epoch order -> shards") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("lifecycle").toString
    val docs = graft.Tables.load(spark, sf, "documents")
    val day0 = docs.filter(col("doc_id") < 400)
    // day-1 batch: the genuinely-new tail plus one re-crawled copy of a
    // day-0 document under a new id
    val day1 = docs.filter(col("doc_id") >= 400)
      .union(day0.filter(col("doc_id") === 3).withColumn("doc_id", lit(9100L)))
    Dedup.bandSignatures(day0, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/band_index")
    val survivors = Dedup.incrementalDedup(day1,
      spark.read.parquet(s"$tmp/band_index"), "doc_id", "text")
    val survivorIds = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!survivorIds.contains(9100L), "the re-crawl must collide with the index")
    val corpus = day0.union(survivors)
    val train = Corpus.assignSplits(corpus, "doc_id",
      Seq("train" -> 0.95, "heldout" -> 1.0)).filter(col("split") === "train")
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val order = Corpus.deterministicShuffle(train, "doc_id", seed = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(order.keySet == trainIds, "epoch order must cover exactly the train split")
    assert(order.values.toSeq.sorted == (0L until trainIds.size).toList)
    Corpus.writeShards(train, "doc_id", "text", seqLen = 128L,
      seqsPerShard = 16L, path = s"$tmp/shards")
    val shards = spark.read.parquet(s"$tmp/shards")
    assert(shards.count() == trainIds.size, "every train doc lands in a shard")
    assert(shards.select("shard_id").distinct().count() > 1,
      "the corpus must spread over multiple shards")
  }

  test("sequence boundary spans tile every sequence and reassemble every doc") {
    import org.apache.spark.sql.functions._
    val seqLen = 128L
    val docs = graft.Tables.load(spark, sf, "documents")
    val packed = Corpus.packSequences(docs, "doc_id", "text", seqLen)
    val spans = Corpus.sequenceBoundaries(packed, seqLen)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySeq = spans.groupBy(_._1)
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"seq $seq must start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"gap/overlap in seq $seq: $a -> $b")
        case _ => ()
      }
      if (seq != lastSeq)
        assert(sorted.last._4 == seqLen, s"seq $seq must fill to $seqLen")
    }
    val tokenTotals = packed.select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reassembled = spans.groupBy(_._2).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    assert(reassembled == tokenTotals,
      "per-doc span lengths must sum back to the doc's token count")
  }

  test("tokenize type-table fast path equals the memoized codegen path token-for-token") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val merges = BpeTokenizer.train(docs, "text", numMerges = 40)
    def toks(threshold: Long) =
      BpeTokenizer.tokenize(docs, "doc_id", "text", merges, threshold)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val fast = toks(200000L)
    val codegen = toks(0L) // forces the bpe_encode expression path
    assert(fast == codegen, "driver-encoded types must equal codegen encoding")
  }

  test("classifier training recovers the planted signal and separates the classes") {
    import spark.implicits._
    val dims = 1 << 12
    val rows = (0 until 40).map(i => (i.toLong, s"alpha beta spark gamma$i word$i", 1)) ++
      (40 until 80).map(i => (i.toLong, s"alpha beta sloww gamma$i word$i", 0))
    val df = rows.toDF("doc_id", "text", "label")
    val (model, featurize) =
      TextAnalysis.trainQualityClassifier(df, "text", "label", dims = dims, maxIter = 30)
    val scored = model.transform(featurize(df))
      .select("label", "probability").collect()
      .map(r => (r.getInt(0), r.getAs[org.apache.spark.ml.linalg.Vector](1)(1)))
    assert(scored.filter(_._1 == 1).map(_._2).min >
      scored.filter(_._1 == 0).map(_._2).max,
      "separable classes must separate completely")
    val tf = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(dims)
    val (goodB, badB) = (tf.indexOf("spark").toLong, tf.indexOf("sloww").toLong)
    val top = TextAnalysis.classifierTopCoefficients(model, spark, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(top.get(goodB).exists(_ > 0), s"planted good bucket $goodB must top positive: $top")
    assert(top.get(badB).exists(_ < 0), s"planted bad bucket $badB must top negative: $top")
  }

  test("triangle orientation path computes exactly the middle-vertex path's output") {
    import spark.implicits._
    // K4 on 0-3 (4 triangles), a pendant 3-4, plus hub 9 with a
    // triangle-free star — the hub case orientation exists for
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (9L, 10L), (9L, 11L), (9L, 12L), (9L, 13L))
      .toDF("doc_a", "doc_b")
    def rows(thr: Long) =
      Corpus.triangleStats(edges, "doc_a", "doc_b", orientThreshold = thr)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val simple = rows(Long.MaxValue) // middle-vertex join
    assert(simple == rows(0L), "oriented wedge join must match exactly")
    val byId = simple.map(t => t._1 -> t).toMap
    assert(byId(0L)._3 == 3 && byId(3L)._3 == 3, "K4 members sit in 3 triangles")
    assert(byId(9L)._3 == 0 && byId(9L)._2 == 4, "star hub: degree 4, no triangles")
  }

  test("deterministic GD training (q107 twin) recovers the planted signal and is partition-invariant") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (i.toLong, s"alpha beta spark gamma$i word$i")) ++
      (40 until 80).map(i => (i.toLong, s"alpha beta sloww gamma$i word$i"))
    val df = rows.toDF("doc_id", "text")
    def run(parts: Int): Seq[(Long, Double)] =
      TextAnalysis.logisticGdTrain(df.repartition(parts), "doc_id", "text",
          org.apache.spark.sql.functions.col("text").contains("spark"),
          dims = 64, iters = 8, lr = 0.5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val a = run(7)
    // DECIMAL sums make the trajectory layout-independent, exactly —
    // not just to rounding
    assert(a == run(13), "GD weights must be identical on any partitioning")
    val wm = a.toMap
    val sparkB = wm(graft.Q.md5Bucket32Local("spark") % 64)
    val slowB = wm(graft.Q.md5Bucket32Local("sloww") % 64)
    assert(sparkB > 0, s"planted positive word's bucket must go positive: $sparkB")
    assert(slowB < 0, s"planted negative word's bucket must go negative: $slowB")
    assert(sparkB == a.map(_._2).max && slowB == a.map(_._2).min,
      "planted words must carry the extreme weights")
  }

  test("margin bitext mining discounts hub vectors: a unique match outranks an equally-close hub pair") {
    import spark.implicits._
    // y0/y1/y2 orthogonal axes; x_uniq matches y0 alone (cos 1),
    // x_hub is equally close (cos ~0.577) to all three — raw cosine
    // ranks (x_uniq,y0) first anyway, but the MARGIN must also rank
    // every hub pair below it because the hub's neighborhood mean
    // inflates its denominator (the reason the margin exists)
    val s3 = (1.0 / math.sqrt(3)).toFloat
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), // x_uniq (en)
      (1L, Seq(s3, s3, s3, 0f)), // x_hub (en)
      (10L, Seq(1f, 0f, 0f, 0f)), // y0 (de)
      (11L, Seq(0f, 1f, 0f, 0f)), // y1 (de)
      (12L, Seq(0f, 0f, 1f, 0f)) // y2 (de)
    ).toDF("vec_id", "embedding")
    val labels = Seq((0L, "en"), (1L, "en"), (10L, "de"), (11L, "de"), (12L, "de"))
      .toDF("doc_id", "lang")
    val out = Similarity.marginBitextPairs(emb, labels, "doc_id", "lang",
      "en", "de", k = 3, topN = 10)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(4))).toMap
    val uniq = out((0L, 10L))
    assert(out.filter(_._1._1 == 1L).values.forall(_ < uniq),
      s"hub pairs must score below the unique match: $out")
    // hub's best pair still carries a margin near 1 (its cos equals its
    // own neighborhood mean), the unique match well above
    assert(uniq > 1.5 && out((1L, 10L)) < 1.2, s"got $out")
  }

  test("kmeans IVF on separated clusters assigns exactly: each query's neighbors are its own cluster") {
    import spark.implicits._
    // three well-separated clusters in R^4 (unique KMeans optimum —
    // exact assignment is determined by the data, not engine numerics):
    // ids 0/1/2 seed one query per cluster, members perturb the center
    def pt(cx: Double, cy: Double, cz: Double, cw: Double, eps: Double) =
      Seq(cx + eps, cy + eps / 2, cz - eps, cw + eps / 3).map(_.toFloat)
    val fixture = Seq(
      (0L, pt(10, 0, 0, 0, 0.0)), (3L, pt(10, 0, 0, 0, 0.1)),
      (4L, pt(10, 0, 0, 0, -0.1)), (5L, pt(10, 0, 0, 0, 0.2)),
      (1L, pt(0, 10, 0, 0, 0.0)), (6L, pt(0, 10, 0, 0, 0.1)),
      (7L, pt(0, 10, 0, 0, -0.1)), (8L, pt(0, 10, 0, 0, 0.2)),
      (2L, pt(0, 0, 10, 0, 0.0)), (9L, pt(0, 0, 10, 0, 0.1)),
      (10L, pt(0, 0, 10, 0, -0.1)), (11L, pt(0, 0, 10, 0, 0.2))
    ).toDF("vec_id", "embedding")
    val got = Similarity.ivfKnnKMeans(fixture, nList = 3, nQueries = 3,
      k = 3, nProbe = 1, seed = 42L)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // nProbe=1: any misassigned vector (or degenerate centroid split)
    // changes some neighbor set — this pins cell assignment exactly
    assert(got == Map(0L -> Set(3L, 4L, 5L), 1L -> Set(6L, 7L, 8L),
      2L -> Set(9L, 10L, 11L)),
      s"single-probe neighbors must be exactly the query's own cluster: $got")
  }

  test("classifier training is partition-invariant: identical graded output on any layout") {
    import spark.implicits._
    // the q107 graded artifact must be a function of the DATA, not of
    // the accident of partitioning — LBFGS aggregates gradients with
    // treeAggregate, and this pins that the rounded coefficient table
    // survives a repartition (the frozen-run reproducibility check)
    val dims = 1 << 12
    val rows = (0 until 40).map(i => (i.toLong, s"alpha beta spark gamma$i word$i", 1)) ++
      (40 until 80).map(i => (i.toLong, s"alpha beta sloww gamma$i word$i", 0))
    val df = rows.toDF("doc_id", "text", "label")
    def frozenRun(parts: Int): Seq[(Long, Double)] = {
      val (model, _) = TextAnalysis.trainQualityClassifier(
        df.repartition(parts), "text", "label", dims = dims, maxIter = 30)
      TextAnalysis.classifierTopCoefficients(model, spark, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val a = frozenRun(7)
    val b = frozenRun(13)
    assert(a == b, s"graded coefficient table must not depend on partitioning:\n$a\nvs\n$b")
  }

  test("bloom decontamination equals the exact broadcast path, with the prefilter in-plan") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val (train, bench) = (docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Corpus.decontaminate(train, bench, "doc_id", "text"))
    val bloomed = Corpus.decontaminateBloom(train, bench, "doc_id", "text")
    assert(rows(bloomed) == exact, "bloom path must be lossless (no false negatives)")
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "the corpus side must carry the bloom prefilter")
    // empty benchmark side: null sketch must short-circuit, not NPE
    assert(Corpus.decontaminateBloom(train, bench.filter(lit(false)),
      "doc_id", "text").count() == 0)
  }

  test("keep-best dedup keeps the highest-scoring cluster member, not the min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b", 5L), (2L, "a b", 9L), (3L, "a b", 9L), // one cluster
      (4L, "z q", 1L) // unclustered — always survives
    ).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val best = Corpus.dedupSurvivorsBest(docs, "doc_id", pairs,
      "doc_a", "doc_b", score = col("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 2 wins its cluster on (quality desc, id asc); 1 would win by min-id
    assert(best == Set(2L, 4L), s"expected {2, 4}, got $best")
    val minId = Corpus.dedupSurvivors(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L))
  }

  test("hard negatives exclude near-duplicates and dissimilar vectors") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f)), // anchor
      (1L, Seq(1f, 0f)), // exact duplicate -> cos 1, must NOT be a negative
      (2L, Seq(0.8f, 0.6f)), // cos 0.8 -> hard negative
      (3L, Seq(-1f, 0f)), // cos -1 -> too easy, excluded
      (4L, Seq(0f, 1f)) // cos 0 -> below band, excluded
    ).toDF("vec_id", "embedding")
    val negs = Similarity.hardNegatives(emb, nQueries = 1, k = 5,
      lo = 0.30, hi = 0.90)
      .collect().map(r => r.getLong(1)).toSet
    assert(negs == Set(2L),
      s"only the in-band vector qualifies as a hard negative: $negs")
  }

  test("funnel: steps complete only strictly in order; one shuffle serves all stages") {
    import spark.implicits._
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2: clicked BEFORE viewing — click must not count; re-click later does
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 40L),
      // u3: purchase before click — depth stops at 2
      (3L, "view", 10L), (3L, "purchase", 15L), (3L, "click", 20L),
      // u4: never viewed
      (4L, "click", 10L), (4L, "purchase", 20L)
    ).toDF("user_id", "event_type", "tsn")
    val out = EventsOps.funnel(ev, "user_id", "event_type", "tsn",
      Seq("view", "click", "purchase"))
    // inspect BEFORE collect: the post-AQE string repeats the exchange
    // node inside its finalized query stage
    val exchangesPlanned = "Exchange".r.findAllIn(
      out.queryExecution.executedPlan.toString).size
    val steps = out.collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(steps == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0),
      s"strict ordering must gate each step: $steps")
    assert(out.filter(org.apache.spark.sql.functions.col("user_id") === 1L)
      .head().getLong(5) == 20L, "conversion time = purchase - first view")
    assert(exchangesPlanned == 1,
      s"windows + final agg must reuse ONE user-key shuffle, saw $exchangesPlanned")
  }

  test("zOrderLayout: every file is range-bounded in BOTH dims; time-sort is not") {
    import org.apache.spark.sql.functions.{col, expr}
    // sf0.1: 1500 distinct users — ABOVE 2^10, the scale that exposed
    // the silent bit-truncation aliasing (review finding: the old
    // 10-bit default let files span 1151 users while the sf0.01-only
    // test passed); the bound assertion below must hold HERE
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.1", "events")
      .withColumn("u", col("user_id").cast("long"))
      .withColumn("t", expr(
        "CAST(floor((ts DIV 1000000000 - 1704067200) / 3600) AS BIGINT)"))
    val files = EventsOps.zOrderLayout(ev, "u", "t").collect()
    assert(files.length > 1)
    // fileShift=14 fixes all z-bits >= 14, i.e. each dim's bits >= 7:
    // every file spans < 2^7 values in EACH dimension — the guarantee
    // that makes a (user, time) predicate prune on either column
    files.foreach { f =>
      assert(f.getLong(3) - f.getLong(2) < 128, s"u span too wide: $f")
      assert(f.getLong(5) - f.getLong(4) < 128, s"t span too wide: $f")
    }
    // contrast: a pure time-sorted layout with the same file count has
    // full-width user ranges in (nearly) every file — no user pruning
    val nf = files.length
    val timeSorted = ev.withColumn("file_id",
        org.apache.spark.sql.functions.ntile(nf).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("t"), col("event_id"))))
      .groupBy("file_id")
      .agg((org.apache.spark.sql.functions.max("u") -
        org.apache.spark.sql.functions.min("u")).as("uspan"))
      .agg(org.apache.spark.sql.functions.avg("uspan")).head().getDouble(0)
    val zAvg = files.map(f => f.getLong(3) - f.getLong(2)).sum.toDouble / nf
    assert(zAvg < timeSorted * 0.75,
      s"z-order must bound the u dim tighter than time-sort: $zAvg vs $timeSorted")
    // out-of-range coordinates fail LOUDLY instead of silently aliasing
    import spark.implicits._
    val bad = Seq((5000L, 1L)).toDF("u", "t") // 5000 >= 2^12
    intercept[Exception](EventsOps.zOrderLayout(bad, "u", "t").collect())
  }

  test("rateAnomalies: a planted spike is flagged; zero-variance history yields null z") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // key A: buckets 0..9 alternate 1/2 events (variance > 0), bucket 10
    // bursts with 40 events; key B: constant 1 event per bucket (variance 0)
    val a = (0 until 10).flatMap(b => Seq.fill(1 + b % 2)(("A", b * 10L))) ++
      Seq.fill(40)(("A", 100L))
    val bt = (0 until 12).map(b => ("B", b * 10L))
    val ev = (a ++ bt).toDF("k", "sec")
      .withColumn("tsc", expr("timestamp_seconds(sec)"))
    val out = EventsOps.rateAnomalies(ev, "k", "tsc",
      stepSeconds = 10L, lookback = 8, zThreshold = 3.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(3)), r.getBoolean(4))).toMap
    val spike = out(("A", 100L))
    assert(spike._2, s"the 40-event burst must flag: $spike")
    assert(out(("B", 110L))._1.isEmpty && !out(("B", 110L))._2,
      "constant history has zero variance -> null z, not an anomaly")
    assert(out.keys.forall(_._2 >= 80L), "rows before a full lookback window are withheld")
  }

  test("cohortRetention: users land in their first-seen cohort; cells count distinct users") {
    import spark.implicits._
    val ev = Seq(
      (1L, 0L), (1L, 0L), (1L, 10L), (1L, 20L), // cohort 0, back in wk 1 and 2
      (2L, 5L), (2L, 25L),                      // cohort 0, back in wk 2
      (3L, 12L), (3L, 13L)                      // cohort 1, wk-1-only (same-week repeat)
    ).toDF("user_id", "tsn")
    val m = EventsOps.cohortRetention(ev, "user_id", "tsn", bucketSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 2L, (1L, 0L) -> 1L),
      s"retention matrix mismatch: $m")
  }

  test("htmlExtract: drops boilerplate zones, strips tags, decodes entities in safe order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<html><script>if (a < b) { alert(\"x\"); }</script>" +
        "<nav>menu</nav><p>keep &amp; hold</p><footer>gone</footer></html>"),
      (2L, "<p>double &amp;lt; stays encoded</p>"), // &amp;lt; → &lt;, NOT <
      (3L, "plain   text\n\nwith   gaps")
    ).toDF("doc_id", "html")
    val out = TextAnalysis.htmlExtract(docs, "doc_id", "html")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "keep & hold",
      s"script (with embedded <), nav, footer must vanish: '${out(1L)}'")
    assert(out(2L) == "double &lt; stays encoded",
      "&amp; decodes LAST so double-encoded entities cannot double-decode")
    assert(out(3L) == "plain text with gaps", "whitespace collapses")
  }

  test("gapFill: empty buckets appear with n=0 and carry the last aggregate forward") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // key A observes buckets 0 and 200 (gap at 100); key B has no gaps
    val ev = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 250L, 7.0),
      ("B", 110L, 4.0), ("B", 210L, 5.0)
    ).toDF("k", "sec", "v").withColumn("tsc", expr("timestamp_seconds(sec)"))
    val out = EventsOps.gapFill(ev, "k", "tsc", "v", stepSeconds = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6))).toMap
    assert(out(("A", 0L)) == ((2L, Some(3.0), 3.0, 3.0, false)),
      "bucket 0 aggregates both rows; observed rows lerp to themselves")
    assert(out(("A", 100L)) == ((0L, None, 3.0, 5.0, true)),
      "the gap bucket is flagged, forward-fills 3.0, and lerps midway to 5.0")
    assert(out(("A", 200L)) == ((1L, Some(7.0), 7.0, 7.0, false)))
    assert(out.keys.count(_._1 == "B") == 2 && !out(("B", 100L))._5,
      "keys without gaps emit only their observed span")
  }

  test("ivfRecallAudit: one cell = full search = recall 1.0; restriction only lowers it") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // nList = 1: every vector lands in the single cell, the "restricted"
    // search IS the exact search over the same universe
    val full = Similarity.ivfRecallAudit(emb, nList = 1, nQueries = 3, k = 3).collect()
    full.foreach(r => assert(r.getDouble(2) == 1.0, s"single-cell must be exact: $r"))
    val restricted = Similarity.ivfRecallAudit(emb, nList = 8, nQueries = 5, k = 3)
      .collect()
    restricted.foreach(r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("pqRecallAudit: recall is 1.0 when the codebook spans every vector (ADC = exact)") {
    import spark.implicits._
    // ksub = all vectors => each subvector's nearest centroid is itself,
    // so the ADC distance IS the exact L2 distance and recall must be 1
    val rng = new scala.util.Random(7)
    val emb = (0L until 12L).map(i =>
      (i, Seq.fill(8)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val out = Similarity.pqRecallAudit(emb, m = 2, ksub = 12,
      nQueries = 3, k = 4, dim = 8).collect()
    assert(out.length == 3)
    out.foreach(r => assert(r.getDouble(2) == 1.0,
      s"identity codebook must give perfect recall: ${r}"))
    // and on the benchmark corpus the audit reports recall in [0, 1]
    val real = Similarity.pqRecallAudit(
      graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings"),
      m = 8, ksub = 16, nQueries = 5, k = 5).collect()
    real.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 5)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("int8 quantization: codes span [0,255], per-component error within half a step") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min, posexplode}
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.int8Quantize(emb, "vec_id", "embedding").collect()
    assert(out.length == emb.count())
    assert(out.forall(_.getLong(1) == 64L), "all 64 dims quantized")
    // q_sum of n_dims 8-bit codes is bounded by 255*n_dims
    assert(out.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 255L * 64))
    // affine round-to-nearest ⇒ |err| ≤ (hi-lo)/510 per dim; bound with the
    // global widest dim range
    val ranges = emb.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim").agg((max("v") - min("v")).as("r"))
      .agg(max("r")).head().getFloat(0).toDouble
    val bound = ranges / 510.0 + 1e-12
    assert(out.forall(_.getDouble(3) <= bound),
      s"max_err must stay within half a quantization step ($bound)")
  }

  test("semantic dedup pairs only within a cell and scores duplicates at 1") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f)), // centroid of cell 0
      (1L, Seq(0f, 1f)), // centroid of cell 1
      (2L, Seq(10f, 0.1f)), // cell 0
      (3L, Seq(10f, 0.1f)), // duplicate of 2 -> cos exactly 1
      (4L, Seq(0.05f, 2f)) // cell 1 — must never pair with 2/3
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticDedupPairs(emb, nList = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.exists(p => p._2 == 2L && p._3 == 3L && p._4 == 1.0),
      "identical vectors in one cell must pair at cos 1.0")
    assert(pairs.forall(p => !(Set(2L, 3L).contains(p._2) && p._3 == 4L)),
      "vectors in different cells must never be compared")
  }

  test("paragraph dedup strips boilerplate, exempts short paragraphs, counts within-doc repeats once") {
    import spark.implicits._
    // "BOILER PLATE..." appears in 3 docs (> maxDocFreq=2) -> dropped
    // everywhere; "ok" is shared but short -> exempt; doc 3 repeats the
    // boilerplate twice WITHIN itself -> still one doc toward docfreq,
    // and doc 4+5 carrying it pushes it over the threshold
    val docs = Seq(
      (3L, "unique body three\n\nBOILER PLATE NAV\n\nBOILER PLATE NAV\n\nok"),
      (4L, "BOILER PLATE NAV\n\nunique body four\n\nok"),
      (5L, "unique body five\n\nBOILER PLATE NAV"),
      (6L, "all alone content\n\nok")
    ).toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(docs, "doc_id", "text", maxDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(3L) == (("unique body three\n\nok", 2L, 2L)), s"got ${got(3L)}")
    assert(got(4L) == (("unique body four\n\nok", 2L, 1L)))
    assert(got(5L) == (("unique body five", 1L, 1L)))
    assert(got(6L) == (("all alone content\n\nok", 2L, 0L)))
  }

  test("ema window function matches a reference fold, carries state over nulls, plans one Window") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    Seq((1L, "a", Some(10.0)), (2L, "a", None), (3L, "a", Some(20.0)),
      (4L, "a", Some(4.0)), (5L, "b", Some(5.0)), (6L, "b", Some(7.0)))
      .toDF("i", "k", "x").createOrReplaceTempView("ema_t")
    val df = spark.sql(
      """SELECT i, k, ema(x, 0.5) OVER (PARTITION BY k ORDER BY i) AS e
        |FROM ema_t ORDER BY i""".stripMargin)
    val got = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    // seed = first value; null carries the previous state; then the
    // α·x + (1−α)·acc recursion — per-partition, order-sensitive
    assert(got == Map(1L -> 10.0, 2L -> 10.0, 3L -> 15.0, 4L -> 9.5,
      5L -> 5.0, 6L -> 6.0), s"got $got")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "must run as a window operator")
    assert(!plan.toLowerCase.contains("cartesian") && !plan.contains("NestedLoop"),
      "a window UDF must never fall back to a self-join formulation")
    // leading nulls stay null until the first real value seeds the state
    Seq((1L, None: Option[Double]), (2L, Some(3.0))).toDF("i", "x")
      .createOrReplaceTempView("ema_lead")
    val lead = spark.sql(
      "SELECT ema(x, 0.5) OVER (ORDER BY i) AS e FROM ema_lead ORDER BY i")
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(lead.toSeq == Seq(null, 3.0))
  }

  test("snapshot diff classifies NULL-text documents by presence, not fingerprint") {
    import spark.implicits._
    // id 1: null -> null (unchanged); id 2: null -> text (changed);
    // id 3: text -> null (changed); id 4: null text, only in old (removed);
    // id 5: null text, only in new (added)
    val old = Seq((1L, null: String), (2L, null: String), (3L, "t3"),
      (4L, null: String)).toDF("doc_id", "text")
    val neu = Seq((1L, null: String), (2L, "t2"), (3L, null: String),
      (5L, null: String)).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("spanCut removes exactly the covered positions, within-doc repeats included") {
    import spark.implicits._
    // doc 1+2 share the 5-gram "a b c d e" (cross-doc repeat); doc 3
    // repeats "x x x x x" internally at two starts (within-doc repeat,
    // overlapping coverage); doc 4 is shorter than the gram (untouchable);
    // doc 5 shares nothing.
    val docs = Seq(
      (1L, "a b c d e tail1 only"),
      (2L, "head2 a b c d e"),
      (3L, "x x x x x x lone"),
      (4L, "too short"),
      (5L, "q r s t u v w")).toDF("doc_id", "text")
    val got = Corpus.spanCut(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((7L, 5L, "tail1 only")))
    assert(got(2L) == ((6L, 5L, "head2")))
    // doc 3: starts 1 and 2 are both "x x x x x" -> positions 1..6 covered
    assert(got(3L) == ((7L, 6L, "lone")))
    assert(got(4L) == ((2L, 0L, "too short")))
    assert(got(5L) == ((7L, 0L, "q r s t u v w")))
  }

  test("spanCut on a fully-repeated doc yields empty text, never negative counts") {
    import spark.implicits._
    val docs = Seq((1L, "c1 c2 c3 c4 c5"), (2L, "c1 c2 c3 c4 c5"))
      .toDF("doc_id", "text")
    val got = Corpus.spanCut(docs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSet == Set((5L, 5L, "")))
  }

  test("scd2Merge chains: versions increment, history is immutable, one current row per live doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def snap(rows: (Long, String)*) = rows.toDF("doc_id", "fp")
    val boot = snap(1L -> "a1", 2L -> "b1", 3L -> "c1")
      .select(col("doc_id"), col("fp"), lit(1L).as("version"),
        lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"),
        lit(true).as("is_current"))
    // batch 2: doc 1 unchanged, doc 2 changed, doc 3 removed, doc 4 added
    val t2 = Corpus.scd2Merge(boot, snap(1L -> "a1", 2L -> "b2", 4L -> "d1"),
      "doc_id", "fp", batch = 2L)
    // batch 3: doc 2 changes again, doc 3 REAPPEARS, doc 4 removed
    val t3 = Corpus.scd2Merge(t2, snap(1L -> "a1", 2L -> "b3", 3L -> "c2"),
      "doc_id", "fp", batch = 3L)
    val rows = t3.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5))).toSet
    assert(rows == Set(
      (1L, "a1", 1L, 1L, -1L, true),   // never changed
      (2L, "b1", 1L, 1L, 2L, false),   // closed at 2
      (2L, "b2", 2L, 2L, 3L, false),   // closed at 3
      (2L, "b3", 3L, 3L, -1L, true),
      (3L, "c1", 1L, 1L, 2L, false),   // removed at 2...
      (3L, "c2", 2L, 3L, -1L, true),   // ...reappears CONTINUING its sequence
      (4L, "d1", 1L, 2L, 3L, false)))  // added at 2, removed at 3
    // (doc_id, version) stays a unique key even across remove/reappear
    val dupKeys = t3.groupBy(col("doc_id"), col("version")).count()
      .filter(col("count") > 1).count()
    assert(dupKeys == 0)
    // invariant: exactly one current row per doc in the latest snapshot
    val cur = t3.filter(col("is_current")).groupBy(col("doc_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("percentRank matches the window reference including ties, and handles n=1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((10L, 5.0), (11L, 3.0), (12L, 5.0), (13L, 1.0), (14L, 3.0))
      .toDF("doc_id", "v")
    val got = Selection.percentRank(docs, "doc_id", col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("doc_id"))
    val ref = docs.select(col("doc_id"),
        row_number().over(w).cast("long").as("rk"),
        round(percent_rank().over(w), 6).as("pr"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == ref)
    val one = Selection.percentRank(Seq((7L, 9.9)).toDF("doc_id", "v"),
      "doc_id", col("v")).collect()
    assert(one.length == 1 && one(0).getLong(2) == 1L && one(0).getDouble(3) == 0.0)
  }

  test("lengthBatches: batches are bucket-pure, gapless, and bounded by batchSize") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sf, "documents")
    val out = Selection.lengthBatches(docs, "doc_id", "text",
      tokensPerBand = 16, batchSize = 8).cache()
    // every (bucket, batch) holds <= 8 rows with contiguous positions 0..n-1
    val bad = out.groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n"), max(col("pos_in_batch")).as("mx"),
        min(col("pos_in_batch")).as("mn"))
      .filter(col("n") > 8 || col("mx") =!= col("n") - 1 || col("mn") =!= 0)
    assert(bad.count() == 0)
    // only the LAST batch of a bucket may be partial
    val partialNotLast = out.groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("last", col("batch_idx") === max(col("batch_idx")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))))
      .filter(col("n") < 8 && !col("last"))
    assert(partialNotLast.count() == 0)
    // assignment is deterministic: same input, same layout twice
    val again = Selection.lengthBatches(docs, "doc_id", "text", 16, 8)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    out.unpersist()
  }

  test("jsDivergence: source identical to corpus scores 0; disjoint halves match closed form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val same = (Seq.fill(50)(("s1", "x y z")) ++ Seq.fill(50)(("s2", "x y z")))
      .toDF("source", "text")
    val got0 = Corpus.jsDivergence(same, "text", "source")
      .collect().map(_.getDouble(1)).toSet
    assert(got0 == Set(0.0))
    // two disjoint-vocab halves: P(s1)=δ_a, corpus Q = (a:½, b:½), so
    // JSD = ½[ln(4/3) + ½ln(2/3) + ½ln2] per source, symmetric
    val disj = (Seq.fill(50)(("s1", "a a a")) ++ Seq.fill(50)(("s2", "b b b")))
      .toDF("source", "text")
    val expected = BigDecimal(0.5 * (math.log(4.0 / 3) +
      0.5 * math.log(2.0 / 3) + 0.5 * math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gotD = Corpus.jsDivergence(disj, "text", "source")
      .collect().map(_.getDouble(1)).toSet
    assert(gotD == Set(expected), s"got $gotD, want $expected")
  }

  test("saltedJoin equals the plain join and spreads a 100%-hot key over all salt buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every fact row carries THE SAME key — the case that melts one reducer
    val big = (1L to 400L).map(i => (7L, i)).toDF("k", "payload")
    val dim = Seq((7L, "hot"), (8L, "cold")).toDF("dk", "label")
    val salted = Extensions.saltedJoin(big, dim, "k", "dk",
      col("payload"), k = 8)
    val plain = big.join(dim, col("k") === col("dk"))
    assert(salted.count() == plain.count())
    assert(salted.select(sum(col("payload"))).head().getLong(0) ==
      plain.select(sum(col("payload"))).head().getLong(0))
    // the hot key's rows really occupy all 8 (key, salt) shuffle groups
    val spread = big.select(pmod(col("payload"), lit(8L))).distinct().count()
    assert(spread == 8L)
  }

  test("bucket-cap drops are OBSERVABLE: an over-cap bucket logs a nonzero " +
      "dropped-member count via the observe side aggregate (no extra job)") {
    import spark.implicits._
    // 40 identical documents -> every band bucket has 40 members; cap 8
    // must drop 32 per bucket and REPORT it
    val docs = (1 to 40).map(i => (i.toLong, "the same template text repeated for every doc"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", bucketCap = 8)
    val n = pairs.count()
    // capped: at most C(8,2)=28 per bucket's survivors, unioned across
    // bands but identical docs share every bucket -> exactly C(8,2)
    assert(n == 28, s"expected C(8,2)=28 capped pairs, got $n")
    // the observe metric is delivered on the async listener bus
    val deadline = System.nanoTime() + 15L * 1000000000L
    var seen = Dedup.CapStats.lastDropped("minhash")
    while (!seen.exists(_ > 0) && System.nanoTime() < deadline) {
      Thread.sleep(100); seen = Dedup.CapStats.lastDropped("minhash")
    }
    assert(seen.exists(_ > 0),
      s"over-cap bucket produced no observable dropped count: $seen")
    // under-cap corpora report zero (the metric always rides along)
    val small = (1 to 3).map(i => (i.toLong, s"doc number $i words differ entirely here $i"))
      .toDF("doc_id", "text")
    Dedup.minhashPairs(small, "doc_id", "text", bucketCap = 1024).count()
    val deadline2 = System.nanoTime() + 15L * 1000000000L
    while (!Dedup.CapStats.lastDropped("minhash").contains(0L) &&
      System.nanoTime() < deadline2) Thread.sleep(100)
    assert(Dedup.CapStats.lastDropped("minhash").contains(0L))
  }

  test("ppjoin prefix-token cap and inverted-index df cap are OBSERVABLE: " +
      "template floods bound the candidate volume with counted drops") {
    import spark.implicits._
    def total(label: String): Long =
      Dedup.CapStats.droppedTotal(label).getOrElse(0L)
    // 40 identical documents: every prefix token's df is 40. prefixCap=8
    // cuts every flooded token from the index (the stop-token treatment)
    // — zero candidate pairs instead of the uncapped C(40,2)=780, and
    // every cut index row ticks the accumulator (counted exactly where
    // the filter runs; accumulators deliver regardless of plan shape)
    val flood = (1 to 40).map(i =>
      (i.toLong, "one shared template sentence repeated across every doc"))
      .toDF("doc_id", "text")
    val p0 = total("ppjoin_prefix")
    assert(Dedup.prefixFilterJaccard(flood, "doc_id", "text", 0.5,
      prefixCap = 8).count() == 0,
      "flooded prefix tokens must be cut from candidate generation")
    assert(total("ppjoin_prefix") > p0,
      "the cut rows must tick the ppjoin_prefix drop counter")
    // the DEFAULT cap (4096) is two orders above any graded fixture's
    // max df: exactness unchanged, zero new drops counted
    val p1 = total("ppjoin_prefix")
    assert(Dedup.prefixFilterJaccard(flood, "doc_id", "text", 0.5).count() == 780)
    assert(total("ppjoin_prefix") == p1, "under-cap corpus counts nothing")
    // the inverted-index df cap (jaccard/containment) counts the index
    // rows its stop-gram filter drops: 3 docs sharing every shingle at
    // dfCap=2 drop all 3*2=6 index rows — visible, not silent
    val shared = (1 to 3).map(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val c0 = total("containment_df")
    assert(Dedup.containmentPairs(shared, "doc_id", "text", 0.5, dfCap = 2)
      .count() == 0)
    assert(total("containment_df") - c0 >= 6L,
      "df-cap drop count must cover the hot shingles' index rows")
    // under-cap corpus counts zero through the jaccard label too
    val j0 = total("jaccard_df")
    assert(Dedup.jaccardPairs(shared, "doc_id", "text", 0.5).count() == 3)
    assert(total("jaccard_df") == j0)
  }

  test("dedup recipe (collapse then simhash): exact copies collapse first, " +
      "so the banded join's bucket caps stay SILENT on a copy-dense corpus " +
      "where the raw pairing must cap — and the pairs equal brute force " +
      "over the collapsed residue") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5, min}
    graft.functions.Registry.install(spark)
    // 10 templates × 20 EXACT copies, plus one near-dup variant each
    // (last word differs -> a handful of signature bits flip)
    val docs = ((for { t <- 0 until 10; c <- 0 until 20 } yield
      ((t * 100 + c).toLong,
        s"template $t alpha beta gamma delta epsilon zeta eta theta")) ++
      (for (t <- 0 until 10) yield
        ((t * 100 + 50).toLong,
          s"template $t alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    // the CONTRAST: raw copy-dense corpus floods a small bucket cap
    val bits = Dedup.simhashAutoBits(docs.count())
    Dedup.simhashBandedPairs(Dedup.simhash(docs, "doc_id", "text", bits),
      maxDist = 2, bits = bits, bucketCap = 8).count()
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (!Dedup.CapStats.lastDropped("simhash").exists(_ > 0) &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(Dedup.CapStats.lastDropped("simhash").exists(_ > 0),
      "20-deep copy clusters must overflow cap=8 on the raw corpus")
    // the RECIPE: collapse first -> every band bucket holds distinct
    // contents, nothing to cap
    val got = Dedup.dedupRecipePairs(docs, "doc_id", "text", maxDist = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
      .sortBy(identity)
    // brute-force expected pairing over the collapsed residue (21 keepers
    // -> all-pairs is trivial): the banded join must lose nothing. The
    // recipe auto-width chooses 32 at this scale (recipeAutoBits).
    val collapsed = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
    val sl = Dedup.simhash(collapsed, "doc_id", "text", bits = 32)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = (for {
      (ia, sa) <- sl; (ib, sb) <- sl if ia < ib
      d = sa.zip(sb).count { case (x, y) => x != y } if d <= 2
    } yield (ia, ib, d)).sortBy(identity)
    assert(got.toSeq == expected.toSeq,
      s"recipe pairs must equal brute force: got ${got.length}, expected ${expected.length}")
    assert(expected.nonEmpty, "fixture must actually produce near-dup pairs")
    // and the caps stayed SILENT through the recipe run (the metric
    // always rides along; the last observation must be zero)
    val deadline2 = System.nanoTime() + 15L * 1000000000L
    while (!Dedup.CapStats.lastDropped("simhash").contains(0L) &&
      System.nanoTime() < deadline2) Thread.sleep(100)
    assert(Dedup.CapStats.lastDropped("simhash").contains(0L),
      "collapse-first must leave the simhash bucket caps silent")
  }

  test("recipeAutoBits tracks log2(keepers): 32 at every graded scale, 64 " +
      "past the ~1.3e5 breakpoint (incl. the measured 5e5 flooding " +
      "boundary), plane-aligned, capped at 128") {
    import Dedup.recipeAutoBits
    // the 10^4 / 10^5 / 10^6 breakpoints (round-15 verdict)
    assert(recipeAutoBits(10000L) == 32)
    assert(recipeAutoBits(100000L) == 32)
    assert(recipeAutoBits(1000000L) == 64)
    // exact breakpoint: 2^17 is the last 32-bit scale (chunkBits
    // = ceil(log2 n) - 7 crosses 32/3 = 10 there)
    assert(recipeAutoBits(131072L) == 32)
    assert(recipeAutoBits(131073L) == 64)
    // the measured endpoints (SCALING.md round-15): 5e5 keepers flooded
    // 32-bit chunks and the 64-bit fix held — auto must pick the fix
    assert(recipeAutoBits(500000L) == 64)
    // degenerate + wide tails
    assert(recipeAutoBits(0L) == 32 && recipeAutoBits(1L) == 32)
    assert(recipeAutoBits(1000000000L) == 96)       // 10^9
    assert(recipeAutoBits(1000000000000L) == 128)   // 10^12
    assert(recipeAutoBits(Long.MaxValue / 2) == 128) // saturates, no throw
    // monotone in keepers (a bigger corpus never narrows the signature)
    val pts = Seq(1L, 100L, 10000L, 131072L, 131073L, 1L << 20, 1L << 25,
      1L << 30, 1L << 40, 1L << 50)
    assert(pts.map(recipeAutoBits(_)).sliding(2).forall(w => w.head <= w.last))
  }

  test("dedupRecipePairs reliable-checkpoint option: identical pairs to " +
      "the default localCheckpoint path, and the checkpoint actually " +
      "lands on the filesystem") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val docs = ((for { t <- 0 until 5; c <- 0 until 4 } yield
      ((t * 100 + c).toLong,
        s"template $t alpha beta gamma delta epsilon zeta")) ++
      (for (t <- 0 until 5) yield
        ((t * 100 + 50).toLong,
          s"template $t alpha beta gamma delta epsilon eta")))
      .toDF("doc_id", "text")
    def run(ckpt: Option[String]) =
      Dedup.dedupRecipePairs(docs, "doc_id", "text", maxDist = 2,
        checkpointDir = ckpt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
        .sortBy(identity).toSeq
    val dflt = run(None)
    val tmp = tempDir("graft-ckpt")
    val reliable = run(Some(tmp.toString))
    assert(reliable == dflt, "checkpoint substrate must not change results")
    assert(dflt.nonEmpty, "fixture must produce near-dup pairs")
    // the reliable path wrote real checkpoint data under the dir
    def walkSize(p: java.io.File): Long =
      if (p.isDirectory) Option(p.listFiles).toSeq.flatten.map(walkSize).sum
      else p.length
    assert(walkSize(tmp.toFile) > 0L,
      "reliable checkpoint must materialize under the supplied dir")
  }

  test("dedupRecipePairs checkpoint-dir check compares full URIs: a " +
      "same-path request under a DIFFERENT scheme still re-points the " +
      "checkpoint dir (never silently lands on the wrong filesystem)") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val sc = spark.sparkContext
    // a second hadoop scheme backed by the local disk, so the
    // different-scheme case is drivable without a real HDFS/s3a
    sc.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[graft.operators.GraftTestFs].getName)
    val docs = (for { t <- 0 until 3; c <- 0 until 3 } yield
      ((t * 10 + c).toLong, s"tpl $t alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val tmp = tempDir("graft-scheme-ckpt")
    // 1) file:-scheme checkpoint dir gets set
    Dedup.dedupRecipePairs(docs, "doc_id", "text",
      checkpointDir = Some(tmp.toString)).count()
    val first = sc.getCheckpointDir.get
    assert(new java.net.URI(first).getScheme == "file",
      s"fixture expects a file: checkpoint dir, got $first")
    // 2) same PATH under a different SCHEME: the old path-only compare
    // matched here and skipped setCheckpointDir — the fix must re-point
    Dedup.dedupRecipePairs(docs, "doc_id", "text",
      checkpointDir = Some(s"graftfs:${tmp.toString}")).count()
    val second = sc.getCheckpointDir.get
    assert(new java.net.URI(second).getScheme == "graftfs",
      s"different-scheme request must call setCheckpointDir; dir stayed $second")
    // 3) and the check still short-circuits on a TRUE repeat: a third
    // run with the same graftfs dir must keep the <uuid> subdir as-is
    Dedup.dedupRecipePairs(docs, "doc_id", "text",
      checkpointDir = Some(s"graftfs:${tmp.toString}")).count()
    assert(sc.getCheckpointDir.get == second,
      "identical request must not re-point (one <uuid> subdir per context)")
  }

  test("wide simhash signatures: the full prefix ladder 32 c 64 c 96 c 128 " +
      "is byte-compatible, planes add independent bits, and the banded " +
      "pairing equals brute force at every width") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val docs = ((1 to 30).map(i =>
      (i.toLong, s"document number $i with some shared words alpha beta gamma")) ++
      Seq((31L, "document number 1 with some shared words alpha beta gamme")))
      .toDF("doc_id", "text")
    // one signature frame per width, reused by every assertion below
    // (each Dedup.simhash is a Spark job — no redundant recomputes)
    val sigFrames = Seq(32, 64, 96, 128).map { b =>
      b -> Dedup.simhash(docs, "doc_id", "text", bits = b).localCheckpoint(true)
    }.toMap
    val byWidth = sigFrames.map { case (b, df) =>
      b -> df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val narrow = byWidth(32)
    assert(byWidth(64).values.forall(_.length == 64))
    // the FULL prefix ladder: every wider signature keeps the narrower
    // one as a byte prefix (32 ⊂ 64 ⊂ 96 ⊂ 128 — the persisted-table
    // compatibility chain)
    narrow.keys.foreach { id =>
      assert(byWidth(64)(id).take(32) == narrow(id), s"64->32 prefix doc $id")
      assert(byWidth(96)(id).take(64) == byWidth(64)(id), s"96->64 prefix doc $id")
      assert(byWidth(128)(id).take(96) == byWidth(96)(id), s"128->96 prefix doc $id")
    }
    // plane 1 must be genuinely independent information, not a copy
    assert(byWidth(64).values.exists(s => s.take(32) != s.drop(32)),
      "the second bit-plane must differ from the first")
    // at EVERY wide width the banded pairing equals brute-force
    // hamming<=2 over the same signatures
    for (b <- Seq(64, 96, 128)) {
      val got = Dedup.simhashBandedPairs(sigFrames(b), maxDist = 2, bits = b)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
        .sortBy(identity)
      val sl = byWidth(b).toSeq.sortBy(_._1)
      val expected = (for {
        (ia, sa) <- sl; (ib, sb) <- sl if ia < ib
        d = sa.zip(sb).count { case (x, y) => x != y } if d <= 2
      } yield (ia, ib, d)).sortBy(identity)
      assert(got.toSeq == expected.toSeq, s"banded != brute at bits=$b")
    }
  }

  test("CapCountIf counts NULL predicates as drops — Filter discards a " +
      "NULL condition exactly like false, so both must tick the counter") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val label = s"nulltest_${System.nanoTime()}" // fresh accumulator per run
    val df = Seq[(Long, java.lang.Long)]((1L, 5L), (2L, null), (3L, 1L))
      .toDF("id", "v")
    // v > 3: TRUE for 5, FALSE for 1, NULL for the null row — the filter
    // keeps one row and DROPS two, and the counter must say two
    val kept = df.filter(org.apache.spark.sql.functions
      .expr(s"graft_cap_count_if(v > 3, '$label')")).count()
    assert(kept == 1L)
    assert(graft.functions.CapCountIf.droppedTotal(label).contains(2L),
      s"false AND null rows both count as drops: " +
        s"${graft.functions.CapCountIf.droppedTotal(label)}")
    // the label surfaces through the /metrics exposition source
    assert(graft.functions.CapCountIf.all().exists(_._1 == label))
  }

  test("CapCountIf eviction is liveness-keyed: a concurrent session's " +
      "counters survive a registration from another app") {
    import graft.functions.CapCountIf
    val sc = spark.sparkContext
    val label = s"evict_${System.nanoTime()}"
    // simulate a SECOND concurrently-active application: an entry under
    // a foreign app id whose owning context is ALIVE (one JVM holds one
    // SparkContext, so the foreign entry borrows the live one — the
    // eviction predicate reads only ctx.isStopped, which is what's
    // under test here)
    val foreignAcc = sc.longAccumulator(s"graft_cap/$label")
    foreignAcc.add(42L)
    CapCountIf.accs.put(("app-other-session", label), (sc, foreignAcc))
    try {
      // registering from the CURRENT app must NOT evict the live
      // foreign entry (pre-round-16 code evicted "anything not me",
      // silently resetting the other session's cumulative drop counts)
      CapCountIf.accumulator(spark, label).add(1L)
      val survived = Option(CapCountIf.accs.get(("app-other-session", label)))
      assert(survived.exists(_._2.value == 42L),
        "a live concurrent session's accumulator must survive registration " +
          "from another app")
      // and the two apps' counters stay independent
      assert(CapCountIf.droppedTotal(label).contains(1L))
    } finally {
      CapCountIf.accs.remove(("app-other-session", label)); ()
    }
  }

  test("distributed CC equals driver union-find on a propagation-hungry chain graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a 24-node path graph (worst case for min-label propagation) plus a
    // separate triangle and an isolated pair
    val chain = (0L until 23L).map(i => (100L + i, 101L + i))
    val pairs = (chain ++ Seq((500L, 501L), (501L, 502L), (500L, 502L),
      (900L, 901L))).toDF("a", "b")
    val dist = Corpus.connectedComponents(pairs, "a", "b", driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv = Corpus.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == drv)
    assert(dist(123L) == 100L && dist(502L) == 500L && dist(901L) == 900L)
    // and the non-convergence guard actually throws rather than lying
    intercept[IllegalStateException] {
      Corpus.connectedComponents(pairs, "a", "b", maxIter = 1, driverThreshold = 0L)
    }
  }

  test("hits: active-rows iteration is value-identical to the all-nodes " +
      "formulation, zero-score nodes restored") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // graph with a SINK-only node (4: in-edges, no out), a SOURCE-only
    // node (5: out, no in) and a fully ISOLATED node (9) — the rows the
    // round-18 restructure drops from the iteration and re-attaches at
    // the end. Their scores must come back exactly 0.0 on the silent
    // side(s), and every other score must equal the old dataflow's.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 4L),
      (2L, 4L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("node")
    val got = Corpus.hits(edges, nodes, iters = 4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // reference: the pre-r18 half-step, all nodes carried every round
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
    val nodesOnly = nodes.select(col("node"))
    def halfStepOld(scores: org.apache.spark.sql.DataFrame, scoreCol: String,
        joinOn: String, emitAs: String, outCol: String) = {
      val raw = scores.join(edges, scores("node") === edges(joinOn))
        .select(col(emitAs).as("node"), col(scoreCol).cast(dec).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val tot = raw.agg(sum(col("s")).cast("double").as("ts"))
      nodesOnly.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          round(coalesce(col("s").cast("double"), lit(0.0)) / col("ts"), 12)
            .as(outCol))
        .localCheckpoint(true)
    }
    var h = nodesOnly.select(col("node"), lit(1.0 / 6).as("h")).localCheckpoint(true)
    var a = h
    for (_ <- 1 to 4) {
      a = halfStepOld(h, "h", "src", "dst", "a")
      h = halfStepOld(a, "a", "dst", "src", "h")
    }
    val want = a.join(h, Seq("node"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got(9L) == ((0.0, 0.0)), "isolated node must score exactly zero")
    assert(got(5L)._1 == 0.0 && got(5L)._2 > 0.0, "source-only: zero authority")
    assert(got.size == 6, "every node must appear in the output")
  }
}
