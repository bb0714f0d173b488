package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics + scale-shape checks for the data-selection operators
  * (Selection.scala). The DuckDB oracle covers value parity at sf0.01;
  * these specs pin the SEMANTIC claims (sampling bias, importance-weight
  * direction, cosine identities, chunking's offset invariance) on
  * fixtures where the expected behavior is known by construction.
  */
class SelectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("weightedSample: selects exactly the global top-n exponential keys") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val got = Selection.weightedSample(docs, "doc_id", col("n_chars"), n = 50)
    // recompute the full keyed population independently and cross-check
    val keys = docs.select(col("doc_id"),
        round(log((conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long").cast("double") + 0.5d) / 4294967296.0d) /
          col("n_chars").cast("double"), 6).as("k"))
      .orderBy(desc("k"), col("doc_id")).limit(50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sel = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel == keys)
    assert(sel.size == 50)
  }

  test("weightedSample: heavier docs are overrepresented vs uniform") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val n = docs.count()
    val meanAll = docs.agg(avg("n_chars")).head().getDouble(0)
    val meanSel = Selection.weightedSample(docs, "doc_id", col("n_chars"), n = (n / 5).toInt)
      .agg(avg("weight")).head().getDouble(0)
    // P(select) ∝ n_chars ⇒ the sampled mean length must exceed the corpus mean
    assert(meanSel > meanAll, s"weighted sample mean $meanSel !> corpus mean $meanAll")
  }

  test("weightedSample: plans TakeOrderedAndProject (no full sort, no shuffle of the corpus)") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val p = Selection.weightedSample(docs, "doc_id", col("n_chars"), n = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(6).mkString("\n"))
    assert(!p.contains("Exchange"), "corpus must not shuffle for a top-n sample")
  }

  test("dsirWeights: target-domain docs score higher than off-domain docs") {
    import spark.implicits._
    // target = "math" style vocabulary; raw pool = math + legal docs
    val math = (0 until 30).map(i => (i.toLong, s"theorem proof lemma integral matrix m$i"))
    val legal = (30 until 60).map(i => (i.toLong, s"whereas party herein liability clause l$i"))
    val docs = (math ++ legal).toDF("doc_id", "text")
    val target = math.toDF("doc_id", "text")
    val w = Selection.dsirWeights(docs, target, "doc_id", "text", buckets = 64)
    val avgMath = w.filter(col("doc_id") < 30).agg(avg("dsir_logw")).head().getDouble(0)
    val avgLegal = w.filter(col("doc_id") >= 30).agg(avg("dsir_logw")).head().getDouble(0)
    assert(avgMath > 0 && avgMath > avgLegal + 1.0,
      s"math=$avgMath legal=$avgLegal — importance weights must separate domains")
    assert(w.count() == 60, "every doc in the pool must be scored")
  }

  test("dsirWeights: LM tables broadcast — the corpus-side join is not shuffled") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val p = Selection.dsirWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
  }

  test("sparseCosinePairs: identical docs cos=1, disjoint docs absent, partial overlap in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // exact dup of 1
      (3L, "alpha beta zeta eta"),    // half-overlap with 1/2
      (4L, "iota kappa mu nu")        // disjoint
    ).toDF("doc_id", "text")
    val pairs = Selection.sparseCosinePairs(docs, "doc_id", "text", dfCap = 10, tau = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0, "exact duplicates must score cos=1")
    assert(pairs.get((1L, 4L)).isEmpty && pairs.get((3L, 4L)).isEmpty,
      "docs sharing no term can never pair (inverted-index property)")
    val partial = pairs((1L, 3L))
    assert(partial > 0 && partial < 1, s"partial overlap must land strictly inside (0,1): $partial")
  }

  test("sparseCosinePairs: df-capped terms bound the inverted-index buckets") {
    import spark.implicits._
    // 'the' appears in every doc — with dfCap=3 it must not create pairs
    val docs = (0 until 20).map(i => (i.toLong, s"the unique$i word$i")).toDF("doc_id", "text")
    val pairs = Selection.sparseCosinePairs(docs, "doc_id", "text", dfCap = 3, tau = 0.0)
    assert(pairs.count() == 0, "a ubiquitous term above the df cap must not generate pairs")
  }

  test("cdcChunkStats: identical segments at DIFFERENT offsets are found (offset invariance)") {
    import spark.implicits._
    val boiler = "this exact boilerplate segment is long enough to contain chunk boundaries " +
      "and repeats across documents verbatim so cdc must surface it as shared"
    val docs = Seq(
      (1L, s"unique preamble one $boiler"),
      (2L, s"a much longer and entirely different document preamble here $boiler"),
      (3L, "completely unrelated text with no repeated segments at all whatsoever")
    ).toDF("doc_id", "text")
    val st = Selection.cdcChunkStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(st(1L)._1 > 0 && st(2L)._1 > 0,
      s"boilerplate at different offsets must yield shared chunks: $st")
    assert(st(3L)._2 == 0.0, "a unique doc has zero shared fraction")
  }

  test("cdcChunkStats: chunks exactly reassemble the document (partition property)") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val docs = Seq((1L, "x" * 5), (2L, ("abcdefgh" * 40) + "tail"),
      (3L, "unicode é你😀 mixed " * 20)).toDF("doc_id", "text")
    docs.select(col("text"), expr("array_join(cdc_chunks(text, 8, 32), '')").as("re"))
      .collect().foreach(r =>
        assert(r.getString(0) == r.getString(1), "chunks must partition the text"))
  }

  test("cdc_chunks rolling hash matches an independent WINDOWED-sum reference (incl. astral)") {
    graft.functions.Registry.install(spark)
    // the oracle computes the windowed sum Σ cp_j·(257^(7-j) mod M) per
    // position; the expression maintains it as a rolling hash — reimplement
    // the windowed form here and pin equality over codepoints
    def refChunks(s: String, k: Int = 8, d: Int = 32): Seq[String] = {
      val M = 1000000007L
      val cps = s.codePoints().toArray
      val pow = Array.iterate(1L, k)(_ * 257L % M).reverse // 257^(k-1) .. 257^0
      val cuts = (k to cps.length).filter { i =>
        val window = cps.slice(i - k, i)
        window.indices.map(j => window(j) * pow(j) % M).sum % M % d == 0
      }
      val bounds = (0 +: cuts :+ cps.length).distinct
      bounds.sliding(2).map { case Seq(a, b) =>
        new String(cps.slice(a, b), 0, b - a) }.filter(_.nonEmpty).toSeq
    }
    import spark.implicits._
    val texts = Seq("short", "the quick brown fox " * 30,
      "astral 😀😁 and cjk 你好 " * 25, "x" * 7, "y" * 8)
    val got = texts.toDF("text")
      .select(col("text"), expr("cdc_chunks(text, 8, 32)").as("c")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    texts.foreach { t =>
      assert(got(t) == refChunks(t), s"chunk mismatch on: ${t.take(30)}")
    }
  }

  test("mixtureUpsample: integer epochs copy exactly, zero drops, fraction lands in [floor, ceil]") {
    import spark.implicits._
    val docs = (0 until 300).map(i =>
      (i.toLong, if (i < 100) "a" else if (i < 200) "b" else "c")).toDF("doc_id", "src")
    val up = Selection.mixtureUpsample(docs, "doc_id", "src",
      Map("a" -> 3.0, "b" -> 0.0, "c" -> 1.5))
    val bySrc = up.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") == 300L, "e=3.0 must emit exactly 3 copies per doc")
    assert(!bySrc.contains("b"), "e=0 must drop the source entirely")
    assert(bySrc("c") >= 100L && bySrc("c") <= 200L,
      s"e=1.5 must land between 1 and 2 copies per doc: ${bySrc("c")}")
    // per-doc copies are contiguous 1..n_copies
    val bad = up.groupBy("doc_id").agg(count(lit(1)).as("c"), max("copy_idx").as("m"),
      max("n_copies").as("n")).filter(col("c") =!= col("m") || col("m") =!= col("n"))
    assert(bad.count() == 0, "copy_idx must enumerate 1..n_copies")
  }

  test("tokenBudgetCut: keeps the maximal best-score prefix within the budget") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val budget = 5000L
    val got = Selection.tokenBudgetCut(docs, "doc_id", "text",
      col("n_chars").cast("double"), budget)
    val rows = got.orderBy(desc("score"), col("doc_id")).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    assert(total <= budget, s"kept $total tokens > budget $budget")
    assert(rows.last.getLong(3) == total, "cum_tokens of the last kept row is the total")
    // maximality: the single-partition window reference selects the same set
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col("doc_id")).rowsBetween(Long.MinValue, 0)
    val ref = docs.select(col("doc_id"), col("n_chars").cast("double").as("score"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") <= budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == ref,
      "two-pass prefix sum must agree with the window reference")
  }

  test("fuzzyDecontaminate: flags paraphrased leakage, passes unrelated docs") {
    import spark.implicits._
    val benchText = "the capital of france is paris and the capital of italy is rome " +
      "and the capital of spain is madrid and the capital of germany is berlin"
    val leaked = benchText.replace("germany", "austria") // light paraphrase
    val clean = "entirely different content about distributed query engines " +
      "and shuffle partitioning strategies with no benchmark overlap at all"
    val corpus = Seq((100L, leaked), (101L, clean)).toDF("doc_id", "text")
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val flagged = Dedup.fuzzyDecontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged.contains((100L, 1L)), "near-verbatim doc must be flagged")
    assert(!flagged.exists(_._1 == 101L), "unrelated doc must pass")
  }

  test("weightedSample: non-positive weights are excluded, never NaN keys") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 0L), (3L, -5L), (4L, 20L)).toDF("doc_id", "w")
    val out = Selection.weightedSample(docs, "doc_id", col("w"), n = 10)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L), s"zero/negative weights must be excluded: $ids")
    assert(out.filter(col("sample_key").isNaN).count() == 0)
  }

  test("corpusProfile: an all-NULL column still emits its profile row") {
    import spark.implicits._
    val df = Seq((Option.empty[String], 1L), (Option.empty[String], 2L))
      .toDF("cat", "n")
    val rows = Corpus.corpusProfile(df, Seq("cat", "n")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.contains("cat"), "all-null column must not vanish from the profile")
    val cat = rows("cat")
    assert(cat.getLong(1) == 2L && cat.getLong(2) == 2L && cat.getLong(3) == 0L)
    assert(cat.isNullAt(6) && cat.isNullAt(7), "mode of an all-null column is NULL")
  }

  test("attritionReport: each stage's drop count is attributable and the chain is monotone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny"),                                  // dies at min_length
      (2L, "a perfectly reasonable document with many distinct words here"),
      (3L, "a perfectly reasonable document with many distinct words here"), // exact dup of 2
      (4L, "dup dup dup dup dup dup dup dup dup one"), // dies at repetition gate
      (5L, "another fine and unique document full of variety and substance")
    ).toDF("doc_id", "text")
    val rep = Corpus.attritionReport(docs, "doc_id", "text",
        minChars = 10, maxDupWordFrac = 0.5)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rep("raw") == ((5L, 0L)))
    assert(rep("min_length") == ((4L, 1L)), "the short doc dies first")
    assert(rep("exact_dedup") == ((3L, 1L)), "one of the twins dies second")
    assert(rep("repetition_gate") == ((2L, 1L)), "the dup-word doc dies last")
    val ns = Corpus.attritionReport(docs, "doc_id", "text", 10, 0.5)
      .orderBy(col("stage_idx")).collect().map(_.getLong(2))
    assert(ns.sameElements(ns.sorted.reverse), "stage counts must be monotone non-increasing")
  }

  test("corpusProfile: counts, nulls, min/max, and deterministic mode tiebreak") {
    import spark.implicits._
    val df = Seq(
      (Some("b"), 1L), (Some("b"), 2L), (Some("a"), 3L), (Some("a"), 4L),
      (Some("c"), 5L), (None, 6L)
    ).toDF("cat", "n")
    val p = Corpus.corpusProfile(df, Seq("cat", "n")).collect()
      .map(r => r.getString(0) -> r).toMap
    val cat = p("cat")
    assert(cat.getLong(1) == 6L && cat.getLong(2) == 1L, "rows/nulls")
    assert(cat.getLong(3) == 3L, "distinct excludes null")
    assert(cat.getString(4) == "a" && cat.getString(5) == "c", "min/max")
    assert(cat.getString(6) == "a" && cat.getLong(7) == 2L,
      "mode ties (a,b both 2) break to the smallest value")
    val n = p("n")
    assert(n.getString(4) == "1" && n.getString(5) == "6")
  }

  test("cdcChunkStats: an insertion only re-chunks its local neighborhood") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the forest " * 8
    val edited = base.substring(0, 40) + " INSERTED " + base.substring(40)
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val st = Selection.cdcChunkStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // all chunks after the insertion's neighborhood re-sync ⇒ most bytes shared
    assert(st(1L) > 0.5 && st(2L) > 0.5,
      s"CDC must re-synchronize after an edit; shared fractions: $st")
  }

  test("paretoFront: matches the O(n^2) skyline definition on a known fixture") {
    import spark.implicits._
    // (id, x, y): 1 and 4 on the front; 2 dominated by 1; 3 dominated by 4;
    // 5 and 6 are identical points neither of which dominates the other;
    // 7 dominated by the duplicates (equal x, smaller y)
    val pts = Seq((1L, 0.9, 10L), (2L, 0.8, 10L), (3L, 0.5, 15L),
      (4L, 0.6, 20L), (5L, 0.4, 30L), (6L, 0.4, 30L), (7L, 0.4, 29L))
    val got = Selection.paretoFront(pts.toDF("doc_id", "x", "y"), "doc_id", "x", "y")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, bx, by) =>
        (bx > x && by >= y) || (bx >= x && by > y)
      }
    }.map(_._1).toSet
    assert(got == brute && got == Set(1L, 4L, 5L, 6L))
  }

  test("paretoFront: prefix max is partitioning-invariant") {
    import spark.implicits._
    val pts = (1 to 300).map(i => (i.toLong, ((i * 53) % 97).toDouble, ((i * 31) % 89).toLong))
    val df = pts.toDF("doc_id", "x", "y")
    val one = Selection.paretoFront(df.coalesce(1), "doc_id", "x", "y")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val many = Selection.paretoFront(df.repartition(17), "doc_id", "x", "y")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(one == many)
  }

  test("nucleusCut: keeps the smallest descending head reaching p of the mass") {
    import spark.implicits._
    // one group, scores 0.4/0.3/0.2/0.1 (total 1.0), p=0.8:
    // cum_before 0.0/0.4/0.7/0.9 -> keep first three, cut the last
    val items = Seq((1L, "g", 0.4), (2L, "g", 0.3), (3L, "g", 0.2), (4L, "g", 0.1))
    val kept = Selection.nucleusCut(items.toDF("doc_id", "grp", "score"),
      "doc_id", "grp", "score", p = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
    // p=1.0 keeps every positive-score item (cum_before < total strictly)
    val all = Selection.nucleusCut(items.toDF("doc_id", "grp", "score"),
      "doc_id", "grp", "score", p = 1.0)
      .count()
    assert(all == 4)
    // p whose double*10 is inexact at 4 decimals must not throw
    // (regression: BigDecimal(0.7000000000000001).setScale(4) crashed)
    val tiny = Selection.nucleusCut(items.toDF("doc_id", "grp", "score"),
      "doc_id", "grp", "score", p = 0.07)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiny == Set(1L))
    // groups are independent: a second group's mass doesn't shift the first
    val two = items ++ Seq((5L, "h", 9.0), (6L, "h", 1.0))
    val keptTwo = Selection.nucleusCut(two.toDF("doc_id", "grp", "score"),
      "doc_id", "grp", "score", p = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTwo == Set(1L, 2L, 3L, 5L))
  }

  test("temperatureMix: alpha<1 flattens toward uniform without reordering") {
    import spark.implicits._
    // three domains: 80% / 15% / 5% of tokens
    val rows = Seq.fill(80)(("big", 100L)) ++ Seq.fill(15)(("mid", 100L)) ++
      Seq.fill(5)(("small", 100L))
    val got = Selection.temperatureMix(rows.toDF("src", "toks"), "src",
      col("toks"), alpha = 0.7, budgetTokens = 10000L)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val (bigRaw, bigTemp, bigEp) = got("big")
    val (_, midTemp, _) = got("mid")
    val (smallRaw, smallTemp, smallEp) = got("small")
    // flattening: the dominant domain shrinks, the small one grows
    assert(bigTemp < bigRaw && smallTemp > smallRaw)
    // ordering preserved
    assert(bigTemp > midTemp && midTemp > smallTemp)
    // shares still sum to 1
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5)
    // the visible cost: small domains repeat more under a fixed budget
    assert(smallEp > bigEp)
  }

  test("hrwShards: total assignment, and one added shard moves ~1/(n+1) of docs") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val n = docs.count()
    val a16 = Corpus.hrwShards(docs, "doc_id", nShards = 16)
    assert(a16.count() == n)
    val shards16 = a16.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(shards16.values.toSet.subsetOf((0 until 16).toSet))
    val shards17 = Corpus.hrwShards(docs, "doc_id", nShards = 17)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val moved = shards16.count { case (id, s) => shards17(id) != s }
    // HRW minimal disruption: only docs whose new shard-16 hash wins move
    // (expected fraction 1/17 ≈ 5.9%); and every mover lands ON shard 16
    assert(shards16.forall { case (id, s) => shards17(id) == s || shards17(id) == 16 })
    val frac = moved.toDouble / n
    assert(frac > 0.01 && frac < 0.15, s"moved fraction $frac outside [0.01, 0.15]")
  }

  test("neymanSample allocates by N_h*sigma_h: high-variance strata win over equal-size homogeneous ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // three equal-size strata: constant (sigma 0), mild spread, wild spread
    val rows =
      (0 until 100).map(i => (i.toLong, "const", 500L)) ++
      (100 until 200).map(i => (i.toLong, "mild", 500L + (i % 10))) ++
      (200 until 300).map(i => (i.toLong, "wild", 100L * (i % 11)))
    val out = Selection.neymanSample(rows.toDF("doc_id", "source", "n_chars"),
      "doc_id", "source", col("n_chars"), budget = 60L).collect()
    val byStratum = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!byStratum.contains("const"), s"zero-variance stratum must get zero budget: $byStratum")
    assert(byStratum("wild") > byStratum.getOrElse("mild", 0) * 5,
      s"allocation must track sigma, got $byStratum")
    assert(out.length <= 60, "total selection must respect the budget")
    // per-stratum allocation column consistent with realized counts
    out.groupBy(r => (r.getString(1), r.getLong(2))).foreach { case ((_, nAlloc), rs) =>
      assert(rs.length == nAlloc)
    }
    // clamp: a budget larger than the corpus selects everything at most once
    val all = Selection.neymanSample(rows.toDF("doc_id", "source", "n_chars"),
      "doc_id", "source", col("n_chars"), budget = 10000L).collect()
    assert(all.map(_.getLong(0)).distinct.length == all.length)
  }
}
