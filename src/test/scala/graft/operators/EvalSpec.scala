package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the model-eval operators (Eval.scala) and the round's new
  * codegen string expressions (JaroWinkler, CharEntropy). */
class EvalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinkler.similarity(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("jaro_winkler pins the published reference values") {
    // classic Winkler 1990 examples, cross-checked against DuckDB
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    // boost threshold: jaro <= 0.7 gets NO prefix boost
    assert(jw("abcdefgh", "abzzzzzz") == 0.5)
    // transposition halving floors (abcdef/bcadef: 3 out-of-order -> t=1,
    // jaro = (1 + 1 + 5/6)/3; no common prefix so no Winkler boost)
    assert(math.abs(jw("abcdef", "bcadef") - 0.9444444444444445) < 1e-12)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0 && jw("", "") == 0.0)
    assert(jw("a", "b") == 0.0)
  }

  test("jaro_winkler is symmetric and codegen matches interpreted eval") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val pairs = Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
      ("hello world", "world hello"), ("same", "same"))
    val df = pairs.toDF("a", "b")
      .select(expr("jaro_winkler(a, b)").as("ab"), expr("jaro_winkler(b, a)").as("ba"))
    df.collect().zip(pairs).foreach { case (r, (a, b)) =>
      assert(r.getDouble(0) == r.getDouble(1), s"asymmetric on ($a, $b)")
      assert(r.getDouble(0) == jw(a, b), s"codegen != eval on ($a, $b)")
    }
  }

  private def dl(a: String, b: String): Int =
    graft.functions.DamerauLevenshtein.distance(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("damerau_levenshtein is UNRESTRICTED (Lowrance-Wagner), matching DuckDB") {
    // the case separating full DL from OSA: edit inside a transposition
    assert(dl("CA", "ABC") == 2) // OSA would say 3
    assert(dl("ab", "ba") == 1)
    assert(dl("abcdef", "abcfed") == 2) // DuckDB-pinned
    assert(dl("", "abc") == 3 && dl("abc", "") == 3 && dl("", "") == 0)
    assert(dl("same", "same") == 0)
    // plain edits degrade to levenshtein
    assert(dl("kitten", "sitting") == 3)
    // transposition saves exactly one vs levenshtein
    assert(dl("hte", "the") == 1)
  }

  test("damerau_levenshtein never exceeds levenshtein and respects the length bound") {
    val words = Seq("ring", "rign", "widget", "wigdet", "bolt", "blot",
      "gear", "gaze", "small", "smal", "hot", "host")
    for (a <- words; b <- words) {
      val d = dl(a, b)
      val lev = {
        // classic DP reference
        val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      assert(d <= lev, s"dl($a,$b)=$d > lev=$lev")
      assert(d >= math.abs(a.length - b.length))
      assert(d == dl(b, a), s"asymmetric on ($a,$b)")
    }
  }

  private def ent(s: String): Double =
    graft.functions.CharEntropy.entropy(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  test("char_entropy pins known distributions") {
    assert(ent("") == 0.0)
    assert(ent("aaaa") == 0.0)
    assert(math.abs(ent("abcd") - 2.0) < 1e-12) // uniform over 4 -> 2 bits
    assert(math.abs(ent("hello world") - 2.8453509366224368) < 1e-9)
    // more distinct chars at equal length -> higher entropy
    assert(ent("aabb") < ent("abcd"))
  }

  test("rocAuc: perfect, inverted, and all-tied scores") {
    import spark.implicits._
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("score", "label")
    assert(Eval.rocAuc(perfect, "score", "label").collect()(0).getDouble(2) == 1.0)
    val inverted = Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)).toDF("score", "label")
    assert(Eval.rocAuc(inverted, "score", "label").collect()(0).getDouble(2) == 0.0)
    val tied = Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)).toDF("score", "label")
    assert(Eval.rocAuc(tied, "score", "label").collect()(0).getDouble(2) == 0.5)
  }

  test("rocAuc matches the O(n^2) pairwise definition on a mixed sample") {
    import spark.implicits._
    val rows = Seq(
      (0.9, 1), (0.7, 1), (0.7, 0), (0.6, 1), (0.5, 0),
      (0.5, 0), (0.4, 1), (0.3, 0), (0.3, 0), (0.1, 0))
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val pairwise = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum / (pos.size * neg.size)
    val got = Eval.rocAuc(rows.toDF("score", "label"), "score", "label")
      .collect()(0).getDouble(2)
    assert(math.abs(got - pairwise) < 1e-9, s"got $got expected $pairwise")
  }

  test("rocAuc prefix sum is partitioning-invariant") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (((i * 37) % 100) / 100.0, i % 3 min 1))
    val one = Eval.rocAuc(rows.toDF("score", "label").coalesce(1), "score", "label")
      .collect()(0).getDouble(2)
    val many = Eval.rocAuc(rows.toDF("score", "label").repartition(13), "score", "label")
      .collect()(0).getDouble(2)
    assert(one == many)
  }

  test("triangleStats: known graph — one triangle plus a pendant and an isolate-free star") {
    import spark.implicits._
    // 1-2-3 triangle; 3-4 pendant; 5 hub of star 5-6, 5-7 (no triangles)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 6L), (5L, 7L))
    val got = Corpus.triangleStats(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, round6(1.0 / 3.0))))
    assert(got(4L) == ((1L, 0L, 0.0)))
    assert(got(5L) == ((2L, 0L, 0.0)))
    assert(got(6L) == ((1L, 0L, 0.0)))
    // total triangles = sum(n_tri)/3
    assert(got.values.map(_._2).sum == 3L)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("adamicAdar: scores non-adjacent pairs by rare common neighbors") {
    import spark.implicits._
    // path 1-2-3 plus hub 4 adjacent to 1 and 3:
    // candidate (1,3): common nbrs 2 (deg 2) and 4 (deg 2) -> 2/ln(2)
    // candidate (2,4): common nbrs 1 (deg 2) and 3 (deg 2) -> 2/ln(2)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L))
    val got = Corpus.adamicAdar(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val expected = round6(2.0 / math.log(2.0))
    assert(got.keySet == Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) == ((2L, expected)))
    assert(got((2L, 4L)) == ((2L, expected)))
  }

  test("blocklist_hits: Aho-Corasick matches suffix-overlapping phrases like contains") {
    val phrases = Seq("he", "she", "his", "hers", "hershey")
    val ac = graft.functions.BlocklistHits.build(phrases)
    def naive(t: String): Int = phrases.count(t.contains)
    val texts = Seq("ushers", "hershey bar", "hi", "", "shhe", "hehehe",
      "s h e", "hershe", "xxhisxx", "hers hers hers")
    texts.foreach { t =>
      assert(ac.countDistinct(t) == naive(t), s"mismatch on '$t'")
    }
    // 'ushers' contains he, she, hers — not his/hershey
    assert(ac.countDistinct("ushers") == 3)
  }

  test("blocklist_hits rejects a non-foldable phrases argument at analysis time") {
    import spark.implicits._
    graft.functions.Registry.install(spark)
    val df = Seq(("abc", Seq("a"))).toDF("t", "ps")
    val err = intercept[Exception] {
      df.select(expr("blocklist_hits(t, ps)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"),
      s"expected a foldable-literal analysis error, got: ${err.getMessage}")
    // the literal form works through codegen
    val ok = Seq("she sells hershey").toDF("t")
      .select(expr("blocklist_hits(t, array('he', 'she', 'hers'))").as("n"))
      .collect().head.getInt(0)
    assert(ok == 3)
  }

  test("ksAllPairs: disjoint supports give D=1, identical give D=0, shifted in between") {
    import spark.implicits._
    val rows =
      Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,      // a: {1,2,3}
        "b" -> 4L, "b" -> 5L, "b" -> 6L,        // b: disjoint above a
        "c" -> 1L, "c" -> 2L, "c" -> 3L,        // c: identical to a
        "d" -> 2L, "d" -> 3L, "d" -> 4L)        // d: a shifted by one
    val got = Corpus.ksAllPairs(rows.toDF("g", "v"), "g", col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(got(("a", "b")) == 1.0)
    assert(got(("a", "c")) == 0.0)
    // F_a - F_d peaks at v=1 (1/3 vs 0)
    assert(got(("a", "d")) == round6(1.0 / 3.0))
    // all 6 pairs present
    assert(got.size == 6)
    // fractional values must not collapse (regression: a long cast
    // zeroed D on score-like columns)
    val frac = Seq("p" -> 0.1, "p" -> 0.2, "p" -> 0.3,
      "q" -> 0.7, "q" -> 0.8, "q" -> 0.9)
    val d = Corpus.ksAllPairs(frac.toDF("g", "v"), "g", col("v"))
      .collect()(0).getDouble(4)
    assert(d == 1.0, s"disjoint fractional supports must give D=1, got $d")
  }

  test("attribution: first/last touch, linear credit, lookback cut, zero-touch survival") {
    import spark.implicits._
    val G = 1000000000L
    // user 1: view@10, click@20, purchase@30 -> first view, last click,
    //   credits 0.5/0.5
    // user 2: view@0, purchase@(0 + 8 days) -> view OUTSIDE 7d lookback,
    //   zero-touch conversion survives with nulls
    // user 3: purchase@5 with no touches at all
    // user 4: click@40, purchase@50, view@60 (after conv -> ignored)
    val day = 86400L * G
    val rows = Seq(
      (1L, 10L * G, "view", 101L), (1L, 20L * G, "click", 102L),
      (1L, 30L * G, "purchase", 103L),
      (2L, 0L, "view", 201L), (2L, 8L * day, "purchase", 202L),
      (3L, 5L * G, "purchase", 301L),
      (4L, 40L * G, "click", 401L), (4L, 50L * G, "purchase", 402L),
      (4L, 60L * G, "view", 403L))
    val got = EventsOps.attribution(
      rows.toDF("user_id", "ts", "event_type", "event_id"),
      "user_id", "ts", "event_type", "event_id", "purchase",
      Seq("view", "click"), lookbackNanos = 7L * day)
      .collect().map(r => r.getLong(0) -> r).toMap
    val u1 = got(1L)
    assert(u1.getLong(2) == 2 && u1.getString(3) == "view" &&
      u1.getString(4) == "click")
    assert(u1.getDouble(5) == 0.5 && u1.getDouble(6) == 0.5)
    val u2 = got(2L)
    assert(u2.getLong(2) == 0 && u2.isNullAt(3) && u2.isNullAt(5))
    val u3 = got(3L)
    assert(u3.getLong(2) == 0)
    val u4 = got(4L)
    assert(u4.getLong(2) == 1 && u4.getString(3) == "click" &&
      u4.getString(4) == "click")
    assert(u4.getDouble(5) == 0.0 && u4.getDouble(6) == 1.0)
  }

  test("calibrationBins: bins partition the corpus and ECE parts sum sanely") {
    import spark.implicits._
    val rows = (1 to 1000).map { i =>
      val score = (i % 100) / 100.0
      (score, if (score > 0.5) 1 else 0)
    }
    val bins = Eval.calibrationBins(rows.toDF("score", "label"), "score", "label", 10)
      .collect()
    assert(bins.map(_.getLong(1)).sum == 1000)
    assert(bins.map(_.getInt(0)).toSet == (0 to 9).toSet)
    // bins entirely above the label threshold are perfectly miscalibrated
    // in frac_pos terms: scores ~0.95 all labeled 1 -> frac_pos 1.0
    val top = bins.find(_.getInt(0) == 9).get
    assert(top.getDouble(4) == 1.0)
    val bottom = bins.find(_.getInt(0) == 0).get
    assert(bottom.getDouble(4) == 0.0)
  }

  test("conformalSets: marginal coverage holds at 1 - alpha on an exchangeable synthetic") {
    import spark.implicits._
    // well-specified synthetic: score s, label ~ deterministic-noisy in
    // the score (md5-derived, so the 'randomness' is exchangeable
    // across the md5 calibration split by construction)
    val rows = (0 until 2000).map { i =>
      val s = math.rint(((i * 37) % 1000) / 1000.0 * 10000) / 10000.0
      val u = (graft.Q.md5Bucket32Local(s"lab:$i") % 1000) / 1000.0
      (i.toLong, s, if (u < s) 1 else 0)
    }
    val out = Eval.conformalSets(rows.toDF("doc_id", "score", "label"),
      "doc_id", "score", "label", alpha = 0.1).collect()
    assert(out.nonEmpty)
    val coverage = out.count(_.getBoolean(5)).toDouble / out.length
    assert(coverage >= 0.85,
      f"split-conformal coverage must sit near 1 - alpha = 0.9, got $coverage%.3f")
    // the sets are genuinely selective, not trivially both-labels
    val bothFrac = out.count(r => r.getBoolean(3) && r.getBoolean(4)).toDouble / out.length
    assert(bothFrac < 1.0, "prediction sets must not all contain both labels")
    // alpha bounds validated
    intercept[IllegalArgumentException](
      Eval.conformalSets(rows.toDF("doc_id", "score", "label"),
        "doc_id", "score", "label", alpha = 0.0))
  }

  test("delongAucCompare: a better ranker wins with positive z; identical scores give zero delta and NULL z") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A: clean separator with mild noise; B: the same signal buried in
    // hash noise — A's AUC must dominate and the paired test must say so
    val rows = (0 until 400).map { i =>
      val y = i % 2
      val na = (graft.Q.md5Bucket32Local(s"a:$i") % 100) / 1000.0
      val nb = (graft.Q.md5Bucket32Local(s"b:$i") % 1000) / 1000.0
      (0.5 * y + na, 0.1 * y + nb, y)
    }
    val out = Eval.delongAucCompare(rows.toDF("sa", "sb", "y"), "sa", "sb", "y")
      .collect().head
    val (aucA, aucB, delta, varD) =
      (out.getDouble(2), out.getDouble(3), out.getDouble(4), out.getDouble(5))
    assert(aucA > 0.95 && aucB < aucA, s"auc_a=$aucA auc_b=$aucB")
    assert(math.abs(delta - (aucA - aucB)) < 1e-5)
    assert(varD > 0)
    assert(out.getDouble(6) > 3.0, s"z=${out.getDouble(6)} must flag the better ranker decisively")
    // identical scorers: delta exactly 0, variance exactly 0, z NULL
    val same = Eval.delongAucCompare(
      rows.toDF("sa", "sb", "y").select(col("sa"), col("sa").as("sb2"), col("y")),
      "sa", "sb2", "y").collect().head
    assert(same.getDouble(4) == 0.0 && same.getDouble(5) == 0.0 && same.isNullAt(6))
  }

  test("riskCoverageCurve: monotone coverage, full-coverage risk equals base error, AURC parts sum to area") {
    import spark.implicits._
    // a well-ranked classifier: errors concentrate at low confidence
    val rows = (0 until 400).map { i =>
      val s = i / 400.0
      val y = if (i >= 200) 1 else 0 // decision boundary at 0.5
      // flip labels in the low-confidence band to create errors there
      val yy = if (math.abs(s - 0.5) < 0.1 && i % 3 == 0) 1 - y else y
      (s, yy)
    }
    val curve = Eval.riskCoverageCurve(rows.toDF("score", "label"),
      "score", "label")
      .orderBy(org.apache.spark.sql.functions.col("conf").desc)
      .collect()
    val cov = curve.map(_.getDouble(2))
    assert(cov.zip(cov.tail).forall { case (a, b) => a < b }, "coverage strictly increases")
    assert(math.abs(cov.last - 1.0) < 1e-9)
    val baseErr = rows.count { case (s, y) => (if (s >= 0.5) 1 else 0) != y } / 400.0
    assert(math.abs(curve.last.getDouble(3) - baseErr) < 1e-6,
      "risk at full coverage is the unconditional error rate")
    // risk at high confidence must be 0 here (errors planted low-conf only)
    assert(curve.head.getDouble(3) == 0.0)
    val aurc = curve.map(_.getDouble(4)).sum
    assert(aurc > 0 && aurc < baseErr + 1e-9,
      s"AURC ($aurc) of a better-than-random ranking sits below the base error ($baseErr)")
  }
}
