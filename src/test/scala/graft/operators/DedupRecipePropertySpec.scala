package graft.operators

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Property pinning for the production dedup recipe ([[Dedup
  * .dedupRecipePairs]]): across RANDOM small corpora — mixed exact
  * copies and near-dup variants over a tiny vocabulary — the recipe
  * must equal an INDEPENDENT brute-force oracle computed in plain
  * Scala: collapse by exact text (min id keeper), re-derive each
  * keeper's 32-bit simhash from first principles (per-word md5, hex
  * digit >= '8' votes — the same definition the DuckDB oracle uses,
  * reimplemented here rather than shared with the operator), then
  * enumerate ALL keeper pairs at hamming <= maxDist. The driver's
  * oracle pins exact values on one fixture per scale; this pins the
  * equivalence LAW on corpora adversarial in exactly the recipe's
  * dimensions: duplicate density, shared templates, tiny vocabularies
  * where signature collisions actually occur.
  */
class DedupRecipePropertySpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.streaming.SparkTestSession.spark

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  // a corpus: 4-8 templates of 6-10 words; each template emitted 1-6
  // times as EXACT copies plus 0-2 near-dup variants (last word swapped)
  private val corpus: Gen[Seq[(Long, String)]] = for {
    nTpl <- Gen.chooseNum(4, 8)
    tpls <- Gen.listOfN(nTpl, for {
      len <- Gen.chooseNum(6, 10)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws)
    copies <- Gen.listOfN(nTpl, Gen.chooseNum(1, 6))
    variants <- Gen.listOfN(nTpl, Gen.chooseNum(0, 2))
    swaps <- Gen.listOfN(nTpl, Gen.oneOf(vocab))
  } yield {
    var id = 0L
    val out = Seq.newBuilder[(Long, String)]
    tpls.zip(copies).zip(variants).zip(swaps).foreach {
      case (((ws, nc), nv), sw) =>
        val base = ws.mkString(" ")
        (0 until nc).foreach { _ => out += ((id, base)); id += 1 }
        (0 until nv).foreach { _ =>
          out += ((id, (ws.init :+ sw).mkString(" "))); id += 1 }
    }
    out.result()
  }

  private def samples[A](g: Gen[A], n: Int, seedBase: Long): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, rng.Seed(seedBase + i)))

  /** Independent 32-bit simhash: the oracle definition, from scratch. */
  private def simhash32(text: String): String = {
    val votes = new Array[Int](32)
    text.split(" ").foreach { w =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        w.getBytes("UTF-8"))
      (0 until 32).foreach { j =>
        if (hex.charAt(j) >= '8') votes(j) += 1 else votes(j) -= 1
      }
    }
    votes.map(v => if (v > 0) '1' else '0').mkString
  }

  test("dedupRecipePairs equals the from-scratch collapse + all-pairs " +
      "oracle on random copy-dense corpora (both checkpoint substrates)") {
    graft.functions.Registry.install(spark)
    import spark.implicits._
    val corpora = samples(corpus, 8, 1600L)
    assert(corpora.nonEmpty)
    corpora.zipWithIndex.foreach { case (docs, i) =>
      val df = docs.toDF("doc_id", "text")
      // oracle: exact-collapse in plain Scala, then all keeper pairs
      val keepers = docs.groupBy(_._2).map { case (_, g) =>
        (g.map(_._1).min, g.head._2) }.toSeq
      val sigs = keepers.map { case (id, t) => (id, simhash32(t)) }
        .sortBy(_._1)
      val expected = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = sa.zip(sb).count { case (x, y) => x != y } if d <= 2
      } yield (ia, ib, d)).sorted
      // recipe under BOTH checkpoint substrates — results must not
      // depend on where the collapsed frame materializes
      val ckpt = if (i == 0)
        Some(tempDir("recipe-prop").toString)
      else None
      val got = Dedup.dedupRecipePairs(df, "doc_id", "text", maxDist = 2,
          checkpointDir = ckpt)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
        .sorted.toSeq
      assert(got == expected,
        s"corpus #$i (${docs.size} docs, ${keepers.size} keepers): " +
          s"got ${got.size} pairs, expected ${expected.size}")
    }
  }
}
