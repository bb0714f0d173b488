package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness behind SCALING.md's "measured at 4×" tables:
  * builds the perturbed 4× corpus (three near-duplicate copies per
  * document, one token prepended — the adversarial mostly-shared-ngrams
  * case) and times an operator at 1× and 4× in one session. Earlier
  * rounds ran this ad hoc; checked in so the probes are re-runnable.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleProbe [op]
  */
object ScaleProbe {

  /** Copy-id stride for the perturbed corpora. Builders assert the base
    * corpus's max doc_id stays below it — a base id >= the stride would
    * silently collide copies into existing ids and corrupt probe timings. */
  private val idStride = 1000000L

  private def assertIdsBelowStride(docs: DataFrame): Unit = {
    val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
    require(maxId < idStride,
      s"base corpus max doc_id $maxId >= copy stride $idStride — copies would collide")
  }

  /** 4× perturbation: copies c=1..3 prepend "c<c>dup" and shift ids. */
  def perturb4x(docs: DataFrame): DataFrame = {
    assertIdsBelowStride(docs)
    val n = lit(idStride)
    (1 to 3).map(c =>
      docs.select((col("doc_id") + n * c).as("doc_id"),
        concat(lit(s"c${c}dup "), col("text")).as("text"),
        col("source"), col("lang")))
      .foldLeft(docs.select(col("doc_id"), col("text"), col("source"), col("lang")))(_ unionByName _)
  }

  /** 10× EXACT-copy corpus — the real-crawl duplication profile (byte-
    * identical mirrors/reposts dominate). Unlike the prefixed sf1 builder
    * this changes NO text, so content-hash collapse applies: operators
    * that collapse exact copies before pairing (editDistanceConfirm)
    * should scale ~linearly here, while the prefixed corpus measures the
    * output-bound near-dup case. */
  def exactCopies10x(docs: DataFrame): DataFrame = {
    assertIdsBelowStride(docs)
    (0 until 10).map(c =>
      docs.select((col("doc_id") + lit(idStride) * c).as("doc_id"),
        col("text"), col("source"), col("lang")))
      .reduce(_ unionByName _)
  }

  private def time(label: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val rows = body
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s   $rows%9d rows")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val op = args.headOption.getOrElse("simhash_auto")
    // same session config as the bench (GraftSession) so scale A/Bs
    // measure under identical AQE/shuffle settings
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.install(spark)
    val docs = Tables.load(spark, sfDir, "documents").localCheckpoint(true)
    val big = perturb4x(docs).localCheckpoint(true)
    println(s"[probe] corpus 1x=${docs.count()} docs, 4x=${big.count()} docs")
    op match {
      case "simhash_auto" =>
        for (d <- Seq(docs, big)) {
          val n = d.count()
          val bits = operators.Dedup.simhashAutoBits(n)
          time(s"simhash auto (n=$n -> bits=$bits)") {
            operators.Dedup.simhashNearDupPairs(d, "doc_id", "text", maxDist = 2).count()
          }
        }
        // the pinned-16 comparison row (the documented saturation trap)
        for (d <- Seq(docs, big)) {
          val n = d.count()
          time(s"simhash pinned bits=16 (n=$n)") {
            operators.Dedup.simhashBandedPairs(
              operators.Dedup.simhash(d, "doc_id", "text", bits = 16),
              maxDist = 2, bits = 16).count()
          }
        }
      case "sf1exact" =>
        // ---- EXACT-copy 10× fixture (/tmp/sf1x): byte-identical copies
        // under shifted ids — the real-crawl duplication profile, and
        // the regime the q273 dedup recipe targets: exact-collapse
        // merges every copy cluster, so the simhash bucket caps must
        // stay SILENT and the pairing exact at 500k docs (whereas the
        // prefixed /tmp/sf1 copies are NEAR-dups by construction — no
        // exact collapse can merge them, caps must activate there, the
        // q244 diagnosis). Verify + tools/check.py then grade q273
        // against the DuckDB oracle on this dir.
        val sf1x = sys.env.getOrElse("SPARK_GRAFT_SF1X_DIR", "/tmp/sf1x")
        val markerX = new java.io.File(s"$sf1x/.built")
        if (!markerX.exists()) {
          new java.io.File(sf1x).mkdirs()
          assertIdsBelowStride(docs)
          val docs10 = (0 until 10).map(c =>
            docs.select((col("doc_id") + lit(idStride) * c).as("doc_id"),
              col("text"), col("lang"), col("source"), col("n_chars")))
            .reduce(_ unionByName _)
          docs10.repartition(8).write.mode("overwrite")
            .parquet(s"$sf1x/documents.parquet")
          Tables.names.filterNot(_ == "documents").foreach { t =>
            val link = java.nio.file.Paths.get(s"$sf1x/$t.parquet")
            if (!java.nio.file.Files.exists(link))
              java.nio.file.Files.createSymbolicLink(link,
                java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
          }
          markerX.createNewFile()
          ()
        }
        val dx = Tables.load(spark, sf1x, "documents")
        println(s"[probe] sf1exact fixture at $sf1x: ${dx.count()} docs")
        time("q273 dedup recipe on exact-copy 10x (collapse -> simhash)") {
          operators.Dedup.dedupRecipePairs(dx, "doc_id", "text", maxDist = 2)
            .count()
        }
        // the observe metric lands on the async listener bus — poll
        val dl = System.nanoTime() + 15L * 1000000000L
        while (operators.Dedup.CapStats.lastDropped("simhash").isEmpty &&
          System.nanoTime() < dl) Thread.sleep(100)
        val drops = operators.Dedup.CapStats.lastDropped("simhash")
        println(s"[probe] simhash bucket-cap drops on the recipe run: " +
          s"${drops.getOrElse(-1L)} (MUST be 0 — collapse removes the flood at source)")

      case "sf1" =>
        // ---- sf1 rehearsal: 10× documents/embeddings in 8 files each,
        // other tables linked from the base dir; runs the heavy-hitter
        // queries at 1× and 10× and prints the scaling ratios ----
        val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        val marker = new java.io.File(s"$sf1/.built")
        if (!marker.exists()) {
          new java.io.File(sf1).mkdirs()
          assertIdsBelowStride(docs)
          val docs10 = (0 until 10).map(c =>
            docs.select((col("doc_id") + lit(idStride) * c).as("doc_id"),
              (if (c == 0) col("text")
               else concat(lit(s"c${c}rep "), col("text"))).as("text"),
              col("lang"), col("source"), col("n_chars")))
            .reduce(_ unionByName _)
          docs10.repartition(8).write.mode("overwrite")
            .parquet(s"$sf1/documents.parquet")
          val emb = Tables.load(spark, sfDir, "embeddings")
          val emb10 = (0 until 10).map(c =>
            emb.select((col("vec_id") + lit(idStride) * c).as("vec_id"),
              // rotate the vector by c positions so copies decorrelate
              expr(s"concat(slice(embedding, ${c + 1}, size(embedding) - $c), " +
                s"slice(embedding, 1, $c))").as("embedding"),
              // carry every non-vector column (q164 reads `label`)
              col("label")))
            .reduce(_ unionByName _)
          emb10.repartition(8).write.mode("overwrite")
            .parquet(s"$sf1/embeddings.parquet")
          // remaining tables: symlink the sf0.1 parquet (unscaled)
          Tables.names.filterNot(Set("documents", "embeddings")).foreach { t =>
            val link = java.nio.file.Paths.get(s"$sf1/$t.parquet")
            if (!java.nio.file.Files.exists(link))
              java.nio.file.Files.createSymbolicLink(link,
                java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
          }
          marker.createNewFile()
          ()
        }
        val heavy = args.drop(1).headOption match {
          // the FULL sweep: every SparkEntry query at 1x and 10x
          case Some("all") => SparkEntry.queries.keys.toSeq.sorted
          case Some(list) => list.split(",").toSeq
          case None => Seq("q178_adamic_adar", "q58_simhash_hamming",
            "q244_simhash_autopairs", "q158_prefix_jaccard",
            "q115_minhash_estimate", "q150_dedup_consensus",
            "q175_typo_pairs", "q102_gopher_rules", "q89_containment",
            "q217_hits", "q90_editdist_confirm", "q82_curation_pipeline")
        }
        heavy.foreach { name =>
          val fn = SparkEntry.queries(name)
          def run(dir: String): (Double, Long) = {
            val t0 = System.nanoTime()
            val n = try { fn(spark, dir).write.format("noop").mode("overwrite").save(); 0L }
              catch { case e: Throwable =>
                System.err.println(s"[probe] $name@$dir failed: ${e.getMessage}"); -1L }
            ((System.nanoTime() - t0) / 1e9, n)
          }
          val (t1, _) = run(sfDir)
          val (t10, _) = run(sf1)
          println(f"[probe] $name%-28s 1x ${t1}%7.2f s   10x ${t10}%7.2f s   ratio ${t10 / t1}%5.2f")
        }
      case "sf100" =>
        // ---- 100× rehearsal for the PAIR-GRAPH family (the operators
        // whose candidate volume could bend super-linearly): documents
        // scaled 100× with MOSTLY-DISTINCT copies — every 3rd word of
        // copy c is replaced by a token derived from (copy, word), so a
        // 3-word shingle always straddles a replaced word: different-c
        // copies of one doc share NO shingles, and two same-c docs share
        // a replaced shingle only where their ORIGINAL shingles matched
        // (base-corpus similarity, not fixture-added). A first cut used
        // ONE token per copy ('cp<c>tok') and measured the trap it
        // creates: the shared token RAISED within-copy similarity —
        // minhash candidates grew 1370× on 100× input and simhash
        // flooded its buckets (1.09M of 1.5M members capped) — i.e. a
        // correlated-copy corpus, not distinct growth. The md5-derived
        // token removes exactly that correlation (the true scale-up
        // model: growth adds distinct documents; the 100-deep cluster
        // shape is the `lshcap` probe). Records CANDIDATE-COUNT growth
        // vs input growth alongside wall time, caps at defaults — the
        // SCALING.md evidence that candidate volume stays ~linear in
        // corpus size. ----
        val sf100 = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/tmp/sf100")
        val marker100 = new java.io.File(s"$sf100/.built")
        if (!marker100.exists()) {
          new java.io.File(sf100).mkdirs()
          assertIdsBelowStride(docs)
          val copies = (0 until 100).map { c =>
            val text =
              if (c == 0) col("text")
              else expr(
                s"array_join(transform(split(text, ' '), (w, i) -> " +
                  s"IF(i % 3 = 2, concat('cp$c', substring(md5(w), 1, 6)), w)), ' ')")
            docs.select((col("doc_id") + lit(idStride) * c).as("doc_id"),
              text.as("text"), col("lang"), col("source"), col("n_chars"))
          }
          copies.reduce(_ unionByName _).repartition(32)
            .write.mode("overwrite").parquet(s"$sf100/documents.parquet")
          Tables.names.filterNot(_ == "documents").foreach { t =>
            val link = java.nio.file.Paths.get(s"$sf100/$t.parquet")
            if (!java.nio.file.Files.exists(link))
              java.nio.file.Files.createSymbolicLink(link,
                java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
          }
          marker100.createNewFile()
          ()
        }
        val d100 = Tables.load(spark, sf100, "documents").localCheckpoint(true)
        val n1 = docs.count(); val n100 = d100.count()
        println(s"[probe] corpus 1x=$n1 docs, 100x=$n100 docs")
        // candidate-volume growth, caps at defaults
        for ((d, label, n) <- Seq((docs, "1x", n1), (d100, "100x", n100))) {
          time(s"minhash candidates ($label, n=$n)") {
            operators.Dedup.minhashPairs(d, "doc_id", "text").count()
          }
          time(s"simhash candidates ($label, n=$n)") {
            operators.Dedup.simhashNearDupPairs(d, "doc_id", "text", maxDist = 2).count()
          }
        }
        // the graded pair-graph queries end-to-end at both scales
        val pairGraph = args.drop(1).headOption
          .map(_.split(",").toSeq)
          .getOrElse(Seq("q53_jaccard_pairs", "q58_simhash_hamming",
            "q89_containment", "q90_editdist_confirm",
            "q158_prefix_jaccard", "q178_adamic_adar",
            "q244_simhash_autopairs"))
        pairGraph.foreach { name =>
          val fn = SparkEntry.queries(name)
          def run(dir: String): Double = {
            val t0 = System.nanoTime()
            try fn(spark, dir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[probe] $name@$dir failed: ${e.getMessage}") }
            (System.nanoTime() - t0) / 1e9
          }
          val t1 = run(sfDir)
          val t100 = run(sf100)
          println(f"[probe] $name%-28s 1x ${t1}%7.2f s   100x ${t100}%8.2f s   ratio ${t100 / t1}%6.1f (input 100x)")
        }
      case "wide100" =>
        // ---- the round-15 width fix, measured at the boundary that
        // falsified the 32-bit claim: banded pairing over the sf100
        // fixture (500k near-distinct docs; build via `sf100` first) at
        // 32 vs 64 bits. 32-bit chunks (10-11 bits) flood hot values
        // past cap=1024 (announced); 64-bit chunks (21-22 bits) must
        // hold the same corpus with far fewer (ideally zero) capped
        // members. ----
        val sf100w = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/tmp/sf100")
        require(new java.io.File(s"$sf100w/.built").exists(),
          "run `ScaleProbe sf100` first to build the fixture")
        val d100w = Tables.load(spark, sf100w, "documents").localCheckpoint(true)
        val n100w = d100w.count()
        for (b <- Seq(32, 64)) {
          time(s"simhash bits=$b banded pairs (n=$n100w)") {
            operators.Dedup.simhashBandedPairs(
              operators.Dedup.simhash(d100w, "doc_id", "text", bits = b),
              maxDist = 2, bits = b).count()
          }
          Thread.sleep(10000) // the observe metric rides the async bus
          println(s"[probe] bits=$b simhash bucket-cap last dropped: " +
            s"${operators.Dedup.CapStats.lastDropped("simhash").getOrElse(-1L)}")
        }

      case "q275sf1" =>
        // ---- q275 graded at sf1 (round-16): the DuckDB oracle's
        // all-pairs self-join is infeasible at 50k docs (1.25B pairs,
        // each evaluating a 64-wide list_filter twice), so the 10×
        // compare is IN-ENGINE: the banded pairing vs a brute-force
        // cross-join over the SAME signatures — independent join
        // strategies that must agree exactly. Signature semantics are
        // row-local (scale-invariant) and oracle-verified at sf0.01;
        // this validates the BANDED JOIN (chunking, first-agreeing-chunk
        // dedup, caps) at 10× scale. ----
        val sf1q = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        require(new java.io.File(s"$sf1q/.built").exists(),
          "run `ScaleProbe sf1` first to build the fixture")
        val dq = Tables.load(spark, sf1q, "documents")
        val sigs = operators.Dedup.simhash(dq, "doc_id", "text", bits = 64)
          .localCheckpoint(true)
        println(s"[probe] sf1 docs=${sigs.count()}")
        def pairs(df: DataFrame): Seq[(Long, Long, Int)] =
          df.select(col("doc_a"), col("doc_b"), col("dist"))
            .collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
            .sortBy(identity)
        // UNCAPPED banded join: must equal brute force EXACTLY — this
        // validates chunking + first-agreeing-chunk dedup at 10× scale
        var uncapped: Seq[(Long, Long, Int)] = null
        time("q275 banded pairing UNCAPPED (64-bit, maxDist=2) at sf1") {
          uncapped = pairs(operators.Dedup.simhashBandedPairs(sigs,
            maxDist = 2, bits = 64, bucketCap = Int.MaxValue))
          uncapped.size.toLong
        }
        // default-cap run: on THIS fixture (10-deep near-dup clusters ×
        // template similarity) the 1024 cap activates — report the
        // announced drops and the recall delta honestly
        var capped: Seq[(Long, Long, Int)] = null
        time("q275 banded pairing default cap=1024 at sf1") {
          capped = pairs(operators.Dedup.simhashBandedPairs(sigs,
            maxDist = 2, bits = 64))
          capped.size.toLong
        }
        var brute: Seq[(Long, Long, Int)] = null
        time("brute-force cross-join hamming<=2 at sf1 (1.25B pairs)") {
          val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
          val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
          brute = pairs(a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
            .withColumn("dist", expr("hamming_distance(sig_a, sig_b)"))
            .filter(col("dist") <= 2))
          brute.size.toLong
        }
        println(s"[probe] uncapped=${uncapped.size} brute=${brute.size} " +
          s"identical=${uncapped == brute}")
        val missing = brute.toSet -- capped.toSet
        println(s"[probe] default-cap pairs=${capped.size}: ${missing.size} " +
          s"of ${brute.size} true pairs lost to announced bucket caps " +
          f"(${100.0 * missing.size / math.max(1, brute.size)}%.3f%% recall cost)")
        require(uncapped == brute,
          "UNCAPPED banded pairing must equal brute force at sf1")
        require(capped.toSet.subsetOf(brute.toSet),
          "caps may only remove pairs, never invent them")

      case "recipe100" =>
        // ---- the width lesson END-TO-END (round-16): the production
        // RECIPE itself — not bare simhashBandedPairs — at the boundary
        // that falsified the 32-bit pin (sf100: 500k near-distinct docs,
        // so ~500k post-collapse keepers). recipeAutoBits must choose 64
        // and the announced bucket-cap drops must stay <1% of stacked
        // members (the r15 bare-q275 measurement, now through the full
        // collapse -> auto-width -> banded-join plan). ----
        val sf100r = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/tmp/sf100")
        require(new java.io.File(s"$sf100r/.built").exists(),
          "run `ScaleProbe sf100` first to build the fixture")
        val dr = Tables.load(spark, sf100r, "documents").localCheckpoint(true)
        val keepers = dr.select(md5(col("text"))).distinct().count()
        val bitsChosen = operators.Dedup.recipeAutoBits(keepers, maxDist = 2)
        println(s"[probe] sf100 post-collapse keepers=$keepers -> " +
          s"recipeAutoBits=$bitsChosen bits")
        time(s"dedupRecipePairs auto-width (keepers=$keepers, bits=$bitsChosen)") {
          operators.Dedup.dedupRecipePairs(dr, "doc_id", "text", maxDist = 2)
            .count()
        }
        // the probe ENFORCES its contract (a print alone would let a
        // width regression or a missing metric read as a pass)
        require(bitsChosen == 64,
          s"recipeAutoBits must choose 64 at ~500k keepers, got $bitsChosen")
        Thread.sleep(10000) // the observe metric rides the async bus
        val drops100 = operators.Dedup.CapStats.lastDropped("simhash")
          .getOrElse(-1L)
        require(drops100 >= 0, "simhash cap metric never arrived — cannot " +
          "certify the drop bound")
        val stacked = keepers * 3 // maxDist+1 chunk rows per keeper
        val pct = 100.0 * drops100 / stacked
        println(f"[probe] announced simhash bucket-cap drops through the " +
          f"recipe: $drops100%d of ~$stacked%d stacked members " +
          f"($pct%.3f%%) — target <1%%")
        require(pct < 1.0,
          f"auto-width recipe must hold announced drops under 1%% at the " +
            f"500k boundary, measured $pct%.3f%%")

      case "recipe100ckpt" =>
        // ---- the RELIABLE-checkpoint deployment path at the SAME 500k
        // boundary recipe100 certifies (round-16 verdict item 3: the
        // spec exercises checkpointDir on 25 rows; the option exists for
        // the 100 TB run). Same pair count on both substrates, real
        // checkpoint files under the supplied dir, wall-clock delta
        // recorded in SCALING.md — and the retention contract validated:
        // the files REMAIN after the jobs complete (Spark only cleans
        // with spark.cleaner.referenceTracking.cleanCheckpoints). ----
        val sfc = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR", "/tmp/sf100")
        require(new java.io.File(s"$sfc/.built").exists(),
          "run `ScaleProbe sf100` first to build the fixture")
        val drc = Tables.load(spark, sfc, "documents").localCheckpoint(true)
        println(s"[probe] sf100 docs=${drc.count()}")
        def timed(label: String)(body: => Long): (Long, Double) = {
          val t0 = System.nanoTime()
          val rows = body
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[probe] $label%-46s $s%8.2f s   $rows%9d rows")
          (rows, s)
        }
        // untimed warm-up: the first recipe run in a fresh JVM absorbs
        // the md5/simhash codegen JIT — without it the SECOND substrate
        // measured always reads faster and the delta is meaningless
        operators.Dedup.dedupRecipePairs(drc, "doc_id", "text",
          maxDist = 2).count()
        val (nLocal, tLocal) = timed("recipe, default localCheckpoint") {
          operators.Dedup.dedupRecipePairs(drc, "doc_id", "text",
            maxDist = 2).count()
        }
        val ckptDir = java.nio.file.Files
          .createTempDirectory("graft-recipe-ckpt").toString
        val (nReliable, tReliable) = timed("recipe, RELIABLE checkpoint") {
          operators.Dedup.dedupRecipePairs(drc, "doc_id", "text",
            maxDist = 2, checkpointDir = Some(ckptDir)).count()
        }
        require(nLocal == nReliable,
          s"checkpoint substrate must not change results: $nLocal vs $nReliable")
        def walkSize(p: java.io.File): Long =
          if (p.isDirectory)
            Option(p.listFiles).toSeq.flatten.map(walkSize).sum
          else p.length
        val ckptBytes = walkSize(new java.io.File(ckptDir))
        require(ckptBytes > 0L,
          "reliable checkpoint must materialize under the supplied dir")
        println(f"[probe] reliable checkpoint: $ckptBytes%d bytes persist " +
          f"under $ckptDir AFTER both jobs (retention contract: caller " +
          f"cleans or sets a lifecycle rule); overhead " +
          f"${tReliable - tLocal}%.2f s (${100 * (tReliable - tLocal) / tLocal}%.1f%%)")

      case "q90exact" =>
        // the exact-copy blow-up the collapse fixes: k identical copies
        // are O(k²) candidate pairs without it, O(k) rows through the
        // band join with it (pairs re-emitted by expansion, not DP'd)
        val big10 = exactCopies10x(docs).localCheckpoint(true)
        for ((d, label) <- Seq((docs, "1x"), (big10, "10x exact copies"))) {
          time(s"editDistanceConfirm ($label, n=${d.count()})") {
            operators.Dedup.editDistanceConfirm(d, "doc_id", "text", maxRel = 0.4).count()
          }
        }
      case "q90stages" =>
        // stage split of editDistanceConfirm at sf1: candidate-gen alone
        // vs the full pipeline — tells text-join/DP cost from LSH cost
        val sf1d = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        val d = Tables.load(spark, sf1d, "documents").localCheckpoint(true)
        val hashed = d.select(col("doc_id"), col("text"))
          .withColumn("__ch", md5(col("text"))).localCheckpoint(true)
        val reps = hashed.groupBy(col("__ch"))
          .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
          .localCheckpoint(true)
        println(s"[probe] docs=${d.count()} uniqueContent=${reps.count()}")
        time("minhashPairs(reps) only") {
          operators.Dedup.minhashPairs(reps, "doc_id", "text").count()
        }
        time("editDistanceConfirm full") {
          operators.Dedup.editDistanceConfirm(d, "doc_id", "text", maxRel = 0.4).count()
        }
      case "q90deep" =>
        // finer split: candidate pairs + text attach (no DP) vs narrow DP
        // vs the when/otherwise two-tier vs full operator
        val sf1e = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        val d2 = Tables.load(spark, sf1e, "documents").localCheckpoint(true)
        val t2 = d2.select(col("doc_id"), col("text"))
        val cand = operators.Dedup.minhashPairs(d2, "doc_id", "text")
          .localCheckpoint(true)
        println(s"[probe] candidates=${cand.count()}")
        val withTexts = cand
          .join(t2.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
          .join(t2.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        time("text attach only (length sum)") {
          withTexts.agg(sum(length(col("ta")) + length(col("tb")))).collect(); 0L
        }
        time("narrow DP only (threshold 64)") {
          withTexts.withColumn("d", expr("levenshtein(ta, tb, 64)"))
            .agg(sum(col("d"))).collect(); 0L
        }
        time("full-band DP only") {
          withTexts
            .withColumn("b", ceil(greatest(length(col("ta")), length(col("tb"))) * 0.4).cast("int"))
            .withColumn("d", expr("levenshtein(ta, tb, b)"))
            .agg(sum(col("d"))).collect(); 0L
        }
        time("unbounded levenshtein") {
          withTexts.withColumn("d", expr("levenshtein(ta, tb)"))
            .agg(sum(col("d"))).collect(); 0L
        }
      case "q90diag" =>
        val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        for (dir <- Seq(sfDir, sf1)) {
          val d = Tables.load(spark, dir, "documents")
          val cands = operators.Dedup.minhashPairs(d, "doc_id", "text").count()
          val lens = d.agg(avg(length(col("text")))).collect().head.getDouble(0)
          println(f"[probe] $dir: ${d.count()} docs, $cands candidate pairs, avg len $lens%.0f")
        }
      case "lshcap" =>
        // the degenerate-bucket case: an ALL-IDENTICAL corpus puts every
        // document in ONE (band, sig) bucket per band — O(n²) candidate
        // pairs without the cap, O(cap²) with it
        import spark.implicits._
        def same(n: Int) = spark.range(n).select(col("id").as("doc_id"),
          lit("the same exact template text repeated across every document in the corpus").as("text"))
        time("minhashPairs 5k identical UNCAPPED") {
          operators.Dedup.minhashPairs(same(5000), "doc_id", "text",
            bucketCap = Int.MaxValue).count()
        }
        time("minhashPairs 5k identical cap=1024") {
          operators.Dedup.minhashPairs(same(5000), "doc_id", "text").count()
        }
        time("minhashPairs 100k identical cap=1024") {
          operators.Dedup.minhashPairs(same(100000), "doc_id", "text").count()
        }
        time("simhash banded 100k identical cap=1024") {
          operators.Dedup.simhashNearDupPairs(same(100000), "doc_id", "text",
            maxDist = 2).count()
        }
      case "cc_chain" =>
        // the adversarial diameter case: a 1M-vertex CHAIN. Min-label
        // propagation needed O(n) rounds (threw at maxIter before round
        // 8); large-star/small-star contracts it in O(log n) rounds.
        import spark.implicits._
        val n = 1000000L
        val chain = spark.range(n - 1)
          .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        time(s"connectedComponents 1M-vertex chain (distributed)") {
          val cc = operators.Corpus.connectedComponents(
            chain, "doc_a", "doc_b", driverThreshold = 0L)
          val comps = cc.agg(countDistinct(col("cluster"))).collect().head.getLong(0)
          require(comps == 1L, s"chain must be ONE component, got $comps")
          cc.count()
        }
        // a random 1M-edge graph (the typical dedup-pair shape) for the
        // non-adversarial timing point
        val rand = spark.range(n)
          .select((pmod(hash(col("id")), lit(1000000)).cast("long")).as("doc_a"),
            (pmod(hash(col("id") * 31 + 7), lit(1000000)).cast("long")).as("doc_b"))
        time("connectedComponents 1M random edges (distributed)") {
          operators.Corpus.connectedComponents(
            rand, "doc_a", "doc_b", driverThreshold = 0L).count()
        }
      case "adamic_adar" =>
        for (d <- Seq(docs, big)) {
          val n = d.count()
          val pairs = operators.Dedup.minhashPairs(d, "doc_id", "text")
          time(s"adamic-adar (n=$n)") {
            operators.Corpus.adamicAdar(pairs, "doc_a", "doc_b").count()
          }
        }
      case other => sys.error(s"unknown probe op: $other")
    }
    spark.stop()
  }
}
