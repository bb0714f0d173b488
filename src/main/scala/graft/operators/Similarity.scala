package graft.operators

import graft.{Q, Tables}
import graft.Q.QueryFn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]):
  *   - brute-force cosine top-k (exact baseline): broadcast the small
  *    query set against the candidate table — one scan, no shuffle of
  *    the big side, embarrassingly parallel at 100 TB;
  *   - IVF (inverted-file) variant: assign every vector to its nearest
  *    coarse centroid, then search only the query's cell — the candidate
  *    set shrinks by ~nlist×, the standard scale path when brute force
  *    stops fitting the latency budget.
  *
  * Dot products run through `aggregate(zip_with(...))` in whole-stage
  * codegen, on doubles for oracle-exact summation.
  */
object Similarity {

  // codegen'd primitive loop (graft.functions.DotProduct) — same
  // element-order summation as the aggregate(zip_with(...)) fold and the
  // DuckDB list_dot_product oracle, without the per-pair array alloc.
  private val dotQC = "dot_product(qv, cv)"

  /** vectors with double-cast embedding and L2 norm. */
  private def prepared(emb: DataFrame): DataFrame = {
    graft.functions.Registry.install(emb.sparkSession)
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("nrm", expr("sqrt(dot_product(vd, vd))"))
  }

  /** Chunk→document embedding pooling: the mean of each group's vectors,
    * L2-normalized — the standard bridge between chunk-level encoding
    * and document-level retrieval/dedup (long documents are embedded in
    * chunks; search wants one vector per document). Output is the
    * scalar-typed long form, one row per (doc, dim).
    *
    * Dataflow: posexplode to (group, dim, component) → ONE partial-sum
    * aggregate keyed by (group, dim) — map-side combinable, shuffle
    * volume = groups × dims, never raw vectors twice. Component sums and
    * the norm's squared terms go through DECIMAL so the result is
    * order-independent under any partitioning (the house float rule).
    */
  /** (doc_id, dim, m, n): per-group per-dimension mean components — the
    * shared core of [[meanPool]] and [[pooledNearDupPairs]]. DECIMAL
    * sums make every m order-independent. `dim` is 1-based. */
  private def chunkMeans(emb: DataFrame, group: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    emb.select(group.cast("long").as("doc_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .select(col("doc_id"), posexplode(col("vd")).as(Seq("dim0", "x")))
      .groupBy(col("doc_id"), (col("dim0") + 1).as("dim"))
      .agg(sum(col("x").cast(dec)).as("sx"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("dim"),
        (col("sx").cast("double") / col("n")).as("m"), col("n"))
  }

  /** Top principal component of the embedding covariance by power
    * iteration — the first step of PCA whitening / ABTT ("all-but-the-
    * top", Mu & Viswanath 2018): embedding sets concentrate along a few
    * dominant directions, and retrieval/dedup quality improves when the
    * top component is inspected (high explained-variance = anisotropic
    * space) or projected out. Output: the d loadings plus the top
    * eigenvalue and its explained-variance share of the trace.
    *
    * Dataflow: covariance via ONE row-local outer-product expansion
    * (each row emits its d² products, map-side combined to d² partial
    * sums — the corpus shuffles nothing but those partials; no
    * row×row join anywhere), then `iters` matrix-vector rounds against
    * the d²-row C — each one broadcast-join of the d-row vector + one
    * aggregation, localCheckpoint per round ([[graft.operators.Corpus.pageRank]]
    * discipline). Driver never holds C. d² partials bound shuffle
    * volume at any corpus size (d = 4096 → 16M partials, still tiny
    * next to the data).
    *
    * Engine-exact: float→double casts are exact, per-term products go
    * through DECIMAL(38,18) sums, each iterate rounds to 12 places
    * after the L2 normalize, and the expression trees mirror the
    * unrolled oracle text (multiplication order included).
    */
  def topPrincipalComponent(emb: DataFrame, dim: Int,
      iters: Int): DataFrame = {
    require(dim > 0 && iters > 0, s"need dim/iters > 0, got $dim/$iters")
    val spark = emb.sparkSession
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val dec18 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 18)
    val n = emb.count()
    val vd = emb.select(
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
    // mu and sxx checkpoint BEFORE the C join: both are dim-bounded
    // (d and d² rows), and joining the live aggregation pipelines made
    // the planner re-execute the corpus-scale explodes inside the join
    // (measured 14s for a 4096×64 join; checkpointed inputs: 0.4s)
    val mu = vd.select(posexplode(col("vd")).as(Seq("j0", "x")))
      .groupBy((col("j0") + 1).as("j"))
      .agg((sum(col("x").cast(dec12)).cast("double") / count(lit(1))).as("mu"))
      .localCheckpoint(true)
    // Second moments via per-partition UPPER-TRIANGLE accumulators
    // (genuine per-partition imperative logic — the explode+hash-agg
    // form paid ~10× per element in row/hash machinery and 20M
    // BigDecimal allocations; measured 13s → ~2s at sf0.1). Each task
    // folds its rows into d(d+1)/2 exact DECIMAL cells — the SAME
    // per-term semantics as the oracle's CAST(prod AS DECIMAL(38,18))
    // (valueOf = shortest-repr, HALF_UP at scale 18; decimal addition
    // exact ⇒ order-independent) — and emits one bounded partial per
    // partition; the mirror to the full matrix is exact because
    // double multiplication commutes. Shuffle volume: partitions × d²
    // cells, independent of row count.
    import java.math.{BigDecimal => JBD, RoundingMode}
    val dimB = dim
    val triRdd = emb.select(col("embedding")).rdd.mapPartitions { it =>
      val nTri = dimB * (dimB + 1) / 2
      val acc = Array.fill[JBD](nTri)(JBD.ZERO)
      var any = false
      val x = new Array[Double](dimB)
      it.foreach { r =>
        val arr = r.getSeq[Float](0)
        var i0 = 0
        while (i0 < dimB) { x(i0) = arr(i0).toDouble; i0 += 1 }
        var idx = 0
        var j0 = 0
        while (j0 < dimB) {
          var k0 = j0
          while (k0 < dimB) {
            acc(idx) = acc(idx).add(
              JBD.valueOf(x(j0) * x(k0)).setScale(18, RoundingMode.HALF_UP))
            idx += 1
            k0 += 1
          }
          j0 += 1
        }
        any = true
      }
      if (!any) Iterator.empty
      else {
        var out = List.empty[(Int, Int, JBD)]
        var idx = 0
        var j0 = 0
        while (j0 < dimB) {
          var k0 = j0
          while (k0 < dimB) {
            out = (j0 + 1, k0 + 1, acc(idx)) :: out
            idx += 1
            k0 += 1
          }
          j0 += 1
        }
        out.iterator
      }
    }
    val tri = spark.createDataFrame(triRdd).toDF("j", "k", "p")
      .groupBy(col("j"), col("k"))
      .agg(sum(col("p").cast(dec18)).as("sxx"))
    val sxx = tri.unionByName(
        tri.filter(col("j") =!= col("k"))
          .select(col("k").as("j"), col("j").as("k"), col("sxx")))
      .localCheckpoint(true)
    val cmat = sxx
      .join(mu.select(col("j"), col("mu").as("mu_j")), "j")
      .join(mu.select(col("j").as("k"), col("mu").as("mu_k")), "k")
      .select(col("j"), col("k"),
        ((col("sxx").cast("double") - lit(n) * col("mu_j") * col("mu_k")) /
          (lit(n) - lit(1L))).as("c"))
      .localCheckpoint(true)
    // The ITERATE lives on the driver: C is d² doubles — an
    // embedding-dim MODEL CONSTANT, not data scale (d = 1024 ⇒ 8 MB,
    // the explicit bound below; beyond it the distributed join loop
    // takes over) — so after the one corpus-scale aggregation above,
    // power iteration is pure bounded local math instead of 8 rounds
    // of join+norm+checkpoint job chains (each round was costing ~1.5s
    // of plan/codegen/scheduling overhead on 4096 rows). Driver
    // arithmetic mirrors the oracle's engine semantics exactly:
    // DECIMAL(·,18) HALF_UP per term, exact decimal addition, round-12
    // HALF_UP iterates — BigDecimal.valueOf is the same shortest-repr
    // conversion Spark's round() and DuckDB's CAST use. The oracle
    // hash-verifies this path end to end.
    import java.math.{BigDecimal => JBD, RoundingMode}
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    def d18(x: Double) = JBD.valueOf(x).setScale(18, RoundingMode.HALF_UP)
    if (dim <= 1024) {
      val c = Array.ofDim[Double](dim, dim)
      cmat.collect().foreach { r =>
        c(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDouble(2)
      }
      var i = 0
      while (i < iters) {
        val wd = Array.tabulate(dim) { j0 =>
          var acc = JBD.ZERO
          var k0 = 0
          while (k0 < dim) {
            acc = acc.add(d18(c(j0)(k0) * v(k0))); k0 += 1
          }
          acc.doubleValue
        }
        val nrm = math.sqrt(
          wd.foldLeft(JBD.ZERO)((a, x) => a.add(d18(x * x))).doubleValue)
        v = wd.map(x =>
          JBD.valueOf(x / nrm).setScale(12, RoundingMode.HALF_UP).doubleValue)
        i += 1
      }
      var lam = JBD.ZERO
      var tr = JBD.ZERO
      var j0 = 0
      while (j0 < dim) {
        var k0 = 0
        while (k0 < dim) {
          lam = lam.add(d18(c(j0)(k0) * v(j0) * v(k0))); k0 += 1
        }
        tr = tr.add(d18(c(j0)(j0)))
        j0 += 1
      }
      import spark.implicits._
      val lamD = lam.doubleValue
      val trD = tr.doubleValue
      v.zipWithIndex.map { case (x, i0) => (i0 + 1L, x) }.toSeq
        .toDF("j", "loading")
        .select(col("j"), col("loading"),
          round(lit(lamD), 6).as("eigenvalue"),
          round(lit(lamD) / lit(trD), 6).as("explained_var"))
    } else {
      // distributed fallback: identical arithmetic as joins against the
      // d-row vector, one round per iteration
      def vecLit(vv: Array[Double]) = array(vv.map(lit): _*)
      var i = 0
      while (i < iters) {
        val w = cmat
          .select(col("j"),
            (col("c") * element_at(vecLit(v), col("k"))).cast(dec18).as("t"))
          .groupBy(col("j")).agg(sum(col("t")).as("w"))
          .collect().map(r => (r.getInt(0), r.getDecimal(1))).toMap
        val wd = Array.tabulate(dim)(j0 => w(j0 + 1).doubleValue)
        val nrm = math.sqrt(
          wd.foldLeft(JBD.ZERO)((a, x) => a.add(d18(x * x))).doubleValue)
        v = wd.map(x =>
          JBD.valueOf(x / nrm).setScale(12, RoundingMode.HALF_UP).doubleValue)
        i += 1
      }
      val lamTr = cmat.agg(
        sum((col("c") * element_at(vecLit(v), col("j")) *
          element_at(vecLit(v), col("k"))).cast(dec18)).as("l"),
        sum(when(col("j") === col("k"), col("c").cast(dec18))).as("t"))
      import spark.implicits._
      v.zipWithIndex.map { case (x, i0) => (i0 + 1L, x) }.toSeq
        .toDF("j", "loading")
        .crossJoin(broadcast(lamTr))
        .select(col("j"), col("loading"),
          round(col("l").cast("double"), 6).as("eigenvalue"),
          round(col("l").cast("double") / col("t").cast("double"), 6)
            .as("explained_var"))
    }
  }

  def meanPool(emb: DataFrame, group: Column): DataFrame = {
    val mean = chunkMeans(emb, group)
    val nrm = mean.groupBy(col("doc_id"))
      .agg(sqrt(sum((col("m") * col("m")).cast(
        org.apache.spark.sql.types.DataTypes.createDecimalType(38, 18)))
        .cast("double")).as("nrm"))
    mean.join(nrm, "doc_id")
      .select(col("doc_id"), col("dim").cast("long").as("dim"),
        round(col("m") / col("nrm"), 6).as("pooled"),
        col("n").as("n_chunks"))
  }

  /** Document-level near-dup over POOLED chunk embeddings — [[meanPool]]
    * composed with the hyperplane-LSH pair dataflow ([[cosineLshPairs]]):
    * the end-to-end shape a long-document pipeline runs (chunks are
    * encoded, documents are deduped). Pooled means concentrate, so the
    * cosine bar and band width sit LOWER than raw-vector near-dup —
    * the default here buckets moderate similarity; widen bitsPerBand
    * ~log(n) at scale exactly like q62.
    */
  def pooledNearDupPairs(emb: DataFrame, group: Column, bands: Int,
      bitsPerBand: Int, threshold: Double): DataFrame = {
    val vecs = chunkMeans(emb, group)
      .groupBy(col("doc_id")).agg(expr(
        "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("embedding"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    cosineLshPairs(vecs, bands, bitsPerBand, threshold)
  }

  /** Hard-negative mining — the contrastive-training data step: for each
    * anchor, the top-k most similar candidates INSIDE a cosine band
    * [lo, hi) — similar enough to be informative negatives, strictly
    * below the near-duplicate bar (a positive leaking in as a negative
    * poisons the loss). Same broadcast-anchor scan as [[bruteForceKnn]];
    * at corpus scale compose the band filter onto the IVF probe path
    * ([[probeIvfIndex]]) instead of the full scan.
    */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int,
      lo: Double, hi: Double): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    val v = prepared(emb)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= lo && col("cos") < hi)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rnk"))
  }

  /** Exact top-k cosine neighbors for every vec_id < nQueries. */
  def bruteForceKnn(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val v = prepared(emb)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"))
    val c = v.select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rnk"))
  }

  /** IVF search: nList coarse centroids (the first nList vectors), each
    * vector assigned to its max-cosine cell, queries probe only their own
    * cell. Returns top-k within-cell neighbors per query.
    */
  def ivfKnn(emb: DataFrame, nList: Int, nQueries: Int, k: Int): DataFrame = {
    val v = prepared(emb)
    val cents = v.filter(col("vec_id") < nList)
      .select(col("vec_id").as("centroid_id"), col("vd").as("qv"), col("nrm").as("qn"))
    val assignScored = v.filter(col("vec_id") >= nList)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val wAssign = Window.partitionBy(col("cid")).orderBy(col("ccos").desc, col("centroid_id"))
    val assigned = assignScored.withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("cid"), col("cv"), col("cn"), col("centroid_id").as("cell"))
    val queries = assigned.filter(col("cid") >= nList && col("cid") < nList + nQueries)
      .select(col("cid").as("qid"), col("cv").as("qv"), col("cn").as("qn"), col("cell"))
    val scored = assigned.join(broadcast(queries), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cell"), col("cid"), col("cos"), col("rnk"))
  }

  /** One deterministic Lloyd iteration of KMeans — the hash-verifiable
    * core of the engine-specific [[fitQuantizer]] path (q67): seed
    * centroids are the first `k` vectors (the q61 convention, so a SQL
    * oracle reproduces them), every remaining vector joins its
    * argmax-cosine centroid (round-6 ties broken by centroid id), and
    * the updated centroid is the per-dimension mean of its members,
    * emitted in scalar long form (cell, dim, cval, n_members).
    *
    * Dataflow: the k centroids fold into ONE row (collect_list, bounded
    * by k — quantizer-small by contract) that broadcasts against the
    * corpus scan, and the argmax is a row-local `transform`+`array_max`
    * fold (max over (cos, −id) structs = q61's DESC-cos/ASC-id
    * tie-break) — the vectors NEVER shuffle to be assigned. The update
    * is then ONE partial aggregation keyed by (cell, dim) — map-side
    * combinable, so total shuffle volume is k·dims rows regardless of
    * corpus size. This is exactly the treeAggregate round MLlib's
    * KMeans runs per iteration; component sums ride DECIMAL(38,12)
    * (the house float rule) so the means are order-independent under
    * any partitioning.
    */
  def kmeansLloydStep(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be at least 1, got $k")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val v = prepared(emb)
    // no sort needed: the argmax below is a commutative max over
    // (cos, -id) structs, so collect_list order cannot affect it
    val cents = v.filter(col("vec_id") < k)
      .agg(expr("collect_list(struct(vec_id AS id, vd AS cv, nrm AS cn))")
        .as("cents"))
    v.filter(col("vec_id") >= k)
      .crossJoin(broadcast(cents))
      .withColumn("cell", expr(
        "-array_max(transform(cents, c -> struct(" +
          "round(dot_product(c.cv, vd) / (c.cn * nrm), 6) AS cos, " +
          "-c.id AS nid))).nid"))
      .select(col("cell"), posexplode(col("vd")).as(Seq("dim0", "x")))
      .groupBy(col("cell"), (col("dim0") + 1).cast("long").as("dim"))
      .agg(sum(col("x").cast(dec)).as("sx"), count(lit(1)).as("n"))
      .select(col("cell"), col("dim"),
        round(col("sx").cast("double") / col("n"), 6).as("cval"),
        col("n").as("n_members"))
  }

  /** One deterministic logistic-gradient step — the hash-verifiable
    * inner iterate of the LBFGS training path (TextAnalysis q107, whose
    * converged coefficients stay engine-specific): at w = 0 every
    * prediction is σ(0) = ½, so the mean log-loss gradient is
    * g_j = Σᵢ (½ − yᵢ)·xᵢⱼ / n, and the first update is w_j = −lr·g_j.
    * Labels derive from vec_id parity — deterministic in any engine.
    *
    * Dataflow: one explode to (dim, contribution) and one partial-sum
    * aggregation — map-side combinable, shuffle = dims rows independent
    * of corpus size (the same shape MLlib runs as treeAggregate).
    * Contributions ride DECIMAL(38,12) for order-independent sums.
    */
  def logisticGradStep(emb: DataFrame, lr: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val pts = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("resid", lit(0.5) - (col("vec_id") % 2).cast("double"))
    pts.select(col("resid"), posexplode(col("vd")).as(Seq("dim0", "x")))
      .groupBy((col("dim0") + 1).cast("long").as("dim"))
      .agg(sum((col("resid") * col("x")).cast(dec)).as("sg"), count(lit(1)).as("n"))
      .select(col("dim"),
        round(col("sg").cast("double") / col("n"), 6).as("grad"),
        round(lit(-lr) * (col("sg").cast("double") / col("n")), 6).as("w1"),
        col("n"))
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al. 2009, the default fusion in every
    * lexical+semantic RAG stack): each ranking contributes
    * 1/(kRrf + rank) and the sum re-ranks, rewarding documents that
    * BOTH retrievers surface without comparing their incommensurable
    * scores. Fuses the exact cosine ranking ([[bruteForceKnn]]) with a
    * lexical word-set Jaccard ranking computed in the same
    * broadcast-query shape.
    *
    * Dataflow: two broadcast-scan rankings (no shuffle of the corpus
    * side), one (qid, did)-keyed outer join of two k-bounded lists,
    * one window over ≤ 2k rows per query. At scale swap the
    * brute-force legs for the IVF probe ([[probeIvfIndex]]) and a
    * BM25 index — the fusion step itself never sees corpus-sized data.
    */
  def rrfFusion(emb: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, nQueries: Int, k: Int, topK: Int,
      kRrf: Int = 60): DataFrame = {
    val cos = bruteForceKnn(emb, nQueries, k)
      .select(col("qid"), col("cid").as("did"), col("rnk").as("rnk_cos"))
    val sets = docs.select(col(idCol).as("did"),
      expr(s"array_distinct(split(`$textCol`, ' '))").as("wset"))
    val q = sets.filter(col("did") < nQueries)
      .select(col("did").as("qid"), col("wset").as("qset"))
    val lexScored = sets.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("did"))
      .withColumn("inter",
        size(array_intersect(col("qset"), col("wset"))).cast("double"))
      .withColumn("jac", round(col("inter") /
        (size(col("qset")) + size(col("wset")) - col("inter")), 6))
    val wLex = Window.partitionBy(col("qid")).orderBy(col("jac").desc, col("did"))
    val lex = lexScored.withColumn("rnk_lex", row_number().over(wLex))
      .filter(col("rnk_lex") <= k)
      .select(col("qid"), col("did"), col("rnk_lex"))
    val fused = cos.join(lex, Seq("qid", "did"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("rnk_cos")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rnk_lex")), lit(0.0)), 6))
    val wF = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("did"))
    fused.withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("did"), col("rrf"), col("rnk"))
  }

  /** Shared KMeans coarse quantizer: deterministic-seed centroids
    * (centroid_id, qv, qn) plus the argmax-cosine scoring frame every
    * caller derives assignments/probes from — ONE implementation, so the
    * in-memory search ([[ivfKnnKMeans]]) and the persisted index
    * ([[buildIvfIndex]]) can never drift apart. */
  private def fitQuantizer(emb: DataFrame, nList: Int, seed: Long)
      : (DataFrame, DataFrame, org.apache.spark.sql.expressions.WindowSpec) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .as[(Long, Seq[Double])]
      .map { case (id, e) => (id, Vectors.dense(e.toArray)) }
      .toDF("vec_id", "features")
    val model = new KMeans().setK(nList).setSeed(seed).setMaxIter(20)
      .setFeaturesCol("features").fit(vecs)
    graft.functions.Registry.install(spark)
    val cents = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("centroid_id", "qv")
      .withColumn("qn", expr("sqrt(dot_product(qv, qv))"))
    val cand = prepared(emb)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val assignScored = cand.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dotQC) / (col("qn") * col("cn")))
    val wAssign = Window.partitionBy(col("cid")).orderBy(col("ccos").desc, col("centroid_id"))
    (cents, assignScored, wAssign)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019) — the
    * cross-lingual pair miner used to build translation training data
    * and to surface cross-lingual near-duplicates/contamination: raw
    * cosine is a poor mining score because some vectors sit in dense
    * "hub" regions where EVERYTHING is close, so each candidate pair
    * (x, y) is scored by the RATIO margin
    * `cos(x,y) / (meanK(x→Y)/2 + meanK(y→X)/2)` — similarity relative
    * to what each side's neighborhood makes cheap.
    *
    * Dataflow: one X×Y cosine table (X side broadcast — at corpus
    * scale swap the candidate generation for [[probeIvfIndex]] /
    * banded LSH exactly like the monolingual dedup family; the margin
    * arithmetic is unchanged), materialized once and read three ways:
    * forward top-k candidates, per-x and per-y top-k neighborhood
    * means (DECIMAL sums of the 6dp cosines, so the means are
    * order-independent). Global top-N plans TakeOrderedAndProject,
    * never a full sort.
    */
  def marginBitextPairs(emb: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String, langX: String, langY: String, k: Int = 4,
      topN: Int = 50): DataFrame = {
    require(k >= 1 && topN >= 1, s"need k >= 1 and topN >= 1, got $k, $topN")
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
    val v = prepared(emb)
      .join(labels.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).as("__lng")), "vec_id")
    val xs = v.filter(col("__lng") === langX)
      .select(col("vec_id").as("xid"), col("vd").as("qv"), col("nrm").as("qn"))
    val ys = v.filter(col("__lng") === langY)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val scored = ys.crossJoin(broadcast(xs))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
      .select(col("xid"), col("cid"), col("cos"))
      .localCheckpoint(true) // read by candidates + both neighborhood means
    val wX = Window.partitionBy(col("xid")).orderBy(col("cos").desc, col("cid"))
    val wY = Window.partitionBy(col("cid")).orderBy(col("cos").desc, col("xid"))
    // mean over the ACTUAL neighbor count (count(*) within the top-k
    // group, not the constant k): a side with fewer than k counterparts
    // would otherwise deflate its neighborhood mean and inflate margins —
    // Artetxe & Schwenk's margin uses the mean over retrieved neighbors
    val mx = scored.withColumn("rn", row_number().over(wX))
      .filter(col("rn") <= k).groupBy(col("xid"))
      .agg(round(sum(col("cos").cast(dec12)).cast("double") / count(lit(1)), 6).as("mx"))
    val my = scored.withColumn("rn", row_number().over(wY))
      .filter(col("rn") <= k).groupBy(col("cid"))
      .agg(round(sum(col("cos").cast(dec12)).cast("double") / count(lit(1)), 6).as("my"))
    val cands = scored.withColumn("rn", row_number().over(wX))
      .filter(col("rn") <= k).drop("rn")
    val ranked = cands.join(mx, "xid").join(my, "cid")
      .withColumn("margin",
        round(col("cos") / (lit(0.5) * col("mx") + lit(0.5) * col("my")), 6))
      .orderBy(col("margin").desc, col("xid"), col("cid"))
      .limit(topN)
    ranked
      .withColumn("rank", row_number().over( // ≤ topN rows by now
        Window.orderBy(col("margin").desc, col("xid"), col("cid"))))
      .select(col("rank"), col("xid"), col("cid"), col("cos"), col("margin"))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    * top-k selection balancing relevance to a query against redundancy
    * with what is already selected — argmax of
    * λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s). The standard diversifier
    * for retrieval results and for picking representative exemplars
    * out of near-dup clusters.
    *
    * MMR is INHERENTLY sequential (each pick changes the next argmax),
    * so the operator runs k distributed rounds: relevance is computed
    * once and cached; each round broadcasts the ≤k selected vectors,
    * takes the per-candidate max similarity in one map-side aggregate,
    * and TakeOrdered(1) picks the argmax (deterministic tiebreak on
    * vec_id) — the corpus never shuffles and never collects. k actions
    * of one scan each is the honest cost of the greedy; the cache is
    * explicitly unpersisted on exit.
    *
    * Graded against an UNROLLED k-round argmax oracle (each round a
    * MATERIALIZED CTE picking `ORDER BY score DESC, cid LIMIT 1`
    * against the union of earlier rounds) — safe because every score
    * is the same IEEE expression tree in the same element order in
    * both engines (the q60 property). The brute-force parity spec in
    * OperatorsSpec additionally pins the semantics.
    */
  def mmrSelect(emb: DataFrame, queryId: Long, k: Int,
      lambda: Double): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = emb.sparkSession
    import spark.implicits._
    // a zero-norm vector's cosine is 0/0 = NaN, and NaN sorts FIRST
    // under desc — one degenerate row would win every argmax round.
    // Exclude them: they carry no direction to be similar or diverse in.
    val base = prepared(emb)
      .filter(col("nrm") > 0)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val qdf = base.filter(col("cid") === queryId)
      .select(col("cv").as("qv"), col("cn").as("qn"))
    // Round-17 (guide §1.2): the redundancy term max_{s∈S} cos(d,s) is
    // carried INCREMENTALLY — each round folds the ONE newly selected
    // vector into a running `msim` column (greatest is associative and
    // exact on doubles, so round i's msim is value-identical to the old
    // batch max over picks 1..i−1; argmax trajectory and graded output
    // unchanged — verified vs the same unrolled oracle and the
    // brute-force parity spec). The selected vector enters the fold as a
    // PLAN LITERAL read off the argmax row itself — the argmax head(1)
    // projects (cv, cn) along, so each round is ONE job, no broadcast
    // build, no self-referential subtree. (Two rejected shapes, both
    // measured: re-crossing with all of S is O(k²·n) dot products; a
    // `broadcast(cur.filter(...))` pick embeds the previous frame's plan
    // TWICE per round — exponential plan growth, OOM in explainString at
    // k = 10.) The lazily persisted chain stays k projections deep
    // (linear); the stale copy is unpersisted only after the argmax job
    // has materialized its successor.
    var cur = base.filter(col("cid") =!= queryId)
      .crossJoin(broadcast(qdf))
      .withColumn("rel", expr(dotQC) / (col("qn") * col("cn")))
      .select(col("cid"), col("cv"), col("cn"), col("rel"),
        lit(null).cast("double").as("msim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // superseded-but-not-yet-released frame: must outlive its successor's
    // first action (unpersisting a lazy parent early forces a lineage
    // recompute cascade), but must ALSO be released if that action throws
    // — otherwise a failed round leaks a disk-backed cache for the life
    // of the session. Cleared in-loop on success, drained in the finally.
    var stale: DataFrame = null
    try {
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
      var lastVec: Seq[Double] = null
      var lastNorm = 0.0
      var lastId = 0L
      var i = 0
      var exhausted = false
      while (i < k && !exhausted) {
        if (i > 0) {
          val next = cur.filter(col("cid") =!= lastId)
            .withColumn("__sim",
              call_function("dot_product", col("cv"), typedlit(lastVec)) /
                (col("cn") * lit(lastNorm)))
            .select(col("cid"), col("cv"), col("cn"), col("rel"),
              when(col("msim").isNull, col("__sim"))
                .otherwise(greatest(col("msim"), col("__sim"))).as("msim"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          stale = cur
          cur = next
        }
        val scored = cur.withColumn("mmr",
          when(col("msim").isNull, col("rel") * lambda)
            .otherwise(col("rel") * lambda - col("msim") * (1 - lambda)))
        scored.orderBy(col("mmr").desc, col("cid"))
          .select(col("cid"), col("rel"), col("mmr"), col("cv"), col("cn"))
          .head(1) match {
          case Array(row) =>
            selected += ((row.getLong(0), row.getDouble(1), row.getDouble(2)))
            lastId = row.getLong(0)
            lastVec = row.getSeq[Double](3)
            lastNorm = row.getDouble(4)
          case _ => exhausted = true
        }
        if (stale != null) { stale.unpersist(); stale = null }
        i += 1
      }
      selected.toSeq.zipWithIndex
        .map { case ((id, r, m), idx) => (idx + 1, id, r, m) }
        .toDF("rank", "vec_id", "rel", "mmr")
        .select(col("rank"), col("vec_id"),
          round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
    } finally {
      if (stale != null) stale.unpersist()
      cur.unpersist(); ()
    }
  }

  /** Greedy k-center (farthest-point traversal): pick the point
    * farthest (in cosine distance) from everything selected so far, k
    * times — the classic 2-approximation coreset that MAXIMIZES spread,
    * where [[mmrSelect]] balances spread against a query. The
    * training-data use: a diverse exemplar subset for labeling/eval
    * out of a deduped pool.
    *
    * Same k-round distributed shape as MMR (cached candidates, ≤k
    * selected vectors broadcast per round, TakeOrdered(1) argmax,
    * explicit unpersist); seeded deterministically at the smallest
    * vec_id so the whole trajectory is reproducible. Graded against
    * the same unrolled-argmax oracle shape as [[mmrSelect]]; the
    * brute-force parity spec additionally pins it.
    */
  def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    // zero-norm guard: see mmrSelect — a NaN cosine would win every
    // farthest-point argmax
    // NOT persisted: `cur` (base + null msim) is persisted immediately
    // below and is the only consumer — a separate persist on `base` was
    // never released (every call leaked the full candidate frame for the
    // session's lifetime; disk-backed blocks are not LRU-evicted).
    val base = prepared(emb)
      .filter(col("nrm") > 0)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    // Round-17 (guide §1.2): same incremental-fold rewrite as
    // [[mmrSelect]] — dist-to-set is 1 − max_{s∈S} cos, so the running
    // max(sim) folds ONE newly selected vector per round, entering as a
    // plan literal read off the previous argmax row (greatest is exact
    // on doubles → identical trajectory and output; brute-force parity
    // spec unchanged). O(k·n) instead of O(k²·n) dot products, one job
    // per round, linear plan depth (see mmrSelect for the two rejected
    // shapes).
    var cur = base.withColumn("msim", lit(null).cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // see mmrSelect: superseded frame released in-loop on success,
    // drained by the finally on the exception path
    var stale: DataFrame = null
    try {
      val seed = cur.orderBy(col("cid"))
        .select(col("cid"), col("cv"), col("cn")).head(1)
      if (seed.isEmpty) return Seq.empty[(Int, Long, Double)]
        .toDF("rank", "vec_id", "dist_to_set")
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Double)](
        (seed(0).getLong(0), Double.NaN))
      var lastId = seed(0).getLong(0)
      var lastVec: Seq[Double] = seed(0).getSeq[Double](1)
      var lastNorm = seed(0).getDouble(2)
      var exhausted = false
      while (selected.size < k && !exhausted) {
        val refreshed = cur.filter(col("cid") =!= lastId)
          .withColumn("__sim",
            call_function("dot_product", col("cv"), typedlit(lastVec)) /
              (col("cn") * lit(lastNorm)))
          .select(col("cid"), col("cv"), col("cn"),
            when(col("msim").isNull, col("__sim"))
              .otherwise(greatest(col("msim"), col("__sim"))).as("msim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        stale = cur
        cur = refreshed
        val next = refreshed
          .select(col("cid"), (lit(1.0) - col("msim")).as("dist"),
            col("cv"), col("cn"))
          .orderBy(col("dist").desc, col("cid"))
          .head(1)
        stale.unpersist(); stale = null
        if (next.isEmpty) exhausted = true
        else {
          selected += ((next(0).getLong(0), next(0).getDouble(1)))
          lastId = next(0).getLong(0)
          lastVec = next(0).getSeq[Double](2)
          lastNorm = next(0).getDouble(3)
        }
      }
      selected.toSeq.zipWithIndex
        .map { case ((id, d), idx) => (idx + 1, id, d) }
        .toDF("rank", "vec_id", "dist_raw")
        .select(col("rank"), col("vec_id"),
          when(!isnan(col("dist_raw")), round(col("dist_raw"), 6))
            .as("dist_to_set"))
    } finally {
      if (stale != null) stale.unpersist()
      cur.unpersist(); ()
    }
  }

  /** KMeans-seeded IVF — the production coarse quantizer for [[ivfKnn]]
    * (which uses "first nList vectors" only so its DuckDB oracle can
    * reproduce the cells): [[fitQuantizer]] centroids, every vector
    * assigned to its max-cosine cell, and each query probing its
    * `nProbe` nearest cells. nProbe = nList degenerates to exact brute
    * force — asserted in OperatorsSpec, which also measures recall at
    * partial probes. Engine-specific centroids → no SQL oracle
    * (rows-only driver check, like the sketch aggregates).
    */
  def ivfKnnKMeans(emb: DataFrame, nList: Int, nQueries: Int, k: Int,
      nProbe: Int = 1, seed: Long = 42L): DataFrame = {
    val (_, assignScored, wAssign) = fitQuantizer(emb, nList, seed)
    val assigned = assignScored.withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("cid"), col("cv"), col("cn"), col("centroid_id").as("cell"))
    val probes = assignScored.filter(col("cid") < nQueries)
      .withColumn("prn", row_number().over(wAssign))
      .filter(col("prn") <= nProbe)
      .select(col("cid").as("qid"), col("cv").as("qv"), col("cn").as("qn"),
        col("centroid_id").as("cell"))
    val scored = assigned.join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rnk"))
  }

  /** Persist an IVF index: centroids (tiny parquet) plus the
    * cell-assigned vector table PARTITIONED BY cell. Build once, probe
    * many — the production ANN shape: probing reads only the probed
    * cells' directories (parquet partition pruning), so each query scans
    * ~nProbe/nList of the corpus instead of all of it. Same deterministic
    * KMeans quantizer as [[ivfKnnKMeans]].
    */
  def buildIvfIndex(emb: DataFrame, nList: Int, dir: String,
      seed: Long = 42L): Unit = {
    val (cents, assignScored, wAssign) = fitQuantizer(emb, nList, seed)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    assignScored
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("cid"), col("cv"), col("cn"), col("centroid_id").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/vectors")
  }

  /** Probe a persisted IVF index: each query row (`qid`, float-array
    * `embedding`) ranks the broadcast centroids, takes its `nProbe` best
    * cells, and scans ONLY those cells' partitions for exact top-k. The
    * probed-cell set collects on the driver (≤ nList values) and pushes
    * into the vector scan as a partition filter — directory-level
    * pruning, verified in OperatorsSpec via the executed plan.
    */
  def probeIvfIndex(queries: DataFrame, dir: String, k: Int,
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.Registry.install(spark)
    val cents = spark.read.parquet(s"$dir/centroids")
      .withColumnRenamed("qv", "centv").withColumnRenamed("qn", "centn")
    val q = queries.select(col("qid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
      .withColumn("qn", expr("sqrt(dot_product(qv, qv))"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("centroid_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("ccos", expr("dot_product(qv, centv)") / (col("qn") * col("centn")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("centroid_id").as("cell"))
      // materialized ONCE: the cells collect below and the scored join
      // both read this — without it the centroid-ranking job runs twice
      .localCheckpoint(true)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val vectors = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell").isin(cells: _*))
    val scored = vectors.join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rnk"))
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH:
    * `bands` × `bitsPerBand` md5-derived sign-bits bucket the vectors;
    * only vectors sharing a full band signature become candidate pairs
    * (equi-join — no all-pairs product), then the exact cosine filter
    * restores precision. Hyperplane signs derive from md5 on the DRIVER
    * and embed as constant arrays (zero executor-side hashing), which
    * also makes them bit-reproducible in a SQL oracle. Random-pair
    * candidate volume is ~n²·bands/2^bitsPerBand: scale bitsPerBand
    * ~log(n) like the simhash width (SCALING.md).
    */
  def cosineLshPairs(emb: DataFrame, bands: Int, bitsPerBand: Int,
      threshold: Double, dim: Int = 64, bucketCap: Int = 1024): DataFrame = {
    graft.functions.Registry.install(emb.sparkSession)
    val v = prepared(emb)
    def sign(k: Int, i: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp${k}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) >= '8') 1.0 else -1.0
    }
    def bit(k: Int) = {
      val hp = (0 until dim).map(i => s"${sign(k, i)}D").mkString(", ")
      when(expr(s"dot_product(vd, array($hp))") > 0, "1").otherwise("0")
    }
    val bandCols = (0 until bands).map(b =>
      concat((0 until bitsPerBand).map(j => bit(b * bitsPerBand + j)): _*).as(s"band$b"))
    val sig = v.select(col("vec_id") +: bandCols: _*)
    // bucket-skew cap (Dedup.capBuckets): a degenerate hyperplane bucket
    // (e.g. near-duplicate embedding floods) stays O(cap²), not O(bucket²)
    val stacked = graft.operators.Dedup.capBuckets(
      sig.select(col("vec_id"), explode(map(
        (0 until bands).flatMap(b => Seq(lit(b), col(s"band$b"))): _*)).as(Seq("band", "sig"))),
      Seq("band", "sig"), "vec_id", bucketCap, label = "cosine_lsh")
    val cand = stacked.select(col("band"), col("sig"), col("vec_id").as("va"))
      .join(stacked.select(col("band"), col("sig"), col("vec_id").as("vb")), Seq("band", "sig"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb")).distinct()
    cand
      .join(v.select(col("vec_id").as("va"), col("vd").as("qv"), col("nrm").as("qn")), "va")
      .join(v.select(col("vec_id").as("vb"), col("vd").as("cv"), col("nrm").as("cn")), "vb")
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= threshold)
      .select(col("va"), col("vb"), col("cos"))
  }

  /** Product quantization with asymmetric-distance scan (Jégou et al.
    * 2011, the "PQ" of faiss's IVF-PQ) — the memory-compression half of
    * the 100 TB vector-search story: each vector splits into `m`
    * subvectors, each subvector is replaced by the id of its nearest
    * per-subspace centroid, and the corpus shrinks from `dim` floats to
    * `m` small ints per vector (64-dim float32 → 8 codes ≈ 32×). A query
    * never touches the raw vectors again: it precomputes an m×ksub
    * lookup table of subspace distances (ADC), and every candidate's
    * approximate distance is m table lookups + a sum.
    *
    * Dataflow: codebooks broadcast (m·ksub rows), encode is one scan of
    * the corpus (explode to m subvector rows, broadcast-join, per-(vec,j)
    * argmin — no shuffle of the vectors themselves); the ADC scan joins
    * the code table against the broadcast query lookup tables and
    * aggregates m rows per (query, candidate). The code table is the
    * only corpus-sized state and it is ~m bytes/vector — persist it like
    * [[buildIvfIndex]] and the scan reads no embeddings at all.
    *
    * Codebooks are the subvectors of the first `ksub` vectors (the
    * [[ivfKnn]] deterministic convention) so a DuckDB oracle reproduces
    * the codes bit-for-bit; production swaps per-subspace KMeans in
    * without touching the dataflow. Subspace distance sums go through
    * DECIMAL(28,12) so the m-term addition is order-independent and
    * engine-exact (the [[graft.Q]] convention).
    */
  def pqKnn(emb: DataFrame, m: Int, ksub: Int, nQueries: Int, k: Int,
      dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    graft.functions.Registry.install(emb.sparkSession)
    val v = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
    val subs = v.withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("vec_id"), col("j"),
        expr(s"slice(vd, CAST(j * $dsub + 1 AS INT), $dsub)").as("sub"))
    val cents = subs.filter(col("vec_id") < ksub)
      .select(col("j"), col("vec_id").as("code"), col("sub").as("cent"))
    // squared L2 via the algebraic identity — three codegen dot products,
    // the exact expression (and operation order) the oracle uses
    val d2 = "dot_product(sub, sub) - 2 * dot_product(sub, cent) + dot_product(cent, cent)"
    val enc = subs.join(broadcast(cents), "j").withColumn("d2", expr(d2))
    val wEnc = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d2"), col("code"))
    val codes = enc.withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("cid"), col("j"), col("code"))
    val qdt = enc.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("j"), col("code"),
        col("d2").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(28, 12)).as("dt"))
    val adist = codes.join(broadcast(qdt), Seq("j", "code"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(round(sum(col("dt")).cast("double"), 6).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    adist.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("adist"), col("rnk"))
  }

  /** Rank-biased overlap (Webber et al. 2010) truncated at depth k
    * between two rankings of the same query set — the ANN-fidelity
    * metric that sees what recall@k (q137/q138) cannot: a quantizer
    * returning the right SET in scrambled order scores 1.0 on recall
    * but < 1 here, and RBO is top-weighted (a rank-1 disagreement
    * costs ~10× a rank-10 one with p = 0.9).
    *
    * RBO@k = (1−p)·Σ_{d≤k} p^{d−1}·|A_d ∩ B_d|/d. Per-item form: an
    * item at ranks (ra, rb) in the two lists contributes
    * W(max(ra, rb)), where W(m) = Σ_{d=m..k} p^{d−1}/d — a k-row
    * weight table both engines GENERATE and sum identically in
    * DECIMAL. The whole metric is then one equi-join of two top-k
    * lists plus a broadcast of the k-row table; queries sharing no
    * top-k item still report (rbo = 0) via the left join from the
    * query list.
    */
  /** Exact squared-L2 top-k (the metric [[pqKnn]] approximates) — the
    * q60 broadcast-anchor shape with the algebraic-identity distance,
    * rounded like the ADC side so rankings compare on equal terms. */
  def l2Knn(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    graft.functions.Registry.install(emb.sparkSession)
    val v = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("n2", expr("dot_product(vd, vd)"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("n2").as("qn2"))
    v.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("d2", round(
        col("n2") - expr("2 * dot_product(vd, qv)") + col("qn2"), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), col("d2"), col("rnk"))
  }

  def rboAtK(a: DataFrame, b: DataFrame, k: Int, p: Double): DataFrame = {
    require(k > 0 && p > 0 && p < 1, s"need k > 0 and p in (0,1), got $k/$p")
    val spark = a.sparkSession
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 18)
    val terms = spark.range(1, k + 1).select(col("id").as("d"),
      (pow(lit(p), col("id") - 1) / col("id")).as("term"))
    val wTab = spark.range(1, k + 1).select(col("id").as("m"))
      .join(terms, col("d") >= col("m"))
      .groupBy(col("m")).agg(sum(col("term").cast(dec)).as("wm"))
    val joined = a.select(col("qid"), col("cid"), col("rnk").as("ra"))
      .join(b.select(col("qid"), col("cid"), col("rnk").as("rb")),
        Seq("qid", "cid"))
      .withColumn("m", greatest(col("ra"), col("rb")))
      .join(broadcast(wTab), "m")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_common"), sum(col("wm")).as("w"))
    a.select(col("qid")).distinct()
      .join(joined, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(lit(1 - p) * coalesce(col("w").cast("double"), lit(0.0)), 6)
          .as("rbo"))
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023):
    * cluster the embedding space with a coarse quantizer, then compare
    * pairs ONLY within a cluster — a near-duplicate's nearest centroid is
    * its duplicate's nearest centroid, so cross-cluster pairs need never
    * be scored. Pair volume is Σ cell² instead of n²: with nList scaled
    * ~√n the per-cell population stays bounded and the whole step is one
    * broadcast assignment plus a per-cell self-join keyed by the cell —
    * the only all-pairs work left is inside clusters, which is the
    * operator's entire point. Centroids are the first `nList` vectors
    * (the [[ivfKnn]] convention) so a SQL oracle reproduces the cells
    * bit-for-bit; swap [[fitQuantizer]] in for production centroids.
    * Returns the duplicate PAIRS (cell, va, vb, cos >= threshold);
    * feed them to [[Corpus.dedupSurvivors]] to apply the drop decision.
    */
  def semanticDedupPairs(emb: DataFrame, nList: Int, threshold: Double): DataFrame = {
    val v = prepared(emb)
    val cents = v.filter(col("vec_id") < nList)
      .select(col("vec_id").as("centroid_id"), col("vd").as("qv"), col("nrm").as("qn"))
    val assignScored = v
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
    val wAssign = Window.partitionBy(col("cid")).orderBy(col("ccos").desc, col("centroid_id"))
    val assigned = assignScored.withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("cid"), col("cv"), col("cn"), col("centroid_id").as("cell"))
    val a = assigned.select(col("cell"), col("cid").as("va"),
      col("cv").as("qv"), col("cn").as("qn"))
    val b = assigned.select(col("cell"), col("cid").as("vb"), col("cv"), col("cn"))
    a.join(b, "cell")
      .filter(col("va") < col("vb"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= threshold)
      .select(col("cell"), col("va"), col("vb"), col("cos"))
  }

  /** MLlib random-hyperplane LSH (BucketedRandomProjectionLSH) as the
    * off-the-shelf ANN alternative: returns approx nearest neighbors for
    * one query vector. Engine-specific hashing — no SQL oracle; covered
    * by OperatorsSpec against the brute-force baseline.
    */
  def mllibLshKnn(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.linalg.Vectors
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .as[(Long, Seq[Double])]
      .map { case (id, e) => (id, Vectors.dense(e.toArray)) }
      .toDF("vec_id", "features")
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
      .fit(vecs)
    val query = vecs.filter(col("vec_id") === queryId)
      .head().getAs[org.apache.spark.ml.linalg.Vector]("features")
    model.approxNearestNeighbors(vecs.filter(col("vec_id") =!= queryId), query, k)
      .select(col("vec_id"), col("distCol").as("dist"))
  }

  /** Per-dimension affine int8 quantization of the embedding column —
    * how a 100 TB embedding store actually ships its vectors (4× over
    * float32, 32× less than float64 doubles; PQ in [[pqKnn]] goes
    * further but lossier). Pass 1 aggregates per-DIMENSION min/max (a
    * `dim`-row table — broadcast); pass 2 maps every component to
    * q = round((v − lo)·255/(hi − lo)) and reports, per vector, the
    * exact quantized checksum and the reconstruction error profile
    * (max abs error + summed squared error) — the audit a pipeline
    * runs before committing to a quantized index. Two corpus scans,
    * shuffles only per-dim stats and per-vec partials.
    *
    * Error sums are pre-rounded then DECIMAL-summed (order-independent,
    * oracle-exact); max is order-free by nature.
    */
  def int8Quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec14 = org.apache.spark.sql.types.DecimalType(38, 14)
    val el = emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "vf")))
      .withColumn("v", col("vf").cast("double"))
    val stats = el.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
    el.join(broadcast(stats), "dim")
      .withColumn("q", when(col("hi") === col("lo"), lit(0L))
        .otherwise(round((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")), 0)
          .cast("long")))
      .withColumn("deq", when(col("hi") === col("lo"), col("lo"))
        .otherwise(col("lo") + col("q").cast("double") * (col("hi") - col("lo")) / 255.0))
      .withColumn("err", abs(col("deq") - col("v")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("q")).as("q_sum"),
        round(max(col("err")), 8).as("max_err"),
        round(sum(round(col("err") * col("err"), 14).cast(dec14)).cast("double"), 10)
          .as("sum_err2"))
  }

  /** PQ recall AUDIT — the measurement that justifies shipping the
    * compressed index (the q115 pattern applied to ANN): per query,
    * how many of [[pqKnn]]'s approximate top-k survive in the EXACT
    * full-vector L2 top-k. Both sides are deterministic, so unlike the
    * usual spec-only recall checks this audit is itself a
    * hash-verified row. Exact side broadcasts the query vectors (the
    * q60 shape); the hit count is a pair join on bounded k·nQueries
    * rows.
    */
  def pqRecallAudit(emb: DataFrame, m: Int, ksub: Int, nQueries: Int,
      k: Int, dim: Int = 64): DataFrame = {
    graft.functions.Registry.install(emb.sparkSession)
    val approx = pqKnn(emb, m, ksub, nQueries, k, dim).select(col("qid"), col("cid"))
    // self-dots precomputed per ROW (the prepared() pattern) — inside
    // the pair join they'd be recomputed once per (candidate, query)
    val v = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))
      .withColumn("n2", expr("dot_product(vd, vd)"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("n2").as("qn2"))
    val exact = v.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("d2", round(
        col("n2") - expr("2 * dot_product(vd, qv)") + col("qn2"), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("cid"), lit(1).as("hit"))
    approx.join(exact, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / k, 6))
  }

  /** IVF recall audit — [[pqRecallAudit]]'s twin for the inverted-file
    * path: per query, how many of [[ivfKnn]]'s single-cell top-k
    * survive in the exact cosine top-k ([[bruteForceKnn]]). Measures
    * what the cell restriction costs on THIS corpus — the number that
    * decides nProbe. Deterministic on both sides → hash-verified row.
    */
  def ivfRecallAudit(emb: DataFrame, nList: Int, nQueries: Int,
      k: Int): DataFrame = {
    val approx = ivfKnn(emb, nList, nQueries, k).select(col("qid"), col("cid"))
    // exact side over the SAME universe ivfKnn searches: queries are the
    // nList..nList+nQueries-1 band, candidates exclude the centroid
    // vectors — so recall isolates the COST OF THE CELL RESTRICTION,
    // not differences in the candidate pool
    val v = prepared(emb)
    val q = v.filter(col("vec_id") >= nList && col("vec_id") < nList + nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qn"))
    val c = v.filter(col("vec_id") >= nList)
      .select(col("vec_id").as("cid"), col("vd").as("cv"), col("nrm").as("cn"))
    val exact = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", round(expr(dotQC) / (col("qn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), lit(1).as("hit"))
    approx.join(exact, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / k, 6))
  }

  val queries: Map[String, QueryFn] = Map(
    "q137_ivf_recall" -> ((s, dir) =>
      ivfRecallAudit(Tables.load(s, dir, "embeddings"), nList = 8,
        nQueries = 5, k = 3)
        .orderBy(col("qid"))),

    "q138_pq_recall" -> ((s, dir) =>
      pqRecallAudit(Tables.load(s, dir, "embeddings"), m = 8, ksub = 16,
        nQueries = 5, k = 5)
        .orderBy(col("qid"))),

    "q127_int8_quantize" -> ((s, dir) =>
      int8Quantize(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // chunks map to documents 4:1 (vec_id DIV 4) — the chunked-encoding
    // layout a long-document pipeline produces
    "q149_mean_pool" -> ((s, dir) =>
      meanPool(Tables.load(s, dir, "embeddings"), expr("vec_id DIV 4"))
        .orderBy(col("doc_id"), col("dim"))),

    "q221_top_component" -> ((s, dir) =>
      topPrincipalComponent(Tables.load(s, dir, "embeddings"), dim = 64,
        iters = 8)
        .orderBy(col("j"))),

    // 0.35 exercises the operator on this synthetic corpus (max pooled
    // pairwise cosine is 0.476); production near-dup runs the same plan
    // at ~0.9 with wider bands
    "q154_pooled_neardup" -> ((s, dir) =>
      pooledNearDupPairs(Tables.load(s, dir, "embeddings"),
        expr("vec_id DIV 4"), bands = 6, bitsPerBand = 4, threshold = 0.35)
        .orderBy(col("va"), col("vb"))),
    "q60_knn_brute" -> ((s, dir) =>
      bruteForceKnn(Tables.load(s, dir, "embeddings"), nQueries = 5, k = 5)
        .orderBy(col("qid"), col("rnk"))),
    "q112_hard_negatives" -> ((s, dir) =>
      hardNegatives(Tables.load(s, dir, "embeddings"), nQueries = 5, k = 5,
        lo = 0.30, hi = 0.90)
        .orderBy(col("qid"), col("rnk"))),
    "q61_ivf_knn" -> ((s, dir) =>
      ivfKnn(Tables.load(s, dir, "embeddings"), nList = 8, nQueries = 5, k = 3)
        .orderBy(col("qid"), col("rnk"))),
    // KMeans centroids are engine-specific in general, but cell
    // ASSIGNMENT is data-determined when clusters are well separated —
    // so the graded entry PLANTS separation (the q120/q95 pattern):
    // vec_id % 3 picks an axis, +100 on that dimension makes three
    // orthogonal tight clusters whose unique optimum any KMeans run
    // recovers (the OperatorsSpec fixture proves the shape; this
    // promotes it to the full embeddings table). nProbe=1 then makes
    // each query's candidate set exactly its planted cluster, which a
    // DuckDB oracle reproduces without running KMeans at all. The
    // engine-specific regime (unplanted data, partial probes) stays
    // covered by the recall/brute-force-parity specs.
    "q67_ivf_kmeans_knn" -> ((s, dir) => {
      val planted = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("""transform(embedding, (x, i) ->
                CAST(x AS DOUBLE) + IF(i = vec_id % 3, 100.0D, 0.0D))""")
          .as("embedding"))
      ivfKnnKMeans(planted, nList = 3, nQueries = 3, k = 3, nProbe = 1)
        .orderBy(col("qid"), col("rnk"))
    }),
    // cross-lingual pair mining: en-side vectors vs de-side vectors,
    // ratio-margin scored, global top-50
    "q245_margin_bitext" -> ((s, dir) =>
      marginBitextPairs(Tables.load(s, dir, "embeddings"),
        Tables.load(s, dir, "documents"), "doc_id", "lang",
        langX = "en", langY = "de", k = 4, topN = 50)),

    "q91_semantic_dedup" -> ((s, dir) =>
      // 0.4 exercises the operator on this synthetic corpus (its max
      // pairwise cosine at sf0.01 is ~0.51); production near-dup pruning
      // runs the same plan at ~0.95.
      semanticDedupPairs(Tables.load(s, dir, "embeddings"), nList = 8,
        threshold = 0.4)
        .orderBy(col("va"), col("vb"))),
    "q96_pq_adc" -> ((s, dir) =>
      pqKnn(Tables.load(s, dir, "embeddings"), m = 8, ksub = 16,
        nQueries = 5, k = 5)
        .orderBy(col("qid"), col("rnk"))),
    "q155_kmeans_lloyd" -> ((s, dir) =>
      kmeansLloydStep(Tables.load(s, dir, "embeddings"), k = 8)
        .orderBy(col("cell"), col("dim"))),
    "q156_grad_step" -> ((s, dir) =>
      logisticGradStep(Tables.load(s, dir, "embeddings"), lr = 0.1)
        .orderBy(col("dim"))),
    "q163_rrf_fusion" -> ((s, dir) =>
      rrfFusion(Tables.load(s, dir, "embeddings"),
        Tables.load(s, dir, "documents"), "doc_id", "text",
        nQueries = 5, k = 20, topK = 10)
        .orderBy(col("qid"), col("rnk"))),
    // greedy diversified top-k: argmax sequence not SQL-expressible ->
    // rows-only driver check; SimilaritySpec brute-force parity instead
    "q173_mmr_select" -> ((s, dir) =>
      mmrSelect(Tables.load(s, dir, "embeddings"), queryId = 0L, k = 10,
        lambda = 0.7)
        .orderBy(col("rank"))),

    "q184_kcenter" -> ((s, dir) =>
      kCenterSelect(Tables.load(s, dir, "embeddings"), k = 10)
        .orderBy(col("rank"))),

    // order fidelity of PQ-ADC vs the exact L2 ranking it approximates,
    // per query — the companion to q138's set-recall audit (same set in
    // scrambled order: recall 1.0, RBO < 1)
    "q207_rbo" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      rboAtK(
        l2Knn(emb, nQueries = 5, k = 10),
        pqKnn(emb, m = 8, ksub = 16, nQueries = 5, k = 10),
        k = 10, p = 0.9)
        .orderBy(col("qid"))
    })
  )

  /** Unrolled oracle text for [[topPrincipalComponent]] — the q99/q217
    * bounded-iteration discipline: every matrix-vector stage
    * MATERIALIZED, per-term DECIMAL(38,18) sums, round-12 iterates,
    * multiplication order identical to the Spark expression tree. */
  private[operators] def topComponentOracle(dim: Int, iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT c.j, sum(CAST(c.c * p.v AS DECIMAL(38,18))) AS w
         |  FROM cm c JOIN pv${i - 1} p ON c.k = p.j GROUP BY c.j),
         |nm$i AS (SELECT sqrt(CAST(sum(CAST(CAST(w AS DOUBLE) *
         |  CAST(w AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
         |  FROM w$i),
         |pv$i AS MATERIALIZED (
         |  SELECT j, round(CAST(w AS DOUBLE) / t.nrm, 12) AS v
         |  FROM w$i CROSS JOIN nm$i t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ve AS (SELECT CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |ex AS (
       |  SELECT unnest(vd) AS x,
       |    unnest(generate_series(1, $dim)) AS j
       |  FROM ve
       |), mu AS (
       |  SELECT j, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*)
       |    AS mu
       |  FROM ex GROUP BY j
       |), p AS (
       |  SELECT t.i // $dim + 1 AS j, t.i % $dim + 1 AS k,
       |    vd[t.i // $dim + 1] * vd[t.i % $dim + 1] AS prod
       |  FROM ve CROSS JOIN generate_series(0, ${dim * dim - 1}) t(i)
       |), sxx AS (
       |  SELECT j, k, sum(CAST(prod AS DECIMAL(38,18))) AS sxx
       |  FROM p GROUP BY j, k
       |), cm AS MATERIALIZED (
       |  SELECT s.j, s.k,
       |    (CAST(s.sxx AS DOUBLE) - n.n * mj.mu * mk.mu) / (n.n - 1) AS c
       |  FROM sxx s
       |  JOIN mu mj ON mj.j = s.j
       |  JOIN mu mk ON mk.j = s.k
       |  CROSS JOIN nn n
       |),
       |pv0 AS MATERIALIZED (
       |  SELECT t.j, CAST(1.0 AS DOUBLE) / sqrt(CAST($dim AS DOUBLE)) AS v
       |  FROM generate_series(1, $dim) t(j)),
       |$stages,
       |lam AS (
       |  SELECT sum(CAST(c.c * a.v * b.v AS DECIMAL(38,18))) AS l
       |  FROM cm c
       |  JOIN pv$iters a ON a.j = c.j
       |  JOIN pv$iters b ON b.j = c.k
       |), tr AS (
       |  SELECT sum(CAST(c AS DECIMAL(38,18))) AS t FROM cm WHERE j = k
       |)
       |SELECT pv$iters.j, pv$iters.v AS loading,
       |  round(CAST(lam.l AS DOUBLE), 6) AS eigenvalue,
       |  round(CAST(lam.l AS DOUBLE) / CAST(tr.t AS DOUBLE), 6)
       |    AS explained_var
       |FROM pv$iters CROSS JOIN lam CROSS JOIN tr
       |ORDER BY j""".stripMargin
  }

  private[operators] val duckPrep =
    """v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)""".stripMargin

  // The greedy-selection oracles UNROLL the k argmax rounds (the q196/
  // q99 bounded-iteration discipline): round i's CTE picks the best
  // candidate against the union of rounds 1..i-1 with ORDER BY ..., cid
  // LIMIT 1. The selection compares RAW doubles exactly as the Spark
  // rounds do — safe because every score is the same IEEE expression
  // tree both engines evaluate in the same element order (the q60
  // property), and exact ties (duplicate vectors) fall to the cid
  // tiebreak identically. Float literals are interpolated from the
  // SAME Scala arithmetic the operator uses (1-λ is NOT 0.3 in IEEE).
  private def mmrOracle(queryId: Long, k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1 - lambda).toString
    val rounds = (2 to k).map { i =>
      val prev = (1 until i).map(j => s"SELECT cid FROM sel$j").mkString(" UNION ALL ")
      s"""p$i AS (
         |  SELECT r.cid, r.rel,
         |    max(list_dot_product(r.cv, s.cv) / (r.cn * s.cn)) AS msim
         |  FROM rel r CROSS JOIN rel s
         |  WHERE s.cid IN ($prev) AND r.cid NOT IN ($prev)
         |  GROUP BY r.cid, r.rel
         |), sel$i AS MATERIALIZED (
         |  SELECT $i AS rank, cid, rel, rel * $lam - msim * $oneMinus AS mmr
         |  FROM p$i ORDER BY rel * $lam - msim * $oneMinus DESC, cid LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val un = (1 to k).map(j => s"SELECT rank, cid, rel, mmr FROM sel$j")
      .mkString(" UNION ALL ")
    s"""WITH $duckPrep,
       |base AS MATERIALIZED (SELECT vec_id AS cid, vd AS cv, nrm AS cn FROM v WHERE nrm > 0),
       |rel AS MATERIALIZED (
       |  SELECT b.cid, b.cv, b.cn,
       |    list_dot_product(b.cv, q.cv) / (q.cn * b.cn) AS rel
       |  FROM base b CROSS JOIN
       |    (SELECT cv, cn FROM base WHERE cid = $queryId) q
       |  WHERE b.cid <> $queryId
       |),
       |sel1 AS MATERIALIZED (
       |  SELECT 1 AS rank, cid, rel, rel * $lam AS mmr
       |  FROM rel ORDER BY rel * $lam DESC, cid LIMIT 1
       |),
       |$rounds
       |SELECT CAST(rank AS INT) AS rank, CAST(cid AS BIGINT) AS vec_id,
       |  round(rel, 6) AS rel, round(mmr, 6) AS mmr
       |FROM ($un)
       |ORDER BY rank""".stripMargin
  }

  private def kCenterOracle(k: Int): String = {
    val rounds = (2 to k).map { i =>
      val prev = (1 until i).map(j => s"SELECT cid FROM sel$j").mkString(" UNION ALL ")
      s"""p$i AS (
         |  SELECT b.cid,
         |    1.0 - max(list_dot_product(b.cv, s.cv) / (b.cn * s.cn)) AS dist
         |  FROM base b CROSS JOIN base s
         |  WHERE s.cid IN ($prev) AND b.cid NOT IN ($prev)
         |  GROUP BY b.cid
         |), sel$i AS MATERIALIZED (
         |  SELECT $i AS rank, cid, dist FROM p$i ORDER BY dist DESC, cid LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val un = (1 to k).map(j => s"SELECT rank, cid, dist FROM sel$j")
      .mkString(" UNION ALL ")
    s"""WITH $duckPrep,
       |base AS MATERIALIZED (SELECT vec_id AS cid, vd AS cv, nrm AS cn FROM v WHERE nrm > 0),
       |sel1 AS MATERIALIZED (
       |  SELECT 1 AS rank, min(cid) AS cid, CAST(NULL AS DOUBLE) AS dist
       |  FROM base
       |),
       |$rounds
       |SELECT CAST(rank AS INT) AS rank, CAST(cid AS BIGINT) AS vec_id,
       |  round(dist, 6) AS dist_to_set
       |FROM ($un)
       |ORDER BY rank""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q173_mmr_select" -> mmrOracle(queryId = 0L, k = 10, lambda = 0.7),
    "q184_kcenter" -> kCenterOracle(k = 10),

    "q207_rbo" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
         |    list_dot_product(CAST(embedding AS DOUBLE[]),
         |      CAST(embedding AS DOUBLE[])) AS n2
         |  FROM embeddings
         |), eq AS (
         |  SELECT vec_id AS qid, vd AS qv, n2 AS qn2 FROM ev WHERE vec_id < 5
         |), exact AS (
         |  SELECT qid, cid, rnk FROM (
         |    SELECT q.qid, c.vec_id AS cid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        round(c.n2 - 2 * list_dot_product(c.vd, q.qv) + q.qn2, 6),
         |        c.vec_id) AS rnk
         |    FROM ev c CROSS JOIN eq q WHERE q.qid <> c.vec_id) t
         |  WHERE rnk <= 10
         |), subs AS MATERIALIZED (
         |  SELECT vec_id, j, vd[CAST(j*8+1 AS INT) : CAST(j*8+8 AS INT)] AS sub
         |  FROM ev, range(8) t(j)
         |), cents AS (
         |  SELECT j, vec_id AS code, sub AS cent FROM subs WHERE vec_id < 16
         |), enc AS MATERIALIZED (
         |  SELECT s.vec_id, s.j, c.code,
         |    list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cent)
         |      + list_dot_product(c.cent, c.cent) AS d2
         |  FROM subs s JOIN cents c USING (j)
         |), codes AS (
         |  SELECT vec_id AS cid, j, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
         |    FROM enc) t
         |  WHERE rn = 1
         |), qdt AS (
         |  SELECT vec_id AS qid, j, code, CAST(d2 AS DECIMAL(28,12)) AS dt
         |  FROM enc WHERE vec_id < 5
         |), adist AS (
         |  SELECT q.qid, c.cid, round(CAST(sum(q.dt) AS DOUBLE), 6) AS adist
         |  FROM codes c JOIN qdt q ON c.j = q.j AND c.code = q.code
         |  WHERE q.qid <> c.cid
         |  GROUP BY q.qid, c.cid
         |), approx AS (
         |  SELECT qid, cid, rnk FROM (
         |    SELECT qid, cid,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rnk
         |    FROM adist) t
         |  WHERE rnk <= 10
         |), w AS (
         |  SELECT m, sum(CAST(pow(0.9, d - 1) / d AS DECIMAL(38,18))) AS wm
         |  FROM (SELECT unnest(generate_series(1, 10)) AS m) mm
         |  CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS d) dd
         |  WHERE d >= m GROUP BY m
         |), j AS (
         |  SELECT e.qid, greatest(e.rnk, a.rnk) AS m
         |  FROM exact e JOIN approx a USING (qid, cid)
         |), agg AS (
         |  SELECT j.qid, CAST(count(*) AS BIGINT) AS n_common,
         |    sum(w.wm) AS wsum
         |  FROM j JOIN w USING (m) GROUP BY j.qid
         |)
         |SELECT q.qid, coalesce(agg.n_common, 0) AS n_common,
         |  round(${1 - 0.9} * coalesce(CAST(agg.wsum AS DOUBLE), 0.0), 6) AS rbo
         |FROM (SELECT DISTINCT qid FROM exact) q LEFT JOIN agg USING (qid)
         |ORDER BY q.qid""".stripMargin,

    // q62's md5-derived hyperplane banding over the POOLED doc vectors
    "q154_pooled_neardup" -> {
      def bit(k: Int): String =
        s"CASE WHEN list_dot_product(vd, list_transform(generate_series(0, len(vd) - 1), " +
          s"i -> CASE WHEN substring(md5('hp${k}_' || i), 1, 1) >= '8' " +
          "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) > 0 THEN '1' ELSE '0' END"
      val bandExprs = (0 until 6).map(b =>
        (0 until 4).map(j => bit(b * 4 + j)).mkString(" || ") + s" AS band$b")
        .mkString(",\n    ")
      val sigCase = (0 until 6).map(b => s"WHEN $b THEN band$b").mkString(" ")
      s"""WITH e AS (
         |  SELECT vec_id // 4 AS doc_id,
         |    unnest(CAST(embedding AS DOUBLE[])) AS x,
         |    unnest(generate_series(1, len(embedding))) AS dim
         |  FROM embeddings
         |), mean AS (
         |  SELECT doc_id, dim,
         |    CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS m
         |  FROM e GROUP BY doc_id, dim
         |), v AS (
         |  SELECT doc_id AS vec_id, list(m ORDER BY dim) AS vd,
         |    sqrt(list_dot_product(list(m ORDER BY dim), list(m ORDER BY dim))) AS nrm
         |  FROM mean GROUP BY doc_id
         |), sig AS (
         |  SELECT vec_id,
         |    $bandExprs
         |  FROM v
         |), stacked AS (
         |  SELECT vec_id, band, CASE band $sigCase END AS sg
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS band) b
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM stacked a JOIN stacked b
         |    ON a.band = b.band AND a.sg = b.sg AND a.vec_id < b.vec_id
         |)
         |SELECT c.va, c.vb, round(list_dot_product(x.vd, y.vd) / (x.nrm * y.nrm), 6) AS cos
         |FROM cand c JOIN v x ON x.vec_id = c.va JOIN v y ON y.vec_id = c.vb
         |WHERE round(list_dot_product(x.vd, y.vd) / (x.nrm * y.nrm), 6) >= 0.35
         |ORDER BY va, vb""".stripMargin
    },

    // parallel unnests zip component and 1-based dim; DECIMAL sums make
    // the mean and norm order-independent, matching the Spark side
    "q221_top_component" -> topComponentOracle(dim = 64, iters = 8),

    "q149_mean_pool" ->
      """WITH e AS (
        |  SELECT vec_id // 4 AS doc_id,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    unnest(generate_series(1, len(embedding))) AS dim
        |  FROM embeddings
        |), mean AS (
        |  SELECT doc_id, dim,
        |    CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE) / count(*) AS m,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY doc_id, dim
        |), nrm AS (
        |  SELECT doc_id,
        |    sqrt(CAST(sum(CAST(m * m AS DECIMAL(38, 18))) AS DOUBLE)) AS nrm
        |  FROM mean GROUP BY doc_id
        |)
        |SELECT mean.doc_id AS doc_id, CAST(dim AS BIGINT) AS dim,
        |  round(m / nrm.nrm, 6) AS pooled, n AS n_chunks
        |FROM mean JOIN nrm ON mean.doc_id = nrm.doc_id
        |ORDER BY mean.doc_id, dim""".stripMargin,

    "q137_ivf_recall" ->
      s"""WITH $duckPrep,
         |cents AS (SELECT vec_id AS centroid_id, vd, nrm FROM v WHERE vec_id < 8),
         |assign_scored AS (
         |  SELECT c.vec_id AS cid, c.vd AS cv, c.nrm AS cn, ct.centroid_id,
         |    round(list_dot_product(ct.vd, c.vd) / (ct.nrm * c.nrm), 6) AS ccos
         |  FROM v c CROSS JOIN cents ct
         |  WHERE c.vec_id >= 8
         |), assigned AS (
         |  SELECT cid, cv, cn, centroid_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, centroid_id) AS arn
         |    FROM assign_scored) t
         |  WHERE arn = 1
         |), qs AS (
         |  SELECT cid AS qid, cv AS qv, cn AS qn, cell FROM assigned
         |  WHERE cid >= 8 AND cid < 13
         |), ivf AS (
         |  SELECT qid, cid FROM (
         |    SELECT a.cid, q.qid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        round(list_dot_product(q.qv, a.cv) / (q.qn * a.cn), 6) DESC, a.cid) AS rnk
         |    FROM assigned a JOIN qs q ON a.cell = q.cell AND q.qid <> a.cid) t
         |  WHERE rnk <= 3
         |), ex AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.vec_id AS cid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        round(list_dot_product(q.qv, c.vd) / (q.qn * c.nrm), 6) DESC, c.vec_id) AS rnk
         |    FROM v c JOIN qs q ON c.vec_id >= 8 AND c.vec_id <> q.qid) t
         |  WHERE rnk <= 3
         |)
         |SELECT p.qid, CAST(count(e.cid) AS BIGINT) AS n_hits,
         |  round(count(e.cid) / 3.0, 6) AS recall
         |FROM ivf p LEFT JOIN ex e ON p.qid = e.qid AND p.cid = e.cid
         |GROUP BY p.qid
         |ORDER BY p.qid""".stripMargin,

    "q138_pq_recall" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
        |), subs AS (
        |  SELECT vec_id, j, vd[CAST(j*8+1 AS INT) : CAST(j*8+8 AS INT)] AS sub
        |  FROM v, range(8) t(j)
        |), cents AS (
        |  SELECT j, vec_id AS code, sub AS cent FROM subs WHERE vec_id < 16
        |), enc AS (
        |  SELECT s.vec_id, s.j, c.code,
        |    list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cent)
        |      + list_dot_product(c.cent, c.cent) AS d2
        |  FROM subs s JOIN cents c USING (j)
        |), codes AS (
        |  SELECT vec_id AS cid, j, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
        |    FROM enc) t
        |  WHERE rn = 1
        |), qdt AS (
        |  SELECT vec_id AS qid, j, code, CAST(d2 AS DECIMAL(28,12)) AS dt
        |  FROM enc WHERE vec_id < 5
        |), adist AS (
        |  SELECT q.qid, c.cid, round(CAST(sum(q.dt) AS DOUBLE), 6) AS adist
        |  FROM codes c JOIN qdt q ON c.j = q.j AND c.code = q.code
        |  WHERE q.qid <> c.cid
        |  GROUP BY q.qid, c.cid
        |), pq AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid,
        |      row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rnk
        |    FROM adist) t
        |  WHERE rnk <= 5
        |), ex AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_dot_product(c.vd, c.vd) - 2 * list_dot_product(c.vd, q.vd)
        |          + list_dot_product(q.vd, q.vd), 6) AS d2
        |  FROM v c CROSS JOIN v q
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        |), exk AS (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
        |    FROM ex) t
        |  WHERE rnk <= 5
        |)
        |SELECT p.qid, CAST(count(e.cid) AS BIGINT) AS n_hits,
        |  round(count(e.cid) / 5.0, 6) AS recall
        |FROM pq p LEFT JOIN exk e ON p.qid = e.qid AND p.cid = e.cid
        |GROUP BY p.qid
        |ORDER BY p.qid""".stripMargin,

    "q127_int8_quantize" ->
      """WITH el AS (
        |  SELECT vec_id,
        |    unnest(list_transform(generate_series(1, len(embedding)),
        |      i -> {'d': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
        |  FROM embeddings
        |), e AS (
        |  SELECT vec_id, CAST(u.d AS INT) AS dim, u.v AS v FROM el
        |), stats AS (
        |  SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY dim
        |), q AS (
        |  SELECT vec_id, v,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE CAST(round((v - lo) * 255.0 / (hi - lo), 0) AS BIGINT) END AS q,
        |    CASE WHEN hi = lo THEN lo
        |         ELSE lo + (CASE WHEN hi = lo THEN 0
        |                    ELSE CAST(round((v - lo) * 255.0 / (hi - lo), 0) AS BIGINT) END)
        |              * (hi - lo) / 255.0 END AS deq
        |  FROM e JOIN stats USING (dim)
        |)
        |SELECT vec_id, count(*) AS n_dims, CAST(sum(q) AS BIGINT) AS q_sum,
        |  round(max(abs(deq - v)), 8) AS max_err,
        |  round(CAST(sum(CAST(round(abs(deq - v) * abs(deq - v), 14)
        |        AS DECIMAL(38, 14))) AS DOUBLE), 10) AS sum_err2
        |FROM q
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,

    "q112_hard_negatives" ->
      s"""WITH $duckPrep,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    round(list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
         |), banded AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored WHERE cos >= 0.30 AND cos < 0.90
         |)
         |SELECT qid, cid, cos, rnk FROM banded WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    "q60_knn_brute" ->
      s"""WITH $duckPrep,
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    round(list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
         |), ranked AS (
         |  SELECT qid, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,

    "q61_ivf_knn" ->
      s"""WITH $duckPrep,
         |cents AS (SELECT vec_id AS centroid_id, vd, nrm FROM v WHERE vec_id < 8),
         |assign_scored AS (
         |  SELECT c.vec_id AS cid, c.vd AS cv, c.nrm AS cn, ct.centroid_id,
         |    round(list_dot_product(ct.vd, c.vd) / (ct.nrm * c.nrm), 6) AS ccos
         |  FROM v c CROSS JOIN cents ct
         |  WHERE c.vec_id >= 8
         |), assigned AS (
         |  SELECT cid, cv, cn, centroid_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, centroid_id) AS arn
         |    FROM assign_scored) t
         |  WHERE arn = 1
         |), qs AS (
         |  SELECT cid AS qid, cv AS qv, cn AS qn, cell FROM assigned
         |  WHERE cid >= 8 AND cid < 13
         |), scored AS (
         |  SELECT a.cid, q.qid, q.cell,
         |    round(list_dot_product(q.qv, a.cv) / (q.qn * a.cn), 6) AS cos
         |  FROM assigned a JOIN qs q ON a.cell = q.cell AND q.qid <> a.cid
         |), ranked AS (
         |  SELECT qid, cell, cid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored
         |)
         |SELECT qid, cell, cid, cos, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,

    "q245_margin_bitext" ->
      s"""WITH $duckPrep,
         |lv AS (
         |  SELECT v.vec_id, v.vd, v.nrm, d.lang FROM v
         |  JOIN documents d ON d.doc_id = v.vec_id
         |), scored AS (
         |  SELECT x.vec_id AS xid, y.vec_id AS cid,
         |    round(list_dot_product(x.vd, y.vd) / (x.nrm * y.nrm), 6) AS cos
         |  FROM lv x JOIN lv y ON x.lang = 'en' AND y.lang = 'de'
         |), fx AS (
         |  SELECT xid, cid, cos,
         |    row_number() OVER (PARTITION BY xid ORDER BY cos DESC, cid) AS rn
         |  FROM scored
         |), mx AS (
         |  SELECT xid,
         |    round(CAST(sum(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mx
         |  FROM fx WHERE rn <= 4 GROUP BY xid
         |), fy AS (
         |  SELECT xid, cid, cos,
         |    row_number() OVER (PARTITION BY cid ORDER BY cos DESC, xid) AS rn
         |  FROM scored
         |), my AS (
         |  SELECT cid,
         |    round(CAST(sum(CAST(cos AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS my
         |  FROM fy WHERE rn <= 4 GROUP BY cid
         |), ranked AS (
         |  SELECT f.xid, f.cid, f.cos,
         |    round(f.cos / (0.5 * mx.mx + 0.5 * my.my), 6) AS margin
         |  FROM fx f JOIN mx USING (xid) JOIN my USING (cid)
         |  WHERE f.rn <= 4
         |)
         |SELECT CAST(row_number() OVER (ORDER BY margin DESC, xid, cid) AS INT) AS rank,
         |  xid, cid, cos, margin
         |FROM (SELECT * FROM ranked ORDER BY margin DESC, xid, cid LIMIT 50) t
         |ORDER BY rank""".stripMargin,

    // the planted-separation twin of the Spark query: cluster membership
    // is vec_id % 3 by construction, so the oracle ranks within-cluster
    // cosine over the identically shifted vectors (DuckDB list lambdas
    // are 1-indexed, hence i - 1)
    "q67_ivf_kmeans_knn" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> x + CASE WHEN i - 1 = vec_id % 3 THEN 100.0 ELSE 0.0 END) AS vd
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v
        |), scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm), 6) AS cos
        |  FROM n q JOIN n c
        |    ON q.vec_id < 3 AND q.vec_id <> c.vec_id
        |    AND q.vec_id % 3 = c.vec_id % 3
        |), ranked AS (
        |  SELECT qid, cid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
        |  FROM scored
        |)
        |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin,

    "q91_semantic_dedup" ->
      s"""WITH $duckPrep,
         |cents AS (SELECT vec_id AS centroid_id, vd, nrm FROM v WHERE vec_id < 8),
         |assign_scored AS (
         |  SELECT c.vec_id AS cid, c.vd AS cv, c.nrm AS cn, ct.centroid_id,
         |    round(list_dot_product(ct.vd, c.vd) / (ct.nrm * c.nrm), 6) AS ccos
         |  FROM v c CROSS JOIN cents ct
         |), assigned AS (
         |  SELECT cid, cv, cn, centroid_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, centroid_id) AS arn
         |    FROM assign_scored) t
         |  WHERE arn = 1
         |), pairs AS (
         |  SELECT a.cell, a.cid AS va, b.cid AS vb,
         |    round(list_dot_product(a.cv, b.cv) / (a.cn * b.cn), 6) AS cos
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.cid < b.cid
         |)
         |SELECT cell, va, vb, cos FROM pairs WHERE cos >= 0.4
         |ORDER BY va, vb""".stripMargin,

    // PQ: subspace slices via 1-based inclusive list slicing; the d2
    // expression text (and so its IEEE operation order) matches the
    // Spark side exactly; the m-term ADC sum goes through DECIMAL(28,12)
    // for order-independent addition.
    "q96_pq_adc" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
        |), subs AS (
        |  SELECT vec_id, j, vd[CAST(j*8+1 AS INT) : CAST(j*8+8 AS INT)] AS sub
        |  FROM v, range(8) t(j)
        |), cents AS (
        |  SELECT j, vec_id AS code, sub AS cent FROM subs WHERE vec_id < 16
        |), enc AS (
        |  SELECT s.vec_id, s.j, c.code,
        |    list_dot_product(s.sub, s.sub) - 2 * list_dot_product(s.sub, c.cent)
        |      + list_dot_product(c.cent, c.cent) AS d2
        |  FROM subs s JOIN cents c USING (j)
        |), codes AS (
        |  SELECT vec_id AS cid, j, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
        |    FROM enc) t
        |  WHERE rn = 1
        |), qdt AS (
        |  SELECT vec_id AS qid, j, code, CAST(d2 AS DECIMAL(28,12)) AS dt
        |  FROM enc WHERE vec_id < 5
        |), adist AS (
        |  SELECT q.qid, c.cid, round(CAST(sum(q.dt) AS DOUBLE), 6) AS adist
        |  FROM codes c JOIN qdt q ON c.j = q.j AND c.code = q.code
        |  WHERE q.qid <> c.cid
        |  GROUP BY q.qid, c.cid
        |), ranked AS (
        |  SELECT qid, cid, adist,
        |    row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rnk
        |  FROM adist
        |)
        |SELECT qid, cid, adist, rnk FROM ranked WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    "q155_kmeans_lloyd" ->
      s"""WITH $duckPrep,
         |cents AS (SELECT vec_id AS centroid_id, vd, nrm FROM v WHERE vec_id < 8),
         |assign_scored AS (
         |  SELECT c.vec_id AS cid, c.vd AS cv, ct.centroid_id,
         |    round(list_dot_product(ct.vd, c.vd) / (ct.nrm * c.nrm), 6) AS ccos
         |  FROM v c CROSS JOIN cents ct WHERE c.vec_id >= 8
         |), assigned AS (
         |  SELECT cid, cv, centroid_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY ccos DESC, centroid_id) AS arn
         |    FROM assign_scored) t
         |  WHERE arn = 1
         |), e AS (
         |  SELECT cell, unnest(cv) AS x,
         |    unnest(generate_series(1, len(cv))) AS dim
         |  FROM assigned
         |)
         |SELECT cell, CAST(dim AS BIGINT) AS dim,
         |  round(CAST(sum(CAST(x AS DECIMAL(38, 12))) AS DOUBLE) / count(*), 6) AS cval,
         |  count(*) AS n_members
         |FROM e GROUP BY cell, dim
         |ORDER BY cell, dim""".stripMargin,

    "q163_rrf_fusion" ->
      s"""WITH $duckPrep,
         |cos_scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS did,
         |    round(list_dot_product(q.vd, c.vd) / (q.nrm * c.nrm), 6) AS cos
         |  FROM v q JOIN v c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
         |), cosr AS (
         |  SELECT qid, did, rnk_cos FROM (
         |    SELECT qid, did,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rnk_cos
         |    FROM cos_scored) t
         |  WHERE rnk_cos <= 20
         |), sets AS (
         |  SELECT doc_id AS did, list_distinct(string_split(text, ' ')) AS wset
         |  FROM documents
         |), lex_scored AS (
         |  SELECT q.did AS qid, c.did,
         |    round(CAST(len(list_intersect(q.wset, c.wset)) AS DOUBLE) /
         |      (len(q.wset) + len(c.wset)
         |        - len(list_intersect(q.wset, c.wset))), 6) AS jac
         |  FROM sets q JOIN sets c ON q.did < 5 AND q.did <> c.did
         |), lexr AS (
         |  SELECT qid, did, rnk_lex FROM (
         |    SELECT qid, did,
         |      row_number() OVER (PARTITION BY qid ORDER BY jac DESC, did) AS rnk_lex
         |    FROM lex_scored) t
         |  WHERE rnk_lex <= 20
         |), fused AS (
         |  SELECT coalesce(cosr.qid, lexr.qid) AS qid,
         |    coalesce(cosr.did, lexr.did) AS did,
         |    round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rnk_cos), 0)
         |      + coalesce(CAST(1.0 AS DOUBLE) / (60 + rnk_lex), 0), 6) AS rrf
         |  FROM cosr FULL OUTER JOIN lexr
         |    ON cosr.qid = lexr.qid AND cosr.did = lexr.did
         |)
         |SELECT qid, did, rrf, rnk FROM (
         |  SELECT qid, did, rrf,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, did)
         |      AS rnk
         |  FROM fused) t
         |WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,

    "q156_grad_step" ->
      """WITH e AS (
        |  SELECT (0.5 - CAST(vec_id % 2 AS DOUBLE)) AS resid,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    unnest(generate_series(1, len(embedding))) AS dim
        |  FROM embeddings
        |)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  round(CAST(sum(CAST(resid * x AS DECIMAL(38, 12))) AS DOUBLE) / count(*), 6) AS grad,
        |  round(-0.1 * (CAST(sum(CAST(resid * x AS DECIMAL(38, 12))) AS DOUBLE) / count(*)), 6) AS w1,
        |  count(*) AS n
        |FROM e GROUP BY dim
        |ORDER BY dim""".stripMargin
  )
}
