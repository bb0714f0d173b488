package graft.operators

import graft.{Q, Tables}
import graft.Q.QueryFn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: stopword-based language
  * ID, quality scoring, token counting (whitespace + BPE-ish regex),
  * content fingerprinting, and PII redaction. All expressed as
  * codegen-friendly column expressions — no UDFs — so they run inside
  * whole-stage codegen at any scale.
  */
object TextAnalysis {

  // PII patterns written WITHOUT backslash escapes ('[.]' not '\.') so
  // the identical string is a valid, equivalent regex in Java (Spark),
  // RE2 (DuckDB oracle), and a SQL string literal in both dialects.
  val UrlRe = "https://[a-z0-9./]+"
  val EmailRe = "[a-z0-9]+@[a-z0-9]+[.]com"
  val PhoneRe = "555-[0-9]{4}"

  /** Redact URLs, then emails, then phone numbers (fixed order — URLs
    * first so an address inside a URL is not half-rewritten). Pure
    * codegen `regexp_replace` chain: zero shuffle, scales with the scan. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(UrlRe), lit("[URL]")),
        lit(EmailRe), lit("[EMAIL]")),
      lit(PhoneRe), lit("[PHONE]"))

  /** Occurrences of one PII pattern (for redaction audit columns). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  // q180's fixed demo blocklist — mixes phrases present in the corpus
  // with classic boilerplate markers that are not, so both hit and
  // zero-hit paths grade. Single-sourced: Spark and oracle embed the
  // SAME literals.
  private val BlocklistPhrases = Seq("spark", "click here", "lorem ipsum",
    "all rights reserved", "subscribe now", "the data", "terms of service",
    "and the")

  // package-visible: Eval reuses the q55 scoring convention verbatim
  private[operators] val stop = Map(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "une", "est"))

  private def hits(lang: String, splitFn: String): String = {
    val lst = stop(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len__(list_filter__($splitFn, x -> x IN ($lst))) AS BIGINT)"
  }

  /** Render for a dialect: Spark uses size/filter, DuckDB len/list_filter. */
  private def langSql(splitFn: String, lenF: String, filterF: String): String = {
    def h(l: String) = hits(l, splitFn)
      .replace("len__", lenF).replace("list_filter__", filterF)
    s"""SELECT doc_id,
       |  ${h("en")} AS en_hits,
       |  ${h("es")} AS es_hits,
       |  ${h("de")} AS de_hits,
       |  ${h("fr")} AS fr_hits,
       |  CASE WHEN ${h("en")} >= ${h("es")} AND ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("fr")} THEN 'en'
       |       WHEN ${h("es")} >= ${h("de")} AND ${h("es")} >= ${h("fr")} THEN 'es'
       |       WHEN ${h("de")} >= ${h("fr")} THEN 'de'
       |       ELSE 'fr' END AS pred_lang,
       |  lang AS labeled_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  private val q54Spark = langSql("split(text, ' ')", "size", "filter")
  private val q54Duck = langSql("string_split(text, ' ')", "len", "list_filter")

  private def qualitySql(splitFn: String, lenF: String, filterF: String,
                         replFlag: String): String = {
    val ws = splitFn
    val stopList = stop("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  CAST($lenF($ws) AS BIGINT) AS n_words,
       |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / $lenF($ws), 4) AS avg_word_len,
       |  round(CAST($lenF($filterF($ws, x -> x IN ($stopList))) AS DOUBLE) / $lenF($ws), 4) AS stopword_ratio,
       |  round(CAST(length(text) - length(regexp_replace(text, '[a-z ]', ''$replFlag)) AS DOUBLE) / length(text), 4) AS nonalpha_ratio,
       |  round(least(1.0, $lenF($ws) / 100.0) *
       |        (1.0 - CAST($lenF($filterF($ws, x -> x IN ($stopList))) AS DOUBLE) / $lenF($ws)), 4) AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  private val q55Spark = qualitySql("split(text, ' ')", "size", "filter", "")
  private val q55Duck = qualitySql("string_split(text, ' ')", "len", "list_filter", ", 'g'")

  // Whitespace tokens vs a BPE-ish regex tokenizer (letter runs, digit
  // runs, single punctuation marks) — the standard pre-tokenizer split.
  private val tokPat = "'[a-z]+|[0-9]+|[^a-z0-9 ]'"
  private val q56Spark =
    s"""SELECT doc_id,
       |  CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(size(regexp_extract_all(text, $tokPat, 0)) AS BIGINT) AS bpe_tokens,
       |  round(CAST(length(text) AS DOUBLE) / size(regexp_extract_all(text, $tokPat, 0)), 4) AS chars_per_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  private val q56Duck =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, $tokPat)) AS BIGINT) AS bpe_tokens,
       |  round(CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, $tokPat)), 4) AS chars_per_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // Content fingerprint: md5 over whitespace-normalized text, with a
  // 16-hex-char prefix as the compact dedup key.
  private def fpSql(replFlag: String) =
    s"""SELECT doc_id,
       |  substring(md5(trim(regexp_replace(lower(text), ' +', ' '$replFlag))), 1, 16) AS fp16,
       |  md5(trim(regexp_replace(lower(text), ' +', ' '$replFlag))) AS fp_full
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  private val q57Spark = fpSql("")
  private val q57Duck = fpSql(", 'g'")

  /** Top-`k` TF-IDF keywords per document — the classic relevance weight
    * (tf × ln(N/df)) used for keyword extraction, topic labeling, and as
    * a cheap retrieval signal. Dataflow: one explode → tf aggregation
    * keyed (doc, word) with map-side partial combine, document
    * frequencies derived FROM the tf frame (one row per (doc, word), so
    * count = df — no second pass over the corpus), corpus size as a
    * broadcast single row, and a per-doc top-k window bounded by the
    * document's distinct-word count. Ranking orders by the ROUNDED score
    * so engines agree at float boundaries.
    */
  /** PMI collocations — pointwise mutual information of ADJACENT word
    * pairs against their unigram expectation (Church & Hanks 1990), the
    * classic multiword-expression detector and exactly the association
    * signal a BPE-style merge loop ranks (q93 counts raw pair
    * frequency; PMI normalizes it by how common the parts are):
    * PMI(a,b) = ln(P(ab) / (P(a)·P(b))).
    *
    * Three linear aggregations — bigram counts, unigram counts, and two
    * ONE-ROW totals broadcast the q21/q77 way — nothing quadratic at
    * any corpus size; `minCount` cuts the low-support tail where PMI
    * explodes on singleton noise.
    */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"minCount must be at least 1, got $minCount")
    val toks = docs.select(split(col(textCol), " ").as("ws"))
    val bi = toks.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nb = bi.agg(sum(col("n_pair")).cast("double").as("n_bi"))
    val nu = uni.agg(sum(col("cw")).cast("double").as("n_uni"))
    bi.filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cb")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") * col("n_uni") * col("n_uni")) /
          (col("n_bi") * col("ca").cast("double") * col("cb").cast("double"))), 6))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
  }

  def tfidfKeywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rk"))
  }

  /** Feature-hashed bag-of-words (the hashing trick, Weinberger et al.
    * 2009): every word maps to `dims` buckets by a hash of its content,
    * giving a fixed-width sparse feature vector with NO vocabulary table
    * — the property that matters at 100 TB, where a vocab join would be
    * a second corpus-scale shuffle. Output is sparse (doc_id, bucket,
    * n) rows; the only shuffle is the (doc, bucket) count aggregation,
    * which map-side combines to ≤ dims rows per document. md5-derived
    * bucket (first 8 hex chars mod dims) keeps the oracle bit-exact;
    * swap xxhash64 for production throughput.
    */
  def hashedFeatures(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dims: Int): org.apache.spark.sql.DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
      .withColumn("bucket",
        graft.Q.md5Bucket32(col("w")) % dims)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Linear text-classifier INFERENCE (the fastText/DCLM-style quality
    * classifier applied at corpus scale): p = sigmoid(bias + Σ w(word)).
    * The weight table broadcasts (a vocabulary of even millions of words
    * is MBs); the corpus side is explode → broadcast-join → per-doc sum,
    * so the only shuffle is the final doc_id aggregation of
    * already-combined partial sums. Weight sums run in DECIMAL(18,4)
    * so z is order-independent and oracle-exact; the sigmoid is applied
    * to the ROUNDED z, keeping cross-engine float drift out of p.
    *
    * Docs with no vocabulary hit score sigmoid(bias) — they stay in the
    * output (left join), because a quality filter must score EVERY
    * document, not just those sharing words with the training vocab.
    */
  def scoreLinearClassifier(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, weights: Map[String, Double],
      bias: Double): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dec = graft.Q.dec
    val wDf = weights.toSeq.toDF("w", "wt_d")
      .select(col("w"), col("wt_d").cast(dec).as("wt"))
    val hits = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("w"))
      .join(broadcast(wDf), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("wt")).as("zsum"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round((coalesce(col("zsum"), lit(0).cast(dec)) + lit(bias).cast(dec))
          .cast("double"), 4).as("z"))
      .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4))
  }

  /** Closed-form linear-probe TRAIN → SCORE — the member of the trained-
    * model family whose whole pipeline is hash-verifiable: fit
    * `y ≈ a + b·x` by ordinary least squares (x = document word count,
    * y = distinct-word count — the vocabulary-growth curve) and score
    * every document with the fitted line plus its residual (how much
    * richer/poorer the document's vocabulary is than its length
    * predicts — a duplication/boilerplate quality signal).
    *
    * The normal equations need exactly five corpus aggregates (n, Σx,
    * Σy, Σxy, Σx²) — one map-side-combinable aggregation to a single
    * row, broadcast back over the scan: two corpus passes total, no
    * shuffle wider than the stats row, no iterations. Sums ride
    * DECIMAL(38,0) (exact, order-independent — overflow-safe where a
    * 100 TB corpus would wrap a BIGINT product sum); the final
    * slope/intercept division is double IEEE arithmetic an SQL oracle
    * reproduces term-for-term — unlike the LBFGS twin (q107), whose
    * coefficients are engine-specific.
    */
  def linearProbe(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ws = filter(split(col(textCol), " "), w => length(w) > 0)
    val feats = docs.select(col(idCol).as("doc_id"),
      size(ws).cast("long").as("x"),
      size(array_distinct(ws)).cast("long").as("y"))
    val stats = feats.agg(
      count(lit(1)).cast(dec38).as("n"),
      sum(col("x").cast(dec38)).as("sx"),
      sum(col("y").cast(dec38)).as("sy"),
      sum((col("x") * col("y")).cast(dec38)).as("sxy"),
      sum((col("x") * col("x")).cast(dec38)).as("sxx"))
    // identical double expression tree as the oracle: exact decimal sums
    // -> double, then (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)
    val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double"); val sxyD = col("sxy").cast("double")
    val sxxD = col("sxx").cast("double")
    feats.crossJoin(broadcast(stats))
      .withColumn("b", (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD))
      .withColumn("a", (syD - col("b") * sxD) / nD)
      .select(col("doc_id"), col("x").as("n_words"), col("y").as("n_vocab"),
        round(col("a") + col("b") * col("x").cast("double"), 6).as("pred_vocab"),
        round(col("y").cast("double") -
          (col("a") + col("b") * col("x").cast("double")), 6).as("resid"))
  }

  /** Quality-classifier TRAINING — distributed logistic regression over
    * the hashing-trick features (HashingTF, no vocab table: the same
    * no-second-shuffle property as [[hashedFeatures]]). MLlib's LBFGS
    * runs as treeAggregate rounds over the feature vectors — gradient
    * partials combine map-side, so each iteration is one reduce of
    * `dims`-width vectors, independent of corpus size.
    *
    * Returns (model, featurize) so scoring reuses the exact same
    * tokenize+hash the trainer saw.
    */
  def trainQualityClassifier(labeled: org.apache.spark.sql.DataFrame,
      textCol: String, labelCol: String, dims: Int = 1 << 18,
      maxIter: Int = 50, regParam: Double = 0.01):
      (org.apache.spark.ml.classification.LogisticRegressionModel,
       org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    val tf = new HashingTF().setInputCol("__words").setOutputCol("features")
      .setNumFeatures(dims)
    val featurize = (df: org.apache.spark.sql.DataFrame) =>
      tf.transform(df.withColumn("__words", split(col(textCol), " ")))
    val model = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam)
      .setLabelCol(labelCol).setFeaturesCol("features")
      .fit(featurize(labeled).withColumn(labelCol, col(labelCol).cast("double")))
    (model, featurize)
  }

  /** Distributed full-batch logistic-regression training by gradient
    * descent over md5-bucketed binary bag-of-words features — the
    * hash-verifiable twin of [[trainQualityClassifier]] (whose LBFGS
    * coefficients are engine-specific). Deterministic by construction:
    *   - features are presence bits on `dims` [[graft.Q.md5Bucket32]]
    *     buckets (the house oracle-reproducible hash — murmur3-free);
    *   - the activation is the Elliott fast sigmoid
    *     `0.5 + 0.5·z / (1 + |z|)` (Elliott 1993) — rational double
    *     arithmetic only, so both engines produce bit-identical
    *     activations (libm `exp` differs in final ulps across engines;
    *     swap the true sigmoid back in when differential grading isn't
    *     required);
    *   - per-doc margins and per-bucket gradients are DECIMAL sums
    *     (order-independent under any partitioning — the house float
    *     rule), activations round to 12 decimals, weights to 6 per
    *     round.
    *
    * Scale shape (round-17 optimization, guide §1.2/§2.3/§2.4): the
    * corpus is scanned once into a PER-DOC row (y, distinct bucket
    * ARRAY) — the old (doc, bucket) incidence table exploded that array
    * and paid a distinct shuffle up front plus, per round, a margin
    * join+agg keyed by doc_id AND a gradient join+agg keyed by bucket
    * (two full shuffles of the incidence rows and two joins, 8× each).
    * The weight vector is ≤ dims rows of driver state, so it enters
    * each round as a PLAN-TIME LITERAL MAP (the BPE plan-constant
    * encode-map discipline): the per-doc margin is a row-local
    * `aggregate()` fold over the bucket array through that map — no
    * join, no doc_id shuffle — and the only per-round shuffle left is
    * the gradient explode→groupBy(bucket), map-side combinable into
    * ≤ dims rows. One Spark job per round instead of three.
    * Arithmetic is addend-for-addend the old dataflow's: the margin
    * fold adds the same DECIMAL(18,6) weights per doc (decimal
    * addition, order-free), the gradient sums the same
    * DECIMAL(38,12) residuals per bucket — hash-verified against the
    * unchanged unrolled DuckDB oracle at sf0.001/0.01/0.1.
    * Update uses the (p − y)·x pseudo-gradient (the logistic gradient
    * with the substituted activation).
    *
    * Returns (bucket, weight): the trained coefficient table.
    */
  def logisticGdTrain(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, label: org.apache.spark.sql.Column, dims: Int = 64,
      iters: Int = 8, lr: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(dims > 0 && iters >= 1, s"need dims > 0, iters >= 1; got $dims, $iters")
    // The weight vector enters each round as a PLAN-TIME LITERAL map —
    // O(dims) expression nodes per iteration on the driver. That is the
    // right trade at the md5-bucket scale this trainer targets (dims is
    // a bucket count, default 64), but it would blow up driver-side
    // analysis at HashingTF-style widths (sibling trainQualityClassifier
    // defaults to 1<<18 and is the right tool there). Bound it instead
    // of silently planning a multi-megabyte expression tree per round.
    require(dims <= 4096,
      s"logisticGdTrain's plan-literal weight map is sized for bucketed " +
        s"features (dims <= 4096, got $dims); use trainQualityClassifier " +
        s"for high-dimensional hashed features")
    val spark = docs.sparkSession
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)
    val dec6w = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    // per-doc distinct bucket set, row-local (array_distinct replaces the
    // old corpus-wide (doc, bucket) DISTINCT shuffle); null text → null
    // array (contributes no gradient rows, p = 0.5 via the z coalesce —
    // exactly the old left-join behavior for word-less docs)
    val docBuckets = docs.select(
        label.cast("int").as("y"),
        array_distinct(transform(
          filter(split(col(textCol), " "), w => length(w) > 0),
          w => graft.Q.md5Bucket32(w) % dims)).as("bks"))
      .localCheckpoint(true)
    val n = docBuckets.count().toDouble
    // weight state: one row per bucket PRESENT in the corpus (absent
    // buckets have zero gradient and stay zero) — bounded by dims
    var wRows = docBuckets.select(explode(col("bks")).as("bucket")).distinct()
      .select(col("bucket"), lit(0).cast(dec6).as("w"))
      .collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("w", dec6)))
    def wDf = spark.createDataFrame(
      java.util.Arrays.asList(wRows: _*), schema)
    for (_ <- 1 to iters) {
      // bucket → weight as a plan literal (≤ dims entries); uniform
      // value type so map() needs no per-entry coercion
      val wMap = map(wRows.flatMap(r => Seq(
        lit(r.getLong(0)), lit(r.getDecimal(1)).cast(dec6))): _*)
      // margin: row-local decimal fold over the doc's buckets — the same
      // dec(18,6) addends the old sum(w)-after-join accumulated (decimal
      // addition is exact and order-free, so the fold ≡ the groupBy sum)
      val zCol = aggregate(col("bks"),
        lit(0).cast(dec6w), (acc, b) => acc + element_at(wMap, b))
      val g = docBuckets
        .withColumn("zz", coalesce(zCol, lit(0).cast(dec6w)).cast("double"))
        .withColumn("p",
          round(lit(0.5) + lit(0.5) * col("zz") / (lit(1.0) + abs(col("zz"))), 12)
            .cast(dec12))
        .select(explode(col("bks")).as("bucket"),
          (col("p") - col("y").cast(dec12)).as("r"))
        .groupBy(col("bucket"))
        .agg(sum(col("r")).as("gsum"))
      wRows = wDf.join(g, "bucket")
        .select(col("bucket"),
          round(col("w").cast("double") -
            lit(lr) * col("gsum").cast("double") / lit(n), 6)
            .cast(dec6).as("w"))
        .collect()
    }
    wDf.select(col("bucket"), col("w").cast("double").as("weight"))
      .orderBy(col("bucket"))
  }

  /** The trained classifier's strongest coefficients, as rows — the
    * inspectable artifact (which hashed buckets drive quality up/down).
    * `HashingTF` uses murmur3 on the word's UTF-8 bytes, so a word's
    * bucket is computable for assertions. */
  def classifierTopCoefficients(
      model: org.apache.spark.ml.classification.LogisticRegressionModel,
      spark: org.apache.spark.sql.SparkSession, top: Int):
      org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // rank and CUT on the ROUNDED magnitude with the bucket id as the
    // tiebreak: LBFGS coefficients drift in their low bits with data
    // layout (treeAggregate order), and ranking raw floats makes the
    // top-k SELECTION depend on partitioning wherever magnitudes tie
    // after rounding — the graded artifact must be a function of the
    // data alone (partition-invariance is spec'd)
    val co = model.coefficients.toArray.zipWithIndex
      .filter(_._1 != 0.0)
      .map { case (w, i) => (i.toLong, math.rint(w * 10000) / 10000) }
      .sortBy { case (i, w) => (-math.abs(w), i) }
      .take(top)
    co.toSeq.toDF("bucket", "weight")
  }

  /** URL canonicalization — the key-maker for web-corpus URL dedup
    * (CommonCrawl-style pipelines dedupe fetches by canonical URL before
    * any content pass). Lowercases scheme/host, strips `www.`, default
    * ports, and fragments, drops `utm_*` tracking params, and sorts the
    * surviving query params. Pure codegen string ops — zero shuffle
    * until the final group-by-canonical, which is exactly the dedup.
    * The corpus has no URL column, so the query synthesizes two messy
    * variants per document (case/port/param-order/tracking/fragment
    * noise) and proves they collapse to one canonical key.
    *
    * Rendered per dialect (Spark / DuckDB) from one template, the
    * [[langSql]] convention.
    */
  private def urlSql(explodeSel: String, splitF: String, filterF: String,
      sortF: String, joinF: String): String =
    s"""WITH raw AS (
       |  SELECT doc_id, $explodeSel AS u FROM (
       |    SELECT doc_id,
       |      'HTTPS://WWW.' || upper(source) || '.COM:443/docs/' ||
       |        CAST(doc_id AS STRING) || '?utm_source=feed&b=2&a=1#frag' AS u1,
       |      'https://' || source || '.com/docs/' ||
       |        CAST(doc_id AS STRING) || '?a=1&b=2' AS u2
       |    FROM documents) t
       |), parts AS (
       |  SELECT doc_id, u,
       |    lower(regexp_extract(u, '^([a-zA-Z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(u, '^[a-zA-Z]+://([^/?#]*)', 1)) AS hostport,
       |    regexp_extract(u, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1) AS path,
       |    regexp_extract(u, '[?]([^#]*)', 1) AS qs
       |  FROM raw
       |), hostn AS (
       |  SELECT *, CASE WHEN substr(hostport, 1, 4) = 'www.'
       |    THEN substr(hostport, 5, length(hostport)) ELSE hostport END AS h1
       |  FROM parts
       |), hostp AS (
       |  SELECT *, CASE
       |    WHEN scheme = 'https' AND h1 LIKE '%:443' THEN substr(h1, 1, length(h1) - 4)
       |    WHEN scheme = 'http' AND h1 LIKE '%:80' THEN substr(h1, 1, length(h1) - 3)
       |    ELSE h1 END AS host
       |  FROM hostn
       |), canon AS (
       |  SELECT doc_id, scheme || '://' || host || path ||
       |    CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical
       |  FROM (
       |    SELECT doc_id, scheme, host, path,
       |      $joinF($sortF($filterF($splitF(qs, '&'),
       |        p -> substr(p, 1, 4) <> 'utm_' AND length(p) > 0)), '&') AS cq
       |    FROM hostp) t
       |)
       |SELECT canonical, CAST(count(*) AS BIGINT) AS n_variants,
       |  min(doc_id) AS doc_id
       |FROM canon
       |GROUP BY canonical
       |ORDER BY doc_id""".stripMargin

  private val q97Spark = urlSql("explode(array(u1, u2))",
    "split", "filter", "array_sort", "array_join")
  private val q97Duck = urlSql("unnest([u1, u2])",
    "string_split", "list_filter", "list_sort", "array_to_string")

  /** Fixed inference weights for the graded scoring query — stands in
    * for an exported fastText/LR model vocabulary (the trained twin is
    * q107). Values chosen over corpus vocabulary so every band of z is
    * exercised. */
  val ClassifierWeights: Map[String, Double] = Map(
    "spark" -> 1.25, "query" -> 0.75, "window" -> 0.5, "data" -> 0.25,
    "slow" -> -1.0, "dup" -> -1.5, "batch" -> -0.25)
  val ClassifierBias: Double = -0.5

  /** HTML → text extraction — the web-corpus ingestion stage (what a
    * CommonCrawl pipeline runs before any quality/dedup op): structural
    * boilerplate zones (script/style/nav/footer, with their contents)
    * are removed, remaining markup is stripped to text, the five core
    * entities decode (`&amp;` deliberately LAST so `&amp;lt;` cannot
    * double-decode), and whitespace collapses. Pure chained
    * `regexp_replace` — row-local codegen, zero shuffle, scales with
    * the scan. Patterns stay in the RE2 ∩ Java-regex dialect
    * ((?is), lazy quantifiers, character classes) so the DuckDB oracle
    * runs the IDENTICAL chain.
    */
  def htmlExtract(docs: org.apache.spark.sql.DataFrame, idCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame = {
    val zones = Seq("script", "style", "nav", "footer")
    val noZones = zones.foldLeft(col(htmlCol)) { (c, z) =>
      regexp_replace(c, s"(?is)<$z\\b[^>]*>.*?</$z>", " ")
    }
    val noTags = regexp_replace(noZones, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    docs.select(col(idCol),
      trim(regexp_replace(decoded, "\\s+", " ")).as("extracted"))
      .withColumn("n_extracted", length(col("extracted")).cast("long"))
  }

  // Flesch readability — the classic surface-form quality signal (and a
  // common pretraining-filter feature): reading ease and grade level
  // from words / sentences / syllables. Syllables use the standard
  // vowel-run heuristic (maximal [aeiouy]+ runs in the lowercased
  // text), sentences the [.!?]+ run count, both clamped to >= 1 so the
  // ratios are total. One row-local codegen pass; the whole expression
  // tree is identical in both engines (only the match-count spelling
  // differs per dialect).
  private def readabilitySql(cnt: String => String) = {
    val w = "CAST(len_ws AS DOUBLE)"
    val s = "CAST(greatest(1, n_sent) AS DOUBLE)"
    val y = "CAST(greatest(1, n_syl) AS DOUBLE)"
    s"""WITH c AS (
       |  SELECT doc_id,
       |    ${cnt("' '")} AS len_ws_raw,
       |    ${cnt("'[.!?]+'")} AS n_sent,
       |    ${cnt("'[aeiouy]+'").replace("(text", "(lower(text)")} AS n_syl
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, len_ws_raw + 1 AS len_ws, n_sent, n_syl FROM c
       |)
       |SELECT doc_id,
       |  CAST(len_ws AS BIGINT) AS n_words,
       |  CAST(greatest(1, n_sent) AS BIGINT) AS n_sentences,
       |  CAST(greatest(1, n_syl) AS BIGINT) AS n_syllables,
       |  round(206.835 - 1.015 * ($w / $s) - 84.6 * ($y / $w), 4) AS flesch_ease,
       |  round(0.39 * ($w / $s) + 11.8 * ($y / $w) - 15.59, 4) AS fk_grade
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }
  // words = separator count + 1 (split-size semantics without length());
  // each dialect spells "count regex matches" differently
  private val q192Spark =
    readabilitySql(p => s"size(regexp_extract_all(text, $p, 0))")
  private val q192Duck =
    readabilitySql(p => s"len(regexp_extract_all(text, $p))")

  // Tokenizer fitness per (source, lang): document counts, whitespace
  // vs BPE-ish token totals, chars-per-token (compression) and
  // fertility (BPE tokens per word) — the table a mixture planner reads
  // before fixing sampling weights (a language whose fertility is 2×
  // pays 2× the context budget per word). Integer token sums are exact
  // in DOUBLE far beyond any corpus size; one aggregation, map-side
  // combinable.
  private def tokenStatsSql(lenF: String, extractAll: String => String) =
    s"""WITH t AS (
       |  SELECT source, lang, CAST(length(text) AS BIGINT) AS n_chars_t,
       |    CAST($lenF(string_split_local(text)) AS BIGINT) AS ws_tokens,
       |    CAST($lenF(${extractAll(tokPat)}) AS BIGINT) AS bpe_tokens
       |  FROM documents
       |)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  round(CAST(sum(n_chars_t) AS DOUBLE) / sum(bpe_tokens), 4)
       |    AS chars_per_token,
       |  round(CAST(sum(bpe_tokens) AS DOUBLE) / sum(ws_tokens), 4)
       |    AS fertility
       |FROM t
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin
  private val q193Spark = tokenStatsSql("size",
    p => s"regexp_extract_all(text, $p, 0)")
    .replace("string_split_local(text)", "split(text, ' ')")
  private val q193Duck = tokenStatsSql("len",
    p => s"regexp_extract_all(text, $p)")
    .replace("string_split_local(text)", "string_split(text, ' ')")

  /** Keyword-in-context (KWIC) concordance: every exact-token occurrence
    * of a term with ±`window` words of context — the audit view a data
    * curator pulls before deciding whether a blocklist/quality term
    * actually means what the counts suggest. One split + posexplode +
    * equality filter (the filter reaches the exploded stream before any
    * shuffle; output is occurrences only, never the corpus) and a
    * row-local slice/join for the context.
    */
  def kwic(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], window: Int): DataFrame = {
    require(terms.nonEmpty && window >= 0, s"need terms and window >= 0")
    val ws = split(col(textCol), " ")
    docs.select(col(idCol).as("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"), posexplode(col("ws")).as(Seq("p0", "w")))
      .filter(col("w").isInCollection(terms))
      .select(col("doc_id"), col("w").as("term"),
        (col("p0") + 1).cast("long").as("idx"),
        array_join(slice(col("ws"),
          greatest(lit(1), col("p0") + 1 - window),
          least(size(col("ws")), col("p0") + 1 + window) -
            greatest(lit(1), col("p0") + 1 - window) + 1), " ").as("context"))
  }

  private val q199Oracle =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), sel AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w
      |)
      |SELECT doc_id, ws[i] AS term, CAST(i AS BIGINT) AS idx,
      |  array_to_string(ws[greatest(1, i - 3):least(len(ws), i + 3)], ' ')
      |    AS context
      |FROM sel
      |WHERE ws[i] IN ('spark', 'window')
      |ORDER BY doc_id, idx""".stripMargin

  // Code-vs-prose routing: the heuristic every mixed crawl needs before
  // sending documents down the prose pipeline (BPE fertility, stopword
  // quality and readability are all wrong on code). Two codegen
  // signals — structural-symbol density and code-keyword hits — OR'd
  // at thresholds; one scan, no shuffle. The corpus is synthetic
  // prose, so the query PLANTS a code block on every 7th doc (the
  // q72/q132 pattern) and the detector must flag exactly those.
  private def codeDetectSql(cnt: String => String) =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text ||
       |      ' def load(path): rows = read(path); return [r for r in rows if r.ok]'
       |    ELSE text END AS body
       |  FROM documents
       |), sig AS (
       |  SELECT doc_id,
       |    CAST(${cnt("'[{}()=;<>]'")} AS BIGINT) AS n_symbols,
       |    CAST(${cnt("'def |return |import |print[(]|; '")} AS BIGINT) AS kw_hits,
       |    CAST(length(body) AS BIGINT) AS n_chars_b
       |  FROM planted
       |)
       |SELECT doc_id, n_symbols, kw_hits,
       |  round(CAST(n_symbols AS DOUBLE) / n_chars_b, 6) AS symbol_density,
       |  CAST(CAST(n_symbols AS DOUBLE) / n_chars_b > 0.01 OR kw_hits >= 2
       |    AS INT) AS is_code
       |FROM sig
       |ORDER BY doc_id""".stripMargin
  private val q210Spark =
    codeDetectSql(p => s"size(regexp_extract_all(body, $p, 0))")
  private val q210Duck =
    codeDetectSql(p => s"len(regexp_extract_all(body, $p))")

  /** Count-min sketch point-query audit — the third sketch in the
    * frequency family (SpaceSaving top-k q98 finds heavy keys, Bloom
    * q105 answers membership; CMS answers "how often", in depth×width
    * counters regardless of vocabulary size). Estimates NEVER
    * undercount — est = min over depth rows of the hashed-bucket sum —
    * and the audit reports the one-sided overestimate for the corpus's
    * top `topK` words so the width/depth sizing is judged on evidence
    * (ε ≈ e/width of total mass, here deliberately tight to show
    * collisions). Hashing is the house md5-32 ([[graft.Q.md5Bucket32]]),
    * so the oracle reproduces every bucket exactly.
    *
    * Word counts aggregate once (map-side combinable); the sketch is a
    * depth-row explode over the COUNT table (vocab-bounded, not
    * corpus-bounded); only the topK probe rows join back.
    */
  def cmsAudit(docs: org.apache.spark.sql.DataFrame, textCol: String,
      depth: Int = 4, width: Int = 64,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    require(depth > 0 && width > 0 && topK > 0,
      s"need positive depth/width/topK, got $depth/$width/$topK")
    val wc = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    def bucket = Q.md5Bucket32(
      concat(col("r").cast("string"), lit(":"), col("w"))) % width
    val cells = wc
      .select(col("w"), col("c"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .select(col("r"), bucket.as("bucket"), col("c"))
      .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("cell"))
    val top = wc.orderBy(col("c").desc, col("w")).limit(topK)
    top
      .select(col("w"), col("c"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .select(col("w"), col("c"), col("r"), bucket.as("bucket"))
      .join(cells, Seq("r", "bucket"))
      .groupBy(col("w"))
      .agg(max(col("c")).as("true_c"), min(col("cell")).as("est_c"))
      .select(col("w"), col("true_c"), col("est_c"),
        (col("est_c") - col("true_c")).as("overestimate"))
  }

  /** Encoding/mojibake audit — the per-source data-quality scan a
    * crawl ingest runs before any text operator: characters outside
    * printable-ASCII+tab+newline (the decode-damage signal on an
    * English corpus; relax the class per expected script) and U+FFFD
    * replacement characters (the unambiguous decoder-gave-up marker).
    * Char classes are built from REAL tab/newline/U+FFFD characters
    * embedded in the literal, so no backslash-escape dialect fork; the
    * only split is regexp_replace's global flag (`cnt` lambda, the
    * q210 pattern). One codegen aggregation, |sources| rows out.
    */
  private def encodingAuditSql(rep: String => String) = {
    val bad = "'[^\t\n -~]'"
    val repl = "'�'"
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(${rep(bad)} AS BIGINT) AS n_bad,
       |    CAST(${rep(repl)} AS BIGINT) AS n_repl
       |  FROM documents
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(n_bad) AS BIGINT) AS n_bad,
       |  CAST(sum(n_repl) AS BIGINT) AS n_repl,
       |  CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_with_bad,
       |  round(CAST(sum(n_bad) AS DOUBLE) / sum(nc), 6) AS bad_rate
       |FROM per
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }
  private val q239Spark = encodingAuditSql(p =>
    s"length(text) - length(regexp_replace(text, $p, ''))")
  private val q239Duck = encodingAuditSql(p =>
    s"length(text) - length(regexp_replace(text, $p, '', 'g'))")

  val queries: Map[String, QueryFn] = Map(
    "q192_readability" -> Q.fromSql(q192Spark),
    "q239_encoding_audit" -> Q.fromSql(q239Spark),

    "q234_cms_audit" -> ((s, dir) =>
      cmsAudit(Tables.load(s, dir, "documents"), "text")
        .orderBy(col("w"))),
    "q193_token_stats" -> Q.fromSql(q193Spark),
    "q210_code_detect" -> Q.fromSql(q210Spark),

    "q199_kwic" -> ((s, dir) =>
      kwic(Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window"), window = 3)
        .orderBy(col("doc_id"), col("idx"))),

    "q132_html_extract" -> ((s, dir) => {
      // the corpus is plain text, so the query PLANTS the markup (the
      // q72/q95/q124 pattern): head boilerplate, nav/footer zones, an
      // entity-bearing tail — extraction must keep title + body text +
      // decoded tail and drop everything structural.
      val docs = Tables.load(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>"), col("source"),
        lit("</title><style>body { color: #000; }</style>" +
          "<script>if (1 < 2) { var x = \"&amp;\"; }</script></head>" +
          "<body><nav>home | about | contact</nav><p>"),
        col("text"),
        lit(" &amp; tail</p><div class=\"note\">n&#39;est-ce pas</div>" +
          "<footer>&copy; 2024 corp</footer></body></html>"))
      htmlExtract(docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    "q54_langid" -> Q.fromSql(q54Spark),
    "q55_quality_score" -> Q.fromSql(q55Spark),
    "q56_token_count" -> Q.fromSql(q56Spark),
    "q57_fingerprint" -> Q.fromSql(q57Spark),

    // PII redaction + audit counts. The corpus has no natural PII, so
    // the query plants a deterministic email/phone/URL per document from
    // its own columns (identically in the oracle), then redacts.
    "q72_pii_redact" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val synth = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" visit https://site.org/"), col("source"))
      docs.select(col("doc_id"), synth.as("synth"))
        .select(col("doc_id"),
          redactPii(col("synth")).as("clean"),
          piiCount(col("synth"), UrlRe).as("n_urls"),
          piiCount(col("synth"), EmailRe).as("n_emails"),
          piiCount(col("synth"), PhoneRe).as("n_phones"))
        .orderBy(col("doc_id"))
    }),

    "q88_tfidf_keywords" -> ((s, dir) =>
      tfidfKeywords(Tables.load(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rk"))),

    "q161_collocations" -> ((s, dir) =>
      pmiCollocations(Tables.load(s, dir, "documents"), "doc_id", "text",
        minCount = 5L)
        .orderBy(col("w1"), col("w2"))),

    // Plan-constant blocklist scan (functions/Blocklist.scala): one
    // Aho-Corasick pass counts distinct blocklist phrases per doc —
    // the policy-filter/decontamination primitive (vs m contains scans).
    "q180_blocklist" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      val phrases = BlocklistPhrases.map(p => s"'$p'").mkString(", ")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"blocklist_hits(text, array($phrases))").as("n_hit"))
        .withColumn("contaminated", (col("n_hit") > 0).cast("boolean"))
        .orderBy(col("doc_id"))
    }),

    // Character-distribution entropy (functions/CharEntropy.scala): the
    // one-pass codegen expression vs the oracle's grouped form of the
    // same ln-based formula. Row-local — zero shuffle.
    "q172_char_entropy" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_m"),
          size(array_distinct(split(col("text"), ""))).cast("long").as("n_distinct"),
          round(expr("char_entropy(text)"), 6).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    "q106_classifier_score" -> ((s, dir) =>
      scoreLinearClassifier(Tables.load(s, dir, "documents"), "doc_id", "text",
        ClassifierWeights, ClassifierBias)
        .orderBy(col("doc_id"))),

    // The trained-model family's hash-verified member: closed-form OLS
    // train -> score (q107's LBFGS coefficients stay engine-specific
    // and rows-only; this pins the train-on-corpus -> score-corpus
    // pipeline against a term-for-term DuckDB oracle).
    "q118_linear_probe" -> ((s, dir) =>
      linearProbe(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Distributed classifier TRAINING, graded end-to-end: 8 unrolled
    // full-batch gradient-descent rounds over md5-bucketed binary
    // features on the planted weak label (doc mentions "spark"). The
    // LBFGS path stays in the library ([[trainQualityClassifier]],
    // spec'd for partition-invariance + planted-bucket sign), but its
    // coefficients are engine-specific; this graded twin trains with
    // deterministic arithmetic instead — DECIMAL gradient sums and the
    // exp-free Elliott sigmoid — so every round is bit-reproducible in
    // a DuckDB oracle (the q119/q196 unroll discipline applied to
    // model TRAINING).
    "q107_classifier_train" -> ((s, dir) =>
      logisticGdTrain(Tables.load(s, dir, "documents"), "doc_id", "text",
        col("text").contains("spark"), dims = 64, iters = 8, lr = 0.5)),

    "q92_hashed_features" -> ((s, dir) =>
      hashedFeatures(Tables.load(s, dir, "documents"), "doc_id", "text", dims = 16)
        .orderBy(col("doc_id"), col("bucket"))),

    // Unicode normalization (functions/Normalize.scala): the corpus is
    // pure ASCII, so the query first plants decomposed accents
    // deterministically (every 'a' gains a combining grave, every 'e' a
    // combining acute — the exact same replace in the oracle), then NFC-
    // composes and accent-folds back. Everything is codegen row ops —
    // zero shuffle, scales with the scan; the ASCII fast path means real
    // corpora pay the Normalizer only on non-ASCII rows.
    "q95_nfc_normalize" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      val docs = Tables.load(s, dir, "documents")
      val deco =
        expr("replace(replace(text, 'a', 'a\u0300'), 'e', 'e\u0301')")
      docs.select(col("doc_id"), col("text"), deco.as("deco"))
        .select(col("doc_id"), col("text"),
          length(col("deco")).cast("long").as("n_deco"),
          expr("nfc_normalize(deco)").as("composed"))
        .select(col("doc_id"), col("n_deco"),
          length(col("composed")).cast("long").as("n_nfc"),
          col("composed"),
          (expr("strip_accents(composed)") === col("text")).as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    "q97_url_canon" -> Q.fromSql(q97Spark),

    // Heavy hitters per source via the SpaceSaving sketch aggregate
    // (functions/TopK.scala). capacity 4096 >> the corpus vocabulary, so
    // the sketch runs in its exact regime and the DuckDB oracle is a
    // plain per-group top-5 — the approximate regime's error bounds are
    // spec'd in OperatorsSpec instead.
    "q98_heavy_hitters" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"))
        .agg(expr("topk_sketch(w, 5, 4096)").as("tk"))
        .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("source"), col("e.item").as("term"), col("e.cnt").as("cnt"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))
    })
  )

  private val classifierWtsValues = ClassifierWeights.toSeq.sortBy(_._1)
    .map { case (w, wt) => s"('$w', $wt)" }.mkString(", ")

  /** The IDENTICAL regexp_replace chain as [[htmlExtract]], rendered as
    * DuckDB SQL (every call needs the 'g' flag — DuckDB replaces only
    * the first match by default, Spark replaces all). */
  private val q132Oracle: String = {
    var e = "h"
    for (z <- Seq("script", "style", "nav", "footer"))
      e = s"regexp_replace($e, '(?is)<$z\\b[^>]*>.*?</$z>', ' ', 'g')"
    e = s"regexp_replace($e, '<[^>]+>', ' ', 'g')"
    for ((ent, r) <- Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&"))
      e = s"regexp_replace($e, '$ent', '$r', 'g')"
    e = s"trim(regexp_replace($e, '\\s+', ' ', 'g'))"
    s"""WITH html AS (
       |  SELECT doc_id,
       |    '<html><head><title>' || source ||
       |    '</title><style>body { color: #000; }</style>' ||
       |    '<script>if (1 < 2) { var x = "&amp;"; }</script></head>' ||
       |    '<body><nav>home | about | contact</nav><p>' || text ||
       |    ' &amp; tail</p><div class="note">n&#39;est-ce pas</div>' ||
       |    '<footer>&copy; 2024 corp</footer></body></html>' AS h
       |  FROM documents
       |), ex AS (
       |  SELECT doc_id, $e AS extracted FROM html
       |)
       |SELECT doc_id, extracted,
       |  CAST(length(extracted) AS BIGINT) AS n_extracted
       |FROM ex ORDER BY doc_id""".stripMargin
  }

  /** q107's oracle: the [[logisticGdTrain]] rounds unrolled as
    * MATERIALIZED CTEs (same DECIMAL sums, same Elliott activation,
    * same rounding points — term-for-term the Spark loop). */
  private def q107Duck(dims: Int, iters: Int, lr: Double): String = {
    val bucket32 = "CAST(CAST('0x' || substring(md5(word), 1, 8) AS UBIGINT) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"""WITH dl AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS y
      |  FROM documents
      |), inc AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, $bucket32 % $dims AS bucket
      |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS word
      |        FROM documents)
      |), nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |w0 AS MATERIALIZED (
      |  SELECT DISTINCT bucket, CAST(0 AS DECIMAL(18,6)) AS w FROM inc
      |)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
        |z$t AS MATERIALIZED (
        |  SELECT i.doc_id, sum(w.w) AS z FROM inc i JOIN w${t - 1} w USING (bucket)
        |  GROUP BY i.doc_id
        |),
        |p$t AS MATERIALIZED (
        |  SELECT doc_id, y,
        |    CAST(round(0.5 + 0.5 * zz / (1.0 + abs(zz)), 12) AS DECIMAL(38,12)) AS p
        |  FROM (SELECT d.doc_id, d.y, CAST(coalesce(z.z, 0) AS DOUBLE) AS zz
        |        FROM dl d LEFT JOIN z$t z USING (doc_id))
        |),
        |g$t AS MATERIALIZED (
        |  SELECT i.bucket, sum(p.p - p.y) AS gsum
        |  FROM inc i JOIN p$t p USING (doc_id) GROUP BY i.bucket
        |),
        |w$t AS MATERIALIZED (
        |  SELECT w.bucket,
        |    CAST(round(CAST(w.w AS DOUBLE) - $lr * CAST(g.gsum AS DOUBLE) / nn.n, 6)
        |      AS DECIMAL(18,6)) AS w
        |  FROM w${t - 1} w JOIN g$t g USING (bucket) CROSS JOIN nn
        |)""".stripMargin
    }
    sb ++= s"""
      |SELECT bucket, CAST(w AS DOUBLE) AS weight FROM w$iters
      |ORDER BY bucket""".stripMargin
    sb.toString
  }

  val oracle: Map[String, String] = Map(
    "q107_classifier_train" -> q107Duck(dims = 64, iters = 8, lr = 0.5),
    "q192_readability" -> q192Duck,
    "q193_token_stats" -> q193Duck,
    "q199_kwic" -> q199Oracle,
    "q239_encoding_audit" -> q239Duck,

    "q234_cms_audit" ->
      """WITH wc AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  GROUP BY w
        |), rr AS (SELECT unnest(generate_series(0, 3)) AS r),
        |cells AS (
        |  SELECT r, bucket, CAST(sum(c) AS BIGINT) AS cell FROM (
        |    SELECT wc.c, rr.r,
        |      CAST(CAST('0x' || substring(md5(rr.r || ':' || wc.w), 1, 8)
        |        AS UBIGINT) AS BIGINT) % 64 AS bucket
        |    FROM wc CROSS JOIN rr) t
        |  GROUP BY r, bucket
        |), top AS (
        |  SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20
        |), probes AS (
        |  SELECT top.w, top.c, rr.r,
        |    CAST(CAST('0x' || substring(md5(rr.r || ':' || top.w), 1, 8)
        |      AS UBIGINT) AS BIGINT) % 64 AS bucket
        |  FROM top CROSS JOIN rr
        |), est AS (
        |  SELECT p.w, max(p.c) AS true_c, min(cl.cell) AS est_c
        |  FROM probes p JOIN cells cl ON cl.r = p.r AND cl.bucket = p.bucket
        |  GROUP BY p.w
        |)
        |SELECT w, true_c, est_c, est_c - true_c AS overestimate
        |FROM est
        |ORDER BY w""".stripMargin,
    "q210_code_detect" -> q210Duck,
    "q132_html_extract" -> q132Oracle,
    "q118_linear_probe" ->
      """WITH feats AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
        |      AS BIGINT) AS x,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      w -> len(w) > 0))) AS BIGINT) AS y
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        |  FROM feats
        |), fit AS (
        |  SELECT n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
        |  FROM stats
        |)
        |SELECT f.doc_id, f.x AS n_words, f.y AS n_vocab,
        |  round(((sy - b * sx) / n) + b * CAST(f.x AS DOUBLE), 6) AS pred_vocab,
        |  round(CAST(f.y AS DOUBLE) -
        |    (((sy - b * sx) / n) + b * CAST(f.x AS DOUBLE)), 6) AS resid
        |FROM feats f CROSS JOIN fit
        |ORDER BY f.doc_id""".stripMargin,

    "q106_classifier_score" ->
      s"""WITH wts(w, wt) AS (VALUES $classifierWtsValues
         |), words AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |), hits AS (
         |  SELECT doc_id, count(*) AS n_hits,
         |    sum(CAST(wt AS DECIMAL(18,4))) AS zsum
         |  FROM words JOIN wts USING (w) GROUP BY doc_id
         |), scored AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |    round(CAST(coalesce(h.zsum, CAST(0 AS DECIMAL(18,4)))
         |      + CAST($ClassifierBias AS DECIMAL(18,4)) AS DOUBLE), 4) AS z
         |  FROM documents d LEFT JOIN hits h USING (doc_id)
         |)
         |SELECT doc_id, n_hits, z,
         |  round(1.0 / (1.0 + exp(-z)), 4) AS p
         |FROM scored
         |ORDER BY doc_id""".stripMargin,

    "q54_langid" -> q54Duck,
    "q55_quality_score" -> q55Duck,
    "q56_token_count" -> q56Duck,
    "q57_fingerprint" -> q57Duck,

    "q72_pii_redact" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS STRING) ||
         |    '@mail' || CAST(doc_id % 7 AS STRING) || '.com call 555-' ||
         |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ||
         |    ' visit https://site.org/' || source AS synth
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(synth,
         |    '$UrlRe', '[URL]', 'g'),
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g') AS clean,
         |  CAST(len(regexp_extract_all(synth, '$UrlRe', 0)) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(synth, '$EmailRe', 0)) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(synth, '$PhoneRe', 0)) AS BIGINT) AS n_phones
         |FROM s
         |ORDER BY doc_id""".stripMargin,

    "q161_collocations" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |), bi AS (
        |  SELECT b.w1, b.w2, count(*) AS n_pair FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
        |    FROM toks WHERE len(ws) >= 2) t
        |  GROUP BY b.w1, b.w2
        |), uni AS (
        |  SELECT unnest(ws) AS w FROM toks
        |), unic AS (
        |  SELECT w, count(*) AS cw FROM uni GROUP BY w
        |), nb AS (
        |  SELECT CAST(sum(n_pair) AS DOUBLE) AS n_bi FROM bi
        |), nu AS (
        |  SELECT CAST(sum(cw) AS DOUBLE) AS n_uni FROM unic
        |)
        |SELECT bi.w1, bi.w2, bi.n_pair,
        |  round(ln((CAST(bi.n_pair AS DOUBLE) * n_uni * n_uni) /
        |    (n_bi * CAST(a.cw AS DOUBLE) * CAST(b.cw AS DOUBLE))), 6) AS pmi
        |FROM bi
        |JOIN unic a ON a.w = bi.w1
        |JOIN unic b ON b.w = bi.w2
        |CROSS JOIN nb CROSS JOIN nu
        |WHERE bi.n_pair >= 5
        |ORDER BY bi.w1, bi.w2""".stripMargin,

    "q180_blocklist" -> {
      val phrases = BlocklistPhrases.map(p => s"'$p'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(len(list_filter([$phrases],
         |    p -> contains(text, p))) AS INT) AS n_hit,
         |  len(list_filter([$phrases], p -> contains(text, p))) > 0
         |    AS contaminated
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    },

    "q172_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |), f AS (
        |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM ch GROUP BY doc_id, c
        |), n AS (
        |  SELECT doc_id, sum(cnt) AS n FROM f GROUP BY doc_id
        |)
        |SELECT f.doc_id, CAST(n.n AS BIGINT) AS n_chars_m,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round((ln(n.n) - sum(cnt * ln(cnt)) / n.n) / ln(2), 6) AS entropy
        |FROM f JOIN n USING (doc_id)
        |GROUP BY f.doc_id, n.n
        |ORDER BY doc_id""".stripMargin,

    "q88_tfidf_keywords" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM words GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "q92_hashed_features" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substring(md5(w), 1, 8) AS UBIGINT) AS BIGINT) % 16
        |    AS bucket,
        |  count(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin,

    // chr(768)/chr(769) are the combining grave/acute the Spark side
    // plants as literals; DuckDB's nfc_normalize/strip_accents are the
    // independent UAX#15 implementation (utf8proc) the custom
    // expressions must agree with.
    "q95_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    replace(replace(text, 'a', 'a' || chr(768)),
        |                          'e', 'e' || chr(769)) AS deco
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(deco) AS BIGINT) AS n_deco,
        |  CAST(length(nfc_normalize(deco)) AS BIGINT) AS n_nfc,
        |  nfc_normalize(deco) AS composed,
        |  strip_accents(nfc_normalize(deco)) = text AS roundtrip_ok
        |FROM d
        |ORDER BY doc_id""".stripMargin,

    "q97_url_canon" -> q97Duck,

    "q98_heavy_hitters" ->
      """SELECT source, term, cnt, rk FROM (
        |  SELECT source, w AS term, CAST(count(*) AS BIGINT) AS cnt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY count(*) DESC, w) AS rk
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  GROUP BY source, w) z
        |WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin
  )
}
