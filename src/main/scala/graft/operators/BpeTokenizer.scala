package graft.operators

import graft.Tables
import graft.Q.QueryFn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + corpus tokenization (Sennrich et
  * al. 2016) — the subword-vocabulary step a pretraining pipeline runs
  * over its final corpus. Reference scope: the arkflow surface stops at
  * whitespace/regex token COUNTING (q56); this adds the learned
  * tokenizer itself as a first-class distributed operator.
  *
  * The 100 TB formulation: the corpus is touched exactly ONCE (the word
  * count — one shuffle keyed by word); every merge iteration then runs
  * on the WORD-TYPE table (vocabulary-sized, orders of magnitude smaller
  * than the corpus, and shrinking as merges fuse symbols). Per iteration:
  * one row-local adjacent-pair explode over types, one pair-count
  * aggregation (map-side combined), one single-row argmax to the driver
  * (the chosen merge is the only driver-side state — a few bytes per
  * rank), one row-local merge rewrite. `localCheckpoint` truncates the
  * per-iteration lineage so plan depth stays O(1) over hundreds of
  * merges, exactly like [[Corpus.connectedComponents]] rounds.
  *
  * Tokenization applies the learned table in ONE corpus scan through the
  * fused codegen expression [[graft.functions.BpeEncode]] — the merge
  * list is a plan constant, never a per-merge pass over the data.
  *
  * Ties (equal pair counts) break lexicographically, so the learned
  * table is deterministic on any partitioning, cluster size, or engine.
  * No SQL oracle: the train loop is iterative argmax-then-rewrite, which
  * a single DuckDB query cannot express — OperatorsSpec proves parity
  * against an independent single-node reference implementation instead
  * (the q40/q67 treatment).
  */
object BpeTokenizer {

  /** Character symbols of a word, the last carrying the end-of-word
    * marker — `"low"` → `["l", "o", "w</w>"]`. Spark's empty-pattern
    * split is code-POINT based (supplementary-plane characters stay
    * whole) — the driver twin [[encodeLocal]] must match it, NOT Java's
    * `String.split("")`, which severs surrogate pairs
    * (BpePropertySpec pins the two paths together on astral text). */
  private def initSyms(word: Column): Column = {
    val cs = filter(split(word, ""), c => c =!= "")
    transform(cs, (c, i) =>
      when(i === size(cs) - 1, concat(c, lit("</w>"))).otherwise(c))
  }

  /** Row-local adjacent symbol pairs: `[a,b,c]` → `[(a,b), (b,c)]`. */
  private def adjacentPairs(syms: Column): Column =
    filter(
      zip_with(syms,
        slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
        (l, r) => struct(l.as("l"), r.as("r"))),
      p => p.getField("r").isNotNull)

  /** One left-to-right non-overlapping (l, r) merge pass as a row-local
    * fold — the training-side rewrite (tokenization uses the fused
    * expression instead; OperatorsSpec asserts the two agree). */
  private def mergePass(syms: Column, l: Column, r: Column): Column = {
    val init = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("pend"))
    aggregate(syms, init,
      (acc, s) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), s.as("pend")))
          .when(pend === l && s === r,
            struct(concat(out, array(concat(l, r))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), s.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
  }

  /** A learned merge: rank-ordered, `merged = left + right`. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Learn `numMerges` merges from the corpus. Stops early when no
    * remaining pair reaches `minFreq` (merging hapax pairs only memorizes
    * the corpus).
    *
    * The corpus-scale pass is always the ONE distributed word count; the
    * merge loop then runs on the word-TYPE table, which is
    * vocabulary-sized — heavy-tailed text keeps it in the millions even
    * at 100 TB. When it fits under `localTypeThreshold` the loop runs on
    * the DRIVER (collect once, iterate in memory — the shape every
    * production BPE trainer uses, eliminating the 2-jobs-per-merge
    * scheduler overhead that dominates distributed iterations); above
    * the threshold it falls back to the distributed per-iteration
    * dataflow. Both paths are exactly the same algorithm (greedy global
    * argmax, lexicographic tie-break, left-to-right non-overlapping
    * rewrite) — OperatorsSpec asserts merge-for-merge equality. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L, localTypeThreshold: Long = 200000L): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    var types = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(initSyms(col("word")).as("syms"), col("freq"))
      .localCheckpoint(true)
    if (types.count() <= localTypeThreshold) {
      val collected = types.collect().map(r =>
        (r.getSeq[String](0).toArray, r.getLong(1)))
      return trainLocal(collected, numMerges, minFreq)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val best = types
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minFreq) done = true
      else {
        val (l, r, cnt) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        merges += Merge(rank, l, r, cnt)
        types = types
          .select(mergePass(col("syms"), lit(l), lit(r)).as("syms"), col("freq"))
          .localCheckpoint(true)
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Driver-side merge loop over the collected word-type table — the
    * same greedy algorithm as the distributed branch of [[train]],
    * including tie-breaks and the [[mergePass]] rewrite semantics. */
  private def trainLocal(types: Array[(Array[String], Long)],
      numMerges: Int, minFreq: Long): Seq[Merge] = {
    val syms = types.map(_._1)
    val freqs = types.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < syms.length) {
        val w = syms(i)
        var j = 0
        while (j < w.length - 1) {
          val key = (w(j), w(j + 1))
          cnt.update(key, cnt.getOrElse(key, 0L) + freqs(i))
          j += 1
        }
        i += 1
      }
      if (cnt.isEmpty) done = true
      else {
        val ((l, r), c) = cnt.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        if (c < minFreq) done = true
        else {
          merges += Merge(rank, l, r, c)
          var i2 = 0
          while (i2 < syms.length) {
            syms(i2) = mergeLocal(syms(i2), l, r)
            i2 += 1
          }
          rank += 1
        }
      }
    }
    merges.toSeq
  }

  /** Left-to-right non-overlapping merge — [[mergePass]]'s fold, locally. */
  private def mergeLocal(w: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pend: String = null
    var i = 0
    while (i < w.length) {
      val s = w(i)
      if (pend == null) pend = s
      else if (pend == l && s == r) { out += l + r; pend = null }
      else { out += pend; pend = s }
      i += 1
    }
    if (pend != null) out += pend
    out.toArray
  }

  /** [[train]] as a DataFrame — (rank, left, right, merged, freq). */
  def trainDf(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, numMerges, minFreq)
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.freq))
      .toDF("rank", "left", "right", "merged", "freq")
  }

  /** [[graft.functions.Bpe.encode]]'s driver twin — initial char split
    * (`</w>` on the last symbol) plus the ranked merge passes, so a word
    * TYPE can be encoded once off the data path. Parity with the codegen
    * expression is spec'd (OperatorsSpec). */
  def encodeLocal(word: String, mergesSorted: Seq[Merge]): Array[String] = {
    // code-POINT split, matching Spark's split(word, "") on the codegen
    // path — Java String.split("") would sever supplementary-plane
    // characters into surrogate halves and fork the vocabulary
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    if (syms.isEmpty) return syms
    syms(syms.length - 1) = syms(syms.length - 1) + "</w>"
    mergesSorted.foreach { m =>
      if (syms.length > 1) syms = mergeLocal(syms, m.left, m.right)
    }
    syms
  }

  /** Tokenize every document with a learned merge table.
    *
    * Real text repeats words massively, so encoding every OCCURRENCE
    * re-runs the merge loop thousands of times per type. Like [[train]],
    * the word-TYPE table is the fast path: when the corpus's distinct
    * words fit `localTypeThreshold` (bounded collect, limit+1 guard),
    * each type is encoded ONCE on the driver and the word→tokens table
    * rides into the scan as a plan constant — the runtime does a map
    * lookup per word, zero merge passes. Above the threshold the
    * codegen path runs, memoized per row (each row's DISTINCT words
    * encode once via `map_from_arrays`, then occurrences look up) — no
    * shuffle in either shape.
    */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], localTypeThreshold: Long = 200000L): DataFrame = {
    val sorted = merges.sortBy(_.rank)
    val thr = math.min(localTypeThreshold, (Int.MaxValue - 2).toLong)
    val types: Array[String] = if (thr > 0)
      docs.select(explode(split(col(textCol), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
        .limit(thr.toInt + 1).collect().map(_.getString(0))
    else Array.empty
    val base = docs.select(col(idCol).as("doc_id"),
      filter(split(col(textCol), " "), w => length(w) > 0).as("ws"))
    val toks = if (thr > 0 && types.length <= thr) {
      val enc = typedLit(types.map(w => w -> encodeLocal(w, sorted).toSeq).toMap)
      base.select(col("doc_id"),
        flatten(transform(col("ws"), w => element_at(enc, w))).as("tokens"))
    } else {
      graft.functions.Registry.install(docs.sparkSession)
      // typedLit, never SQL-string interpolation: learned symbols are
      // corpus-derived text and must not be parsed as SQL
      val mergeArr = typedLit(sorted.map(m => m.left + " " + m.right))
      base
        .withColumn("__t", array_distinct(col("ws")))
        .withColumn("__m", map_from_arrays(col("__t"),
          transform(col("__t"), w => call_function("bpe_encode", initSyms(w), mergeArr))))
        .select(col("doc_id"),
          flatten(transform(col("ws"), w => element_at(col("__m"), w))).as("tokens"))
    }
    toks.select(col("doc_id"), col("tokens"),
      size(col("tokens")).cast("long").as("n_tokens"))
  }

  /** The id table a trained tokenizer ships with: base symbols (every
    * character / `</w>`-marked character the corpus' initial split can
    * emit, alphabet-sized) get ids 0..B-1 in sorted order, merged
    * symbols follow at B + rank. Deterministic on any partitioning —
    * the id space is a pure function of (corpus alphabet, merge table). */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // alphabet-sized driver collect (distinct chars + </w> variants) —
    // the same bounded-vocabulary contract as the train fast path
    val base = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(initSyms(col("word"))).as("sym"))
      .distinct().orderBy(col("sym"))
      .collect().map(_.getString(0))
    val baseRows = base.zipWithIndex.toSeq
      .map { case (s, i) => (s, i.toLong, -1) }
    val mergedRows = merges.sortBy(_.rank).zipWithIndex
      .map { case (m, i) => (m.left + m.right, (base.length + i).toLong, m.rank) }
    (baseRows ++ mergedRows).toDF("token", "id", "merge_rank")
  }

  /** Tokenize to token IDS — what training shards actually store. One
    * codegen corpus scan ([[tokenize]]) plus an id lookup through the
    * vocab as a plan-constant map (vocabulary-sized; swap to a broadcast
    * join when the vocab outgrows a plan literal). Every token the
    * encoder can emit is in the vocab by construction (base alphabet ∪
    * merge results), so the lookup is total — spec'd null-free. */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val vmap = vocab(docs, textCol, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = typedLit(vmap)
    tokenize(docs, idCol, textCol, merges)
      .select(col("doc_id"),
        transform(col("tokens"), t => element_at(m, t)).as("ids"),
        col("n_tokens"))
  }

  /** Lossless-reconstruction column: BPE tokens concatenate back to the
    * original words (the `</w>` marker becomes the word boundary), so
    * `detok(tokenize(text)) == space-normalized text` for ANY merge
    * table — the invariant a DuckDB oracle can check without being able
    * to run the merge loop itself. */
  private def detok(tokens: Column): Column =
    rtrim(regexp_replace(array_join(tokens, ""), lit("</w>"), lit(" ")))

  // ---- driver-checked query entries. The train loop UNROLLS into a
  // DuckDB oracle (the q119/q196 bounded-iteration discipline): word
  // types ride as control-character-delimited symbol strings
  // (\x01 sym \x02 per symbol — bytes a space-split word can never
  // contain), so one merge round is ONE string replace —
  // replace(rep, \x01 l \x02 \x01 r \x02, \x01 l r \x02) — whose
  // left-to-right non-overlapping semantics are exactly [[mergePass]]'s
  // fold. Each round is a CTE block (pair extraction → weighted count →
  // argmax with the count-desc/lexicographic tie-break → rewrite); the
  // minFreq stop falls out naturally (a round whose best pair misses
  // minFreq selects nothing, leaves every rep unchanged, and every
  // later round then selects nothing too). q94/q101 extend the chain
  // with the per-word final symbol table joined back through each
  // document's word sequence. q116 grades the reconstruction invariant.

  /** The shared unrolled-train CTE chain: `types` → `rep0` → per-round
    * (`sN` split, `pN` pair counts, `bN` argmax, `repN` rewrite). */
  private def duckTrainCtes(numMerges: Int, minFreq: Long): String = {
    val sb = new StringBuilder
    sb ++= """types AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS word
      |        FROM documents)
      |  GROUP BY word
      |), rep0 AS MATERIALIZED (
      |  SELECT word, freq,
      |    chr(1) || array_to_string(
      |      list_transform(range(1, len(word) + 1),
      |        i -> word[i:i] || CASE WHEN i = len(word) THEN '</w>' ELSE '' END),
      |      chr(2) || chr(1)) || chr(2) AS rep
      |  FROM types
      |)""".stripMargin
    for (r <- 1 to numMerges) {
      sb ++= s""",
        |s$r AS MATERIALIZED (
        |  SELECT freq, string_split(rep[2:len(rep) - 1], chr(2) || chr(1)) AS syms
        |  FROM rep${r - 1}
        |),
        |p$r AS MATERIALIZED (
        |  SELECT l, r2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, syms[i] AS l, syms[i + 1] AS r2
        |    FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM s$r)
        |  ) GROUP BY l, r2
        |),
        |b$r AS MATERIALIZED (
        |  SELECT l, r2, cnt FROM p$r WHERE cnt >= $minFreq
        |  ORDER BY cnt DESC, l, r2 LIMIT 1
        |),
        |rep$r AS MATERIALIZED (
        |  SELECT t.word, t.freq,
        |    CASE WHEN b.l IS NULL THEN t.rep
        |      ELSE replace(t.rep, chr(1) || b.l || chr(2) || chr(1) || b.r2 || chr(2),
        |                   chr(1) || b.l || b.r2 || chr(2)) END AS rep
        |  FROM rep${r - 1} t LEFT JOIN b$r b ON TRUE
        |)""".stripMargin
    }
    sb.toString
  }

  /** Merge-table select over the round CTEs (q93's tail; also the id
    * source for q101's vocab). */
  private def duckMergesSelect(numMerges: Int): String =
    (1 to numMerges).map { r =>
      if (r == 1)
        s"""SELECT CAST(0 AS INTEGER) AS "rank", l AS "left", r2 AS "right",
           |    l || r2 AS merged, cnt AS freq FROM b1""".stripMargin
      else s"  UNION ALL SELECT CAST(${r - 1} AS INTEGER), l, r2, l || r2, cnt FROM b$r"
    }.mkString("\n")

  /** Per-document word sequence with positions (the tokenize scan's
    * oracle twin). */
  private val duckDocWords =
    """dw AS (
      |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
      |        FROM documents)
      |)""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "q93_bpe_train" -> ((s, dir) =>
      trainDf(Tables.load(s, dir, "documents"), "text", numMerges = 40)
        .orderBy(col("rank"))),

    "q94_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      tokenize(docs, "doc_id", "text",
        train(docs, "text", numMerges = 40))
        .select(col("doc_id"),
          array_join(col("tokens"), " ").as("tokens_str"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q101_bpe_ids" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      encodeIds(docs, "doc_id", "text",
        train(docs, "text", numMerges = 40))
        .select(col("doc_id"),
          array_join(transform(col("ids"), _.cast("string")), ",").as("ids_str"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q116_bpe_detok" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      tokenize(docs, "doc_id", "text",
        train(docs, "text", numMerges = 40))
        .select(col("doc_id"), detok(col("tokens")).as("detok"))
        .orderBy(col("doc_id"))
    })
  )

  private val NumMerges = 40

  val oracle: Map[String, String] = Map(
    "q93_bpe_train" ->
      s"""WITH ${duckTrainCtes(NumMerges, 2L)}
         |SELECT * FROM (
         |${duckMergesSelect(NumMerges)}
         |) ORDER BY "rank"""".stripMargin,

    "q94_bpe_tokenize" ->
      s"""WITH ${duckTrainCtes(NumMerges, 2L)},
         |tok AS (
         |  SELECT word,
         |    replace(rep[2:len(rep) - 1], chr(2) || chr(1), ' ') AS token_str,
         |    CAST(len(string_split(rep[2:len(rep) - 1], chr(2) || chr(1))) AS BIGINT) AS n_tok
         |  FROM rep$NumMerges
         |),
         |$duckDocWords
         |SELECT d.doc_id,
         |  coalesce(string_agg(t.token_str, ' ' ORDER BY w.pos), '') AS tokens_str,
         |  CAST(coalesce(sum(t.n_tok), 0) AS BIGINT) AS n_tokens
         |FROM documents d
         |LEFT JOIN dw w ON d.doc_id = w.doc_id
         |LEFT JOIN tok t ON w.word = t.word
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q101_bpe_ids" ->
      s"""WITH ${duckTrainCtes(NumMerges, 2L)},
         |alphabet AS (
         |  SELECT DISTINCT unnest(string_split(rep[2:len(rep) - 1], chr(2) || chr(1))) AS sym
         |  FROM rep0
         |),
         |base_ids AS (
         |  SELECT sym AS token, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
         |  FROM alphabet
         |),
         |nbase AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM alphabet),
         |mt AS (
         |${duckMergesSelect(NumMerges)}
         |),
         |vocab AS (
         |  SELECT token, id FROM base_ids
         |  UNION ALL SELECT merged AS token, nb + "rank" AS id FROM mt CROSS JOIN nbase
         |),
         |fsyms AS (
         |  SELECT word, string_split(rep[2:len(rep) - 1], chr(2) || chr(1)) AS syms
         |  FROM rep$NumMerges
         |),
         |wsyms AS (
         |  SELECT word, unnest(syms) AS sym, unnest(range(1, len(syms) + 1)) AS sp FROM fsyms
         |),
         |wids AS (
         |  SELECT word, string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY sp) AS ids_str,
         |    CAST(count(*) AS BIGINT) AS n_tok
         |  FROM wsyms JOIN vocab v ON v.token = wsyms.sym
         |  GROUP BY word
         |),
         |$duckDocWords
         |SELECT d.doc_id,
         |  coalesce(string_agg(wi.ids_str, ',' ORDER BY w.pos), '') AS ids_str,
         |  CAST(coalesce(sum(wi.n_tok), 0) AS BIGINT) AS n_tokens
         |FROM documents d
         |LEFT JOIN dw w ON d.doc_id = w.doc_id
         |LEFT JOIN wids wi ON w.word = wi.word
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q116_bpe_detok" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(string_split(text, ' '), w -> len(w) > 0), ' ') AS detok
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
