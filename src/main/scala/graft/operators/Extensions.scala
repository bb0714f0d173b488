package graft.operators

import graft.{Q, Tables}
import graft.Q.QueryFn
import org.apache.spark.sql.functions._

/** Extension-point coverage: the DataFusion-only function shims
  * (graft.functions.Shims), the codegen'd HammingDistance expression,
  * embedding-cosine near-dup, and multiset set operations.
  */
object Extensions {

  // The four textual subquery forms (SURVEY §2.7 subqueries row):
  // IN, NOT IN, EXISTS in WHERE, scalar subquery in the SELECT list.
  private val q49Sql =
    """SELECT n_name,
      |  (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_cust,
      |  n_nationkey IN (SELECT s_nationkey FROM supplier) AS has_supplier,
      |  n_nationkey NOT IN (SELECT c_nationkey FROM customer WHERE c_acctbal < 0) AS no_negative_cust,
      |  EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey
      |          AND c_mktsegment = 'BUILDING') AS has_building
      |FROM nation
      |ORDER BY n_name""".stripMargin

  private val q63Sql =
    """SELECT 'union_all' AS op, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  UNION ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t1
      |UNION ALL
      |SELECT 'except_all' AS op, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t2
      |UNION ALL
      |SELECT 'intersect_all' AS op, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t3
      |ORDER BY op""".stripMargin

  /** Skew-safe equi-join: the salting pattern for the case AQE's
    * skew-join split can't reach (one join key carrying a double-digit
    * percentage of a 100 TB fact table — a hot user, a null-ish default
    * key). The big side spreads each key over `k` salt buckets via any
    * deterministic per-row expression; the dim side replicates ×k with a
    * row-local explode (never a shuffle of the dim); the join key
    * becomes (key, salt) so no single reducer owns a hot key. Result is
    * IDENTICAL to the plain join — which is exactly what the oracle
    * grades.
    */
  def saltedJoin(big: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame, bigKey: String, dimKey: String,
      salt: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"salt bucket count must be positive, got $k")
    // a null salt must land in SOME bucket (coalesce to 0), or the join
    // predicate would go null and silently drop the row — breaking the
    // result-identical-to-plain-join guarantee this operator grades
    val b = big.withColumn("__salt_l",
      pmod(coalesce(salt.cast("long"), lit(0L)), lit(k.toLong)))
    val d = dim.withColumn("__salt_r", explode(expr(s"sequence(0L, ${k - 1}L)")))
    b.join(d, b(bigKey) === d(dimKey) && b("__salt_l") === d("__salt_r"))
      .drop("__salt_l").drop("__salt_r")
  }

  val queries: Map[String, QueryFn] = Map(
    // Salted fact-dim join graded against the plain-join oracle: the
    // orders side replicates ×8 row-locally, lineitem salts on its line
    // number — same result, no hot-key reducer.
    "q148_salted_join" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      saltedJoin(li, ord, "l_orderkey", "o_orderkey",
          col("l_linenumber"), k = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(18, 4)))
            .cast("double"), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),
    // DataFusion array-function shims expanded to native expression trees.
    "q47_shim_arrays" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      Tables.register(s, dir)
      s.sql(
        """SELECT doc_id,
          |  array_join(array_resize(slice(split(text, ' '), 1, 5), 7, 'x'), ',') AS resized,
          |  array_join(array_pop_back(slice(split(text, ' '), 1, 3)), ',') AS popped_back,
          |  array_join(array_pop_front(slice(split(text, ' '), 1, 3)), ',') AS popped_front,
          |  substr_index(text, ' ', 2) AS first_two,
          |  iszero(CAST(n_chars % 2 AS DOUBLE)) AS even_len
          |FROM documents
          |WHERE doc_id < 100
          |ORDER BY doc_id""".stripMargin)
    }),

    // date_bin with an explicit origin (DataFusion date_bin semantics).
    "q48_date_bin_origin" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      Tables.register(s, dir)
      s.sql(
        """SELECT CAST(unix_timestamp(date_bin_s(900, timestamp_micros(ts DIV 1000),
          |                                      TIMESTAMP '2024-01-01')) AS BIGINT) AS bucket_s,
          |  count(*) AS n
          |FROM events
          |GROUP BY 1
          |ORDER BY bucket_s
          |LIMIT 50""".stripMargin)
    }),

    // SimHash near-dup pairing: banded equi-join on signature chunks
    // (pigeonhole candidate generation — no cartesian product), then the
    // exact codegen'd hamming_distance filter. Same rows as all-pairs,
    // linear-ish cost; unbounded-safe, so no doc-id clamp.
    "q58_simhash_hamming" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      // bits = 16 pinned: the oracle's recorded signatures are 16-bit
      // (library default is 32 — SCALING.md saturation measurements).
      val sh = Dedup.simhash(Tables.load(s, dir, "documents"), "doc_id", "text", bits = 16)
      Dedup.simhashBandedPairs(sh, maxDist = 2, bits = 16)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // The AUTO-WIDTH twin of q58: signature bits derive from corpus
    // size at plan time (Dedup.simhashAutoBits — the q242 planner's
    // sizing rule), so the banded join stays linear at any scale with
    // no manual retuning (the measured 16-bit saturation trap). The
    // oracle computes the same width from count(*) and truncates the
    // full 32-digit signature — narrower signatures are prefixes by
    // construction.
    "q244_simhash_autopairs" -> ((s, dir) => {
      graft.functions.Registry.install(s)
      Dedup.simhashNearDupPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", maxDist = 2)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding-cosine near-duplicate pairs (the vector dedup mode).
    // Random-hyperplane LSH bucketing: 40 md5-derived sign-bits grouped
    // into 5 bands of 8; only vectors sharing a full band signature become
    // candidate pairs (equi-join on (band, sig) — no all-pairs product),
    // then the exact cosine >= 0.95 filter restores precision. The md5
    // hyperplane derivation is bit-reproducible in the DuckDB oracle, so
    // the bucketed operator itself is hash-verified. Unbounded-safe: no
    // vec_id clamp; candidate volume is governed by band width (bits per
    // band grows ~log n at production scale, see SCALING.md).
    "q62_embedding_neardup" -> ((s, dir) =>
      Similarity.cosineLshPairs(Tables.load(s, dir, "embeddings"),
          bands = 5, bitsPerBand = 8, threshold = 0.95)
        .orderBy(col("va"), col("vb"))),

    // Subquery forms: IN / NOT IN / EXISTS / scalar-in-SELECT.
    "q49_subquery_forms" -> Q.fromSql(q49Sql),

    // Multiset set operations (UNION/EXCEPT/INTERSECT ALL).
    "q63_setops_all" -> Q.fromSql(q63Sql),

    // AS-OF JOIN through the custom whole-operator path (graft.plans
    // .AsOfJoin: LogicalPlan + Strategy + AsOfJoinExec — Catalyst inserts
    // the hash exchanges and per-partition sorts, then one O(1)-state
    // linear merge per partition; no per-key history expansion, so a
    // skewed user with millions of purchases costs a scan, not a product).
    // The as-of comparison runs on raw epoch-ns longs, truncated to µs
    // only in the projection — matching DuckDB's native ASOF LEFT JOIN.
    "q66_asof_join" -> ((s, dir) => {
      Tables.register(s, dir)
      val clicks = s.sql(
        "SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'")
      val purchases = s.sql(
        "SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'")
      graft.plans.AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("click_us"),
          expr("p_ts DIV 1000").as("purchase_us"))
        .orderBy(col("event_id"))
    }),

    // Forward AS-OF JOIN through the same custom exec: for every click,
    // the EARLIEST purchase at-or-after it (rt >= lt direction) — the
    // "next event" attachment pattern. O(1) state per partition.
    "q70_asof_forward" -> ((s, dir) => {
      Tables.register(s, dir)
      val clicks = s.sql(
        "SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'")
      val purchases = s.sql(
        "SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'")
      graft.plans.AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
          forward = true)
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("click_us"),
          expr("p_ts DIV 1000").as("next_purchase_us"))
        .orderBy(col("event_id"))
    }),

    // AS-OF JOIN with a match-gap tolerance (pandas merge_asof
    // `tolerance=` semantics) through the same custom exec: a click whose
    // latest preceding purchase is older than 1 day gets nulls. The
    // closest-candidate property makes this exact: if the latest
    // purchase <= t is outside the gap, every earlier one is too.
    "q73_asof_tolerance" -> ((s, dir) => {
      Tables.register(s, dir)
      val clicks = s.sql(
        "SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'")
      val purchases = s.sql(
        "SELECT user_id AS p_user, ts AS p_ts FROM events WHERE event_type = 'purchase'")
      graft.plans.AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
          tolerance = Some(86400L * 1000000000L)) // 1 day in ns
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("click_us"),
          expr("p_ts DIV 1000").as("purchase_us"))
        .orderBy(col("event_id"))
    }),

    // Weighted discrete percentile via the Aggregator UDAF (the
    // reference's *_with_weight surface, exact semantics).
    "q64_weighted_percentile" -> ((s, dir) => {
      graft.functions.WeightedPercentile.register(s, Seq(0.5, 0.9))
      Tables.register(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  round(weighted_percentile_50(l_quantity, CAST(l_linenumber AS DOUBLE)), 2) AS wp50,
          |  round(weighted_percentile_90(l_quantity, CAST(l_linenumber AS DOUBLE)), 2) AS wp90
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    })
  )

  val oracle: Map[String, String] = Map(
    "q148_salted_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q47_shim_arrays" ->
      """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ')[1:5] AS s5,
        |                  string_split(text, ' ')[1:3] AS s3, text FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  array_to_string(CASE WHEN len(s5) >= 7 THEN s5[1:7]
        |    ELSE list_concat(s5, list_transform(generate_series(1, 7 - len(s5)), i -> 'x')) END, ',') AS resized,
        |  array_to_string(s3[1:len(s3)-1], ',') AS popped_back,
        |  array_to_string(s3[2:len(s3)], ',') AS popped_front,
        |  array_to_string(string_split(text, ' ')[1:2], ' ') AS first_two,
        |  (n_chars % 2 = 0) AS even_len
        |FROM w
        |ORDER BY doc_id""".stripMargin,

    "q48_date_bin_origin" ->
      """SELECT (epoch_ns(ts) // 1000000000 - 1704067200) // 900 * 900 + 1704067200 AS bucket_s,
        |  count(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket_s
        |LIMIT 50""".stripMargin,

    "q58_simhash_hamming" -> {
      val bits = (1 to 16).map(j =>
        s"CASE WHEN sum(CASE WHEN substring(md5(word), $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
      ).mkString(" || ")
      s"""WITH sh AS (
         |  SELECT doc_id, $bits AS simhash
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents) t
         |  GROUP BY doc_id
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_filter(generate_series(1, 16),
         |       i -> substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) AS INT) AS dist
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_filter(generate_series(1, 16),
         |      i -> substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q244_simhash_autopairs" -> {
      val bits32 = (1 to 32).map(j =>
        s"CASE WHEN sum(CASE WHEN substring(md5(word), $j, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
      ).mkString(" || ")
      s"""WITH bw AS (
         |  SELECT least(32, greatest(16,
         |    CAST(ceil(log2(CAST(count(*) AS DOUBLE))) AS INT) + 4)) AS bits
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    substring($bits32, 1, (SELECT bits FROM bw)) AS simhash
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents) t
         |  GROUP BY doc_id
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_filter(generate_series(1, len(a.simhash)),
         |         i -> substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) AS INT) AS dist
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= 2
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q62_embedding_neardup" -> {
      // identical md5-derived hyperplanes + banding as the Spark side
      def bit(k: Int): String =
        s"CASE WHEN list_dot_product(vd, list_transform(generate_series(0, len(vd) - 1), " +
          s"i -> CASE WHEN substring(md5('hp${k}_' || i), 1, 1) >= '8' " +
          "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)) > 0 THEN '1' ELSE '0' END"
      val bandExprs = (0 until 5).map(b =>
        (0 until 8).map(j => bit(b * 8 + j)).mkString(" || ") + s" AS band$b").mkString(",\n    ")
      val sigCase = (0 until 5).map(b => s"WHEN $b THEN band$b").mkString(" ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings
         |), sig AS (
         |  SELECT vec_id,
         |    $bandExprs
         |  FROM v
         |), stacked AS (
         |  SELECT vec_id, band, CASE band $sigCase END AS sg
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS band) b
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM stacked a JOIN stacked b
         |    ON a.band = b.band AND a.sg = b.sg AND a.vec_id < b.vec_id
         |)
         |SELECT c.va, c.vb, round(list_dot_product(x.vd, y.vd) / (x.nrm * y.nrm), 6) AS cos
         |FROM cand c JOIN v x ON x.vec_id = c.va JOIN v y ON y.vec_id = c.vb
         |WHERE round(list_dot_product(x.vd, y.vd) / (x.nrm * y.nrm), 6) >= 0.95
         |ORDER BY va, vb""".stripMargin
    },

    "q49_subquery_forms" -> q49Sql,
    "q63_setops_all" -> q63Sql,

    "q66_asof_join" ->
      """SELECT c.event_id, c.user_id,
        |       epoch_ns(c.ts) // 1000 AS click_us,
        |       epoch_ns(p.ts) // 1000 AS purchase_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q70_asof_forward" ->
      """SELECT c.event_id, c.user_id,
        |       epoch_ns(c.ts) // 1000 AS click_us,
        |       epoch_ns(p.ts) // 1000 AS next_purchase_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin,

    // DuckDB ASOF has no tolerance arg; the closest-candidate property
    // lets the oracle NULL the match out in the projection instead.
    "q73_asof_tolerance" ->
      """SELECT c.event_id, c.user_id,
        |       epoch_ns(c.ts) // 1000 AS click_us,
        |       CASE WHEN epoch_ns(c.ts) - epoch_ns(p.ts) <= 86400000000000
        |            THEN epoch_ns(p.ts) // 1000 END AS purchase_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    // weight-expanded multiset + quantile_disc == weighted percentile
    "q64_weighted_percentile" ->
      """WITH e AS (
        |  SELECT l_returnflag, l_quantity
        |  FROM lineitem, unnest(generate_series(1, l_linenumber)) AS u(i)
        |)
        |SELECT l_returnflag,
        |  round(quantile_disc(l_quantity, 0.5), 2) AS wp50,
        |  round(quantile_disc(l_quantity, 0.9), 2) AS wp90
        |FROM e
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
