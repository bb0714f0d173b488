package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom AsOfJoinExec must agree with the composed range-join
  * formulation (q66's query shape) on real data, and its plan must show
  * the operator with Catalyst-inserted exchanges/sorts.
  */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.streaming.SparkTestSession.spark

  test("custom as-of join matches the composed formulation on events") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))

    val custom = AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts")
      .select(col("event_id"), col("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    val composed = clicks.join(purchases,
        col("user_id") === col("p_user") && col("p_ts") <= col("ts"), "left")
      .groupBy(col("event_id")).agg(max(col("p_ts")).as("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    assert(custom.size == composed.size && custom == composed,
      s"sizes custom=${custom.size} composed=${composed.size}")
    assert(custom.valuesIterator.exists(_ >= 0), "expected at least one match")
    assert(custom.valuesIterator.contains(-1L), "expected at least one no-match click")
  }

  test("forward as-of join matches the composed min-aggregate formulation") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))

    val custom = AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
        forward = true)
      .select(col("event_id"), col("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    val composed = clicks.join(purchases,
        col("user_id") === col("p_user") && col("p_ts") >= col("ts"), "left")
      .groupBy(col("event_id")).agg(min(col("p_ts")).as("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    assert(custom.size == composed.size && custom == composed,
      s"sizes custom=${custom.size} composed=${composed.size}")
    assert(custom.valuesIterator.exists(_ >= 0), "expected at least one match")
  }

  test("tolerance bounds the match gap in both directions (merge_asof semantics)") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 50L), (3L, 200L, 30L))
      .toDF("id", "k", "t")
    val right = Seq((100L, 8L), (100L, 20L), (200L, 45L))
      .toDF("rk", "rt")

    def run(forward: Boolean, tol: Option[Long]): Map[Long, Long] =
      AsOf.join(left, right, "k", "t", "rk", "rt", forward, tol)
        .select(col("id"), col("rt"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    // backward, no tolerance: closest earlier-or-equal match
    assert(run(forward = false, None) == Map(1L -> 8L, 2L -> 20L, 3L -> -1L))
    // backward, tolerance 5: id=2's closest match (gap 30) nulls out;
    // id=1's gap 2 survives. No fallback to a farther candidate.
    assert(run(forward = false, Some(5L)) == Map(1L -> 8L, 2L -> -1L, 3L -> -1L))
    // forward, no tolerance vs tolerance 10: id=1 matches rt=20 (gap 10,
    // inclusive bound survives); id=3 matches rt=45 (gap 15) and nulls out.
    assert(run(forward = true, None) == Map(1L -> 20L, 2L -> -1L, 3L -> 45L))
    assert(run(forward = true, Some(10L)) == Map(1L -> 20L, 2L -> -1L, 3L -> -1L))
  }

  test("tolerance agrees with the composed gap-filtered formulation on events") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val tol = 86400L * 1000000000L // 1 day in ns

    val custom = AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
        tolerance = Some(tol))
      .select(col("event_id"), col("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    // composed: take the closest match, then null it out past the gap —
    // NOT a pre-filtered join (which would fall back to farther matches)
    val composed = clicks.join(purchases,
        col("user_id") === col("p_user") && col("p_ts") <= col("ts"), "left")
      .groupBy(col("event_id"), col("ts")).agg(max(col("p_ts")).as("p_ts"))
      .select(col("event_id"),
        when(col("ts") - col("p_ts") <= tol, col("p_ts")).as("p_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

    assert(custom == composed)
    assert(custom.valuesIterator.exists(_ >= 0), "expected at least one in-gap match")
    assert(custom.valuesIterator.contains(-1L), "expected at least one out-of-gap null")
  }

  test("GraftExtensions wires the whole surface into a config-built session") {
    // what `spark.sql.extensions=graft.plans.GraftExtensions` produces:
    // a session where the strategy AND every SQL function exist with no
    // Registry.install call
    val s = org.apache.spark.sql.GraftInternal
      .sessionWithExtensions(spark, new GraftExtensions()(_))
    assert(s.sessionState.planner.strategies.contains(AsOfJoinStrategy),
      "as-of strategy missing from the extension-built planner")
    val r = s.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       hamming_distance('abc', 'abd') AS h,
        |       iszero(0.0) AS z,
        |       array_pop_back(array(1, 2, 3)) AS pb,
        |       strip_accents(nfc_normalize('e' || 'e\u0301')) AS na,
        |       jaro_winkler('MARTHA', 'MARHTA') AS jw,
        |       damerau_levenshtein('CA', 'ABC') AS dl,
        |       char_entropy('abcd') AS ce""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0 && r.getInt(1) == 1 && r.getBoolean(2))
    assert(r.getSeq[Int](3) == Seq(1, 2))
    assert(r.getString(4) == "ee")
    assert(math.abs(r.getDouble(5) - 0.9611111111111111) < 1e-12)
    assert(r.getInt(6) == 2)
    assert(math.abs(r.getDouble(7) - 2.0) < 1e-12)
    val tk = s.sql(
      "SELECT topk_sketch(x, 1, 4) AS tk FROM VALUES ('a'), ('b'), ('a') t(x)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(e => (e.getString(0), e.getLong(1))) == Seq(("a", 2L)))
    // the optimizer rule folds redundant re-normalization: the optimized
    // plan of a nested call carries ONE normalization expression (a
    // parquet-backed source — a VALUES relation would constant-fold the
    // whole projection before the plan is observable)
    val docs = graft.Tables.load(s, "/root/testdata/sf0.001", "documents")
    docs.createOrReplaceTempView("norm_docs")
    val nested = s.sql(
      "SELECT strip_accents(nfc_normalize(strip_accents(text))) AS y FROM norm_docs")
    val optimized = nested.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!optimized.contains("nfcnormalize"),
      s"NFC call should fold away under strip_accents:\n$optimized")
    assert("stripaccents".r.findAllIn(optimized).size == 1,
      s"nested strip_accents should fold to one:\n$optimized")
    assert(nested.count() > 0)
    // the parent session is untouched (extensions are per-session)
    val fresh = org.apache.spark.sql.GraftInternal
      .sessionWithExtensions(spark, _ => ())
    assert(!fresh.sessionState.planner.strategies.contains(AsOfJoinStrategy))
  }

  test("plan shows AsOfJoinExec with Catalyst-inserted exchange and sort") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val p = AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts")
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p) // nodeName strips the Exec suffix
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Sort ["), p)
  }
}
