package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator from SURVEY.md §2 to a
  * DataFrame-producing function over a scale-factor directory;
  * `oracleSql` carries the DuckDB-equivalent SQL the driver diffs against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_topn")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ operators.Functions.queries ++
      operators.Analytics.queries ++ operators.EventsOps.queries ++
      operators.Dedup.queries ++ operators.TextAnalysis.queries ++
      operators.Similarity.queries ++ operators.Multimodal.queries ++
      operators.Extensions.queries ++ operators.RangeJoin.queries ++
      operators.Corpus.queries ++ operators.BpeTokenizer.queries ++
      operators.Selection.queries ++ operators.Eval.queries ++
      operators.ConfigPipeline.queries

  /** `SPARK_GRAFT_ONLY=q87,q53`: the name substrings a Bench or Verify run
    * is restricted to, for iterating on a few entries; None when unset. */
  def only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** The entries whose name contains one of [[only]]'s substrings; every
    * entry when it is unset. */
  def selected: Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries)(subs => queries.filter { case (n, _) => subs.exists(n.contains) })

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++ operators.Functions.oracle ++
      operators.Analytics.oracle ++ operators.EventsOps.oracle ++
      operators.Dedup.oracle ++ operators.TextAnalysis.oracle ++
      operators.Similarity.oracle ++ operators.Multimodal.oracle ++
      operators.Extensions.oracle ++ operators.RangeJoin.oracle ++
      operators.Corpus.oracle ++ operators.BpeTokenizer.oracle ++
      operators.Selection.oracle ++ operators.Eval.oracle ++
      operators.ConfigPipeline.oracle
}
