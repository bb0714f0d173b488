package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.SparkSqlParser

/** The one way a batch reaches SQL — the `sql` processor, its lookup
  * variant, the window join and the `file` input's `query`. A statement
  * is parsed and checked once ([[parse]]); each batch is then bound BY
  * PLAN ([[bind]]): the query's reference to the table name is replaced
  * by the batch's own plan before analysis. Nothing is written to the
  * session catalog, so two streams sharing a session and a table name
  * each read their own batch (the reference binds each batch in a
  * pooled, private SessionContext, processor/sql.rs:107-146), and a
  * bound name never replaces a session view of that name.
  */
object Sql {

  /** Parse `query` and reject everything but a query: DDL, DML and other
    * commands fail here, at build, like the reference's SQLOptions
    * (sql.rs:185-201), and so does a statement that does not parse. */
  def parse(query: String): LogicalPlan = {
    val plan =
      try new SparkSqlParser().parsePlan(query)
      catch { case e: ParseException =>
        throw new IllegalArgumentException(s"sql does not parse: ${e.getMessage}", e) }
    plan match {
      case _: Command | _: ParsedStatement | _: InsertIntoStatement =>
        throw new IllegalArgumentException(
          s"sql only accepts queries, got: ${plan.getClass.getSimpleName}")
      case _ => plan
    }
  }

  /** Analyze `parsed` with each single-part relation named like a key of
    * `views` (per `spark.sql.caseSensitive`) bound to that frame —
    * subqueries included. A `WITH` name shadows a view of the same name
    * where SQL scopes it: in the main query and in the CTEs defined
    * after it (and in its own body under `WITH RECURSIVE`). Every other
    * name resolves through the catalog as usual, and every statement sees
    * the graft function library (minhash_sigs, cdc_chunks, ema, …):
    * installed into the session here, one registry lookup once it is. */
  def bind(spark: SparkSession, parsed: LogicalPlan,
      views: Map[String, DataFrame]): DataFrame = {
    graft.functions.Registry.install(spark)
    val resolver = spark.sessionState.conf.resolver
    def sub(plan: LogicalPlan, bound: Seq[(String, DataFrame)]): LogicalPlan = plan match {
      case UnresolvedRelation(Seq(name), _, _) =>
        bound.find(v => resolver(v._1, name))
          .fold(plan)(v => SubqueryAlias(name, v._2.queryExecution.analyzed))
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1)
        def outside(defined: Seq[String]) =
          bound.filterNot(v => defined.exists(resolver(_, v._1)))
        w.copy(child = sub(w.child, outside(names)),
          cteRelations = w.cteRelations.zipWithIndex.map { case ((n, body, depth), i) =>
            val visible = names.take(if (w.allowRecursion) i + 1 else i)
            (n, sub(body, outside(visible)).asInstanceOf[SubqueryAlias], depth)
          })
      case _ =>
        plan.mapChildren(sub(_, bound)).transformExpressions {
          case e: SubqueryExpression => e.withNewPlan(sub(e.plan, bound))
        }
    }
    GraftInternal.ofRows(spark, sub(parsed, views.toSeq))
  }
}
