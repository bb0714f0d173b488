package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` plan construction — the standard pattern
  * Spark-native libraries use to materialize a Dataset from a custom
  * LogicalPlan (only `Dataset.ofRows` is touched).
  */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `c` wrapped in the Catalyst expression `f` builds — how an
    * expression parameterized per call (a protobuf codec over one message
    * schema) enters a plan without a named function in the session's
    * registry. */
  def mapExpr(c: Column)(f: Expression => Expression): Column =
    classic.ExpressionUtils.column(f(classic.ExpressionUtils.expression(c)))

  /** Eager localCheckpoint that RETURNS THE ROW COUNT of the
    * materializing job. `Dataset.localCheckpoint(eager = true)` already
    * forces the RDD with a `count()` and throws the number away —
    * iterative operators whose fixpoint test needs the count (connected
    * components' star contraction) then pay a SECOND whole job per round
    * just to recount the cached partitions. This is the same construction
    * Dataset.checkpoint performs (internal-row copy → localCheckpoint →
    * count → LogicalRDD.fromDataset), with the count surfaced. */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val internal = ds.queryExecution.toRdd.map(_.copy())
    internal.localCheckpoint()
    val n = internal.count()
    val logical = execution.LogicalRDD.fromDataset(internal, ds, isStreaming = false)
    (classic.Dataset.ofRows(ds.sparkSession, logical), n)
  }

  /** A sibling session on the same SparkContext with its OWN extensions —
    * what `spark.sql.extensions=...` produces at startup, constructible
    * mid-JVM for tests. A bare `getOrCreate` would return the existing
    * session and silently skip the extensions, so the default/active
    * session registrations are cleared around the build and restored
    * after (the SparkContext itself is reused, never restarted). */
  def sessionWithExtensions(spark: SparkSession,
      configure: SparkSessionExtensions => Unit): SparkSession = synchronized {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().withExtensions(e => configure(e)).getOrCreate()
    finally {
      // restore BOTH states explicitly — with no prior session, getOrCreate
      // registered the extensions session as the JVM default, and leaving
      // it there would hand the injected strategy/functions to every
      // unrelated getOrCreate that follows
      prevDefault match {
        case Some(d) => SparkSession.setDefaultSession(d)
        case None => SparkSession.clearDefaultSession()
      }
      prevActive match {
        case Some(a) => SparkSession.setActiveSession(a)
        case None => SparkSession.clearActiveSession()
      }
    }
  }

  /** Blocks until Spark's listener bus has delivered every queued event,
    * so totals a listener sums after a job include all of its stages and
    * tasks. The bus is `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
