package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.LongAccumulator

/** A pass-through boolean predicate that COUNTS its non-true rows into a
  * Spark [[LongAccumulator]] — the drop-observability primitive for
  * filters that discard data for scale reasons (the inverted-index df
  * caps, the PPJoin prefix stop-token cut).
  *
  * Why not `Dataset.observe`: a CollectMetrics node only surfaces its
  * metric when it sits in the main linear dataflow of the collecting
  * action — under a broadcast exchange, under a WindowExec, or
  * duplicated across a self-join it arrives empty (all three measured,
  * round 14), and the pair-join operators hit all three shapes. Forcing
  * delivery with eager localCheckpoints costs the plan its stats (AQE
  * falls back from broadcast to sort-merge joins; q158 measured 2.4×)
  * — the wrong trade for a counter. An accumulator delivers from every
  * executed task regardless of plan shape, at the cost of the usual
  * accumulator caveat: task retries / AQE stage re-execution can
  * double-count, so the value is a MONOTONE ops counter ("dropping
  * happened, this order of magnitude"), not an exact ledger — the same
  * contract CapStats' observe-based LSH counters already state.
  *
  * NULL predicates count as drops: `Filter` discards NULL-condition rows
  * exactly like false ones, so the counter ticks on BOTH (eval/doGenCode
  * are overridden directly — the null-safe variants would silently skip
  * the null path and under-count).
  *
  * `deterministic = false` keeps the optimizer from folding, inferring
  * constraints from, or re-deriving the predicate — the count must tick
  * exactly where the filter runs. The comparison itself stays inside
  * whole-stage codegen.
  */
case class CapCountIf(child: Expression, acc: LongAccumulator)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BooleanType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"CapCountIf takes a boolean predicate, got ${other.sql}")
    }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null || !v.asInstanceOf[Boolean]) acc.add(1L)
    v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accRef = ctx.addReferenceObj("acc", acc,
      classOf[LongAccumulator].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        boolean ${ev.value} = ${ev.isNull} ? false : ${childGen.value};
        if (${ev.isNull} || !${ev.value}) $accRef.add(1L);
      """)
  }
  override protected def withNewChildInternal(newChild: Expression): CapCountIf =
    copy(child = newChild)
}

object CapCountIf {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.types.StringType

  // keyed by (applicationId, label): a SparkContext stop clears the
  // AccumulatorContext, so an accumulator cached across a restart would
  // belong to the DEAD context and silently discard executor updates —
  // the exact silent-drop failure this primitive exists to prevent. A
  // fresh application id registers a fresh accumulator. Each entry
  // carries its owning context so eviction can test LIVENESS directly
  // (`private[graft]` for the eviction regression spec only).
  private[graft] val accs = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (org.apache.spark.SparkContext, LongAccumulator)]()

  /** The named drop accumulator for `label` (registered once per Spark
    * APPLICATION; named `graft_cap/<label>` so it shows in the Spark UI).
    * Entries whose owning SparkContext is STOPPED evict on each
    * registration — a JVM cycling SparkSessions must not grow the map by
    * dead apps' labels forever. Eviction is liveness-keyed, NOT
    * "anything not me" (round-15 verdict): with two concurrently active
    * contexts in one JVM, evicting the other app's entries would make it
    * re-register fresh accumulators and silently reset its cumulative
    * drop counts — the silent-drop failure mode one level up. */
  def accumulator(spark: SparkSession, label: String): LongAccumulator = {
    val sc = spark.sparkContext
    accs.entrySet.removeIf(_.getValue._1.isStopped) // O(labels), map is tiny
    accs.computeIfAbsent((sc.applicationId, label),
      _ => (sc, sc.longAccumulator(s"graft_cap/$label")))._2
  }

  /** Cumulative dropped-row count for a label since the ACTIVE
    * application started (None when no session is active or the label
    * never registered under it). */
  def droppedTotal(label: String): Option[Long] =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(s => Option(accs.get((s.sparkContext.applicationId, label))))
      .map(_._2.value.longValue)

  /** Every registered (label, dropped-count) pair for the ACTIVE
    * application — the control plane's `/metrics` exposition source. */
  def all(): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.applicationId) match {
      case None => Nil
      case Some(app) => accs.asScala.toSeq.collect {
        case ((a, label), (_, acc)) if a == app => label -> acc.value.longValue
      }.sortBy(_._1)
    }
  }

  /** `graft_cap_count_if(pred, 'label')` — the SQL surface, resolved at
    * analysis time on the driver (where the accumulator registry lives). */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      "graft_cap_count_if(pred, label) takes 2 arguments")
    val label = exprs(1) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_cap_count_if: label must be a string literal, got $other")
    }
    CapCountIf(exprs.head, accumulator(SparkSession.active, label))
  }
}
