package graft.functions

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{AggregateWindowFunction, AttributeReference, Expression, If, IsNull, Literal}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `ema(x, alpha)` — exponential moving average as a TRUE window
  * function (SURVEY §2.8's window-UDF row): the Catalyst
  * [[AggregateWindowFunction]] mechanism Spark's own `row_number`/`rank`
  * use, registered into the session function registry and applied with
  * ordinary `OVER (PARTITION BY ... ORDER BY ...)` syntax.
  *
  * The recursion `ema_t = α·x_t + (1−α)·ema_{t−1}` (seeded with the
  * first value) is the canonical smoothing/trend primitive, and it is
  * NOT expressible with built-in window functions — every built-in
  * frame aggregate is associative over the frame, while EMA's state
  * depends on processing order. The window-UDF route is exactly what
  * unlocks it: declarative update expressions over a running
  * UNBOUNDED-PRECEDING row frame, evaluated once per row in partition
  * order — one pass, no self-joins, no O(n²) frame re-aggregation.
  *
  * NULL inputs carry the previous state through unchanged (the
  * smoothed series skips holes instead of resetting). Rows before the
  * first non-null input evaluate to NULL.
  *
  * Scale shape: identical to any window function — one shuffle on the
  * partition key, one ordered pass per partition. Skew rides the
  * partition key choice, exactly like the built-ins.
  */
case class EmaWindow(child: Expression, alpha: Expression)
    extends AggregateWindowFunction {

  // alpha must be a foldable literal: the smoothing constant is part of
  // the plan, like the offset in lag/lead
  private lazy val a: Double = alpha.eval() match {
    case null => throw new IllegalArgumentException("ema alpha must not be null")
    case v: Double => v
    case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL `0.3` parses as DECIMAL
    case v: java.lang.Number => v.doubleValue()
  }

  // Validated at analysis time — a column-reference alpha would otherwise
  // fail only at execution with an obscure unbound-attribute error.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (!alpha.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"ema(x, alpha): alpha must be a constant literal (like the offset in lag/lead), got ${alpha.sql}")
    else if (!alpha.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      // a foldable but non-numeric alpha ('abc', NULL) would otherwise
      // pass analysis and die at execution — the failure mode this
      // check exists to catch
      TypeCheckResult.TypeCheckFailure(
        s"ema(x, alpha): alpha must be a numeric constant, got ${alpha.dataType.simpleString}")
    else if (alpha.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        "ema(x, alpha): alpha must not be NULL")
    else if (!child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
             child.dataType != org.apache.spark.sql.types.NullType)
      TypeCheckResult.TypeCheckFailure(
        s"ema(x, alpha): x must be numeric, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(child, alpha)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "ema"

  private lazy val ema: AttributeReference =
    AttributeReference("ema", DoubleType, nullable = true)()

  override def aggBufferAttributes: Seq[AttributeReference] = Seq(ema)

  override val initialValues: Seq[Expression] = Seq(Literal(null, DoubleType))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = child.cast(DoubleType)
    // 1 - a computed HERE (driver double) so an SQL oracle writing the
    // same `(1 - α)` literal arithmetic reproduces the series bit-exact
    val blend = Literal(a) * x + Literal(1.0 - a) * ema
    Seq(If(IsNull(x), ema, If(IsNull(ema), x, blend)))
  }

  override lazy val evaluateExpression: Expression = ema

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EmaWindow =
    copy(child = newChildren(0), alpha = newChildren(1))
}
