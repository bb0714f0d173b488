package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN — an operator the reference's SQL surface gets from engines
  * like DuckDB but Spark lacks natively: for every left row, attach the
  * latest right row with the same key whose time is <= the left time
  * (left outer semantics); `forward` flips the direction to the EARLIEST
  * right with time >= the left time (DuckDB `ASOF ... ON rt >= lt`).
  *
  * This is the full custom-operator path (SURVEY.md §2.8 / guide path c):
  * a logical node, a planner strategy, and a physical exec whose
  * `requiredChildDistribution`/`requiredChildOrdering` make Catalyst
  * insert the hash exchanges and per-partition sorts — then each
  * partition is a single linear merge of the two sorted streams. No
  * driver involvement, no per-key state beyond one buffered row: scales
  * to arbitrarily many keys/rows like a sort-merge join.
  *
  * Keys and times are LongType (the API casts); a composed
  * window-function formulation is the q66 oracle twin.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    forward: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    forward: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val tol = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val nullRight = new GenericInternalRow(rightWidth)
        private val joined = new JoinedRow
        private var rPending: InternalRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey = 0L
        private var lastMatchTime = 0L
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val kRaw = lKey.eval(l)
          val tRaw = lTime.eval(l)
          // SQL join semantics: a NULL key/time matches nothing.
          if (kRaw == null || tRaw == null) return joined(l, nullRight)
          val k = kRaw.asInstanceOf[Long]
          val t = tRaw.asInstanceOf[Long]
          var advancing = true
          while (advancing && (rPending != null || rIter.hasNext)) {
            if (rPending == null) rPending = rIter.next()
            val rkRaw = rKey.eval(rPending)
            val rtRaw = rTime.eval(rPending)
            if (rkRaw == null || rtRaw == null) rPending = null // unmatched by any left row
            else {
              val rk = rkRaw.asInstanceOf[Long]
              if (rk < k) rPending = null // no later left row can need it
              else if (forward) {
                // forward: match the EARLIEST right with time >= t. Rights
                // of this key below t are dead for every later left too
                // (left times ascend), so discard; the first survivor in
                // (key, time) order IS the match and stays pending for
                // later lefts of the same key.
                if (rk == k && rtRaw.asInstanceOf[Long] < t) rPending = null
                else advancing = false
              } else if (rk == k && rtRaw.asInstanceOf[Long] <= t) {
                lastMatch = rPending.copy(); lastMatchKey = rk
                lastMatchTime = rtRaw.asInstanceOf[Long]; rPending = null
              } else advancing = false
            }
          }
          // tolerance bounds the gap: the as-of match is the CLOSEST
          // candidate, so if it exceeds the gap no other right can be
          // inside it — emit null, not the next-closest.
          val r =
            if (forward) {
              if (rPending != null && rKey.eval(rPending).asInstanceOf[Long] == k &&
                  tol.forall(rTime.eval(rPending).asInstanceOf[Long] - t <= _))
                rPending
              else nullRight
            } else if (lastMatch != null && lastMatchKey == k &&
                tol.forall(t - lastMatchTime <= _)) lastMatch
            else nullRight
          joined(l, r)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, fwd, tol) :: Nil
    case _ => Nil
  }
}

/** Algebraic simplification for the normalization expressions: NFC and
  * accent folding are idempotent, and NFC followed by accent folding is
  * just accent folding (strip_accents NFD-decomposes its input anyway) —
  * fold the nested call away so pipelines that defensively re-normalize
  * at every stage pay the Normalizer once. The optimizer-rule extension
  * point (`injectOptimizerRule`), alongside the strategy and function
  * injection below. */
object NormalizeIdempotence
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import graft.functions.{NfcNormalize, StripAccents}
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NfcNormalize(inner @ NfcNormalize(_)) => inner
      case StripAccents(inner @ StripAccents(_)) => inner
      case StripAccents(NfcNormalize(c)) => StripAccents(c)
    }
}

/** Builder-time registration — `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` — enables the FULL
  * library surface in every session the builder makes: the as-of join
  * strategy, the normalization rule above, and every SQL function of
  * [[graft.functions.Registry.functions]] (the same table
  * `Registry.install` registers into a live session, which is then a
  * no-op). The [[AsOf]] API also injects the strategy into live sessions
  * via experimental methods. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => NormalizeIdempotence)
    graft.functions.Registry.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

object AsOf {
  /** leftDf ASOF-LEFT-JOIN rightDf on key, rightTime <= leftTime.
    * Key/time columns must be LongType on both sides (cast first); output
    * is left columns followed by right columns (pre-rename collisions).
    * `tolerance` (same units as the time columns) bounds the match gap:
    * a left row whose closest candidate is further than the tolerance
    * gets nulls — DuckDB/pandas `merge_asof(tolerance=...)` semantics.
    */
  def join(leftDf: DataFrame, rightDf: DataFrame,
           leftKeyCol: String, leftTimeCol: String,
           rightKeyCol: String, rightTimeCol: String,
           forward: Boolean = false,
           tolerance: Option[Long] = None): DataFrame = {
    val spark = leftDf.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    org.apache.spark.sql.GraftInternal.ofRows(spark, AsOfJoin(lp, rp,
      attr(lp, leftKeyCol), attr(lp, leftTimeCol),
      attr(rp, rightKeyCol), attr(rp, rightTimeCol), forward, tolerance))
  }
}
