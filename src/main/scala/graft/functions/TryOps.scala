package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fallible-expression support behind the VRL processor's
  * `.field, err = <expr>` assignment form (processor/vrl.rs — VRL's
  * fallible assignment binds the VALUE to the first target and the
  * ERROR, or null on success, to the second): `try_pair(e)` returns a
  * `struct<value, err>` where exactly one side is set when e throws.
  *
  * ONE expression carrying both halves, not a try_value/try_error pair
  * over the same child: whole-stage codegen's common-subexpression
  * elimination would hoist the shared child OUT of both wrappers and
  * evaluate it unprotected — the error would escape the try/catch. A
  * single struct-producing expression keeps the child inside its own
  * catch no matter how CSE rearranges, and evaluates it once.
  *
  * `struct(value: <child type>, err: string)` — child's value and null
  * err when it evaluates; null value and the exception message when it
  * throws. Codegen wraps the child's generated code in try/catch (no
  * interpreted UDF), so fallible remap programs stay inside
  * WholeStageCodegen. */
case class TryPair(child: Expression)
    extends UnaryExpression with ConditionalExpression {

  // ConditionalExpression with NO always-evaluated inputs: this is the
  // round-13 fix for a subexpression-elimination escape — when the
  // twin try_pair($a) calls the `??` rewrite emits share their child
  // with ANYTHING else in the projection, CSE would hoist the child
  // into a subExpr function evaluated BEFORE (and outside) this
  // expression's try/catch, and the error it exists to catch would
  // fail the batch (observed: a FAILFAST from_json under `??` inside a
  // collapsed json-decode projection). Declaring the child
  // conditionally-evaluated keeps CSE from ever extracting it; the
  // identical try_pair twins still merge as WHOLE protected units.
  override def alwaysEvaluatedInputs: Seq[Expression] = Nil
  override def withNewAlwaysEvaluatedInputs(
      inputs: Seq[Expression]): ConditionalExpression = this
  // no branch groups either: a group whose branch always evaluates
  // would re-allow extracting the child's subexpressions
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def dataType: DataType = StructType(Seq(
    StructField("value", child.dataType, nullable = true),
    StructField("err", StringType, nullable = true)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    var v: Any = null
    var err: UTF8String = null
    try v = child.eval(input)
    catch {
      case scala.util.control.NonFatal(e) =>
        err = UTF8String.fromString(String.valueOf(e.getMessage))
    }
    new GenericInternalRow(Array[Any](v, err))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val v = ctx.freshName("tryVal")
    val err = ctx.freshName("tryErr")
    val e = ctx.freshName("tryExc")
    val rowCls = classOf[GenericInternalRow].getName
    // InterruptedException rethrows (as the interpreted eval's NonFatal
    // does): a task cancellation must kill the task, never become a data
    // row with err="...interrupted"
    ev.copy(
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        Object $v = null;
        UTF8String $err = null;
        try {
          ${childGen.code}
          if (!${childGen.isNull}) $v = (Object) ${childGen.value};
        } catch (Exception $e) {
          if ($e instanceof InterruptedException) {
            Thread.currentThread().interrupt();
            throw new RuntimeException($e);
          }
          $err = UTF8String.fromString(String.valueOf($e.getMessage()));
        }
        InternalRow ${ev.value} = new $rowCls(new Object[]{$v, $err});""")
  }

  override protected def withNewChildInternal(newChild: Expression): TryPair =
    copy(child = newChild)
}
