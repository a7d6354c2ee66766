package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, DataType, ObjectType}

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters —
  * the supported extension-point pattern for libraries that define native
  * Catalyst expressions (Spark 4 moved `Column` behind ColumnNode, so
  * `new Column(expr)` no longer exists).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted in full, for builders that run inside analysis (SQL
    * function registrations): there no later pass converts the Column
    * nodes nested in an expression, such as a `cast` on an argument.
    */
  def sqlExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** `obj.method(inputs..., params...)` per row: a call of a static JVM
    * kernel on a Scala `object`, inside whole-stage codegen.
    *
    * Each input column must have exactly its paired type; anything else
    * fails analysis (no implicit cast). Each param becomes a literal
    * argument: `Int` and `Boolean` as typed literals, any other
    * value (a model artifact, an enum) as an object literal, so two calls
    * compare equal exactly when their params do. A null in any input
    * yields NULL without calling the kernel; `nullable` says whether the
    * kernel itself may return null.
    */
  def kernel(name: String, obj: AnyRef, method: String, dataType: DataType,
             inputs: Seq[(Column, DataType)], params: Seq[Any] = Nil,
             nullable: Boolean = false): Column = {
    val args = params.map {
      case v @ (_: Int | _: Boolean) => Literal(v)
      case v: AnyRef => Literal(v, ObjectType(v.getClass))
    }
    column(KernelCall(name, obj.getClass, method, dataType,
      inputs.map(i => expression(i._1)) ++ args,
      inputs.map(_._2) ++ args.map(_.dataType), nullable))
  }
}

/** The node behind [[ColumnBridge.kernel]]: checks its input types at
  * analysis, then is replaced by Spark's `StaticInvoke`, which supplies
  * the interpreted eval, the generated call and the null propagation.
  */
private[graft] case class KernelCall(
    name: String, kernel: Class[_], method: String, resultType: DataType,
    children: Seq[Expression], inputTypes: Seq[AbstractDataType],
    resultNullable: Boolean)
  extends Expression with RuntimeReplaceable with ExpectsInputTypes {

  override lazy val replacement: Expression = StaticInvoke(kernel, resultType,
    method, children, returnNullable = resultNullable)

  override def prettyName: String = name

  override protected def flatArguments: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
