package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.types.DataType

/** Columns over the per-row kernels of this package. A kernel is a plain
  * method on a Scala object; Spark's `StaticInvoke` calls it, as one
  * direct static call inside whole-stage codegen (by reflection when
  * interpreted). An argument is a Column, an Expression, an `Int`,
  * `Long` or `Boolean` (a typed literal), or a plan-time object such as
  * a lookup table or a form name, which rides the plan as an object
  * literal that the generated code reads by reference. A null argument
  * gives a null result unless the kernel is called with [[callNulls]]. */
object Kernel {

  private def arg(a: Any): Expression = a match {
    case c: Column => expression(c)
    case e: Expression => e
    case v @ (_: Int | _: Long | _: Boolean) => Literal(v)
    case v => Literal.fromObject(v)
  }

  /** `kernel.method(args)`; `inputTypes` adds Spark's implicit casts and
    * analysis-time type check, for input from outside the program. */
  def expr(kernel: AnyRef, method: String, dataType: DataType, args: Seq[Any],
           inputTypes: Seq[DataType] = Nil,
           propagateNull: Boolean = true): Expression =
    StaticInvoke(kernel.getClass, dataType, method, args.map(arg), inputTypes, propagateNull)

  def call(kernel: AnyRef, method: String, dataType: DataType, args: Any*): Column =
    column(expr(kernel, method, dataType, args))

  /** As [[call]], but null arguments reach the kernel, which decides. */
  def callNulls(kernel: AnyRef, method: String, dataType: DataType, args: Any*): Column =
    column(expr(kernel, method, dataType, args, propagateNull = false))

  /** `target.method(args)` on a plan-time object; nulls reach it and the
    * result is never null. */
  def invoke(target: AnyRef, method: String, dataType: DataType, args: Column*): Column =
    column(Invoke(Literal.fromObject(target), method, dataType, args.map(expression),
      propagateNull = false, returnNullable = false))
}
