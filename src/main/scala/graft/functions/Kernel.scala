package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.catalog.functions.ScalarFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** The one call form of the row kernels in this package: each kernel
  * is a plain Scala function on its object, and its column builder
  * calls it through Spark's `StaticInvoke`, which supplies whole-stage
  * codegen (one generated static call per row), the interpreted eval
  * path, null propagation (a NULL input yields NULL without calling
  * the function) and the input-type check. Plans render the call as
  * `static_invoke(graft.functions.<Kernel>.<fn>(…))`.
  */
private[functions] object Kernel {

  /** `kernel.fn(inputs…, consts…)` as a column of `dataType`.
    *
    * @param inputs the row arguments, each with its exact input type
    *   ([[Bridge.exactly]]: a wrong operand fails analysis)
    * @param consts per-call state as literals — scalars as typed
    *   literals, arrays (word sets, plane matrices) through
    *   `Literal.fromObject`; they pick the overload with their types
    * @param returnNullable only for a function that returns a boxed
    *   value which may be null
    */
  def call(kernel: AnyRef, fn: String, dataType: DataType,
      inputs: Seq[(Column, Bridge.InputType)], consts: Seq[Literal] = Nil,
      returnNullable: Boolean = false): Column =
    Bridge.column(new Call(kernel.getClass, dataType, fn,
      inputs.map(i => Bridge.expression(i._1)) ++ consts,
      inputs.map(_._2) ++ consts.map(_.dataType), true, returnNullable,
      true, None))

  /** `StaticInvoke` with `propagateNull`, minus the null-intolerance
    * that flag also declares. A null-intolerant call in a predicate
    * makes constraint inference add `isnotnull` filters on its inputs,
    * which changes plans: d11's `float_vec_dot` similarity filter
    * gained two and one more Filter stage. NULL still yields NULL; the
    * optimizer just infers nothing from it. The constructor takes
    * StaticInvoke's nine fields in order (propagateNull, returnNullable,
    * isDeterministic and scalarFunction last), so Catalyst's reflective
    * node copy finds it.
    */
  private class Call(cls: Class[_], dt: DataType, fn: String,
      args: Seq[Expression], types: Seq[Bridge.InputType],
      propagate: Boolean, retNullable: Boolean, det: Boolean,
      sf: Option[ScalarFunction[_]])
      extends StaticInvoke(cls, dt, fn, args, types, propagate, retNullable,
        det, sf) {
    override def nullIntolerant: Boolean = false
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): StaticInvoke =
      new Call(staticObject, dataType, functionName, newChildren, inputTypes,
        propagateNull, returnNullable, isDeterministic, scalarFunction)
  }
}
