package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{FloatVecDot, RollingFingerprint}

/** Session extensions for the graft engine: registers the native
  * kernels so plain SQL users reach them —
  * `SELECT float_vec_dot(a, b) FROM ...`. Each SQL function builds the
  * same expression as the kernel's column builder, so an unaliased
  * call is named `static_invoke(graft.functions.FloatVecDot.compute(…))`.
  *
  * [[graft.core.EngineDefaults.scaled]] installs them in every graft
  * session; a foreign session installs them with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.floatVecDotDescriptor)
    ext.injectFunction(GraftExtensions.rollingFingerprintDescriptor)
  }
}

object GraftExtensions {
  private def descriptor(name: String, kernel: AnyRef, arity: Int)(
      build: Seq[Column] => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(kernel.getClass.getName, name),
    args => {
      require(args.length == arity, s"$name expects exactly $arity argument(s)")
      Bridge.expression(build(args.map(Bridge.column)))
    })

  val floatVecDotDescriptor =
    descriptor("float_vec_dot", FloatVecDot, 2)(a => FloatVecDot.dot(a(0), a(1)))

  val rollingFingerprintDescriptor =
    descriptor("rolling_fingerprint", RollingFingerprint, 1)(a =>
      RollingFingerprint.of(a(0)))
}
