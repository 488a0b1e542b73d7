package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{FloatVecDot, RollingFingerprint}

/** Session extensions for the graft engine: registers the native
  * expressions so plain SQL users reach them —
  * `SELECT float_vec_dot(a, b) FROM ...`.
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
  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "float_vec_dot expects exactly 2 arguments")
    FloatVecDot(args.head, args(1))
  }

  private def buildFp(args: Seq[Expression]): Expression = {
    require(args.length == 1,
      "rolling_fingerprint expects exactly 1 argument")
    RollingFingerprint(args.head)
  }

  val floatVecDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("float_vec_dot"),
    new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
    build)

  val rollingFingerprintDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_fingerprint"),
    new ExpressionInfo(classOf[RollingFingerprint].getName,
      "rolling_fingerprint"),
    buildFp)
}
