package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, NullType}

/** Accessor for the `private[sql]` Column ↔ Expression bridge — the
  * standard shim a Spark extension library compiles into an
  * `org.apache.spark.sql` subpackage to expose custom Catalyst
  * expressions through the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.cloneSession()` is `private[sql]` in Spark 4: a new
    * session sharing the SparkContext/SharedState with a COPY of the
    * caller's SessionState (confs, temp views) that then diverges.
    * Exposed for conf-scoped query building — raise a session conf for
    * one returned DataFrame without mutating the caller's session
    * (`newSession()` is public but resets confs instead of inheriting).
    */
  def cloneSession(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The input type of one kernel argument (see [[exactly]]). */
  type InputType = AbstractDataType

  /** An input type that accepts exactly one of `types`, and that the
    * analyzer never casts toward. A plain `DataType` input type lets
    * implicit coercion insert a cast first (ANSI coercion turns an int
    * into a string and an `array<double>` into an `array<float>`); a
    * kernel's contract is its exact operand type, so a wrong operand
    * fails analysis instead. Element nullability is ignored, except
    * that an array type declared `containsNull = false` accepts only
    * arrays whose elements cannot be null.
    */
  def exactly(types: DataType*): InputType = Exactly(types)

  // a case class, so a plan that carries it stays serializable
  private case class Exactly(types: Seq[DataType]) extends AbstractDataType {
    // the type coercion casts a mismatched operand toward: no operand
    // casts to NullType (not even an untyped NULL, which stays NullType
    // and is then rejected like any other wrong type)
    override private[sql] def defaultConcreteType: DataType = NullType
    override private[sql] def acceptsType(other: DataType): Boolean =
      types.exists(t => (t, other) match {
        case (ArrayType(e, false), ArrayType(o, containsNull)) =>
          e == o && !containsNull
        case (ArrayType(e, true), ArrayType(o, _)) => e == o
        case _ => t == other
      })
    override private[sql] def simpleString: String = types.map {
      case ArrayType(e, false) => s"array<${e.simpleString} not null>"
      case t => t.simpleString
    }.mkString(" or ")
  }
}
