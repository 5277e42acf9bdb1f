package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** 64-bit order codes: one long per value such that signed-long order of
  * the codes is the order of the values. The sort-based and arg-select
  * kernels ([[ExactPercentile]], [[ArgSelect]]) compare and store codes
  * instead of boxed values.
  *
  *   - byte/short/int/long, date (days), timestamp and timestamp_ntz
  *     (micros): the value itself;
  *   - bool: false = 0, true = 1;
  *   - decimal(p <= 18, s): the unscaled long;
  *   - float/double: the IEEE bits of the (exactly widened) double with
  *     the negative half flipped, see [[ofDouble]].
  *
  * Wider decimals, strings, binaries and nested types have no such code.
  *
  * Two forms of the double code exist. [[ofDouble]] is invertible and
  * puts -0.0 just below 0.0, which is what a kernel that must return the
  * stored value (a percentile) needs. [[of]] and the [[OrderCodeOf]]
  * expression code `d + 0.0` instead, so -0.0 and 0.0 share one code, as
  * they compare equal in Spark's ordering; every NaN codes one above
  * +Inf, where Spark sorts NaN.
  */
object OrderCode {

  /** Types with a 64-bit order code. */
  def supports(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }

  /** Invertible code of a double: -0.0 just below 0.0, NaN canonicalized
    * one code above +Inf. */
  def ofDouble(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  /** Inverse of [[ofDouble]] (the flip is an involution). */
  def toDouble(c: Long): Double =
    java.lang.Double.longBitsToDouble(c ^ ((c >> 63) & Long.MaxValue))

  /** Spark-order code of a non-NULL internal value of type `dt`
    * ([[supports]] must hold): `of(a) < of(b)` exactly when a < b in
    * Spark's ordering, and equal codes are equal in that ordering. */
  def of(dt: DataType, v: Any): Long = dt match {
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case ShortType   => v.asInstanceOf[Short].toLong
    case ByteType    => v.asInstanceOf[Byte].toLong
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 0L
    case DoubleType  => ofDouble(v.asInstanceOf[Double] + 0.0)
    case FloatType   => ofDouble(v.asInstanceOf[Float].toDouble + 0.0)
    case _: DecimalType => v.asInstanceOf[Decimal].toUnscaledLong
  }
}

/** [[OrderCode.of]] as a codegen'd expression: NULL in, NULL out. */
case class OrderCodeOf(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (OrderCode.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"no 64-bit order code for ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_order_code"

  override protected def nullSafeEval(v: Any): Any = OrderCode.of(child.dataType, v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case BooleanType => s"($c ? 1L : 0L)"
      case _: DecimalType => s"$c.toUnscaledLong()"
      case FloatType | DoubleType => s"graft.expressions.OrderCode.ofDouble((double) $c + 0.0)"
      case _ => s"(long) $c"
    })

  override protected def withNewChildInternal(newChild: Expression): OrderCodeOf =
    copy(child = newChild)
}
