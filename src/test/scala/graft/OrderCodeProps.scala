package graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GreaterThan, LessThan, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.expressions.{OrderCode, OrderCodeOf}

/** The 64-bit order codes keep Spark's ordering: for every supported
  * type, `code(a) < code(b)` exactly when Spark orders a < b, and equal
  * codes are values Spark orders as equal (-0.0 and 0.0, every NaN). The
  * generated code of [[OrderCodeOf]] gives the same codes as the
  * interpreted [[OrderCode.of]]. */
object OrderCodeProps extends Properties("OrderCode") {

  private def sparkLess(dt: DataType, a: Any, b: Any): Boolean =
    LessThan(Literal.create(a, dt), Literal.create(b, dt)).eval().asInstanceOf[Boolean]
  private def sparkGreater(dt: DataType, a: Any, b: Any): Boolean =
    GreaterThan(Literal.create(a, dt), Literal.create(b, dt)).eval().asInstanceOf[Boolean]

  /** Codes order as Spark does, and the generated code agrees. */
  private def ordered(dt: DataType, gen: Gen[Any]): Prop = {
    val proj = GenerateUnsafeProjection.generate(Seq(OrderCodeOf(BoundReference(0, dt, nullable = true))))
    def generated(v: Any): Long = proj(InternalRow(v)).getLong(0)
    forAll(gen, gen) { (x, y) =>
      val (a, b) = (Literal.create(x, dt).value, Literal.create(y, dt).value) // internal form
      val (ca, cb) = (OrderCode.of(dt, a), OrderCode.of(dt, b))
      (ca < cb) == sparkLess(dt, a, b) && (ca > cb) == sparkGreater(dt, a, b) &&
        generated(a) == ca && generated(b) == cb
    }
  }

  private def withEdges[T](edges: Seq[T], g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.oneOf(edges), 3 -> g)

  private val doubleEdges = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
    Double.MaxValue, -Double.MaxValue, 1.0, -1.0,
    java.lang.Double.longBitsToDouble(0xfff8000000000001L)) // a negative, non-canonical NaN

  property("double") = ordered(DoubleType, withEdges(doubleEdges,
    Gen.oneOf(Gen.choose(-1e6, 1e6), Gen.choose(-3, 3).map(_.toDouble),
      Gen.long.map(java.lang.Double.longBitsToDouble))))

  property("float") = ordered(FloatType, withEdges(Seq(Float.NaN, -0.0f, 0.0f,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MinPositiveValue, Float.MaxValue,
    -Float.MaxValue), Gen.oneOf(Gen.choose(-1e3f, 1e3f), Gen.choose(-3, 3).map(_.toFloat))))

  property("long") = ordered(LongType,
    withEdges(Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 1L), Gen.long))

  property("int/short/byte") =
    ordered(IntegerType, withEdges(Seq(Int.MinValue, Int.MaxValue, 0), Gen.choose(Int.MinValue, Int.MaxValue))) &&
      ordered(ShortType, Gen.choose(Short.MinValue, Short.MaxValue)) &&
      ordered(ByteType, Gen.choose(Byte.MinValue, Byte.MaxValue))

  property("decimal(18, s)") = Prop.all((0 to 18 by 6).map { s =>
    val max = BigDecimal(10).pow(18 - s) - BigDecimal(1, s)
    ordered(DecimalType(18, s), withEdges(Seq(max, -max, BigDecimal(0)),
      Gen.choose(-999999999999999999L, 999999999999999999L).map(u => BigDecimal(u, s))).map {
        case d: BigDecimal => Decimal(d, 18, s)
        case other => other
      })
  }: _*)

  property("date") = ordered(DateType,
    withEdges(Seq(Int.MinValue, Int.MaxValue, 0), Gen.choose(-800000, 800000)))

  property("timestamp") = ordered(TimestampType,
    withEdges(Seq(Long.MinValue, Long.MaxValue, 0L), Gen.long)) &&
    ordered(TimestampNTZType, Gen.long)

  property("bool") = ordered(BooleanType, Gen.oneOf(true, false))

  property("ofDouble is invertible and toDouble undoes it") =
    forAll(Gen.long.map(java.lang.Double.longBitsToDouble)) { d =>
      val back = OrderCode.toDouble(OrderCode.ofDouble(d))
      (d.isNaN && back.isNaN) ||
        java.lang.Double.doubleToRawLongBits(back) == java.lang.Double.doubleToRawLongBits(d)
    }
}
