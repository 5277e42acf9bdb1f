package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, ExpectsInputTypes, Expression, If, IsNotNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType}

/** Static 128-bit two's-complement limb arithmetic for
  * [[SumProduct128]] — plain static calls so codegen emits them inline
  * (no boxing, no BigDecimal until the per-GROUP finalize). */
object Limb128 {
  /** low 64 bits of x·y (wrapping — the defined two's-complement low
    * half, immune to ANSI overflow semantics). */
  def mulLo(x: Long, y: Long): Long = x * y

  /** buffer.lo + low64(x·y), wrapping. */
  def addLo(lo: Long, x: Long, y: Long): Long = lo + x * y

  /** buffer.hi + high64(x·y) + carry-out of the low-limb addition.
    * The carry of unsigned a+b is ((a & b) | ((a | b) & ~(a+b))) >>> 63
    * — the standard branchless carry detector. */
  def addHi(hi: Long, lo: Long, x: Long, y: Long): Long = {
    val p = x * y
    val nl = lo + p
    hi + Math.multiplyHigh(x, y) + (((lo & p) | ((lo | p) & ~nl)) >>> 63)
  }

  def mergeLo(l1: Long, l2: Long): Long = l1 + l2

  def mergeHi(h1: Long, l1: Long, h2: Long, l2: Long): Long = {
    val nl = l1 + l2
    h1 + h2 + (((l1 & l2) | ((l1 | l2) & ~nl)) >>> 63)
  }

  /** Exact (hi, lo) 128-bit integer → BigDecimal(unscaled, scale) →
    * double — the SAME java.math.BigDecimal.doubleValue() finalize that
    * `sum(decimal(p, scale)).cast(double)` performs, so the result is
    * bit-identical to the decimal aggregation it replaces. Called once
    * per GROUP, never per row. */
  def toDouble(hi: Long, lo: Long, scale: Int): Double = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigDecimal(new java.math.BigInteger(bytes), scale)
      .doubleValue()
  }
}

/** Exact Σ x·y over two UNSCALED-decimal long columns in a 128-bit
  * two's-complement accumulator (two long limbs), finalized to double
  * once per group — the codegen replacement for the engine's decimal
  * power sums (optimization guide: expressions/codegen; VERDICT r13
  * "next round" #1).
  *
  * Contract: `x`/`y` are the unscaled longs of `decimal(<=18, s)` values
  * (`UnscaledValue(Cast(v, DecimalType(18, s)))`), and `scale` is the
  * scale of the PRODUCT (2s for Σx·y / Σx², s with `y = lit(1L)` for a
  * linear Σx). The result is bit-identical to
  * `sum(dx * dy).cast(DoubleType)`:
  *
  *   - the per-row product of unscaled longs is exact in 128 bits
  *     (|unscaled| < 10^17 ⇒ |product| < 10^34 < 2^127), matching the
  *     exact decimal(37,2s) product;
  *   - the limb sum is the exact integer sum — associative and
  *     order-independent, like the decimal sum buffer;
  *   - the finalize builds the identical BigDecimal(unscaled, scale)
  *     and calls the identical .doubleValue().
  *
  * NULL semantics match `sum`: rows where either child is NULL are
  * skipped; a group with no valid rows yields NULL. Headroom: the
  * 128-bit accumulator wraps past ~1.7e38 unscaled (~1e34 at scale 4) —
  * the same magnitude where the decimal(38, 2s) sum it replaces
  * overflows to NULL (non-ANSI); below that bound, i.e. everywhere the
  * decimal form was defined, the two agree bit for bit. ~10^12 rows of
  * 10^8-unscaled products sit 14 decimal orders under the edge.
  *
  * Why Declarative (not TypedImperative like [[OuterProductSumLong]]):
  * a 3-slot primitive buffer keeps the aggregation in
  * HashAggregateExec's whole-stage-codegen fast path — no object
  * buffers, no sort-based fallback threshold, map-side combined. The
  * decimal forms it replaces promoted every row through BigDecimal
  * (decimal(37,4) products exceed the compact-long precision cap).
  */
case class SumProduct128(
    x: Expression,
    y: Expression,
    scale: Int)
  extends DeclarativeAggregate with ExpectsInputTypes {

  require(scale >= 0 && scale <= 38, s"scale must be in [0, 38] (got $scale)")

  override def children: Seq[Expression] = Seq(x, y)
  // both children are unscaled-decimal longs; anything else is an
  // analysis error, never a silently reinterpreted buffer
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sum128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonEmpty =
    AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, nonEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def limbs = Limb128.getClass

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(x), IsNotNull(y))
    Seq(
      If(valid,
        StaticInvoke(limbs, LongType, "addHi", Seq(hi, lo, x, y),
          Seq[DataType](LongType, LongType, LongType, LongType),
          returnNullable = false),
        hi),
      If(valid,
        StaticInvoke(limbs, LongType, "addLo", Seq(lo, x, y),
          Seq[DataType](LongType, LongType, LongType),
          returnNullable = false),
        lo),
      Or(nonEmpty, valid))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    StaticInvoke(limbs, LongType, "mergeHi",
      Seq(hi.left, lo.left, hi.right, lo.right),
      Seq[DataType](LongType, LongType, LongType, LongType),
      returnNullable = false),
    StaticInvoke(limbs, LongType, "mergeLo", Seq(lo.left, lo.right),
      Seq[DataType](LongType, LongType),
      returnNullable = false),
    Or(nonEmpty.left, nonEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(nonEmpty,
      StaticInvoke(limbs, DoubleType, "toDouble",
        Seq(hi, lo, Literal(scale)),
        Seq[DataType](LongType, LongType, IntegerType),
        returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SumProduct128 =
    copy(x = newChildren(0), y = newChildren(1))
}
