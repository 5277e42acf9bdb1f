package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, ExpectsInputTypes, Expression, If, IsNotNull, Literal}
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

  /** Buffer state after adding x·y to a non-overflowed or empty buffer:
    * 2 (overflowed, sticky) when the state already is 2 or the add leaves
    * the signed 128-bit range, else 1 (holds values). */
  def addState(state: Int, hi: Long, lo: Long, x: Long, y: Long): Int =
    if (state == 2 || addOverflows(hi, lo, x, y)) 2 else 1

  /** State of the merge of two buffers (0 = empty, 1 = values, 2 =
    * overflowed). */
  def mergeState(s1: Int, h1: Long, l1: Long, s2: Int, h2: Long, l2: Long): Int =
    if (s1 == 0) s2
    else if (s2 == 0) s1
    else if (s1 == 2 || s2 == 2 || mergeOverflows(h1, l1, h2, l2)) 2
    else 1

  /** True when buffer + x·y leaves the signed 128-bit range: the two
    * addends share a sign and the sum's sign differs. x·y itself always
    * fits (|x·y| <= 2^126), so a buffer with |hi| < 2^62 (|buffer| <
    * 2^126) cannot overflow, and the per-row check is one compare until
    * the sum nears the edge. */
  private def addOverflows(hi: Long, lo: Long, x: Long, y: Long): Boolean =
    (hi ^ (hi >> 63)) >= (1L << 62) && {
      val ph = Math.multiplyHigh(x, y)
      val nh = addHi(hi, lo, x, y)
      ((hi ^ nh) & (ph ^ nh)) < 0
    }

  /** True when buffer1 + buffer2 leaves the signed 128-bit range. */
  private def mergeOverflows(h1: Long, l1: Long, h2: Long, l2: Long): Boolean = {
    val nh = mergeHi(h1, l1, h2, l2)
    ((h1 ^ nh) & (h2 ^ nh)) < 0
  }

  private val Decimal38Bound = java.math.BigInteger.TEN.pow(38)

  /** True when |(hi, lo)| < 10^38: the unscaled value fits decimal(38),
    * the widest type the decimal sum it replaces could hold. */
  def fitsDecimal38(hi: Long, lo: Long): Boolean =
    toBigInteger(hi, lo).abs.compareTo(Decimal38Bound) < 0

  private def toBigInteger(hi: Long, lo: Long): java.math.BigInteger = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigInteger(bytes)
  }

  /** Exact (hi, lo) 128-bit integer → BigDecimal(unscaled, scale) →
    * double — the SAME java.math.BigDecimal.doubleValue() finalize that
    * `sum(decimal(p, scale)).cast(double)` performs, so the result is
    * bit-identical to the decimal aggregation it replaces. Called once
    * per GROUP, never per row. */
  def toDouble(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(toBigInteger(hi, lo), scale).doubleValue()
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
  *   - the per-row product of unscaled longs is exact in 128 bits: a
  *     decimal(<=18, s) has |unscaled| < 10^18, so |product| < 10^36 <
  *     2^127, matching the exact decimal(37,2s) product;
  *   - the limb sum is the exact integer sum — associative and
  *     order-independent, like the decimal sum buffer;
  *   - the finalize builds the identical BigDecimal(unscaled, scale)
  *     and calls the identical .doubleValue().
  *
  * NULL semantics match `sum`: rows where either child is NULL are
  * skipped; a group with no valid rows yields NULL. Overflow: the sum of
  * products is NOT bounded by the per-row bound — 10^4 epoch-microsecond
  * values at scale 2 (unscaled ~1.7e17, squares ~3e34) already pass
  * 2^127. The `state` slot (0 = empty, 1 = holds values, 2 =
  * overflowed) records, stickily, any signed-128 overflow of a limb add
  * (update or merge), and the result is NULL when it is set or when the
  * final |sum| >= 10^38 — where the decimal(38, 2s) sum it replaces
  * returned NULL (non-ANSI) instead of a wrapped number. Below that
  * bound, i.e. everywhere the decimal form was defined, the two agree
  * bit for bit.
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
  private lazy val state = AttributeReference("state", IntegerType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, state)

  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L), Literal(0))

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
      If(valid,
        StaticInvoke(limbs, IntegerType, "addState", Seq(state, hi, lo, x, y),
          Seq[DataType](IntegerType, LongType, LongType, LongType, LongType),
          returnNullable = false),
        state))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    StaticInvoke(limbs, LongType, "mergeHi",
      Seq(hi.left, lo.left, hi.right, lo.right),
      Seq[DataType](LongType, LongType, LongType, LongType),
      returnNullable = false),
    StaticInvoke(limbs, LongType, "mergeLo", Seq(lo.left, lo.right),
      Seq[DataType](LongType, LongType),
      returnNullable = false),
    StaticInvoke(limbs, IntegerType, "mergeState",
      Seq(state.left, hi.left, lo.left, state.right, hi.right, lo.right),
      Seq[DataType](IntegerType, LongType, LongType, IntegerType, LongType, LongType),
      returnNullable = false))

  override lazy val evaluateExpression: Expression =
    If(And(EqualTo(state, Literal(1)),
        StaticInvoke(limbs, BooleanType, "fitsDecimal38", Seq(hi, lo),
          Seq[DataType](LongType, LongType), returnNullable = false)),
      StaticInvoke(limbs, DoubleType, "toDouble",
        Seq(hi, lo, Literal(scale)),
        Seq[DataType](LongType, LongType, IntegerType),
        returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SumProduct128 =
    copy(x = newChildren(0), y = newChildren(1))
}
