package graft.expressions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact grouped percentile(s) with linear interpolation: the kernel under
  * the registry's median/nanmedian/quantile/nanquantile
  * ([[graft.operators.Aggregations]]), returning exactly what Spark's
  * `percentile` / `median` return.
  *
  * Why not Spark's builtin: `Percentile` buffers a boxed
  * `OpenHashMap[AnyRef, Long]` per group. Every row boxes and hashes its
  * value, partials go through Java serialization of the boxed map, and the
  * final step sorts boxed keys with a generic ordering. Holistic functions
  * belong on a sort-based algorithm (the EDBT 2019 six-dimensional
  * in-memory aggregation study), which is what this buffer is.
  *
  * Buffer ([[PercentileRuns]]): a primitive `long[]` append area plus sorted
  * `(key, count)` runs in two primitive arrays. When the append area is
  * full it is sorted and run-length-merged into the runs; partials
  * serialize the runs and merge is a linear merge of two run lists.
  *
  * MEMORY BOUND: per (partition, group) the buffer holds one 16-byte run
  * per distinct value, plus an append area no larger than
  * `2 * max(CompactAt, runs)` keys. That is the same O(distinct values)
  * bound as Spark's map, at 16 bytes per distinct value in place of a
  * boxed map entry. A group with billions of distinct values still does
  * not fit; the bounded-memory paths are `approxquantile` and
  * [[graft.operators.Quantiles]].
  *
  * Keys: each value enters the buffer as a 64-bit order code
  * ([[OrderCode]]), so sorting codes sorts values and equal codes are
  * equal values:
  *   - byte/short/int/long: the value itself;
  *   - float/double: the invertible [[OrderCode.ofDouble]] of the
  *     (exactly widened) double (NaN canonicalized and above +Inf, as
  *     Spark orders it);
  *   - decimal(p <= 18, s): the unscaled long.
  * Keys decode to double only when a result is read off them, as Spark's
  * `toDoubleValue` does. Keeping the original value as the key (and not
  * its double) matters past 2^53: two longs or decimals that round to one
  * double are still two keys, so two ranks straddling them interpolate
  * `(hi - pos) * d + (pos - lo) * d` like Spark does, which is not always
  * `d`. Wider decimals have no 64-bit order code and are rejected here;
  * the registry routes them to Spark's `percentile`.
  *
  * Eval is `PercentileBase.getPercentile`'s arithmetic: with n rows,
  * `pos = (n - 1) * q`, lower/higher ranks `floor`/`ceil`, the key holding
  * each rank found on the cumulative counts, the equal-key shortcut, then
  * `(higher - pos) * lo + (pos - lower) * hi`. An empty group (no non-NULL
  * value) yields NULL. Output is `double` for a scalar q and
  * `array<double>` (non-null elements) for a vector q.
  *
  * One difference is inherent: Spark orders -0.0 and 0.0 as equal and
  * breaks the tie by hash-map iteration order, so the sign of a zero
  * result is not defined there; here -0.0 sorts before 0.0.
  */
case class ExactPercentile(
    child: Expression,
    qs: Seq[Double],
    returnArray: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PercentileRuns] with UnaryLike[Expression] {

  require(qs.nonEmpty && (returnArray || qs.size == 1),
    s"graft_percentile takes one q or an array of q (got $qs)")
  qs.foreach(q => require(q >= 0.0 && q <= 1.0,
    s"graft_percentile q must be in [0, 1] (got $q)"))

  override def checkInputDataTypes(): TypeCheckResult =
    if (ExactPercentile.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_percentile takes byte/short/int/long/float/double or decimal(p <= 18) " +
        s"values, got ${child.dataType.simpleString}")

  override def nullable: Boolean = true
  override def dataType: DataType =
    if (returnArray) ArrayType(DoubleType, containsNull = false) else DoubleType
  override def prettyName: String = "graft_percentile"

  private val qArr: Array[Double] = qs.toArray

  @transient private lazy val encode: Any => Long = child.dataType match {
    case LongType    => v => v.asInstanceOf[Long]
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case ShortType   => v => v.asInstanceOf[Short].toLong
    case ByteType    => v => v.asInstanceOf[Byte].toLong
    case DoubleType  => v => OrderCode.ofDouble(v.asInstanceOf[Double])
    case FloatType   => v => OrderCode.ofDouble(v.asInstanceOf[Float].toDouble)
    case _           => v => v.asInstanceOf[Decimal].toUnscaledLong
  }

  @transient private lazy val decode: Long => Double = child.dataType match {
    case FloatType | DoubleType => OrderCode.toDouble
    case d: DecimalType => c => Decimal(c, d.precision, d.scale).toDouble
    case _ => c => c.toDouble
  }

  override def createAggregationBuffer(): PercentileRuns = new PercentileRuns

  override def update(buf: PercentileRuns, input: InternalRow): PercentileRuns = {
    val v = child.eval(input)
    if (v != null) buf.add(encode(v))
    buf
  }

  override def merge(b1: PercentileRuns, b2: PercentileRuns): PercentileRuns = {
    b1.mergeRuns(b2); b1
  }

  override def eval(buf: PercentileRuns): Any = {
    buf.compact()
    val n = buf.nRuns
    if (n == 0) return null
    val cum = new Array[Long](n)
    var acc = 0L
    var i = 0
    while (i < n) { acc += buf.counts(i); cum(i) = acc; i += 1 }
    val out = qArr.map(q => percentile(buf.keys, cum, n, q))
    if (returnArray) new GenericArrayData(out) else out(0)
  }

  private def percentile(keys: Array[Long], cum: Array[Long], n: Int, q: Double): Double = {
    val position = (cum(n - 1) - 1) * q
    val lower    = position.floor.toLong
    val higher   = position.ceil.toLong
    val lowerKey = keys(rankIndex(cum, n, lower))
    if (higher == lower) return decode(lowerKey)
    val higherKey = keys(rankIndex(cum, n, higher))
    if (higherKey == lowerKey) return decode(lowerKey)
    (higher - position) * decode(lowerKey) + (position - lower) * decode(higherKey)
  }

  /** Index of the run holding 0-based rank r: the first cumulative count
    * >= r + 1 (cumulative counts are strictly increasing). */
  private def rankIndex(cum: Array[Long], n: Int, r: Long): Int = {
    val ix = java.util.Arrays.binarySearch(cum, 0, n, r + 1)
    if (ix < 0) -(ix + 1) else ix
  }

  override def serialize(buf: PercentileRuns): Array[Byte] = {
    buf.compact()
    val n  = buf.nRuns
    val bb = ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    bb.asLongBuffer().put(buf.keys, 0, n).put(buf.counts, 0, n)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PercentileRuns = {
    val bb  = ByteBuffer.wrap(bytes)
    val n   = bb.getInt()
    val buf = new PercentileRuns
    buf.keys = new Array[Long](n)
    buf.counts = new Array[Long](n)
    bb.asLongBuffer().get(buf.keys).get(buf.counts)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ExactPercentile =
    copy(child = newChild)
}

object ExactPercentile {

  /** `graft_percentile(value, q)`: q is a numeric literal (double result)
    * or an array literal of them (`array<double>` result), like Spark's
    * `percentile`. */
  def apply(child: Expression, q: Expression): ExactPercentile = {
    if (!q.foldable) throw new IllegalArgumentException(
      s"graft_percentile's second argument (q) must be a literal, got ${q.sql}")
    def toQ(x: Any): Double = x match {
      case d: Decimal => d.toDouble
      case n: Number  => n.doubleValue
      case _ => throw new IllegalArgumentException(
        s"graft_percentile q must be numeric and non-null, got ${q.sql}")
    }
    (q.dataType, q.eval()) match {
      case (ArrayType(et, _), a: ArrayData) =>
        ExactPercentile(child, a.toSeq[Any](et).map(toQ), returnArray = true)
      case (_, x) => ExactPercentile(child, Seq(toQ(x)), returnArray = false)
    }
  }

  /** Input types with a 64-bit order code (see the class doc). */
  def supports(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
    case _ => false
  }
}

/** Per-group state of [[ExactPercentile]]: an unsorted append area of order
  * codes and sorted `(keys, counts)` runs, distinct keys ascending, both
  * arrays exactly one slot per run.
  *
  * The append area grows geometrically from 8 keys and is compacted (sorted,
  * run-length encoded, merged into the runs) once it holds
  * `max(CompactAt, nRuns)` keys. Tying the threshold to the run count keeps
  * compaction amortized O(log) per row even when every value is distinct,
  * and keeps the area within twice the runs (or `CompactAt`). */
final class PercentileRuns {
  private var pending  = new Array[Long](8)
  private var nPending = 0
  var keys: Array[Long]   = Array.emptyLongArray
  var counts: Array[Long] = Array.emptyLongArray
  def nRuns: Int = keys.length

  def add(code: Long): Unit = {
    if (nPending == pending.length) {
      if (nPending >= math.max(PercentileRuns.CompactAt, nRuns)) compact()
      else pending = java.util.Arrays.copyOf(pending, nPending * 2)
    }
    pending(nPending) = code
    nPending += 1
  }

  /** Sort the append area and merge it into the runs. */
  def compact(): Unit = if (nPending > 0) {
    java.util.Arrays.sort(pending, 0, nPending)
    var w = 0 // run-length encode in place: codes to pending, counts to rc
    val rc = new Array[Long](nPending)
    var j = 0
    while (j < nPending) {
      val k = pending(j)
      var c = 0L
      while (j < nPending && pending(j) == k) { c += 1; j += 1 }
      pending(w) = k; rc(w) = c; w += 1
    }
    nPending = 0
    mergeSorted(pending, rc, w)
  }

  /** Fold another buffer's values into this one. */
  def mergeRuns(other: PercentileRuns): Unit = {
    other.compact()
    compact()
    mergeSorted(other.keys, other.counts, other.nRuns)
  }

  /** Linear merge of sorted distinct runs `(ok, oc)` into this buffer's runs. */
  private def mergeSorted(ok: Array[Long], oc: Array[Long], on: Int): Unit = if (on > 0) {
    val nRuns = keys.length
    val nk = new Array[Long](nRuns + on)
    val nc = new Array[Long](nRuns + on)
    var i = 0; var j = 0; var o = 0
    while (i < nRuns || j < on) {
      if (j == on || (i < nRuns && keys(i) < ok(j))) {
        nk(o) = keys(i); nc(o) = counts(i); i += 1
      } else if (i == nRuns || ok(j) < keys(i)) {
        nk(o) = ok(j); nc(o) = oc(j); j += 1
      } else {
        nk(o) = keys(i); nc(o) = counts(i) + oc(j); i += 1; j += 1
      }
      o += 1
    }
    // equal keys merged: trim, so the runs stay one slot per distinct value
    keys = if (o < nk.length) java.util.Arrays.copyOf(nk, o) else nk
    counts = if (o < nc.length) java.util.Arrays.copyOf(nc, o) else nc
  }

  /** Long slots held: append area plus runs (memory-bound checks). */
  private[graft] def footprint: Int = pending.length + keys.length + counts.length
}

object PercentileRuns {
  /** Append-area size that triggers the first compaction of a group. */
  val CompactAt = 1024
}
