package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash-LSH band keys of one shingle array, per row: `bands` bucket
  * keys as `array<bigint>` — the whole near-dup sketch of a document
  * computed where the document sits, with no exchange and no aggregate.
  *
  * Bit-identical to the relational form it replaces (pinned in
  * DedupSpec against a MinHash signature built from Spark builtins):
  *   - each shingle is hashed once, `xxhash64(shingle)` (seed 42; a NULL
  *     element hashes to the seed, as Spark's `xxhash64` does);
  *   - signature slot s = min over shingles of `xxhash64(lit(s), h)`,
  *     for s < bands·rows;
  *   - band b's key = `xxhash64(sig[b·rows], …, sig[b·rows + rows − 1])`.
  *
  * A NULL or empty array yields NULL (no signature), so a `posexplode`
  * of the result gives no rows, as `explode` of the shingles did.
  *
  * Why per row: the relational form exploded every shingle, then ran
  * bands·rows `min` aggregates through an exchange. With 128 slots that
  * aggregate carries 129 fields, past `spark.sql.codegen.maxFields`
  * (100), so it ran without whole-stage codegen. Here the k minimums
  * are a tight loop over a `long[]`, and the surrounding stage stays
  * codegen'd (the generated code calls [[MinHashBands.bandKeys]]).
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bands >= 1 && rows >= 1, s"bands and rows must be >= 1 (got $bands, $rows)")

  // xxhash64(lit(s), h) = hashLong(h, hashInt(s, 42)): the per-slot seed
  @transient private lazy val seeds: Array[Long] = MinHashBands.seeds(bands * rows)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.bandKeys(input.asInstanceOf[ArrayData], seeds, bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    val obj = MinHashBands.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = $obj.bandKeys($a, $seedsRef, $bands, $rows);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  private val Seed = 42L

  private def seeds(k: Int): Array[Long] = Array.tabulate(k)(s => XXH64.hashInt(s, Seed))

  /** The kernel: one hash per shingle, `seeds.length` running minimums,
    * one chained hash per band. NULL for an empty array. */
  def bandKeys(shingles: ArrayData, seeds: Array[Long], bands: Int, rows: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val k = seeds.length
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = if (shingles.isNullAt(i)) Seed
        else XXH64.hashUTF8String(shingles.getUTF8String(i), Seed)
      var s = 0
      while (s < k) {
        val v = XXH64.hashLong(h, seeds(s))
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = Seed
      var r = 0
      while (r < rows) { acc = XXH64.hashLong(mins(b * rows + r), acc); r += 1 }
      keys(b) = acc
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }
}
