package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** N independent rolling fingerprints of one string in a SINGLE character
  * pass, as `array<long>` — the fused form of evaluating
  * one [[RollingFingerprint]]-style fold per (base, mod) family.
  *
  * Each family's fold is bit-identical to a standalone fold over the
  * string's code points (TextMultiModalSpec pins every family of
  * [[GraftFunctions.FpFamilies]] against a Scala fold, and the first
  * against [[RollingFingerprint]]), but the string is decoded once
  * instead of once per family: the gram/window operators that key on a
  * fingerprint pair or triple ([[graft.operators.NgramOverlap]]) hash
  * every window of the corpus, where the repeated decode was measured at
  * ~40% of the operator wall (BENCH_NOTES r5).
  */
case class RollingFingerprints(
    child: Expression,
    families: Seq[(Long, Long)])
    extends UnaryExpression with ExpectsInputTypes {

  require(families.nonEmpty, "need at least one (base, mod) family")
  families.foreach { case (base, mod) =>
    // same exactness bound as RollingFingerprint
    require(mod > 0 && base > 0 && mod - 1 <= (Long.MaxValue - 0x110000) / base,
      s"base=$base mod=$mod would overflow the fold")
  }

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rolling_fps"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val hs = new Array[Long](families.size)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      var j = 0
      while (j < hs.length) {
        val (base, mod) = families(j)
        hs(j) = (hs(j) * base + cp) % mod
        j += 1
      }
      i += Character.charCount(cp)
    }
    new GenericArrayData(hs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s  = ctx.freshName("s")
      val i  = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val hs = ctx.freshName("hs")
      // unrolled per-family updates: families are few (2-3) literals
      val updates = families.zipWithIndex.map { case ((base, mod), j) =>
        s"$hs[$j] = ($hs[$j] * ${base}L + $cp) % ${mod}L;"
      }.mkString("\n")
      s"""
         |String $s = $a.toString();
         |long[] $hs = new long[${families.size}];
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $updates
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($hs);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprints =
    copy(child = newChild)
}
