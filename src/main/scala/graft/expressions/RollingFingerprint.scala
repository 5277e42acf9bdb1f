package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Rolling polynomial fingerprint h = fold(h * 31 + codepoint) mod 1e9+7
  * over a string's code points — the first of
  * [[GraftFunctions.FpFamilies]] — as a native Catalyst expression with
  * a tight codegen loop: the expression behind
  * [[graft.operators.TextAnalysis.fingerprintFast]]. Every intermediate
  * stays below 2^35, so the fold is exact and SQL-replayable
  * ([[graft.operators.TextAnalysis.fingerprintSql]]); TextMultiModalSpec
  * pins it against a Scala fold over code points, supplementary-plane
  * characters included. A higher-order-function fold would split the
  * string into one single-char UTF8String per character and fold
  * through interpreted lambdas (CodegenFallback, boxing) — the dominant
  * cost when hashing every *token* of a corpus (SimHash). The loop
  * below reads code points directly.
  */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  private val (base, mod) = GraftFunctions.FpFamilies.head
  // exactness bound: acc < mod, so acc*base + cp must stay below 2^63
  require(mod > 0 && base > 0 && mod - 1 <= (Long.MaxValue - 0x110000) / base,
    s"base=$base mod=$mod would overflow the fold")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = GraftFunctions.RollingFp

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * base + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s  = ctx.freshName("s")
      val h  = ctx.freshName("h")
      val i  = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $a.toString();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $h = ($h * ${base}L + $cp) % ${mod}L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}
