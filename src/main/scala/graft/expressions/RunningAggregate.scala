package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, DeclarativeAggregate, Last, Max, Min, Product, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** One fused running-aggregate scan step: the value of `agg` over the
  * rows of the current group seen so far, the current row included. The
  * state resets whenever the null-safe group key `keys` changes, so over
  * rows clustered by the key and sorted by position it yields what
  * `agg OVER (PARTITION BY keys ORDER BY position ROWS BETWEEN UNBOUNDED
  * PRECEDING AND CURRENT ROW)` yields.
  *
  * The generated code inlines `agg`'s own `initialValues`,
  * `updateExpressions` and `evaluateExpression` over buffer slots held as
  * mutable state of the generated class: the window's `AggregateProcessor`
  * evaluates the same expressions, so result types, decimal precision and
  * overflow behaviour (NULL or an error, by the ANSI setting) are Spark's
  * own. Unlike `WindowExec`, nothing is buffered: the state is one
  * aggregation buffer plus the previous key, O(1) per partition, and the
  * step runs inside the whole-stage-codegen stage that holds the sort and
  * the consumer. Every name in the generated code is fresh, so several
  * steps share one stage.
  *
  * The step is `Nondeterministic`: its value depends on the rows before
  * it, so the optimizer neither moves a filter below it nor drops the sort
  * beneath it. The caller owns the layout:
  * [[graft.operators.GroupByScan]] evaluates it in a projection over
  * `repartition(keys).sortWithinPartitions(keys ++ orderBy)`.
  */
case class RunningAggregate(agg: DeclarativeAggregate, keys: Seq[Expression])
  extends Expression with Nondeterministic {

  override def children: Seq[Expression] = agg.children ++ keys
  override def nullable: Boolean = agg.nullable
  override def dataType: DataType = agg.dataType
  override def prettyName: String = "graft_running"
  override def stateful: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = agg.checkInputDataTypes()

  private def bufferIndex(a: AttributeReference): Int =
    agg.aggBufferAttributes.indexWhere(_.exprId == a.exprId)

  /** `e` with every buffer attribute replaced by `slot(index, attribute)`. */
  private def onBuffer(e: Expression, slot: (Int, AttributeReference) => Expression): Expression =
    e.transform { case a: AttributeReference if bufferIndex(a) >= 0 => slot(bufferIndex(a), a) }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import CodeGenerator.{JAVA_BOOLEAN, javaType, defaultValue}
    val first = ctx.addMutableState(JAVA_BOOLEAN, "runFirst", v => s"$v = true;")
    ctx.addPartitionInitializationStatement(s"$first = true;")
    def slotsFor(types: Seq[DataType], name: String): Seq[(String, String)] = types.map(t =>
      (ctx.addMutableState(JAVA_BOOLEAN, s"${name}IsNull"), ctx.addMutableState(javaType(t), name)))
    val buf = slotsFor(agg.aggBufferAttributes.map(_.dataType), "runBuf")
    val prev = slotsFor(keys.map(_.dataType), "runKey")
    // the aggregate's inputs are generated once and read as values: its
    // update expressions may use an input several times, and in a
    // whole-stage stage an input's code must be emitted exactly once
    val inputCodes = agg.children.map(_.genCode(ctx))
    def bound(e: Expression): Expression = onBuffer(e, (i, a) =>
      StateSlot(buf(i)._1, buf(i)._2, a.dataType, a.nullable)).transformDown {
      case c if agg.children.exists(_ eq c) =>
        val in = inputCodes(agg.children.indexWhere(_ eq c))
        StateSlot(in.isNull.toString, in.value.toString, c.dataType, c.nullable)
    }

    // assign each (isNull, value) to its slot; values are computed first,
    // so an assignment never reads a slot already overwritten this row
    def assign(slots: Seq[(String, String)], types: Seq[DataType], codes: Seq[ExprCode],
        copyAlways: Boolean): String = {
      val tmps = codes.map(_ => (ctx.freshName("runNull"), ctx.freshName("runVal")))
      val read = codes.zip(tmps).zip(types).map { case ((c, (n, v)), t) =>
        s"boolean $n = ${c.isNull};\n${javaType(t)} $v = ${c.value};"
      }
      val write = slots.zip(tmps).zip(types).map { case (((sn, sv), (n, v)), t) =>
        s"$sn = $n;\nif (!$n) $sv = ${RunningAggregate.owned(t, v, sv, copyAlways)};"
      }
      (read ++ write).mkString("\n")
    }

    val keyCodes = keys.map(_.genCode(ctx))
    val changed = ctx.freshName("runChanged")
    val keyCheck = keys.indices.map { i =>
      val (c, (pn, pv)) = (keyCodes(i), prev(i))
      s"if (!$changed && !(${c.isNull} ? $pn : (!$pn && ${ctx.genEqual(keys(i).dataType, c.value.toString, pv)}))) $changed = true;"
    }
    val inits = agg.initialValues.map(e => bound(e).genCode(ctx))
    val updates = agg.updateExpressions.map(e => bound(e).genCode(ctx))
    val result = bound(agg.evaluateExpression).genCode(ctx)
    val bufTypes = agg.aggBufferAttributes.map(_.dataType)
    ev.copy(code = code"""
      |${keyCodes.map(_.code).mkString("\n")}
      |${inputCodes.map(_.code).mkString("\n")}
      |boolean $changed = $first;
      |${keyCheck.mkString("\n")}
      |if ($changed) {
      |  $first = false;
      |  ${assign(prev, keys.map(_.dataType), keyCodes, copyAlways = true)}
      |  ${inits.map(_.code).mkString("\n")}
      |  ${assign(buf, bufTypes, inits, copyAlways = false)}
      |}
      |${updates.map(_.code).mkString("\n")}
      |${assign(buf, bufTypes, updates, copyAlways = false)}
      |${result.code}
      |boolean ${ev.isNull} = ${result.isNull};
      |${javaType(dataType)} ${ev.value} = ${defaultValue(dataType)};
      |if (!${ev.isNull}) ${ev.value} = ${result.value};
      """.stripMargin)
  }

  // interpreted form: the same expressions over an Array[Any] buffer
  @transient private var interpreted: Interpreted = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    interpreted = new Interpreted

  override protected def evalInternal(input: InternalRow): Any = interpreted.eval(input)

  private final class Interpreted {
    private val buf = new Array[Any](agg.aggBufferAttributes.length)
    private def bound(e: Expression) = onBuffer(e, (i, a) => BufferSlot(buf, i, a.dataType, a.nullable))
    private val inits = agg.initialValues.map(bound)
    private val updates = agg.updateExpressions.map(bound)
    private val result = bound(agg.evaluateExpression)
    private val keyOrder = keys.map(k => TypeUtils.getInterpretedOrdering(k.dataType))
    private var prev: Array[Any] = _

    private def sameKeys(ks: Seq[Any]): Boolean = ks.indices.forall { i =>
      (ks(i) == null && prev(i) == null) ||
        (ks(i) != null && prev(i) != null && keyOrder(i).equiv(ks(i), prev(i)))
    }

    private def store(values: Seq[Any]): Unit =
      values.indices.foreach(i => buf(i) = InternalRow.copyValue(values(i)))

    def eval(input: InternalRow): Any = {
      val ks = keys.map(_.eval(input))
      if (prev == null || !sameKeys(ks)) {
        prev = ks.map(InternalRow.copyValue).toArray
        store(inits.map(_.eval(input)))
      }
      store(updates.map(_.eval(input)))
      result.eval(input)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RunningAggregate = {
    val n = agg.children.length
    copy(agg = agg.withNewChildren(newChildren.take(n)).asInstanceOf[DeclarativeAggregate],
      keys = newChildren.drop(n))
  }
}

object RunningAggregate {

  /** Functions a running step wraps, by the name the scan registry uses:
    * Spark's own aggregates, as the window forms built them. */
  val functions: Seq[String] = Seq("sum", "product", "count", "max", "min", "last")

  /** `graft_running(fn, value, keys...)`: `fn` is one of [[functions]]
    * (`last` skips NULLs, as `last(v, ignoreNulls = true)`). */
  private[expressions] def apply(fn: String, value: Expression, keys: Seq[Expression]): RunningAggregate = {
    val agg = fn match {
      case "sum"     => Sum(value)
      // product(v) takes double: the analyzer's implicit cast, made here
      case "product" => Product(if (value.dataType == DoubleType) value else Cast(value, DoubleType))
      case "count"   => Count(Seq(value))
      case "max"     => Max(value)
      case "min"     => Min(value)
      case "last"    => Last(value, ignoreNulls = true)
      case other => throw new IllegalArgumentException(
        s"graft_running takes one of ${functions.mkString("/")}, got $other")
    }
    RunningAggregate(agg, keys)
  }

  /** Java expression storing `v` into slot `slot`: values that may point
    * into the reused input row (strings, arrays, structs, maps) are
    * copied, unless the value is the slot's own object. */
  private def owned(t: DataType, v: String, slot: String, always: Boolean): String = {
    def copy(method: String) = if (always) s"$v.$method()" else s"($v == $slot ? $slot : $v.$method())"
    t match {
      case _: StringType => copy("clone")
      case _: ArrayType | _: StructType | _: MapType => copy("copy")
      case _ => v
    }
  }
}

/** A value [[RunningAggregate]]'s generated code already holds in Java
  * variables: a buffer slot (a pair of mutable-state fields) or an input
  * evaluated once per row. */
private case class StateSlot(isNullVar: String, valueVar: String, dataType: DataType, nullable: Boolean)
  extends LeafExpression {
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException("StateSlot exists only in generated code")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(JavaCode.isNullGlobal(isNullVar), JavaCode.global(valueVar, dataType))
}

/** A buffer slot of [[RunningAggregate]]'s interpreted form. */
private case class BufferSlot(buf: Array[Any], i: Int, dataType: DataType, nullable: Boolean)
  extends LeafExpression {
  override def eval(input: InternalRow): Any = buf(i)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw new UnsupportedOperationException("BufferSlot exists only in interpreted evaluation")
}
