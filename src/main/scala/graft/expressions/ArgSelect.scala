package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BitwiseNot, CaseWhen, Coalesce, CreateNamedStruct, EqualTo, Expression, GreaterThan, If, IsNotNull, KnownNotNull, Literal, Not, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, MaxBy, MinBy}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Fixed-width arg-selection: the `payload` of the row with the
  * lexicographically greatest `(k1, k2)`, two 64-bit keys. Rows whose k1
  * is NULL are skipped; k2 must not be NULL. A group with no row gives
  * NULL. Equal keys keep the row seen first, as `max_by` does.
  *
  * Buffer: (k1: long, k2: long, payload, nonEmpty). With a fixed-width
  * payload every slot is a mutable `UnsafeRow` field, so the aggregate
  * runs in `HashAggregateExec`'s whole-stage-codegen path. Spark's
  * `min_by`/`max_by` over a `struct` ordering buffer the struct, which
  * is not fixed-width, so Spark plans them as a `SortAggregate` that
  * sorts every input row. State is O(1) per group either way.
  *
  * The registry's order-dependent reductions reach it through
  * [[ArgSelect.minBy]] / [[ArgSelect.maxBy]], drop-in forms of
  * `min_by(payload, ordering)` / `max_by(payload, ordering)` for an
  * ordering that is a two-field struct, optionally masked as
  * `CASE WHEN valid THEN struct(a, b) END`. The struct's fields become
  * [[OrderCode]]s that keep Spark's struct order, where a NULL field
  * sorts first:
  *   - max_by: k = code(f), NULL -> Long.MinValue;
  *   - min_by: k = ~code(f), NULL -> Long.MaxValue (`~` reverses the order
  *     without overflow);
  *   - the mask: k1 = NULL (row skipped) where `valid` is not true, as
  *     `max_by` skips a NULL ordering.
  *
  * So `first` = min_by(v, (p, v)) runs as (~code p, ~code v), `last` as
  * (code p, code v), argmin = min_by(p, (v, p)) as (~code v, ~code p),
  * argmax = max_by(p, (v, -p)) as (code v, code(-p)), and mode's second
  * stage min_by(v, (-n, v)) as (~code(-n), ~code v). The one place a code
  * differs from the struct is a NULL field next to the extreme value
  * whose code is the NULL's stand-in (a long Long.MinValue value beside a
  * NULL): the two then tie, and the row seen first wins.
  *
  * Orderings or payloads without a 64-bit code (string, binary,
  * decimal(p > 18), nested types, wider structs) stay on Spark's
  * `min_by`/`max_by`.
  */
case class ArgSelect(k1: Expression, k2: Expression, payload: Expression)
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(k1, k2, payload)
  override def nullable: Boolean = true
  override def dataType: DataType = payload.dataType
  override def prettyName: String = "graft_argselect"

  override def checkInputDataTypes(): TypeCheckResult =
    if (k1.dataType != LongType || k2.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("graft_argselect keys must be bigint order codes")
    else if (k2.nullable)
      TypeCheckResult.TypeCheckFailure("graft_argselect's second key must not be nullable")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val bk1 = AttributeReference("k1", LongType, nullable = false)()
  private lazy val bk2 = AttributeReference("k2", LongType, nullable = false)()
  private lazy val bp = AttributeReference("payload", payload.dataType)()
  private lazy val nonEmpty = AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bk1, bk2, bp, nonEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal.create(null, payload.dataType), Literal(false))

  /** (a1, a2) > (b1, b2) lexicographically. */
  private def beats(a1: Expression, a2: Expression, b1: Expression, b2: Expression): Expression =
    Or(GreaterThan(a1, b1), And(EqualTo(a1, b1), GreaterThan(a2, b2)))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = And(IsNotNull(k1), Or(Not(nonEmpty), beats(k1, k2, bk1, bk2)))
    Seq(If(take, KnownNotNull(k1), bk1), If(take, k2, bk2), If(take, payload, bp),
      Or(nonEmpty, IsNotNull(k1)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(nonEmpty.right,
      Or(Not(nonEmpty.left), beats(bk1.right, bk2.right, bk1.left, bk2.left)))
    Seq(If(take, bk1.right, bk1.left), If(take, bk2.right, bk2.left),
      If(take, bp.right, bp.left), Or(nonEmpty.left, nonEmpty.right))
  }

  override lazy val evaluateExpression: Expression = bp

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgSelect =
    copy(k1 = newChildren(0), k2 = newChildren(1), payload = newChildren(2))
}

object ArgSelect {

  /** `min_by(payload, ordering)`: [[ArgSelect]] when the ordering has
    * codes (see the class doc), Spark's `MinBy` otherwise. */
  private[expressions] def minBy(payload: Expression, ordering: Expression): Expression =
    build(payload, ordering, max = false).getOrElse(MinBy(payload, ordering).toAggregateExpression())

  /** `max_by(payload, ordering)`, as [[minBy]]. */
  private[expressions] def maxBy(payload: Expression, ordering: Expression): Expression =
    build(payload, ordering, max = true).getOrElse(MaxBy(payload, ordering).toAggregateExpression())

  private def build(payload: Expression, ordering: Expression, max: Boolean): Option[Expression] = {
    val (mask, fields) = ordering match {
      case s: CreateNamedStruct => (None, s.valExprs)
      case CaseWhen(Seq((valid, s: CreateNamedStruct)), None) => (Some(valid), s.valExprs)
      case _ => return None
    }
    if (fields.size != 2 || !(payload +: fields).forall(e => OrderCode.supports(e.dataType)))
      return None
    def key(f: Expression): Expression =
      if (max) Coalesce(Seq(OrderCodeOf(f), Literal(Long.MinValue)))
      else Coalesce(Seq(BitwiseNot(OrderCodeOf(f)), Literal(Long.MaxValue)))
    val k1 = mask.fold(key(fields(0)))(v => If(v, key(fields(0)), Literal(null, LongType)))
    Some(ArgSelect(k1, key(fields(1)), payload).toAggregateExpression())
  }
}
