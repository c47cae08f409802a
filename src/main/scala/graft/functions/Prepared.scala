package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, In, LeafExpression, Literal, Or, Predicate, TernaryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DataType

/**
 * A prepared plan's hole for one query's data: a typed placeholder that
 * analysis accepts like a column of `dataType`, and that [[Slot.bind]]
 * replaces by a literal before the plan is optimized or run (it cannot be
 * evaluated). A plan built once with slots is bound per query, so the
 * query pays neither the DataFrame building nor the analysis of its plan.
 */
case class Slot(name: String, dataType: DataType) extends LeafExpression with Unevaluable {
  override def nullable: Boolean = false
  override def toString: String = s"slot($name)"
}

object Slot {

  def column(name: String, dataType: DataType): Column = GraftBridge.column(Slot(name, dataType))

  /** `c IN (the values bound to slot name)`, each value of type `elem`.
    * Bound, it is a literal `In`: the one predicate form whose values a
    * cached relation's batch statistics prune on. */
  def in(c: Column, name: String, elem: DataType): Column =
    GraftBridge.column(In(GraftBridge.expression(c), Seq(Slot(name, elem))))

  /** `plan`'s own nodes — those above its [[Table]]s — bound for one
    * query: every slot replaced by its value in `values`, as a literal of
    * the slot's type (a literal list for a slot under an `In`, one literal
    * otherwise), then `node` applied to each. The tables are unwrapped and
    * their plans left as they are: a limit or any other node in the
    * history a table was built from is never a query's to change, and the
    * cached data that plan stands for still matches it. Maps, arrays and
    * structs are referenced from generated code rather than written into
    * it, so a query that binds new values of those types compiles nothing
    * new. */
  def bind(plan: LogicalPlan, values: Map[String, Any])(node: LogicalPlan => LogicalPlan): LogicalPlan =
    plan match {
      case Table(t) => t
      case p => node(p.mapChildren(bind(_, values)(node)).transformExpressions {
        case In(v, Seq(Slot(n, t))) =>
          anyIn(v, values(n).asInstanceOf[Iterable[Any]].iterator.map(Literal.create(_, t)).toSeq)
        case Slot(n, t) => Literal.create(values(n), t)
      })
    }

  /** The most values one bound `In` holds. A cached relation's scan turns
    * an `In` into a chain of one `Or` per value for its batch statistics,
    * and a chain ~1,500 deep overflows the stack when the task is
    * serialized. */
  private val InChunk = 512

  /** `v IN lits`: one `In` up to [[InChunk]] values, else a balanced `Or`
    * of `In`s of at most that many, which the cached scan still prunes on
    * and whose depth grows with the log of the list. */
  private def anyIn(v: Expression, lits: Seq[Expression]): Expression = {
    def balanced(ins: Seq[Expression]): Expression =
      if (ins.length == 1) ins.head
      else ins.splitAt(ins.length / 2) match { case (l, r) => Or(balanced(l), balanced(r)) }
    if (lits.length <= InChunk) In(v, lits) else balanced(lits.grouped(InChunk).map(In(v, _)).toSeq)
  }
}

/**
 * The edge of a prepared plan: a table the plan reads, as its own plan.
 * [[Slot.bind]] binds only the nodes above the tables and unwraps them;
 * a plan is bound before it is optimized or run, so no other rule sees
 * this node.
 */
case class Table(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): Table = copy(c)
}

/**
 * True when [first, last] overlaps one of `intervals`, a long array packed
 * as [s0, e0, s1, e1, …] of disjoint intervals in ascending order: a binary
 * search for the last start ≤ last. The intervals are data (usually a
 * bound literal), so every query's list runs the same compiled filter.
 */
case class OverlapsAny(firstDoc: Expression, lastDoc: Expression, intervals: Expression)
    extends TernaryExpression with Predicate {

  override def first: Expression = firstDoc
  override def second: Expression = lastDoc
  override def third: Expression = intervals

  override protected def nullSafeEval(f: Any, l: Any, ivs: Any): Any =
    OverlapsAny.test(f.asInstanceOf[Long], l.asInstanceOf[Long], ivs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, l, ivs) => s"graft.functions.OverlapsAny$$.MODULE$$.test($f, $l, $ivs)")

  override protected def withNewChildrenInternal(
      f: Expression, l: Expression, ivs: Expression): OverlapsAny = copy(f, l, ivs)
}

object OverlapsAny {

  def column(first: Column, last: Column, intervals: Column): Column =
    GraftBridge.column(OverlapsAny(GraftBridge.expression(first), GraftBridge.expression(last),
      GraftBridge.expression(intervals)))

  /** Sorts and merges `intervals` and packs them as [s0, e0, s1, e1, …]. */
  def pack(intervals: Seq[(Long, Long)]): Array[Long] =
    intervals.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: acc, (f, l)) if f <= e => (s, math.max(e, l)) :: acc
      case (acc, iv) => iv :: acc
    }.reverse.flatMap { case (s, e) => Seq(s, e) }.toArray

  def test(first: Long, last: Long, ivs: ArrayData): Boolean = {
    var lo = 0
    var hi = ivs.numElements() / 2 // lo → first interval with start > last
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (ivs.getLong(2 * m) <= last) lo = m + 1 else hi = m
    }
    lo > 0 && ivs.getLong(2 * lo - 1) >= first
  }
}
