package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, CreateNamedStruct, ExprId, Expression,
  GetStructField, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.optimizer.ColumnPruning
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** Projection pruning through a latest-by-key (SURVEY §4 "Projection
  * pruning at source").
  *
  * [[graft.operators.SttmOps.latestByKey]] keeps each key's latest row as
  * `max_by(named_struct(<every column>), <ranking>)` and its readers take
  * the row apart with struct-field accesses. Spark's `ColumnPruning` does
  * not see through the struct: a reader that takes 2 of 28 fields still
  * computes all 28 below the aggregate (for a JSON view, parses every
  * payload field) and sorts and shuffles the full struct. The reference's
  * generator prunes this by hand, projecting each source down to the
  * columns its SQL references (generator.py:247-265); its FGAC INSERT reads
  * `USER_ID, EVENT_ID, VALUE` of XREF_PURCHASE (final-output.sql:81-145).
  *
  * The rule matches a `Project`, over any `Filter`s, over an `Aggregate`
  * one of whose results is `max_by`/`min_by` of a `CreateNamedStruct`, and
  * that the `Project` and `Filter`s read only through `GetStructField`; and
  * an `Aggregate` that reads such an aggregate only through
  * `GetStructField` in its own results, the shape Spark's `CollapseProject`
  * leaves when a reader takes one field. It rebuilds the struct from just
  * the fields read, remaps their ordinals and runs Spark's own
  * `ColumnPruning` over the rewritten subtree, so the
  * inputs no field reads any more drop out, down to a fused `from_json`
  * ([[FuseJsonAccess]]) that nothing reads. The choice of row is
  * unchanged: it depends only on the ranking, which the rule never
  * touches. A plan that reads every field, or the struct as a whole
  * (`to_json(__r)`, `__r` passed through), is left as it is: the XREF
  * target itself, and every merge, compaction and merge-on-read of a
  * snapshot store.
  *
  * Installed beside [[FuseJsonAccess]] (see its `install`), after it in the
  * same optimizer batch, so the parse it fuses is there to drop.
  */
object PruneLatestPayload extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p: Project => pruneReaders(p).getOrElse(p)
    case a: Aggregate => pruneWithin(a).getOrElse(a)
  }

  /** A `max_by`/`min_by` of a named struct, and the struct. */
  private object LatestOfStruct {
    def unapply(e: Expression): Option[(AggregateExpression, CreateNamedStruct)] = e match {
      case ae @ AggregateExpression(f @ (_: MaxBy | _: MinBy), _, _, _, _) =>
        f.children.head match {
          case s: CreateNamedStruct => Some((ae, s))
          case _ => None
        }
      case _ => None
    }
  }

  /** `ae` with its value struct narrowed to the `kept` ordinals. */
  private def narrow(ae: AggregateExpression, struct: CreateNamedStruct,
                     kept: Seq[Int]): AggregateExpression = {
    val f = ae.aggregateFunction
    val fields = CreateNamedStruct(kept.flatMap(i => Seq(struct.nameExprs(i), struct.valExprs(i))))
    ae.copy(aggregateFunction =
      f.withNewChildren(Seq(fields, f.children(1))).asInstanceOf[AggregateFunction])
  }

  /** The struct ordinals `readers` take from the struct `isStruct` names,
    * sorted, when they are some but not all of its `width` fields and no
    * reader uses the struct as a whole. */
  private def fieldsRead(readers: Seq[Expression], isStruct: Expression => Boolean,
                         width: Int): Option[Seq[Int]] = {
    var whole = false
    val read = Set.newBuilder[Int]
    def visit(e: Expression): Unit = e match {
      case GetStructField(s, ordinal, _) if isStruct(s) => read += ordinal
      case s if isStruct(s) => whole = true
      case _ => e.children.foreach(visit)
    }
    readers.foreach(visit)
    Some(read.result()).filter(r => !whole && r.nonEmpty && r.size < width).map(_.toSeq.sorted)
  }

  /** The `Filter`s between a `Project` and the `Aggregate` below them. */
  private def filtersOver(plan: LogicalPlan): Option[(List[Filter], Aggregate)] = plan match {
    case a: Aggregate => Some((Nil, a))
    case f: Filter => filtersOver(f.child).map { case (fs, a) => (f :: fs, a) }
    case _ => None
  }

  /** Aggregate results read by the `Project` (and `Filter`s) above. */
  private def pruneReaders(p: Project): Option[LogicalPlan] =
    filtersOver(p.child).flatMap { case (filters, agg) =>
      val readers = p.projectList ++ filters.map(_.condition)
      // result id -> (narrowed result, the ordinals it keeps)
      val pruned: Map[ExprId, (Alias, Seq[Int])] = agg.aggregateExpressions.flatMap {
        case a @ Alias(LatestOfStruct(ae, struct), _) =>
          fieldsRead(readers, {
            case r: Attribute => r.exprId == a.exprId
            case _ => false
          }, struct.valExprs.size).map(kept =>
            a.exprId -> (a.withNewChildren(Seq(narrow(ae, struct, kept))).asInstanceOf[Alias], kept))
        case _ => None
      }.toMap
      if (pruned.isEmpty) None
      else {
        def remap[E <: Expression](e: E): E = e.transformUp {
          case GetStructField(r: AttributeReference, ordinal, name) if pruned.contains(r.exprId) =>
            val (alias, kept) = pruned(r.exprId)
            GetStructField(r.withDataType(alias.dataType), kept.indexOf(ordinal), name)
        }.asInstanceOf[E]
        val newAgg = agg.copy(aggregateExpressions = agg.aggregateExpressions.map {
          case a: Alias if pruned.contains(a.exprId) => pruned(a.exprId)._1
          case e => e
        })
        val newChild = filters.foldRight(newAgg: LogicalPlan) { (f, c) =>
          Filter(remap(f.condition), c)
        }
        Some(ColumnPruning(Project(p.projectList.map(remap), newChild)))
      }
    }

  /** Aggregates read by the `Aggregate`'s own results. */
  private def pruneWithin(agg: Aggregate): Option[LogicalPlan] = {
    val structs = agg.aggregateExpressions.flatMap(_.collect {
      case LatestOfStruct(ae, struct) => ae.canonicalized -> struct
    }).toMap
    // semantically equal aggregates stay equal, so Spark still computes them once
    val pruned: Map[Expression, Seq[Int]] = structs.flatMap { case (key, struct) =>
      fieldsRead(agg.aggregateExpressions, {
        case ae: AggregateExpression => ae.canonicalized == key
        case _ => false
      }, struct.valExprs.size).map(key -> _)
    }
    if (pruned.isEmpty) None
    else Some(ColumnPruning(agg.copy(aggregateExpressions = agg.aggregateExpressions.map(
      _.transformDown {
        case GetStructField(LatestOfStruct(ae, struct), ordinal, name)
            if pruned.contains(ae.canonicalized) =>
          val kept = pruned(ae.canonicalized)
          GetStructField(narrow(ae, struct, kept), kept.indexOf(ordinal), name)
      }.asInstanceOf[NamedExpression]))))
  }
}
