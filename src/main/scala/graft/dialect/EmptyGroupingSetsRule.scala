package graft.dialect

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, Literal, NamedExpression, VirtualColumn}
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Standard-SQL empty-input semantics for ROLLUP / CUBE / GROUPING SETS
  * that include the empty grouping set `()`.
  *
  * The SQL standard (and Trino, Postgres, DuckDB — the reference serves
  * this surface by Trino pass-through, `/root/reference/internal/trino/
  * client.go:284-290`) says the `()` grouping set behaves like a global
  * aggregate: over an EMPTY input it still emits one row (count = 0,
  * sum = NULL, ...). Spark emits zero rows — found by the differential
  * fuzzer (`tools/FuzzDump`, seed 31337: `GROUP BY ROLLUP(k)` under a
  * row-eliminating WHERE returned 1 row in DuckDB, 0 in Spark).
  *
  * Rewrite (post-hoc resolution, once per aggregate):
  * {{{
  *   Aggregate(keys+gid, aggs, Expand(proj, out, child))    -- unchanged
  *   UNION ALL
  *   Project(                       -- the missing () row, emitted only
  *     Filter(cnt == 0,             -- when the input is actually empty
  *       Join(Cross,
  *         Aggregate(Nil, aggs[keys→NULL, gid→mask], Filter(false, child)),
  *         Aggregate(Nil, count(1) AS cnt, child))))
  * }}}
  *
  * Design notes, 100 TB posture:
  *  - The `()` row's aggregate values are computed by a REAL global
  *    aggregate over a statically-false-filtered child: the optimizer
  *    collapses that child to an empty LocalRelation (zero cost, zero
  *    scan), and every aggregate function — including ones with
  *    non-NULL empty results like count_if or collect_list — produces
  *    exactly what this engine's own global aggregate would, with no
  *    per-function whitelist to drift.
  *  - The guard branch is ONE extra count(1) pass over the un-expanded
  *    child; column pruning makes it a zero-column scan. That is the
  *    honest price of standard semantics.
  *  - GROUPING SETS lists without `()` are standard-compatible in
  *    Spark already (both return zero rows) and are not rewritten: the
  *    rewrite triggers only when an Expand projection carries the
  *    all-bits grouping id.
  */
object EmptyGroupingSetsRule extends Rule[LogicalPlan] {
  private val done = TreeNodeTag[Boolean]("graft.emptyGroupingSetsDone")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case agg: Aggregate if agg.resolved && agg.getTagValue(done).isEmpty =>
        agg.child match {
          case expand: Expand =>
            rewrite(agg, expand).getOrElse(agg)
          case _ => agg
        }
    }

  private def rewrite(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    val groupingAttrs = agg.groupingExpressions.collect { case a: AttributeReference => a }
    val gidAttr = groupingAttrs.find(_.name == VirtualColumn.groupingIdName)
      .getOrElse(return None) // Expand not from grouping analytics
    val keyAttrs = groupingAttrs.filterNot(_.exprId == gidAttr.exprId)
    // Only rewrite when grouping exprs are exactly key attrs + gid (the
    // shape ResolveGroupingAnalytics emits).
    if (groupingAttrs.length != agg.groupingExpressions.length) return None
    val mask = (1L << keyAttrs.length) - 1
    val gidIdx = expand.output.indexWhere(_.exprId == gidAttr.exprId)
    if (gidIdx < 0) return None
    val hasEmptySet = expand.projections.exists(p => p(gidIdx) match {
      case Literal(v: Long, _) => v == mask
      case _ => false
    })
    if (!hasEmptySet) return None

    // The () row: same aggregate expressions, grouping outputs replaced
    // by their empty-set values (keys → NULL, grouping id → all-bits).
    val substituted: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val t = ne.transformUp {
        case a: AttributeReference if a.exprId == gidAttr.exprId =>
          Literal(mask)
        case a: AttributeReference if keyAttrs.exists(_.exprId == a.exprId) =>
          Literal(null, a.dataType)
      }
      t match {
        case n: NamedExpression => n
        case e: Expression => Alias(e, ne.name)()
      }
    }
    val emptyRow = Aggregate(Nil, substituted,
      Filter(Literal.FalseLiteral, expand.child))
    val cntAlias = Alias(Count(Literal(1)).toAggregateExpression(), "__graft_empty_guard")()
    val cntAgg = Aggregate(Nil, Seq(cntAlias), expand.child)
    val guarded = Filter(EqualTo(cntAlias.toAttribute, Literal(0L)),
      Join(emptyRow, cntAgg, Cross, None, JoinHint.NONE))
    // Fresh aliases so the Union branches don't share expression ids.
    val branch = Project(
      agg.output.zip(emptyRow.output).map { case (o, e) => Alias(e, o.name)() },
      guarded)
    agg.setTagValue(done, true)
    Some(Union(Seq(agg, branch)))
  }
}
