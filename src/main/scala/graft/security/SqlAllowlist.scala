package graft.security

import org.apache.spark.sql.catalyst.analysis.{PlanWithUnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ShowTablesExtended, ShowViews, UnresolvedWith}
import org.apache.spark.sql.execution.command.{DescribeQueryCommand, ExplainCommand}

/** OPT-IN allowlist enforcement inside arbitrary SQL — hardening BEYOND
  * the reference, which gates only the metadata tools (listings +
  * get_table_schema; `execute_query` SQL passes through unchecked, see
  * DIALECT.md "Allowlists inside arbitrary SQL"). When
  * `GRAFT_ENFORCE_SQL_ALLOWLISTS=true`, every relation a query
  * references is resolved with the reference's 3/2/1-part rules and
  * checked against the same catalog/schema/table allowlists the
  * metadata surface uses, BEFORE analysis — a denied query never
  * reaches the catalog.
  *
  * The walk runs on the PARSED (unresolved) tree: relation names are
  * judged as written, subqueries included. CTE-bound names are exempt
  * only WHERE THEIR DEFINING WITH IS IN SCOPE — the walk carries the
  * set of visible CTE names down the tree (a CTE body sees the outer
  * scope plus the names defined so far in its own WITH clause, the
  * main query sees them all), so a name bound only inside a nested
  * WITH does not exempt uses at the outer level where it would resolve
  * to a real table. `information_schema` references are exempt: the
  * shim views are rebuilt allowlist-filtered on every query.
  * `EXPLAIN <q>` and `DESCRIBE QUERY <q>` walk their query. The
  * namespace-wide listings Spark serves itself (`SHOW TABLE EXTENDED`,
  * which prints each matching table's schema, and `SHOW VIEWS`) are
  * judged as the table their pattern names in that namespace (`*`
  * without one), so a table allowlist admits only an exact allowed
  * name. The SHOW SCHEMAS / SHOW TABLES routes are not judged: they
  * answer from the allowlist-filtered listings, as the metadata tools do.
  */
object SqlAllowlist {

  /** (catalog, schema, table) a parsed 1/2/3-part name denotes: the
    * reading every check here judges, and the one the SHOW/DESCRIBE
    * routes read, so what is judged is what is served. */
  def qualified(parts: Seq[String], defaultCatalog: String,
      defaultSchema: String): (String, String, String) = parts match {
    case Seq(t) => (defaultCatalog, defaultSchema, t)
    case Seq(s, t) => (defaultCatalog, s, t)
    case _ => (parts(0), parts(1), parts.drop(2).mkString("."))
  }

  /** First allowlist violation in the plan, or None when clean. */
  def check(plan: LogicalPlan, lists: Allowlists,
      defaultCatalog: String, defaultSchema: String): Option[String] = {

    def checkName(parts: Seq[String], scope: Set[String]): Option[String] = {
      val lower = parts.map(_.toLowerCase)
      if (parts.length == 1 && scope(lower.head)) None
      else if (lower.contains("information_schema")) None
      else {
        val (c, s, t) = qualified(parts, defaultCatalog, defaultSchema)
        if (lists.allowedCatalogs.nonEmpty && !lists.isCatalogAllowed(c))
          Some(s"catalog access denied: $c not in allowlist")
        else if (lists.allowedSchemas.nonEmpty && !lists.isSchemaAllowed(c, s))
          Some(s"schema access denied: $c.$s not in allowlist")
        else lists.tableAccessError(c, s, t)
      }
    }

    def first(plans: Iterable[LogicalPlan], scope: Set[String]): Option[String] =
      plans.iterator.flatMap(walk(_, scope)).take(1).toSeq.headOption

    def walk(p: LogicalPlan, scope: Set[String]): Option[String] = p match {
      // EXPLAIN wraps its query as a non-child field — surface it.
      case e: ExplainCommand => walk(e.logicalPlan, scope)
      case d: DescribeQueryCommand => walk(d.plan, scope)
      // the statement pipeline reads constant IDENTIFIER(...) names
      // before this gate; any other is not known until analysis
      case i: PlanWithUnresolvedIdentifier =>
        Some(s"table access denied: ${i.identifierExpr.sql} is not a constant name")
      case ShowTablesExtended(ns, pattern, _) => checkName(namespace(ns) :+ pattern, scope)
      case ShowViews(ns, pattern, _) =>
        checkName(namespace(ns) :+ pattern.getOrElse("*"), scope)
      case w: UnresolvedWith =>
        // Bodies are walked with the scope accumulated left-to-right
        // (SQL lets a CTE reference the ones defined before it; adding
        // its own name too is a harmless over-approximation — Spark
        // rejects self-reference at analysis). The main query sees all.
        var s = scope
        val fromBodies = w.cteRelations.iterator.flatMap { rel =>
          s = s + rel._1.toLowerCase
          walk(rel._2, s)
        }.take(1).toSeq.headOption
        fromBodies.orElse(walk(w.child, s))
      case r: UnresolvedRelation => checkName(r.multipartIdentifier, scope)
      case t: UnresolvedTableOrView => checkName(t.multipartIdentifier, scope)
      case other =>
        // children in the same scope, plus plans nested inside
        // expressions (scalar/IN/EXISTS subqueries)
        val nested = other.expressions.flatMap(_.collect {
          case sq: SubqueryExpression => sq.plan
        })
        first(other.children ++ nested, scope)
    }

    walk(plan, Set.empty)
  }

  /** The parts of a parsed namespace; empty for the session's own
    * (`CurrentNamespace`). */
  def namespace(ns: LogicalPlan): Seq[String] = ns match {
    case UnresolvedNamespace(parts, _) => parts
    case _ => Nil
  }
}
