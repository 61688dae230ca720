package graft.service

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.{DescribeQueryCommand, ExplainCommand}

import graft.engine.Engine

/** Trino's `USE catalog.schema` / `USE schema` — sets the session's
  * default namespace for everything that resolves partial names: plain
  * SQL, the metadata tools' empty-catalog defaults, DESCRIBE/SHOW
  * statement routing, and the opt-in SQL allowlist resolution. The
  * reference passes USE through to Trino, where the session defaults
  * ride the X-Trino-Catalog/Schema headers; the embedded analog stores
  * them on the engine (one engine = one logical session, like the
  * prepared-statement store).
  *
  * Resolution mechanics: the engine's default-catalog tables are
  * session temp views, and Spark resolves an unqualified name to a
  * temp view BEFORE consulting the current catalog — so merely setting
  * Spark's current namespace would leave `USE tpch.tiny; SELECT * FROM
  * customer` reading the default catalog's view (the wrong table,
  * silently). Instead, when the session namespace differs from the
  * configured default, the statement pipeline ([[Statements]])
  * QUALIFIES every unresolved 1/2-part relation of the parsed plan to
  * the session namespace (3-part names resolve as written) with the
  * same scope-aware CTE walk the SQL allowlist uses, then executes the
  * rewritten plan — Trino's resolution order, enforced at parse level.
  */
object UseStatement {

  private val UseRe =
    """(?is)^\s*USE\s+([A-Za-z_]\w*)(?:\s*\.\s*([A-Za-z_]\w*))?\s*$""".r

  /** Some((catalogOpt, schema)) for USE statements. */
  def matchUse(sql: String): Option[(Option[String], String)] = sql match {
    case UseRe(a, null) => Some((None, a))
    case UseRe(a, b) => Some((Some(a), b))
    case _ => None
  }

  /** Validate the target against the (allowlist-filtered) metadata
    * surface and update the engine session. Trino's error texts. */
  def apply(engine: Engine, catalogOpt: Option[String], schema: String):
      Either[String, Unit] = try {
    val meta = new MetadataService(engine)
    val catalog = catalogOpt.getOrElse(engine.sessionCatalog)
    if (!meta.listCatalogs().exists(_.equalsIgnoreCase(catalog)))
      Left(s"Catalog does not exist: $catalog")
    else if (!meta.listSchemas(catalog).exists(_.equalsIgnoreCase(schema)))
      Left(s"Schema does not exist: $catalog.$schema")
    else {
      engine.sessionCatalog = catalog
      engine.sessionSchema = schema
      Right(())
    }
  } catch {
    // same try/catch-to-Left rule as the SHOW routes: a throwing
    // catalog plugin must surface as a tool error, never a crash
    case e: Throwable =>
      Left(s"query execution failed: ${String.valueOf(e.getMessage).take(300)}")
  }

  /** Step 7 of [[Statements]]: one walk over the parsed relations.
    * `[catalog.]information_schema.<t>` becomes its shim view (the flag
    * says whether any did, so the caller refreshes the shims first).
    * Every other name is read as the allowlist gate judged it: a name in
    * the configured `default` namespace by its bare table name (that
    * namespace's tables are session views, which Spark reads only
    * unqualified, as [[MetadataService.schemaOf]] does); with the `session`
    * namespace moved off the default (USE), 1/2-part names qualified to
    * it; any other name as written. */
  def qualify(plan: LogicalPlan, session: (String, String),
      default: (String, String)): (LogicalPlan, Boolean) = {
    def isDefault(c: String, s: String) =
      c.equalsIgnoreCase(default._1) && s.equalsIgnoreCase(default._2)
    val moved = !isDefault(session._1, session._2)
    var shims = false
    val out = mapRelations(plan) { r =>
      InfoSchema.relation(r.multipartIdentifier) match {
        case Some(shim) => shims = true; shim
        case None =>
          val full = r.multipartIdentifier match {
            case Seq(t) => Seq(session._1, session._2, t)
            case Seq(s, t) => Seq(session._1, s, t)
            case parts => parts
          }
          full match {
            case Seq(c, s, t) if isDefault(c, s) => r.copy(multipartIdentifier = Seq(t))
            case _ if moved => r.copy(multipartIdentifier = full)
            case _ => r
          }
      }
    }
    (out, shims)
  }

  /** `plan` with `f` applied to every unresolved relation that is not a
    * CTE name in scope — the scope-aware walk SqlAllowlist uses (a CTE
    * body sees the names defined before it, the main query sees them
    * all), into expression subqueries and EXPLAIN / DESCRIBE QUERY
    * targets. Resolved
    * subtrees (a substituted MATCH_RECOGNIZE result) are left as they
    * are. */
  def mapRelations(plan: LogicalPlan)(f: UnresolvedRelation => LogicalPlan): LogicalPlan = {
    def rew(p: LogicalPlan, scope: Set[String]): LogicalPlan = p match {
      case e: ExplainCommand => e.copy(logicalPlan = rew(e.logicalPlan, scope))
      case d: DescribeQueryCommand => d.copy(plan = rew(d.plan, scope))
      case w: UnresolvedWith =>
        var s = scope
        val newRels = w.cteRelations.map { rel =>
          s = s + rel._1.toLowerCase
          rel.copy(_2 = rew(rel._2, s).asInstanceOf[SubqueryAlias])
        }
        w.copy(child = rew(w.child, s), cteRelations = newRels)
      case _ if p.resolved => p
      case r: UnresolvedRelation =>
        r.multipartIdentifier match {
          case Seq(t) if scope(t.toLowerCase) => r
          case _ => f(r)
        }
      case other =>
        other.mapChildren(rew(_, scope)).transformExpressions {
          case sq: SubqueryExpression => sq.withNewPlan(rew(sq.plan, scope))
        }
    }
    rew(plan, Set.empty)
  }
}
