package graft.service

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.{IdentifierResolution, PlanWithUnresolvedIdentifier}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.{DescribeQueryCommand, ExplainCommand}
import org.apache.spark.sql.graft.ColumnBridge

import graft.dialect.{MatchRecognize, TrinoFunctions}
import graft.engine.Engine
import graft.security.{ReadOnlyGuard, SqlAllowlist}

/** The one "SQL text → DataFrame" pipeline. execute_query's plain path
  * and its SHOW/DESCRIBE forms, EXPLAIN ANALYZE, DESCRIBE OUTPUT, the
  * EXPLAIN statement forms and the explain_query tool all plan their
  * query here, so what is explained is what would run. In order:
  *
  *  1. dialect preprocess, with the type-aware retry below;
  *  2. each `<relation> MATCH_RECOGNIZE (…)` span: its relation planned
  *     by steps 3, 5 and 7, the matcher run over it, the span replaced
  *     by a placeholder relation name;
  *  3. one parse, with constant `IDENTIFIER(…)` names read;
  *  4. each placeholder replaced by its span's plan — no temp view, so
  *     a concurrent listing never sees one;
  *  5. the parsed plan's read-only check ([[ReadOnlyGuard.planDenial]])
  *     and the opt-in SQL allowlist gate;
  *  6. a SHOW/DESCRIBE plan graft answers in Trino's shape
  *     ([[ShowMeta.route]]) becomes that answer, before Spark could run
  *     its own command;
  *  7. otherwise one relation walk ([[UseStatement.qualify]]:
  *     information_schema shims, the default namespace's views, USE
  *     qualification), then analysis.
  */
object Statements {

  /** The statement as a DataFrame, analyzed; a command it holds has
    * run (`Dataset.ofRows` runs commands eagerly). */
  def build(engine: Engine, sql: String): Either[String, DataFrame] =
    statement(engine, sql)(ColumnBridge.ofRows(engine.spark, _))

  /** The statement analyzed but never run: a command it holds (an
    * allowed write included) is planned, not executed. What explain_query
    * and DESCRIBE OUTPUT read. */
  def analyze(engine: Engine, sql: String): Either[String, QueryExecution] =
    statement(engine, sql)(ColumnBridge.analyzed(engine.spark, _))

  private def statement[T](engine: Engine, sql: String)(
      finish: LogicalPlan => T): Either[String, T] = {
    val first = buildWith(engine, sql, TrinoFunctions.PreprocessOpts(), finish)
    first match {
      case Left(err) =>
        // Type-aware retry: two textual forms are ambiguous without
        // types, and their default readings fail analysis with a
        // recognizable signature. Re-preprocess under the alternate
        // reading; if that also fails, surface the FIRST error (it
        // carries the curated workaround text).
        val up = sql.toUpperCase
        val wantSplat = up.contains("UNNEST") && isAliasMismatch(err)
        val wantTies = up.contains("WITH TIES") &&
          (err.contains("UNRESOLVED_COLUMN") ||      // key not projected
            err.contains("MISSING_GROUP_BY"))        // key is an aggregate
        if (!wantSplat && !wantTies) first
        else buildWith(engine, sql, TrinoFunctions.PreprocessOpts(
            unnestRowSplat = wantSplat, tiesInBlock = wantTies), finish)
          .orElse(first)
      case ok => ok
    }
  }

  private def buildWith[T](engine: Engine, sql: String,
      opts: TrinoFunctions.PreprocessOpts,
      finish: LogicalPlan => T): Either[String, T] = {
    // preprocess rejects constructs with no Spark translation (e.g.
    // `time with time zone`) via IllegalArgumentException → clean Left
    val pre =
      try TrinoFunctions.preprocess(sql, opts)
      catch { case e: IllegalArgumentException => return Left(e.getMessage) }
    try {
      val spliced =
        if (!MatchRecognize.contains(pre)) Right((pre, Nil))
        else MatchRecognize.spliceAll(pre, (relation, earlier) =>
          plan(engine, s"SELECT * FROM $relation", earlier)(
              ColumnBridge.ofRows(engine.spark, _))
            .fold(err => throw new IllegalArgumentException(err), identity))
      spliced.flatMap { case (text, spans) => plan(engine, text, spans)(finish) }
    } catch { case e: Throwable => Left(failed(e)) }
  }

  /** Steps 3–7 for preprocessed text whose MATCH_RECOGNIZE spans are
    * placeholders; Left = a write the config does not allow, or an
    * allowlist denial. */
  private def plan[T](engine: Engine, text: String,
      spans: Seq[(String, DataFrame)])(finish: LogicalPlan => T): Either[String, T] = {
    val parsed = named(engine.spark.sessionState.sqlParser.parsePlan(text))
    val byName = spans.toMap
    val substituted =
      if (spans.isEmpty) parsed
      else UseStatement.mapRelations(parsed) { r =>
        r.multipartIdentifier match {
          case Seq(p) if byName.contains(p) =>
            SubqueryAlias(p, byName(p).queryExecution.analyzed)
          case _ => r
        }
      }
    val denied =
      ReadOnlyGuard.planDenial(substituted, engine.config.allowWriteQueries).orElse(
        if (!engine.config.enforceSqlAllowlists) None
        else SqlAllowlist.check(substituted, engine.allowlists,
          engine.sessionCatalog, engine.sessionSchema))
    denied.toLeft(ShowMeta.route(engine, substituted) match {
      case Some(answer) => finish(answer.queryExecution.logical)
      case None =>
        val (resolved, shims) = UseStatement.qualify(substituted,
          (engine.sessionCatalog, engine.sessionSchema),
          (engine.config.catalog, engine.config.schema))
        if (shims) InfoSchema.withShims(engine)(finish(resolved))
        else finish(resolved)
    })
  }

  /** `plan` with each `IDENTIFIER(<constant>)` clause replaced by the plan
    * its name builds, as Spark's analyzer would replace it, so that the
    * gate, the routes and USE qualification see the name itself. */
  private def named(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case i: PlanWithUnresolvedIdentifier if i.identifierExpr.foldable =>
      i.planBuilder(IdentifierResolution.evalIdentifierExpr(i.identifierExpr), i.children)
    case e: ExplainCommand => e.copy(logicalPlan = named(e.logicalPlan))
    case d: DescribeQueryCommand => d.copy(plan = named(d.plan))
  }

  /** The tool-error text for a failed statement. */
  def failed(e: Throwable): String = s"query execution failed: ${clip(e)}"

  private def isAliasMismatch(m: String): Boolean =
    m.contains("UDTF_ALIAS_NUMBER_MISMATCH") ||
      (m.contains("number of aliases") && m.contains("explode"))

  private def clip(e: Throwable): String = {
    val m0 = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    // UNNEST(array_of_2_field_rows) AS t(a, b) is textually ambiguous
    // with UNNEST(map) — the dialect routes 2 aliases to explode()
    // first and build retries the inline() reading when that fails
    // analysis. Reaching THIS message means both readings failed (e.g.
    // the element row has ≠2 fields); name the workaround.
    val m =
      if (isAliasMismatch(m0))
        m0 + " — UNNEST with two aliases takes a MAP or an " +
          "ARRAY(ROW(a, b)) (both readings were tried); for other " +
          "element shapes select the row fields instead: CROSS JOIN " +
          "UNNEST(x) AS t(r) then r.a, r.b"
      else m0
    if (m.length > 800) m.take(800) + "…" else m
  }
}
