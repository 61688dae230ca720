package graft.service

import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.engine.Engine
import graft.security.ReadOnlyGuard

/** explain_query: the reference forwards EXPLAIN (TYPE
  * LOGICAL|DISTRIBUTED|VALIDATE|IO) to Trino and rejects other formats
  * (reference internal/trino/client.go:772-791). Spark mapping
  * (SURVEY.md §4.2):
  *   - default / DISTRIBUTED → formatted physical plan (stages +
  *     exchanges are the distributed structure)
  *   - LOGICAL → optimized logical plan
  *   - VALIDATE → analyze only; one row {"Valid": true}
  *   - IO → walk the physical plan's FileSourceScanExec leaves: files,
  *     pushed filters, read schema (what Trino's IO plan reports as
  *     table/column access)
  * Output shape mirrors Trino's EXPLAIN result: rows with a single
  * "Query Plan" column (docs/tools.md:176-197 renders that text).
  */
class ExplainService(engine: Engine) {

  def explain(query: String, format: String): Either[String, Seq[Map[String, Any]]] = {
    val f = format.trim.toUpperCase
    if (f.nonEmpty && !Set("LOGICAL", "DISTRIBUTED", "VALIDATE", "IO")(f))
      return Left(s"""invalid EXPLAIN format: "$format" (allowed: LOGICAL, DISTRIBUTED, VALIDATE, IO)""")

    val stripped = ReadOnlyGuard.stripTrailingSemicolon(query)
    // EXPLAIN goes through the guard too ("explain" is an allowed
    // prefix, client.go:288) — the target query must itself be read-only.
    ReadOnlyGuard.denial(stripped, engine.config.allowWriteQueries)
      .foreach(err => return Left(err))

    // the plan execute_query would run (one statement pipeline), never
    // run itself, then rendered in the requested format
    Statements.analyze(engine, stripped).flatMap { qe =>
      try Right(Seq(render(qe, f)))
      catch { case e: Throwable =>
        Left(s"query explanation failed: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")}")
      }
    }
  }

  private def render(qe: QueryExecution, f: String): Map[String, Any] = f match {
    // analysis already passed (the pipeline analyzes eagerly)
    case "VALIDATE" => Map("Valid" -> true)
    case "LOGICAL" => Map("Query Plan" -> qe.optimizedPlan.treeString)
    case "IO" =>
      val scans = collectScans(qe.executedPlan)
      Map("Query Plan" -> (if (scans.isEmpty) "no file sources"
      else scans.map {
        case f: FileSourceScanExec =>
          val md = f.metadata
          s"Scan ${f.tableIdentifier.map(_.toString).getOrElse(f.nodeName)}\n" +
            s"  Location: ${md.getOrElse("Location", "?")}\n" +
            s"  ReadSchema: ${md.getOrElse("ReadSchema", "?")}\n" +
            s"  PushedFilters: ${md.getOrElse("PushedFilters", "[]")}\n" +
            s"  PartitionFilters: ${md.getOrElse("PartitionFilters", "[]")}"
        case b: BatchScanExec =>
          // V2 sources (the tpch.tiny catalog): the scan's own
          // description carries table + pruned columns
          s"Scan ${b.scan.description()}\n" +
            s"  ReadSchema: ${b.scan.readSchema().simpleString}"
        case other => s"Scan ${other.nodeName}"
      }.mkString("\n")))
    case _ => // "" or DISTRIBUTED
      Map("Query Plan" -> qe.explainString(FormattedMode))
  }

  /** File + V2 batch scans in the physical plan, descending into
    * AdaptiveSparkPlanExec (whose inner plan is not a TreeNode child —
    * a plain collect sees no scans once AQE wraps the query). */
  private def collectScans(plan: SparkPlan): Seq[SparkPlan] =
    plan.collect {
      case a: AdaptiveSparkPlanExec => collectScans(a.inputPlan)
      case f: FileSourceScanExec => Seq(f)
      case b: BatchScanExec => Seq(b)
    }.flatten
}
