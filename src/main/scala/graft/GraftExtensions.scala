package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.dialect.TrinoFunctions

/** Spark-standard extension installer: lets any deployment get the
  * Trino dialect shims and graft's native expressions without calling
  * Engine — e.g.
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *
  * Sessions graft builds itself come from [[graft.Sessions]], which
  * installs the same two rules and registers the same functions on the
  * session; this is the integration point for sessions graft does not
  * build itself (notebooks, Spark Connect servers, other apps).
  * Two rules are injected ([[GraftExtensions.injectRules]]); otherwise
  * built-in Catalyst covers the whole promised surface (SURVEY.md §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (TrinoFunctions.shims ++ TrinoFunctions.graftNatives).foreach {
      case (name, builder) =>
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
    }
    GraftExtensions.injectRules(ext)
  }
}

object GraftExtensions {
  /** The dialect's two analyzer rules: Trino's `CAST(timestamp AS
    * TIME)`, which Spark's own cast lacks ([[graft.dialect.TimeCastRule]]),
    * and standard empty-input ROLLUP/CUBE semantics — the () grouping
    * set emits one row over empty input, where Spark emits none
    * ([[graft.dialect.EmptyGroupingSetsRule]]). */
  def injectRules(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => graft.dialect.TimeCastRule)
    ext.injectPostHocResolutionRule(_ => graft.dialect.EmptyGroupingSetsRule)
  }
}
