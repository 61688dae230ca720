package graft.service

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

import graft.dialect.FunctionCatalog
import graft.engine.Engine

/** `SHOW FUNCTIONS [LIKE 'pattern']` ([[ShowMeta.route]]) — the
  * discovery statement a Trino client runs first against a 200-name
  * dialect surface. The reference serves it by pass-through (allowed
  * `show` prefix, `internal/trino/client.go:287`); Spark's own SHOW FUNCTIONS lists
  * Spark names in a one-column shape, so this engine serves the
  * dialect surface from [[FunctionCatalog]] in Trino's six-column
  * shape: function_name, return_type, argument_types, function_type,
  * deterministic, description — one row per callable overload, ordered
  * by (function_name, argument_types) like Trino's output.
  *
  * Spark's builtin functions remain callable too (the dialect layer
  * only overrides divergent names); `DIALECT.md` documents that split.
  */
object ShowFunctions {

  def functions(engine: Engine, like: Option[String] = None): DataFrame = {
    val all = FunctionCatalog.entries
      .sortBy(e => (e.name, e.argumentTypes))
      .map(e => Row(e.name, e.returnType, e.argumentTypes, e.functionType,
        e.deterministic, e.description))
    val schema = StructType(Seq(
      StructField("function_name", StringType),
      StructField("return_type", StringType),
      StructField("argument_types", StringType),
      StructField("function_type", StringType),
      StructField("deterministic", BooleanType),
      StructField("description", StringType)))
    ShowMeta.frame(engine, schema, ShowMeta.matching(all, like)(_.getString(0)))
  }
}
