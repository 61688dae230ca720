package graft.service

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Engine

/** `SHOW STATS FOR <table>` — Trino's table-statistics surface, which
  * the reference serves by pass-through (any Trino client can issue it
  * via execute_query). Spark's SHOW has no STATS form, so the service
  * computes the statistics directly, in Trino's exact output shape: one
  * row per column — (column_name, data_size, distinct_values_count,
  * nulls_fraction, NULL, low_value, high_value) — plus the summary row
  * (NULL, ..., row_count, NULL, NULL). All stats are DOUBLE like
  * Trino's; data_size only for varchar columns (total bytes), low/high
  * only for numeric/date/timestamp/boolean columns, rendered as text.
  *
  * ONE aggregation pass over the table computes every metric (count +
  * per-column approx ndv / null count / min / max / byte size), then
  * the single result row is pivoted into the per-column shape on the
  * driver — column-count-sized, never data-sized.
  */
object ShowStats {

  private val Pattern =
    """(?is)^\s*SHOW\s+STATS\s+FOR(?:\s*\((.*)\)|\s+([A-Za-z_][\w.]*))\s*$""".r

  /** Some(query) whose statistics the SQL asks for: the inner query of
    * Trino's `SHOW STATS FOR (SELECT ...)`, or `SELECT * FROM t` for
    * `SHOW STATS FOR t`. QueryService plans it through the SAME
    * dialect/allowlist/info_schema pipeline as a standalone query, then
    * the one-pass aggregation below runs over the derived relation. */
  def matchStats(sql: String): Option[String] = sql match {
    case Pattern(q, null) => Some(q.trim)
    case Pattern(null, t) => Some(s"SELECT * FROM $t")
    case _ => None
  }

  def forDataFrame(engine: Engine, df: DataFrame): DataFrame = {
    val cols = df.schema.fields

    def isNumericish(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           BooleanType => true
      case _ => false
    }
    def isText(dt: DataType): Boolean = dt match {
      case StringType => true
      case _ => false
    }
    def countable(dt: DataType): Boolean = isNumericish(dt) || isText(dt) ||
      dt.isInstanceOf[BinaryType]

    val aggs = Seq(count(lit(1)).cast("double").as("__n")) ++ cols.flatMap { f =>
      val c = col(s"`${f.name}`")
      val base = Seq(
        sum(isnull(c).cast("long")).cast("double").as(s"__nulls_${f.name}")) ++
        (if (countable(f.dataType))
          Seq(approx_count_distinct(c).cast("double").as(s"__ndv_${f.name}"))
        else Nil) ++
        (if (isNumericish(f.dataType))
          Seq(min(c).cast("string").as(s"__min_${f.name}"),
            max(c).cast("string").as(s"__max_${f.name}"))
        else Nil) ++
        (if (isText(f.dataType))
          Seq(sum(octet_length(c)).cast("double").as(s"__size_${f.name}"))
        else Nil)
      base
    }
    val rowAgg = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def get(name: String): Any =
      if (rowAgg.schema.fieldNames.contains(name)) rowAgg.getAs[Any](name) else null
    val n = rowAgg.getAs[Double]("__n")

    val out = cols.map { f =>
      val nulls = Option(get(s"__nulls_${f.name}")).map(_.asInstanceOf[Double])
      val fraction: Any = nulls
        .map(nn => Double.box(if (n == 0.0) 0.0 else nn / n)).orNull
      Row(f.name,
        get(s"__size_${f.name}"),
        get(s"__ndv_${f.name}"),
        fraction,
        null,
        get(s"__min_${f.name}"),
        get(s"__max_${f.name}"))
    } :+ Row(null, null, null, null, Double.box(n), null, null)

    val schema = StructType(Seq(
      StructField("column_name", StringType),
      StructField("data_size", DoubleType),
      StructField("distinct_values_count", DoubleType),
      StructField("nulls_fraction", DoubleType),
      StructField("row_count", DoubleType),
      StructField("low_value", StringType),
      StructField("high_value", StringType)))
    ShowMeta.frame(engine, schema, out.toSeq)
  }
}
