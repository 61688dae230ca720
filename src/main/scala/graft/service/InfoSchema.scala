package graft.service

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types._

import graft.engine.Engine

/** `information_schema` shim: Trino clients introspect
  * `information_schema.tables` / `information_schema.columns` through
  * the unrestricted query pass-through (reference
  * internal/trino/client.go:284-290 — the remote Trino serves these
  * natively). Spark's session catalog has no such schema, so the
  * statement pipeline ([[Statements]]) renames those relations in the
  * parsed plan to four session temp views rebuilt from `spark.catalog`
  * listings at query time, allowlist-filtered exactly like the metadata
  * tools.
  *
  * The listings are driver-side metadata (bounded by table count, never
  * by data volume), so refresh-per-query is safe at any corpus scale.
  * Supported spellings: `information_schema.tables`, an optional
  * catalog qualifier (`memory.information_schema.columns`), any case,
  * quoted or not. Text elsewhere (string literals, comments) is never
  * touched: only relation names in the parsed tree are.
  */
object InfoSchema {

  val TablesView = "graft_info_schema_tables"
  val ColumnsView = "graft_info_schema_columns"
  val SchemataView = "graft_info_schema_schemata"
  val ViewsView = "graft_info_schema_views"

  private val Views = Map("tables" -> TablesView, "columns" -> ColumnsView,
    "schemata" -> SchemataView, "views" -> ViewsView)

  /** The shim relation a parsed `[catalog.]information_schema.<t>`
    * name stands for (any case, quoted or not), aliased
    * `information_schema.<t>` so column qualifiers written against the
    * Trino name still resolve; None for every other name. */
  def relation(parts: Seq[String]): Option[LogicalPlan] =
    (parts.map(_.toLowerCase) match {
      case Seq(_, "information_schema", t) => Some(t)
      case Seq("information_schema", t) => Some(t)
      case _ => None
    }).flatMap(t => Views.get(t).map(view =>
      SubqueryAlias(AliasIdentifier(t, Seq("information_schema")),
        UnresolvedRelation(Seq(view)))))

  private val tablesSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false)))

  private val columnsSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("ordinal_position", LongType, nullable = false),
    StructField("column_default", StringType, nullable = true),
    StructField("is_nullable", StringType, nullable = false),
    StructField("data_type", StringType, nullable = false)))

  /** Rebuild the four views from the current catalog state (allowlist-
    * filtered via MetadataService — the same trust boundary as
    * list_tables / get_table_schema). */
  def refresh(engine: Engine): Unit = {
    val spark = engine.spark
    val meta = new MetadataService(engine)
    val cat = engine.config.catalog
    val sch = engine.config.schema
    // every allowed catalog contributes its namespaces — the default
    // catalog through the engine's configured (catalog, schema) pair
    // (temp-view namespace), other catalogs (tpch.tiny) through their
    // own listings. table_catalog distinguishes rows, so a consumer
    // filters with WHERE table_catalog = '…' exactly as in Trino.
    // (Divergence kept: Trino scopes information_schema PER catalog;
    // this shim serves one merged relation — DIALECT.md.)
    val namespaces: Seq[(String, String)] =
      (cat, sch) +: meta.listCatalogs().filterNot(_.equalsIgnoreCase(cat))
        .flatMap(c => meta.listSchemas(c).map(s => (c, s)))
    val byNs = namespaces.map { case (c, s) => (c, s, meta.listTables(c, s)) }

    val tRows = byNs.flatMap { case (c, s, tables) =>
      tables.map(t => Row(c, s, t, "BASE TABLE")) }
    spark.createDataFrame(
        spark.sparkContext.parallelize(tRows, 1), tablesSchema)
      .createOrReplaceTempView(TablesView)

    val cRows = byNs.flatMap { case (c, s, tables) =>
      tables.flatMap { t =>
        meta.getTableSchema(c, s, t).toOption.toSeq.flatten.zipWithIndex.map {
          case (col, i) =>
            Row(c, s, t, col("Column").toString, (i + 1).toLong,
              null, "YES", col("Type").toString)
        }
      }
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(cRows, 1), columnsSchema)
      .createOrReplaceTempView(ColumnsView)

    // schemata: allowlist-filtered schema listing (Trino shape:
    // catalog_name, schema_name) across the same catalogs
    val sRows = meta.listSchemas(cat).map(s => Row(cat, s)) ++
      meta.listCatalogs().filterNot(_.equalsIgnoreCase(cat))
        .flatMap(c => meta.listSchemas(c).map(s => Row(c, s)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(sRows, 1), schemataSchema)
      .createOrReplaceTempView(SchemataView)

    // views: no SQL views exist in the embedded catalog (testdata
    // relations surface as BASE TABLEs) — an EMPTY relation with
    // Trino's column shape, not an unsupported-reference error
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 1), viewsSchema)
      .createOrReplaceTempView(ViewsView)
  }

  private val schemataSchema = StructType(Seq(
    StructField("catalog_name", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false)))

  private val viewsSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("view_definition", StringType, nullable = true)))
}
