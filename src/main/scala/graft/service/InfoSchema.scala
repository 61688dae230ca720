package graft.service

import org.apache.spark.sql.{Row, SparkSession}
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
  * parsed plan to four session temp views over driver-side rows
  * (one-partition RDDs) listed from the catalogs at query time,
  * allowlist-filtered exactly like the metadata tools.
  *
  * The listings are catalog reads (bounded by table count, never by
  * data volume, and starting no SQL execution), so listing per query is
  * safe at any corpus scale; only a change re-registers a view.
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

  /** `body` (the analysis of a statement that reads the shims) with
    * the four views holding the current catalog state, allowlist-
    * filtered via MetadataService — the same trust boundary as
    * list_tables / get_table_schema. The catalog is listed on every
    * call, so no listing is stale; a view is re-registered only when its
    * rows differ from the rows last published to this session. The lock
    * spans the analysis, so a concurrent statement of an engine with
    * other allowlists cannot swap the views under this one. */
  def withShims[T](engine: Engine)(body: => T): T = {
    val spark = engine.spark
    val rows = current(engine)
    published.synchronized {
      val last = published.computeIfAbsent(spark, _ => new java.util.HashMap)
      rows.foreach { case (view, (schema, viewRows)) =>
        if (last.get(view) != viewRows ||
            spark.sessionState.catalog.getRawTempView(view).isEmpty) {
          // one partition whose row count the optimizer cannot read:
          // over a LocalRelation it drops the row cap's limit, and an
          // ORDER BY then plans a range exchange (3 jobs, not 1)
          spark.createDataFrame(spark.sparkContext.parallelize(viewRows, 1), schema)
            .createOrReplaceTempView(view)
          last.put(view, viewRows)
        }
      }
      body
    }
  }

  /** Per session: each view's rows as last registered. */
  private val published =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, Seq[Row]]]()

  /** Each view's schema and rows for the current catalog state; every
    * listing is read once. */
  private def current(engine: Engine): Seq[(String, (StructType, Seq[Row]))] = {
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
    val others = meta.listCatalogs().filterNot(_.equalsIgnoreCase(cat))
      .flatMap(c => meta.listSchemas(c).map(s => (c, s)))
    val byNs = ((cat, sch) +: others).map { case (c, s) => (c, s, meta.listTables(c, s)) }

    val tRows = byNs.flatMap { case (c, s, tables) =>
      tables.map(t => Row(c, s, t, "BASE TABLE")) }

    val cRows = for {
      (c, s, tables) <- byNs; t <- tables
      (col, i) <- meta.getTableSchema(c, s, t).getOrElse(Nil).zipWithIndex
    } yield Row(c, s, t, col("Column"), (i + 1).toLong, null, "YES", col("Type"))

    // schemata: allowlist-filtered schema listing (Trino shape:
    // catalog_name, schema_name) across the same catalogs
    val sRows = (meta.listSchemas(cat).map(s => (cat, s)) ++ others)
      .map { case (c, s) => Row(c, s) }

    // views: no SQL views exist in the embedded catalog (testdata
    // relations surface as BASE TABLEs) — an EMPTY relation with
    // Trino's column shape, not an unsupported-reference error
    Seq(TablesView -> (tablesSchema, tRows), ColumnsView -> (columnsSchema, cRows),
      SchemataView -> (schemataSchema, sRows), ViewsView -> (viewsSchema, Nil))
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
