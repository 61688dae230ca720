package graft.service

import org.apache.spark.sql.graft.CatalogBridge
import org.apache.spark.sql.types._

import graft.engine.Engine
import graft.security.Allowlists

/** Metadata surface: list_catalogs / list_schemas / list_tables /
  * get_table_schema with allowlist filtering and Trino-style type
  * names, mirroring reference internal/trino/client.go:635-769 over
  * Spark's catalog. The listings are plain catalog reads
  * ([[CatalogBridge]]): the names, order and errors of `SHOW CATALOGS`
  * / `SHOW NAMESPACES` / `SHOW TABLES`, without a SQL execution.
  *
  * Namespace mapping: the engine's registered parquet views are session
  * temp views, addressed as `<defaultCatalog>.<defaultSchema>.<name>`
  * (the embedded equivalent of the reference's memory.default).
  */
class MetadataService(engine: Engine) {
  import MetadataService.quote

  private def cfg = engine.config
  private def spark = engine.spark

  /** Catalog names, allowlist-filtered (client.go:635-659). */
  def listCatalogs(): Seq[String] =
    engine.allowlists.filterCatalogs(CatalogBridge.catalogs(spark))

  /** Schema names in catalog c, filtered (client.go:662-691). A name
    * that is no catalog keeps Spark's own reading (a namespace of the
    * current catalog) and its error text, through the statement. */
  def listSchemas(catalog: String): Seq[String] = {
    val c = if (catalog.isEmpty) engine.sessionCatalog else catalog
    val schemas = CatalogBridge.catalog(spark, c) match {
      case Some(plugin) => CatalogBridge.namespaces(plugin)
      case None => spark.sql(s"SHOW NAMESPACES IN ${quote(c)}")
        .collect().map(_.getString(0)).toSeq
    }
    engine.allowlists.filterSchemas(schemas, c)
  }

  /** Table names in c.s (plus session temp views when targeting the
    * default namespace), filtered (client.go:694-726). */
  def listTables(catalog: String, schema: String): Seq[String] = {
    val c = if (catalog.isEmpty) engine.sessionCatalog else catalog
    val s = if (schema.isEmpty) engine.sessionSchema else schema
    val tables = CatalogBridge.catalog(spark, c) match {
      case Some(plugin) => CatalogBridge.tables(spark, plugin, s)
      case None => spark.sql(s"SHOW TABLES IN ${quote(c)}.${quote(s)}")
        .collect().toSeq.map(r => (r.getString(1), r.getBoolean(2)))
    }
    // temp views belong to the engine's default namespace
    val names = tables.flatMap { case (name, isTemp) =>
      // graft_src_* are the engine's internal per-directory relation
      // caches (Tables.load) — implementation detail, not user tables
      if (name.startsWith("graft_src_")) None
      else if (!isTemp || (c.equalsIgnoreCase(cfg.catalog) && s.equalsIgnoreCase(cfg.schema)))
        Some(name)
      else None
    }.distinct.sorted
    engine.allowlists.filterTables(names, c, s)
  }

  /** Resolve 3/2/1-part name, enforce the table allowlist AFTER
    * resolution, then describe with Trino-style type names
    * (client.go:729-769; shape of reference docs/tools.md:113-157). */
  def getTableSchema(catalog: String, schema: String, table: String):
      Either[String, Seq[Map[String, Any]]] = {
    val (c, s, t) = Allowlists.resolveTable(catalog, schema, table,
      engine.sessionCatalog, engine.sessionSchema)
    engine.allowlists.tableAccessError(c, s, t) match {
      case Some(err) => Left(err)
      case None =>
        try {
          Right(MetadataService.schemaOf(engine, c, s, t).fields.toSeq.map(f =>
            scala.collection.immutable.ListMap[String, Any](
              "Column" -> f.name,
              "Type" -> TypeNames.trino(f.dataType),
              "Extra" -> "",
              "Comment" -> "")))
        } catch {
          case e: Throwable =>
            Left(s"failed to get table schema: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(2).mkString(" ")}")
        }
    }
  }
}

object MetadataService {

  private[service] def quote(ident: String): String = s"`${ident.replace("`", "``")}`"

  /** catalog.schema.table's stored name and columns, from the catalog
    * alone (no parse, analysis or Dataset): the configured default
    * namespace's tables are session views, read by their bare name; any
    * other namespace is read from its own catalog. A name the catalog
    * does not hold throws Spark's error for it. */
  def relation(engine: Engine, catalog: String, schema: String, table: String): (String, StructType) = {
    val cfg = engine.config
    CatalogBridge.relation(engine.spark,
      if (catalog.equalsIgnoreCase(cfg.catalog) && schema.equalsIgnoreCase(cfg.schema)) Seq(table)
      else Seq(catalog, schema, table))
  }

  /** The columns of catalog.schema.table ([[relation]]). */
  def schemaOf(engine: Engine, catalog: String, schema: String, table: String): StructType =
    relation(engine, catalog, schema, table)._2
}

/** Spark → Trino type-name mapping (reference docs/tools.md:117-155
  * shows bigint/varchar/double; full lattice per public Trino docs). */
object TypeNames {
  def trino(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case StringType => "varchar"
    case BinaryType => "varbinary"
    case DateType => "date"
    case TimestampType => "timestamp(6)"
    case TimestampNTZType => "timestamp(6)"
    case t: TimeType => s"time(${t.precision})"
    case _: YearMonthIntervalType => "interval year to month"
    case _: DayTimeIntervalType => "interval day to second"
    case ArrayType(e, _) => s"array(${trino(e)})"
    case MapType(k, v, _) => s"map(${trino(k)}, ${trino(v)})"
    case StructType(fields) =>
      fields.map(f => s"${f.name} ${trino(f.dataType)}").mkString("row(", ", ", ")")
    case NullType => "unknown"
    case other => other.simpleString
  }
}
