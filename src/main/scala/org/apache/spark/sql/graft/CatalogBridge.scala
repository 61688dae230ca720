package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.connector.catalog.{CatalogNotFoundException, CatalogPlugin, CatalogV2Util, LookupCatalog, V1Table}
import org.apache.spark.sql.connector.catalog.CatalogV2Implicits._
import org.apache.spark.sql.types.StructType

/** Direct reads of a session's catalogs: the names `SHOW CATALOGS`,
  * `SHOW NAMESPACES IN c` and `SHOW TABLES IN c.s` list, and a table's
  * stored name and columns, read from the
  * [[org.apache.spark.sql.connector.catalog.CatalogManager]] without
  * starting a SQL execution (no parse, analysis, planning or listener
  * events). `CatalogV2Implicits`, `CatalogV2Util` and `LookupCatalog`
  * are private[sql]; this subpackage is how graft reaches them. */
object CatalogBridge {

  /** SHOW CATALOGS: the catalogs loaded so far, sorted. */
  def catalogs(spark: SparkSession): Seq[String] =
    spark.sessionState.catalogManager.listCatalogs(None)

  /** The catalog `name` denotes, or None when Spark would read `name`
    * as a namespace of the current catalog instead (it names no
    * configured catalog). */
  def catalog(spark: SparkSession, name: String): Option[CatalogPlugin] =
    try Some(spark.sessionState.catalogManager.catalog(name))
    catch { case _: CatalogNotFoundException => None }

  /** SHOW NAMESPACES IN `catalog`: its top-level namespaces, each
    * quoted the way that statement quotes it. */
  def namespaces(catalog: CatalogPlugin): Seq[String] =
    catalog.asNamespaceCatalog.listNamespaces().toSeq.map(_.quoted)

  /** SHOW TABLES IN `catalog`.`schema`: (name, isTemporary) per table.
    * The session catalog lists its temp views with its tables. */
  def tables(spark: SparkSession, catalog: CatalogPlugin,
      schema: String): Seq[(String, Boolean)] =
    if (CatalogV2Util.isSessionCatalog(catalog)) {
      val session = spark.sessionState.catalog
      session.listTables(schema).map(t => (t.table, session.isTempView(t)))
    } else
      catalog.asTableCatalog.listTables(Array(schema)).toSeq.map(t => (t.name, false))

  /** The relation `parts` names, from the catalogs alone: its name as
    * its catalog stores it, and its columns as the analyzer outputs
    * them. A 1-part name's session temp view gives the name and schema
    * stored with it; else the table the analyzer's own lookup loads (a
    * case-insensitive catalog's stored name is the one it lists),
    * CHAR/VARCHAR read as STRING. A name no catalog holds throws the
    * analyzer's error for it. */
  def relation(spark: SparkSession, parts: Seq[String]): (String, StructType) = {
    val lookup = new LookupCatalog {
      override protected val catalogManager = spark.sessionState.catalogManager
    }
    val lookup.CatalogAndIdentifier(catalog, ident) = parts
    def listedName = {
      val listed = catalog.asTableCatalog.listTables(ident.namespace).map(_.name)
      if (listed.contains(ident.name)) ident.name
      else listed.find(_.equalsIgnoreCase(ident.name)).getOrElse(ident.name)
    }
    Some(parts).collect { case Seq(t) => t }.flatMap(spark.sessionState.catalog.getRawTempView)
      .map(v => (v.tableMeta.identifier.table, v.tableMeta.schema))
      .orElse(CatalogV2Util.loadTable(catalog, ident, None, None).map { t =>
        val name = t match {
          case v1: V1Table => v1.catalogTable.identifier.table
          case _ => listedName
        }
        (name, CatalogV2Util.v2ColumnsToStructType(t.columns))
      })
      .map { case (name, schema) => (name, CharVarcharUtils.replaceCharVarcharWithStringInSchema(schema)) }
      .getOrElse {
        spark.sessionState.analyzer.checkAnalysis(UnresolvedRelation(parts))
        throw new IllegalStateException(s"${parts.quoted} is missing, yet passed analysis")
      }
  }
}
