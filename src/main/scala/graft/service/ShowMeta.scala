package graft.service

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.plans.logical.{DescribeRelation, LogicalPlan, ShowColumns, ShowCreateTable, ShowFunctions, ShowTables, ShowTablesExtended, ShowViews}
import org.apache.spark.sql.execution.command.{ShowCatalogsCommand, ShowNamespacesCommand}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.Engine
import graft.security.SqlAllowlist

/** Trino's SHOW / DESCRIBE statements, in Trino's output shapes. Spark's
  * parser reads most of them, but its own answers have other columns
  * (`catalog`; `namespace`; `namespace, tableName, isTemporary`;
  * `col_name, data_type, comment`; a one-column function list) or do not
  * work on this engine's temp-view-backed tables (SHOW CREATE TABLE). So
  * [[route]] answers the plan Spark's parser built, after the statement
  * pipeline ([[Statements]]) has gated it: however the statement is
  * spelled, one parse decides what it is. Listings come from the
  * allowlist-filtered metadata surface, so they equal the MCP tools'.
  *
  * SHOW VIEWS and SHOW TABLE EXTENDED keep Spark's own columns, but
  * only the rows of the names the metadata surface lists in their
  * namespace: Spark's answer lists every session temp view in every
  * namespace, the engine's internal `graft_src_*` relations included.
  *
  * Two forms Spark's grammar lacks stay text rules: `SHOW COLUMNS FROM t
  * LIKE 'p'` (planned as `SHOW COLUMNS FROM t`, then filtered) and `SHOW
  * SESSION`, the engine's live session properties in Trino's five-column
  * shape (Name, Value, Default, Type, Description).
  *
  * SHOW CREATE TABLE renders the single-column ("Create Table") DDL row
  * Trino emits, with Trino type names from the same mapper DESCRIBE
  * uses — so DESCRIBE, typeof() and SHOW CREATE TABLE always agree.
  */
object ShowMeta {

  /** Graft's answer to a parsed, gated SHOW/DESCRIBE plan; None for every
    * other statement, Spark-only spellings included (DESCRIBE EXTENDED,
    * DESCRIBE QUERY, SHOW CREATE TABLE … AS SERDE, SHOW SCHEMAS of a
    * multi-part namespace, SHOW FUNCTIONS FROM ns),
    * which Spark answers itself. */
  def route(engine: Engine, plan: LogicalPlan): Option[DataFrame] = plan match {
    case ShowCatalogsCommand(like) => Some(catalogs(engine, like))
    case ShowNamespacesCommand(ns, like, _) if SqlAllowlist.namespace(ns).length <= 1 =>
      Some(schemas(engine, SqlAllowlist.namespace(ns).headOption, like))
    case ShowTables(ns, like, _) => Some(tables(engine, SqlAllowlist.namespace(ns), like))
    case ShowViews(ns, _, _) => Some(listedOnly(engine, plan, SqlAllowlist.namespace(ns)))
    case ShowTablesExtended(ns, _, _) =>
      Some(listedOnly(engine, plan, SqlAllowlist.namespace(ns)))
    case DescribeRelation(UnresolvedTableOrView(t, _, _), spec, false, _) if spec.isEmpty =>
      Some(describeTable(engine, t))
    case ShowColumns(UnresolvedTableOrView(t, _, _), None, _) => Some(describeTable(engine, t))
    case ShowCreateTable(UnresolvedTableOrView(t, _, _), false, _) => Some(createTable(engine, t))
    case ShowFunctions(CurrentNamespace, true, true, like, _) =>
      Some(graft.service.ShowFunctions.functions(engine, like))
    case _ => None
  }

  private val SessionPat =
    """(?is)^\s*SHOW\s+SESSION(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  private val ColumnsLikePat =
    """(?is)^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([A-Za-z_][\w.]*)\s+LIKE\s+'([^']*)'\s*$""".r

  /** Some((`SHOW COLUMNS FROM t`, pattern)) for Trino's `SHOW COLUMNS
    * FROM|IN t LIKE 'p'`: the statement to plan, and the SQL LIKE
    * pattern its Column values must match. */
  def matchColumnsLike(sql: String): Option[(String, String)] = sql match {
    case ColumnsLikePat(t, p) => Some((s"SHOW COLUMNS FROM $t", p))
    case _ => None
  }

  /** The rows of `df` whose first column matches SQL LIKE `pattern`. */
  def filterLike(df: DataFrame, pattern: String): DataFrame = {
    val rx = likeToRegex(pattern)
    df.filter((r: Row) => r.getString(0).matches(rx))
  }

  def catalogs(engine: Engine, like: Option[String]): DataFrame =
    listing(engine, "Catalog",
      new MetadataService(engine).listCatalogs(), like)

  def schemas(engine: Engine, catalog: Option[String],
      like: Option[String]): DataFrame =
    listing(engine, "Schema",
      new MetadataService(engine).listSchemas(catalog.getOrElse("")), like)

  /** The tables of namespace `ns` (`s` or `c.s…`; empty for the
    * session's). */
  def tables(engine: Engine, ns: Seq[String], like: Option[String]): DataFrame = {
    val (c, s) = catalogSchema(ns)
    listing(engine, "Table",
      new MetadataService(engine).listTables(c, s), like)
  }

  /** Spark's answer to `plan`, a listing of namespace `ns` whose second
    * column is a table name, keeping the rows of the names
    * [[MetadataService.listTables]] lists there. */
  private def listedOnly(engine: Engine, plan: LogicalPlan,
      ns: Seq[String]): DataFrame = {
    val answer = ColumnBridge.ofRows(engine.spark, plan)
    val (c, s) = catalogSchema(ns)
    val listed = new MetadataService(engine).listTables(c, s).toSet
    frame(engine, answer.schema,
      answer.collect().toSeq.filter(r => listed(r.getString(1))))
  }

  /** (catalog, schema) of a parsed namespace (`s` or `c.s…`); empty
    * parts mean the session's. */
  private def catalogSchema(ns: Seq[String]): (String, String) = ns match {
    case Seq() => ("", "")
    case Seq(s1) => ("", s1)
    case _ => (ns.head, ns.tail.mkString("."))
  }

  private def listing(engine: Engine, colName: String, names: Seq[String],
      like: Option[String]): DataFrame =
    frame(engine, strings(colName), matching(names, like)(identity).map(Row(_)))

  /** Some(pattern Option) when the SQL is SHOW SESSION [LIKE '...'];
    * the pattern uses SQL LIKE wildcards (% and _) against Name. */
  def matchSession(sql: String): Option[Option[String]] = sql match {
    case SessionPat(p) => Some(Option(p))
    case _ => None
  }

  /** `rows` under `schema`, as a DataFrame over a local relation. */
  private[service] def frame(engine: Engine, schema: StructType, rows: Seq[Row]): DataFrame =
    engine.spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)

  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType)))

  /** SQL LIKE → regex: % = .*, _ = ., everything else literal. */
  private def likeToRegex(p: String): String = p.flatMap {
    case '%' => ".*"
    case '_' => "."
    case c => java.util.regex.Pattern.quote(c.toString)
  }

  /** The `xs` whose key matches SQL LIKE `like`; all of them without one. */
  private[service] def matching[A](xs: Seq[A], like: Option[String])(key: A => String): Seq[A] =
    like.fold(xs) { p =>
      val rx = likeToRegex(p)
      xs.filter(x => key(x).matches(rx))
    }

  /** (catalog, schema, table) of a parsed name in this session: the
    * reading the SQL allowlist judged. */
  private def resolve(engine: Engine, name: Seq[String]): (String, String, String) =
    SqlAllowlist.qualified(name, engine.sessionCatalog, engine.sessionSchema)

  /** Trino's SHOW CREATE TABLE: the table under the name its catalog
    * stores (`region` for `REGION`), with Trino type names. */
  def createTable(engine: Engine, name: Seq[String]): DataFrame = {
    val (c, s, t) = resolve(engine, name)
    val (stored, schema) = MetadataService.relation(engine, c, s, t)
    val cols = schema.fields
      .map(f => s"   ${f.name} ${TypeNames.trino(f.dataType)}")
      .mkString(",\n")
    val ddl = s"CREATE TABLE $c.$s.$stored (\n$cols\n)"
    frame(engine, strings("Create Table"), Seq(Row(ddl)))
  }

  /** Trino's DESCRIBE shape (Column, Type, Extra, Comment) — the same
    * four columns the reference's get_table_schema renders (the
    * reference itself issues `DESCRIBE c.s.t` to Trino,
    * client.go:767), so the tool and the statement always agree. */
  def describeTable(engine: Engine, name: Seq[String]): DataFrame = {
    val (c, s, t) = resolve(engine, name)
    val rows = MetadataService.schemaOf(engine, c, s, t).fields.toSeq
      .map(f => Row(f.name, TypeNames.trino(f.dataType), "", ""))
    frame(engine, strings("Column", "Type", "Extra", "Comment"), rows)
  }

  def session(engine: Engine, like: Option[String] = None): DataFrame = {
    val cfg = engine.config
    def row(n: String, v: String, d: String, t: String, desc: String) =
      Row(n, v, d, t, desc)
    val rows = Seq(
      row("catalog", engine.sessionCatalog, "spark_catalog", "varchar",
        "Default catalog for unqualified table names"),
      row("schema", engine.sessionSchema, "default", "varchar",
        "Default schema for unqualified table names"),
      // live values (SET SESSION updates these; Default stays the
      // engine-config seed RESET SESSION restores)
      row("query_timeout_seconds", engine.sessionQueryTimeoutSeconds.toString,
        cfg.queryTimeoutSeconds.toString, "integer",
        "Per-query wall-clock timeout (job group cancelled on deadline)"),
      row("max_result_rows", engine.sessionMaxResultRows.toString,
        cfg.maxResultRows.toString, "integer",
        "Row cap on collected results (truncated flag set when clipped)"),
      row("allow_write_queries", cfg.allowWriteQueries.toString, "false",
        "boolean", "Disable the read-only SQL guard"),
      row("enforce_sql_allowlists", cfg.enforceSqlAllowlists.toString,
        "false", "boolean",
        "Apply catalog/schema/table allowlists to relations inside SQL"))
    frame(engine, strings("Name", "Value", "Default", "Type", "Description"),
      matching(rows, like)(_.getString(0)))
  }
}
