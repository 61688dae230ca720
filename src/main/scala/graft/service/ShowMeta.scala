package graft.service

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.Engine
import graft.security.Allowlists

/** `SHOW CREATE TABLE t` and `SHOW SESSION` — two more statements the
  * reference serves by Trino pass-through that Spark cannot serve for
  * this engine's relations (temp-view-backed tables reject Spark's own
  * SHOW CREATE TABLE; SHOW SESSION does not exist in Spark SQL).
  *
  * SHOW CREATE TABLE renders the single-column ("Create Table") DDL row
  * Trino emits, with Trino type names from the same mapper DESCRIBE
  * uses — so DESCRIBE, typeof() and SHOW CREATE TABLE always agree.
  * SHOW SESSION lists the engine's live session properties in Trino's
  * five-column shape (Name, Value, Default, Type, Description).
  */
object ShowMeta {

  private val CreatePat =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*$""".r
  private val SessionPat =
    """(?is)^\s*SHOW\s+SESSION(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  // DESCRIBE t / DESC t and Trino's synonym SHOW COLUMNS FROM|IN t
  // [LIKE '...']. Single-identifier target only, so Spark's own
  // DESCRIBE FUNCTION / DESCRIBE QUERY / DESCRIBE EXTENDED forms still
  // pass through to spark.sql untouched.
  private val DescribePat =
    """(?is)^\s*(?:DESC|DESCRIBE)\s+([A-Za-z_][\w.]*)\s*$""".r
  private val ColumnsPat =
    """(?is)^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([A-Za-z_][\w.]*)(?:\s+LIKE\s+'([^']*)')?\s*$""".r

  def matchCreateTable(sql: String): Option[String] = sql match {
    case CreatePat(t) => Some(t)
    case _ => None
  }

  /** Some((table, like-pattern Option)) for DESCRIBE t / DESC t /
    * SHOW COLUMNS FROM t [LIKE '...'] — the statement spellings Trino
    * treats as synonyms (all emit Column/Type/Extra/Comment). */
  def matchDescribe(sql: String): Option[(String, Option[String])] = sql match {
    case DescribePat(t) => Some((t, None))
    case ColumnsPat(t, p) => Some((t, Option(p)))
    case _ => None
  }

  // Trino's listing statements: single-column shapes (Catalog / Schema
  // / Table) where Spark's own SHOW CATALOGS/SCHEMAS/TABLES emit
  // different columns (catalog; namespace; namespace+tableName+
  // isTemporary) — so execute_query must intercept and serve the
  // Trino shape from the allowlist-filtered metadata surface.
  private val CatalogsPat =
    """(?is)^\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  private val SchemasPat =
    """(?is)^\s*SHOW\s+SCHEMAS(?:\s+(?:FROM|IN)\s+([A-Za-z_]\w*))?(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  private val TablesPat =
    """(?is)^\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([A-Za-z_][\w.]*))?(?:\s+LIKE\s+'([^']*)')?\s*$""".r

  def matchCatalogs(sql: String): Option[Option[String]] = sql match {
    case CatalogsPat(p) => Some(Option(p))
    case _ => None
  }
  /** Some((catalog Option, like Option)). */
  def matchSchemas(sql: String): Option[(Option[String], Option[String])] =
    sql match {
      case SchemasPat(c, p) => Some((Option(c), Option(p)))
      case _ => None
    }
  /** Some((schema-qualifier Option — `s` or `c.s`, like Option)). */
  def matchTables(sql: String): Option[(Option[String], Option[String])] =
    sql match {
      case TablesPat(q, p) => Some((Option(q), Option(p)))
      case _ => None
    }

  def catalogs(engine: Engine, like: Option[String]): DataFrame =
    listing(engine, "Catalog",
      new MetadataService(engine).listCatalogs(), like)

  def schemas(engine: Engine, catalog: Option[String],
      like: Option[String]): DataFrame =
    listing(engine, "Schema",
      new MetadataService(engine).listSchemas(catalog.getOrElse("")), like)

  def tables(engine: Engine, qualifier: Option[String],
      like: Option[String]): DataFrame = {
    val (c, s) = qualifier match {
      case Some(q) if q.contains(".") =>
        val parts = q.split("\\.", 2); (parts(0), parts(1))
      case Some(q) => ("", q)
      case None => ("", "")
    }
    listing(engine, "Table",
      new MetadataService(engine).listTables(c, s), like)
  }

  private def listing(engine: Engine, colName: String, names: Seq[String],
      like: Option[String]): DataFrame = {
    val filtered = like match {
      case Some(p) => names.filter(_.matches(likeToRegex(p)))
      case None => names
    }
    oneCol(engine.spark, colName, filtered.map(Row(_)))
  }

  /** Some(pattern Option) when the SQL is SHOW SESSION [LIKE '...'];
    * the pattern uses SQL LIKE wildcards (% and _) against Name. */
  def matchSession(sql: String): Option[Option[String]] = sql match {
    case SessionPat(p) => Some(Option(p))
    case _ => None
  }

  private[service] def oneCol(spark: org.apache.spark.sql.SparkSession,
      colName: String, rows: Seq[Row], extra: Seq[StructField] = Nil): DataFrame = {
    val schema = StructType(StructField(colName, StringType) +: extra)
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  def createTable(engine: Engine, table: String): DataFrame = {
    val (c, s, t) = MetadataService.resolve(engine, table)
    val cols = MetadataService.table(engine, c, s, t).schema.fields
      .map(f => s"   ${f.name} ${TypeNames.trino(f.dataType)}")
      .mkString(",\n")
    val ddl = s"CREATE TABLE $c.$s.$t (\n$cols\n)"
    oneCol(engine.spark, "Create Table", Seq(Row(ddl)))
  }

  /** Trino's DESCRIBE shape (Column, Type, Extra, Comment) — the same
    * four columns the reference's get_table_schema renders (the
    * reference itself issues `DESCRIBE c.s.t` to Trino,
    * client.go:767), so the tool and the statement always agree. */
  def describeTable(engine: Engine, table: String,
      like: Option[String] = None): DataFrame = {
    // qualified names outside the default namespace must hit THAT
    // catalog (DESCRIBE tpch.tiny.customer served the default catalog's
    // temp view before — statement-fuzz finding, r11)
    val (c, s, t) = MetadataService.resolve(engine, table)
    val fields = MetadataService.table(engine, c, s, t).schema.fields.toSeq
    val filtered = like match {
      case Some(p) => fields.filter(f => f.name.matches(likeToRegex(p)))
      case None => fields
    }
    val rows = filtered.map(f => Row(f.name, TypeNames.trino(f.dataType), "", ""))
    val schema = StructType(Seq("Column", "Type", "Extra", "Comment")
      .map(StructField(_, StringType)))
    engine.spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** SQL LIKE → regex: % = .*, _ = ., everything else literal. */
  private def likeToRegex(p: String): String = p.flatMap {
    case '%' => ".*"
    case '_' => "."
    case c => java.util.regex.Pattern.quote(c.toString)
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
    val filtered = like match {
      case Some(p) => rows.filter(_.getString(0).matches(likeToRegex(p)))
      case None => rows
    }
    val schema = StructType(Seq("Name", "Value", "Default", "Type",
      "Description").map(StructField(_, StringType)))
    engine.spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(filtered).asJava), schema)
  }
}
