package graft.catalog

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `tpch` catalog: an in-memory DataSource V2 `TableCatalog`
  * serving the `tiny` schema — the reference's flagship multi-catalog
  * example (`/root/reference/docs/tools.md:113-157` documents
  * `DESCRIBE tpch.tiny.customer` with Trino's tpch connector shape;
  * listings flow through `SHOW TABLES FROM c.s` / `DESCRIBE c.s.t`,
  * `client.go:707,767`).
  *
  * Trino's tpch connector GENERATES bounded data on the fly — `tiny`
  * is a fixed small scale by definition. The Spark-native analog: the
  * tables derive deterministically from the driver's parquet (same
  * rows the default catalog serves, so the DuckDB oracle can replay
  * any cross-catalog query), renamed to the connector's UNPREFIXED
  * column names and cast to its types (custkey bigint, orderdate date,
  * …). Columns the driver's trimmed testdata lacks but the docs show
  * (customer address/phone/comment; every table's comment) are
  * synthesized as deterministic key-derived expressions — replayable
  * in any engine, faithful to "the connector generates its data".
  *
  * Scale shape: `tiny` is model-sized by contract — tables materialize
  * once per (dir, table) into driver memory and ship to executors as
  * row-slice input partitions; a cross-catalog join against a 100 TB
  * fact table broadcasts the tiny side (dimension shape). Column
  * pruning is pushed down (`SupportsPushDownRequiredColumns`), so
  * `SELECT name FROM tpch.tiny.customer` ships one column, not eight.
  *
  * Registration: `spark.sql.catalog.tpch = graft.catalog.TpchTinyCatalog`
  * plus the dynamic `graft.tpch.dir` session conf (read at scan time,
  * so one session can serve multiple scale factors — ScaleVerify).
  */
class TpchTinyCatalog extends TableCatalog with SupportsNamespaces {
  import TpchTinyCatalog._

  private var catName: String = "tpch"
  private var optDir: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    optDir = Option(options.get("dir"))
  }
  override def name(): String = catName

  private def dir: String =
    SparkSession.active.conf.getOption(DirConf).orElse(optDir).getOrElse(
      throw new IllegalStateException(
        s"$DirConf not set: the tpch catalog needs the testdata directory"))

  // -- namespaces ---------------------------------------------------------
  override def listNamespaces(): Array[Array[String]] = Array(Array(Schema))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (isTiny(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catName +: namespace.toSeq)
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (isTiny(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(catName +: namespace.toSeq)
  override def createNamespace(ns: Array[String], meta: util.Map[String, String]): Unit =
    throw readOnly
  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw readOnly
  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    throw readOnly

  // -- tables -------------------------------------------------------------
  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (isTiny(namespace)) TableDefs.keys.toArray.sorted.map(Identifier.of(namespace, _))
    else throw new NoSuchNamespaceException(catName +: namespace.toSeq)

  override def loadTable(ident: Identifier): Table = {
    val key = ident.name.toLowerCase
    if (!isTiny(ident.namespace) || !TableDefs.contains(key))
      throw new NoSuchTableException(catName +: ident.namespace.toSeq :+ ident.name)
    new TinyTable(key, dir)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw readOnly
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw readOnly
  override def dropTable(ident: Identifier): Boolean = throw readOnly
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw readOnly

  private def isTiny(ns: Array[String]): Boolean =
    ns.length == 1 && ns(0).equalsIgnoreCase(Schema)
  private def readOnly =
    new UnsupportedOperationException(
      s"catalog $catName is read-only (generated tpch data)")
}

object TpchTinyCatalog {
  val Schema = "tiny"
  val DirConf = "graft.tpch.dir"

  /** Register the catalog on an existing session (idempotent): the
    * conf-driven V2 path — Spark instantiates the class on first
    * reference to `tpch.…`. */
  def register(spark: SparkSession, dir: String): Unit = {
    if (!spark.conf.getOption("spark.sql.catalog.tpch").contains(
        classOf[TpchTinyCatalog].getName))
      spark.conf.set("spark.sql.catalog.tpch", classOf[TpchTinyCatalog].getName)
    if (!spark.conf.getOption(DirConf).contains(dir))
      spark.conf.set(DirConf, dir)
    // force the load: CatalogManager.listCatalogs only reports catalogs
    // already instantiated, so SHOW CATALOGS would omit tpch until the
    // first tpch.… reference without this. The load reads the catalog
    // conf from the thread's active session, so `spark` is made active
    // for it, and the previous one restored after.
    val previous = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try spark.sessionState.catalogManager.catalog("tpch")
    finally previous match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Trino tpch-connector column shapes over the driver's trimmed
    * tables: (output column, Spark type, derivation SQL over the
    * prefixed source columns). The derivations are engine-portable
    * (concat/lpad/cast only) so the DuckDB oracle replays them. */
  private[catalog] val TableDefs: Map[String, Seq[(String, DataType, String)]] = Map(
    "region" -> Seq(
      ("regionkey", LongType, "CAST(r_regionkey AS BIGINT)"),
      ("name", StringType, "r_name"),
      ("comment", StringType, "CONCAT('tiny region ', CAST(r_regionkey AS STRING))")),
    "nation" -> Seq(
      ("nationkey", LongType, "CAST(n_nationkey AS BIGINT)"),
      ("name", StringType, "n_name"),
      ("regionkey", LongType, "CAST(n_regionkey AS BIGINT)"),
      ("comment", StringType, "CONCAT('tiny nation ', CAST(n_nationkey AS STRING))")),
    // the full 8-column shape the reference documents (tools.md:113-157)
    "customer" -> Seq(
      ("custkey", LongType, "CAST(c_custkey AS BIGINT)"),
      ("name", StringType, "c_name"),
      ("address", StringType, "CONCAT('addr#', CAST(c_custkey AS STRING))"),
      ("nationkey", LongType, "CAST(c_nationkey AS BIGINT)"),
      ("phone", StringType,
        "CONCAT('27-', LPAD(CAST(c_custkey % 10000000 AS STRING), 7, '0'))"),
      ("acctbal", DoubleType, "CAST(c_acctbal AS DOUBLE)"),
      ("mktsegment", StringType, "c_mktsegment"),
      ("comment", StringType, "CONCAT('tiny customer ', CAST(c_custkey AS STRING))")),
    "supplier" -> Seq(
      ("suppkey", LongType, "CAST(s_suppkey AS BIGINT)"),
      ("name", StringType, "s_name"),
      ("address", StringType, "CONCAT('addr#', CAST(s_suppkey AS STRING))"),
      ("nationkey", LongType, "CAST(s_nationkey AS BIGINT)"),
      ("phone", StringType,
        "CONCAT('27-', LPAD(CAST(s_suppkey % 10000000 AS STRING), 7, '0'))"),
      ("acctbal", DoubleType, "CAST(s_acctbal AS DOUBLE)"),
      ("comment", StringType, "CONCAT('tiny supplier ', CAST(s_suppkey AS STRING))")),
    "part" -> Seq(
      ("partkey", LongType, "CAST(p_partkey AS BIGINT)"),
      ("name", StringType, "p_name"),
      ("brand", StringType, "p_brand"),
      ("type", StringType, "p_type"),
      ("size", IntegerType, "CAST(p_size AS INT)"),
      ("retailprice", DoubleType, "CAST(p_retailprice AS DOUBLE)"),
      ("comment", StringType, "CONCAT('tiny part ', CAST(p_partkey AS STRING))")),
    "orders" -> Seq(
      ("orderkey", LongType, "CAST(o_orderkey AS BIGINT)"),
      ("custkey", LongType, "CAST(o_custkey AS BIGINT)"),
      ("orderstatus", StringType, "o_orderstatus"),
      ("totalprice", DoubleType, "CAST(o_totalprice AS DOUBLE)"),
      ("orderdate", DateType, "CAST(o_orderdate AS DATE)"),
      ("orderpriority", StringType, "o_orderpriority"),
      ("comment", StringType, "CONCAT('tiny orders ', CAST(o_orderkey AS STRING))")),
    "lineitem" -> Seq(
      ("orderkey", LongType, "CAST(l_orderkey AS BIGINT)"),
      ("partkey", LongType, "CAST(l_partkey AS BIGINT)"),
      ("suppkey", LongType, "CAST(l_suppkey AS BIGINT)"),
      ("linenumber", IntegerType, "CAST(l_linenumber AS INT)"),
      ("quantity", DoubleType, "CAST(l_quantity AS DOUBLE)"),
      ("extendedprice", DoubleType, "CAST(l_extendedprice AS DOUBLE)"),
      ("discount", DoubleType, "CAST(l_discount AS DOUBLE)"),
      ("tax", DoubleType, "CAST(l_tax AS DOUBLE)"),
      ("returnflag", StringType, "l_returnflag"),
      ("linestatus", StringType, "l_linestatus"),
      ("shipdate", DateType, "CAST(l_shipdate AS DATE)"),
      ("comment", StringType,
        "CONCAT('tiny lineitem ', CAST(l_orderkey AS STRING), '-', CAST(l_linenumber AS STRING))")))

  private[catalog] def schemaOf(table: String): StructType =
    StructType(TableDefs(table).map { case (n, t, _) =>
      StructField(n, t, nullable = false) })

  /** (dir, table) → materialized rows: built once, on first SCAN (not
    * on loadTable — DESCRIBE must stay metadata-only). */
  private val rowCache = TrieMap.empty[(String, String), Array[InternalRow]]

  private[catalog] def rowsOf(dir: String, table: String): Array[InternalRow] =
    rowCache.getOrElseUpdate((dir, table), {
      val spark = SparkSession.active
      val src = graft.engine.Tables.load(spark, dir, table)
      val projected = src.selectExpr(
        TableDefs(table).map { case (n, _, e) => s"$e AS $n" }: _*)
      projected.queryExecution.executedPlan.executeCollect().map(_.copy())
    })
}

/** A read-only in-memory table: static Trino-shape schema, rows
  * materialized lazily at scan time from the companion cache. */
private[catalog] class TinyTable(table: String, dir: String)
    extends Table with SupportsRead {
  override def name(): String = s"tpch.${TpchTinyCatalog.Schema}.$table"
  override def schema(): StructType = TpchTinyCatalog.schemaOf(table)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TinyScanBuilder(table, dir, schema())
}

private[catalog] class TinyScanBuilder(table: String, dir: String,
    full: StructType) extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new TinyScan(table, dir, full, required)
}

private[catalog] class TinyScan(table: String, dir: String,
    full: StructType, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"TpchTiny(table=$table, columns=[${required.fieldNames.mkString(",")}])"

  /** Without reported statistics a V2 relation defaults to
    * `defaultSizeInBytes` (≈ Long.Max) and NEVER auto-broadcasts —
    * which at scale would sort-merge a 25-row dimension against a fact
    * table (caught by PlanAuditSpec's xcat audit). The tiny tables are
    * materialized-by-contract, so exact stats are one cached-array
    * walk. */
  override def estimateStatistics(): Statistics = {
    val rows = TpchTinyCatalog.rowsOf(dir, table)
    val size = rows.iterator.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        u.getSizeInBytes.toLong
      case _ => 64L
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(size, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows.length.toLong)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val rows = TpchTinyCatalog.rowsOf(dir, table)
    // slice into up-to-8 partitions so a fact-sized tiny table still
    // exercises the distributed read path (the planner is free to
    // coalesce or broadcast above this)
    val n = math.max(1, math.min(8, rows.length / 2048))
    val chunk = math.max(1, (rows.length + n - 1) / n)
    rows.grouped(chunk).map(slice =>
      TinyPartition(slice): InputPartition).toArray match {
      case Array() => Array(TinyPartition(Array.empty))
      case parts => parts
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TinyReaderFactory(full, required.fieldNames)
}

private[catalog] case class TinyPartition(rows: Array[InternalRow])
    extends InputPartition

private[catalog] class TinyReaderFactory(full: StructType,
    requiredNames: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[TinyPartition].rows
    // executor-side pruning projection over the full-schema rows
    val exprs = requiredNames.toSeq.map { n =>
      val i = full.fieldIndex(n)
      BoundReference(i, full(i).dataType, nullable = full(i).nullable)
    }
    val proj = UnsafeProjection.create(exprs)
    new PartitionReader[InternalRow] {
      private var idx = -1
      override def next(): Boolean = { idx += 1; idx < rows.length }
      // copy: UnsafeProjection reuses its output buffer across calls,
      // and a downstream operator that buffers rows would otherwise
      // read the LAST row's bytes for every buffered reference
      override def get(): InternalRow = proj(rows(idx)).copy()
      override def close(): Unit = ()
    }
  }
}
