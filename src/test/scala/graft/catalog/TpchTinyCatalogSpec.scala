package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine
import graft.service.{MetadataService, QueryService}

/** The second catalog: `tpch.tiny` as an in-memory V2 TableCatalog —
  * the reference's flagship multi-catalog example
  * (docs/tools.md:113-157; listing shapes client.go:707,767).
  */
class TpchTinyCatalogSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def engine(env: Map[String, String] = Map.empty): Engine =
    new Engine(EngineConfig.fromEnv(env).toOption.get, Some(dir), Some(spark))

  private def ensure(): Unit = TpchTinyCatalog.register(spark, dir)

  test("DESCRIBE tpch.tiny.customer emits the documented connector shape") {
    val meta = new MetadataService(engine())
    val cols = meta.getTableSchema("tpch", "tiny", "customer")
      .fold(err => fail(err), identity)
      .map(m => (m("Column").toString, m("Type").toString))
    // reference docs/tools.md:113-157: the 8-column bigint/varchar/double shape
    assert(cols == Seq(
      "custkey" -> "bigint", "name" -> "varchar", "address" -> "varchar",
      "nationkey" -> "bigint", "phone" -> "varchar", "acctbal" -> "double",
      "mktsegment" -> "varchar", "comment" -> "varchar"))
  }

  test("register loads the catalog on a session that is not the thread's active one") {
    val other = spark.newSession()
    val before = org.apache.spark.sql.SparkSession.getActiveSession
    assert(!before.contains(other))
    // only `other` carries the catalog conf, so the load must read it there
    val conf = spark.conf.getOption("spark.sql.catalog.tpch")
    spark.conf.unset("spark.sql.catalog.tpch")
    try {
      TpchTinyCatalog.register(other, dir)
      assert(org.apache.spark.sql.graft.CatalogBridge.catalogs(other).contains("tpch"))
      assert(org.apache.spark.sql.SparkSession.getActiveSession == before)
    } finally conf.foreach(spark.conf.set("spark.sql.catalog.tpch", _))
  }

  test("both catalogs list; allowlist filters the tpch catalog out") {
    val cats = new MetadataService(engine()).listCatalogs()
    assert(cats.contains("spark_catalog") && cats.contains("tpch"), cats)
    val filtered = new MetadataService(
      engine(Map("TRINO_ALLOWED_CATALOGS" -> "spark_catalog"))).listCatalogs()
    assert(filtered == Seq("spark_catalog"), filtered)
    // schema + table listings route through the same catalog
    val schemas = new MetadataService(engine()).listSchemas("tpch")
    assert(schemas == Seq("tiny"), schemas)
    val tables = new MetadataService(engine()).listTables("tpch", "tiny")
    assert(tables == Seq("customer", "lineitem", "nation", "orders",
      "part", "region", "supplier"), tables)
  }

  test("enforced SQL allowlist denies a real cross-catalog relation") {
    val denied = new QueryService(engine(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region")))
    assert(denied.execute("SELECT COUNT(*) AS n FROM tpch.tiny.nation") ==
      Left("table access denied: tpch.tiny.nation not in allowlist"))
    val allowed = new QueryService(engine(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" ->
        "spark_catalog.default.region,tpch.tiny.nation")))
    val r = allowed.execute("SELECT COUNT(*) AS n FROM tpch.tiny.nation")
    assert(r.toOption.get.rows.head.head.toString.toLong > 0, r)
  }

  test("tiny tables carry the source rows under the connector's names") {
    ensure()
    val viaTiny = spark.sql(
      "SELECT COUNT(*) AS n, MIN(custkey) AS lo, MAX(nationkey) AS hi " +
        "FROM tpch.tiny.customer").head()
    val src = graft.engine.Tables.load(spark, dir, "customer")
      .agg(count(lit(1)), min(col("c_custkey")),
        max(col("c_nationkey").cast("long"))).head()
    assert(viaTiny.getLong(0) == src.getLong(0))
    assert(viaTiny.getLong(1) == src.getLong(1))
    assert(viaTiny.getLong(2) == src.getLong(2))
    // synthesized columns are deterministic and key-derived
    val c0 = spark.sql("SELECT address, phone, comment FROM tpch.tiny.customer " +
      "WHERE custkey = 0").head()
    assert(c0.getString(0) == "addr#0")
    assert(c0.getString(1) == "27-0000000")
    assert(c0.getString(2) == "tiny customer 0")
  }

  test("column pruning pushes into the batch scan") {
    ensure()
    val plan = spark.sql("SELECT name FROM tpch.tiny.nation")
      .queryExecution.executedPlan.toString
    assert(plan.contains("columns=[name]"), plan)
  }

  test("cross-catalog join matches the same join on the default catalog") {
    ensure()
    graft.engine.Tables.registerAll(spark, dir)
    val viaTiny = spark.sql(
      """SELECT r.name AS rn, COUNT(*) AS n FROM tpch.tiny.nation n
         JOIN tpch.tiny.region r ON n.regionkey = r.regionkey
         JOIN customer c ON c.c_nationkey = n.nationkey
         GROUP BY r.name ORDER BY rn""").collect().toSeq
    val viaDefault = spark.sql(
      """SELECT r_name AS rn, COUNT(*) AS n FROM nation
         JOIN region ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         GROUP BY r_name ORDER BY rn""").collect().toSeq
    assert(viaTiny.map(r => (r.getString(0), r.getLong(1))) ==
      viaDefault.map(r => (r.getString(0), r.getLong(1))))
  }

  test("the catalog is read-only") {
    ensure()
    val e = intercept[Throwable](
      spark.sql("CREATE TABLE tpch.tiny.extra (x INT)"))
    assert(e.getMessage.toLowerCase.contains("read-only"), e.getMessage)
    val d = intercept[Throwable](spark.sql("DROP TABLE tpch.tiny.nation"))
    assert(d.getMessage.toLowerCase.contains("read-only"), d.getMessage)
  }
}
