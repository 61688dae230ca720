package graft.service

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine
import graft.mcp.StdioServer

/** End-to-end service behavior over the sf0.001 testdata: the
  * execute_query lifecycle (guard → sql → bounded collect), metadata
  * listings with allowlist filtering and Trino type names, and the four
  * EXPLAIN modes (reference behaviors: internal/trino/client.go:501-791).
  */
class ServicesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def engine(env: Map[String, String] = Map.empty): Engine = {
    val cfg = EngineConfig.fromEnv(env).toOption.get
    new Engine(cfg, Some(dir), existing = Some(spark))
  }

  // --- QueryService ---

  test("execute: flagship aggregation runs and returns rows") {
    val qs = new QueryService(engine())
    val r = qs.execute(
      """SELECT r_name, COUNT(*) AS customer_count
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY customer_count DESC, r_name""".stripMargin).toOption.get
    assert(r.columns == Seq("r_name", "customer_count"))
    assert(r.rows.length == 5 && !r.truncated)
  }

  test("execute: TIME values flow through the tool surface to JSON") {
    val r = new QueryService(engine())
      .execute("SELECT TIME'12:34:56' AS t, make_time(1, 2, 3.5) AS mk")
      .toOption.get
    assert(r.rows == Seq(Seq(java.time.LocalTime.of(12, 34, 56),
      java.time.LocalTime.parse("01:02:03.500"))))
    val json = graft.service.Json.write(Map("t" -> r.rows.head.head))
    assert(json.contains("\"12:34:56\""))
  }

  test("execute: trailing semicolon stripped") {
    assert(new QueryService(engine()).execute("SELECT 1 AS x;").toOption.get.rows ==
      Seq(Seq(1)))
  }

  test("execute: information_schema.tables lists the registered tables") {
    val r = new QueryService(engine())
      .execute("SELECT table_name FROM information_schema.tables ORDER BY table_name")
      .toOption.get
    val names = r.rows.map(_.head.toString)
    assert(names.contains("customer") && names.contains("lineitem"), names)
    assert(!names.exists(_.startsWith("graft_")), names)
  }

  test("execute: information_schema.columns carries Trino type names") {
    val r = new QueryService(engine())
      .execute("""SELECT column_name, data_type FROM information_schema.columns
                 |WHERE table_name = 'region' ORDER BY ordinal_position""".stripMargin)
      .toOption.get
    val byName = r.rows.map(row => row(0).toString -> row(1).toString).toMap
    assert(byName("r_regionkey") == "integer" && byName("r_name") == "varchar", byName)
  }

  test("execute: information_schema respects the table allowlist") {
    val qs = new QueryService(engine(Map("TRINO_ALLOWED_TABLES" ->
      "spark_catalog.default.region,spark_catalog.default.nation")))
    val r = qs.execute(
      "SELECT DISTINCT table_name FROM information_schema.tables ORDER BY table_name")
      .toOption.get
    assert(r.rows.map(_.head.toString) == Seq("nation", "region"), r.rows)
  }

  test("execute: information_schema.schemata and .views are served") {
    val qs = new QueryService(engine())
    val s = qs.execute(
      "SELECT catalog_name, schema_name FROM information_schema.schemata ORDER BY 1, 2")
      .toOption.get
    assert(s.rows.nonEmpty && s.rows.exists(_(1).toString == "default"), s.rows)
    // allowlist filtering applies to schemata like the metadata tools
    val denied = new QueryService(engine(Map(
      "TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.other")))
      .execute("SELECT schema_name FROM information_schema.schemata").toOption.get
    assert(!denied.rows.exists(_.head.toString == "default"), denied.rows)
    // views: empty relation with Trino's column shape, not an error
    val v = qs.execute(
      "SELECT table_name, view_definition FROM information_schema.views").toOption.get
    assert(v.rows.isEmpty)
    assert(v.columns == Seq("table_name", "view_definition"))
  }

  test("execute: information_schema inside a string literal is untouched") {
    val r = new QueryService(engine())
      .execute("SELECT 'information_schema.tables' AS s").toOption.get
    assert(r.rows == Seq(Seq("information_schema.tables")))
  }

  test("execute: quoted information_schema names are served") {
    val r = new QueryService(engine())
      .execute("""SELECT table_name FROM "information_schema"."tables" ORDER BY 1""")
    val names = r.toOption.getOrElse(fail(r.toString)).rows.map(_.head.toString)
    assert(names.contains("region"), names)
  }

  test("execute: information_schema.tables works as a column qualifier") {
    val r = new QueryService(engine()).execute(
      """SELECT information_schema.tables.table_name
        |FROM information_schema.tables
        |WHERE information_schema.tables.table_name = 'region'
        |  AND information_schema.tables.table_schema = 'default'""".stripMargin)
    assert(r.toOption.getOrElse(fail(r.toString)).rows == Seq(Seq("region")))
  }

  test("execute: write statements rejected with the reference error text") {
    val r = new QueryService(engine()).execute("DROP TABLE region")
    assert(r == Left("security restriction: only SELECT, SHOW, DESCRIBE, and EXPLAIN " +
      "queries are allowed. Set TRINO_ALLOW_WRITE_QUERIES=true to enable write " +
      "operations (at your own risk)"))
  }

  // Spark's lexer nests block comments: the text guard reads `' */) … --'`
  // as a literal, so only the parsed plan shows the write
  private def nestedCommentWrite(dir: String) =
    s"WITH q AS (SELECT 1 AS a /* x /* y */ ' */) INSERT OVERWRITE DIRECTORY " +
      s"'$dir' USING parquet SELECT a FROM q --'"

  private val denied = Left("security restriction: only SELECT, SHOW, DESCRIBE, and EXPLAIN " +
    "queries are allowed. Set TRINO_ALLOW_WRITE_QUERIES=true to enable write " +
    "operations (at your own risk)")

  /** `body` with a path under the temp directory that does not exist
    * yet; whatever is written there is removed afterwards. */
  private def withFreshDir(body: java.io.File => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("graft-write-").toFile
    d.delete()
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  test("execute: a write hidden from the text guard by a nested comment is denied") {
    withFreshDir { out =>
      assert(new QueryService(engine()).execute(nestedCommentWrite(out.getPath)) == denied)
      assert(!out.exists(), s"$out was written")
    }
  }

  test("explain: a write hidden from the text guard by a nested comment is denied") {
    withFreshDir { out =>
      assert(new ExplainService(engine()).explain(nestedCommentWrite(out.getPath), "LOGICAL") == denied)
      assert(!out.exists(), s"$out was written")
    }
  }

  test("explain and DESCRIBE OUTPUT of an allowed write write nothing") {
    val e = engine(Map("TRINO_ALLOW_WRITE_QUERIES" -> "true"))
    withFreshDir { out =>
      val write = s"INSERT OVERWRITE DIRECTORY '${out.getPath}' USING parquet SELECT 1 AS a"
      for (format <- Seq("", "LOGICAL", "VALIDATE", "IO")) {
        val r = new ExplainService(e).explain(write, format)
        assert(r.isRight, s"$format: $r")
      }
      val qs = new QueryService(e)
      assert(qs.execute(s"PREPARE w FROM $write").isRight)
      assert(qs.execute("DESCRIBE OUTPUT w").isRight)
      assert(!out.exists(), s"$out was written")
      // executed, the same statement writes
      assert(qs.execute(write).isRight)
      assert(out.exists())
    }
  }

  test("execute: multi-statement rejected") {
    assert(new QueryService(engine()).execute("SELECT 1; DROP TABLE region").isLeft)
  }

  test("execute: write keyword in literal is fine") {
    assert(new QueryService(engine())
      .execute("SELECT 'INSERT INTO x' AS s").toOption.get.rows == Seq(Seq("INSERT INTO x")))
  }

  test("execute: row cap truncates and flags") {
    val e = engine(Map("GRAFT_MAX_RESULT_ROWS" -> "7"))
    val r = new QueryService(e).execute("SELECT c_custkey FROM customer ORDER BY c_custkey")
      .toOption.get
    assert(r.rows.length == 7 && r.truncated)
  }

  test("execute: timeout cancels the job group") {
    val e = engine(Map("TRINO_QUERY_TIMEOUT" -> "2"))
    val r = new QueryService(e).execute(
      "SELECT COUNT(*) FROM (SELECT a.id FROM range(100000000) a CROSS JOIN range(10000) b)")
    assert(r.isLeft && r.swap.toOption.get.contains("timed out after 2s"))
  }

  test("execute: JSON output is objects in schema column order") {
    val r = new QueryService(engine()).execute(
      "SELECT 1 AS b_first, 2 AS a_second").toOption.get
    assert(r.toJson.replaceAll("\\s", "") == """[{"b_first":1,"a_second":2}]""")
  }

  test("execute: concurrent queries run in isolated job groups") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val qs = new QueryService(engine())
    val futures = (1 to 4).map { i =>
      Future(qs.execute(s"SELECT COUNT(*) + $i AS n FROM lineitem"))
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    results.zipWithIndex.foreach { case (r, idx) =>
      assert(r.isRight, r)
      val base = r.toOption.get.rows.head.head.asInstanceOf[Long] - (idx + 1)
      assert(base > 0)
    }
    assert(results.map(_.toOption.get.rows.head.head).distinct.size == 4)
  }

  test("execute: stress — concurrent mixed timeouts never cancel unrelated requests") {
    // The reference's connection pool implies concurrent clients
    // (client.go:165-167). Here: 16 in-flight execute_query calls, a
    // third of which blow their 1 s deadline and trigger a job-group
    // cancel, interleaved with bounded-collect queries that must ALL
    // come back complete — a cross-request cancellation (shared or
    // wrong job group) would surface as a killed fast query, a wrong
    // row count, or a short/truncated result.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fast = new QueryService(engine(Map("GRAFT_MAX_RESULT_ROWS" -> "40")))
    val slow = new QueryService(engine(Map("TRINO_QUERY_TIMEOUT" -> "1")))
    val slowSql = "SELECT COUNT(*) FROM (SELECT a.id FROM range(100000000) a " +
      "CROSS JOIN range(100000) b)"
    val futures = (1 to 16).map { i =>
      if (i % 3 == 0) Future("slow" -> slow.execute(slowSql))
      else Future("fast" -> fast.execute(
        s"SELECT l_orderkey, l_linenumber, $i AS tag FROM lineitem " +
          "ORDER BY l_orderkey, l_linenumber LIMIT 60"))
    }
    val results = Await.result(Future.sequence(futures), 300.seconds)
    val (slows, fasts) = results.partition(_._1 == "slow")
    assert(slows.nonEmpty && fasts.nonEmpty)
    slows.foreach { case (_, r) =>
      assert(r.isLeft && r.swap.exists(_.contains("timed out after 1s")), r)
    }
    fasts.foreach { case (_, r) =>
      assert(r.isRight, r) // not cancelled by a neighbor's timeout
      val qr = r.toOption.get
      assert(qr.rows.size == 40 && qr.truncated, // bounded collect held under load
        s"rows=${qr.rows.size} truncated=${qr.truncated}")
      assert(qr.rows.head(0) == 0L) // right data, ordered scan intact
    }
  }

  // --- MetadataService ---

  test("listCatalogs: spark session catalog visible") {
    // the data-dir engine also registers the tpch.tiny generated catalog
    assert(new MetadataService(engine()).listCatalogs() ==
      Seq("spark_catalog", "tpch"))
  }

  test("listCatalogs: allowlist filters everything else") {
    val e = engine(Map("TRINO_ALLOWED_CATALOGS" -> "nonexistent"))
    assert(new MetadataService(e).listCatalogs().isEmpty)
  }

  test("listSchemas: default catalog contains default schema") {
    assert(new MetadataService(engine()).listSchemas("").contains("default"))
  }

  test("listSchemas: allowlist filtering") {
    val e = engine(Map("TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.other"))
    assert(new MetadataService(e).listSchemas("").isEmpty)
  }

  test("listTables: registered testdata views visible in default namespace") {
    val tables = new MetadataService(engine()).listTables("", "")
    assert(Seq("region", "nation", "customer", "orders", "lineitem",
      "events", "documents", "embeddings").forall(tables.contains))
  }

  test("listTables: engine-internal relation caches are not exposed") {
    val tables = new MetadataService(engine()).listTables("", "")
    assert(!tables.exists(_.startsWith("graft_src_")), tables.mkString(","))
  }

  test("listTables: table allowlist filters") {
    val e = engine(Map("TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region"))
    assert(new MetadataService(e).listTables("", "") == Seq("region"))
  }

  test("getTableSchema: Trino-style type names for the star schema") {
    val cols = new MetadataService(engine()).getTableSchema("", "", "customer").toOption.get
    val byName = cols.map(m => m("Column") -> m("Type")).toMap
    assert(byName("c_custkey") == "bigint")
    assert(byName("c_name") == "varchar")
    assert(byName("c_acctbal") == "double")
  }

  test("getTableSchema: nested types (embeddings) map to Trino names") {
    val cols = new MetadataService(engine()).getTableSchema("", "", "embeddings").toOption.get
    val byName = cols.map(m => m("Column") -> m("Type")).toMap
    assert(byName("embedding") == "array(real)")
    assert(byName("label") == "integer")
  }

  test("getTableSchema: schema.table and catalog.schema.table resolution") {
    val m = new MetadataService(engine())
    assert(m.getTableSchema("", "", "default.region").isRight ||
      m.getTableSchema("", "", "region").isRight) // 2-part resolves to default ns
    assert(m.getTableSchema("", "", "region").toOption.get.nonEmpty)
  }

  test("getTableSchema: allowlist denial uses the reference error text") {
    val e = engine(Map("TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region"))
    assert(new MetadataService(e).getTableSchema("", "", "customer") ==
      Left("table access denied: spark_catalog.default.customer not in allowlist"))
  }

  // --- ExplainService ---

  test("explain: default (distributed) mode has a formatted physical plan") {
    val r = new ExplainService(engine()).explain(
      "SELECT r_name, COUNT(*) FROM region GROUP BY r_name", "").toOption.get
    val text = r.head("Query Plan").toString
    assert(text.contains("HashAggregate") || text.contains("Physical Plan"))
  }

  test("explain: LOGICAL mode shows the optimized logical plan") {
    val r = new ExplainService(engine()).explain(
      "SELECT r_name FROM region WHERE r_regionkey = 1", "LOGICAL").toOption.get
    val text = r.head("Query Plan").toString
    assert(text.contains("Relation") || text.contains("Filter"))
  }

  test("explain: VALIDATE mode returns Valid=true for good SQL") {
    assert(new ExplainService(engine()).explain("SELECT 1", "VALIDATE") ==
      Right(Seq(Map("Valid" -> true))))
  }

  test("explain: VALIDATE mode fails for bad SQL") {
    assert(new ExplainService(engine()).explain("SELECT missing_col FROM region", "VALIDATE").isLeft)
  }

  test("explain: IO mode reports file scans with pushed filters") {
    val r = new ExplainService(engine()).explain(
      "SELECT r_name FROM region WHERE r_regionkey = 1", "IO").toOption.get
    val text = r.head("Query Plan").toString
    assert(text.contains("Location") && text.contains("ReadSchema"))
  }

  test("explain: IO mode sees scans through the AQE wrapper") {
    val r = new ExplainService(engine()).explain(
      "SELECT o_orderstatus, COUNT(*) FROM orders GROUP BY o_orderstatus", "IO").toOption.get
    val text = r.head("Query Plan").toString
    assert(text.contains("Location"), s"got: $text")
  }

  test("explain: invalid format rejected with the reference error text") {
    assert(new ExplainService(engine()).explain("SELECT 1", "FANCY") ==
      Left("""invalid EXPLAIN format: "FANCY" (allowed: LOGICAL, DISTRIBUTED, VALIDATE, IO)"""))
  }

  test("explain: target query still passes the guard") {
    assert(new ExplainService(engine()).explain("DROP TABLE region", "LOGICAL").isLeft)
  }

  test("explain: information_schema is explained, not reported missing") {
    val r = new ExplainService(engine()).explain(
      "SELECT table_name FROM information_schema.tables", "LOGICAL")
    assert(r.isRight, r.toString)
  }

  test("explain: after USE, the session namespace's table is explained") {
    val e = engine()
    val qs = new QueryService(e)
    assert(qs.execute("USE tpch.tiny").isRight)
    val n = qs.execute("SELECT count(*) AS n FROM customer").toOption.get
    assert(n.rows == Seq(Seq(150L)), n.rows)
    val io = new ExplainService(e).explain("SELECT count(*) FROM customer", "IO")
    val text = io.toOption.getOrElse(fail(io.toString)).head("Query Plan").toString
    assert(!text.contains("Location") && text.toLowerCase.contains("customer"), text)
  }

  test("execute: SHOW STATS after USE reads the session namespace's table") {
    val qs = new QueryService(engine(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "tpch.tiny.customer")))
    assert(qs.execute("USE tpch.tiny").isRight)
    val stats = qs.execute("SHOW STATS FOR customer")
    val cols = stats.toOption.getOrElse(fail(stats.toString)).rows
      .flatMap(r => Option(r.head)).map(_.toString)
    // tpch.tiny.customer's columns, never the default catalog's c_* view
    assert(cols.contains("custkey") && !cols.exists(_.startsWith("c_")), cols)
    val described = qs.execute("DESCRIBE customer").toOption.get.rows.map(_.head.toString)
    assert(cols.toSet == described.toSet, described)
  }

  test("execute: a backtick identifier holding a quote keeps Trino's literal rules") {
    val qs = new QueryService(engine())
    def d(alias: String) = {
      val r = qs.execute(s"SELECT 1 AS $alias, regexp_extract('a1', '\\d') AS d")
      r.toOption.getOrElse(fail(r.toString)).rows.head(1)
    }
    assert(d("`it's`") == "1")
    assert(d("`it's`") == d("\"it's\""))
  }

  test("execute: a quoted relation name before MATCH_RECOGNIZE is found, backticks included") {
    val qs = new QueryService(engine())
    val counts = Seq("events", "`events`", "\"events\"").map { rel =>
      val r = qs.execute(
        s"""SELECT COUNT(*) AS n FROM $rel MATCH_RECOGNIZE (
           |  PARTITION BY user_id ORDER BY ts, event_id
           |  MEASURES FIRST(A.ts) AS start_ts
           |  PATTERN (A B+)
           |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin)
      r.toOption.getOrElse(fail(s"$rel: $r")).rows
    }
    assert(counts.distinct.size == 1, counts)
  }

  test("explain: build errors carry execute_query's text, UNNEST hint included") {
    val e = engine()
    Seq("SELECT missing_col FROM region" -> "UNRESOLVED_COLUMN",
        "SELECT a, b FROM UNNEST(array(named_struct('x', 1, 'y', 2, 'z', 3))) AS t(a, b)" ->
          "both readings were tried").foreach { case (q, text) =>
      val ran = new QueryService(e).execute(q)
      assert(ran.swap.exists(_.contains(text)), ran.toString)
      assert(new ExplainService(e).explain(q, "") == ran)
    }
  }

  // --- catalog reads: the listings and information_schema start no SQL
  // execution of their own, and list what the SHOW statements list ---

  private def q(ident: String) = s"`${ident.replace("`", "``")}`"

  // The listings as the SHOW statements produce them, with the same
  // defaults, filtering and graft_src_ exclusion as MetadataService.
  private def showCatalogs(e: Engine): Seq[String] =
    e.allowlists.filterCatalogs(
      spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).toSeq)

  private def showSchemas(e: Engine, c: String): Seq[String] =
    e.allowlists.filterSchemas(
      spark.sql(s"SHOW NAMESPACES IN ${q(c)}").collect().map(_.getString(0)).toSeq, c)

  private def showTables(e: Engine, c: String, s: String): Seq[String] = {
    val default = c.equalsIgnoreCase(e.config.catalog) && s.equalsIgnoreCase(e.config.schema)
    val names = spark.sql(s"SHOW TABLES IN ${q(c)}.${q(s)}").collect().toSeq
      .filter(r => !r.getString(1).startsWith("graft_src_") && (!r.getBoolean(2) || default))
      .map(_.getString(1)).distinct.sorted
    e.allowlists.filterTables(names, c, s)
  }

  /** The listing, or the message it fails with. */
  private def outcome(f: => Seq[String]): Either[String, Seq[String]] =
    try Right(f) catch { case e: Throwable => Left(e.getMessage) }

  test("listings: equal the SHOW statements' results, allowlists and errors included") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_parity")
    try {
      val engines = Seq(
        engine(),
        // hides the tpch catalog
        engine(Map("TRINO_ALLOWED_CATALOGS" -> "spark_catalog")),
        // hides spark_catalog.default's sibling schema and tpch.tiny
        engine(Map("TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.default")),
        engine(Map("TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region,tpch.tiny.nation")))
      for (e <- engines) {
        val meta = new MetadataService(e)
        assert(meta.listCatalogs() == showCatalogs(e))
        // "nope" and "default" name no catalog: Spark reads them as
        // namespaces of the current catalog, errors included
        for (c <- Seq("spark_catalog", "tpch", "SPARK_CATALOG", "nope", "default")) {
          assert(outcome(meta.listSchemas(c)) == outcome(showSchemas(e, c)), c)
          for (s <- Seq("default", "tiny", "graft_parity", "missing"))
            assert(outcome(meta.listTables(c, s)) == outcome(showTables(e, c, s)), s"$c.$s")
        }
      }
      val meta = new MetadataService(engine())
      assert(meta.listCatalogs().contains("tpch"))
      assert(meta.listSchemas("spark_catalog").contains("graft_parity"))
      val views = meta.listTables("spark_catalog", "default")
      assert(views.contains("customer") && !views.exists(_.startsWith("graft_src_")), views)
      assert(meta.listTables("tpch", "tiny").contains("nation"))
      assert(new MetadataService(engine(Map("TRINO_ALLOWED_CATALOGS" -> "spark_catalog")))
        .listCatalogs() == Seq("spark_catalog"))
      assert(outcome(meta.listSchemas("nope")).left.exists(_.contains("SCHEMA_NOT_FOUND")))
    } finally spark.sql("DROP DATABASE IF EXISTS graft_parity")
  }

  /** The SQL-execution and job starts of the work `body` does on this
    * thread (and the threads it starts), found by a job tag. */
  private def started(body: => Unit): Seq[SparkListenerEvent] = {
    val seen = new ConcurrentLinkedQueue[(SparkListenerEvent, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add((j, Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)))
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case s: SparkListenerSQLExecutionStart => seen.add((s, s.jobTags))
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    val tag = s"graft-count-${java.util.UUID.randomUUID()}"
    val marker = s"$tag-marker"
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      // events arrive in order: once the marker's is seen, so are all
      // of body's
      sc.addJobTag(marker)
      try spark.range(1).collect() finally sc.removeJobTag(marker)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._2(marker)) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._2(marker)), "listener saw no marker")
      seen.asScala.collect { case (e, tags) if tags(tag) => e }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def executions(body: => Unit): Int =
    started(body).count(_.isInstanceOf[SparkListenerSQLExecutionStart])

  test("listings: the metadata tools start no SQL execution; a repeated information_schema query starts one") {
    val e = engine()
    e.spark // registers the data set's views
    val server = new StdioServer(e)
    val tools = Seq(
      "list_catalogs" -> Map.empty[String, Any],
      "list_schemas" -> Map("catalog" -> "tpch"),
      "list_tables" -> Map.empty[String, Any],
      "list_tables" -> Map("catalog" -> "tpch", "schema" -> "tiny"),
      "get_table_schema" -> Map("table" -> "customer"),
      "get_table_schema" -> Map("catalog" -> "tpch", "schema" -> "tiny", "table" -> "nation"))
    for ((name, args) <- tools) {
      var reply: Either[String, String] = Left("not called")
      assert(executions { reply = server.callTool(name, args) } == 0, name)
      assert(reply.isRight, s"$name: $reply")
    }

    val qs = new QueryService(e)
    val sql = "SELECT column_name FROM information_schema.columns " +
      "WHERE table_schema = 'default' AND table_name = 'region' ORDER BY ordinal_position"
    // the first statements publish the views (the second lists the
    // shim views the first registered)
    qs.execute(sql); qs.execute(sql)
    val before = spark.sessionState.catalog.getRawTempView(InfoSchema.ColumnsView)
    var rows: Seq[Seq[Any]] = Nil
    assert(executions { rows = qs.execute(sql).toOption.get.rows } == 1)
    assert(rows.map(_.head) == Seq("r_regionkey", "r_name"))
    val after = spark.sessionState.catalog.getRawTempView(InfoSchema.ColumnsView)
    assert(before.isDefined && after.exists(_ eq before.get), "the view was registered again")
  }

  test("execute: an ORDER BY over information_schema runs one job") {
    val qs = new QueryService(engine())
    val sql = "SELECT column_name, data_type FROM information_schema.columns " +
      "WHERE table_name = 'orders' ORDER BY ordinal_position"
    qs.execute(sql)
    var rows: Seq[Seq[Any]] = Nil
    val jobs = started { rows = qs.execute(sql).toOption.get.rows }
      .count(_.isInstanceOf[SparkListenerJobStart])
    assert(jobs == 1)
    assert(rows.headOption.exists(_.head == "o_orderkey"), rows)
  }

  test("execute: an allowed write runs under the query's job group") {
    val qs = new QueryService(engine(Map("TRINO_ALLOW_WRITE_QUERIES" -> "true")))
    withFreshDir { out =>
      val groups = started {
        assert(qs.execute(
          s"INSERT OVERWRITE DIRECTORY '${out.getPath}' USING parquet SELECT 1 AS a").isRight)
      }.collect { case j: SparkListenerJobStart =>
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
      assert(out.exists())
      assert(groups.nonEmpty && groups.forall(g => g != null && g.startsWith("graft-query-")),
        groups)
    }
  }

  test("execute: information_schema follows the catalog: a new view is listed at once") {
    val qs = new QueryService(engine())
    val sql = "SELECT table_name FROM information_schema.tables WHERE table_name = 'graft_fresh_view'"
    assert(qs.execute(sql).toOption.get.rows.isEmpty)
    spark.range(3).createOrReplaceTempView("graft_fresh_view")
    try assert(qs.execute(sql).toOption.get.rows == Seq(Seq("graft_fresh_view")))
    finally spark.catalog.dropTempView("graft_fresh_view")
    assert(qs.execute(sql).toOption.get.rows.isEmpty)
  }

  // --- Json round-trip ---

  test("Json: writer/parser round-trip") {
    val v = Map("a" -> Seq(1L, 2L, 3L), "b" -> "x\"y\n", "c" -> null, "d" -> true)
    val parsed = Json.parse(Json.write(v)).asInstanceOf[collection.Map[String, Any]]
    assert(parsed("a") == Vector(1L, 2L, 3L))
    assert(parsed("b") == "x\"y\n")
    assert(parsed("c") == null)
    assert(parsed("d") == true)
  }
}
