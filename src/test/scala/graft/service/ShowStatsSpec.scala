package graft.service

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine

/** SHOW STATS FOR t: Trino's output shape (column rows + summary row),
  * exact metrics on the known sf0.001 region table, and the guarded
  * surface wiring. */
class ShowStatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def qs(env: Map[String, String] = Map.empty): QueryService = {
    val cfg = EngineConfig.fromEnv(env).toOption.get
    new QueryService(new Engine(cfg, Some(dir), existing = Some(spark)))
  }

  test("SHOW STATS FOR region: Trino shape, exact metrics on a known table") {
    val r = qs().execute("SHOW STATS FOR region").toOption.get
    assert(r.columns == Seq("column_name", "data_size", "distinct_values_count",
      "nulls_fraction", "row_count", "low_value", "high_value"))
    val byName = r.rows.map(row => Option(row.head).map(_.toString).orNull -> row).toMap
    // summary row: row_count = 5, everything else NULL
    val summary = byName(null)
    assert(summary(4) == 5.0 && summary(1) == null && summary(5) == null)
    // numeric column: ndv + range, no data_size
    val key = byName("r_regionkey")
    assert(key(2) == 5.0 && key(3) == 0.0 && key(5) == "0" && key(6) == "4")
    assert(key(1) == null)
    // varchar column: data_size (total bytes), no low/high
    val name = byName("r_name")
    assert(name(1).asInstanceOf[Double] > 0.0 && name(5) == null)
    assert(name(2) == 5.0)
  }

  test("SHOW STATS is case-insensitive, semicolon-tolerant, and guarded") {
    assert(qs().execute("  show stats for region ;").isRight)
    assert(qs().execute("SHOW STATS FOR no_such_table").isLeft)
  }

  test("SHOW STATS FOR (SELECT ...) computes stats over the derived relation") {
    val r = qs().execute(
      "SHOW STATS FOR (SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3)")
      .toOption.get
    assert(r.columns == Seq("column_name", "data_size", "distinct_values_count",
      "nulls_fraction", "row_count", "low_value", "high_value"))
    val byName = r.rows.map(row => Option(row.head).map(_.toString).orNull -> row).toMap
    assert(byName(null)(4) == 3.0)                     // 3 filtered rows
    assert(byName.keySet == Set(null, "r_regionkey", "r_name"))
    val key = byName("r_regionkey")
    assert(key(2) == 3.0 && key(5) == "0" && key(6) == "2")
    // dialect functions work inside the subquery (same pipeline)
    val d = qs().execute(
      "SHOW STATS FOR (SELECT strpos(r_name, 'A') AS p FROM region)").toOption.get
    assert(d.rows.map(r => Option(r.head).map(_.toString).orNull).toSet ==
      Set(null, "p"))
    // the inner query is still a guarded statement: bad SQL errors cleanly
    assert(qs().execute("SHOW STATS FOR (SELECT no_col FROM region)").isLeft)
  }

  test("SHOW STATS FOR (SELECT ...) honors the opt-in allowlist gate") {
    val enforcing = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.nation"))
    assert(enforcing.execute("SHOW STATS FOR (SELECT * FROM nation)").isRight)
    assert(enforcing.execute("SHOW STATS FOR (SELECT * FROM region)") ==
      Left("table access denied: spark_catalog.default.region not in allowlist"))
  }

  test("SHOW CREATE TABLE renders Trino-typed DDL; SHOW SESSION lists properties") {
    val r = qs().execute("SHOW CREATE TABLE region").toOption.get
    assert(r.columns == Seq("Create Table"))
    val ddl = r.rows.head.head.toString
    assert(ddl.startsWith("CREATE TABLE spark_catalog.default.region ("))
    assert(ddl.contains("r_regionkey integer") && ddl.contains("r_name varchar"))
    // the table's stored name, as Trino prints it, not the name as typed
    assert(qs().execute("SHOW CREATE TABLE REGION").toOption.get.rows.head.head.toString == ddl)
    assert(qs().execute("SHOW CREATE TABLE tpch.tiny.CUSTOMER").toOption.get.rows.head.head
      .toString.startsWith("CREATE TABLE tpch.tiny.customer ("))
    // DESCRIBE and SHOW CREATE TABLE agree on type names by construction
    val s = qs().execute("show session").toOption.get
    assert(s.columns == Seq("Name", "Value", "Default", "Type", "Description"))
    val byName = s.rows.map(row => row.head.toString -> row(1).toString).toMap
    assert(byName("catalog") == "spark_catalog")
    assert(byName("allow_write_queries") == "false")
    // LIKE filter (SQL wildcards against Name)
    val liked = qs().execute("SHOW SESSION LIKE '%allow%'").toOption.get
    assert(liked.rows.map(_.head.toString).toSet ==
      Set("allow_write_queries", "enforce_sql_allowlists"))
    assert(qs().execute("SHOW SESSION LIKE 'catalog'").toOption.get.rows.size == 1)
    // unknown table errors cleanly; the allowlist gate applies when on
    assert(qs().execute("SHOW CREATE TABLE no_such").isLeft)
    val enforcing = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.nation"))
    assert(enforcing.execute("SHOW CREATE TABLE region").isLeft)
    assert(enforcing.execute("SHOW CREATE TABLE nation").isRight)
  }

  test("DESCRIBE / DESC / SHOW COLUMNS serve Trino's four-column shape") {
    // Trino treats the three spellings as synonyms, all emitting
    // Column/Type/Extra/Comment — Spark's own DESCRIBE emits
    // col_name/data_type/comment, so the route must intercept.
    for (stmt <- Seq("DESCRIBE region", "describe Region",
        "SHOW COLUMNS FROM region", "show columns in region ;")) {
      val r = qs().execute(stmt).toOption.get
      assert(r.columns == Seq("Column", "Type", "Extra", "Comment"), stmt)
      val byName = r.rows.map(row => row.head.toString -> row(1).toString).toMap
      assert(byName("r_regionkey") == "integer" && byName("r_name") == "varchar")
    }
    // LIKE filter on SHOW COLUMNS (SQL wildcards against Column)
    val liked = qs().execute("SHOW COLUMNS FROM region LIKE 'r_n%'").toOption.get
    assert(liked.rows.map(_.head.toString) == Seq("r_name"))
    // qualified names resolve through the same 3/2/1-part logic
    assert(qs().execute("DESCRIBE spark_catalog.default.region").isRight)
    // bare DESC is rejected by the read-only guard — exactly what the
    // reference does (its prefix list has `describe`, not `desc`,
    // client.go:284-290), so the statement never reaches the router
    assert(qs().execute("DESC region").isLeft)
    // Spark's multi-token DESCRIBE forms are NOT intercepted
    val fn = qs().execute("DESCRIBE FUNCTION abs").toOption.get
    assert(fn.columns != Seq("Column", "Type", "Extra", "Comment"))
    // unknown table errors cleanly; allowlist gate applies when on
    assert(qs().execute("DESCRIBE no_such_table").isLeft)
    val enforcing = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.nation"))
    assert(enforcing.execute("DESCRIBE region") ==
      Left("table access denied: spark_catalog.default.region not in allowlist"))
    assert(enforcing.execute("SHOW COLUMNS FROM nation").isRight)
  }

  test("SHOW CATALOGS / SCHEMAS / TABLES serve Trino's single-column shapes") {
    val cats = qs().execute("SHOW CATALOGS").toOption.get
    assert(cats.columns == Seq("Catalog"))
    assert(cats.rows.map(_.head.toString).contains("spark_catalog"))
    val schemas = qs().execute("SHOW SCHEMAS").toOption.get
    assert(schemas.columns == Seq("Schema"))
    assert(schemas.rows.map(_.head.toString).contains("default"))
    assert(qs().execute("SHOW SCHEMAS FROM spark_catalog").isRight)
    val tabs = qs().execute("SHOW TABLES").toOption.get
    assert(tabs.columns == Seq("Table"))
    val names = tabs.rows.map(_.head.toString)
    assert(names.contains("region") && names.contains("lineitem"))
    // internal per-directory caches are not user tables
    assert(!names.exists(_.startsWith("graft_src_")))
    // LIKE filters with SQL wildcards; FROM qualifier resolves
    assert(qs().execute("SHOW TABLES LIKE 'reg%'").toOption.get
      .rows.map(_.head.toString) == Seq("region"))
    assert(qs().execute("show tables from default ;").isRight)
    assert(qs().execute("SHOW CATALOGS LIKE 'nope%'").toOption.get.rows.isEmpty)
    // a bad catalog surfaces the consistent Left, not a raw
    // AnalysisException out of execute() (r10 ADVICE)
    qs().execute("SHOW SCHEMAS FROM no_such_catalog") match {
      case Left(err) => assert(err.startsWith("query execution failed:"), err)
      case Right(r) => assert(r.rows.isEmpty, r.rows)
    }
  }

  test("DESCRIBE / SHOW CREATE TABLE route qualified names to their catalog") {
    // statement-fuzz finding (r11): DESCRIBE tpch.tiny.customer used to
    // serve the DEFAULT catalog's customer temp view
    val d = qs().execute("DESCRIBE tpch.tiny.customer").toOption.get
    assert(d.rows.map(_.head.toString) == Seq("custkey", "name", "address",
      "nationkey", "phone", "acctbal", "mktsegment", "comment"))
    val ct = qs().execute("SHOW CREATE TABLE tpch.tiny.nation").toOption.get
    val ddl = ct.rows.head.head.toString
    assert(ddl.contains("CREATE TABLE tpch.tiny.nation"), ddl)
    assert(ddl.contains("nationkey bigint") && ddl.contains("comment varchar"), ddl)
    // information_schema agrees with DESCRIBE for the tpch catalog
    val info = qs().execute(
      """SELECT column_name FROM information_schema.columns
         WHERE table_catalog = 'tpch' AND table_name = 'customer'
         ORDER BY ordinal_position""").toOption.get
    assert(info.rows.map(_.head.toString) == d.rows.map(_.head.toString))
    // catalog allowlists filter the listing (same path as the tools)
    val filtered = qs(Map("TRINO_ALLOWED_CATALOGS" -> "other"))
      .execute("SHOW CATALOGS").toOption.get
    assert(filtered.rows.isEmpty)
  }

  test("SHOW STATS respects the opt-in SQL allowlist gate") {
    val enforcing = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.nation"))
    assert(enforcing.execute("SHOW STATS FOR nation").isRight)
    assert(enforcing.execute("SHOW STATS FOR region") ==
      Left("table access denied: spark_catalog.default.region not in allowlist"))
  }

  test("SHOW paths apply catalog/schema allowlists, not just the table list") {
    // a deployment using ONLY catalog/schema allowlists must still gate
    // SHOW STATS / SHOW CREATE TABLE (stats reveal column min/max)
    val catOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_CATALOGS" -> "other_catalog"))
    assert(catOnly.execute("SHOW STATS FOR region") ==
      Left("catalog access denied: spark_catalog not in allowlist"))
    assert(catOnly.execute("SHOW CREATE TABLE region") ==
      Left("catalog access denied: spark_catalog not in allowlist"))
    val schemaOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.other_schema"))
    assert(schemaOnly.execute("SHOW STATS FOR region") ==
      Left("schema access denied: spark_catalog.default not in allowlist"))
  }

  test("a routed SHOW / DESCRIBE statement answers the same however it is spelled") {
    // each canonical statement, with the spellings beyond the three every
    // statement gets (a block comment first, a line comment first, lower case)
    val forms = Seq(
      "SHOW CATALOGS" -> Nil,
      "SHOW CATALOGS LIKE 'sp%'" -> Nil,
      "SHOW SCHEMAS" -> Seq("SHOW NAMESPACES"),
      "SHOW SCHEMAS FROM tpch" -> Seq("SHOW SCHEMAS FROM `tpch`", "SHOW NAMESPACES IN tpch"),
      "SHOW TABLES" -> Nil,
      "SHOW TABLES FROM tpch.tiny" -> Seq("SHOW TABLES FROM `tpch`.`tiny`", "SHOW TABLES IN tpch.tiny"),
      "SHOW TABLES FROM default LIKE 'reg%'" -> Seq("SHOW TABLES IN `default` LIKE 'reg%'"),
      "DESCRIBE region" -> Seq("DESCRIBE `region`", "DESCRIBE TABLE region", "DESCRIBE \"region\""),
      "DESCRIBE tpch.tiny.customer" ->
        Seq("DESCRIBE `tpch`.`tiny`.`customer`", "DESCRIBE TABLE tpch.tiny.customer"),
      "SHOW COLUMNS FROM region" -> Seq("SHOW COLUMNS IN `region`"),
      "SHOW COLUMNS FROM tpch.tiny.nation" -> Seq("SHOW COLUMNS FROM `tpch`.tiny.`nation`"),
      "SHOW CREATE TABLE region" -> Seq("SHOW CREATE TABLE `region`"),
      "SHOW CREATE TABLE tpch.tiny.nation" -> Seq("SHOW CREATE TABLE `tpch`.`tiny`.`nation`"),
      "SHOW FUNCTIONS LIKE 'url_e%'" -> Seq("SHOW FUNCTIONS 'url_e%'"))
    // Trino's shape for each, whatever the config
    val shape = Map("SHOW CATALOGS" -> Seq("Catalog"), "SHOW SCHEMAS" -> Seq("Schema"),
      "SHOW TABLES" -> Seq("Table"), "DESCRIBE" -> Seq("Column", "Type", "Extra", "Comment"),
      "SHOW COLUMNS" -> Seq("Column", "Type", "Extra", "Comment"),
      "SHOW CREATE TABLE" -> Seq("Create Table"), "SHOW FUNCTIONS" -> Seq("function_name",
        "return_type", "argument_types", "function_type", "deterministic", "description"))
    val probe = Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_CATALOGS" -> "spark_catalog",
      "TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.default")
    for ((config, env) <- Seq("default" -> Map.empty[String, String], "probe" -> probe)) {
      val s = qs(env)
      def answer(sql: String) = s.execute(sql).map(r => (r.columns, r.rows))
      for ((canonical, extra) <- forms) {
        val want = answer(canonical)
        val names = canonical.startsWith("DESCRIBE") || canonical.startsWith("SHOW COLUMNS") ||
          canonical.startsWith("SHOW CREATE")
        if (config == "probe" && names && canonical.contains("tpch"))
          assert(want == Left("catalog access denied: tpch not in allowlist"), canonical)
        else {
          val cols = want.fold(err => fail(s"[$config] $canonical: $err"), _._1)
          assert(cols == shape.collectFirst { case (k, v) if canonical.startsWith(k) => v }.get,
            s"[$config] $canonical")
        }
        for (sql <- Seq(s"/* c */ $canonical", s"-- c\n$canonical", canonical.toLowerCase) ++ extra)
          assert(answer(sql) == want, s"[$config] $sql vs $canonical")
      }
      // the listings filter under the probe config, as the tools do
      if (config == "probe") {
        assert(answer("SHOW CATALOGS") == Right((Seq("Catalog"), Seq(Seq("spark_catalog")))))
        assert(answer("SHOW SCHEMAS FROM tpch") == Right((Seq("Schema"), Nil)))
      }
    }
  }
}
