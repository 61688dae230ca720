package graft.security

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine
import graft.service.QueryService

/** GRAFT_ENFORCE_SQL_ALLOWLISTS: the opt-in relation-level allowlist
  * gate on execute_query SQL (beyond-reference hardening; with the flag
  * off the reference's pass-through behavior is preserved — pinned by
  * the parity test below).
  */
class SqlAllowlistSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def qs(env: Map[String, String]): QueryService = {
    val cfg = EngineConfig.fromEnv(env).toOption.get
    new QueryService(new Engine(cfg, Some(dir), existing = Some(spark)))
  }

  private val enforcing = qs(Map(
    "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
    "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region,spark_catalog.default.nation"))

  test("flag off: allowlisted-away tables remain queryable (reference parity)") {
    val parity = qs(Map(
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.region"))
    assert(parity.execute("SELECT COUNT(*) AS n FROM customer").isRight)
  }

  test("flag on: relations outside the table allowlist are denied pre-analysis") {
    val r = enforcing.execute("SELECT COUNT(*) AS n FROM customer")
    assert(r == Left("table access denied: spark_catalog.default.customer not in allowlist"))
    assert(enforcing.execute("SELECT COUNT(*) AS n FROM region").isRight)
  }

  test("flag on: every relation in joins and subqueries is judged") {
    assert(enforcing.execute(
      "SELECT COUNT(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey").isRight)
    assert(enforcing.execute(
      "SELECT COUNT(*) AS n FROM region JOIN customer ON r_regionkey = c_custkey").isLeft)
    assert(enforcing.execute(
      "SELECT (SELECT COUNT(*) FROM customer) AS n FROM region").isLeft)
  }

  test("flag on: 3/2/1-part names resolve with the defaults before the check") {
    // checker-level: the embedded catalog serves temp views, so multi-part
    // spellings never reach execution — the CHECK must still judge them
    // with the reference's resolution rules
    val lists = Allowlists(allowedTables =
      Seq("spark_catalog.default.region", "spark_catalog.default.nation"))
    def violation(sql: String): Option[String] =
      SqlAllowlist.check(spark.sessionState.sqlParser.parsePlan(sql),
        lists, "spark_catalog", "default")
    assert(violation("SELECT 1 FROM spark_catalog.default.region").isEmpty)
    assert(violation("SELECT 1 FROM default.region").isEmpty)
    assert(violation("SELECT 1 FROM region").isEmpty)
    assert(violation("SELECT 1 FROM other_catalog.default.region") ==
      Some("table access denied: other_catalog.default.region not in allowlist"))
    assert(violation("SELECT 1 FROM other_schema.region") ==
      Some("table access denied: spark_catalog.other_schema.region not in allowlist"))
    assert(violation("SELECT 1 FROM customer").isDefined)
  }

  test("flag on: CTE names are not judged as tables; their bodies are") {
    assert(enforcing.execute(
      "WITH t AS (SELECT r_regionkey FROM region) SELECT COUNT(*) AS n FROM t").isRight)
    assert(enforcing.execute(
      "WITH t AS (SELECT c_custkey FROM customer) SELECT COUNT(*) AS n FROM t").isLeft)
  }

  test("flag on: CTE exemption is scope-aware, not statement-global") {
    // a CTE named like a denied table, bound only inside a NESTED WITH,
    // must not exempt the outer use (which resolves to the real table)
    assert(enforcing.execute(
      "WITH x AS (WITH customer AS (SELECT 1 AS a) SELECT 1 AS b) " +
        "SELECT COUNT(*) AS n FROM customer").isLeft)
    // legitimate scoping still works: nested CTEs inside a body, and a
    // later sibling referencing an earlier one
    assert(enforcing.execute(
      "WITH x AS (WITH y AS (SELECT r_regionkey FROM region) SELECT * FROM y) " +
        "SELECT COUNT(*) AS n FROM x").isRight)
    assert(enforcing.execute(
      "WITH a AS (SELECT r_regionkey FROM region), b AS (SELECT * FROM a) " +
        "SELECT COUNT(*) AS n FROM b").isRight)
  }

  test("flag on: information_schema stays exempt (internally filtered)") {
    val r = enforcing.execute(
      "SELECT table_name FROM information_schema.tables ORDER BY table_name")
    assert(r.isRight)
    // ...and the shim's own allowlist filtering still applies
    val names = r.toOption.get.rows.map(_.head.toString)
    assert(names.toSet == Set("region", "nation"))
  }

  test("flag on: EXPLAIN of a denied query is denied too") {
    assert(enforcing.execute("EXPLAIN SELECT COUNT(*) FROM customer").isLeft)
    assert(enforcing.execute("EXPLAIN SELECT COUNT(*) FROM region").isRight)
  }

  private val mrQuery =
    """SELECT COUNT(*) AS n FROM events MATCH_RECOGNIZE (
      |  PARTITION BY user_id ORDER BY ts, event_id
      |  MEASURES FIRST(A.ts) AS start_ts
      |  PATTERN (A B+)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin

  test("flag on: a MATCH_RECOGNIZE result is judged by its source relation") {
    val eventsOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.events"))
    val r = eventsOnly.execute(mrQuery)
    assert(r.isRight, r.toString)
    assert(enforcing.execute(mrQuery) ==
      Left("table access denied: spark_catalog.default.events not in allowlist"))
  }

  test("flag on: EXPLAIN of a MATCH_RECOGNIZE query plans like execute") {
    val eventsOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_TABLES" -> "spark_catalog.default.events"))
    val r = eventsOnly.execute(s"EXPLAIN $mrQuery")
    assert(r.isRight, r.toString)
  }

  test("flag on: explain_query is gated like execute_query and EXPLAIN") {
    val engine = new Engine(EngineConfig.fromEnv(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.default")).toOption.get,
      Some(dir), existing = Some(spark))
    val q = "SELECT COUNT(*) FROM tpch.tiny.customer"
    val ran = new QueryService(engine).execute(q)
    assert(ran == Left("schema access denied: tpch.tiny not in allowlist"))
    assert(new QueryService(engine).execute(s"EXPLAIN $q") == ran)
    assert(new graft.service.ExplainService(engine).explain(q, "IO") == ran)
  }

  test("catalog and schema allowlists deny at their levels") {
    val catOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_CATALOGS" -> "other_catalog"))
    assert(catOnly.execute("SELECT COUNT(*) AS n FROM region") ==
      Left("catalog access denied: spark_catalog not in allowlist"))
    val schemaOnly = qs(Map(
      "GRAFT_ENFORCE_SQL_ALLOWLISTS" -> "true",
      "TRINO_ALLOWED_SCHEMAS" -> "spark_catalog.other"))
    assert(schemaOnly.execute("SELECT COUNT(*) AS n FROM region") ==
      Left("schema access denied: spark_catalog.default not in allowlist"))
  }
}
