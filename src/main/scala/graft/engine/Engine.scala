package graft.engine

import org.apache.spark.sql.SparkSession

import graft.config.EngineConfig
import graft.security.Allowlists

/** The embedded engine: owns a lazily-created SparkSession (mirroring
  * the reference's lazy ensureConnected, reference
  * internal/trino/client.go:187-233) plus the parsed config and
  * allowlists. Where the reference crosses a process boundary at
  * db.QueryContext, our boundary is Spark driver→executor task
  * scheduling inside collect().
  *
  * Session-level settings are applied ONCE at build, by
  * [[graft.Sessions]] (shuffle partitions, UTC, ANSI double-quoted
  * identifiers for Trino dialect fidelity) — never mutated per query
  * (safe for the concurrent tool calls the MCP server takes).
  */
class Engine(
    val config: EngineConfig,
    val dataDir: Option[String] = None,
    existing: Option[SparkSession] = None) {

  val allowlists: Allowlists =
    Allowlists(config.allowedCatalogs, config.allowedSchemas, config.allowedTables)

  /** Prepared statements (PREPARE/EXECUTE/DEALLOCATE): one engine = one
    * logical session, the embedded analog of Trino's per-session
    * X-Trino-Prepared-Statement state the Go driver manages. */
  val preparedStatements: scala.collection.concurrent.TrieMap[String, String] =
    scala.collection.concurrent.TrieMap.empty

  /** The session's current namespace (Trino: the X-Trino-Catalog/Schema
    * headers `USE` updates) — seeds from config; partial-name
    * resolution everywhere reads THESE, not the config defaults. */
  @volatile var sessionCatalog: String = config.catalog
  @volatile var sessionSchema: String = config.schema

  /** Live session properties (SET SESSION / RESET SESSION): the
    * per-query deadline and result row cap, seeded from config —
    * QueryService reads these, SHOW SESSION displays them. */
  @volatile var sessionQueryTimeoutSeconds: Int = config.queryTimeoutSeconds
  @volatile var sessionMaxResultRows: Int = config.maxResultRows

  lazy val spark: SparkSession = {
    // a session handed in is switched to the served dialect too (once)
    val s = existing.map(graft.Sessions.serve)
      .getOrElse(graft.Sessions.build(config.source))
    dataDir.foreach(Tables.registerAll(s, _))
    // second catalog: the reference's flagship tpch.tiny example served
    // by an in-memory V2 TableCatalog (docs/tools.md:113-157)
    dataDir.foreach(graft.catalog.TpchTinyCatalog.register(s, _))
    s
  }
}
