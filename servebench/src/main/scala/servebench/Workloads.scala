package servebench

/** One tool call of a workload's statement pool. `expect` is `ok`, `guard`
  * (the read-only guard must refuse it) or `allowlist` (the SQL allowlist
  * must refuse it); `kind` groups latencies (`meta`, `explain`, `query`). */
final case class Stmt(id: String, kind: String, tool: String,
    args: Seq[(String, String)], expect: String = "ok")

/** A statement pool and the deck the timed loop plays. `deck` gives each
  * group of statement ids a multiplicity: every statement of the group
  * appears that many times in one round. A round is shuffled with the
  * seed and dealt round-robin to the clients, so the work of every run is
  * the same and the seed decides its order. `prime` runs once right after
  * set-up; the checked pass runs every statement of `pool` once. */
final case class Workload(name: String, pool: Seq[Stmt],
    deck: Seq[(Int, Seq[String])], roundSeconds: Double, prime: Seq[Stmt] = Nil) {
  private val byId = pool.map(s => s.id -> s).toMap
  require(byId.size == pool.size, s"duplicate statement ids in $name")

  def stmt(id: String): Stmt = byId(id)

  /** One round: every deck statement, as often as its multiplicity. */
  val round: Seq[Stmt] = deck.flatMap { case (n, ids) => ids.flatMap(id => Seq.fill(n)(byId(id))) }
}

object Workloads {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def q(id: String, kind: String, sql: String, expect: String = "ok") =
    Stmt(id, kind, "execute_query", Seq("query" -> sql), expect)

  /** An LLM agent exploring the catalog over HTTP: metadata tools, plan
    * inspection, small reads, and statements the deployment must refuse. */
  def agentExplore: Workload = {
    val meta = Seq(
      Stmt("list_catalogs", "meta", "list_catalogs", Nil),
      Stmt("list_schemas", "meta", "list_schemas", Nil),
      Stmt("list_schemas:spark_catalog", "meta", "list_schemas", Seq("catalog" -> "spark_catalog")),
      Stmt("list_tables", "meta", "list_tables", Nil)) ++
      Tables.map(t => Stmt(s"schema:$t", "meta", "get_table_schema", Seq("table" -> t)))
    val explainSql = Seq(
      "agg" -> "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority",
      "join" -> ("SELECT n_name, count(*) AS customers FROM customer JOIN nation " +
        "ON c_nationkey = n_nationkey GROUP BY n_name"),
      "filter" -> "SELECT * FROM lineitem WHERE l_quantity > 45 LIMIT 10")
    val explain = for {
      (name, sql) <- explainSql
      fmt <- Seq("LOGICAL", "DISTRIBUTED", "VALIDATE", "IO")
    } yield Stmt(s"explain:$name:$fmt", "explain", "explain_query",
      Seq("query" -> sql, "format" -> fmt))
    val peeks = Tables.map(t => q(s"peek:$t", "query", s"SELECT * FROM $t LIMIT 10"))
    val groups =
      Seq(1997, 1999, 2001).map(y => q(s"group:flags:$y", "query",
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
          s"WHERE l_shipdate < DATE '$y-01-01' GROUP BY l_returnflag, l_linestatus " +
          "ORDER BY l_returnflag, l_linestatus")) ++
      Seq(0, 12, 24).map(k => q(s"group:segment:$k", "query",
        "SELECT c_mktsegment, count(*) AS n, round(avg(c_acctbal), 2) AS avg_bal " +
          s"FROM customer WHERE c_nationkey = $k GROUP BY c_mktsegment ORDER BY c_mktsegment")) ++
      Seq(1996, 1998, 2000).map(y => q(s"group:priority:$y", "query",
        "SELECT o_orderpriority, count(*) AS n FROM orders " +
          s"WHERE year(o_orderdate) = $y GROUP BY o_orderpriority ORDER BY o_orderpriority"))
    val info =
      q("info:tables", "query", "SELECT table_name FROM information_schema.tables " +
        "ORDER BY table_name") +:
      Seq("customer", "orders", "lineitem", "events", "documents").map(t => q(s"info:columns:$t", "query",
        "SELECT column_name, data_type FROM information_schema.columns " +
          s"WHERE table_name = '$t' ORDER BY ordinal_position"))
    val json = Seq("click", "error", "purchase", "signup", "view").map(e => q(s"json:$e", "query",
      "SELECT json_extract_scalar(props, '$.k') AS k, count(*) AS n FROM events " +
        s"WHERE event_type = '$e' GROUP BY json_extract_scalar(props, '$$.k') " +
        "ORDER BY n DESC, k LIMIT 5"))
    val truncated = Seq(q("truncated:lineitem", "query", "SELECT * FROM lineitem"))
    val writes = Seq(
      "insert" -> "INSERT INTO region VALUES (9, 'NOWHERE')",
      "delete" -> "DELETE FROM orders WHERE o_orderkey = 7",
      "drop" -> "DROP TABLE lineitem",
      "ctas" -> "CREATE TABLE nation_copy AS SELECT * FROM nation",
      "update" -> "UPDATE customer SET c_acctbal = 0 WHERE c_custkey = 3")
      .map { case (n, sql) => q(s"write:$n", "query", sql, "guard") }
    val denied = Seq(
      "customer" -> "SELECT * FROM tpch.tiny.customer LIMIT 5",
      "orders" -> "SELECT count(*) AS n FROM tpch.tiny.orders",
      "join" -> ("SELECT c.name FROM tpch.tiny.customer c JOIN customer l " +
        "ON c.custkey = l.c_custkey LIMIT 3"))
      .map { case (n, sql) => q(s"denied:$n", "query", sql, "allowlist") }
    val all = meta ++ explain ++ peeks ++ groups ++ info ++ json ++ truncated ++ writes ++ denied
    def ids(s: Seq[Stmt]) = s.map(_.id)
    // The first information_schema query creates graft's four shim views,
    // which list_tables and information_schema.tables then also list. This
    // one runs right after set-up, so every call sees that state.
    val prime = Seq(q("prime:info_schema", "query",
      "SELECT count(*) AS n FROM information_schema.schemata"))
    // A round: 42 metadata calls, 12 explains, 40 execute_query (45/13/42%).
    // No MATCH_RECOGNIZE: its splice registers temp views that a concurrent
    // list_tables lists, so listings would depend on timing.
    Workload("agent_explore", all, roundSeconds = 2.5, prime = prime, deck = Seq(
      3 -> ids(meta), 1 -> ids(explain), 1 -> ids(peeks), 1 -> ids(groups),
      1 -> ids(info), 1 -> ids(json), 2 -> ids(truncated), 1 -> ids(writes),
      1 -> ids(denied)))
  }

  /** The pipeline families of `SparkEntry.queries` (63 queries). */
  val PipelineFamilies = Seq("text_", "dedup_", "embed_", "bm25_", "pq_",
    "curation_", "dsir_", "retrieval_", "mm_")

  /** The slice of the pipeline families a timed run executes: one query
    * of every family, and otherwise the queries whose served plan costs
    * the most — the four text scans Catalyst prunes under `df.count()`
    * (text_langid is the ~8,000-expression plan) and the BM25 and PQ index
    * builds, which write parquet every pass. The full 63 take about 47 s
    * warm on a 4-core host, more than a run can spend;
    * `run.py --pruning-gap` times all 63. */
  val PipelineSlice = Seq("text_repetition", "text_contamination",
    "text_langid_accuracy", "text_langid", "dedup_minhash", "embed_knn_cosine",
    "bm25_index_build", "pq_index_build", "curation_keep", "dsir_select",
    "retrieval_hybrid_rrf", "mm_decode_batch")

  /** Layer bucket of a pipeline query, for the `ops.*_s` split. */
  def opsBucket(name: String): String =
    if (name.startsWith("text_")) "text"
    else if (name.startsWith("dedup_")) "dedup"
    else if (name.startsWith("embed_")) "embed"
    else if (name.startsWith("bm25_") || name.startsWith("pq_")) "index"
    else if (name.startsWith("mm_")) "mm"
    else "other"
}
