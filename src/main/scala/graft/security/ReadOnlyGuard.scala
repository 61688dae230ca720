package graft.security

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.execution.command.ExplainCommand

import graft.dialect.SqlText

/** Read-only SQL guard: pre-parse string classification gating
  * execute_query, ported behavior-for-behavior from the reference
  * (reference internal/trino/client.go:262-471). Deliberately NOT a
  * parser-based check — the reference's tests pin the regex semantics
  * (e.g. `SELECT*FROM` allowed, `SHOWTABLES` rejected), and the guard
  * must reject strings Spark's parser would happily parse.
  *
  * Pipeline: strip comments and collapse string literals / quoted
  * identifiers with a state machine (client.go:386-471), lowercase +
  * normalize whitespace, reject multi-statement `;`, then allow only
  * SELECT / SHOW / DESCRIBE / EXPLAIN / WITH prefixes that contain no
  * embedded write keyword (SHOW CREATE TABLE/VIEW/SCHEMA/MATERIALIZED
  * VIEW are the sanctioned "create"-containing exceptions,
  * client.go:326-381).
  */
object ReadOnlyGuard {

  private def find(pattern: String, s: String): Boolean =
    Pattern.compile(pattern).matcher(s).find()

  private val readOnlyPrefixes = Seq(
    "^\\s*select\\b", "^\\s*show\\b", "^\\s*describe\\b",
    "^\\s*explain\\b", "^\\s*with\\b")

  private val writeOperations = Seq(
    "insert", "update", "delete", "drop", "create", "alter", "truncate",
    "merge", "copy", "grant", "revoke", "commit", "rollback",
    "call", "execute", "refresh", "set", "reset")

  private val writeOpsExceptCreate = writeOperations.filterNot(_ == "create")

  private val showCreatePatterns = Seq(
    "^\\s*show\\s+create\\s+table\\b",
    "^\\s*show\\s+create\\s+view\\b",
    "^\\s*show\\s+create\\s+schema\\b",
    "^\\s*show\\s+create\\s+materialized\\s+view\\b")

  /** client.go:262-322, plus one rule for Spark's backtick identifiers,
    * which the reference's sanitizer does not know: it reads a quote
    * inside one as the start of a literal, and a write after it would
    * be hidden in that "literal". So a statement with backticks must
    * also pass with each backtick identifier replaced by a plain one
    * (the regions `SqlText` finds); the check only ever adds
    * rejections. */
  def isReadOnly(query: String): Boolean =
    classify(query) &&
      (query.indexOf('`') < 0 || classify(backticksAsIdentifiers(query)))

  private def backticksAsIdentifiers(q: String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    SqlText.scan(q) { (opener, start, end) =>
      if (opener == '`') {
        sb.append(q, last, start).append("\"IDENTIFIER\"")
        last = end
      }
    }
    sb.append(q, last, q.length).toString
  }

  private def classify(query: String): Boolean = {
    val sanitized = sanitize(query)
    val queryLower = sanitized.toLowerCase.trim
      .replace("\n", " ").replace("\r", " ").trim

    if (queryLower.contains(";")) return false

    readOnlyPrefixes.exists(p =>
      find(p, queryLower) && isAllowedReadOnlyPattern(queryLower))
    // Queries without a read-only prefix fall through to rejection — the
    // reference's trailing write-op scan also always returns false
    // (client.go:306-321).
  }

  /** client.go:326-381. */
  def isAllowedReadOnlyPattern(queryLower: String): Boolean = {
    if (showCreatePatterns.exists(find(_, queryLower))) return true

    if (find("^\\s*show\\b", queryLower))
      return !writeOpsExceptCreate.exists(op => find(s"\\b$op\\b", queryLower))

    val safeStarts = Seq("^\\s*select\\b", "^\\s*describe\\b",
      "^\\s*explain\\b", "^\\s*with\\b")
    if (safeStarts.exists(find(_, queryLower)))
      return !writeOperations.exists(op => find(s"\\b$op\\b", queryLower))

    false
  }

  /** State machine stripping comments and masking literals/identifiers
    * so keyword detection can't false-positive on quoted content
    * (client.go:386-471): `--` to end-of-line, `/* */` (unclosed =
    * swallow rest), `'…'` → `'LITERAL'` with `''` escapes, `"…"` →
    * `"IDENTIFIER"` with `""` escapes. */
  def sanitize(query: String): String = {
    val result = new StringBuilder
    val n = query.length
    var i = 0
    while (i < n) {
      if (i + 1 < n && query(i) == '-' && query(i + 1) == '-') {
        while (i < n && query(i) != '\n' && query(i) != '\r') i += 1
        if (i < n && query(i) == '\r') i += 1
        if (i < n && query(i) == '\n') i += 1
      } else if (i + 1 < n && query(i) == '/' && query(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(query(i) == '*' && query(i + 1) == '/')) i += 1
        if (i + 1 < n) i += 2 else i = n
      } else if (query(i) == '\'') {
        result.append("'LITERAL'")
        i += 1
        var done = false
        while (i < n && !done) {
          if (query(i) == '\'') {
            i += 1
            if (i < n && query(i) == '\'') i += 1 else done = true
          } else i += 1
        }
      } else if (query(i) == '"') {
        result.append("\"IDENTIFIER\"")
        i += 1
        var done = false
        while (i < n && !done) {
          if (query(i) == '"') {
            i += 1
            if (i < n && query(i) == '"') i += 1 else done = true
          } else i += 1
        }
      } else {
        result.append(query(i))
        i += 1
      }
    }
    result.toString.trim
  }

  /** Trailing-semicolon strip applied before classification on the
    * execute path (client.go:516). */
  def stripTrailingSemicolon(query: String): String = {
    val t = query.trim
    if (t.endsWith(";")) t.dropRight(1) else t
  }

  /** The error execute_query and explain_query return for a statement
    * the guard rejects; None when writes are allowed or the statement
    * is read-only. */
  def denial(query: String, allowWrites: Boolean): Option[String] =
    if (allowWrites || isReadOnly(query)) None else Some(DenialText)

  /** The same verdict on the PARSED plan, unless writes are allowed: a
    * plan holding a write (`InsertIntoDir`, `InsertIntoStatement`, or a
    * command — V2 writes are commands) other than the read-only SHOW /
    * DESCRIBE / EXPLAIN forms is denied with `denial`'s text. Spark's
    * own lexer built this plan, so no lexical difference between the
    * text rules above and Spark's (nested block comments, backticks)
    * can hide a write from it. It only adds rejections: the text guard
    * still runs first. */
  def planDenial(plan: LogicalPlan, allowWrites: Boolean): Option[String] =
    if (allowWrites || !writes(plan)) None else Some(DenialText)

  // CTE bodies and subqueries are queries in Spark's grammar, so a
  // write is the statement's root or the child of a WITH
  private def writes(plan: LogicalPlan): Boolean = plan.exists {
    case _: InsertIntoDir | _: InsertIntoStatement => true
    // EXPLAIN holds its query as a field, not a child
    case e: ExplainCommand => writes(e.logicalPlan)
    // Spark names its read-only statement plans Show…/Describe…
    // (SHOW TABLES, SHOW CREATE TABLE, DESCRIBE QUERY, …); no write is
    case c: Command =>
      val name = c.getClass.getSimpleName
      !name.startsWith("Show") && !name.startsWith("Describe")
    case _ => false
  }

  private val DenialText =
    "security restriction: only SELECT, SHOW, DESCRIBE, and EXPLAIN " +
      "queries are allowed. Set TRINO_ALLOW_WRITE_QUERIES=true to enable write " +
      "operations (at your own risk)"
}
