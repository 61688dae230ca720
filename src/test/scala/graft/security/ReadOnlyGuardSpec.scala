package graft.security

import org.scalatest.funsuite.AnyFunSuite

/** The reference's pinned guard behavior, ported case-for-case:
  * classifier cases from reference internal/trino/client_test.go:395-446,
  * comment-handling cases from comment_test.go:7-172, sanitizer cases
  * from comment_test.go:174-272 — plus ScalaCheck properties the Go
  * suite lacks (sanitizer idempotence, literal keyword immunity).
  */
class ReadOnlyGuardSpec extends AnyFunSuite {

  private def ro(q: String): Boolean = ReadOnlyGuard.isReadOnly(q)

  // --- client_test.go:395-446 (TestImprovedIsReadOnlyQuery) ---

  val classifierCases: Seq[(String, String, Boolean)] = Seq(
    ("SELECT with word boundary", "SELECT * FROM users", true),
    ("SELECT with leading spaces", "  SELECT * FROM users", true),
    ("SELECT with newlines", "\n SELECT * FROM users\n", true),
    ("SHOW with word boundary", "SHOW TABLES", true),
    ("DESCRIBE with word boundary", "DESCRIBE users", true),
    ("EXPLAIN with word boundary", "EXPLAIN SELECT * FROM users", true),
    ("WITH CTE", "WITH cte AS (SELECT 1) SELECT * FROM cte", true),
    ("SHOW CREATE TABLE", "SHOW CREATE TABLE users", true),
    ("SHOW CREATE TABLE with schema", "SHOW CREATE TABLE myschema.users", true),
    ("SHOW CREATE TABLE fully qualified", "SHOW CREATE TABLE catalog.schema.table", true),
    ("SHOW CREATE TABLE with spaces", "  SHOW CREATE TABLE users  ", true),
    ("SHOW CREATE VIEW", "SHOW CREATE VIEW my_view", true),
    ("SHOW CREATE SCHEMA", "SHOW CREATE SCHEMA myschema", true),
    ("SHOW CREATE MATERIALIZED VIEW", "SHOW CREATE MATERIALIZED VIEW my_mat_view", true),
    ("SELECT without space", "SELECT*FROM users", true),
    ("SHOW without space", "SHOWTABLES", false),
    ("INSERT statement", "INSERT INTO users VALUES (1)", false),
    ("UPDATE statement", "UPDATE users SET name = 'test'", false),
    ("DELETE statement", "DELETE FROM users", false),
    ("CREATE statement", "CREATE TABLE test (id INT)", false),
    ("CREATE VIEW statement", "CREATE VIEW myview AS SELECT 1", false),
    ("DROP statement", "DROP TABLE users", false),
    ("ALTER statement", "ALTER TABLE users ADD COLUMN age INT", false),
    ("SELECT with INSERT in string", "SELECT 'INSERT INTO' FROM dual", true),
    ("SELECT with INSERT in comment", "SELECT 1 -- INSERT INTO users", true),
    ("Multi-statement with semicolon", "SELECT 1; INSERT INTO users VALUES (1)", false)
  )

  classifierCases.foreach { case (name, q, expected) =>
    test(s"classifier: $name") { assert(ro(q) == expected, s"query: $q") }
  }

  // --- comment_test.go:7-172 (TestIsReadOnlyQueryWithComments) ---

  val commentCases: Seq[(String, String, Boolean)] = Seq(
    ("Single-line comment before SELECT", "-- This is a comment\nSELECT * FROM table", true),
    ("Multiple single-line comments", "-- Comment 1\n-- Comment 2\nSELECT id, name FROM users", true),
    ("Multi-line comment before SELECT", "/* This is a\nmulti-line comment */\nSELECT * FROM table", true),
    ("Inline comment in SELECT", "SELECT /* inline comment */ * FROM table", true),
    ("Comment before SHOW", "-- Get catalogs\nSHOW CATALOGS", true),
    ("Comment before WITH CTE", "-- CTE query\nWITH temp AS (SELECT 1)\nSELECT * FROM temp", true),
    ("Comment before write operation should still fail",
      "-- This is dangerous\nINSERT INTO table VALUES (1)", false),
    ("Mixed comments and spaces",
      "\n\t\t\t\n-- Comment\n  /* another comment */\n  \nSELECT 1", true),
    ("Comment containing apostrophe (DON'T)",
      "-- Bot code analysis - what happens if we DON'T filter out bots?\n" +
        "WITH bot_stats AS (\n  SELECT bot_code,\n    CASE \n" +
        "      WHEN CONTAINS(xp, 'frontier-omni-fd') THEN 'xp'\n    END as exp_group\n" +
        "  FROM pulse.sa.search_extended\n)\nSELECT * FROM bot_stats", true),
    ("Comment with apostrophe and string literals",
      "-- This won't work without proper handling\nSELECT * FROM users WHERE name = 'John'", true),
    ("Multi-line comment with apostrophe",
      "/* Here's a comment\n   that spans lines and won't\n   break the parser */\nSELECT 1", true),
    ("Multiple apostrophes in comment",
      "-- It's important that we don't break when there's multiple apostrophes\nSELECT id FROM table", true),
    ("Double quotes in comment",
      "-- Use \"double quotes\" in identifiers\nSELECT * FROM \"table\"", true),
    ("Backticks in comment (Trino uses double quotes)",
      "-- Use `backticks` for identifiers\nSELECT * FROM \"table\"", true),
    ("Backticks in comment with backtick identifiers",
      "-- Use `backticks` for identifiers\nSELECT * FROM `table`", true),
    ("Mixed quotes in comment",
      "-- It's \"complicated\" with 'all' the quotes\nSELECT 'value' FROM \"table\"", true),
    ("Comment with unmatched quote at end of line",
      "-- This ends with a quote'\nSELECT * FROM table", true),
    ("Comment apostrophe followed by string literal on next line",
      "-- What if we DON'T do this?\nWITH cte AS (SELECT 'value' as col) SELECT * FROM cte", true),
    ("Write keyword in comment should still allow read query",
      "-- We could INSERT here but we won't\nSELECT * FROM table", true),
    ("Write keyword in comment should NOT allow actual write query",
      "-- This is a read query\nINSERT INTO table VALUES (1)", false),
    ("Comment marker inside string literal should be read-only",
      "SELECT * FROM table WHERE msg = '-- test' OR id = 1", true),
    ("Multi-line comment inside string literal should be read-only",
      "SELECT * FROM table WHERE msg = '/* comment */'", true),
    ("Write keyword inside string literal should be read-only",
      "SELECT * FROM table WHERE msg = 'INSERT INTO test'", true)
  )

  commentCases.foreach { case (name, q, expected) =>
    test(s"comments: $name") { assert(ro(q) == expected, s"query: $q") }
  }

  // --- comment_test.go:174-272 (TestSanitizeQueryForKeywordDetection) ---

  val sanitizerCases: Seq[(String, String, String)] = Seq(
    ("Remove single-line comment", "-- comment\nSELECT * FROM table", "SELECT * FROM table"),
    ("Remove multi-line comment", "/* comment */SELECT * FROM table", "SELECT * FROM table"),
    ("Remove multiple comments", "-- first\n/* second */SELECT * FROM table", "SELECT * FROM table"),
    ("Apostrophe in single-line comment preserved correctly",
      "-- DON'T panic\nSELECT * FROM table WHERE name = 'John'",
      "SELECT * FROM table WHERE name = 'LITERAL'"),
    ("Multiple apostrophes in single-line comment",
      "-- It's important that we don't break\nSELECT 1", "SELECT 1"),
    ("Apostrophe in multi-line comment",
      "/* Here's a comment that won't break */\nSELECT 1", "SELECT 1"),
    ("String literal spanning would-be comment area is correctly handled",
      "SELECT 'value' FROM table", "SELECT 'LITERAL' FROM table"),
    ("Complex query with comment containing quotes before string literals",
      "-- We won't filter bots\nWITH cte AS (SELECT 'xp' as exp) SELECT * FROM cte",
      "WITH cte AS (SELECT 'LITERAL' as exp) SELECT * FROM cte"),
    ("Single-line comment marker inside string literal",
      "SELECT * FROM table WHERE msg = '-- test' OR id = 1",
      "SELECT * FROM table WHERE msg = 'LITERAL' OR id = 1"),
    ("Multi-line comment marker inside string literal",
      "SELECT * FROM table WHERE msg = '/* comment */' AND id = 1",
      "SELECT * FROM table WHERE msg = 'LITERAL' AND id = 1"),
    ("Multiple comment markers inside string literal",
      "SELECT '-- /* nested */ --' FROM t", "SELECT 'LITERAL' FROM t"),
    ("Comment marker at start of string literal",
      "SELECT '--starts with dash' FROM t", "SELECT 'LITERAL' FROM t"),
    ("Real comment followed by string with comment marker",
      "-- real comment\nSELECT '-- fake comment' FROM t", "SELECT 'LITERAL' FROM t"),
    ("Unclosed multi-line comment at end", "/* unclosed comment", ""),
    ("Unclosed multi-line comment after valid SQL", "SELECT 1 /* unclosed", "SELECT 1"),
    ("Unclosed multi-line comment with trailing characters",
      "SELECT 1 /* unclosed XYZ", "SELECT 1")
  )

  sanitizerCases.foreach { case (name, q, expected) =>
    test(s"sanitizer: $name") {
      assert(ReadOnlyGuard.sanitize(q) == expected, s"query: $q")
    }
  }

  // --- Exhaustive property sweeps (upgrade over the reference's examples) ---

  private val sqlFragments = Seq(
    "SELECT * FROM t", "SELECT 1", "SHOW TABLES", "WITH c AS (SELECT 1) SELECT * FROM c")
  private val writeWords = Seq(
    "INSERT", "UPDATE", "DELETE", "DROP", "CREATE", "ALTER", "TRUNCATE", "MERGE", "GRANT")
  private val junkTexts = Seq("x", "abc123", "it's odd", "-- nested /* deep */")

  test("property: write keywords inside string literals never flip the verdict") {
    for (sql <- sqlFragments; w <- writeWords; junk <- junkTexts if !junk.contains("'")) {
      val q = s"$sql WHERE c = '$w $junk'"
      assert(ReadOnlyGuard.isReadOnly(q), s"query: $q")
    }
  }

  test("property: write keywords inside comments never flip the verdict") {
    for (sql <- sqlFragments; w <- writeWords; junk <- junkTexts if !junk.contains("*/")) {
      assert(ReadOnlyGuard.isReadOnly(s"-- $w $junk\n$sql"))
      assert(ReadOnlyGuard.isReadOnly(s"/* $w $junk */ $sql"))
    }
  }

  test("property: sanitize is idempotent") {
    for (sql <- sqlFragments; w <- writeWords; junk <- Seq("x", "abc123")) {
      val q = s"-- $junk\n$sql WHERE a = '$w' AND b = \"$junk\""
      val once = ReadOnlyGuard.sanitize(q)
      assert(ReadOnlyGuard.sanitize(once) == once, s"query: $q")
    }
  }

  test("property: a bare write statement is always rejected") {
    for (w <- writeWords; junk <- Seq("x", "tbl"))
      assert(!ReadOnlyGuard.isReadOnly(s"$w INTO $junk VALUES (1)"))
  }

  // --- randomized ScalaCheck properties ---

  private def checkProp(prop: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("scalacheck: sanitize never throws and is idempotent on arbitrary input") {
    import org.scalacheck.Prop
    checkProp(Prop.forAll { (s: String) =>
      val once = ReadOnlyGuard.sanitize(s)
      ReadOnlyGuard.sanitize(once) == once
    })
  }

  test("scalacheck: sanitized output never contains comment bodies or literal content") {
    import org.scalacheck.{Gen, Prop}
    val payload = Gen.oneOf("DROPZONE", "insertish", "xyzzy123")
    checkProp(Prop.forAll(payload) { p =>
      ReadOnlyGuard.sanitize(s"SELECT 1 -- $p") == "SELECT 1" &&
        ReadOnlyGuard.sanitize(s"SELECT 1 /* $p */") == "SELECT 1" &&
        !ReadOnlyGuard.sanitize(s"SELECT '$p'").contains(p)
    })
  }

  test("scalacheck: classifier never accepts a query with a top-level semicolon") {
    import org.scalacheck.{Gen, Prop}
    val frag = Gen.oneOf("SELECT 1", "SHOW TABLES", "SELECT * FROM t")
    checkProp(Prop.forAll(frag, frag) { (a, b) =>
      !ReadOnlyGuard.isReadOnly(s"$a; $b")
    })
  }

  test("backtick identifiers: a quote inside one cannot hide a write") {
    // the sanitizer alone reads `q'` as opening a literal that swallows
    // the INSERT up to the next quote; Spark runs it as a CTE + write
    assert(!ro("WITH `q'` AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY " +
      "'/tmp/x' USING parquet SELECT a FROM `q'` --'"))
    assert(!ro("SELECT `a\"` FROM t; DROP TABLE t --\""))
    assert(ro("SELECT 1 AS `it's`, 'x' AS `y` FROM t"))
    // a write keyword spelled as a backtick identifier is still refused
    assert(!ro("SELECT `delete` FROM t"))
  }

  test("stripTrailingSemicolon removes exactly one trailing semicolon") {
    assert(ReadOnlyGuard.stripTrailingSemicolon("SELECT 1;") == "SELECT 1")
    assert(ReadOnlyGuard.stripTrailingSemicolon("SELECT 1") == "SELECT 1")
    assert(ReadOnlyGuard.stripTrailingSemicolon("  SELECT 1 ;  ") == "SELECT 1 ")
  }
}
