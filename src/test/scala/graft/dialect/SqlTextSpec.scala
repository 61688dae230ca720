package graft.dialect

import org.scalatest.funsuite.AnyFunSuite

import graft.service.PreparedStatements

/** The one mask rule (SqlText) and the backtick cases it fixes in the
  * pre-pass, MATCH_RECOGNIZE detection and prepared statements. */
class SqlTextSpec extends AnyFunSuite {

  /** The masked characters of `sql`, as a string of the same length:
    * '#' masked, '.' code. */
  private def shape(sql: String): String =
    SqlText.mask(sql).map(if (_) '#' else '.').mkString

  test("literals and identifiers mask their quotes, doubled quotes stay inside") {
    assert(shape("a 'it''s' b") == "..#######..")
    assert(shape("\"x\"\"y\" z") == "######..")
    assert(shape("`a``b` c") == "######..")
    // a backslash is an ordinary character: the literal closes at the quote
    assert(shape("'C:\\' x") == "#####..")
  }

  test("comments mask to their end; block comments nest") {
    assert(shape("a -- c\nb") == "..####..")
    assert(shape("a -- c\rb") == "..####..")
    assert(shape("a /* x */ b") == "..#######..")
    assert(shape("a /* x /* y */ z */ b") == "..#################..")
    // one level still open: the comment runs to the end of the text
    assert(shape("a /* x /* y */ b") == "..##############")
    assert(SqlText.scan("a /* x /* y */ b")((_, _, _) => ()))
    // a hint opener inside a comment opens no level (Spark: `/*+` is
    // never a comment)
    assert(shape("a /* /*+ x */ b") == "..###########..")
  }

  test("the mask agrees with Spark's lexer on 10,000 generated texts") {
    // fragments that open, close and hide one another; no backslash
    // (Spark escapes with it, Trino does not) and no `+` (Spark lexes
    // a top-level `/*+` as a hint, not a comment)
    val pieces = Vector("/*", "*/", "--", "'", "\"", "`", "\n", "a", " ", "*", "/", "-", "(")
    val rnd = new scala.util.Random(20261018L)
    var compared = 0
    for (_ <- 1 to 10000) {
      val sql = Seq.fill(1 + rnd.nextInt(14))(pieces(rnd.nextInt(pieces.length))).mkString
      sparkMask(sql).foreach { spark =>
        compared += 1
        val ours = SqlText.mask(sql)
        // Spark's `--` comment token also holds the line break
        val differ = sql.indices.filter(i =>
          sql(i) != '\n' && ours(i) != spark(i))
        assert(differ.isEmpty, s"[$sql] differs at $differ")
      }
    }
    // most texts lex cleanly (the rest hold an unterminated quote)
    assert(compared > 5000, compared)
  }

  test("the mask agrees with Spark's lexer on FuzzDump's queries, seeds 0-1999") {
    var compared = 0
    var skipped = 0
    for (seed <- 0L until 2000L) {
      val sql = graft.tools.FuzzDump.genQuery(seed)
      val ours = SqlText.mask(sql)
      // Spark's lexer reads a backslash in a quoted region as an escape;
      // Trino (and the mask) read it as an ordinary character
      if (sql.indices.exists(i => sql(i) == '\\' && ours(i))) skipped += 1
      else {
        val spark = sparkMask(sql)
        assert(spark.isDefined, s"Spark's lexer rejects seed $seed: [$sql]")
        compared += 1
        val differ = sql.indices.filter(i => sql(i) != '\n' && ours(i) != spark.get(i))
        assert(differ.isEmpty, s"seed $seed [$sql] differs at $differ")
      }
    }
    info(s"$compared compared, $skipped skipped (backslash in a quoted region)")
    assert(compared > 1000, compared)
  }

  /** The characters Spark's own lexer puts in a comment, string or
    * quoted identifier; None when it reports an error or a character
    * no token matches. */
  private def sparkMask(sql: String): Option[Array[Boolean]] = {
    import org.antlr.v4.runtime._
    import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    val lexer = new SqlBaseLexer(CharStreams.fromString(sql))
    var failed = false
    lexer.removeErrorListeners()
    lexer.addErrorListener(new BaseErrorListener {
      override def syntaxError(r: Recognizer[_, _], o: Any, line: Int,
          col: Int, msg: String, e: RecognitionException): Unit = failed = true
    })
    val masked = Set(SqlBaseLexer.BRACKETED_COMMENT, SqlBaseLexer.SIMPLE_COMMENT,
      SqlBaseLexer.STRING_LITERAL, SqlBaseLexer.DOUBLEQUOTED_STRING,
      SqlBaseLexer.BACKQUOTED_IDENTIFIER)
    val m = new Array[Boolean](sql.length)
    lexer.getAllTokens.forEach { t =>
      if (t.getType == SqlBaseLexer.UNRECOGNIZED) failed = true
      else if (masked(t.getType))
        java.util.Arrays.fill(m, t.getStartIndex, t.getStopIndex + 1, true)
    }
    if (failed) None else Some(m)
  }

  test("an unterminated literal, identifier or comment masks to the end") {
    assert(shape("a 'bc") == "..###")
    assert(shape("a `bc") == "..###")
    assert(shape("a /* bc") == "..#####")
    assert(shape("a 'b''") == "..####")
    assert(SqlText.scan("a 'bc")((_, _, _) => ()))
    assert(SqlText.scan("a /* b")((_, _, _) => ()))
    assert(!SqlText.scan("a 'b' -- c")((_, _, _) => ()))
  }

  test("each quote kind hides the others") {
    assert(shape("`it's` x") == "######..")
    assert(shape("'a`b' x") == "#####..")
    assert(shape("\"a'b\" x") == "#####..")
    assert(shape("'--' x") == "####..")
  }

  test("splitTop cuts at depth-0 code separators, counting ( and [") {
    assert(SqlText.splitTop("a, f(b, c), x[1, 2], 'd, e', `f,g`") ==
      Seq("a", "f(b, c)", "x[1, 2]", "'d, e'", "`f,g`"))
    assert(SqlText.splitTop("a, /* b, c */ d") == Seq("a", "/* b, c */ d"))
    assert(SqlText.splitTop("a,,b") == Seq("a", "", "b"))
    assert(SqlText.splitTop("a | b", '|') == Seq("a", "b"))
  }

  test("closeParen skips masked parentheses and reports unbalanced calls") {
    val s = "f(a, ')', (b)) + 1"
    assert(SqlText.closeParen(s, SqlText.mask(s), 1) == 13)
    val u = "f(a, (b)"
    assert(SqlText.closeParen(u, SqlText.mask(u), 1) == -1)
  }

  test("replaceUnmasked rewrites code matches only, at the chosen position") {
    val p = java.util.regex.Pattern.compile("x")
    assert(SqlText.replaceUnmasked("x 'x' `x` -- x", p)(_ => "y") == "y 'x' `x` -- x")
    val q = java.util.regex.Pattern.compile("(a)'(b)'")
    assert(SqlText.replaceUnmasked("a'b'", q, _.start(2))(_ => "z") == "a'b'")
    assert(SqlText.replaceUnmasked("a'b'", q)(_ => "z") == "z")
  }

  test("rewriteCalls splices one call per pass, nested calls included") {
    val p = java.util.regex.Pattern.compile("(?i)\\bdbl\\s*\\(")
    val out = SqlText.rewriteCalls("dbl(dbl(1)) + 'dbl(2)'", p) { c =>
      Some(s"(2 * (${c.content}))")
    }
    assert(out == "(2 * ((2 * (1)))) + 'dbl(2)'")
    // None leaves the call; an unbalanced call stops the loop unchanged
    assert(SqlText.rewriteCalls("dbl(1)", p)(_ => None) == "dbl(1)")
    assert(SqlText.rewriteCalls("dbl(1", p)(_ => Some("x")) == "dbl(1")
  }

  // --- the backtick cases, each wrong before the one rule ---

  test("pre-pass: a backtick identifier with a quote keeps literal backslashes doubled") {
    val bt = TrinoFunctions.preprocess(
      "SELECT 1 AS `it's`, regexp_extract('a1', '\\d') AS d")
    val dq = TrinoFunctions.preprocess(
      "SELECT 1 AS \"it's\", regexp_extract('a1', '\\d') AS d")
    assert(bt.endsWith("regexp_extract('a1', '\\\\d') AS d"), bt)
    assert(dq.endsWith("regexp_extract('a1', '\\\\d') AS d"), dq)
  }

  test("pre-pass: a backtick identifier with a quote leaves json_exists clauses rewritable") {
    val out = TrinoFunctions.preprocess(
      "SELECT 1 AS `it's`, json_exists(j, 'strict $.a' FALSE ON ERROR) AS e FROM t")
    assert(out.contains("json_exists(j, 'strict $.a', 'F')"), out)
  }

  test("pre-pass: a quote inside a nested block comment opens no literal") {
    // Spark reads `/* a /* b */ it's */` as one comment, so the regex
    // literal after it is code whose backslash must be doubled
    val out = TrinoFunctions.preprocess(
      "SELECT /* a /* b */ it's */ regexp_extract('a1', '\\d') AS d")
    assert(out.endsWith("regexp_extract('a1', '\\\\d') AS d"), out)
  }

  test("MATCH_RECOGNIZE inside backticks is data; a real span after one is found") {
    assert(!MatchRecognize.contains("SELECT `match_recognize` FROM t"))
    assert(MatchRecognize.contains(
      "SELECT 1 AS `it's` FROM t MATCH_RECOGNIZE (ORDER BY x PATTERN (A) DEFINE A AS true)"))
    assert(!MatchRecognize.contains("SELECT 'MATCH_RECOGNIZE' /* MATCH_RECOGNIZE */"))
  }

  test("prepared statements: a ? inside backticks, literals or comments is data") {
    assert(PreparedStatements.paramCount("SELECT `a?`, '?', ? -- ?\n, /* ? */ ?") == 2)
    assert(PreparedStatements.substitute("SELECT `a?`, ?", Seq("1")) ==
      Right("SELECT `a?`, (1)"))
    assert(PreparedStatements.splitArgs("1, 'a, b', f(2, 3)") ==
      Right(Seq("1", "'a, b'", "f(2, 3)")))
    assert(PreparedStatements.splitArgs("1, 'a").isLeft)
    assert(PreparedStatements.splitArgs("f(1, 2").isLeft)
    assert(PreparedStatements.splitArgs("1, , 2").isLeft)
  }
}
