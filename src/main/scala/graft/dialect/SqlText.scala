package graft.dialect

import java.util.regex.{Matcher, Pattern}

/** The one SQL text scanner. A character is *masked* when it sits
  * inside a string literal, a quoted identifier or a comment: there it
  * is data, never a keyword, a call, a parenthesis or a `?` parameter.
  *
  * The rule:
  *  - `'…'`, `"…"` and `` `…` `` run to their closing quote; a doubled
  *    quote (`''`, `""`, ` `` `) belongs to the text. A backslash is an
  *    ordinary character (Trino's rule).
  *  - `--` runs to the end of the line; a block comment runs from
  *    its opening slash-star to its matching star-slash: block comments
  *    nest, as Spark's lexer reads them (Trino's ends at the first
  *    star-slash; the text goes to Spark's parser, so Spark's reading
  *    is the one that decides what is code).
  *  - An unterminated literal, identifier or block comment masks to the
  *    end of the text.
  * The quotes and comment markers are masked too.
  *
  * Everything that reads SQL text before Spark's parser asks this
  * object: the dialect pre-pass, MATCH_RECOGNIZE detection, the
  * prepared-statement parameters and the read-only guard's backtick
  * rule. `ReadOnlyGuard.sanitize` keeps its own port of the reference's
  * state machine, whose output collapses literals instead of masking
  * them.
  */
object SqlText {

  /** Calls `region(opener, start, end)` for each masked run
    * `[start, end)`, where `opener` is its first character (one of
    * ' " ` - /). True when the text ends inside an unterminated
    * literal, identifier or block comment. */
  def scan(sql: String)(region: (Char, Int, Int) => Unit): Boolean = {
    val n = sql.length
    var open = false
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      val start = i
      if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n' && sql.charAt(i) != '\r') i += 1
        region(c, start, i)
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val end = commentEnd(sql, i)
        open = end < 0
        i = if (open) n else end
        region(c, start, i)
      } else if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') {
        // Spark lexes a star-slash outside a comment as one token (a
        // hint's end), so its slash opens no comment
        i += 2
      } else if (c == '\'' || c == '"' || c == '`') {
        val end = quotedEnd(sql, i)
        open = end < 0
        i = if (open) n else end
        region(c, start, i)
      } else i += 1
    }
    open
  }

  /** End (exclusive) of the block comment opening at `at`, or -1 when
    * it never closes. Comments nest, as in Spark's lexer: inside one,
    * each slash-star opens a level (a hint's slash-star-plus does not)
    * and each star-slash closes one. */
  private def commentEnd(sql: String, at: Int): Int = {
    var depth = 1
    var i = at + 2
    while (i + 1 < sql.length) {
      val pair = (sql.charAt(i), sql.charAt(i + 1))
      if (pair == ('*', '/')) {
        depth -= 1
        i += 2
        if (depth == 0) return i
      } else if (pair == ('/', '*') &&
          !(i + 2 < sql.length && sql.charAt(i + 2) == '+')) {
        depth += 1
        i += 2
      } else i += 1
    }
    -1
  }

  /** End (exclusive) of the literal or quoted identifier whose opening
    * quote is at `at`, or -1 when it never closes. */
  def quotedEnd(sql: String, at: Int): Int = {
    val q = sql.charAt(at)
    var i = at + 1
    while (i < sql.length) {
      if (sql.charAt(i) != q) i += 1
      else if (i + 1 < sql.length && sql.charAt(i + 1) == q) i += 2
      else return i + 1
    }
    -1
  }

  def mask(sql: String): Array[Boolean] = {
    val m = new Array[Boolean](sql.length)
    scan(sql)((_, start, end) => java.util.Arrays.fill(m, start, end, true))
    m
  }

  /** Index of the `)` matching the `(` at `open`, or -1. */
  def closeParen(sql: String, mask: Array[Boolean], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      if (!mask(i)) sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    -1
  }

  /** Bracket depth of the unmasked text before `at`: `(` and `[` open,
    * `)` and `]` close. */
  def depth(s: String, mask: Array[Boolean], at: Int): Int = {
    var d = 0
    var i = 0
    while (i < at) {
      if (!mask(i)) s.charAt(i) match {
        case '(' | '[' => d += 1
        case ')' | ']' => d -= 1
        case _ => ()
      }
      i += 1
    }
    d
  }

  /** Position `at` is code at bracket depth 0. */
  def atTop(s: String, mask: Array[Boolean], at: Int): Boolean =
    !mask(at) && depth(s, mask, at) == 0

  /** Starts of the matches of `p` in `s` that are code at depth 0. */
  def topStarts(s: String, mask: Array[Boolean], p: Pattern): Seq[Int] = {
    val m = p.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (m.find()) if (atTop(s, mask, m.start)) out += m.start
    out.toSeq
  }

  /** `s` cut at each `sep` that is code at bracket depth 0; the pieces
    * are trimmed, and empty ones are kept. */
  def splitTop(s: String, sep: Char = ','): Seq[String] = {
    val m = mask(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var d = 0
    var last = 0
    var i = 0
    while (i < s.length) {
      if (!m(i)) s.charAt(i) match {
        case '(' | '[' => d += 1
        case ')' | ']' => d -= 1
        case c if c == sep && d == 0 => out += s.substring(last, i).trim; last = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(last).trim
    out.toSeq
  }

  /** The first match of `p` that starts in code; the text is masked
    * only when `p` matches somewhere. */
  def firstUnmasked(sql: String, p: Pattern): Option[java.util.regex.MatchResult] = {
    val m = p.matcher(sql)
    if (!m.find()) return None
    val masked = mask(sql)
    do { if (!masked(m.start)) return Some(m.toMatchResult) } while (m.find())
    None
  }

  /** Replace each match of `p` whose position `at` is code, in one left
    * to right pass over one mask. A replacement must not open a new
    * literal or comment. */
  def replaceUnmasked(sql: String, p: Pattern, at: Matcher => Int = _.start)(
      f: Matcher => String): String = {
    val m = p.matcher(sql)
    if (!m.find()) return sql
    val masked = mask(sql)
    val sb = new java.lang.StringBuilder
    var last = 0
    do {
      if (!masked(at(m))) {
        sb.append(sql, last, m.start).append(f(m))
        last = m.end
      }
    } while (m.find())
    if (last == 0) sql else sb.append(sql, last, sql.length).toString
  }

  /** A match of the splice loop: the current text, its mask, and the
    * matcher on a match that starts in code. */
  class Hit private[SqlText] (val sql: String, val mask: Array[Boolean],
      val m: Matcher) {
    def closeParen(open: Int): Int = SqlText.closeParen(sql, mask, open)
  }

  /** A call `name(content)`: the pattern ends at its `(`, and `close` is
    * the matching `)`. */
  final class Call private[SqlText] (h: Hit, val close: Int)
      extends Hit(h.sql, h.mask, h.m) {
    def content: String = sql.substring(m.end, close)
    def contentMask: Array[Boolean] =
      java.util.Arrays.copyOfRange(this.mask, m.end, close)
  }

  private sealed trait Step
  private case object Pass extends Step
  private case object Stop extends Step
  private final case class Splice(from: Int, until: Int, text: String) extends Step

  /** One splice per pass: scan the matches of `p` that start in code,
    * splice the first one `step` rewrites, then re-mask and rescan (the
    * offsets have moved). Stops when a pass splices nothing, when `step`
    * says Stop, or after 64 passes. Without any match of `p` the text
    * comes back at once, unmasked. */
  private def splicePasses(sql0: String, p: Pattern)(step: Hit => Step): String = {
    if (!p.matcher(sql0).find()) return sql0
    var sql = sql0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val hit = new Hit(sql, mask(sql), p.matcher(sql))
      var next: String = null
      while (next == null && hit.m.find()) {
        if (!hit.mask(hit.m.start)) step(hit) match {
          case Pass => ()
          case Stop => return sql
          case Splice(from, until, text) =>
            next = sql.substring(0, from) + text + sql.substring(until)
        }
      }
      if (next == null) return sql
      sql = next
    }
    sql
  }

  /** The splice loop for a rewrite that bounds its own span: `f` gives
    * `(from, until, replacement)` for `sql[from, until)`, or None to
    * leave this match and scan on. */
  def rewriteMatches(sql: String, p: Pattern)(
      f: Hit => Option[(Int, Int, String)]): String =
    splicePasses(sql, p) { h =>
      f(h) match {
        case Some((from, until, text)) => Splice(from, until, text)
        case None => Pass
      }
    }

  /** The splice loop for calls: `callPattern` ends at the call's `(`,
    * and `f`'s replacement takes the place of the whole call, from the
    * match start to the closing `)`. None leaves the call and scans on;
    * an unbalanced call leaves the text as it is (Spark reports it). */
  def rewriteCalls(sql: String, callPattern: Pattern)(f: Call => Option[String]): String =
    splicePasses(sql, callPattern) { h =>
      val close = h.closeParen(h.m.end - 1)
      if (close < 0) Stop
      else f(new Call(h, close)) match {
        case Some(text) => Splice(h.m.start, close + 1, text)
        case None => Pass
      }
    }
}
