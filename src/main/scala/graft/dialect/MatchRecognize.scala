package graft.dialect

import scala.collection.mutable

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BasePredicate, Cast, CommonExpressionRef, Divide, Expression, GenericInternalRow, JoinedRow, Literal, MutableProjection, Predicate, SpecificInternalRow, SubqueryExpression, WindowExpression, With}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, DeclarativeAggregate, First, Last, Max, Min, Sum}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-pattern recognition — Trino's `MATCH_RECOGNIZE` table clause
  * (SQL:2016), the one Trino SQL construct Spark has no surface for at
  * any layer. This implements the COMMON subset, the funnel/session
  * shapes the feature is actually used for:
  *
  *  - `PARTITION BY c1[, …]`, `ORDER BY c1[, …]` (plain columns)
  *  - `MEASURES` of any Spark SQL expression over the row-pattern
  *    forms, each with `AS name`: `FIRST(x[, n])`, `LAST(x[, n])`
  *    (logical offset navigation; out-of-range → NULL), `V.c` (≡
  *    LAST(V.c)), `PREV/NEXT(x[, n])` (physical, nested over FIRST/LAST
  *    too), `SUM/AVG/MIN/MAX/COUNT(x)`, `COUNT(*)`, `COUNT(V.*)`,
  *    `MATCH_NUMBER()`, `CLASSIFIER([V])`. An argument `x` is an
  *    expression whose columns name one variable, or none (the
  *    universal variable: every matched row); an unqualified column
  *    outside the forms is the measure's row. `AVG` is DOUBLE: an exact
  *    sum, then one division (`CAST(SUM(x) AS DOUBLE) / COUNT(x)`), a
  *    documented deviation from Trino's decimal-typed avg.
  *    `RUNNING`/`FINAL` prefixes: RUNNING is the ALL-mode default (and a
  *    no-op in ONE-ROW mode); FINAL flips an ALL-mode measure to
  *    whole-match evaluation on every output row (Trino's semantics;
  *    invalid on MATCH_NUMBER/CLASSIFIER)
  *  - `ONE ROW PER MATCH` (the default) — output is partition columns
  *    + measures with FINAL semantics — and `ALL ROWS PER MATCH`
  *    — one output row per MATCHED row carrying every input column +
  *    RUNNING-semantics measures. EMPTY matches (nullable patterns,
  *    `PATTERN (B*)`) are real: one output row at the site (null
  *    navigation/CLASSIFIER, COUNT 0, MATCH_NUMBER assigned), the scan
  *    resuming at the next row; ONE-ROW mode always includes them,
  *    ALL-ROWS `SHOW EMPTY MATCHES` (the default) includes and
  *    `OMIT EMPTY MATCHES` suppresses them. `WITH UNMATCHED ROWS`
  *    additionally emits every unmatched row with all measures (incl.
  *    MATCH_NUMBER/CLASSIFIER) NULL — requires SKIP PAST LAST ROW,
  *    whose disjoint matches make "unmatched" well-defined, and
  *    rejects nullable patterns (an empty-match site row would be
  *    both matched and unmatched)
  *  - `SUBSET U = (A, B)` union variables, usable wherever a pattern
  *    variable is (MEASURES navigation/aggregates, AFTER MATCH SKIP
  *    TO): U's mapped rows are the union of its members' rows
  *  - `AFTER MATCH SKIP PAST LAST ROW` (the default),
  *    `SKIP TO NEXT ROW` (overlapping matches) and
  *    `SKIP TO [FIRST|LAST] <var>`
  *  - `PATTERN` over pattern variables with concatenation, alternation
  *    `|`, grouping, greedy `+` `*` `?` `{n}` `{n,}` `{n,m}` AND
  *    reluctant `+?` `*?` `??` `{n,m}?` quantifiers (patterns that can
  *    match empty rejected), `^`/`$` partition anchors, and `{- p -}`
  *    exclusions (excluded rows stay part of the match — measures and
  *    navigation see them — but are omitted from ALL-ROWS output;
  *    incompatible with WITH UNMATCHED ROWS, as in Trino)
  *  - `DEFINE V AS <boolean sql>`: any Spark SQL predicate over the
  *    same forms. V's own qualifier (`V.price` inside DEFINE V) and an
  *    unqualified column denote the row under test; another variable's
  *    `A.price` is RUNNING `LAST(A.price)`, the rows mapped so far in
  *    this hypothesis. A DEFINE that reads only the current row (and
  *    PREV/NEXT of it) is a Catalyst boolean column computed before the
  *    scan, PREV/NEXT as window lag/lead; the rest evaluate in the
  *    matcher. Out-of-partition navigation → NULL → no match; variables
  *    without a DEFINE match any row (standard).
  *
  * Both clauses are one expression language: each text is parsed once
  * by the session's SQL parser, its row-pattern forms are lowered onto
  * slots of a context row, and Spark's analyzer resolves and types the
  * rest (function lookup, coercion, decimal rules, three-valued logic).
  *
  * Execution is the Spark-idiomatic shape for sequential semantics:
  * ONE hash shuffle on the partition keys + a secondary sort on
  * (partition, order) — `repartition(part).sortWithinPartitions(part,
  * order)` — then a streaming `mapPartitions` pass that runs a
  * backtracking pattern matcher per partition-key group. Matching is
  * leftmost-greedy with SKIP PAST LAST ROW, i.e. matches never overlap
  * and quantifier preference equals Trino's. Memory bound: one
  * partition-key GROUP is buffered at a time (the same bound Trino's
  * operator has), capped by
  * `spark.graft.matchRecognize.maxGroupRows` (default 10M; a skewed
  * hot key fails with a message naming the key instead of an OOM).
  *
  * Output (ONE ROW PER MATCH): partition columns + measures, ordered
  * within the engine by nothing (compose ORDER BY outside, as in
  * Trino).
  */
object MatchRecognize {

  // ---------- spec ----------

  sealed trait Pat
  case class PVar(name: String) extends Pat
  case class PCat(items: Seq[Pat]) extends Pat
  case class PAlt(alts: Seq[Pat]) extends Pat
  /** max = None is unbounded — covers ? * + and {n[,m]}; greedy=false
    * is the reluctant form (+? *? ?? {n,m}?) — same language, lazy
    * preference: prefer the FEWEST iterations that let the rest match. */
  case class PQuant(p: Pat, min: Int, max: Option[Int],
      greedy: Boolean = true) extends Pat
  /** `^` / `$` — partition start/end anchors (consume no row). */
  case class PAnchor(start: Boolean) extends Pat
  /** `{- p -}` — exclusion: rows mapped inside are part of the match
    * (navigation/aggregates see them) but are NOT emitted in ALL ROWS
    * PER MATCH output (SQL:2016 exclusion syntax). */
  case class PExcl(p: Pat) extends Pat

  sealed trait SkipMode
  case object SkipPastLast extends SkipMode
  case object SkipToNext extends SkipMode
  /** Resume AT the first/last row mapped to `v` (overlap allowed;
    * Trino errors when the target is the match start or unmatched). */
  case class SkipToVar(first: Boolean, v: String) extends SkipMode

  /** One MEASURES entry: the expression text (RUNNING/FINAL prefix and
    * `AS alias` stripped) and its alias. `finalSem`: the measure carried
    * an explicit `FINAL` prefix — meaningful only in ALL ROWS PER MATCH
    * (evaluate over the WHOLE match at every output row instead of the
    * rows seen so far); in ONE ROW PER MATCH output is FINAL regardless,
    * as in SQL:2016. */
  case class Measure(text: String, alias: String, finalSem: Boolean = false)

  case class Spec(partitionBy: Seq[String], orderBy: Seq[String],
      measures: Seq[Measure], pattern: Pat, defines: Seq[(String, String)],
      skip: SkipMode = SkipPastLast, allRows: Boolean = false,
      withUnmatched: Boolean = false,
      subsets: Seq[(String, Seq[String])] = Seq.empty,
      omitEmpty: Boolean = false,
      /** per ORDER BY column: (ascending, nullsFirst). Empty = all
        * ascending with Trino's default null ordering (ASC → NULLS
        * LAST, DESC → NULLS FIRST — note Spark's bare asc/desc default
        * the OTHER way; the planner always passes explicit variants). */
      orderDirs: Seq[(Boolean, Boolean)] = Seq.empty) {
    /** (asc, nullsFirst) for order column i, Trino defaults. */
    def orderDir(i: Int): (Boolean, Boolean) =
      orderDirs.lift(i).getOrElse((true, false))
    lazy val vars: Seq[String] = patternVars(pattern)
    lazy val hasExclusion: Boolean = {
      def walk(p: Pat): Boolean = p match {
        case PExcl(_) => true
        case PCat(is) => is.exists(walk)
        case PAlt(as) => as.exists(walk)
        case PQuant(q, _, _, _) => walk(q)
        case _ => false
      }
      walk(pattern)
    }
    lazy val hasAnchor: Boolean = {
      def walk(p: Pat): Boolean = p match {
        case PAnchor(_) => true
        case PCat(is) => is.exists(walk)
        case PAlt(as) => as.exists(walk)
        case PQuant(q, _, _, _) => walk(q)
        case PExcl(q) => walk(q)
        case _ => false
      }
      walk(pattern)
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE: $msg")

  /** Distinct pattern variables in appearance order — the one Pat walk
    * behind Spec.vars. */
  private def patternVars(p0: Pat): Seq[String] = {
    def walk(p: Pat): Seq[String] = p match {
      case PVar(n)    => Seq(n)
      case PCat(is)   => is.flatMap(walk)
      case PAlt(as)   => as.flatMap(walk)
      case PQuant(q, _, _, _) => walk(q)
      case PExcl(q)   => walk(q)
      case PAnchor(_) => Seq.empty
    }
    walk(p0).distinct
  }

  // ---------- clause parser ----------

  /** Parse the text INSIDE `MATCH_RECOGNIZE ( … )`. Keyword-section
    * splitter first (sections arrive in SQL:2016 order), then small
    * dedicated parsers per section. */
  def parseClause(body: String): Spec = {
    val src = body.trim
    // section keywords in grammar order; each is located at top
    // parenthesis depth, case-insensitively
    val keys = Seq("PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
      "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "SUBSET", "DEFINE")
    val found = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val upper = src.toUpperCase
    val mask = SqlText.mask(src)
    // identifier-boundary check: '_' is a word character in SQL
    // identifiers (a column named pattern_id must not match PATTERN)
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    keys.foreach { k =>
      var i = 0
      while (i >= 0) {
        i = upper.indexOf(k, i)
        if (i >= 0) {
          if (SqlText.atTop(src, mask, i) &&
              (i == 0 || !wordChar(src(i - 1))) &&
              (i + k.length >= src.length || !wordChar(src(i + k.length))))
            found += ((i, k))
          i += 1
        }
      }
    }
    val ordered = found.sortBy(_._1).toSeq
    def section(k: String): Option[String] =
      ordered.zipWithIndex.collectFirst { case ((pos, `k`), idx) =>
        val end = if (idx + 1 < ordered.length) ordered(idx + 1)._1 else src.length
        src.substring(pos + k.length, end).trim
      }
    // SHOW EMPTY MATCHES is the ALL-mode default (SQL:2016): an empty
    // match emits one row (the site row's columns, measures over the
    // empty set, MATCH_NUMBER assigned); OMIT suppresses those rows.
    // ONE ROW PER MATCH always includes empty matches (no SHOW/OMIT
    // syntax exists for it, as in Trino).
    val (allRows, withUnmatched, omitEmpty) = section("ALL ROWS PER MATCH")
        .map(_.toUpperCase.replaceAll("\\s+", " ").trim) match {
      case None => (false, false, false)
      case Some("") | Some("SHOW EMPTY MATCHES") => (true, false, false)
      case Some("OMIT EMPTY MATCHES") => (true, false, true)
      case Some("WITH UNMATCHED ROWS") => (true, true, false)
      case Some(rest) =>
        fail(s"unsupported ALL ROWS PER MATCH variant: $rest")
    }
    // SUBSET U = (A, B): union variables — usable wherever a pattern
    // variable is (MEASURES navigation/aggregates, AFTER MATCH SKIP TO);
    // a subset's mapped rows are the union of its members' rows
    val subsets = section("SUBSET").map(splitList(_).map { s =>
      val m = "(?is)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*=\\s*\\(([^)]*)\\)\\s*$".r
      s.trim match {
        case m(u, members) =>
          val ms = members.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          if (ms.isEmpty) fail(s"SUBSET $u has no members")
          (u, ms)
        case other => fail(s"cannot parse SUBSET entry (want U = (A, B)): $other")
      }
    }).getOrElse(Seq.empty)
    val toVarRe =
      "(?is)^SKIP\\s+TO\\s+(?:(FIRST|LAST)\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val skip: SkipMode = section("AFTER MATCH") match {
      case None => SkipPastLast // the default
      case Some(m) if m.toUpperCase.startsWith("SKIP PAST LAST ROW") =>
        SkipPastLast
      case Some(m) if m.toUpperCase.startsWith("SKIP TO NEXT ROW") =>
        SkipToNext
      case Some(toVarRe(fl, v)) => // bare SKIP TO v = SKIP TO LAST v
        SkipToVar(fl != null && fl.equalsIgnoreCase("FIRST"), v)
      case Some(m) => fail("only AFTER MATCH SKIP PAST LAST ROW / " +
        s"SKIP TO NEXT ROW / SKIP TO [FIRST|LAST] <var> are supported (got: $m)")
    }
    val partCols = section("PARTITION BY")
      .map(splitList(_).map(parseIdent)).getOrElse(Seq.empty)
    // ORDER BY entries take an optional direction and null ordering:
    // `c [ASC|DESC] [NULLS FIRST|LAST]` — Trino defaults (ASC → NULLS
    // LAST, DESC → NULLS FIRST; DuckDB's defaults too)
    val orderEntryRe =
      "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
    val orderParsed = section("ORDER BY")
      .map(splitList(_).map { e =>
        e.trim match {
          case orderEntryRe(c, dir, nulls) =>
            val asc = dir == null || dir.equalsIgnoreCase("ASC")
            val nf =
              if (nulls != null) nulls.equalsIgnoreCase("FIRST")
              else !asc
            (parseIdent(c), asc, nf)
          case other => fail(s"cannot parse ORDER BY entry: $other")
        }
      })
      .getOrElse(fail("ORDER BY is required"))
    val orderCols = orderParsed.map(_._1)
    val orderDirs = orderParsed.map(k => (k._2, k._3))
    val patternTxt = section("PATTERN")
      .getOrElse(fail("PATTERN is required"))
    val pattern = parsePattern(patternTxt)
    // a nullable pattern produces EMPTY matches (SQL:2016) — supported
    // in ONE-ROW and ALL-ROWS SHOW/OMIT modes; rejected only combined
    // with WITH UNMATCHED ROWS, where a row that is the site of an
    // empty match would be simultaneously "in a match" and "unmatched"
    if (nullable(pattern) && withUnmatched)
      fail("a pattern that can match empty cannot combine with " +
        "WITH UNMATCHED ROWS (an empty-match site row would be both " +
        "matched and unmatched)")
    val defines = section("DEFINE").map(splitList(_).map { d =>
      val m = "(?is)^\\s*([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(.+)$".r
      d.trim match {
        case m(v, pred) => (v, pred.trim)
        case other      => fail(s"cannot parse DEFINE entry: $other")
      }
    }).getOrElse(Seq.empty)
    val measures = section("MEASURES")
      .map(splitList(_).map(parseMeasure))
      .getOrElse(Seq.empty)
    if (measures.isEmpty && !allRows)
      fail("MEASURES is required in this subset " +
        "(ONE ROW PER MATCH output is partition columns + measures)")
    val spec = Spec(partCols, orderCols, measures, pattern, defines, skip,
      allRows, withUnmatched, subsets, omitEmpty, orderDirs)
    // unmatched-row accounting relies on SKIP PAST LAST ROW's disjoint
    // matches (each row is mapped by at most one match); the
    // overlapping skip modes would need a full mapped-row set
    if (withUnmatched && skip != SkipPastLast)
      fail("WITH UNMATCHED ROWS requires AFTER MATCH SKIP PAST LAST ROW " +
        "in this subset (overlapping skip modes blur 'unmatched')")
    // Trino: exclusion syntax is not allowed WITH UNMATCHED ROWS
    if (spec.hasExclusion && withUnmatched)
      fail("pattern exclusions {- ... -} cannot combine with " +
        "WITH UNMATCHED ROWS")
    // subset sanity: members are pattern variables, names don't shadow
    subsets.foreach { case (u, ms) =>
      if (spec.vars.contains(u))
        fail(s"SUBSET $u collides with a pattern variable")
      val badMembers = ms.filterNot(spec.vars.contains)
      if (badMembers.nonEmpty)
        fail(s"SUBSET $u members not in PATTERN: ${badMembers.mkString(", ")}")
    }
    if (subsets.map(_._1).distinct.size != subsets.size)
      fail("duplicate SUBSET name")
    // a measure/skip target may name a pattern variable OR a subset
    val knownVar = (spec.vars ++ subsets.map(_._1)).toSet
    skip match {
      case SkipToVar(_, v) if !knownVar(v) =>
        fail(s"AFTER MATCH SKIP TO references unknown variable: $v")
      case _ => ()
    }
    val unknown = defines.map(_._1).filterNot(spec.vars.contains)
    if (unknown.nonEmpty)
      fail(s"DEFINE variables not in PATTERN: ${unknown.mkString(", ")}")
    spec
  }

  /** Top-level comma list entries, blanks dropped. */
  private def splitList(s: String): Seq[String] =
    SqlText.splitTop(s).filter(_.nonEmpty)

  private def parseIdent(s: String): String = {
    val t = s.trim
    val m = "^\"([^\"]+)\"$|^([A-Za-z_][A-Za-z0-9_]*)$".r
    t match {
      case m(q, b) => if (q != null) q else b
      case _ => fail(s"cannot parse identifier: $t")
    }
  }

  private def parseMeasure(s: String): Measure = {
    val asM = "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val (exprTxt, alias) = s.trim match {
      case asM(e, a) => (e.trim, a)
      case _ => fail(s"measure needs AS <name>: $s")
    }
    // RUNNING is the default semantics in ALL ROWS PER MATCH and a
    // no-op marker in ONE ROW PER MATCH's FINAL output; FINAL flips an
    // ALL-mode measure to whole-match evaluation on every output row
    val (body, isFinal) =
      if (exprTxt.toUpperCase.startsWith("RUNNING "))
        (exprTxt.substring("RUNNING ".length).trim, false)
      else if (exprTxt.toUpperCase.startsWith("FINAL "))
        (exprTxt.substring("FINAL ".length).trim, true)
      else (exprTxt, false)
    // Trino: RUNNING/FINAL prefix only navigation and aggregates —
    // MATCH_NUMBER()/CLASSIFIER() take neither
    if (isFinal && "(?is)(MATCH_NUMBER|CLASSIFIER)\\s*\\(.*".r.matches(body))
      fail(s"FINAL cannot prefix this measure: $exprTxt")
    Measure(body, alias, isFinal)
  }

  // pattern := alt ; alt := cat ('|' cat)* ; cat := quant+ ;
  // quant := atom [+*?] ; atom := VAR | '(' alt ')'
  private def parsePattern(txt0: String): Pat = {
    var txt = txt0.trim
    if (txt.startsWith("(") &&
        SqlText.closeParen(txt, SqlText.mask(txt), 0) == txt.length - 1)
      txt = txt.substring(1, txt.length - 1) // the PATTERN (...) parens
    val toks = tokenizePattern(txt)
    val (p, rest) = parseAlt(toks)
    if (rest.nonEmpty) fail(s"trailing pattern tokens: ${rest.mkString(" ")}")
    normalize(p)
  }

  /** Quantifier normalization: `{n,…}` over a NULLABLE sub-pattern is
    * language- and preference-equivalent to `{0,…}` (empty iterations
    * can always pad out the minimum — java.util.regex does exactly
    * that), and the matcher's rep() refuses empty iterations to
    * guarantee termination, so the minimum must be normalized away for
    * the two semantics to coincide. `{0,0}` matches nothing and is
    * rejected. Pinned by the differential regex test. */
  private[graft] def normalize(p: Pat): Pat = p match {
    case PVar(_)  => p
    case PAnchor(_) => p
    case PExcl(q) => PExcl(normalize(q))
    case PCat(is) => PCat(is.map(normalize))
    case PAlt(as) => PAlt(as.map(normalize))
    case PQuant(q, min, max, greedy) =>
      if (max.contains(0)) fail("quantifier {0,0} matches nothing")
      val q2 = normalize(q)
      PQuant(q2, if (nullable(q2)) 0 else min, max, greedy)
  }

  private def tokenizePattern(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if ("()|+*?,^$".contains(c)) { out += c.toString; i += 1 }
      else if (c == '{' && i + 1 < s.length && s(i + 1) == '-') {
        out += "{-"; i += 2 // exclusion open — before quantifier scan
      }
      else if (c == '-' && i + 1 < s.length && s(i + 1) == '}') {
        out += "-}"; i += 2
      }
      else if (c == '{') {
        val j = s.indexOf('}', i)
        if (j < 0) fail(s"unclosed {{ in pattern at '${s.substring(i)}'")
        out += s.substring(i, j + 1).filterNot(_.isWhitespace)
        i = j + 1
      }
      else if (Character.isLetter(c) || c == '_') {
        val j0 = i
        while (i < s.length && (Character.isLetterOrDigit(s(i)) || s(i) == '_')) i += 1
        out += s.substring(j0, i)
      } else fail(s"unsupported pattern syntax at '${s.substring(i)}' " +
        "(supported: variables, ( ) | + * ?)")
    }
    out.toList
  }

  private def parseAlt(toks: List[String]): (Pat, List[String]) = {
    val (first, rest) = parseCat(toks)
    var alts = Seq(first); var r = rest
    while (r.headOption.contains("|")) {
      val (next, r2) = parseCat(r.tail)
      alts :+= next; r = r2
    }
    (if (alts.size == 1) alts.head else PAlt(alts), r)
  }

  private def parseCat(toks: List[String]): (Pat, List[String]) = {
    var items = Seq.empty[Pat]; var r = toks
    while (r.nonEmpty && r.head != "|" && r.head != ")" && r.head != "-}") {
      val (q, r2) = parseQuant(r)
      items :+= q; r = r2
    }
    if (items.isEmpty) fail("empty pattern branch")
    (if (items.size == 1) items.head else PCat(items), r)
  }

  private def parseQuant(toks: List[String]): (Pat, List[String]) = {
    val (atom, rest) = toks match {
      case "(" :: t =>
        val (p, r) = parseAlt(t)
        r match {
          case ")" :: r2 => (p, r2)
          case _ => fail("unbalanced ( in pattern")
        }
      // PERMUTE(A, B, …) expands to the alternation of all orderings,
      // in lexicographical order of the argument positions — Trino's
      // documented preference (earlier-listed variables preferred)
      case kw :: "(" :: t if kw.equalsIgnoreCase("PERMUTE") =>
        def args(r: List[String], acc: Seq[String]): (Seq[String], List[String]) =
          r match {
            case v :: ")" :: r2 if v.head.isLetter || v.head == '_' =>
              (acc :+ v, r2)
            case v :: "," :: r2 if v.head.isLetter || v.head == '_' =>
              args(r2, acc :+ v)
            case _ => fail("PERMUTE takes a comma-separated variable list")
          }
        val (vs, r2) = args(t, Seq.empty)
        if (vs.size < 2 || vs.size > 5)
          fail(s"PERMUTE supports 2..5 variables (got ${vs.size})")
        val alts = vs.permutations.map(p => PCat(p.map(PVar))).toSeq
        (PAlt(alts): Pat, r2)
      case "^" :: t => (PAnchor(true): Pat, t)
      case "$" :: t => (PAnchor(false): Pat, t)
      case "{-" :: t =>
        val (p, r) = parseAlt(t)
        r match {
          case "-}" :: r2 => (PExcl(p): Pat, r2)
          case _ => fail("unclosed {- exclusion in pattern")
        }
      case v :: t if v.head.isLetter || v.head == '_' => (PVar(v): Pat, t)
      case other => fail(s"unexpected pattern token: ${other.headOption.getOrElse("<end>")}")
    }
    // anchors and exclusions take no quantifier (SQL:2016); a
    // following "{-" is the NEXT atom (an exclusion), not a quantifier
    atom match {
      case PAnchor(_) | PExcl(_) =>
        rest.headOption.foreach { t =>
          if (t == "+" || t == "*" || t == "?" ||
              (t.startsWith("{") && t != "{-"))
            fail(s"anchors/exclusions cannot be quantified: $t")
        }
        return (atom, rest)
      case _ => ()
    }
    // a '?' directly after a quantifier flips it reluctant (+? *? ??
    // {n,m}? — java.util.regex's lazy forms, which the differential
    // test replays natively)
    def lazyPeek(q: PQuant, r: List[String]): (Pat, List[String]) = r match {
      case "?" :: r2 => (q.copy(greedy = false), r2)
      case _         => (q, r)
    }
    rest match {
      case "+" :: r2 => lazyPeek(PQuant(atom, 1, None), r2)
      case "*" :: r2 => lazyPeek(PQuant(atom, 0, None), r2)
      case "?" :: r2 => lazyPeek(PQuant(atom, 0, Some(1)), r2)
      case t :: r2 if t.startsWith("{") && t != "{-" =>
        val m = "\\{(\\d+)(,(\\d*))?\\}".r
        def num(s: String): Int =
          try s.toInt
          catch { case _: NumberFormatException =>
            fail(s"quantifier bound out of range: $t") }
        t match {
          case m(lo, comma, hi) =>
            val min = num(lo)
            val max =
              if (comma == null) Some(min)            // {n}
              else if (hi == null || hi.isEmpty) None // {n,}
              else Some(num(hi))                      // {n,m}
            if (max.exists(_ < min))
              fail(s"quantifier max below min: $t")
            lazyPeek(PQuant(atom, min, max), r2)
          case _ => fail(s"cannot parse quantifier: $t")
        }
      case _         => (atom, rest)
    }
  }

  private[graft] def nullable(p: Pat): Boolean = p match {
    case PVar(_)         => false
    case PAnchor(_)      => true // consumes no row
    case PExcl(q)        => nullable(q)
    case PCat(is)        => is.forall(nullable)
    case PAlt(as)        => as.exists(nullable)
    case PQuant(_, 0, _, _) => true
    case PQuant(q, _, _, _) => nullable(q)
  }

  // ---------- DEFINE and MEASURES: one expression language ----------

  private val DefPrefix = "__mr_def_"
  private val SlotPrefix = "__mr_slot_"

  /** Where a slot reads its argument, given the rows mapped so far and
    * the anchor row: the row under test in DEFINE; in MEASURES the
    * match's last row (FINAL) or the output row (RUNNING). `step` is a
    * physical move in the group: PREV < 0, NEXT > 0. */
  private[graft] sealed trait Loc { def step: Int = 0 }
  /** FIRST/LAST(v, off) over v's rows ("" = every mapped row), then
    * `step` rows on. */
  private[graft] final case class AtNav(v: String, first: Boolean, off: Int,
      override val step: Int) extends Loc
  /** The anchor row, then `step` rows on. */
  private[graft] final case class AtRow(override val step: Int) extends Loc
  /** Aggregate `fn` over v's rows ("" = every mapped row). */
  private[graft] final case class OverRows(v: String, fn: String) extends Loc
  private[graft] case object MatchNumber extends Loc
  /** The variable of the last row mapped to v ("" = any variable). */
  private[graft] final case class ClassifierOf(v: String) extends Loc

  private val Aggs = Set("sum", "avg", "min", "max", "count")
  private val Forms = Aggs ++ Set("first", "last", "prev", "next", "match_number", "classifier")

  /** A row-pattern form: its name (lower case) and arguments. One-
    * argument FIRST/LAST parse as Spark's first()/last() aggregates. */
  private def form(e: Expression): Option[(String, Seq[Expression])] = e match {
    case f: UnresolvedFunction if f.nameParts.length == 1 &&
        Forms(f.nameParts.head.toLowerCase) =>
      val name = f.nameParts.head.toLowerCase
      if (f.isDistinct || f.filter.isDefined || f.ignoreNulls)
        fail(s"${name.toUpperCase} takes no DISTINCT, FILTER or IGNORE NULLS")
      Some((name, f.arguments))
    case a: AggregateExpression => a.aggregateFunction match {
      case f: First => Some(("first", Seq(f.child)))
      case l: Last => Some(("last", Seq(l.child)))
      case _ => None
    }
    case _ => None
  }

  /** A non-negative integer literal: a navigation offset. */
  private def offset(e: Expression, f: String): Int = e match {
    case Literal(n: Int, IntegerType) if n >= 0 => n
    case _ => fail(s"${f.toUpperCase} offset must be a non-negative integer literal (got $e)")
  }

  /** The one walk that lowers the row-pattern forms of parsed DEFINE and
    * MEASURES trees onto slots: each form becomes a reference to a slot
    * (a locator and an argument over the scan columns; MATCH_NUMBER's
    * and CLASSIFIER's argument is a placeholder of their type).
    * Identical slots are shared. */
  private final class Lowering(spec: Spec, columns: Seq[String]) {
    val slots = mutable.LinkedHashMap.empty[(Loc, Expression), Int]
    private val names =
      (spec.vars ++ spec.subsets.map(_._1)).map(v => v.toLowerCase -> v).toMap
    private val cols = columns.map(_.toLowerCase).toSet

    private def slot(loc: Loc, arg: Expression): Expression =
      UnresolvedAttribute(Seq(SlotPrefix + slots.getOrElseUpdate((loc, arg), slots.size)))

    private def unknown(q: String, where: String): Nothing =
      fail(s"unknown variable $q in $where: not a pattern variable or SUBSET")
    private def variable(q: String, where: String): String =
      names.getOrElse(q.toLowerCase, unknown(q, where))

    /** `V.c`: the variable V names and the column `c`; a qualifier that
      * is neither a variable nor a column (a struct) is an error. */
    private def qualified(a: UnresolvedAttribute, where: String): Option[(String, Expression)] =
      if (a.nameParts.length < 2) None
      else names.get(a.nameParts.head.toLowerCase) match {
        case Some(v) => Some((v, UnresolvedAttribute(a.nameParts.tail)))
        case None if !cols(a.nameParts.head.toLowerCase) => unknown(a.nameParts.head, where)
        case None => None
      }

    /** `e` for DEFINE `own` ("" in MEASURES) with every form lowered. */
    def lower(e: Expression, own: String, where: String): Expression = form(e) match {
      case Some((f @ ("first" | "last"), args)) => navigate(f, args, 0, where)
      case Some((f @ ("prev" | "next"), args)) =>
        if (args.isEmpty || args.length > 2) fail(s"${f.toUpperCase} takes (value[, offset]) in $where")
        val n = args.lift(1).fold(1)(offset(_, f))
        val step = if (f == "prev") -n else n
        form(args.head) match {
          case Some((g @ ("first" | "last"), inner)) => navigate(g, inner, step, where)
          case _ =>
            // PREV(A.c) of another variable is PREV(LAST(A.c))
            val (v, arg) = argument(args.head, f, where)
            if (v.isEmpty || v == own) slot(AtRow(step), arg)
            else slot(AtNav(v, first = false, 0, step), arg)
        }
      case Some(("match_number", args)) =>
        if (args.nonEmpty || own.nonEmpty) fail(s"MATCH_NUMBER() is a measure with no argument ($where)")
        slot(MatchNumber, Literal(0L))
      case Some(("classifier", args)) => args match {
        case Seq() => slot(ClassifierOf(""), Literal(""))
        case Seq(a: UnresolvedAttribute) => names.get(a.name.toLowerCase) match {
          case Some(v) => slot(ClassifierOf(v), Literal(""))
          case None => fail(s"CLASSIFIER argument ${a.name} is not a pattern variable or SUBSET ($where)")
        }
        case _ => fail(s"CLASSIFIER takes one pattern variable or SUBSET ($where)")
      }
      case Some((f, args)) => args match {
        case Seq(UnresolvedStar(target)) =>
          if (f != "count") fail(s"${f.toUpperCase}(*) is not valid in $where (only COUNT takes *)")
          slot(OverRows(target.fold("")(t => variable(t.mkString("."), where)), "count"), Literal(1))
        case Seq(a) =>
          val (v, arg) = argument(a, f, where)
          // AVG: an exact sum, then one division, as DOUBLE
          if (f == "avg") Divide(Cast(slot(OverRows(v, "sum"), arg), DoubleType),
            slot(OverRows(v, "count"), arg))
          else slot(OverRows(v, f), arg)
        case _ => fail(s"${f.toUpperCase} takes one argument in $where")
      }
      case None => e match {
        case a: UnresolvedAttribute => qualified(a, where) match {
          case Some((v, c)) => if (v == own) c else slot(AtNav(v, first = false, 0, 0), c)
          case None => a
        }
        case _ => e.mapChildren(lower(_, own, where))
      }
    }

    private def navigate(f: String, args: Seq[Expression], step: Int, where: String): Expression = {
      if (args.isEmpty || args.length > 2) fail(s"${f.toUpperCase} takes (value[, offset]) in $where")
      val (v, arg) = argument(args.head, f, where)
      slot(AtNav(v, f == "first", args.lift(1).fold(0)(offset(_, f)), step), arg)
    }

    /** A navigation or aggregate argument: the one variable its columns
      * name ("" when unqualified: the universal variable) and the
      * argument with that qualifier stripped. */
    private def argument(e: Expression, f: String, where: String): (String, Expression) = {
      val qs = mutable.LinkedHashSet.empty[String]
      def strip(x: Expression): Expression = form(x) match {
        case Some((g, _)) => fail(s"${if (Aggs(g)) "an aggregate" else "navigation"} inside a " +
          s"navigation/aggregate argument is not supported (${g.toUpperCase} in ${f.toUpperCase}, $where)")
        case None => x match {
          case a: UnresolvedAttribute => qualified(a, where) match {
            case Some((v, c)) => qs += v; c
            case None => qs += ""; a
          }
          case _ => x.mapChildren(strip)
        }
      }
      val arg = strip(e)
      if (qs.size > 1)
        fail(s"a ${f.toUpperCase} argument must reference a single pattern variable (got " +
          s"${qs.map(q => if (q.isEmpty) "unqualified" else q).mkString(", ")} in $where); " +
          "mixed or partly-unqualified references are ambiguous")
      (qs.headOption.getOrElse(""), arg)
    }
  }

  /** The matcher's half of a compiled spec, serializable and compiled
    * to projections once per task: the scan columns `in`, each slot's
    * locator and resolved argument (for OverRows, the aggregate over
    * it) with its attribute, the DEFINEs the matcher evaluates, and the
    * measures — all resolved over `in ++ slotAttrs`. */
  private[graft] final case class Program(in: Seq[Attribute], locs: IndexedSeq[Loc],
      slots: IndexedSeq[Expression], slotAttrs: IndexedSeq[Attribute],
      preds: Map[String, Expression], measures: Seq[Expression]) {
    /** The slots `e` reads. */
    def slotsOf(e: Seq[Expression]): Array[Int] =
      slotAttrs.indices.filter(k => e.exists(_.references.contains(slotAttrs(k)))).toArray
    def locsOf(e: Expression): Seq[Loc] = slotsOf(Seq(e)).toSeq.map(locs)
  }

  /** A spec's DEFINEs and MEASURES over a scan schema, parsed, lowered,
    * resolved and typed once on the driver. `flags` are the DEFINEs
    * Catalyst evaluates as boolean columns before the scan (trees over
    * the input columns and the `lags` columns: name, argument, step);
    * the rest evaluate in the matcher (`program`). */
  private[graft] final case class Compiled(flags: Map[String, Expression],
      lags: Seq[(String, Expression, Int)], program: Program, fields: Seq[StructField])

  /** Compile `spec` over `schema`. With `windows`, a DEFINE that reads
    * PREV/NEXT of the current row only is still a flag column (its
    * navigation a lag/lead window); without (a stream) it evaluates in
    * the matcher. */
  private[graft] def compile(spark: SparkSession, spec: Spec, schema: StructType,
      windows: Boolean): Compiled = {
    def parse(text: String, where: String): Expression =
      try spark.sessionState.sqlParser.parseExpression(text)
      catch { case e: AnalysisException => fail(s"cannot parse $where: ${e.getMessage}") }
    val low = new Lowering(spec, schema.fieldNames.toSeq)
    val defs = spec.defines.map { case (v, text) =>
      v -> low.lower(parse(text, s"DEFINE $v"), v, s"DEFINE $v") }
    val meas = spec.measures.map { m =>
      low.lower(parse(m.text, s"measure ${m.alias}"), "", s"measure ${m.alias}") }
    val slots = low.slots.keys.toIndexedSeq
    val in = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    // the slot arguments resolve over the scan columns; the trees over
    // the scan columns and the typed slots
    val slotExprs = slots.zip(analyze(spark, slots.map(_._2), in)).map {
      case ((OverRows(_, fn), _), arg) => aggregate(fn, arg)
      case (_, arg) => arg
    }
    val slotAttrs = slotExprs.indices.map(k =>
      AttributeReference(SlotPrefix + k, slotExprs(k).dataType)(): Attribute)
    val (defTyped, measTyped) = analyze(spark, defs.map(_._2) ++ meas, in ++ slotAttrs)
      .splitAt(defs.length)
    defs.zip(defTyped).foreach { case ((v, _), e) =>
      if (e.dataType != BooleanType) fail(s"DEFINE $v must be a boolean predicate " +
        s"(got ${e.dataType.simpleString}); add a comparison")
    }
    def slotsOf(e: Expression): Seq[Int] = e.collect {
      case UnresolvedAttribute(Seq(n)) if n.startsWith(SlotPrefix) => n.drop(SlotPrefix.length).toInt
    }
    val flags = defs.filter { case (_, e) =>
      slotsOf(e).forall(k => windows && slots(k)._1.isInstanceOf[AtRow]) }.toMap
    Compiled(flags,
      flags.values.flatMap(slotsOf).toSeq.distinct.sorted.map(k =>
        (SlotPrefix + k, slots(k)._2, slots(k)._1.step)),
      Program(in, slots.map(_._1), slotExprs, slotAttrs,
        defs.zip(defTyped).collect { case ((v, _), e) if !flags.contains(v) => v -> e }.toMap,
        measTyped),
      spec.measures.zip(measTyped).map { case (m, e) => StructField(m.alias, e.dataType) })
  }

  /** `exprs` resolved and typed by Spark's analyzer over `attrs`;
    * row-level expressions only. */
  private def analyze(spark: SparkSession, exprs: Seq[Expression],
      attrs: Seq[Attribute]): Seq[Expression] =
    if (exprs.isEmpty) Nil
    else {
      val plan = Project(exprs.zipWithIndex.map { case (e, i) => Alias(e, s"_$i")() },
        LocalRelation(attrs))
      val analyzed =
        try ColumnBridge.analyzed(spark, plan).analyzed
        catch { case e: AnalysisException => fail(e.getSimpleMessage) }
      ReplaceExpressions(analyzed) match {
        case Project(list, _: LocalRelation) if !list.exists(_.exists {
            case _: SubqueryExpression | _: AggregateExpression | _: WindowExpression => true
            case _ => false }) =>
          list.map { case Alias(c, _) => fold(inlineWith(c)); case other => other }
        case _ => fail("DEFINE and MEASURES take row-level expressions over the " +
          "row-pattern forms: no other aggregates, window functions, " +
          "generators or subqueries")
      }
    }

  /** `e` with each `With` common expression (BETWEEN's, for one)
    * inlined at its references, which the optimizer would otherwise do:
    * the matcher evaluates analyzed trees. */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp { case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id) }
  }

  /** `e` with its constant subexpressions evaluated once, as the
    * optimizer's constant folding would (a literal compared with a
    * decimal is cast once, not per row). */
  private def fold(e: Expression): Expression = e.transformDown {
    case x if x.foldable && !x.isInstanceOf[Literal] => Literal.create(x.eval(), x.dataType)
  }

  /** The row-pattern aggregate `fn` over a resolved argument. */
  private def aggregate(fn: String, arg: Expression): DeclarativeAggregate = {
    if (fn == "sum" && !arg.dataType.isInstanceOf[NumericType])
      fail(s"SUM/AVG require a numeric argument (got ${arg.dataType.simpleString})")
    val agg = fn match {
      case "sum" => Sum(arg)
      case "min" => Min(arg)
      case "max" => Max(arg)
      case _ => Count(arg)
    }
    if (agg.checkInputDataTypes().isFailure)
      fail(s"${fn.toUpperCase} cannot take ${arg.dataType.simpleString}")
    agg
  }

  // ---------- planner / runner ----------

  /** Run the spec over `df`, returning the ONE-ROW-PER-MATCH relation
    * (partition columns + measures) or the ALL-ROWS one (every input
    * column + measures). */
  def run(df: DataFrame, spec0: Spec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // resolve every column reference case-INSENSITIVELY against the
    // input (SQL identifier semantics; fieldIndex below is exact-case)
    def resolve(c: String): String =
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        fail(s"column $c not found in input (have: ${df.columns.mkString(", ")})"))
    val spec = spec0.copy(
      partitionBy = spec0.partitionBy.map(resolve),
      orderBy = spec0.orderBy.map(resolve))
    // partition-key groups are identified by Seq[Any] equality in the
    // scan — value semantics for atomic types, but NOT for binary
    // (Array[Byte] compares by reference → one logical group splits
    // per-row) and not meaningful for array/map/struct keys; reject.
    spec.partitionBy.foreach { c =>
      df.schema(df.schema.fieldIndex(c)).dataType match {
        case BinaryType | _: ArrayType | _: MapType | _: StructType =>
          fail(s"PARTITION BY column $c has type " +
            s"${df.schema(df.schema.fieldIndex(c)).dataType.simpleString}; " +
            "binary/array/map/struct partition keys are not supported " +
            "(group identity requires value-equality on atomic types)")
        case _ => ()
      }
    }
    val compiled = compile(df.sparkSession, spec, df.schema, windows = true)
    // ORDER BY direction + null ordering (Trino defaults; PREV/NEXT's
    // lag/lead windows must see the SAME order the matcher scans in)
    val orderColumns: Seq[org.apache.spark.sql.Column] =
      spec.orderBy.zipWithIndex.map { case (c, i) =>
        spec.orderDir(i) match {
          case (true, false)  => col(c).asc_nulls_last
          case (true, true)   => col(c).asc_nulls_first
          case (false, true)  => col(c).desc_nulls_first
          case (false, false) => col(c).desc_nulls_last
        }
      }
    val w = Window.partitionBy(spec.partitionBy.map(col): _*)
      .orderBy(orderColumns: _*)
    val lagged = compiled.lags.foldLeft(df) { case (d, (name, arg, step)) =>
      val a = ColumnBridge.column(arg)
      d.withColumn(name, (if (step < 0) lag(a, -step) else lead(a, step)).over(w))
    }
    val prepared = withFlags(lagged, spec.vars, compiled.flags)
    // ONE shuffle on the partition keys + secondary sort — rows of a
    // key group arrive contiguous and ordered inside each partition
    val sortCols = spec.partitionBy.map(col) ++ orderColumns
    val arranged =
      if (spec.partitionBy.nonEmpty)
        prepared.repartition(spec.partitionBy.map(col): _*)
          .sortWithinPartitions(sortCols: _*)
      else prepared.coalesce(1).sortWithinPartitions(sortCols: _*)
    // output schema: ONE ROW PER MATCH = partition cols + measures;
    // ALL ROWS PER MATCH = every input column + measures (RUNNING)
    val inSchema = arranged.schema
    val inputCols = df.columns.toSeq // original columns, no __mr internals
    val outSchema = StructType(
      (if (spec.allRows) inputCols.map(c => inSchema(inSchema.fieldIndex(c)))
       else spec.partitionBy.map(c => StructField(c, inSchema(inSchema.fieldIndex(c)).dataType))) ++
      compiled.fields)
    val keyIdx =
      (if (spec.allRows) inputCols else spec.partitionBy)
        .map(inSchema.fieldIndex)
    val partIdx = spec.partitionBy.map(inSchema.fieldIndex)
    val matcher = new GroupMatcher(spec, keyIdx, flagIdx(spec.vars, inSchema),
      compiled.program, inSchema.length)
    // Skew insurance at 100 TB: the operator buffers ONE partition-key
    // group in memory (Trino's operator has the identical bound), so a
    // pathologically hot key (one user with 10^8 events) would pressure
    // a single executor. Cap it with a clear, key-naming error instead
    // of an opaque OOM; the knob is read at PLAN time.
    val maxGroupRows = arranged.sparkSession.conf
      .get("spark.graft.matchRecognize.maxGroupRows", "10000000").toInt
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    arranged.mapPartitions { it =>
      new MatchIterator(it, partIdx, matcher, maxGroupRows)
    }(enc)
  }

  /** Each pattern variable's index in `schema`: the boolean column
    * `withFlags` added for it. */
  private[graft] def flagIdx(vars: Seq[String], schema: StructType): Map[String, Int] =
    vars.map(v => v -> schema.fieldIndex(DefPrefix + v)).toMap

  /** `df` plus one boolean column per pattern variable: its flag DEFINE
    * (`flags`, a lowered tree) coalesced to false, or TRUE for a
    * variable without one (undefined, or evaluated in the matcher). */
  private[graft] def withFlags(df: DataFrame, vars: Seq[String],
      flags: Map[String, Expression]): DataFrame =
    vars.foldLeft(df) { (d, v) =>
      d.withColumn(DefPrefix + v, coalesce( // NULL predicate = no match
        flags.get(v).map(ColumnBridge.column).getOrElse(lit(true)), lit(false)))
    }

  /** Assignments inside a `{- … -}` exclusion carry this prefix on the
    * variable name: the row is part of the match (measures/navigation
    * see it after stripping) but ALL-ROWS output skips it. */
  private[graft] val ExclMark: Char = '\u0001'
  private[graft] def stripExcl(v: String): String =
    if (v.nonEmpty && v.charAt(0) == ExclMark) v.substring(1) else v

  /** AFTER MATCH resume index: PAST LAST consumes the match; TO NEXT
    * ROW resumes right after the match START (overlap allowed); TO
    * [FIRST|LAST] v resumes AT that row of the match (Trino raises when
    * the target is the match start — infinite loop — or the variable
    * unmatched). Every mode returns an index strictly greater than
    * `start`, which is what lets the streaming face keep its retention
    * rule (rows before the next attempt index are droppable — matches
    * only extend forward). */
  private def resumeIndex(skip: SkipMode, start: Int, end: Int,
      assigned: List[(Int, String)],
      membersOf: String => Seq[String]): Int = skip match {
    case SkipPastLast => end
    case SkipToNext => start + 1
    case SkipToVar(first, v) =>
      val ms = membersOf(v).toSet
      val rowsOfV = assigned.reverse.collect {
        case (r, vn) if ms(stripExcl(vn)) => r
      }
      if (rowsOfV.isEmpty) throw new IllegalStateException(
        s"AFTER MATCH SKIP TO failed: variable $v not matched")
      val target = if (first) rowsOfV.head else rowsOfV.last
      if (target <= start) throw new IllegalStateException(
        "AFTER MATCH SKIP TO failed: cannot skip to the first " +
          "row of the match")
      target
  }

  /** The backtracking engine: (endExclusive, assignments in reverse
    * order, exclusion marks intact) of the PREFERRED match starting at
    * `start` over rows [0, n), or null. Preference: quantifiers greedy
    * (reluctant ones lazy), alternation leftmost — Trino's order.
    * `flag` also receives the in-flight assignment list so
    * cross-variable DEFINE predicates can navigate the rows mapped so
    * far in THIS hypothesis — backtracking re-tests a row with the
    * assignment state of each alternative, as SQL:2016 requires. */
  private[graft] def matchFlagsCtx(pattern: Pat, n: Int,
      flag: (Int, String, List[(Int, String)]) => Boolean,
      start: Int): (Int, List[(Int, String)]) = {
    def go(p: Pat, i: Int, acc: List[(Int, String)],
        k: (Int, List[(Int, String)]) => (Int, List[(Int, String)]),
        excl: Boolean): (Int, List[(Int, String)]) = p match {
      case PVar(v) =>
        if (i < n && flag(i, v, acc))
          k(i + 1, (i, if (excl) s"$ExclMark$v" else v) :: acc)
        else null
      case PAnchor(st) => // consumes no row; ^ = group start, $ = end
        if (if (st) i == 0 else i == n) k(i, acc) else null
      case PExcl(q) => go(q, i, acc, k, excl = true)
      case PCat(items) =>
        def chain(rest: Seq[Pat], j: Int, a: List[(Int, String)])
            : (Int, List[(Int, String)]) =
          if (rest.isEmpty) k(j, a)
          else go(rest.head, j, a, (j2, a2) => chain(rest.tail, j2, a2), excl)
        chain(items, i, acc)
      case PAlt(alts) =>
        alts.iterator.map(go(_, i, acc, k, excl)).collectFirst {
          case r if r != null => r
        }.orNull
      case PQuant(q, min, max, greedy) =>
        def rep(cnt: Int, j: Int, a: List[(Int, String)])
            : (Int, List[(Int, String)]) = {
          def more =
            if (max.forall(cnt < _))
              go(q, j, a, (j2, a2) =>
                if (j2 == j) null else rep(cnt + 1, j2, a2), excl)
            else null
          def stop = if (cnt >= min) k(j, a) else null
          if (greedy) { // prefer MORE iterations (Trino's default)
            val m = more; if (m != null) m else stop
          } else {      // reluctant: prefer the FEWEST that let the rest match
            val s = stop; if (s != null) s else more
          }
        }
        rep(0, i, acc)
    }
    go(pattern, start, Nil, (j, a) => (j, a), excl = false)
  }

  /** The one start → match → emit → resume loop over a partition-key
    * group, shared by the batch operator ([[MatchIterator]], every row
    * sealed) and the streaming face
    * ([[graft.streaming.Streams.matchRecognizeRows]], sealed up to its
    * watermark and horizon), so the two cannot drift.
    *
    * A group row carries its input columns and, at `flagIdx(v)`, the
    * flag column of each pattern variable's current-row DEFINE
    * ([[withFlags]]); `program` holds the DEFINEs evaluated against the
    * in-flight assignment and the measures. An output row is the
    * `outIdx` columns of its row (the match start in ONE ROW PER MATCH,
    * each matched row in ALL ROWS PER MATCH), then the measures.
    * `width` is the group row's column count. The program is compiled
    * to projections once per deserialized copy — once per task on an
    * executor. */
  private[graft] final class GroupMatcher(spec: Spec, outIdx: Seq[Int],
      flagIdx: Map[String, Int], program: Program, width: Int) extends Serializable {

    @transient private lazy val ev = new Evaluator(program, spec, width, membersOf)

    /** Real variables a measure/skip target stands for: a subset name
      * expands to its members, anything else to itself. Case-insensitive
      * (SQL identifier semantics — a DEFINE may spell a SUBSET name in
      * any case). */
    private def membersOf(v: String): Seq[String] =
      spec.subsets.collectFirst {
        case (k, ms) if k.equalsIgnoreCase(v) => ms
      }.getOrElse(Seq(v))

    /** Scan group `g` from start row `from`, numbering matches from
      * `matchNo` and handing each output row to `out`. `bound(i)` is
      * (end, closed) for an attempt starting at row i: it reads rows
      * [i, end) only, and `closed` says no later row can join it. An
      * open attempt that reaches `end` — matched or not — is
      * undecided (a later row could extend or alter the preferred
      * match), and the scan stops there. Returns the first undecided
      * start (g.length when none) and the next match number. */
    def scan(g: Array[Row], from: Int, matchNo: Long,
        bound: Int => (Int, Boolean), out: Row => Unit): (Int, Long) = {
      val rows = ev.rows(g)
      def flag(i: Int, v: String, acc: List[(Int, String)]): Boolean = {
        val fi = flagIdx(v)
        !g(i).isNullAt(fi) && g(i).getBoolean(fi) && ev.test(v, rows, i, acc)
      }
      var i = from
      var mn = matchNo
      while (i < g.length) {
        val (end, closed) = bound(i)
        var probed = false
        val m = matchFlagsCtx(spec.pattern, if (closed) end else end + 1,
          (j, v, acc) =>
            if (j >= end) { probed = true; false } else flag(j, v, acc), i)
        if (probed && !closed) return (i, mn)
        if (m == null) {
          // WITH UNMATCHED ROWS (SKIP PAST LAST ROW only: matches are
          // disjoint, so a dead scan position is exactly an unmatched
          // row): the row with every measure NULL, as in Trino
          if (spec.withUnmatched) out(row(g, i, new Array[Any](spec.measures.length)))
          i += 1
        } else if (m._2.isEmpty) {
          // EMPTY match (nullable pattern; greedy preference already
          // tried every non-empty alternative first): one output row in
          // ONE-ROW mode and in ALL-ROWS SHOW (suppressed by OMIT EMPTY
          // MATCHES); consumes nothing, so the scan always resumes at
          // the NEXT row (SQL:2016's empty-match rule, regardless of
          // AFTER MATCH SKIP mode). Navigation, CLASSIFIER and
          // aggregates are NULL over the empty set, COUNT is 0.
          if (!spec.allRows || !spec.omitEmpty) {
            val vals = new Array[Any](spec.measures.length)
            ev.whole.eval(rows, Nil, -1, mn, vals)
            ev.running.eval(rows, Nil, -1, mn, vals)
            out(row(g, i, vals))
          }
          mn += 1
          i += 1
        } else {
          // FINAL measures over the whole match: the match's last row
          // is the anchor ("assigned" is most recent first, exclusion
          // marks intact — excluded rows still feed the measures)
          val assigned = m._2
          val whole = new Array[Any](spec.measures.length)
          ev.whole.eval(rows, assigned, assigned.head._1, mn, whole)
          if (!spec.allRows) out(row(g, i, whole))
          else {
            // ALL ROWS PER MATCH: one row per non-excluded matched row,
            // RUNNING measures over the rows mapped up to it
            var soFar = List.empty[(Int, String)]
            assigned.reverseIterator.foreach { case a @ (r, name) =>
              soFar = a :: soFar
              if (name.isEmpty || name.charAt(0) != ExclMark) {
                val vals = whole.clone()
                ev.running.eval(rows, soFar, r, mn, vals)
                out(row(g, r, vals))
              }
            }
          }
          mn += 1
          i = resumeIndex(spec.skip, i, m._1, assigned, membersOf)
        }
      }
      (g.length, mn)
    }

    /** The `outIdx` columns of row `r`, then `mvals`. */
    private def row(g: Array[Row], r: Int, mvals: Array[Any]): Row = {
      val vals = new Array[Any](outIdx.length + mvals.length)
      outIdx.indices.foreach(k => vals(k) = g(r).get(outIdx(k)))
      System.arraycopy(mvals, 0, vals, outIdx.length, mvals.length)
      Row.fromSeq(vals.toIndexedSeq)
    }
  }

  /** A group's rows as InternalRows for the program's expressions, each
    * converted on first read (only the columns they read). */
  private final class Rows(g: Array[Row], convert: Row => InternalRow) {
    private val cache = new Array[InternalRow](g.length)
    def apply(i: Int): InternalRow = {
      var r = cache(i)
      if (r == null) { r = convert(g(i)); cache(i) = r }
      r
    }
    /** `f` at row i, NULL off the group. */
    def at(i: Int, f: InternalRow => Any): Any =
      if (i < 0 || i >= g.length) null else f(apply(i))
  }

  /** A [[Program]] compiled for one task. Its expressions read a context
    * row: the anchor group row joined with the slot row, which each
    * evaluation fills for the slots it reads from the rows mapped so far
    * (most recent first) and the anchor. */
  private final class Evaluator(p: Program, spec: Spec, width: Int,
      membersOf: String => Seq[String]) {
    private val attrs: Seq[Attribute] = p.in ++
      (p.in.length until width).map(i => AttributeReference(s"_$i", NullType)()) ++ p.slotAttrs
    private val slotRow = new GenericInternalRow(p.slots.length)
    private val context = new JoinedRow
    private val nullRow = new GenericInternalRow(width)

    private val converters: Array[(Int, Any => Any)] = {
      val read = AttributeSet((p.slots ++ p.preds.values ++ p.measures).flatMap(_.references))
      p.in.indices.collect { case i if read.contains(p.in(i)) =>
        i -> CatalystTypeConverters.createToCatalystConverter(p.in(i).dataType)
      }.toArray
    }
    def rows(g: Array[Row]): Rows = new Rows(g, r => {
      val vs = new Array[Any](width)
      converters.foreach { case (i, c) => vs(i) = c(r.get(i)) }
      new GenericInternalRow(vs)
    })

    /** Is an assigned variable name (exclusion mark and all) one of v's
      * rows? "" stands for every row. */
    private def in(v: String): String => Boolean =
      if (v.isEmpty) _ => true
      else {
        val ms = membersOf(v)
        (ms ++ ms.map(m => s"$ExclMark$m")).toSet
      }

    /** The row of FIRST/LAST(v, off) among `rev`, or -1. */
    private def nth(rev: List[(Int, String)], m: String => Boolean, first: Boolean,
        off: Int): Int =
      if (first) {
        val n = rev.count(a => m(a._2))
        if (off >= n) -1 else nth(rev, m, first = false, n - 1 - off)
      } else {
        var k = off
        var l = rev
        while (l.nonEmpty) {
          if (m(l.head._2)) { if (k == 0) return l.head._1; k -= 1 }
          l = l.tail
        }
        -1
      }

    private def value(e: Expression): InternalRow => Any = {
      val proj = MutableProjection.create(Seq(e), attrs)
      proj.initialize(0)
      val dt = e.dataType
      r => proj(r).get(0, dt)
    }

    /** One aggregate slot: Spark's own initial/update/evaluate
      * expressions folded over v's rows in row order. */
    private final class Fold(agg: DeclarativeAggregate) {
      private val buf = new SpecificInternalRow(agg.aggBufferAttributes.map(_.dataType))
      private val init = MutableProjection.create(agg.initialValues).target(buf)
      private val update = MutableProjection.create(agg.updateExpressions,
        agg.aggBufferAttributes ++ attrs).target(buf)
      private val result = MutableProjection.create(Seq(agg.evaluateExpression),
        agg.aggBufferAttributes)
      private val joined = new JoinedRow
      private var rs = new Array[Int](16)
      def apply(g: Rows, rev: List[(Int, String)], m: String => Boolean): Any = {
        init(InternalRow.empty)
        var n = 0
        var l = rev
        while (l.nonEmpty) {
          if (m(l.head._2)) {
            if (n == rs.length) rs = java.util.Arrays.copyOf(rs, 2 * n)
            rs(n) = l.head._1
            n += 1
          }
          l = l.tail
        }
        while (n > 0) { n -= 1; update(joined(buf, g(rs(n)))) } // row order
        result(buf).get(0, agg.dataType)
      }
    }

    private type Reader = (Rows, List[(Int, String)], Int, Long) => Any
    private val live: Set[Int] = p.slotsOf(p.preds.values.toSeq ++ p.measures).toSet
    private val readers: Array[Reader] = p.locs.indices.map[Reader] { k =>
      if (!live(k)) null
      else (p.locs(k), p.slots(k)) match {
        case (MatchNumber, _) => (_, _, _, mn) => mn
        case (ClassifierOf(v), _) =>
          val m = in(v)
          (_, rev, _, _) => rev.find(a => m(a._2))
            .map(a => UTF8String.fromString(stripExcl(a._2))).orNull
        case (AtRow(step), e) =>
          val f = value(e)
          (g, _, anchor, _) => if (anchor < 0) null else g.at(anchor + step, f)
        case (AtNav(v, first, off, step), e) =>
          val (f, m) = (value(e), in(v))
          (g, rev, _, _) => {
            val r = nth(rev, m, first, off)
            if (r < 0) null else g.at(r + step, f)
          }
        case (OverRows(v, _), agg: DeclarativeAggregate) =>
          val (fold, m) = (new Fold(agg), in(v))
          (g, rev, _, _) => fold(g, rev, m)
        case (loc, e) => throw new IllegalStateException(s"slot $loc over $e")
      }
    }.toArray

    private def fill(ids: Array[Int], g: Rows, rev: List[(Int, String)], anchor: Int,
        matchNo: Long): Unit = {
      var k = 0
      while (k < ids.length) {
        slotRow.update(ids(k), readers(ids(k))(g, rev, anchor, matchNo))
        k += 1
      }
    }

    private val preds: Map[String, (BasePredicate, Array[Int])] =
      p.preds.map { case (v, e) =>
        val pred = Predicate.create(e, attrs)
        pred.initialize(0)
        v -> ((pred, p.slotsOf(Seq(e))))
      }

    /** DEFINE v at row i, tentatively mapped after `acc`. */
    def test(v: String, g: Rows, i: Int, acc: List[(Int, String)]): Boolean =
      preds.get(v) match {
        case None => true
        case Some((pred, ids)) =>
          fill(ids, g, (i, v) :: acc, i, 0L)
          pred.eval(context(g(i), slotRow))
      }

    /** Measures evaluated together over one anchor and one assignment;
      * `idx` are their positions in the output. */
    final class Measures(idx: Array[Int]) {
      private lazy val es = idx.toSeq.map(p.measures)
      private lazy val proj = {
        val m = MutableProjection.create(es, attrs)
        m.initialize(0)
        m
      }
      private lazy val ids = p.slotsOf(es)
      private lazy val types = es.map(_.dataType).toArray
      private lazy val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
      def eval(g: Rows, rev: List[(Int, String)], anchor: Int, matchNo: Long,
          out: Array[Any]): Unit = if (idx.nonEmpty) {
        fill(ids, g, rev, anchor, matchNo)
        val r = proj(context(if (anchor < 0) nullRow else g(anchor), slotRow))
        var k = 0
        while (k < idx.length) { out(idx(k)) = toScala(k)(r.get(k, types(k))); k += 1 }
      }
    }
    /** FINAL measures (every measure in ONE ROW PER MATCH) and RUNNING
      * ones. */
    val (whole, running) = {
      val (f, r) = spec.measures.indices.partition(i => !spec.allRows || spec.measures(i).finalSem)
      (new Measures(f.toArray), new Measures(r.toArray))
    }
  }

  /** The batch operator over one sorted partition: streams one
    * partition-key GROUP at a time and scans it with every row sealed. */
  private class MatchIterator(rows: Iterator[Row], partIdx: Seq[Int],
      matcher: GroupMatcher, maxGroupRows: Int) extends Iterator[Row] {

    private val buf = rows.buffered
    private val out = scala.collection.mutable.Queue.empty[Row]

    private def groupKey(r: Row): Seq[Any] = partIdx.map(r.get)

    /** Field-by-field partition-key equality — the per-row Seq
      * allocation of groupKey(r) == key measured as real overhead on
      * 600k-row scans (one Seq + Seq.equals per input row). */
    private def sameKey(a: Row, b: Row): Boolean = {
      var i = 0
      while (i < partIdx.length) {
        val x = a.get(partIdx(i))
        val y = b.get(partIdx(i))
        if (x == null) { if (y != null) return false }
        else if (!x.equals(y)) return false
        i += 1
      }
      true
    }

    private def nextGroup(): Array[Row] = {
      val g = scala.collection.mutable.ArrayBuffer.empty[Row]
      if (!buf.hasNext) return Array.empty
      val key = buf.head
      while (buf.hasNext && sameKey(buf.head, key)) {
        g += buf.next()
        if (g.length > maxGroupRows)
          throw new IllegalStateException(
            "MATCH_RECOGNIZE partition-key group " +
              groupKey(key).mkString("(", ", ", ")") +
              s" exceeds spark.graft.matchRecognize.maxGroupRows " +
              s"($maxGroupRows): the operator buffers one group per " +
              "executor (Trino's bound is identical) — raise the knob, " +
              "reduce the hot key's rows with a pre-filter, or add a " +
              "coarser time bucket to PARTITION BY")
      }
      g.toArray
    }

    private def fill(): Unit =
      while (out.isEmpty && buf.hasNext) {
        val g = nextGroup()
        matcher.scan(g, 0, 1L, _ => (g.length, true), r => out += r)
      }

    override def hasNext: Boolean = { fill(); out.nonEmpty }
    override def next(): Row = { fill(); out.dequeue() }
  }

  // ---------- SQL statement splice (the service face) ----------

  private val MrToken = java.util.regex.Pattern.compile("(?i)\\bMATCH_RECOGNIZE\\b")

  /** `sql` holds a MATCH_RECOGNIZE keyword outside literals, quoted
    * identifiers and comments. */
  def contains(sql: String): Boolean = SqlText.firstUnmasked(sql, MrToken).isDefined

  /** Replace every `<relation> MATCH_RECOGNIZE ( … )` span in `sql`
    * with a placeholder relation name (`__match_recognize_<i>`) and
    * compute each span's result. `relate(relation, earlier)` plans the
    * relation text through the caller's statement rules, given the
    * spans computed so far (a later span's relation may read an earlier
    * placeholder). Right = the spliced text and each placeholder's
    * result, in splice order; Left = a user-facing parse/validation
    * error. Nothing is registered in the catalog. */
  def spliceAll(sql: String,
      relate: (String, Seq[(String, DataFrame)]) => DataFrame)
      : Either[String, (String, Seq[(String, DataFrame)])] = {
    try {
      var cur = sql
      val spans = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
      var kw = SqlText.firstUnmasked(cur, MrToken)
      var guard = 0
      while (kw.isDefined) {
        guard += 1
        if (guard > 16) fail("too many MATCH_RECOGNIZE clauses")
        val mask = SqlText.mask(cur)
        val (kwStart, kwEnd) = (kw.get.start, kw.get.end)
        // relation: scan LEFT from the keyword over a subquery or a
        // (possibly qualified/quoted) table name
        val relEnd = {
          var i = kwStart - 1
          while (i >= 0 && cur(i).isWhitespace) i -= 1
          i + 1
        }
        val relStart =
          if (relEnd > 0 && cur(relEnd - 1) == ')') {
            var d = 0; var i = relEnd - 1; var open = -1
            while (i >= 0 && open < 0) {
              if (!mask(i) && cur(i) == ')') d += 1
              else if (!mask(i) && cur(i) == '(') { d -= 1; if (d == 0) open = i }
              i -= 1
            }
            if (open < 0) fail("cannot find relation before MATCH_RECOGNIZE")
            open
          } else {
            // quoted parts ("…" or `…`) are masked, so they walk too
            var i = relEnd - 1
            while (i >= 0 && (mask(i) || Character.isLetterOrDigit(cur(i)) ||
              cur(i) == '_' || cur(i) == '.')) i -= 1
            i + 1
          }
        if (relStart >= relEnd) fail("cannot find relation before MATCH_RECOGNIZE")
        val relation = cur.substring(relStart, relEnd).trim
        // clause body: balanced parens after the keyword
        var j = kwEnd
        while (j < cur.length && cur(j).isWhitespace) j += 1
        if (j >= cur.length || cur(j) != '(')
          fail("expected ( after MATCH_RECOGNIZE")
        val bodyEnd = SqlText.closeParen(cur, mask, j)
        if (bodyEnd < 0) fail("unbalanced MATCH_RECOGNIZE parentheses")
        val spec = parseClause(cur.substring(j + 1, bodyEnd))
        val placeholder = s"__match_recognize_${spans.length}"
        spans += placeholder -> run(relate(relation, spans.toSeq), spec)
        cur = cur.substring(0, relStart) + placeholder + cur.substring(bodyEnd + 1)
        kw = SqlText.firstUnmasked(cur, MrToken)
      }
      Right((cur, spans.toSeq))
    } catch {
      case e: IllegalArgumentException => Left(e.getMessage)
    }
  }
}
