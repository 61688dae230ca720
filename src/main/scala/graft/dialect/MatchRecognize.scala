package graft.dialect

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-pattern recognition — Trino's `MATCH_RECOGNIZE` table clause
  * (SQL:2016), the one Trino SQL construct Spark has no surface for at
  * any layer. This implements the COMMON subset, the funnel/session
  * shapes the feature is actually used for:
  *
  *  - `PARTITION BY c1[, …]`, `ORDER BY c1[, …]` (plain columns)
  *  - `MEASURES` of `FIRST(V.c[, n])`, `LAST(V.c[, n])` (logical
  *    offset navigation; out-of-range → NULL), `V.c` (≡ FINAL LAST),
  *    `COUNT(V.*)`, `COUNT(*)`, `SUM/AVG/MIN/MAX(V.c)` (and the
  *    unqualified `SUM(c)` form — the universal variable, i.e. every
  *    matched row; FINAL in ONE-ROW mode, RUNNING in ALL-ROWS mode;
  *    `AVG` always emits double — for decimal inputs the sum is exact
  *    and divided once, a documented deviation from Trino's
  *    decimal-typed avg), `MATCH_NUMBER()`, `CLASSIFIER()`, each
  *    with `AS name`. `RUNNING`/`FINAL` prefixes: RUNNING is the
  *    ALL-mode default (and a no-op in ONE-ROW mode); FINAL flips an
  *    ALL-mode navigation/aggregate measure to whole-match evaluation
  *    on every output row (Trino's semantics; invalid on
  *    MATCH_NUMBER/CLASSIFIER)
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
  *  - `DEFINE V AS <boolean sql>` in two evaluation classes:
  *    - current-row-only predicates (V's OWN qualifier, `V.price`
  *      inside DEFINE V, denotes the current row and is stripped) get
  *      the FULL Spark SQL expression surface, compiled by Catalyst to
  *      boolean flag columns before the scan;
  *    - predicates referencing ANOTHER pattern variable or SUBSET —
  *      `DEFINE C AS price <= A.price` (≡ RUNNING `LAST(A.price)`, the
  *      docs-funnel form) and explicit `FIRST/LAST(V.c[, n])`
  *      navigation — evaluate INSIDE the matcher against the in-flight
  *      assignment ([[MrPredicate]]): supported there are columns,
  *      cross-variable navigation, literals, comparisons, `IS [NOT]
  *      NULL`, `[NOT] BETWEEN`/`IN`, `AND`/`OR`/`NOT`, and `+ - * / %`
  *      arithmetic (richer SQL is rejected with a clear message — keep
  *      the predicate cross-free or precompute a column).
  *    Both classes take `PREV(col[, n])` / `NEXT(col[, n])` = the n-th
  *    previous / following ROW in the partition (physical navigation,
  *    SQL:2016; evaluated as window `lag`/`lead` before the scan;
  *    out-of-partition → NULL → no match). Variables without a
  *    DEFINE match any row (standard).
  *
  * Execution is the Spark-idiomatic shape for sequential semantics:
  * ONE hash shuffle on the partition keys + a secondary sort on
  * (partition, order) — `repartition(part).sortWithinPartitions(part,
  * order)` — then a streaming `mapPartitions` pass that runs a
  * backtracking pattern matcher per partition-key group. Matching is
  * leftmost-greedy with SKIP PAST LAST ROW, i.e. matches never overlap
  * and quantifier preference equals Trino's. DEFINE predicates are
  * evaluated by Catalyst as boolean projections BEFORE the scan (full
  * codegen; the scan consumes pre-computed flags) — the matcher itself
  * never evaluates SQL. Memory bound: one partition-key GROUP is
  * buffered at a time (the same bound Trino's operator has), capped by
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

  sealed trait MKind
  case object MFirst extends MKind
  case object MLast extends MKind
  case object MCountVar extends MKind
  case object MCountStar extends MKind
  case object MMatchNumber extends MKind
  case object MClassifier extends MKind
  /** SUM/AVG/MIN/MAX(V.c) — aggregate over the rows mapped to V
    * (varName = "" ⇒ the universal row-pattern variable: every matched
    * row). FINAL semantics in ONE ROW PER MATCH, RUNNING in ALL ROWS. */
  case object MSum extends MKind
  case object MAvg extends MKind
  case object MMin extends MKind
  case object MMax extends MKind
  /** A general MEASURES expression over navigation/aggregates
    * (`LAST(B.v) - FIRST(A.v)`, `SUM(B.v) / COUNT(B.*)`), carried as a
    * [[MrPredicate]] AST in [[Measure.ast]]. Unqualified columns mean
    * the universal variable's LAST row (FINAL = the match's last row in
    * ONE-ROW mode, the current row under RUNNING in ALL-ROWS mode). */
  case object MExpr extends MKind
  /** `offset` is the logical navigation offset of FIRST/LAST(V.c, n):
    * n-th mapped row from the start / from the end (0 = the default).
    * `finalSem`: the measure carried an explicit `FINAL` prefix —
    * meaningful only in ALL ROWS PER MATCH (evaluate over the WHOLE
    * match at every output row instead of the rows seen so far); in
    * ONE ROW PER MATCH output is FINAL regardless, as in SQL:2016. */
  case class Measure(kind: MKind, varName: String, colName: String,
      alias: String, offset: Int = 0, finalSem: Boolean = false,
      ast: Option[MrPredicate.Node] = None)

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
    * shared by Spec.vars and the measure parser's variable universe. */
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
    // expression measures resolve variable qualifiers at parse time, so
    // they need the full variable universe (pattern vars + subsets)
    val allVarsForMeasures = patternVars(pattern) ++ subsets.map(_._1)
    val measures = section("MEASURES")
      .map(splitList(_).map(parseMeasure(_, allVarsForMeasures)))
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
    val badM = measures.filter(m => (m.kind == MFirst || m.kind == MLast ||
      m.kind == MCountVar || ((m.kind == MSum || m.kind == MAvg ||
        m.kind == MMin || m.kind == MMax) && m.varName.nonEmpty)) &&
      !knownVar(m.varName))
    if (badM.nonEmpty)
      fail(s"measure references unknown variable: ${badM.map(_.varName).mkString(", ")}")
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

  private def parseMeasure(s: String, vars: Seq[String] = Seq.empty): Measure = {
    val asM = "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
    val (exprTxt, alias) = s.trim match {
      case asM(e, a) => (e.trim, a)
      case _ => fail(s"measure needs AS <name>: $s")
    }
    val firstLast = "(?is)^(FIRST|LAST)\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)\\s*(?:,\\s*(\\d+)\\s*)?\\)$".r
    val bare = "(?is)^([A-Za-z_][A-Za-z0-9_]*)\\.([A-Za-z_][A-Za-z0-9_]*)$".r
    val countVar = "(?is)^COUNT\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\.\\*\\s*\\)$".r
    val countStar = "(?is)^COUNT\\s*\\(\\s*\\*\\s*\\)$".r
    val aggFn = "(?is)^(SUM|AVG|MIN|MAX)\\s*\\(\\s*(?:([A-Za-z_][A-Za-z0-9_]*)\\.)?([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$".r
    val matchNum = "(?is)^MATCH_NUMBER\\s*\\(\\s*\\)$".r
    // CLASSIFIER() or CLASSIFIER(U) — the optional argument (a pattern
    // variable or SUBSET union) scopes the lookup to the last row
    // mapped to U (SQL:2016 / Trino)
    val classifier =
      "(?is)^CLASSIFIER\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)?\\s*\\)$".r
    // RUNNING is the default semantics in ALL ROWS PER MATCH and a
    // no-op marker in ONE ROW PER MATCH's FINAL output; FINAL flips an
    // ALL-mode measure to whole-match evaluation on every output row
    val (body, isFinal) =
      if (exprTxt.toUpperCase.startsWith("RUNNING "))
        (exprTxt.substring("RUNNING ".length).trim, false)
      else if (exprTxt.toUpperCase.startsWith("FINAL "))
        (exprTxt.substring("FINAL ".length).trim, true)
      else (exprTxt, false)
    def num(s: String): Int =
      try s.toInt
      catch { case _: NumberFormatException =>
        fail(s"navigation offset out of range: $s") }
    val m = body match {
      case firstLast(fl, v, c, off) =>
        Measure(if (fl.equalsIgnoreCase("FIRST")) MFirst else MLast, v, c,
          alias, if (off == null) 0 else num(off))
      case bare(v, c)  => Measure(MLast, v, c, alias) // FINAL LAST semantics
      case countVar(v) => Measure(MCountVar, v, "", alias)
      case countStar() => Measure(MCountStar, "", "", alias)
      case matchNum()   => Measure(MMatchNumber, "", "", alias)
      case classifier(v) =>
        if (v != null && !vars.exists(_.equalsIgnoreCase(v)))
          fail(s"CLASSIFIER argument $v is not a pattern variable or SUBSET")
        Measure(MClassifier, if (v == null) "" else v, "", alias)
      case aggFn(fn, v, c) =>
        val kind = fn.toUpperCase match {
          case "SUM" => MSum
          case "AVG" => MAvg
          case "MIN" => MMin
          case "MAX" => MMax
        }
        // unqualified SUM(c) aggregates over the universal variable
        // (every matched row) — varName "" marks that, as in SQL:2016
        Measure(kind, if (v == null) "" else v, c, alias)
      case other =>
        // the general form: an expression over navigation/aggregates —
        // `LAST(B.v) - FIRST(A.v)`, `SUM(B.v) / COUNT(B.*)`, a boolean
        // comparison — parsed into the MrPredicate AST (which raises
        // its own specific error on anything outside that grammar)
        Measure(MExpr, "", "", alias,
          ast = Some(MrPredicate.parse(other, "", vars)))
    }
    // Trino: RUNNING/FINAL prefix only navigation and aggregates —
    // MATCH_NUMBER()/CLASSIFIER() take neither
    if (isFinal && (m.kind == MMatchNumber || m.kind == MClassifier))
      fail(s"FINAL cannot prefix this measure: $exprTxt")
    m.copy(finalSem = isFinal)
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

  // ---------- planner / runner ----------

  private val DefPrefix = "__mr_def_"

  private def navColName(isPrev: Boolean, c: String, n: Int): String =
    s"__mr_${if (isPrev) "prev" else "next"}${n}_$c"

  /** Rewrite variable V's current-row DEFINE predicate for Catalyst:
    * strip V's OWN qualifier (`V.c` denotes the current row). Callers
    * route predicates naming another variable to [[MrPredicate]]
    * first ([[MrPredicate.needsInterpreter]]). Scans and strips
    * literal-aware, so a 'B.foo' inside a string constant is never
    * touched. */
  private[graft] def rewriteDefinePred(v: String, pred0: String): String = {
    val masked = SqlText.mask(pred0)
    val re = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(v) + "\\s*\\.").r
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(pred0).filterNot(m => masked(m.start)).foreach { m =>
      sb.append(pred0.substring(last, m.start)); last = m.end
    }
    sb.append(pred0.substring(last))
    sb.toString
  }

  /** Run the spec over `df`, returning the ONE-ROW-PER-MATCH relation
    * (partition columns + measures). */
  def run(df: DataFrame, spec0: Spec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // resolve every column reference case-INSENSITIVELY against the
    // input (SQL identifier semantics; fieldIndex below is exact-case)
    def resolve(c: String): String =
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        fail(s"column $c not found in input (have: ${df.columns.mkString(", ")})"))
    val spec = spec0.copy(
      partitionBy = spec0.partitionBy.map(resolve),
      orderBy = spec0.orderBy.map(resolve),
      measures = spec0.measures.map {
        case m if m.colName.nonEmpty => m.copy(colName = resolve(m.colName))
        case m => m
      })
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
    // 1. rewrite DEFINE predicates. Two evaluation classes:
    //    - a predicate over the CURRENT row only → a Catalyst boolean
    //      projection computed before the scan (full codegen);
    //    - a predicate referencing ANOTHER pattern variable's mapped
    //      rows (`DEFINE C AS price <= A.price`, Trino's docs-funnel
    //      form) → an interpreted [[MrPredicate]] AST evaluated inside
    //      the matcher against the in-flight assignment (RUNNING LAST
    //      semantics, SQL:2016). PREV/NEXT(col[, n]) are PHYSICAL
    //      navigation over the partition's row order in both classes,
    //      realized as window lag/lead computed by Catalyst BEFORE the
    //      scan; out-of-partition → NULL → no match.
    val varNames = spec.vars
    val allVarNames = varNames ++ spec.subsets.map(_._1)
    // (isPrev, resolvedCol, offset) → the lag/lead column to prepare
    val navCols =
      scala.collection.mutable.LinkedHashSet.empty[(Boolean, String, Int)]
    // PREV/NEXT accept an unqualified column or one qualified by the
    // variable being defined (PREV(B.price) in DEFINE B = the previous
    // ROW's price); a different variable's qualifier has no physical
    // meaning here and is rejected.
    val navRe = ("(?i)\\b(PREV|NEXT)\\s*\\(\\s*" +
      "(?:([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*)?([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s*(?:,\\s*(\\d+)\\s*)?\\)").r
    def rewriteNav(v: String, pred: String): String = {
      // quote-masked: a 'PREV(x)' inside a string literal is data, not
      // navigation — rewriting (or rejecting the qualified form) there
      // would corrupt a working predicate
      val masked = SqlText.mask(pred)
      val sb = new StringBuilder
      var last = 0
      navRe.findAllMatchIn(pred).filterNot(m => masked(m.start)).foreach { m =>
        val isPrev = m.group(1).equalsIgnoreCase("PREV")
        // a DIFFERENT variable's qualifier is Trino's nested-navigation
        // sugar — PREV(A.c) ≡ PREV(LAST(A.c), 1) — which is
        // hypothesis-dependent: leave the text alone and let the
        // interpreted parser carry it as a NestNav (the `A.` qualifier
        // routes the predicate there). Unknown qualifiers still fail
        // loudly here, before Catalyst can misread them.
        val foreign = Option(m.group(2)).exists(q => !q.equalsIgnoreCase(v))
        if (foreign) {
          val q = m.group(2)
          if (!allVarNames.exists(_.equalsIgnoreCase(q)))
            fail(s"${m.group(1).toUpperCase} qualifier $q in DEFINE $v " +
              "is not a pattern variable or SUBSET")
          // no rewrite: the un-advanced `last` keeps the original text
        } else {
          val c = resolve(m.group(3))
          val n = Option(m.group(4)).map(_.toInt).getOrElse(1)
          navCols += ((isPrev, c, n))
          sb.append(pred.substring(last, m.start))
            .append(navColName(isPrev, c, n))
          last = m.end
        }
      }
      sb.append(pred.substring(last))
      sb.toString
    }
    // Catalyst-evaluable defines → boolean flag text; cross-variable
    // defines → unresolved AST (column indices bound after the plan)
    val simpleDefs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val crossAsts = scala.collection.mutable.LinkedHashMap.empty[String, MrPredicate.Node]
    spec.defines.foreach { case (v, pred0) =>
      val others = allVarNames.filterNot(_.equalsIgnoreCase(v))
      val navved = rewriteNav(v, pred0)
      if (!MrPredicate.needsInterpreter(navved, others))
        // own qualifier (V.c = the current row) stripped, full SQL
        // surface via expr()
        simpleDefs(v) = rewriteDefinePred(v, navved)
      else
        crossAsts(v) = MrPredicate.parse(navved, v, allVarNames)
    }
    // PREV/NEXT inside expression MEASURES (and any PNav the textual
    // DEFINE rewrite missed) ride the same lag/lead columns: lower each
    // PNav carrier onto the nav column it needs (registered here,
    // computed by Catalyst below)
    val registerNav: (Boolean, String, Int) => String = (isPrev, c, n) => {
      val rc = resolve(c)
      navCols += ((isPrev, rc, n))
      navColName(isPrev, rc, n)
    }
    crossAsts.mapValuesInPlace((_, a) => MrPredicate.lowerPNav(a, registerNav))
    val measuresLowered = spec.measures.map { m =>
      m.ast match {
        case Some(a) => m.copy(ast = Some(MrPredicate.lowerPNav(a, registerNav)))
        case None => m
      }
    }
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
    val lagged = navCols.foldLeft(df) { case (d, (isPrev, c, n)) =>
      d.withColumn(navColName(isPrev, c, n),
        (if (isPrev) lag(col(c), n) else lead(col(c), n)).over(w))
    }
    // cross-variable defines evaluate in the matcher; their flag column
    // is a constant TRUE so the scan shape stays uniform
    val prepared = withFlags(lagged, varNames, simpleDefs.get)
    // 2. ONE shuffle on the partition keys + secondary sort — rows of a
    //    key group arrive contiguous and ordered inside each partition
    val sortCols = spec.partitionBy.map(col) ++ orderColumns
    val arranged =
      if (spec.partitionBy.nonEmpty)
        prepared.repartition(spec.partitionBy.map(col): _*)
          .sortWithinPartitions(sortCols: _*)
      else prepared.coalesce(1).sortWithinPartitions(sortCols: _*)
    // 3. output schema: ONE ROW PER MATCH = partition cols + measures;
    //    ALL ROWS PER MATCH = every input column + measures (RUNNING)
    val inSchema = arranged.schema
    def colType(c: String): DataType = inSchema(inSchema.fieldIndex(c)).dataType
    val inputCols = df.columns.toSeq // original columns, no __mr internals
    // expression measures: bind column references and infer the output
    // type now (plan time), not mid-scan
    val resolvedMeasures = measuresLowered.map { m =>
      m.ast match {
        case Some(a) => m.copy(ast = Some(MrPredicate.resolve(a, inSchema)))
        case None    => m
      }
    }
    val (measureExecs, measureFields) = planMeasures(resolvedMeasures, inSchema)
    val outSchema = StructType(
      (if (spec.allRows) inputCols.map(c => inSchema(inSchema.fieldIndex(c)))
       else spec.partitionBy.map(c => StructField(c, colType(c)))) ++
      measureFields)
    val keyIdx =
      (if (spec.allRows) inputCols else spec.partitionBy)
        .map(inSchema.fieldIndex)
    val partIdx = spec.partitionBy.map(inSchema.fieldIndex)
    // bind the cross-variable ASTs' column references to the scan
    // schema (current-row columns AND the lag/lead nav columns exist
    // there) — resolution errors surface at plan time, not mid-scan
    val crossPreds: Map[String, MrPredicate.Node] =
      crossAsts.map { case (v, ast) =>
        val resolved = MrPredicate.resolve(ast, inSchema)
        // boolean-ness checked at PLAN time — a DEFINE like `B.v + A.v`
        // must error here, not as a task failure mid-scan
        val dt = MrPredicate.exprType(resolved, inSchema)
        if (dt != BooleanType)
          fail(s"DEFINE $v must be a boolean predicate " +
            s"(got ${dt.simpleString}); add a comparison")
        v -> resolved
      }.toMap
    val matcher = new GroupMatcher(spec, keyIdx, flagIdx(varNames, inSchema),
      crossPreds, measureExecs)
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

  /** `df` plus one boolean column per pattern variable: its Catalyst
    * DEFINE (`simpleDefs`, by variable) coalesced to false, or TRUE for
    * a variable without one there (undefined, or evaluated in the
    * matcher). */
  private[graft] def withFlags(df: DataFrame, vars: Seq[String],
      simpleDefs: String => Option[String]): DataFrame =
    vars.foldLeft(df) { (d, v) =>
      d.withColumn(DefPrefix + v, coalesce( // NULL predicate = no match
        simpleDefs(v).map(p => expr(p).cast("boolean")).getOrElse(lit(true)),
        lit(false)))
    }

  /** Resolved execution form of one measure: field index instead of
    * name, output type attached for the aggregate fold, the resolved
    * expression AST for MExpr measures. */
  private[graft] case class MeasureExec(kind: MKind, varName: String,
      cIdx: Int, offset: Int, dt: DataType, finalSem: Boolean,
      ast: Option[MrPredicate.Node] = None)

  /** Resolve PARSED measures (ASTs already bound via MrPredicate
    * .resolve) against a scan schema: the execution form (field
    * indexes, output type) and the output fields, with the aggregate
    * widening and atomic-orderability gates applied. Shared by the
    * batch planner and the streaming measures face. */
  private[graft] def planMeasures(resolved: Seq[Measure],
      inSchema: StructType): (Seq[MeasureExec], Seq[StructField]) = {
    def colType(c: String): DataType = inSchema(inSchema.fieldIndex(c)).dataType
    val fields = resolved.map { m =>
      (m.kind, m.colName, m.alias) match {
        case (MExpr, _, a) =>
          StructField(a, MrPredicate.exprType(m.ast.get, inSchema))
        case (MFirst | MLast, c, a) => StructField(a, colType(c))
        case (MClassifier, _, a)    => StructField(a, StringType)
        case (MSum, c, a) => StructField(a, sumOutType(colType(c), c))
        case (MAvg, c, a) =>
          sumOutType(colType(c), c) // numeric check only
          StructField(a, DoubleType)
        case (MMin | MMax, c, a) => colType(c) match {
          case BinaryType | _: ArrayType | _: MapType | _: StructType =>
            fail(s"MIN/MAX measure requires an orderable atomic column " +
              s"($c is ${colType(c).simpleString})")
          case dt => StructField(a, dt)
        }
        case (_, _, a)              => StructField(a, LongType)
      }
    }
    val execs = resolved.zip(fields).map { case (m, f) =>
      MeasureExec(m.kind, m.varName,
        if (m.colName.nonEmpty) inSchema.fieldIndex(m.colName) else -1,
        m.offset, f.dataType, m.finalSem, m.ast)
    }
    (execs, fields)
  }

  /** Output type of SUM(c): integral → bigint (Trino's widening),
    * float/double → double, decimal → precision+10 (Spark's sum rule);
    * non-numeric rejected. Also serves as the SUM/AVG numeric gate. */
  private[graft] def sumOutType(dt: DataType, c: String): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType => DoubleType
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case other => fail(s"SUM/AVG measures require a numeric column " +
      s"($c is ${other.simpleString})")
  }

  private def toBigDec(a: Any): java.math.BigDecimal = a match {
    case b: java.math.BigDecimal  => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case n: Number => new java.math.BigDecimal(n.toString)
  }

  private def cmpAny(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Evaluate a SUM/AVG/MIN/MAX measure over the mapped rows' values.
    * Nulls are skipped (SQL aggregate semantics); all-null/empty → NULL.
    * Decimal sums are exact; AVG emits double — exact sum then ONE
    * division, i.e. CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE)/COUNT(x) —
    * so the result is order-independent for decimal inputs. */
  private[graft] def aggOver(kind: MKind, outType: DataType,
      vals: Seq[Any]): Any = {
    val nn = vals.filter(_ != null)
    if (nn.isEmpty) null
    else kind match {
      case MMin => nn.reduce((a, b) => if (cmpAny(a, b) <= 0) a else b)
      case MMax => nn.reduce((a, b) => if (cmpAny(a, b) >= 0) a else b)
      case MSum => outType match {
        case LongType =>
          java.lang.Long.valueOf(nn.map(_.asInstanceOf[Number].longValue).sum)
        case DoubleType =>
          java.lang.Double.valueOf(nn.map(_.asInstanceOf[Number].doubleValue).sum)
        case d: DecimalType =>
          nn.map(toBigDec).reduce(_ add _).setScale(d.scale)
        case other => fail(s"unexpected SUM output type: $other")
      }
      case MAvg =>
        val sumD = nn.head match {
          case _: java.math.BigDecimal | _: scala.math.BigDecimal =>
            nn.map(toBigDec).reduce(_ add _).doubleValue
          case _ => nn.map(_.asInstanceOf[Number].doubleValue).sum
        }
        java.lang.Double.valueOf(sumD / nn.length)
      case other => fail(s"aggOver does not handle $other")
    }
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
    * Catalyst flag of each pattern variable's current-row DEFINE
    * ([[withFlags]]); `crossPreds` are the DEFINEs evaluated against
    * the in-flight assignment. An output row is the `outIdx` columns of
    * its row (the match start in ONE ROW PER MATCH, each matched row in
    * ALL ROWS PER MATCH), then the measures.
    *
    * The cross-variable DEFINEs and expression measures are compiled to
    * closure trees once per deserialized copy — once per task on an
    * executor: the ASTs are what serialize, never the closures. */
  private[graft] final class GroupMatcher(spec: Spec, outIdx: Seq[Int],
      flagIdx: Map[String, Int], crossPreds: Map[String, MrPredicate.Node],
      measures: Seq[MeasureExec]) extends Serializable {

    @transient private lazy val preds: Map[String, MrPredicate.Ctx => Boolean] =
      crossPreds.map { case (v, ast) => v -> MrPredicate.compileBool(ast) }
    @transient private lazy val compiled: Array[MrPredicate.Ctx => Any] =
      measures.map(m => m.ast.map(MrPredicate.compile).orNull).toArray

    /** Real variables a measure/skip target stands for: a subset name
      * expands to its members, anything else to itself. Case-insensitive
      * (SQL identifier semantics — a DEFINE may spell a SUBSET name in
      * any case). */
    private def membersOf(v: String): Seq[String] =
      spec.subsets.collectFirst {
        case (k, ms) if k.equalsIgnoreCase(v) => ms
      }.getOrElse(Seq(v))

    private def flag(g: Array[Row], i: Int, v: String,
        acc: List[(Int, String)]): Boolean = {
      val fi = flagIdx(v)
      !g(i).isNullAt(fi) && g(i).getBoolean(fi) && (preds.get(v) match {
        case Some(pred) => pred(new MrPredicate.RowCtx(g, i, v, acc, membersOf))
        case None => true
      })
    }

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
      var i = from
      var mn = matchNo
      while (i < g.length) {
        val (end, closed) = bound(i)
        var probed = false
        val m = matchFlagsCtx(spec.pattern, if (closed) end else end + 1,
          (j, v, acc) =>
            if (j >= end) { probed = true; false } else flag(g, j, v, acc), i)
        if (probed && !closed) return (i, mn)
        if (m == null) {
          // WITH UNMATCHED ROWS (SKIP PAST LAST ROW only: matches are
          // disjoint, so a dead scan position is exactly an unmatched
          // row): the row with every measure NULL, as in Trino
          if (spec.withUnmatched) out(row(g, i, new Array[Any](measures.length)))
          i += 1
        } else if (m._2.isEmpty) {
          // EMPTY match (nullable pattern; greedy preference already
          // tried every non-empty alternative first): one output row in
          // ONE-ROW mode and in ALL-ROWS SHOW (suppressed by OMIT EMPTY
          // MATCHES); consumes nothing, so the scan always resumes at
          // the NEXT row (SQL:2016's empty-match rule, regardless of
          // AFTER MATCH SKIP mode)
          if (!spec.allRows || !spec.omitEmpty) out(row(g, i, emptyMeasures(g, mn)))
          mn += 1
          i += 1
        } else {
          if (spec.allRows)
            allRowsMeasures(g, m._2, mn).foreach { case (r, vals) => out(row(g, r, vals)) }
          else out(row(g, i, oneRowMeasures(g, m._2, i, m._1, mn)))
          mn += 1
          i = resumeIndex(spec.skip, i, m._1, m._2, membersOf)
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

    /** An EMPTY match's measures: navigation, CLASSIFIER() and
      * aggregates are NULL over the empty set, COUNT is 0,
      * MATCH_NUMBER() is assigned (SQL:2016 / Trino). */
    private def emptyMeasures(g: Array[Row], matchNo: Long): Array[Any] =
      measures.zipWithIndex.map { case (m, mi) =>
        m.kind match {
          case MCountVar | MCountStar => 0L
          case MMatchNumber => matchNo
          case MExpr => MrPredicate.coerce(compiled(mi)(
            new MrPredicate.MatchCtx(g, Nil, -1, membersOf)), m.dt)
          case _ => null
        }
      }.toArray

    /** ONE ROW PER MATCH: FINAL semantics over the whole match.
      * `assigned` is the matcher's reverse-order assignment list
      * (exclusion marks intact — excluded rows still feed
      * navigation/aggregates). */
    private def oneRowMeasures(g: Array[Row], assigned: List[(Int, String)],
        start: Int, end: Int, matchNo: Long): Array[Any] = {
      // ascending row order; exclusion marks stripped
      val asc = assigned.reverse.map { case (r, v) => (r, stripExcl(v)) }
      val byVar = asc.groupBy(_._2).map { case (k, l) => k -> l.map(_._1) }
      // "" = the universal variable (every matched row); a subset name
      // expands to the sorted union of its members' rows
      def varRows(v: String): Seq[Int] =
        if (v.isEmpty) asc.map(_._1)
        else membersOf(v) match {
          case Seq(one) => byVar.getOrElse(one, Nil)
          case ms => ms.flatMap(m => byVar.getOrElse(m, Nil)).sorted
        }
      measures.zipWithIndex.map { case (MeasureExec(kind, v, cIdx, off, dt, _, _), mi) =>
        kind match {
          case MFirst =>
            varRows(v).lift(off).map(r => g(r).get(cIdx)).orNull
          case MLast  =>
            val l = varRows(v)
            l.lift(l.length - 1 - off).map(r => g(r).get(cIdx)).orNull
          case MCountVar    => varRows(v).length.toLong
          case MCountStar   => (end - start).toLong
          case MMatchNumber => matchNo
          case MClassifier  => // last row's var, mark-stripped; with an
            // argument, the last row mapped to that variable/SUBSET
            if (v.isEmpty) assigned.headOption.map(a => stripExcl(a._2)).orNull
            else {
              val ms = membersOf(v).map(_.toLowerCase).toSet
              asc.reverseIterator.find(p => ms(p._2.toLowerCase))
                .map(_._2).orNull
            }
          case MSum | MAvg | MMin | MMax =>
            aggOver(kind, dt, varRows(v).map(r => g(r).get(cIdx)))
          case MExpr => // FINAL: the whole match; unqualified cols = last row
            MrPredicate.coerce(compiled(mi)(new MrPredicate.MatchCtx(g, asc,
              if (asc.isEmpty) -1 else asc.last._1, membersOf)), dt)
        }
      }.toArray
    }

    /** ALL ROWS PER MATCH: (rowIndex, measures) for each non-excluded
      * matched row, ascending, measures in RUNNING semantics (state as
      * of that row) unless FINAL-prefixed, CLASSIFIER() = the row's own
      * variable — Trino's ALL-mode defaults. An excluded row updates the
      * RUNNING state but yields nothing. */
    private def allRowsMeasures(g: Array[Row], assigned: List[(Int, String)],
        matchNo: Long): Seq[(Int, Array[Any])] = {
      val ascRaw = assigned.reverse // ascending row order, marks intact
      val asc = ascRaw.map { case (r, v) => (r, stripExcl(v)) }
      // whole-match structures for FINAL-prefixed measures
      val fullByVar = asc.groupBy(_._2).map { case (k, l) => k -> l.map(_._1) }
      val fullAll = asc.map(_._1)
      val total = asc.length.toLong
      val rowsOf = scala.collection.mutable
        .HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
      val allSoFar = scala.collection.mutable.ArrayBuffer.empty[Int]
      // ascending (row, strippedVar) prefix for RUNNING expression
      // measures — an immutable Vector so each row's snapshot is O(1)
      // structural sharing, not an O(n) copy per output row
      var soFarPairs = Vector.empty[(Int, String)]
      var seen = 0L
      ascRaw.flatMap { case (rowI, rawName) =>
        val excluded = rawName.nonEmpty && rawName.charAt(0) == ExclMark
        val varName = stripExcl(rawName)
        rowsOf.getOrElseUpdate(varName,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += rowI
        allSoFar += rowI
        soFarPairs :+= ((rowI, varName))
        seen += 1L
        if (excluded) None else {
        val vals = new Array[Any](measures.length)
        measures.zipWithIndex.foreach { case (MeasureExec(kind, v, cIdx, off, dt, fin, _), mi) =>
          // RUNNING (the ALL-mode default): state as of this row;
          // FINAL: the whole match on every row. "" = universal;
          // subset names expand to the union of their members' rows.
          def varRows: Seq[Int] =
            if (v.isEmpty) { if (fin) fullAll else allSoFar.toSeq }
            else membersOf(v) match {
              case Seq(one) =>
                if (fin) fullByVar.getOrElse(one, Nil)
                else rowsOf.get(one).map(_.toSeq).getOrElse(Nil)
              case ms =>
                if (fin) ms.flatMap(m => fullByVar.getOrElse(m, Nil)).sorted
                else ms.flatMap(m =>
                  rowsOf.get(m).map(_.toSeq).getOrElse(Nil)).sorted
            }
          vals(mi) = kind match {
            case MFirst => varRows.lift(off)
              .map(r => g(r).get(cIdx)).orNull
            case MLast  =>
              val l = varRows
              l.lift(l.length - 1 - off).map(r => g(r).get(cIdx)).orNull
            case MCountVar    => varRows.length.toLong
            case MCountStar   => if (fin) total else seen
            case MMatchNumber => matchNo
            case MClassifier  =>
              // RUNNING (CLASSIFIER takes no FINAL prefix — rejected at
              // parse, as in Trino): this row's own variable; with an
              // argument, the last row mapped to it so far
              if (v.isEmpty) varName
              else {
                val ms = membersOf(v).map(_.toLowerCase).toSet
                soFarPairs.reverseIterator.find(p => ms(p._2.toLowerCase))
                  .map(_._2).orNull
              }
            case MSum | MAvg | MMin | MMax =>
              aggOver(kind, dt, varRows.map(r => g(r).get(cIdx)))
            case MExpr =>
              // RUNNING (default): rows so far, unqualified cols = this
              // row; FINAL: the whole match, cols = its last row
              val ctx =
                if (fin) new MrPredicate.MatchCtx(g, asc, asc.last._1, membersOf)
                else new MrPredicate.MatchCtx(g, soFarPairs, rowI, membersOf)
              MrPredicate.coerce(compiled(mi)(ctx), dt)
          }
        }
        Some((rowI, vals))
        }
      }
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
