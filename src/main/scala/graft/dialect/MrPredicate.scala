package graft.dialect

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Interpreted DEFINE predicates for MATCH_RECOGNIZE cross-variable
  * references.
  *
  * A DEFINE whose predicate references only the current row is compiled
  * to a Catalyst boolean projection BEFORE the scan (full codegen — see
  * [[MatchRecognize.run]]). But SQL:2016 also lets a DEFINE reference
  * OTHER pattern variables' mapped rows — `DEFINE C AS totalprice <=
  * A.totalprice` in Trino's own docs funnel — and those values depend on
  * the match hypothesis being explored, so they cannot be precomputed.
  * This module evaluates exactly that class: a small expression AST over
  *
  *  - current-row columns (unqualified, or qualified by the variable
  *    being defined — both denote the row under test),
  *  - cross-variable navigation `V.c` (≡ RUNNING `LAST(V.c)`: the last
  *    row mapped to V so far in this match attempt, the current row
  *    included when it is tentatively mapped to a member of V),
  *    `FIRST(V.c[, n])` / `LAST(V.c[, n])` with logical offsets, V a
  *    pattern variable or SUBSET union variable; no mapped row → NULL,
  *  - RUNNING aggregates over mapped rows — `SUM/AVG/MIN/MAX([V.]c)`,
  *    `COUNT(*)`/`COUNT(V.*)`/`COUNT([V.]c)` — e.g. `DEFINE A AS
  *    SUM(A.v) <= 100`, the greedy sequence-packing idiom (decimal
  *    sums exact; AVG emits double, one division),
  *  - literals (numbers, 'strings', TRUE/FALSE/NULL),
  *  - comparisons `= <> != < <= > >=`, `IS [NOT] NULL`,
  *    `[NOT] BETWEEN a AND b`, `[NOT] IN (literal, …)`,
  *  - `AND` / `OR` / `NOT` with SQL three-valued logic (an unknown
  *    top-level result is no-match, as for the Catalyst path),
  *  - arithmetic `+ - * / %` and unary minus (`/` divides as double —
  *    Spark's SQL semantics, matching the precomputed-flag path).
  *
  * `PREV`/`NEXT` never reach this parser: [[MatchRecognize.run]]
  * rewrites them to window lag/lead columns first (physical navigation
  * is hypothesis-independent), so they arrive here as plain current-row
  * columns. Richer SQL (function calls, CASE, subqueries) is rejected
  * with a clear message — use a non-cross DEFINE (full Catalyst surface)
  * or precompute the column on the input relation.
  *
  * Numeric comparison/arithmetic widens exactly, not lossily: decimal if
  * either side is decimal, double if either side floats, else long —
  * the same lattice Spark applies to these operators.
  */
object MrPredicate {

  // ---------- AST ----------

  sealed trait Node extends Serializable
  /** Literal: Long, java.math.BigDecimal, String, java.lang.Boolean, or
    * null. */
  case class Lit(v: Any) extends Node
  /** Current-row column; `idx` resolved against the scan schema. */
  case class Cur(name: String, idx: Int = -1) extends Node
  /** `FIRST/LAST(V.c, off)` over the rows mapped to V so far. */
  case class Nav(v: String, colName: String, first: Boolean, off: Int,
      idx: Int = -1) extends Node
  /** RUNNING aggregate over the rows mapped so far (SQL:2016 lets a
    * DEFINE hold aggregates — `SUM(A.v) <= 100` is the greedy
    * sequence-packing idiom): fn ∈ sum/avg/min/max/count; v = "" is the
    * universal variable; count with colName "" counts rows
    * (`COUNT(*)` / `COUNT(V.*)`), otherwise non-null values. */
  case class Agg(fn: String, v: String, colName: String,
      idx: Int = -1) extends Node
  /** `PREV/NEXT(col[, n])` — PHYSICAL navigation (the n-th
    * previous/following partition ROW). Only a parse-time carrier: the
    * planner lowers it onto the window lag/lead column it prepares
    * before the scan (a plain [[Cur]] by then), so it never reaches
    * typing or evaluation. DEFINE texts rewrite PREV/NEXT before this
    * parser runs; MEASURES expressions carry them through this node. */
  case class PNav(isPrev: Boolean, colName: String, n: Int) extends Node
  /** NESTED navigation — SQL:2016's `PREV(LAST(V.c[, m])[, n])` /
    * `NEXT(FIRST(V.c[, m])[, n])` (a qualified `PREV(V.c[, n])` is
    * sugar for `PREV(LAST(V.c), n)`, as in Trino): resolve the LOGICAL
    * navigation to a mapped row, then step `n` PHYSICAL partition rows
    * from it. Physical navigation is hypothesis-independent, so this is
    * exactly logical navigation over the lag/lead column the planner
    * prepares — `PREV(LAST(V.c), n)` ≡ `LAST(V.__mr_lag_n_c)` — and the
    * node is a parse-time carrier lowered by [[lowerPNav]] onto a
    * [[Nav]] over that column; it never reaches typing or evaluation. */
  case class NestNav(isPrev: Boolean, v: String, colName: String,
      first: Boolean, off: Int, n: Int) extends Node
  /** Navigation over an EXPRESSION — SQL:2016's `LAST(B.price + B.tax)`
    * (all column references inside the argument must share one
    * qualifier, or all be unqualified = the universal variable): find
    * the mapped row exactly as [[Nav]] does, then evaluate `expr`
    * (column refs are [[Cur]] nodes, read AT that row). A non-zero
    * `step` adds an outer PHYSICAL move — `PREV(LAST(B.price + B.tax),
    * n)` carries step = −n, NEXT +n — applied to the resolved row index
    * within the partition (out of partition → NULL). */
  case class NavX(v: String, first: Boolean, off: Int, expr: Node,
      step: Int = 0) extends Node
  /** Aggregate over an EXPRESSION — `SUM(A.price * (1 - A.disc))`:
    * evaluate `expr` at each row mapped to `v` (row order), then fold
    * with the same SQL rules as [[Agg]] (nulls skipped, exact decimal
    * sums, AVG → double). */
  case class AggX(fn: String, v: String, expr: Node) extends Node
  /** `PREV/NEXT(expr[, n])` over an EXPRESSION (not a bare column):
    * evaluate `expr` at the row `step` (signed) physical rows from the
    * anchor — the row under test in DEFINE, the measure's row in
    * MEASURES; off the partition → NULL. The bare-column form keeps the
    * codegen'd lag/lead path ([[PNav]]); this interpreted node exists
    * for composite arguments like `PREV(price + tax)`. */
  case class PNavX(step: Int, expr: Node) extends Node
  /** A variable-qualified column reference INSIDE a navigation or
    * aggregate argument (`B.price` in `LAST(B.price + B.tax)`; v = ""
    * when unqualified). Parse-time only: the argument's sole qualifier
    * becomes the [[NavX]]/[[AggX]] variable and every QCol collapses to
    * a [[Cur]] read at the navigated row. */
  private case class QCol(v: String, name: String) extends Node
  case class Cmp(op: String, l: Node, r: Node) extends Node
  case class Arith(op: Char, l: Node, r: Node) extends Node
  case class Neg(e: Node) extends Node
  case class And(l: Node, r: Node) extends Node
  case class Or(l: Node, r: Node) extends Node
  case class Not(e: Node) extends Node
  case class IsNull(e: Node, negated: Boolean) extends Node

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE: $msg")

  /** The single variable a navigation/aggregate ARGUMENT may reference
    * (SQL:2016/Trino: mixed qualifiers inside one argument are an
    * error); "" when every reference is unqualified (the universal
    * variable) or the argument has no column references at all. */
  private def soleQualifier(e: Node, what: String): String = {
    val qs = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(n: Node): Unit = n match {
      case QCol(v, _)    => qs += v
      case Cmp(_, l, r)  => walk(l); walk(r)
      case Arith(_, l, r) => walk(l); walk(r)
      case And(l, r)     => walk(l); walk(r)
      case Or(l, r)      => walk(l); walk(r)
      case Neg(x)        => walk(x)
      case Not(x)        => walk(x)
      case IsNull(x, _)  => walk(x)
      case _             => ()
    }
    walk(e)
    val distinct = qs.map(_.toLowerCase)
    if (distinct.size > 1)
      fail(s"$what must reference a single pattern variable " +
        s"(got ${qs.mkString(", ")}); mixed or partly-unqualified " +
        "references are ambiguous")
    qs.headOption.getOrElse("")
  }

  /** Does the AST use PHYSICAL navigation in any form (PREV/NEXT over a
    * column, an expression, or wrapping FIRST/LAST)? The streaming face
    * rejects those — physical navigation needs a bounded partition
    * window that an unbounded stream does not have. */
  def usesPhysicalNav(n: Node): Boolean = n match {
    case _: PNav | _: NestNav | _: PNavX => true
    case NavX(_, _, _, e, s) => s != 0 || usesPhysicalNav(e)
    case AggX(_, _, e)  => usesPhysicalNav(e)
    case Cmp(_, l, r)   => usesPhysicalNav(l) || usesPhysicalNav(r)
    case Arith(_, l, r) => usesPhysicalNav(l) || usesPhysicalNav(r)
    case And(l, r)      => usesPhysicalNav(l) || usesPhysicalNav(r)
    case Or(l, r)       => usesPhysicalNav(l) || usesPhysicalNav(r)
    case Neg(e)         => usesPhysicalNav(e)
    case Not(e)         => usesPhysicalNav(e)
    case IsNull(e, _)   => usesPhysicalNav(e)
    case _              => false
  }

  /** Streaming lowering of backward PHYSICAL navigation: the per-user
    * state buffer IS the ordered partition prefix, so PREV(col, n) at
    * buffer row j is exactly an expression-navigation read at j-n —
    * [[PNavX]]/[[NavX]] already implement that (null off the buffer
    * start, which is the partition start for a user's first rows and
    * the retained-context boundary after eviction; the caller keeps
    * [[maxPrevDepth]] context rows so in-horizon reads never truncate).
    * NEXT stays with the caller's reject — its target row may not have
    * arrived. */
  def lowerPrevForBuffer(n: Node): Node = n match {
    case PNav(true, c, k) => PNavX(-k, Cur(c))
    case NestNav(true, v, c, f, off, k) => NavX(v, f, off, Cur(c), -k)
    case NavX(v, f, o, e, s) => NavX(v, f, o, lowerPrevForBuffer(e), s)
    case AggX(fn, v, e)  => AggX(fn, v, lowerPrevForBuffer(e))
    case PNavX(s, e)     => PNavX(s, lowerPrevForBuffer(e))
    case Cmp(op, l, r)   => Cmp(op, lowerPrevForBuffer(l), lowerPrevForBuffer(r))
    case Arith(op, l, r) => Arith(op, lowerPrevForBuffer(l), lowerPrevForBuffer(r))
    case And(l, r)       => And(lowerPrevForBuffer(l), lowerPrevForBuffer(r))
    case Or(l, r)        => Or(lowerPrevForBuffer(l), lowerPrevForBuffer(r))
    case Neg(e)          => Neg(lowerPrevForBuffer(e))
    case Not(e)          => Not(lowerPrevForBuffer(e))
    case IsNull(e, neg)  => IsNull(lowerPrevForBuffer(e), neg)
    case other           => other
  }

  /** Any FORWARD physical step (NEXT in any spelling)? Those cannot run
    * over a stream — the target row may not exist yet. */
  def usesNextNav(n: Node): Boolean = n match {
    case PNav(p, _, _)             => !p
    case NestNav(p, _, _, _, _, _) => !p
    case PNavX(s, e)      => s > 0 || usesNextNav(e)
    case NavX(_, _, _, e, s) => s > 0 || usesNextNav(e)
    case AggX(_, _, e)    => usesNextNav(e)
    case Cmp(_, l, r)     => usesNextNav(l) || usesNextNav(r)
    case Arith(_, l, r)   => usesNextNav(l) || usesNextNav(r)
    case And(l, r)        => usesNextNav(l) || usesNextNav(r)
    case Or(l, r)         => usesNextNav(l) || usesNextNav(r)
    case Neg(e)           => usesNextNav(e)
    case Not(e)           => usesNextNav(e)
    case IsNull(e, _)     => usesNextNav(e)
    case _                => false
  }

  /** Deepest backward physical step — how many rows BEFORE an attempt's
    * start a PREV can read (logical navigation targets sit at or after
    * the start, so a nested step back of k reaches at most start - k). */
  def maxPrevDepth(n: Node): Int = n match {
    case PNav(true, _, k)             => k
    case NestNav(true, _, _, _, _, k) => k
    case PNavX(s, e)      => math.max(math.max(-s, 0), maxPrevDepth(e))
    case NavX(_, _, _, e, s) => math.max(math.max(-s, 0), maxPrevDepth(e))
    case AggX(_, _, e)    => maxPrevDepth(e)
    case Cmp(_, l, r)     => math.max(maxPrevDepth(l), maxPrevDepth(r))
    case Arith(_, l, r)   => math.max(maxPrevDepth(l), maxPrevDepth(r))
    case And(l, r)        => math.max(maxPrevDepth(l), maxPrevDepth(r))
    case Or(l, r)         => math.max(maxPrevDepth(l), maxPrevDepth(r))
    case Neg(e)           => maxPrevDepth(e)
    case Not(e)           => maxPrevDepth(e)
    case IsNull(e, _)     => maxPrevDepth(e)
    case _                => 0
  }

  /** Collapse every [[QCol]] to a plain [[Cur]] — evaluation pins the
    * row, so inside the argument a column read is just a column read. */
  private def stripQCols(e: Node): Node = e match {
    case QCol(_, c)     => Cur(c)
    case Cmp(op, l, r)  => Cmp(op, stripQCols(l), stripQCols(r))
    case Arith(op, l, r) => Arith(op, stripQCols(l), stripQCols(r))
    case And(l, r)      => And(stripQCols(l), stripQCols(r))
    case Or(l, r)       => Or(stripQCols(l), stripQCols(r))
    case Neg(x)         => Neg(stripQCols(x))
    case Not(x)         => Not(stripQCols(x))
    case IsNull(x, n)   => IsNull(stripQCols(x), n)
    case other          => other
  }

  private val AggFns = Set("sum", "avg", "min", "max", "count")

  // ---------- tokenizer ----------

  private sealed trait Tok
  private case class TIdent(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TOp(s: String) extends Tok // ( ) , . + - * / % = <> != < <= > >=

  /** `lenient = true` (the detection scan) skips characters the
    * expression grammar doesn't know instead of failing — a predicate
    * full of Catalyst-only syntax (`||`, lambdas, brackets) must still
    * be SCANNED for cross-variable qualifiers, then routed to the
    * Catalyst path when it has none. */
  private def tokenize(src: String, lenient: Boolean = false): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') { // string literal, '' escapes a quote
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (src(i) == '\'') {
            if (i + 1 < n && src(i + 1) == '\'') { sb += '\''; i += 2 }
            else { closed = true; i += 1 }
          } else if (src(i) == '\\' && i + 1 < n && src(i + 1) == '\\') {
            // collapse doubled backslashes so the interpreted value
            // always equals what Catalyst's expr() yields for the SAME
            // fragment text: through the service splice the dialect
            // pre-pass has doubled every literal backslash (Trino
            // semantics — see TrinoFunctions.escapeLiteralBackslashes),
            // and on raw library/streaming clause text expr() would
            // collapse '\\' the same way. A LONE backslash stays as-is
            // (Trino treats it as an ordinary character).
            sb += '\\'; i += 2
          } else { sb += src(i); i += 1 }
        }
        if (!closed && !lenient)
          fail(s"unterminated string literal in DEFINE: $src")
        out += TStr(sb.toString)
      }
      else if (c.isDigit ||
          (c == '.' && i + 1 < n && src(i + 1).isDigit)) {
        val j0 = i
        while (i < n && (src(i).isDigit || src(i) == '.')) i += 1
        // exponent form 1e-3
        if (i < n && (src(i) == 'e' || src(i) == 'E') && i + 1 < n &&
            (src(i + 1).isDigit || ((src(i + 1) == '+' || src(i + 1) == '-') &&
              i + 2 < n && src(i + 2).isDigit))) {
          i += 2
          while (i < n && src(i).isDigit) i += 1
        }
        out += TNum(src.substring(j0, i))
      }
      else if (Character.isLetter(c) || c == '_') {
        val j0 = i
        while (i < n && (Character.isLetterOrDigit(src(i)) || src(i) == '_')) i += 1
        out += TIdent(src.substring(j0, i))
      }
      else if (c == '"') { // quoted identifier
        val j = src.indexOf('"', i + 1)
        if (j < 0) {
          if (!lenient)
            fail(s"unterminated quoted identifier in DEFINE: $src")
          i = n
        } else {
          out += TIdent(src.substring(i + 1, j))
          i = j + 1
        }
      }
      else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (two == "<>" || two == "!=" || two == "<=" || two == ">=") {
          out += TOp(two); i += 2
        } else if ("()+-*/%=<>,.".indexOf(c) >= 0) {
          out += TOp(c.toString); i += 1
        } else if (lenient) i += 1 // unknown char = separator in the scan
        else fail(s"unsupported character '$c' in cross-variable DEFINE " +
          s"(supported: columns, V.col, FIRST/LAST(V.col[, n]), literals, " +
          s"comparisons, AND/OR/NOT, BETWEEN, IN, + - * / %): $src")
      }
    }
    out.toList
  }

  // ---------- parser (precedence climbing over the token list) ----------

  /** Parse a cross-variable DEFINE predicate for variable `ownVar`.
    * `vars` = every pattern variable and SUBSET name (qualifier
    * resolution); column names stay unresolved until [[resolve]]. */
  def parse(pred: String, ownVar: String, vars: Seq[String]): Node = {
    val varSet = vars.map(_.toLowerCase).toSet
    var toks = tokenize(pred)
    // > 0 while parsing a navigation/aggregate ARGUMENT: column refs
    // become QCol (scoped to the enclosing navigation), and nested
    // navigation/aggregates are rejected
    var navDepth = 0

    def peek: Option[Tok] = toks.headOption
    def next(): Tok = toks match {
      case h :: t => toks = t; h
      case Nil    => fail(s"unexpected end of DEFINE predicate: $pred")
    }
    def expectOp(s: String): Unit = next() match {
      case TOp(`s`) => ()
      case other => fail(s"expected '$s' in DEFINE predicate, got $other: $pred")
    }
    def isKw(t: Tok, kw: String): Boolean = t match {
      case TIdent(s) => s.equalsIgnoreCase(kw)
      case _ => false
    }
    // toInt/toLong raise a bare NumberFormatException on over-long
    // digit runs — wrap so every parser rejection carries the
    // MATCH_RECOGNIZE: prefix (pinned by the clause fuzz)
    def intOf(s: String, what: String): Int =
      try s.toInt
      catch { case _: NumberFormatException =>
        fail(s"$what out of range: $s") }

    def parseOr(): Node = {
      var l = parseAnd()
      while (peek.exists(isKw(_, "OR"))) { next(); l = Or(l, parseAnd()) }
      l
    }
    def parseAnd(): Node = {
      var l = parseNot()
      while (peek.exists(isKw(_, "AND"))) { next(); l = And(l, parseNot()) }
      l
    }
    def parseNot(): Node =
      if (peek.exists(isKw(_, "NOT"))) { next(); Not(parseNot()) }
      else parseCmp()

    def parseCmp(): Node = {
      val l = parseAdd()
      peek match {
        case Some(TOp(op)) if Set("=", "<>", "!=", "<", "<=", ">", ">=")(op) =>
          next(); Cmp(if (op == "!=") "<>" else op, l, parseAdd())
        case Some(t) if isKw(t, "IS") =>
          next()
          val negated = peek.exists(isKw(_, "NOT"))
          if (negated) next()
          if (!peek.exists(isKw(_, "NULL")))
            fail(s"expected NULL after IS [NOT]: $pred")
          next()
          IsNull(l, negated)
        case Some(t) if isKw(t, "BETWEEN") =>
          next()
          val lo = parseAdd()
          if (!peek.exists(isKw(_, "AND")))
            fail(s"expected AND in BETWEEN: $pred")
          next()
          val hi = parseAdd()
          And(Cmp(">=", l, lo), Cmp("<=", l, hi))
        case Some(t) if isKw(t, "NOT") =>
          // NOT BETWEEN / NOT IN (postfix forms)
          next()
          peek match {
            case Some(t2) if isKw(t2, "BETWEEN") =>
              next()
              val lo = parseAdd()
              if (!peek.exists(isKw(_, "AND")))
                fail(s"expected AND in BETWEEN: $pred")
              next()
              val hi = parseAdd()
              Not(And(Cmp(">=", l, lo), Cmp("<=", l, hi)))
            case Some(t2) if isKw(t2, "IN") =>
              next(); Not(parseInList(l))
            case _ => fail(s"expected BETWEEN or IN after NOT: $pred")
          }
        case Some(t) if isKw(t, "IN") =>
          next(); parseInList(l)
        case _ => l
      }
    }
    def parseInList(l: Node): Node = {
      expectOp("(")
      var alts = Seq.empty[Node]
      var done = false
      while (!done) {
        alts :+= Cmp("=", l, parseAdd())
        next() match {
          case TOp(",") => ()
          case TOp(")") => done = true
          case other => fail(s"expected ',' or ')' in IN list, got $other: $pred")
        }
      }
      alts.reduceLeft(Or)
    }
    def parseAdd(): Node = {
      var l = parseMul()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("+" | "-"))) => next(); l = Arith(op.head, l, parseMul())
        case _ => go = false
      }
      l
    }
    def parseMul(): Node = {
      var l = parseUnary()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("*" | "/" | "%"))) => next(); l = Arith(op.head, l, parseUnary())
        case _ => go = false
      }
      l
    }
    def parseUnary(): Node = peek match {
      case Some(TOp("-")) => next(); Neg(parseUnary())
      case Some(TOp("+")) => next(); parseUnary()
      case _ => parsePrimary()
    }
    def navArgs(first: Boolean): Node = {
      expectOp("(")
      // the argument is a full value EXPRESSION (SQL:2016 lets
      // navigation wrap arithmetic — `LAST(B.price + B.tax)`); a single
      // column keeps the classic Nav node and its codegen'd lowerings
      navDepth += 1
      val arg = parseAdd()
      navDepth -= 1
      val off = peek match {
        case Some(TOp(",")) =>
          next()
          next() match {
            case TNum(s) if !s.contains('.') =>
              intOf(s, "FIRST/LAST offset")
            case other => fail(s"FIRST/LAST offset must be an integer: $other")
          }
        case _ => 0
      }
      expectOp(")")
      arg match {
        case QCol(v, c) => Nav(v, c, first, off)
        case e =>
          NavX(soleQualifier(e, "a FIRST/LAST argument"), first, off,
            stripQCols(e))
      }
    }
    def aggArgs(fn: String): Node = {
      expectOp("(")
      // the star forms first (COUNT(*) / COUNT(V.*)) — a general
      // expression parse would reject the '*'
      toks match {
        case TOp("*") :: _ =>
          if (fn != "count") fail(s"${fn.toUpperCase}(*) is not valid " +
            "in DEFINE (only COUNT takes *)")
          next(); expectOp(")")
          Agg("count", "", "")
        case TIdent(q) :: TOp(".") :: TOp("*") :: _ =>
          if (fn != "count")
            fail(s"${fn.toUpperCase}($q.*) is not valid in DEFINE")
          if (!varSet(q.toLowerCase))
            fail(s"${fn.toUpperCase} qualifier $q is not a pattern " +
              s"variable or SUBSET in DEFINE $ownVar")
          next(); next(); next(); expectOp(")")
          Agg("count", q, "")
        case _ =>
          // a full value EXPRESSION (SQL:2016: `SUM(A.price * (1 -
          // A.disc))`); a single column keeps the classic Agg node
          navDepth += 1
          val arg = parseAdd()
          navDepth -= 1
          expectOp(")")
          arg match {
            case QCol(v, c) => Agg(fn, v, c)
            case e =>
              AggX(fn,
                soleQualifier(e, s"a ${fn.toUpperCase} argument"),
                stripQCols(e))
          }
      }
    }
    def parsePrimary(): Node = next() match {
      case TNum(s) =>
        if (s.contains('.') || s.toLowerCase.contains('e'))
          Lit(new java.math.BigDecimal(s))
        else
          try Lit(java.lang.Long.valueOf(s.toLong))
          catch { case _: NumberFormatException =>
            fail(s"integer literal out of range: $s") }
      case TStr(s) => Lit(s)
      case TOp("(") =>
        val e = parseOr(); expectOp(")"); e
      case TIdent(s) if s.equalsIgnoreCase("TRUE")  => Lit(java.lang.Boolean.TRUE)
      case TIdent(s) if s.equalsIgnoreCase("FALSE") => Lit(java.lang.Boolean.FALSE)
      case TIdent(s) if s.equalsIgnoreCase("NULL")  => Lit(null)
      case TIdent(s) if s.equalsIgnoreCase("FIRST") &&
          peek.contains(TOp("(")) =>
        if (navDepth > 0) fail("navigation inside a navigation/aggregate " +
          "argument is not supported (only the outer PREV/NEXT may wrap " +
          "FIRST/LAST)")
        navArgs(first = true)
      case TIdent(s) if s.equalsIgnoreCase("LAST") &&
          peek.contains(TOp("(")) =>
        if (navDepth > 0) fail("navigation inside a navigation/aggregate " +
          "argument is not supported (only the outer PREV/NEXT may wrap " +
          "FIRST/LAST)")
        navArgs(first = false)
      case TIdent(s) if AggFns(s.toLowerCase) && peek.contains(TOp("(")) =>
        if (navDepth > 0) fail("an aggregate inside a navigation/" +
          "aggregate argument is not supported; aggregate the expression " +
          "directly instead")
        aggArgs(s.toLowerCase)
      case TIdent(s) if (s.equalsIgnoreCase("PREV") ||
          s.equalsIgnoreCase("NEXT")) && peek.contains(TOp("(")) =>
        if (navDepth > 0) fail("PREV/NEXT inside a navigation/aggregate " +
          "argument is not supported")
        val isPrev = s.equalsIgnoreCase("PREV")
        expectOp("(")
        // inner forms (SQL:2016 / Trino): FIRST/LAST(...) — nested
        // navigation, physical steps from the logically-navigated
        // row — or a value expression over the current/measure row's
        // variable (a qualified V.c is sugar for LAST(V.c))
        val arg: Node = toks match {
          case TIdent(f) :: TOp("(") :: _
              if f.equalsIgnoreCase("FIRST") || f.equalsIgnoreCase("LAST") =>
            next() // consume FIRST/LAST; navArgs eats the '('
            navArgs(first = f.equalsIgnoreCase("FIRST"))
          case _ =>
            navDepth += 1
            val e = parseAdd()
            navDepth -= 1
            e
        }
        val n = peek match {
          case Some(TOp(",")) =>
            next()
            next() match {
              case TNum(ns) if !ns.contains('.') =>
                intOf(ns, s"${s.toUpperCase} offset")
              case other => fail(s"${s.toUpperCase} offset must be an " +
                s"integer: $other")
            }
          case _ => 1
        }
        expectOp(")")
        val step = if (isPrev) -n else n
        arg match {
          case nav: Nav =>
            NestNav(isPrev, nav.v, nav.colName, nav.first, nav.off, n)
          case nx: NavX => nx.copy(step = nx.step + step)
          case QCol(q, c) if q.isEmpty || q.equalsIgnoreCase(ownVar) =>
            PNav(isPrev, c, n) // physical from the current/measure row
          case QCol(q, c) => // PREV(V.c, n) ≡ PREV(LAST(V.c), n)
            NestNav(isPrev, q, c, first = false, off = 0, n)
          case e =>
            val q = soleQualifier(e, s"a ${s.toUpperCase} argument")
            if (q.isEmpty || q.equalsIgnoreCase(ownVar))
              PNavX(step, stripQCols(e))
            else NavX(q, first = false, off = 0, stripQCols(e), step)
        }
      case TIdent(s) if peek.contains(TOp(".")) =>
        next() // consume '.'
        next() match {
          case TIdent(col) =>
            if (!varSet(s.toLowerCase) && !s.equalsIgnoreCase(ownVar))
              fail(s"qualifier $s in DEFINE $ownVar is not a pattern " +
                "variable or SUBSET (table aliases are not visible inside " +
                "MATCH_RECOGNIZE DEFINE)")
            if (navDepth > 0) QCol(s, col) // scoped by the argument
            else if (s.equalsIgnoreCase(ownVar)) Cur(col) // own = current row
            else Nav(s, col, first = false, off = 0)
          case other => fail(s"expected column after '$s.': got $other")
        }
      case TIdent(s) if peek.contains(TOp("(")) =>
        fail(s"function $s(...) is not supported in a cross-variable " +
          "DEFINE (supported: FIRST/LAST navigation, comparisons, " +
          "AND/OR/NOT, BETWEEN, IN, arithmetic). Precompute the value " +
          "as a column on the input relation, or keep the predicate " +
          "free of cross-variable references to get the full SQL surface")
      case TIdent(s) => if (navDepth > 0) QCol("", s) else Cur(s)
      case other => fail(s"unexpected token in DEFINE predicate: $other")
    }

    val root = parseOr()
    if (toks.nonEmpty)
      fail(s"trailing tokens in DEFINE predicate: ${toks.mkString(" ")}")
    root
  }

  /** Does the (tokenized) predicate reference any variable in `others`
    * as a qualifier or inside FIRST/LAST? Quote-aware by construction —
    * string literals are single tokens. */
  def referencesVars(pred: String, others: Seq[String]): Seq[String] = {
    val names = others.map(_.toLowerCase).toSet
    val hit = scala.collection.mutable.LinkedHashSet.empty[String]
    var ts = tokenize(pred, lenient = true)
    while (ts.nonEmpty) {
      ts match {
        case TIdent(q) :: TOp(".") :: _ if names(q.toLowerCase) =>
          hit += q
        case _ => ()
      }
      ts = ts.tail
    }
    hit.toSeq
  }

  /** Must this DEFINE evaluate in the matcher? True when it references
    * another variable (`others`) OR uses FIRST/LAST logical navigation
    * at all — `LAST(B.v, 1)` on the variable's OWN rows is still
    * hypothesis-dependent, and Catalyst would misparse bare
    * `LAST(v, 1)` as its last() AGGREGATE (SQL:2016 makes FIRST/LAST
    * inside DEFINE navigation, never aggregation). */
  def needsInterpreter(pred: String, others: Seq[String]): Boolean = {
    if (referencesVars(pred, others).nonEmpty) return true
    var ts = tokenize(pred, lenient = true)
    while (ts.nonEmpty) {
      ts match {
        // FIRST/LAST navigation and RUNNING aggregates are
        // hypothesis-dependent even over the variable's OWN rows (and
        // Catalyst would misparse them as its aggregate functions — no
        // row-level Spark expression shares these names)
        case TIdent(f) :: TOp("(") :: _
            if f.equalsIgnoreCase("FIRST") || f.equalsIgnoreCase("LAST") ||
               AggFns(f.toLowerCase) =>
          return true
        // PREV/NEXT over anything richer than `[V.]col[, n]` (a
        // composite argument like PREV(price + tax)) has no textual
        // lag/lead rewrite — the interpreter evaluates it row-pinned
        case TIdent(f) :: TOp("(") :: rest
            if f.equalsIgnoreCase("PREV") || f.equalsIgnoreCase("NEXT") =>
          val simple = rest match {
            case TIdent(_) :: TOp(".") :: TIdent(_) :: TOp(",") :: TNum(_) :: TOp(")") :: _ => true
            case TIdent(_) :: TOp(".") :: TIdent(_) :: TOp(")") :: _ => true
            case TIdent(_) :: TOp(",") :: TNum(_) :: TOp(")") :: _ => true
            case TIdent(_) :: TOp(")") :: _ => true
            case _ => false
          }
          if (!simple) return true
        case _ => ()
      }
      ts = ts.tail
    }
    false
  }

  // ---------- resolution ----------

  /** Lower every [[PNav]] (PREV/NEXT physical navigation) onto the
    * current-row column named by `rename` — the planner registers the
    * matching window lag/lead column at the same time. Must run before
    * [[resolve]]/[[exprType]]/[[compile]], which treat PNav as internal. */
  def lowerPNav(n: Node, rename: (Boolean, String, Int) => String): Node =
    n match {
      case PNav(p, c, k) => Cur(rename(p, c, k))
      // nested navigation: physical steps commute with the logical
      // lookup (lag/lead are per-row, hypothesis-independent), so
      // PREV(LAST(V.c), n) is exactly LAST over the lag-n column
      case NestNav(p, v, c, f, off, k) => Nav(v, rename(p, c, k), f, off)
      case Cmp(op, l, r) => Cmp(op, lowerPNav(l, rename), lowerPNav(r, rename))
      case Arith(op, l, r) =>
        Arith(op, lowerPNav(l, rename), lowerPNav(r, rename))
      case Neg(e) => Neg(lowerPNav(e, rename))
      case And(l, r) => And(lowerPNav(l, rename), lowerPNav(r, rename))
      case Or(l, r) => Or(lowerPNav(l, rename), lowerPNav(r, rename))
      case Not(e) => Not(lowerPNav(e, rename))
      case IsNull(e, neg) => IsNull(lowerPNav(e, rename), neg)
      case other => other
    }

  /** Resolve column names to field indices against the scan schema
    * (case-insensitive, SQL identifier semantics), folding literal-only
    * arithmetic as it goes — Catalyst's ConstantFolding evaluates a
    * `7 % 0` subexpression at PLAN time even on a branch the runtime
    * AND would short-circuit past, and the two evaluation classes must
    * surface the same errors. */
  def resolve(n: Node, schema: StructType): Node = {
    def idxOf(c: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      if (i < 0) fail(s"column $c not found in input " +
        s"(have: ${schema.fieldNames.filterNot(_.startsWith("__mr_")).mkString(", ")})")
      i
    }
    // a context that must never be consulted: folding only touches
    // literal-only subtrees
    object NoCtx extends Ctx {
      def cur(idx: Int): Any = fail("internal: fold touched a column")
      def nav(v: String, colIdx: Int, first: Boolean, off: Int): Any =
        fail("internal: fold touched navigation")
      def aggVals(v: String, colIdx: Int): Seq[Any] =
        fail("internal: fold touched an aggregate")
      def navRowIdx(v: String, first: Boolean, off: Int): Int =
        fail("internal: fold touched navigation")
      def aggRowIdxs(v: String): Seq[Int] =
        fail("internal: fold touched an aggregate")
      def valueAt(row: Int, colIdx: Int): Any =
        fail("internal: fold touched a row")
      def curRowIdx: Int = fail("internal: fold touched the current row")
      def groupSize: Int = fail("internal: fold touched the group")
    }
    def fold(m: Node): Node = m match {
      case Arith(_, _: Lit, _: Lit) | Neg(_: Lit) => Lit(compile(m)(NoCtx))
      case other => other
    }
    n match {
      case c: Cur => c.copy(idx = idxOf(c.name))
      case v: Nav => v.copy(idx = idxOf(v.colName))
      case a: Agg =>
        if (a.colName.isEmpty) a else a.copy(idx = idxOf(a.colName))
      case Cmp(op, l, r) => Cmp(op, resolve(l, schema), resolve(r, schema))
      case Arith(op, l, r) =>
        fold(Arith(op, resolve(l, schema), resolve(r, schema)))
      case Neg(e) => fold(Neg(resolve(e, schema)))
      case And(l, r) => And(resolve(l, schema), resolve(r, schema))
      case Or(l, r) => Or(resolve(l, schema), resolve(r, schema))
      case Not(e) => Not(resolve(e, schema))
      case IsNull(e, neg) => IsNull(resolve(e, schema), neg)
      case lit: Lit => lit
      case PNav(p, c, _) => fail(s"internal: un-lowered " +
        s"${if (p) "PREV" else "NEXT"}($c) reached resolution — " +
        "PREV/NEXT are only available in DEFINE and MEASURES of a " +
        "planned MATCH_RECOGNIZE (not the streaming face)")
      case NestNav(p, v, c, _, _, _) => fail(s"internal: un-lowered " +
        s"${if (p) "PREV" else "NEXT"}(…($v.$c)…) reached resolution — " +
        "nested navigation is only available in DEFINE and MEASURES of " +
        "a planned MATCH_RECOGNIZE (not the streaming face)")
      case nx: NavX  => nx.copy(expr = resolve(nx.expr, schema))
      case ax: AggX  => ax.copy(expr = resolve(ax.expr, schema))
      case px: PNavX => px.copy(expr = resolve(px.expr, schema))
      case QCol(v, c) =>
        fail(s"internal: argument-scoped column $v.$c escaped the parser")
    }
  }

  // ---------- output typing (expression MEASURES) ----------

  /** Output DataType of an expression measure. Rules: navigation and
    * MIN/MAX keep the column type; COUNT is bigint; AVG is double; SUM
    * widens (integral → bigint, floating → double, decimal → +10
    * precision); comparisons/boolean ops are boolean; arithmetic over
    * two integrals is bigint, anything involving a floating-point or
    * decimal operand (or any `/`) is double — decimal arithmetic is
    * computed EXACTLY (BigDecimal) and rounded once at emission, so the
    * double output is deterministic and order-independent. */
  def exprType(n: Node, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def colT(idx: Int): DataType = schema(idx).dataType
    def numeric(dt: DataType, what: String): DataType = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType => dt
      case other => fail(s"$what requires a numeric operand " +
        s"(got ${other.simpleString})")
    }
    n match {
      case Lit(null) => fail("a bare NULL literal needs context to type; " +
        "use it inside a comparison or IS NULL")
      case Lit(_: java.lang.Long)         => LongType
      case Lit(_: java.math.BigDecimal)   => DoubleType
      case Lit(_: String)                 => StringType
      case Lit(_: java.lang.Boolean)      => BooleanType
      case Lit(other) => fail(s"unsupported literal type: $other")
      case Cur(_, idx) => colT(idx)
      case Nav(_, _, _, _, idx) => colT(idx)
      // expression navigation/aggregates: the ARGUMENT's type, with the
      // same aggregate widening rules as the column forms
      case NavX(_, _, _, e, _) => exprType(e, schema)
      case PNavX(_, e)         => exprType(e, schema)
      case AggX("count", _, _) => LongType
      case AggX("avg", _, e) =>
        numeric(exprType(e, schema), "AVG(…)"); DoubleType
      case AggX("sum", _, e) => numeric(exprType(e, schema), "SUM(…)") match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case FloatType | DoubleType => DoubleType
        case d: DecimalType =>
          DecimalType(math.min(38, d.precision + 10), d.scale)
        case other => other // unreachable
      }
      case AggX(_, _, e) => exprType(e, schema) // min/max keep the type
      case Agg("count", _, _, _) => LongType
      case Agg("avg", _, c, idx) =>
        numeric(colT(idx), s"AVG($c)"); DoubleType
      case Agg("sum", _, c, idx) => numeric(colT(idx), s"SUM($c)") match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case FloatType | DoubleType => DoubleType
        case d: DecimalType =>
          DecimalType(math.min(38, d.precision + 10), d.scale)
        case other => other // unreachable
      }
      case Agg(_, _, _, idx) => colT(idx) // min/max keep the column type
      case Cmp(_, _, _) | And(_, _) | Or(_, _) | Not(_) | IsNull(_, _) =>
        BooleanType
      case Neg(e) => exprType(e, schema) match {
        case FloatType => DoubleType
        case dt => numeric(dt, "unary minus")
      }
      case Arith(op, l, r) =>
        val (lt, rt) = (numeric(exprType(l, schema), s"'$op'"),
          numeric(exprType(r, schema), s"'$op'"))
        if (op == '/') DoubleType
        else (lt, rt) match {
          case (ByteType | ShortType | IntegerType | LongType,
                ByteType | ShortType | IntegerType | LongType) => LongType
          case _ => DoubleType
        }
      case PNav(p, c, _) =>
        fail(s"internal: un-lowered ${if (p) "PREV" else "NEXT"}($c) " +
          "reached typing")
      case NestNav(p, _, c, _, _, _) =>
        fail(s"internal: un-lowered nested " +
          s"${if (p) "PREV" else "NEXT"}(…$c…) reached typing")
      case QCol(v, c) =>
        fail(s"internal: argument-scoped column $v.$c reached typing")
    }
  }

  /** Align an evaluated value with the declared output type (decimal
    * scale, exact-BigDecimal → double, integral width). */
  def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (null, _) => null
      case (n: Number, DoubleType)   => java.lang.Double.valueOf(n.doubleValue)
      case (n: Number, LongType)     => java.lang.Long.valueOf(n.longValue)
      case (b: java.math.BigDecimal, d: DecimalType) => b.setScale(d.scale)
      case (other, _) => other
    }
  }

  // ---------- evaluation ----------

  /** Value sources for one evaluation: the row under test and the
    * navigation lookup over the rows mapped so far in this attempt. */
  trait Ctx {
    def cur(idx: Int): Any
    /** Value of FIRST/LAST(v.col, off) — null when out of range. */
    def nav(v: String, colIdx: Int, first: Boolean, off: Int): Any
    /** The values of `colIdx` over the rows mapped to `v` so far, in
      * row order (colIdx -1 = a placeholder per row for COUNT). */
    def aggVals(v: String, colIdx: Int): Seq[Any]
    // --- row-level primitives (expression navigation/aggregates) ---
    /** Absolute group index of FIRST/LAST(v, off)'s row, -1 if none. */
    def navRowIdx(v: String, first: Boolean, off: Int): Int
    /** Absolute group indices of the rows mapped to `v`, row order. */
    def aggRowIdxs(v: String): Seq[Int]
    /** Column value at an absolute group row; null when the row index
      * is outside the group (physical navigation off the partition). */
    def valueAt(row: Int, colIdx: Int): Any
    /** Absolute group index of the row `cur` reads, -1 when none (an
      * empty match's context). */
    def curRowIdx: Int
    /** Number of rows in the group (physical-navigation bounds). */
    def groupSize: Int
  }

  /** A Ctx whose current row is pinned to an absolute group row —
    * evaluates a navigation/aggregate ARGUMENT expression at the
    * navigated row. Navigation inside an argument is rejected at parse
    * time, so only `cur` is reachable. */
  private final class PinnedCtx(base: Ctx, row: Int) extends Ctx {
    def cur(idx: Int): Any = base.valueAt(row, idx)
    def curRowIdx: Int = row
    def nav(v: String, colIdx: Int, first: Boolean, off: Int): Any =
      fail("internal: navigation inside a navigation argument")
    def aggVals(v: String, colIdx: Int): Seq[Any] =
      fail("internal: aggregate inside a navigation argument")
    def navRowIdx(v: String, first: Boolean, off: Int): Int =
      fail("internal: navigation inside a navigation argument")
    def aggRowIdxs(v: String): Seq[Int] =
      fail("internal: aggregate inside a navigation argument")
    def valueAt(row: Int, colIdx: Int): Any = base.valueAt(row, colIdx)
    def groupSize: Int = base.groupSize
  }

  private def toBig(a: Any): java.math.BigDecimal = a match {
    case b: java.math.BigDecimal  => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case d: java.lang.Double      => java.math.BigDecimal.valueOf(d)
    case f: java.lang.Float       => new java.math.BigDecimal(f.toString)
    case x: Number                => java.math.BigDecimal.valueOf(x.longValue)
    case other => fail(s"not a number: $other")
  }
  private def isDecimal(a: Any): Boolean =
    a.isInstanceOf[java.math.BigDecimal] || a.isInstanceOf[scala.math.BigDecimal]
  private def isFloating(a: Any): Boolean =
    a.isInstanceOf[java.lang.Double] || a.isInstanceOf[java.lang.Float]

  /** SQL comparison of two non-null values: exact numeric widening
    * (decimal > double > long), Comparable fallback for
    * string/timestamp/date/boolean. */
  private[dialect] def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      if (isDecimal(x) || isDecimal(y)) toBig(x).compareTo(toBig(y))
      else if (isFloating(x) || isFloating(y))
        // + 0.0 normalizes -0.0 to +0.0 (Spark/SQL equality; plain
        // Double.compare would order them); NaN keeps Spark's
        // NaN = NaN / NaN-greatest semantics via Double.compare
        java.lang.Double.compare(x.doubleValue + 0.0d, y.doubleValue + 0.0d)
      else java.lang.Long.compare(x.longValue, y.longValue)
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => fail(s"cannot compare ${a.getClass.getSimpleName} with " +
      s"${b.getClass.getSimpleName} in DEFINE predicate")
  }

  private def arith(op: Char, a: Any, b: Any): Any = (a, b) match {
    case (x: Number, y: Number) =>
      // Spark 4 runs ANSI by default (this repo sets no override), so
      // the Catalyst-evaluated DEFINE class THROWS on a zero divisor
      // for EVERY numeric type, doubles included — and so does Trino.
      // Matching that here keeps the two evaluation classes identical
      // (verified empirically: DIVIDE_BY_ZERO / REMAINDER_BY_ZERO on
      // double, decimal, and integral operands alike).
      if ((op == '/' || op == '%') &&
          (y match {
            case d: java.math.BigDecimal  => d.signum == 0
            case d: scala.math.BigDecimal => d.signum == 0
            case n => n.doubleValue == 0.0
          }))
        throw new ArithmeticException(
          s"MATCH_RECOGNIZE: ${if (op == '/') "division" else "remainder"} " +
            "by zero in a DEFINE/MEASURES expression (ANSI semantics, " +
            "matching the Catalyst-evaluated class)")
      else if (op == '/')
        // Spark SQL: `/` is double division regardless of input types
        java.lang.Double.valueOf(x.doubleValue / y.doubleValue)
      else if (isDecimal(x) || isDecimal(y)) {
        val (bx, by) = (toBig(x), toBig(y))
        op match {
          case '+' => bx.add(by)
          case '-' => bx.subtract(by)
          case '*' => bx.multiply(by)
          case '%' => bx.remainder(by)
        }
      } else if (isFloating(x) || isFloating(y)) {
        val (dx, dy) = (x.doubleValue, y.doubleValue)
        java.lang.Double.valueOf(op match {
          case '+' => dx + dy
          case '-' => dx - dy
          case '*' => dx * dy
          case '%' => dx % dy
        })
      } else {
        // overflow-checked, as ANSI Spark's long arithmetic is
        val (lx, ly) = (x.longValue, y.longValue)
        java.lang.Long.valueOf(op match {
          case '+' => Math.addExact(lx, ly)
          case '-' => Math.subtractExact(lx, ly)
          case '*' => Math.multiplyExact(lx, ly)
          case '%' => lx % ly
        })
      }
    case _ => fail(s"arithmetic over non-numeric operands in DEFINE: " +
      s"${a.getClass.getSimpleName} $op ${b.getClass.getSimpleName}")
  }

  /** SQL aggregate fold over mapped-row values (row order): nulls
    * skipped; empty/all-null → NULL (COUNT → 0). Sums dispatch on the
    * runtime class — decimal exactly, floating as double, else long —
    * mirroring [[MatchRecognize.aggOver]]'s MEASURES rules (AVG = sum
    * then ONE division, emitted as double). */
  private def aggFold(fn: String, vals: Seq[Any]): Any = fn match {
    case "count" => java.lang.Long.valueOf(vals.count(_ != null).toLong)
    case _ =>
      val nn = vals.filter(_ != null)
      if (nn.isEmpty) null
      else fn match {
        case "min" => nn.reduce((a, b) => if (cmpVals(a, b) <= 0) a else b)
        case "max" => nn.reduce((a, b) => if (cmpVals(a, b) >= 0) a else b)
        case "sum" =>
          if (nn.exists(isDecimal)) nn.map(toBig).reduce(_ add _)
          else if (nn.exists(isFloating))
            java.lang.Double.valueOf(nn.map(_.asInstanceOf[Number].doubleValue).sum)
          else java.lang.Long.valueOf(nn.map(_.asInstanceOf[Number].longValue).sum)
        case "avg" =>
          val sumD =
            if (nn.exists(isDecimal)) nn.map(toBig).reduce(_ add _).doubleValue
            else nn.map(_.asInstanceOf[Number].doubleValue).sum
          java.lang.Double.valueOf(sumD / nn.length)
      }
  }

  /** Compile a RESOLVED AST to a closure tree: three-valued evaluation,
    * a null result meaning UNKNOWN (the caller coalesces to no-match,
    * SQL's WHERE semantics). Node dispatch and operator selection
    * happen once here, not on the per-row path — the matcher evaluates
    * a DEFINE predicate once per row HYPOTHESIS and an expression
    * measure once per mapped row. MrPredicateDifferentialSpec pins the
    * result to Catalyst's on its fuzz corpus. Compile on the EXECUTOR
    * (once per [[MatchRecognize.GroupMatcher]] copy) — the Node is what
    * serializes, never the closures. */
  def compile(n: Node): Ctx => Any = n match {
    case Lit(v)  => _ => v
    case Cur(_, idx) => ctx => ctx.cur(idx)
    case Nav(v, _, first, off, idx) => ctx => ctx.nav(v, idx, first, off)
    case Agg(fn, v, _, idx) => ctx => aggFold(fn, ctx.aggVals(v, idx))
    case NavX(v, first, off, e, step) =>
      val ce = compile(e)
      ctx => {
        val r0 = ctx.navRowIdx(v, first, off)
        if (r0 < 0) null
        else {
          val r = r0 + step
          if (r < 0 || r >= ctx.groupSize) null
          else ce(new PinnedCtx(ctx, r))
        }
      }
    case AggX(fn, v, e) =>
      val ce = compile(e)
      ctx => aggFold(fn, ctx.aggRowIdxs(v).map(r => ce(new PinnedCtx(ctx, r))))
    case PNavX(step, e) =>
      val ce = compile(e)
      ctx => {
        val a = ctx.curRowIdx
        if (a < 0) null
        else {
          val r = a + step
          if (r < 0 || r >= ctx.groupSize) null
          else ce(new PinnedCtx(ctx, r))
        }
      }
    case Cmp(op, l, r) =>
      val cl = compile(l)
      val cr = compile(r)
      // operator selected ONCE; left-first lazy null propagation, as
      // Spark's BinaryComparison evaluates: a null LEFT operand never
      // evaluates the right (so a zero-divisor there stays unobserved,
      // exactly like Catalyst)
      val test: Int => Boolean = op match {
        case "="  => _ == 0
        case "<>" => _ != 0
        case "<"  => _ < 0
        case "<=" => _ <= 0
        case ">"  => _ > 0
        case ">=" => _ >= 0
      }
      ctx => {
        val a = cl(ctx)
        if (a == null) null
        else {
          val b = cr(ctx)
          if (b == null) null
          else java.lang.Boolean.valueOf(test(cmpVals(a, b)))
        }
      }
    case Arith(op, l, r) =>
      val cl = compile(l)
      val cr = compile(r)
      ctx => {
        val a = cl(ctx)
        if (a == null) null
        else {
          val b = cr(ctx)
          if (b == null) null else arith(op, a, b)
        }
      }
    case Neg(e) =>
      val ce = compile(e)
      ctx => ce(ctx) match {
        case null => null
        case b: java.math.BigDecimal => b.negate
        case d: java.lang.Double => java.lang.Double.valueOf(-d.doubleValue)
        case f: java.lang.Float  => java.lang.Double.valueOf(-f.doubleValue)
        case x: Number => java.lang.Long.valueOf(Math.negateExact(x.longValue))
        case other => fail(s"cannot negate ${other.getClass.getSimpleName}")
      }
    case And(l, r) =>
      val cl = compile(l)
      val cr = compile(r)
      ctx => {
        val a = cl(ctx)
        if (a == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
        else {
          val b = cr(ctx)
          if (b == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
          else if (a == null || b == null) null
          else java.lang.Boolean.TRUE
        }
      }
    case Or(l, r) =>
      val cl = compile(l)
      val cr = compile(r)
      ctx => {
        val a = cl(ctx)
        if (a == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
        else {
          val b = cr(ctx)
          if (b == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
          else if (a == null || b == null) null
          else java.lang.Boolean.FALSE
        }
      }
    case Not(e) =>
      val ce = compile(e)
      ctx => ce(ctx) match {
        case null => null
        case b: java.lang.Boolean => java.lang.Boolean.valueOf(!b.booleanValue)
        case other => fail(s"NOT over a non-boolean in DEFINE: $other")
      }
    case IsNull(e, negated) =>
      val ce = compile(e)
      ctx => java.lang.Boolean.valueOf((ce(ctx) == null) != negated)
    case QCol(v, c) =>
      fail(s"internal: argument-scoped column $v.$c reached compilation")
    case PNav(p, c, _) =>
      fail(s"internal: un-lowered ${if (p) "PREV" else "NEXT"}($c) " +
        "reached compilation")
    case NestNav(p, _, c, _, _, _) =>
      fail(s"internal: un-lowered nested " +
        s"${if (p) "PREV" else "NEXT"}(…$c…) reached compilation")
  }

  /** Compile to the match decision: UNKNOWN → false. */
  def compileBool(n: Node): Ctx => Boolean = {
    val ce = compile(n)
    ctx => ce(ctx) match {
      case b: java.lang.Boolean => b.booleanValue
      case null => false
      case other => fail(s"DEFINE predicate is not boolean-valued " +
        s"(got ${other.getClass.getSimpleName})")
    }
  }

  /** Ctx over a COMPLETED (or prefix of a) match, for expression
    * MEASURES: `asc` is the ascending (rowIdx, strippedVar) assignment
    * list, `curRow` the row unqualified column references denote (the
    * match's last row under FINAL, the current output row under
    * RUNNING). No tentative row — navigation/aggregates see exactly
    * `asc`. */
  final class MatchCtx(g: Array[Row], asc: Seq[(Int, String)], curRow: Int,
      members: String => Seq[String]) extends Ctx {
    def cur(idx: Int): Any =
      if (curRow < 0 || g(curRow).isNullAt(idx)) null else g(curRow).get(idx)
    def curRowIdx: Int = curRow
    def groupSize: Int = g.length
    private def rowsOf(v: String): Seq[Int] =
      if (v.isEmpty) asc.map(_._1)
      else {
        val ms = members(v).map(_.toLowerCase).toSet
        asc.collect { case (ri, vn) if ms(vn.toLowerCase) => ri }
      }
    def navRowIdx(v: String, first: Boolean, off: Int): Int = {
      val rows = rowsOf(v)
      val i = if (first) off else rows.length - 1 - off
      if (i < 0 || i >= rows.length) -1 else rows(i)
    }
    def aggRowIdxs(v: String): Seq[Int] = rowsOf(v)
    def valueAt(row: Int, colIdx: Int): Any =
      if (row < 0 || row >= g.length || g(row).isNullAt(colIdx)) null
      else g(row).get(colIdx)
    def nav(v: String, colIdx: Int, first: Boolean, off: Int): Any =
      valueAt(navRowIdx(v, first, off), colIdx)
    def aggVals(v: String, colIdx: Int): Seq[Any] =
      rowsOf(v).map { ri =>
        if (colIdx < 0) java.lang.Boolean.TRUE
        else if (g(ri).isNullAt(colIdx)) null
        else g(ri).get(colIdx)
      }
  }

  /** Convenience Ctx over a group of rows + the in-flight assignment
    * list (reverse order, exclusion marks included), as the batch
    * matcher holds them. `curRow` is tentatively mapped to `ownVar`. */
  final class RowCtx(g: Array[Row], curIdx: Int, ownVar: String,
      acc: List[(Int, String)], members: String => Seq[String])
      extends Ctx {
    def cur(idx: Int): Any =
      if (g(curIdx).isNullAt(idx)) null else g(curIdx).get(idx)
    def curRowIdx: Int = curIdx
    def groupSize: Int = g.length
    def valueAt(row: Int, colIdx: Int): Any =
      if (row < 0 || row >= g.length || g(row).isNullAt(colIdx)) null
      else g(row).get(colIdx)
    def navRowIdx(v: String, first: Boolean, off: Int): Int = {
      val ms = if (v.isEmpty) null else members(v).map(_.toLowerCase).toSet
      def inVar(name: String): Boolean = {
        val s = MatchRecognize.stripExcl(name).toLowerCase
        ms == null || ms(s)
      }
      if (!first) {
          // LAST(v.c, off): off-th from the most recent; the current
          // tentative row is the most recent when ownVar ∈ members(v)
          var remaining = off
          var found = -1
          if (inVar(ownVar)) {
            if (remaining == 0) found = curIdx else remaining -= 1
          }
          var rest = acc
          while (found < 0 && rest.nonEmpty) {
            val (ri, vn) = rest.head
            if (inVar(vn)) {
              if (remaining == 0) found = ri else remaining -= 1
            }
            rest = rest.tail
          }
          found
        } else {
          // FIRST(v.c, off): off-th from the earliest mapped row
          val rows = scala.collection.mutable.ArrayBuffer.empty[Int]
          acc.foreach { case (ri, vn) => if (inVar(vn)) rows += ri }
          if (inVar(ownVar)) rows.insert(0, curIdx) // acc is reverse order
          val asc = rows.sorted
          if (off < asc.length) asc(off) else -1
        }
    }
    def nav(v: String, colIdx: Int, first: Boolean, off: Int): Any =
      valueAt(navRowIdx(v, first, off), colIdx)
    def aggRowIdxs(v: String): Seq[Int] = {
      val ms = if (v.isEmpty) null else members(v).map(_.toLowerCase).toSet
      def inVar(name: String): Boolean = {
        val s = MatchRecognize.stripExcl(name).toLowerCase
        ms == null || ms(s)
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[Int]
      acc.foreach { case (ri, vn) => if (inVar(vn)) rows += ri }
      if (inVar(ownVar)) rows += curIdx // the tentative current mapping
      rows.sorted.toSeq
    }
    def aggVals(v: String, colIdx: Int): Seq[Any] =
      aggRowIdxs(v).map { ri =>
        if (colIdx < 0) java.lang.Boolean.TRUE // COUNT(*) placeholder
        else if (g(ri).isNullAt(colIdx)) null
        else g(ri).get(colIdx)
      }
  }
}
