package graft.dialect

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.EngineConfig
import graft.engine.Engine
import graft.service.QueryService

/** MATCH_RECOGNIZE: clause parsing, the sequential matcher's Trino
  * semantics (greedy quantifiers, leftmost alternation, SKIP PAST LAST
  * ROW non-overlap, PREV navigation), and the service-level SQL splice. */
class MatchRecognizeSpec extends SparkSpec {
  import spark.implicits._
  import MatchRecognize._

  private def funnel(rows: Seq[(Long, Long, String)]) =
    rows.toDF("uid", "seq", "ev")

  private val funnelClause =
    """PARTITION BY uid
      |ORDER BY seq
      |MEASURES FIRST(A.seq) AS start_seq, LAST(B.seq) AS end_seq,
      |         COUNT(B.*) AS n_b, MATCH_NUMBER() AS mn
      |ONE ROW PER MATCH
      |AFTER MATCH SKIP PAST LAST ROW
      |PATTERN (A B+)
      |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin

  test("funnel (A B+): greedy run, gap breaks the match, non-overlap") {
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "click"), // match: 1-3
      (1L, 4L, "error"),                                      // breaks runs
      (1L, 5L, "view"),                                       // no B follows
      (1L, 6L, "view"), (1L, 7L, "click"),                    // match: 6-7
      (2L, 1L, "click"),                                      // B with no A
      (2L, 2L, "view"), (2L, 3L, "click")))                   // match: 2-3
    val out = MatchRecognize.run(df, parseClause(funnelClause))
      .orderBy("uid", "start_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 1L, 3L, 2L, 1L),
      (1L, 6L, 7L, 1L, 2L),
      (2L, 2L, 3L, 1L, 1L)))
  }

  test("SKIP PAST LAST ROW: a consumed row cannot start the next match") {
    // view view click: row 1's view has no adjacent click (row 2 is a
    // view), so the match is rows 2-3; row 1 matches nothing.
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "view"), (1L, 3L, "click")))
    val out = MatchRecognize.run(df, parseClause(funnelClause))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((2L, 3L)))
  }

  test("PREV navigation: the classic V-shape (falling then rising) works") {
    // Trino docs' stock pattern: STRT DOWN+ UP+ with DEFINE over PREV.
    val px = Seq(
      (1L, 1L, 10.0), (1L, 2L, 8.0), (1L, 3L, 6.0), // falling
      (1L, 4L, 7.0), (1L, 5L, 9.0),                 // rising
      (1L, 6L, 5.0))                                // falls again — no UP after
      .toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(STRT.seq) AS s, LAST(DOWN.price) AS bottom,
        |         LAST(UP.price) AS top, COUNT(*) AS len
        |PATTERN (STRT DOWN+ UP+)
        |DEFINE DOWN AS price < PREV(price), UP AS price > PREV(price)""".stripMargin
    val out = MatchRecognize.run(px, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSeq
    assert(out == Seq((1L, 6.0, 9.0, 5L)))
  }

  test("alternation is leftmost-preferred; optional var may be absent") {
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "buy")))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(V.*) AS n_v, COUNT(C.*) AS n_c, LAST(P.seq) AS p_seq
        |PATTERN (V C? P)
        |DEFINE V AS ev = 'view', C AS ev = 'click', P AS ev = 'buy'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.get(3))).toSeq
    assert(out == Seq((1L, 0L, 2L))) // C absent: count 0, P matched row 2
  }

  test("commented or quoted MATCH_RECOGNIZE text does not trip the splice") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val r = qs.execute(
      """-- not a real MATCH_RECOGNIZE clause
        |SELECT /* MATCH_RECOGNIZE */ 'MATCH_RECOGNIZE (' AS s, COUNT(*) AS n
        |FROM region""".stripMargin)
    val res = r.toOption.getOrElse(fail(r.toString))
    assert(res.rows == Seq(Seq("MATCH_RECOGNIZE (", 5L)))
  }

  test("column references resolve case-insensitively (SQL identifiers)") {
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "click")))
    val clause =
      """PARTITION BY UID ORDER BY SEQ
        |MEASURES FIRST(A.Seq) AS s, LAST(B.SEQ) AS e
        |PATTERN (A B)
        |DEFINE A AS EV = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 2L)))
  }

  test("undefined pattern variable matches any row") {
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "anything")))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES LAST(X.seq) AS x_seq
        |PATTERN (A X)
        |DEFINE A AS ev = 'view'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("ALL ROWS PER MATCH: per-row output, RUNNING measures, CLASSIFIER") {
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "click"),
      (1L, 4L, "error"), // unmatched — excluded from ALL-mode output
      (2L, 5L, "view"), (2L, 6L, "click")))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS var, COUNT(B.*) AS run_b, COUNT(*) AS run_n,
        |         LAST(B.seq) AS last_b, MATCH_NUMBER() AS mn
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("uid", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.get(6), r.getLong(7)))
      .toSeq
    assert(out == Seq(
      // uid, seq, ev, classifier, running count(B), running count(*), last_b, mn
      (1L, 1L, "view", "A", 0L, 1L, null, 1L),
      (1L, 2L, "click", "B", 1L, 2L, 2L, 1L),
      (1L, 3L, "click", "B", 2L, 3L, 3L, 1L),
      (2L, 5L, "view", "A", 0L, 1L, null, 1L),
      (2L, 6L, "click", "B", 1L, 2L, 6L, 1L)), out)
  }

  test("ALL ROWS PER MATCH variants and FINAL on non-aggregates are rejected") {
    def err(clause: String): String =
      intercept[IllegalArgumentException](parseClause(clause)).getMessage
    // SHOW/OMIT EMPTY MATCHES parse as the plain form (no empty
    // matches exist in this subset); unknown variants still reject
    assert(parseClause("""ORDER BY x ALL ROWS PER MATCH OMIT EMPTY MATCHES PATTERN (A) DEFINE A AS true""").allRows)
    assert(parseClause("""ORDER BY x ALL ROWS PER MATCH SHOW EMPTY MATCHES PATTERN (A) DEFINE A AS true""").allRows)
    assert(err("""ORDER BY x ALL ROWS PER MATCH WITH ODD ROWS PATTERN (A) DEFINE A AS true""")
      .contains("variant"))
    // WITH UNMATCHED ROWS needs disjoint matches
    assert(err("""ORDER BY x MEASURES COUNT(*) AS n ALL ROWS PER MATCH WITH UNMATCHED ROWS
                 |AFTER MATCH SKIP TO NEXT ROW PATTERN (A) DEFINE A AS true""".stripMargin)
      .contains("SKIP PAST LAST ROW"))
    // FINAL prefixes navigation/aggregates (parses into finalSem)…
    val spec = parseClause(
      """ORDER BY x MEASURES FINAL LAST(A.x) AS v PATTERN (A) DEFINE A AS true""")
    assert(spec.measures.head.finalSem)
    // …but MATCH_NUMBER()/CLASSIFIER() take no semantics prefix (Trino)
    assert(err("""ORDER BY x MEASURES FINAL MATCH_NUMBER() AS m PATTERN (A) DEFINE A AS true""")
      .contains("FINAL"))
  }

  test("SKIP TO NEXT ROW yields overlapping matches; PAST LAST ROW does not") {
    // view click click: PAST LAST ROW gives one match (rows 1-3);
    // TO NEXT ROW re-tries from row 2 — a second match would need a
    // view there, so still one match here — but with pattern (B B)
    // over clicks c1 c2 c3: PAST LAST = {12}, TO NEXT = {12, 23}.
    val df = funnel(Seq((1L, 1L, "click"), (1L, 2L, "click"), (1L, 3L, "click")))
    def clause(skip: String) =
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES FIRST(B.seq) AS s, LAST(B.seq) AS e
         |AFTER MATCH $skip
         |PATTERN (B B)
         |DEFINE B AS ev = 'click'""".stripMargin
    def runIt(skip: String) =
      MatchRecognize.run(df, parseClause(clause(skip)))
        .orderBy("s").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(runIt("SKIP PAST LAST ROW") == Seq((1L, 2L)))
    assert(runIt("SKIP TO NEXT ROW") == Seq((1L, 2L), (2L, 3L)))
  }

  test("EXPLAIN and SHOW STATS accept MATCH_RECOGNIZE statements") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val mrSql =
      """SELECT user_id, n_clicks FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES COUNT(B.*) AS n_clicks
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin
    val ex = qs.execute(s"EXPLAIN $mrSql")
    assert(ex.isRight && ex.toOption.get.rows.nonEmpty, ex.toString)
    val st = qs.execute(s"SHOW STATS FOR ($mrSql)")
    val res = st.toOption.getOrElse(fail(st.toString))
    assert(res.columns.head == "column_name")
    assert(res.rows.exists(_.head == "user_id"))
  }

  test("{n} / {n,} / {n,m} quantifiers bound repetition") {
    val df = funnel((1L to 6L).map(i => (1L, i, "click")))
    def clause(q: String) =
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES FIRST(B.seq) AS s, COUNT(B.*) AS n
         |PATTERN (B$q)
         |DEFINE B AS ev = 'click'""".stripMargin
    def spans(q: String) = MatchRecognize.run(df, parseClause(clause(q)))
      .orderBy("s").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(spans("{2}") == Seq((1L, 2L), (3L, 2L), (5L, 2L)))
    assert(spans("{4,}") == Seq((1L, 6L)))   // greedy: takes all 6
    assert(spans("{2,4}") == Seq((1L, 4L), (5L, 2L)))
    val e = intercept[IllegalArgumentException](parseClause(clause("{4,2}")))
    assert(e.getMessage.contains("max below min"))
  }

  test("differential: matcher equals java.util.regex on random patterns") {
    // Same preference semantics (leftmost, greedy, backtracking) and
    // the same non-overlapping resume-at-end scan as SKIP PAST LAST
    // ROW — so the (start, end) span sequences must agree exactly.
    // Rows become chars encoding the flag set of vars A/B ('a'+mask);
    // a variable becomes the character class of masks with its bit.
    import MatchRecognize._
    val rnd = new scala.util.Random(20260815L)
    def cls(bit: Int) =
      "[" + (0 until 4).filter(m => (m & (1 << bit)) != 0)
        .map(m => ('a' + m).toChar).mkString + "]"
    def toRegex(p: Pat): String = p match {
      case PVar("A") => cls(0)
      case PVar(v)   => cls(1)
      case PCat(is)  => is.map(toRegex).mkString
      case PAlt(as)  => "(?:" + as.map(toRegex).mkString("|") + ")"
      case PQuant(q, min, max, greedy) =>
        val suffix = (min, max) match {
          case (1, None)    => "+"
          case (0, None)    => "*"
          case (0, Some(1)) => "?"
          case (n, None)    => s"{$n,}"
          case (n, Some(m)) => s"{$n,$m}"
        }
        // reluctant forms map to java.util.regex's native lazy suffix
        "(?:" + toRegex(q) + ")" + suffix + (if (greedy) "" else "?")
    }
    var tested = 0
    (1 to 800).foreach { _ =>
      val pat = MatchRecognize.normalize(MrPatternGen.randPat(rnd))
      if (!nullablePat(pat)) {
        tested += 1
        val n = 1 + rnd.nextInt(10)
        val masks = Array.fill(n)(rnd.nextInt(4)) // bit0=A, bit1=B
        val text = masks.map(m => ('a' + m).toChar).mkString
        // our matcher, skip-past-last-row scan
        val flag = (i: Int, v: String, _: List[(Int, String)]) =>
          (masks(i) & (if (v == "A") 1 else 2)) != 0
        val ours = Seq.newBuilder[(Int, Int)]
        var i = 0
        while (i < n) {
          val m = MatchRecognize.matchFlagsCtx(pat, n, flag, i)
          if (m != null) { ours += ((i, m._1)); i = m._1 } else i += 1
        }
        // java regex find() loop: leftmost, greedy, resumes at end
        val jm = java.util.regex.Pattern.compile(toRegex(pat)).matcher(text)
        val theirs = Seq.newBuilder[(Int, Int)]
        while (jm.find()) theirs += ((jm.start(), jm.end()))
        assert(ours.result() == theirs.result(),
          s"pattern=$pat regex=${toRegex(pat)} text=$text")
      }
    }
    assert(tested > 300) // the generator must exercise real cases
  }

  private def nullablePat(p: MatchRecognize.Pat): Boolean = p match {
    case MatchRecognize.PVar(_)          => false
    case MatchRecognize.PCat(is)         => is.forall(nullablePat)
    case MatchRecognize.PAlt(as)         => as.exists(nullablePat)
    case MatchRecognize.PQuant(_, 0, _, _)  => true
    case MatchRecognize.PQuant(q, _, _, _)  => nullablePat(q)
  }

  test("FIRST/LAST with a logical offset navigate within the match") {
    val df = funnel((1L to 5L).map(i => (1L, i, "click")) :+ ((1L, 0L, "view")))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(B.seq) AS b0, FIRST(B.seq, 1) AS b1,
        |         LAST(B.seq, 1) AS bl1, LAST(B.seq, 9) AS out_of_range
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.get(4)) ==
      ((1L, 2L, 4L, null))) // B rows 1..5: first=1, first+1=2, last-1=4
    // RUNNING semantics in ALL mode: offsets look back within the
    // rows matched SO FAR
    val all = parseClause(clause.replace("PATTERN", "ALL ROWS PER MATCH\nPATTERN"))
    val rows = MatchRecognize.run(df, all).orderBy("seq")
      .collect().map(r2 => (r2.getLong(1), r2.get(4))).toSeq
    // (seq, first(B,1)): null until two B's seen, then 2 from seq>=2
    assert(rows == Seq((0L, null), (1L, null), (2L, 2L), (3L, 2L),
      (4L, 2L), (5L, 2L)))
  }

  test("PERMUTE matches any ordering, preferring earlier-listed variables") {
    val df = funnel(Seq(
      (1L, 1L, "click"), (1L, 2L, "view"),   // B then A — still one match
      (2L, 1L, "view"), (2L, 2L, "click")))  // A then B
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS last_var, COUNT(*) AS n
        |PATTERN (PERMUTE(A, B))
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("uid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // CLASSIFIER (FINAL = last row's var): u1 ends on A, u2 ends on B
    assert(out == Seq((1L, "A", 2L), (2L, "B", 2L)))
    // preference: when both orderings match, the earlier-listed wins —
    // rows satisfying BOTH defines, PERMUTE(X, Y): X Y preferred
    val both = funnel(Seq((1L, 1L, "view"), (1L, 2L, "view")))
    val cl2 =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS last_var
        |PATTERN (PERMUTE(X, Y))
        |DEFINE X AS ev = 'view', Y AS ev = 'view'""".stripMargin
    val o2 = MatchRecognize.run(both, parseClause(cl2)).collect()
    assert(o2.map(_.getString(1)).toSeq == Seq("Y")) // X first, Y last
  }

  test("AFTER MATCH SKIP TO FIRST/LAST var resumes at that row") {
    // view click click view click: with SKIP TO LAST B the next scan
    // resumes AT the last click, which can seed nothing (click is not
    // A), so matches are the same as PAST LAST ROW here; with pattern
    // (A B+) and SKIP TO FIRST B resume at the first click — the
    // second click alone cannot start a match either. Use a pattern
    // where overlap MATTERS: (A B) over alternating rows.
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "viewclick"), (1L, 3L, "view"),
      (1L, 4L, "viewclick")))
    // B rows also satisfy A's predicate prefix: ev LIKE 'view%'
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(B.seq) AS e
        |AFTER MATCH SKIP TO LAST B
        |PATTERN (A B)
        |DEFINE A AS ev LIKE 'view%', B AS ev = 'viewclick'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("s").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // match 1 = rows 1-2; resume AT row 2 (last B) → row 2 can be A →
    // match 2 = rows 2-? B must be viewclick: row 3 is plain view →
    // no; try row 3: A=3, B=4 → match. So spans (1,2) and (3,4)…
    // but ALSO the resume-at-2 attempt (2,?) fails and scanning moves
    // on — overlap was possible but not realized on this data.
    assert(out == Seq((1L, 2L), (3L, 4L)))
    // overlap realized: every row satisfies both A and B
    val all = funnel(Seq((1L, 1L, "viewclick"), (1L, 2L, "viewclick"),
      (1L, 3L, "viewclick")))
    val o2 = MatchRecognize.run(all, parseClause(clause))
      .orderBy("s").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(o2 == Seq((1L, 2L), (2L, 3L))) // SKIP TO LAST B overlaps
    // error cases: unmatched var / skipping to the match start
    val bad =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n
        |AFTER MATCH SKIP TO FIRST A
        |PATTERN (A B?)
        |DEFINE A AS ev LIKE 'view%', B AS ev = 'never'""".stripMargin
    val e = intercept[org.apache.spark.SparkException] {
      MatchRecognize.run(all, parseClause(bad)).collect()
    }
    assert(e.getMessage.contains("first row of the match") ||
      Option(e.getCause).exists(_.getMessage.contains("first row of the match")))
  }

  test("rejections carry clear messages; nullable patterns are refused") {
    def err(clause: String): String =
      intercept[IllegalArgumentException](parseClause(clause)).getMessage
    assert(err("ORDER BY x MEASURES COUNT(*) AS n PATTERN (A) SUBSET U = (A, Z) DEFINE A AS true")
      .contains("SUBSET U members not in PATTERN"))
    assert(err("ORDER BY x MEASURES COUNT(*) AS n PATTERN (A B) SUBSET A = (B) DEFINE B AS true")
      .contains("collides"))
    assert(err("ORDER BY x MEASURES COUNT(*) AS n AFTER MATCH SKIP HALFWAY PATTERN (A) DEFINE A AS true")
      .contains("SKIP PAST LAST ROW"))
    assert(err("ORDER BY x MEASURES COUNT(*) AS n AFTER MATCH SKIP TO LAST Z PATTERN (A) DEFINE A AS true")
      .contains("unknown variable"))
    // nullable patterns are legal (empty matches) EXCEPT combined with
    // WITH UNMATCHED ROWS, whose "unmatched" accounting they'd blur
    assert(err("ORDER BY x MEASURES COUNT(*) AS n " +
      "ALL ROWS PER MATCH WITH UNMATCHED ROWS PATTERN (A*) DEFINE A AS true")
      .contains("match empty"))
    assert(err("MEASURES COUNT(*) AS n PATTERN (A) DEFINE A AS true")
      .contains("ORDER BY"))
    assert(err("ORDER BY x MEASURES COUNT(*) AS n PATTERN (A) DEFINE B AS true")
      .contains("not in PATTERN"))
  }

  test("service: MATCH_RECOGNIZE SQL executes end-to-end with outer clauses") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val r = qs.execute(
      """SELECT user_id, n_clicks
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES FIRST(A.ts) AS start_ts, COUNT(B.*) AS n_clicks
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click'
        |) ORDER BY user_id, start_ts LIMIT 5""".stripMargin)
    val res = r.toOption.getOrElse(fail(r.toString))
    assert(res.columns == Seq("user_id", "n_clicks"))
    assert(res.rows.nonEmpty && res.rows.forall(_.last.asInstanceOf[Long] >= 1L))
  }

  test("service: ALL ROWS PER MATCH works; unsupported forms return errors") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val ok = qs.execute(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES CLASSIFIER() AS var, COUNT(*) AS run_n
        |  ALL ROWS PER MATCH
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')
        |LIMIT 10""".stripMargin)
    val res = ok.toOption.getOrElse(fail(ok.toString))
    // every input column + the two measures
    assert(res.columns.takeRight(2) == Seq("var", "run_n"))
    assert(res.columns.contains("event_type") && res.rows.nonEmpty)
    val bad = qs.execute(
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(*) AS n
        |  ALL ROWS PER MATCH WITH ODD ROWS
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin)
    assert(bad.isLeft && bad.swap.toOption.get.contains("variant"))
  }

  test("SUBSET union variables work in MEASURES and SKIP TO") {
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "click"),
      (1L, 5L, "view"), (1L, 6L, "click")))
      .withColumn("v", col("seq").cast("double"))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(U.seq) AS u_first, LAST(U.seq) AS u_last,
        |         COUNT(U.*) AS u_n, SUM(U.v) AS u_sum
        |PATTERN (A B+)
        |SUBSET U = (A, B)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("u_first")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // U = A ∪ B = every matched row here
    assert(out == Seq((1L, 3L, 3L, 6.0), (5L, 6L, 2L, 11.0)))
    // SKIP TO FIRST U = the match start → rejected at runtime like a var
    val skipClause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n
        |AFTER MATCH SKIP TO LAST U
        |PATTERN (A B+)
        |SUBSET U = (A, B)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    // LAST U = last row of the match: overlap resumes AT that row; the
    // click there cannot start (A B+) so scanning proceeds — same
    // matches, proving the subset resolved through the skip path
    val out2 = MatchRecognize.run(df, parseClause(skipClause))
      .collect().map(_.getLong(1)).toSeq.sorted
    assert(out2 == Seq(2L, 3L))
  }

  test("matcher equals the window-SQL replay on the real events table") {
    // Disjoint A/B predicates make (A B+) expressible with plain
    // windows: every maximal click-island directly preceded by a view.
    val events = graft.engine.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val clause =
      """PARTITION BY user_id ORDER BY ts, event_id
        |MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
        |         COUNT(B.*) AS n_clicks
        |PATTERN (A B+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
    val mr = MatchRecognize.run(events, parseClause(clause))
      .orderBy("user_id", "start_ts")
      .collect().map(_.toString).toSeq
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e = events.withColumn("rn", row_number().over(wAll))
    val wClick = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val islands = e.filter(col("event_type") === "click")
      .withColumn("grp", col("rn") - row_number().over(wClick))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("rn")).as("first_rn"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_clicks"))
    val expected = islands.join(
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("rn"), col("ts").as("start_ts")),
        islands("user_id") === e("user_id") && col("first_rn") === col("rn") + 1)
      .select(islands("user_id"), col("start_ts"), col("end_ts"), col("n_clicks"))
      .orderBy("user_id", "start_ts")
      .collect().map(_.toString).toSeq
    assert(mr.nonEmpty && mr == expected)
  }

  test("cross-variable DEFINEs with a function call and a CASE equal a window-SQL replay") {
    // A and B stay disjoint on event_type, so the matches are exactly
    // the adjacent (view, click) pairs whose click passes the test — a
    // lead() window in plain SQL
    val rnd = new scala.util.Random(20261021L)
    val events = (1 to 600).map { i =>
      (1L + rnd.nextInt(5), i.toLong, Seq("view", "click", "buy")(rnd.nextInt(3)),
        (rnd.nextInt(2001) - 1000) / 10.0)
    }.toDF("user_id", "event_id", "event_type", "value")
      .withColumn("ts", col("event_id"))
    def mr(b: String) = MatchRecognize.run(events, parseClause(
      s"""PARTITION BY user_id ORDER BY ts, event_id
         |MEASURES FIRST(A.event_id) AS a_eid, LAST(B.value) AS b_val
         |PATTERN (A B)
         |DEFINE A AS event_type = 'view',
         |       B AS event_type = 'click' AND $b""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("n_type", lead(col("event_type"), 1).over(w))
      .withColumn("n_val", lead(col("value"), 1).over(w))
      .filter(col("event_type") === "view" && col("n_type") === "click")
    def replay(test: String) = pairs.filter(expr(test))
      .select(col("user_id"), col("event_id"), col("n_val")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val fn = mr("abs(B.value - A.value) > 10")
    assert(fn.nonEmpty && fn == replay("abs(n_val - value) > 10"))
    val cased = mr("CASE WHEN A.value > 50 THEN B.value < A.value ELSE B.value >= A.value END")
    assert(cased.nonEmpty &&
      cased == replay("CASE WHEN value > 50 THEN n_val < value ELSE n_val >= value END"))
  }

  test("expression measures take functions: round(LAST(B.v) - FIRST(A.v), 1)") {
    val df = Seq(
      (1L, 1L, "view", 10.04), (1L, 2L, "click", 4.0), (1L, 3L, "click", 16.18),
      (2L, 1L, "view", 3.0), (2L, 2L, "click", 1.26))
      .toDF("uid", "seq", "ev", "v")
    val out = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES round(LAST(B.v) - FIRST(A.v), 1) AS d,
        |         concat(CLASSIFIER(), '#', CAST(MATCH_NUMBER() AS STRING)) AS tag
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin))
    assert(out.schema("d").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = out.orderBy("uid").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 6.1, "B#1"), (2L, -1.7, "B#1")))
  }

  test("FINAL measures in ALL ROWS PER MATCH evaluate over the whole match") {
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 2.0), (1L, 3L, "click", 4.0))
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS rn, FINAL COUNT(*) AS tot,
        |         SUM(B.v) AS rs, FINAL SUM(B.v) AS fs,
        |         FINAL LAST(B.v) AS flv, FINAL COUNT(B.*) AS fb
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("seq")
      .collect().map(r => (r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1.0 else r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getLong(9))).toSeq
    assert(out == Seq(
      (1L, 3L, -1.0, 6.0, 4.0, 2L), // RUNNING rn/rs move; FINAL constant
      (2L, 3L, 2.0, 6.0, 4.0, 2L),
      (3L, 3L, 6.0, 6.0, 4.0, 2L)))
  }

  test("PREV/NEXT with offsets navigate physical partition rows in DEFINE") {
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0),
      (1L, 4L, 4.0), (1L, 5L, 5.0)).toDF("uid", "seq", "v")
    // interior rising rows: both neighbors exist and bracket v —
    // NEXT is null on the last partition row, so row 5 cannot match
    val interior = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, COUNT(A.*) AS n
        |PATTERN (A+)
        |DEFINE A AS v > PREV(v) AND v < NEXT(v)""".stripMargin))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(interior == Seq((2L, 3L))) // rows 2,3,4
    // PREV with an explicit offset: v = PREV(v, 2) + 2 holds from row 3
    val stride = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(B.seq) AS s, COUNT(B.*) AS n
        |PATTERN (B+)
        |DEFINE B AS v = PREV(v, 2) + 2""".stripMargin))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(stride == Seq((3L, 3L))) // rows 3,4,5
  }

  test("WITH UNMATCHED ROWS emits every row; unmatched ones all-NULL") {
    val df = funnel(Seq(
      (1L, 1L, "error"),                    // unmatched
      (1L, 2L, "view"), (1L, 3L, "click"),  // match 1
      (1L, 4L, "view"),                     // unmatched (no click follows)
      (2L, 1L, "view"), (2L, 2L, "click"))) // match 1 of uid 2
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
        |ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("uid", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 1L, null, -1L),
      (1L, 2L, "A", 1L), (1L, 3L, "B", 1L),
      (1L, 4L, null, -1L),
      (2L, 1L, "A", 1L), (2L, 2L, "B", 1L)))
  }

  test("clause fuzz: parseClause returns a Spec or a MATCH_RECOGNIZE error") {
    // random fragment soup — the parser must never escape with a
    // NumberFormatException / MatchError / StringIndexOutOfBounds;
    // every rejection carries the MATCH_RECOGNIZE: prefix
    val rnd = new scala.util.Random(20260816L)
    val frags = Seq(
      "PARTITION BY uid", "ORDER BY seq", "ORDER BY", "MEASURES",
      "MEASURES COUNT(*) AS n", "MEASURES SUM(B.v) AS s, FINAL LAST(A.x) AS l",
      "MEASURES FIRST(A.x, 99999999999) AS o", "MEASURES RUNNING AVG(v) AS a",
      "ALL ROWS PER MATCH", "ALL ROWS PER MATCH WITH UNMATCHED ROWS",
      "AFTER MATCH SKIP TO NEXT ROW", "AFTER MATCH SKIP TO LAST B",
      "PATTERN (A B+)", "PATTERN (^ A {- B+? -} $)", "PATTERN ((A|B){2,3})",
      "PATTERN (", "PATTERN (A+?)", "PATTERN (A{99999999999})",
      "PATTERN (A{3,1})", "PATTERN (A** )", "PATTERN ({- -})",
      "SUBSET U = (A, B)", "SUBSET U =", "SUBSET = (A)",
      "DEFINE A AS ev = 'view'", "DEFINE B AS PREV(x, 2) > NEXT(x)",
      "DEFINE", "'order by measures'", "pattern_id >= 0", ", ,", "((", "))",
      // the r13 interpreted surface: cross refs, aggregates, expression
      // measures — the PARSER layer must stay total over fragment soup
      "DEFINE B AS B.v > A.v", "DEFINE B AS SUM(B.v) <= 25 AND Z.q = 1",
      "DEFINE C AS v BETWEEN LAST(U.v) - 2 AND", "DEFINE A AS COUNT(",
      "DEFINE A AS AVG(A.v) < FIRST(B.v, 999999999999)",
      "MEASURES LAST(B.v) - FIRST(A.v) AS d", "MEASURES SUM(B.v) / COUNT(B.*) AS r",
      "MEASURES v - PREV(v) AS step, NEXT(v) IS NULL AS e",
      "MEASURES 1 + AS broken", "MEASURES (A.v AS x",
      "MEASURES upper(x) AS u", "MEASURES A.v IN (1, 2,",
      // the r13 second-wave surface: nested navigation, expression
      // arguments, CLASSIFIER(U) — valid, invalid, and truncated forms
      "MEASURES PREV(LAST(B.v, 1), 2) AS p", "MEASURES PREV(FIRST(A.v)) AS q",
      "MEASURES SUM(A.v * (1 - A.w)) AS net", "MEASURES PREV(v + w) AS c",
      "MEASURES NEXT(FIRST(B.v), 999999999999) AS o",
      "MEASURES SUM(A.v + B.w) AS mixed", "MEASURES LAST(A.v + w) AS mixed2",
      "MEASURES LAST(FIRST(A.v) + 1) AS nest", "MEASURES SUM(COUNT(A.v)) AS agg2",
      "MEASURES PREV(LAST(", "MEASURES SUM(A.v * ) AS t",
      "MEASURES CLASSIFIER(U) AS cu", "MEASURES CLASSIFIER(Z) AS cz",
      "MEASURES AVG(A.v * 99999999999999999999) AS big",
      "DEFINE B AS v > PREV(A.v)", "DEFINE B AS SUM(A.v * A.w) <= 5",
      "DEFINE B AS v + w > PREV(v + w) + 10",
      // ORDER BY direction/null-ordering forms (r13), plus broken ones
      "ORDER BY seq DESC", "ORDER BY seq ASC NULLS FIRST",
      "ORDER BY seq DESC NULLS LAST, ts", "ORDER BY seq NULLS",
      "ORDER BY DESC", "ORDER BY seq BANANA")
    var specs = 0; var rejects = 0
    (1 to 4000).foreach { i =>
      val n = 1 + rnd.nextInt(6)
      val clause = Seq.fill(n)(frags(rnd.nextInt(frags.length))).mkString(" ")
      try { parseClause(clause); specs += 1 }
      catch {
        case e: IllegalArgumentException =>
          rejects += 1
          assert(e.getMessage != null &&
            e.getMessage.startsWith("MATCH_RECOGNIZE:"),
            s"case $i: bad message '${e.getMessage}' for clause: $clause")
        case e: Throwable =>
          fail(s"case $i: ${e.getClass.getName}: ${e.getMessage} " +
            s"for clause: $clause")
      }
    }
    assert(specs > 10 && rejects > 500) // both paths genuinely exercised
  }

  test("service splice handles the full pattern syntax end-to-end") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val r = qs.execute(
      """SELECT user_id, cls, n_clicks
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES CLASSIFIER() AS cls, FINAL COUNT(B.*) AS n_clicks
        |  ALL ROWS PER MATCH
        |  PATTERN (A {- B+? -})
        |  SUBSET U = (A, B)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')
        |ORDER BY user_id LIMIT 5""".stripMargin)
    val res = r.toOption.getOrElse(fail(r.toString))
    assert(res.columns == Seq("user_id", "cls", "n_clicks"))
    // exclusion keeps only A rows; reluctant B+? maps exactly one click
    assert(res.rows.nonEmpty && res.rows.forall(row =>
      row(1) == "A" && row(2).asInstanceOf[Long] == 1L))
  }

  test("reluctant quantifiers prefer the fewest iterations (Trino's lazy forms)") {
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "click"), (1L, 4L, "click")))
    def nB(pat: String): Seq[Long] = MatchRecognize.run(df, parseClause(
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES COUNT(B.*) AS n_b
         |PATTERN ($pat)
         |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin))
      .collect().map(_.getLong(1)).toSeq.sorted
    assert(nB("A B+") == Seq(3L))      // greedy swallows the run
    assert(nB("A B+?") == Seq(1L))     // lazy stops at the first click
    assert(nB("A B{2,3}?") == Seq(2L)) // lazy honors the minimum
    // trailing lazy-optional: prefers ABSENT
    assert(nB("A B??") == Seq(0L))
  }

  test("^ / $ anchors pin matches to the partition boundaries") {
    val df = funnel(Seq(
      (1L, 1L, "view"), (1L, 2L, "click"),   // starts at partition head
      (1L, 3L, "view"), (1L, 4L, "click"),   // interior occurrence
      (2L, 1L, "error"),
      (2L, 2L, "view"), (2L, 3L, "click")))  // NOT at partition head
    def run(pat: String) = MatchRecognize.run(df, parseClause(
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES FIRST(A.seq) AS s, COUNT(*) AS n
         |PATTERN ($pat)
         |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // anchored at start: only uid 1's FIRST pair qualifies
    assert(run("^ A B") == Seq((1L, 1L)))
    // anchored at end: the LAST pair of each partition
    assert(run("A B $") == Seq((1L, 3L), (2L, 2L)))
    // both: the whole partition must BE the match — only uid 2 fails
    assert(run("^ A B $").isEmpty) // uid1 has 4 rows, uid2 starts with error
    // quantified anchor is rejected
    assert(intercept[IllegalArgumentException](parseClause(
      """ORDER BY seq MEASURES COUNT(*) AS n PATTERN (^+ A) DEFINE A AS true"""))
      .getMessage.contains("quantified"))
  }

  test("{- -} exclusions: rows feed measures but are not emitted in ALL mode") {
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 2.0), (1L, 3L, "click", 4.0))
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS cls, FINAL COUNT(B.*) AS nb,
        |         FINAL SUM(B.v) AS sb
        |ALL ROWS PER MATCH
        |PATTERN (A {- B+ -})
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getString(4), r.getLong(5),
        r.getDouble(6))).toSeq
    // only the A row is OUTPUT; the excluded B rows still drive the
    // whole-match aggregates
    assert(out == Seq((1L, "A", 2L, 6.0)))
    // ONE ROW PER MATCH is unaffected by exclusions
    val one = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(B.*) AS nb, LAST(B.seq) AS lb
        |PATTERN (A {- B+ -})
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(one == Seq((2L, 3L)))
    // exclusions cannot combine with WITH UNMATCHED ROWS (Trino)
    assert(intercept[IllegalArgumentException](parseClause(
      """ORDER BY seq MEASURES COUNT(*) AS n
        |ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |PATTERN (A {- B -}) DEFINE A AS true, B AS true""".stripMargin))
      .getMessage.contains("UNMATCHED"))
  }

  test("cross-variable DEFINE: B.price > A.price evaluates (RUNNING LAST)") {
    // the form the pre-r13 code silently misread and r13-early rejected:
    // now it EVALUATES — A.price inside DEFINE B is the last row mapped
    // to A in this hypothesis (SQL:2016 RUNNING LAST semantics)
    val df = Seq(
      (1L, 1L, "view", 5.0), (1L, 2L, "click", 7.0),  // 7 > 5: match
      (1L, 3L, "view", 9.0), (1L, 4L, "click", 2.0),  // 2 < 9: no match
      (2L, 1L, "view", 1.0), (2L, 2L, "click", 1.0))  // equal: no match
      .toDF("uid", "seq", "ev", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS a_seq, LAST(B.price) AS b_price
        |PATTERN (A B)
        |DEFINE A AS ev = 'view', B AS B.price > A.price""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 1L, 7.0)))
    // the variable's OWN qualifier still denotes the current row
    val own = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B)
        |DEFINE A AS A.ev = 'view', B AS B.ev = 'click'""".stripMargin))
      .collect()
    assert(own.length == 3)
    // a quoted 'A.x' string literal must NOT trip cross detection (it
    // would lose the full Catalyst surface for no reason)
    val lit = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE A AS ev = 'view', B AS ev <> 'A.x'""".stripMargin))
      .collect()
    assert(lit.length == 3) // every view+any pair: (1,2) (3,4) (2:1,2)
    // the lowering strips only the variable's own qualifier: a 'B.x'
    // inside a string literal is data
    val quoted = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE A AS ev = 'view', B AS B.ev <> 'B.x' AND b.price > 0""".stripMargin))
      .collect()
    assert(quoted.length == 3)
  }

  test("cross-variable DEFINE: the Trino docs V-shape with A.price cap") {
    // PATTERN (A B+ C+), C AS price > PREV(price) AND price <= A.price —
    // the canonical docs funnel: the recovery leg must not exceed the
    // starting price. Hand-computed preferred match.
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 8.0), (1L, 3L, 6.0), // A=1, B=[2,3]
      (1L, 4L, 7.0), (1L, 5L, 9.0),                 // C=[4,5] (9 <= 10)
      (1L, 6L, 12.0),                               // 12 > A.price: C stops
      (2L, 1L, 5.0), (2L, 2L, 4.0), (2L, 3L, 6.0))  // 6 > 5: C never matches
      .toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(B.price) AS bottom,
        |         LAST(C.price) AS top, COUNT(*) AS len
        |PATTERN (A B+ C+)
        |DEFINE B AS price < PREV(price),
        |       C AS price > PREV(price) AND price <= A.price""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(out == Seq((1L, 1L, 6.0, 9.0, 5L)))
  }

  test("cross-variable DEFINE: backtracking re-evaluates with each hypothesis") {
    // A B* C with C AS v > LAST(B.v): greedy B* first swallows
    // everything, then gives rows back until C's cross predicate holds
    // against the SHRUNKEN B — v=[1,5,7,6]: B=[5,7] fails C at 6 (6<7),
    // B=[5] lets C=7 match (7>5). The matcher must re-test row 2 as C
    // with the hypothesis' own assignment state.
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 5.0), (1L, 3L, 7.0), (1L, 4L, 6.0))
      .toDF("uid", "seq", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, COUNT(B.*) AS nb, LAST(C.v) AS cv
        |PATTERN (A B* C)
        |DEFINE B AS v < 10, C AS v > LAST(B.v)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq((1L, 1L, 7.0)))
  }

  test("cross-variable DEFINE: FIRST/LAST offsets, self-LAST, IS NULL guard") {
    // strictly-increasing run via LOGICAL self-navigation: LAST(B.v, 1)
    // is the PREVIOUS B row (the current row is the 0th); the first B
    // row has none → IS NULL guard admits it (the standard idiom)
    val df = Seq(
      (1L, 1L, 3.0), (1L, 2L, 4.0), (1L, 3L, 9.0),
      (1L, 4L, 2.0), (1L, 5L, 8.0))
      .toDF("uid", "seq", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(B.seq) AS s, COUNT(B.*) AS n, LAST(B.v) AS last_v
        |PATTERN (B+)
        |DEFINE B AS LAST(B.v, 1) IS NULL OR B.v > LAST(B.v, 1)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("s")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // runs: [3,4,9] then [2,8] (each maximal under SKIP PAST LAST ROW)
    assert(out == Seq((1L, 3L, 9.0), (4L, 2L, 8.0)))
    // FIRST with cross reference: stop when the value doubles the first
    val clause2 =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(B.seq) AS s, COUNT(B.*) AS n
        |PATTERN (B+)
        |DEFINE B AS FIRST(B.v) IS NULL OR v <= FIRST(B.v) * 2""".stripMargin
    val out2 = MatchRecognize.run(df, parseClause(clause2))
      .orderBy("s")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // FIRST(B.v) INCLUDES the tentative current row (run 1: first=3 —
    // 3<=6 ✓, 4<=6 ✓, 9>6 ✗ → seqs [1,2]); run 2 restarts at seq 3 with
    // first=9, and 2<=18, 8<=18 both pass → seqs [3,4,5]
    assert(out2 == Seq((1L, 2L), (3L, 3L)))
  }

  test("cross-variable DEFINE: SUBSET references, BETWEEN/IN/arith forms") {
    val df = Seq(
      (1L, 1L, "view", 4.0), (1L, 2L, "click", 5.0), (1L, 3L, "buy", 6.0),
      (1L, 4L, "view", 4.0), (1L, 5L, "click", 5.0), (1L, 6L, "buy", 90.0))
      .toDF("uid", "seq", "ev", "v")
    // C must land within [LAST(U.v) - 2, LAST(U.v) + 2] where U=(A,B):
    // match 1: LAST(U.v)=5, C.v=6 ∈ [3,7] ✓; match 2: C.v=90 ✗
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(C.v) AS cv
        |PATTERN (A B C)
        |SUBSET U = (A, B)
        |DEFINE A AS ev = 'view', B AS ev = 'click',
        |       C AS ev IN ('buy', 'refund')
        |         AND C.v BETWEEN LAST(U.v) - 2 AND LAST(U.v) + 2""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, 6.0)))
  }

  test("aggregate DEFINE: running SUM packs greedy runs under a budget") {
    // SUM(A.v) <= 10 over v=[4,3,5,2,9,1]: start 1 packs [4,3] (12>10
    // at seq 3), start 2 packs [3,5,2], start 3 packs [5,2], start 4
    // packs [2], start 5 no match (9... wait 9<=10 → packs [9,1]),
    // start 6 packs [1]. SKIP TO NEXT ROW = every start independent.
    val df = Seq((1L, 1L, 4L), (1L, 2L, 3L), (1L, 3L, 5L),
      (1L, 4L, 2L), (1L, 5L, 9L), (1L, 6L, 1L)).toDF("uid", "seq", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, COUNT(*) AS n, SUM(A.v) AS total
        |AFTER MATCH SKIP TO NEXT ROW
        |PATTERN (A+)
        |DEFINE A AS SUM(A.v) <= 10""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("s")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 2L, 7L), (2L, 3L, 10L), (3L, 2L, 7L),
      (4L, 1L, 2L), (5L, 2L, 10L), (6L, 1L, 1L)))
  }

  test("aggregate DEFINE: COUNT/AVG/MIN/MAX forms and null skipping") {
    // COUNT(*) caps the run length regardless of values
    val df = Seq((1L, 1L, 5.0), (1L, 2L, 5.0), (1L, 3L, 5.0), (1L, 4L, 5.0))
      .toDF("uid", "seq", "v")
    val capped = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, COUNT(*) AS n
        |PATTERN (A+) DEFINE A AS COUNT(*) <= 3""".stripMargin))
      .orderBy("s").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(capped == Seq((1L, 3L), (4L, 1L))) // SKIP PAST LAST ROW
    // AVG with a cross variable: B continues while the B-average stays
    // at or under double the A row's value
    val df2 = Seq((1L, 1L, 4.0), (1L, 2L, 6.0), (1L, 3L, 8.0), (1L, 4L, 20.0))
      .toDF("uid", "seq", "v")
    val avg = MatchRecognize.run(df2, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, COUNT(B.*) AS nb
        |PATTERN (A B+) DEFINE B AS AVG(B.v) <= A.v * 2""".stripMargin))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // B run: avg(6)=6<=8 ✓, avg(6,8)=7<=8 ✓, avg(6,8,20)=11.33>8 ✗
    assert(avg == Seq((1L, 2L)))
    // COUNT(V.c) skips nulls; MIN/MAX compare within mapped rows
    val df3 = Seq((1L, 1L, Some(3.0)), (1L, 2L, None), (1L, 3L, Some(5.0)))
      .toDF("uid", "seq", "v")
    val cnt = MatchRecognize.run(df3, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n
        |PATTERN (A+) DEFINE A AS COUNT(A.v) <= 1 AND MAX(A.v) <= 99""".stripMargin))
      .orderBy(desc("n")).collect().map(_.getLong(1)).toSeq
    // rows 1+2 pack (one non-null v), row 3 alone
    assert(cnt == Seq(2L, 1L))
    // SUM(*) is invalid; AVG over a string column errors clearly
    val e = intercept[IllegalArgumentException](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A+) DEFINE A AS SUM(*) <= 3""".stripMargin)))
    assert(e.getMessage.contains("only COUNT takes *"))
  }

  test("expression MEASURES: arithmetic/boolean over navigation, typing") {
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 4.0), (1L, 3L, "click", 16.0),
      (1L, 4L, "view", 8.0), (1L, 5L, "click", 2.0))
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s,
        |         LAST(B.v) - FIRST(A.v) AS delta,
        |         SUM(B.v) / COUNT(B.*) AS per_b,
        |         COUNT(B.*) * 2 + 1 AS odd,
        |         LAST(B.v) > FIRST(A.v) AS up
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("s")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(out == Seq(
      (1L, 6.0, 10.0, 5L, true),    // 16-10, (4+16)/2, 2*2+1
      (4L, -6.0, 2.0, 3L, false)))  // 2-8, 2/1, 1*2+1
  }

  test("expression MEASURES: RUNNING vs FINAL in ALL ROWS mode; errors") {
    val df = Seq((1L, 1L, "view", 10.0), (1L, 2L, "click", 4.0),
      (1L, 3L, "click", 16.0)).toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES SUM(B.v) + 0 AS run_sum, FINAL (SUM(B.v) + 0) AS tot_sum,
        |         v - FIRST(A.v) AS rel
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("seq")
      .collect().map { r =>
        (r.getLong(1), // seq
          if (r.isNullAt(4)) null else r.getDouble(4),   // run_sum
          r.getDouble(5), r.getDouble(6))                // tot_sum, rel
      }.toSeq
    // RUNNING sum is NULL on the A row (no B yet), grows along B rows;
    // FINAL repeats the whole-match sum; unqualified v = the CURRENT
    // row under RUNNING
    assert(out == Seq((1L, null, 20.0, 0.0), (2L, 4.0, 20.0, -6.0),
      (3L, 20.0, 20.0, 6.0)))
    // arithmetic over a string column takes Spark's ANSI coercion: the
    // string is cast to a number, and 'click' fails that cast when read
    val e = intercept[Exception](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq
        |MEASURES LAST(B.ev) + 1 AS bad
        |PATTERN (A B+) DEFINE B AS ev = 'click'""".stripMargin)).collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + chain(t.getCause)
    assert(chain(e).contains("CAST_INVALID_INPUT"), chain(e))
    // a function call in a measure is Spark's: upper() of the measure's
    // row, the match's last
    val up = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq
        |MEASURES upper(ev) AS u
        |PATTERN (A B+) DEFINE B AS ev = 'click'""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(up == Seq((1L, "CLICK")))
  }

  test("empty matches: ONE ROW PER MATCH emits them with null navigation") {
    // B* over [click, view, click, click, view]: greedy prefers the
    // non-empty run; every non-click row hosts an EMPTY match (COUNT 0,
    // null navigation/CLASSIFIER, MATCH_NUMBER assigned), and the scan
    // advances one row after each empty match
    val df = funnel(Seq((1L, 1L, "click"), (1L, 2L, "view"),
      (1L, 3L, "click"), (1L, 4L, "click"), (1L, 5L, "view")))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(B.seq) AS s, COUNT(B.*) AS n, MATCH_NUMBER() AS mn,
        |         CLASSIFIER() AS cls
        |PATTERN (B*)
        |DEFINE B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("mn")
      .collect().map(r => (if (r.isNullAt(1)) null else r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    assert(out == Seq(
      (1L, 1L, 1L, "B"),      // run [1]
      (null, 0L, 2L, null),   // empty at the view (seq 2)
      (3L, 2L, 3L, "B"),      // run [3,4]
      (null, 0L, 4L, null)))  // empty at seq 5
  }

  test("empty matches: ALL ROWS SHOW vs OMIT EMPTY MATCHES") {
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view")))
    def run(mode: String) = MatchRecognize.run(df, parseClause(
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n
         |ALL ROWS PER MATCH $mode
         |PATTERN (B*)
         |DEFINE B AS ev = 'click'""".stripMargin)).orderBy("seq")
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSeq
    // SHOW (default): empty matches at seqs 1 and 3 emit the site row
    // with COUNT 0; the click run emits its row with COUNT 1
    assert(run("SHOW EMPTY MATCHES") ==
      Seq((1L, 1L, 0L), (2L, 2L, 1L), (3L, 3L, 0L)))
    assert(run("") == run("SHOW EMPTY MATCHES")) // SHOW is the default
    // OMIT: only the non-empty match's rows survive, numbering unchanged
    assert(run("OMIT EMPTY MATCHES") == Seq((2L, 2L, 1L)))
  }

  test("expression MEASURES: PREV/NEXT physical navigation") {
    // delta vs the row BEFORE the match start (PREV anchors at the
    // measure's row: the match's last row in ONE-ROW/FINAL mode)
    val df = Seq((1L, 1L, 5.0), (1L, 2L, 7.0), (1L, 3L, 9.0))
      .toDF("uid", "seq", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES LAST(B.seq) AS s, v - PREV(v) AS step,
        |         NEXT(v) IS NULL AS at_end
        |PATTERN (B)
        |DEFINE B AS v > 0
        |AFTER MATCH SKIP TO NEXT ROW""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("s")
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getBoolean(3))).toSeq
    // row 1: no PREV → null step; rows 2,3: +2 each; NEXT null only at 3
    assert(out == Seq((1L, null, false), (2L, 2.0, false), (3L, 2.0, true)))
  }

  test("cross-variable DEFINE: null semantics and error surfaces") {
    val df = Seq(
      (1L, 1L, "view", Some(5.0)), (1L, 2L, "click", None),      // null B.v
      (1L, 3L, "view", None), (1L, 4L, "click", Some(7.0)))      // null A.v
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s
        |PATTERN (A B)
        |DEFINE A AS ev = 'view', B AS B.v > A.v""".stripMargin
    // both candidate pairs have a NULL side → UNKNOWN → no match (SQL)
    assert(MatchRecognize.run(df, parseClause(clause)).collect().isEmpty)
    // unknown qualifier in a cross predicate → clear message
    val e1 = intercept[IllegalArgumentException](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE A AS ev = 'view',
        |B AS B.v > A.v AND B.v > Z.v""".stripMargin)))
    assert(e1.getMessage.contains("Z") &&
      e1.getMessage.contains("not a pattern variable"))
    // a function call inside a CROSS predicate is Spark's own
    val signed = Seq((1L, 1L, "view", 5.0), (1L, 2L, "click", -7.0),
      (2L, 1L, "view", 5.0), (2L, 2L, "click", 3.0)).toDF("uid", "seq", "ev", "v")
    val absRows = MatchRecognize.run(signed,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES FIRST(A.seq) AS s
        |PATTERN (A B) DEFINE A AS ev = 'view', B AS abs(B.v) > A.v""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(absRows == Seq((1L, 1L))) // |-7| > 5; |3| is not
    // PREV over a DIFFERENT variable is nested-navigation sugar —
    // PREV(A.v) ≡ PREV(LAST(A.v), 1): starts at row 1 see NULL (before
    // the partition) → UNKNOWN → no match; the start at row 2 compares
    // row 1's v = 5 > 1 → the one match
    val nested = MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE B AS PREV(A.v) > 1""".stripMargin)).collect()
    assert(nested.length == 1 && nested(0).getLong(1) == 2L)
    // unknown column inside a cross predicate resolves at PLAN time
    val e4 = intercept[IllegalArgumentException](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE B AS B.nope > A.v""".stripMargin)))
    assert(e4.getMessage.contains("nope"))
    // a non-boolean cross predicate errors at PLAN time, not mid-scan
    val e5 = intercept[IllegalArgumentException](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B) DEFINE B AS B.v + A.v""".stripMargin)))
    assert(e5.getMessage.contains("boolean"))
    // a 'PREV(x)' inside a string literal is data — never rewritten,
    // never rejected (quote-masked nav rewrite)
    val lit2 = MatchRecognize.run(df, parseClause(
      """PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
        |PATTERN (A B)
        |DEFINE A AS ev = 'view', B AS ev <> 'NEXT(A.ts)'""".stripMargin))
      .collect()
    assert(lit2.length == 2)
    // zero divisors THROW (Spark 4 ANSI + Trino semantics — never a
    // silent Infinity): the interpreted class matches the Catalyst one
    val zf = Seq((1L, 1L, "view", 0.0), (1L, 2L, "click", 7.0))
      .toDF("uid", "seq", "ev", "v")
    val ze = intercept[Exception] {
      MatchRecognize.run(zf, parseClause(
        """PARTITION BY uid ORDER BY seq MEASURES COUNT(*) AS n
          |PATTERN (A B)
          |DEFINE A AS ev = 'view', B AS B.v / A.v > 1""".stripMargin))
        .collect()
    }
    def arithChain(t: Throwable): Boolean = t != null &&
      (t.isInstanceOf[ArithmeticException] || arithChain(t.getCause))
    assert(arithChain(ze), s"expected an ArithmeticException chain: $ze")
  }

  test("SUM/AVG/MIN/MAX measures: FINAL semantics in ONE ROW PER MATCH") {
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 2.0), (1L, 3L, "click", 4.0),
      (1L, 4L, "view", 1.0), (1L, 5L, "click", 6.0))
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, SUM(B.v) AS sum_v, AVG(B.v) AS avg_v,
        |         MIN(B.v) AS min_v, MAX(B.v) AS max_v,
        |         SUM(v) AS sum_all, SUM(B.seq) AS sum_seq
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("s")
    // integral column sums widen to bigint; double stays double
    assert(out.schema("sum_seq").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.schema("sum_v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val rows = out.collect().map(r => (r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
      r.getLong(7))).toSeq
    assert(rows == Seq(
      (1L, 6.0, 3.0, 2.0, 4.0, 16.0, 5L),  // B rows 2,3; universal 1-3
      (4L, 6.0, 6.0, 6.0, 6.0, 7.0, 5L)))  // B row 5; universal 4-5
  }

  test("SUM/MIN measures: RUNNING semantics in ALL ROWS PER MATCH") {
    val df = Seq(
      (1L, 1L, "view", 10.0), (1L, 2L, "click", 2.0), (1L, 3L, "click", 4.0))
      .toDF("uid", "seq", "ev", "v")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS cls, SUM(B.v) AS rs, MIN(v) AS rmin
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .orderBy("seq")
      .collect().map(r => (r.getString(4),
        if (r.isNullAt(5)) null else java.lang.Double.valueOf(r.getDouble(5)),
        r.getDouble(6))).toSeq
    assert(out == Seq(
      ("A", null, 10.0),                            // no B row yet
      ("B", java.lang.Double.valueOf(2.0), 2.0),    // B so far: {2}
      ("B", java.lang.Double.valueOf(6.0), 2.0)))   // B so far: {2,4}
  }

  test("aggregate measures validate their column and variable") {
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "click")))
    def run(ms: String) = MatchRecognize.run(df, parseClause(
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES $ms
         |PATTERN (A B)
         |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin))
    assert(intercept[IllegalArgumentException](run("SUM(Z.seq) AS s"))
      .getMessage.contains("unknown variable"))
    assert(intercept[IllegalArgumentException](run("SUM(B.ev) AS s"))
      .getMessage.contains("numeric"))
    assert(intercept[IllegalArgumentException](run("AVG(B.ev) AS s"))
      .getMessage.contains("numeric"))
  }

  test("binary/array/struct PARTITION BY keys are rejected") {
    val df = funnel(Seq((1L, 1L, "view")))
      .withColumn("bkey", col("ev").cast("binary"))
      .withColumn("akey", array(col("seq")))
    def clause(k: String) =
      s"""PARTITION BY $k ORDER BY seq
         |MEASURES COUNT(*) AS n
         |PATTERN (A)
         |DEFINE A AS ev = 'view'""".stripMargin
    // Array[Byte] group keys compare by REFERENCE in the scan's
    // Seq[Any] identity — one logical group would split per row
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(df, parseClause(clause("bkey"))))
      .getMessage.contains("binary"))
    assert(intercept[IllegalArgumentException](
      MatchRecognize.run(df, parseClause(clause("akey"))))
      .getMessage.contains("partition keys are not supported"))
  }

  test("section scanner: '_'-boundary and quoted keywords do not split") {
    // a column named pattern_id must not match the PATTERN keyword, and
    // keywords inside string literals must be ignored by the splitter
    val df = funnel(Seq((1L, 1L, "view"), (1L, 2L, "click")))
      .withColumn("pattern_id", col("seq"))
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n, MAX(A.pattern_id) AS max_pid
        |PATTERN (A B)
        |DEFINE A AS ev = 'view' AND pattern_id >= 0,
        |       B AS ev <> 'measures pattern define order by'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out.length == 1 && out.head.getLong(1) == 2L &&
      out.head.getLong(2) == 1L)
  }

  test("the splice drops its temp views: catalog stays stable") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val stmt =
      """SELECT COUNT(*) AS n FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES FIRST(A.ts) AS start_ts
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin
    val before = spark.catalog.listTables().count()
    (1 to 3).foreach { _ =>
      val r = qs.execute(stmt)
      assert(r.isRight, r.toString)
    }
    // EXPLAIN and SHOW STATS splice paths too
    val es = new graft.service.ExplainService(engine)
    assert(es.explain(stmt, "").isRight)
    assert(qs.execute(s"SHOW STATS FOR ($stmt)").isRight)
    assert(qs.execute(s"EXPLAIN ANALYZE $stmt").isRight)
    val after = spark.catalog.listTables().count()
    assert(after == before,
      s"MATCH_RECOGNIZE temp views leaked: $before -> $after")
  }

  test("two spans over one relation self-join without touching the catalog") {
    val cfg = EngineConfig.fromEnv(Map.empty).toOption.get
    val engine = new Engine(cfg, Some("/root/testdata/sf0.001"),
      existing = Some(spark))
    val qs = new QueryService(engine)
    val span =
      """events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES FIRST(A.ts) AS start_ts
        |  PATTERN (A B+)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click')""".stripMargin
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val joined = qs.execute(
      s"SELECT COUNT(*) AS n FROM $span AS a JOIN $span AS b ON a.user_id = b.user_id")
    val perUser = qs.execute(
      s"SELECT SUM(c * c) AS n FROM (SELECT user_id, COUNT(*) AS c FROM $span GROUP BY user_id)")
    val n = joined.toOption.getOrElse(fail(joined.toString)).rows
    assert(n.head.head.asInstanceOf[Long] > 0L)
    assert(n == perUser.toOption.getOrElse(fail(perUser.toString)).rows)
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
  }

  test("nested navigation: PREV(FIRST/LAST) reads the partition context") {
    // the row BEFORE the match start / AFTER the match end — SQL:2016's
    // PREV(FIRST(A.c)) / NEXT(LAST(B.c)); out of partition → NULL
    val df = Seq(
      (1L, 1L, "x", 5.0), (1L, 2L, "view", 10.0),
      (1L, 3L, "click", 11.0), (1L, 4L, "y", 3.0),
      (2L, 1L, "view", 7.0), (2L, 2L, "click", 8.0)) // match at both edges
      .toDF("uid", "seq", "ev", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, PREV(FIRST(A.price)) AS before,
        |         NEXT(LAST(B.price)) AS after
        |PATTERN (A B+)
        |DEFINE A AS ev = 'view', B AS ev = 'click'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("uid")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(out == Seq((1L, 2L, 5.0, 3.0), (2L, 1L, null, null)))
  }

  test("nested navigation: qualified PREV(A.c) in DEFINE is PREV(LAST(A.c))") {
    // DEFINE B AS price > PREV(A.price): compare against the row
    // physically BEFORE the one mapped to A (Trino's nested-nav sugar).
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 4.0), (1L, 3L, 6.0),
      (1L, 4L, 3.0), (1L, 5L, 8.0)).toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(B.price) AS bp
        |PATTERN (A B)
        |DEFINE B AS price > PREV(A.price)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // start 1: PREV(A) null → no; start 2: 6 > 10 no; start 3: 3 > 4 no;
    // start 4: 8 > 6 yes → the only match
    assert(out == Seq((4L, 8.0)))
  }

  test("nested navigation: PREV(LAST(c)) over the universal var ≡ PREV(c)") {
    val px = Seq((1L, 1L, 10.0), (1L, 2L, 8.0), (1L, 3L, 6.0),
      (1L, 4L, 7.0), (1L, 5L, 9.0), (1L, 6L, 5.0))
      .toDF("uid", "seq", "price")
    def vshape(defs: String) = MatchRecognize.run(px, parseClause(
      s"""PARTITION BY uid ORDER BY seq
         |MEASURES FIRST(STRT.seq) AS s, LAST(DOWN.price) AS bottom,
         |         LAST(UP.price) AS top, COUNT(*) AS len
         |PATTERN (STRT DOWN+ UP+)
         |DEFINE $defs""".stripMargin))
      .collect().map(_.toSeq).toSeq
    val plain = vshape(
      "DOWN AS price < PREV(price), UP AS price > PREV(price)")
    val nested = vshape(
      "DOWN AS price < PREV(LAST(price)), UP AS price > PREV(LAST(price))")
    assert(plain.nonEmpty && plain == nested)
  }

  test("nested navigation: inner logical and outer physical offsets") {
    val df = Seq.tabulate(6)(i => (1L, (i + 1).toLong, (i + 1).toDouble))
      .toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES PREV(LAST(B.price, 1), 2) AS x, NEXT(FIRST(B.price), 3) AS y
        |PATTERN (A B+)
        |DEFINE B AS price > PREV(price)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    // match = rows 1..6 (A=1, B=2..6): LAST(B,1)=row5 → PREV 2 → row3;
    // FIRST(B)=row2 → NEXT 3 → row5
    assert(out.length == 1 &&
      out(0).getDouble(1) == 3.0 && out(0).getDouble(2) == 5.0)
  }

  test("nested navigation: RUNNING semantics per row in ALL ROWS mode") {
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0))
      .toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES PREV(LAST(B.price)) AS pb
        |ALL ROWS PER MATCH
        |PATTERN (A B+)
        |DEFINE B AS price > PREV(price)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("seq")
      .collect().map(r =>
        if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    // at the A row no B is mapped yet → NULL; then PREV of each running
    // LAST(B) is the immediately preceding row's price
    assert(out == Seq(null, 1.0, 2.0))
  }

  test("expression arguments: SUM/AVG/MIN/COUNT over arithmetic") {
    // SUM(A.price * (1 - A.disc)) — the per-row product aggregated
    // exactly (decimal), typed by Spark's decimal rules
    val df = Seq(
      (1L, 1L, BigDecimal("10.00"), BigDecimal("0.10")),
      (1L, 2L, BigDecimal("20.00"), BigDecimal("0.25")),
      (2L, 1L, BigDecimal("5.00"), BigDecimal("0.00")))
      .toDF("uid", "seq", "price", "disc")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES SUM(A.price * (1 - A.disc)) AS net,
        |         AVG(A.price * 2) AS avg2,
        |         MIN(A.price - A.disc) AS mn,
        |         COUNT(A.price * A.disc) AS n
        |PATTERN (A+)
        |DEFINE A AS price > 0""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("uid")
      .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue, r.getDouble(2),
        r.getDecimal(3).doubleValue, r.getLong(4))).toSeq
    // decimal arithmetic stays decimal (Spark's rules); AVG is DOUBLE
    // uid 1: 10*0.9 + 20*0.75 = 24; avg(20,40)=30; min(9.9,19.75)=9.9
    assert(out == Seq((1L, 24.0, 30.0, 9.9, 2L), (2L, 5.0, 10.0, 5.0, 1L)))
  }

  test("expression arguments: LAST(expr), null skipping, DEFINE budget") {
    val df = Seq(
      (1L, 1L, Some(3.0), 1.0), (1L, 2L, None, 2.0), (1L, 3L, Some(5.0), 3.0))
      .toDF("uid", "seq", "v", "w")
    // LAST(A.v + A.w) evaluates at the LAST MAPPED ROW (null v there →
    // null result, no fallback); SUM skips null products
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES LAST(A.v + A.w) AS last_vw, SUM(A.v * A.w) AS s
        |PATTERN (A+)
        |DEFINE A AS w > 0""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out(0).getDouble(1) == 8.0)       // 5 + 3 at the last row
    assert(out(0).getDouble(2) == 18.0)      // 3*1 + skip + 5*3
    // an aggregate ARGUMENT in DEFINE: pack while SUM(A.v * A.w) stays
    // small — the greedy budget idiom over a product
    val clause2 =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n
        |PATTERN (A+)
        |DEFINE A AS SUM(A.w * A.w) <= 5""".stripMargin
    val out2 = MatchRecognize.run(df, parseClause(clause2)).collect()
    // 1 + 4 = 5 ≤ 5, adding 9 overshoots → one 2-row match; row 3
    // alone starts at 9 > 5, so it matches nothing
    assert(out2.map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("expression arguments: PREV over a composite; nested with expr") {
    val df = Seq((1L, 1L, 1.0, 10.0), (1L, 2L, 2.0, 20.0),
      (1L, 3L, 4.0, 30.0)).toDF("uid", "seq", "v", "w")
    // PREV(v + w): anchored at the measure's row (the match's last row
    // in ONE-ROW mode) → row 2's v+w; PREV(LAST(B.v * 2)): the row
    // before the last B, argument evaluated THERE
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES PREV(v + w) AS pvw, PREV(LAST(B.v * 2)) AS pl2
        |PATTERN (A B+)
        |DEFINE B AS v > PREV(v)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(1) == 22.0) // row 2: 2 + 20
    assert(out(0).getDouble(2) == 4.0)  // LAST(B)=row3 → PREV=row2 → 2*2
    // a composite PREV in DEFINE routes to the interpreter even with no
    // cross-variable reference
    val clause2 =
      """PARTITION BY uid ORDER BY seq
        |MEASURES COUNT(*) AS n
        |PATTERN (A B)
        |DEFINE B AS v + w > PREV(v + w) + 10""".stripMargin
    val out2 = MatchRecognize.run(df, parseClause(clause2)).collect()
    // starts: row1→row2: 22 > 11+10 ✓ — one match (rows 1-2); resume at
    // row 3: no pair left
    assert(out2.length == 1 && out2(0).getLong(1) == 2L)
  }

  test("expression arguments: mixed qualifiers and nesting are rejected") {
    val df = Seq((1L, 1L, 1.0, 1.0)).toDF("uid", "seq", "v", "w")
    def bad(m: String) = intercept[IllegalArgumentException] {
      MatchRecognize.run(df, parseClause(
        s"""PARTITION BY uid ORDER BY seq
           |MEASURES $m AS x
           |PATTERN (A B)
           |DEFINE B AS v > 0""".stripMargin)).collect()
    }.getMessage
    assert(bad("SUM(A.v + B.w)").contains("single pattern variable"))
    assert(bad("LAST(A.v + w)").contains("single pattern variable"))
    assert(bad("LAST(FIRST(A.v) + 1)").contains("navigation inside"))
    assert(bad("SUM(COUNT(A.v))").contains("aggregate inside"))
  }

  test("CLASSIFIER(V): the last row mapped to a variable or SUBSET") {
    val df = Seq((1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "buy"))
      .toDF("uid", "seq", "ev")
    val clause =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER() AS last_any, CLASSIFIER(A) AS last_a,
        |         CLASSIFIER(U) AS last_u
        |SUBSET U = (A, B)
        |PATTERN (A B C)
        |DEFINE A AS ev = 'view', B AS ev = 'click', C AS ev = 'buy'""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "C" && out(0).getString(2) == "A" &&
      out(0).getString(3) == "B")
    // ALL ROWS mode: RUNNING per row — CLASSIFIER(B) is NULL before any
    // B row is mapped
    val clause2 =
      """PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER(B) AS cb
        |ALL ROWS PER MATCH
        |PATTERN (A B C)
        |DEFINE A AS ev = 'view', B AS ev = 'click', C AS ev = 'buy'""".stripMargin
    val rows = MatchRecognize.run(df, parseClause(clause2)).orderBy("seq")
      .collect().map(r => if (r.isNullAt(3)) null else r.getString(3)).toSeq
    assert(rows == Seq(null, "B", "B"))
    // unknown argument → loud
    val e = intercept[IllegalArgumentException](MatchRecognize.run(df,
      parseClause("""PARTITION BY uid ORDER BY seq
        |MEASURES CLASSIFIER(Z) AS z
        |PATTERN (A)
        |DEFINE A AS ev = 'view'""".stripMargin)))
    assert(e.getMessage.contains("CLASSIFIER argument Z"))
  }

  test("ORDER BY direction: DESC scans the partition in reverse") {
    val df = Seq((1L, 1L, 5.0), (1L, 2L, 3.0), (1L, 3L, 4.0),
      (1L, 4L, 1.0), (1L, 5L, 2.0)).toDF("uid", "seq", "price")
    val clause =
      """PARTITION BY uid ORDER BY seq DESC
        |MEASURES FIRST(A.seq) AS s, LAST(B.price) AS p
        |PATTERN (A B+)
        |DEFINE B AS price > PREV(price)""".stripMargin
    val out = MatchRecognize.run(df, parseClause(clause)).orderBy("s")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // scan order seq 5..1 → prices 2,1,4,3,5: riser islands start after
    // seq 4 (1→4) and seq 2 (3→5); PREV follows the SCAN order
    assert(out == Seq((2L, 5.0), (4L, 4.0)))
  }

  test("ORDER BY null ordering: Trino defaults (ASC → NULLS LAST), overrides") {
    val df = Seq((1L, Some(1L), 10.0), (1L, None, 2.0), (1L, Some(2L), 3.0))
      .toDF("uid", "k", "price")
    def run(order: String) = MatchRecognize.run(df, parseClause(
      s"""PARTITION BY uid ORDER BY $order
         |MEASURES FIRST(A.price) AS a, LAST(B.price) AS b
         |PATTERN (A B+)
         |DEFINE B AS price > PREV(price)""".stripMargin))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    // default ASC = NULLS LAST (Trino/DuckDB): scan 10, 3, 2 — no riser
    assert(run("k").isEmpty)
    // NULLS FIRST: scan 2, 10, 3 — one riser after the null-k row
    assert(run("k NULLS FIRST") == Seq((2.0, 10.0)))
    // DESC default = NULLS FIRST: scan 2, 3, 10 — one greedy run
    assert(run("k DESC") == Seq((2.0, 10.0)))
    // DESC NULLS LAST: scan 3, 10, 2 — riser 3→10 only
    assert(run("k DESC NULLS LAST") == Seq((3.0, 10.0)))
  }

  test("nested navigation: unknown qualifiers are rejected loudly") {
    val df = Seq((1L, 1L, 1.0)).toDF("uid", "seq", "price")
    def bad(clause: String) =
      intercept[IllegalArgumentException] {
        MatchRecognize.run(df, parseClause(clause)).collect()
      }.getMessage
    assert(bad(
      """PARTITION BY uid ORDER BY seq
        |MEASURES FIRST(A.seq) AS s
        |PATTERN (A B)
        |DEFINE B AS price > PREV(Z.price)""".stripMargin)
      .contains("not a pattern variable"))
    assert(bad(
      """PARTITION BY uid ORDER BY seq
        |MEASURES PREV(Z.price) AS x
        |PATTERN (A B)
        |DEFINE B AS price > 0""".stripMargin)
      .contains("not a pattern variable"))
  }

  test("skewed hot key trips the per-group row cap with a named key") {
    // uid=7 holds 50 rows; cap at 10 — the error must name the key and
    // the knob instead of buffering toward an OOM
    val df = funnel((1L to 50L).map(i => (7L, i, "view")) :+ ((8L, 1L, "view")))
    spark.conf.set("spark.graft.matchRecognize.maxGroupRows", "10")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        MatchRecognize.run(df, parseClause(funnelClause)).collect()
      }
      val msg = e.getCause match {
        case null => e.getMessage
        case c => c.getMessage
      }
      assert(msg.contains("maxGroupRows"), msg)
      assert(msg.contains("(7)"), msg)
    } finally spark.conf.unset("spark.graft.matchRecognize.maxGroupRows")
    // under the default cap the same input runs fine (no matches: no B)
    assert(MatchRecognize.run(df, parseClause(funnelClause)).count() == 0)
  }
}
