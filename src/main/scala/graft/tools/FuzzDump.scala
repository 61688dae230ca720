package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.Random

/** Differential SQL fuzzer: generate deterministic random queries in
  * the ANSI subset BOTH Spark and DuckDB implement with identical
  * semantics, run each through the engine's dialect path
  * (`TrinoFunctions.preprocess` + `Tables.sql`, the same pipeline
  * execute_query uses), dump results parquet, and emit the SAME query
  * text as `oracle_sql.json` — so `scripts/check.py` replays every one
  * in DuckDB and value-compares, exactly like the driver's gate.
  *
  * Purpose: the 132 hand-written oracles pin the operators we thought
  * to write; the fuzzer walks the expression/shape space we did NOT
  * think of (operator nesting, null injection via else-less CASE,
  * duplicate-row set ops, join + aggregate + having interactions) and
  * surfaces semantic divergence between the dialect layer and a second
  * engine. Every query is seeded — a failure reproduces from its name.
  *
  * The grammar deliberately EXCLUDES known cross-engine divergences so
  * a mismatch is signal, not noise: no float arithmetic (decimal-sum
  * rules live in the curated oracles), no integer division / modulo
  * (sign conventions), no negative substr starts, no implicit casts,
  * no week-based datetime fields, explicit NULLS FIRST/LAST on every
  * sort key, ORDER BY every output ordinal (ties are then identical
  * rows, which value-compare tolerates), sum() only over bare int
  * columns CAST to BIGINT (Spark ANSI would overflow-throw on summed
  * products; DuckDB promotes to HUGEINT which pandas reads as object).
  *
  * Usage: runMain graft.tools.FuzzDump <sfDir> <outDir> [n] [seed]
  */
object FuzzDump {

  // ---- table metadata (TESTDATA.md schemas) -------------------------
  // pk: column list that totally orders the table (window determinism).
  final case class Tbl(name: String, ints: Seq[String], strs: Seq[String],
      tss: Seq[String], pk: Seq[String])
  val tables: Seq[Tbl] = Seq(
    Tbl("nation", Seq("n_nationkey", "n_regionkey"), Seq("n_name"), Nil,
      Seq("n_nationkey")),
    Tbl("region", Seq("r_regionkey"), Seq("r_name"), Nil, Seq("r_regionkey")),
    Tbl("customer", Seq("c_custkey", "c_nationkey"),
      Seq("c_name", "c_mktsegment"), Nil, Seq("c_custkey")),
    Tbl("orders", Seq("o_orderkey", "o_custkey"),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderdate"),
      Seq("o_orderkey")),
    Tbl("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq("l_returnflag", "l_linestatus"), Seq("l_shipdate"),
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
    Tbl("events", Seq("event_id", "user_id"), Seq("event_type"), Seq("ts"),
      Seq("event_id")),
    Tbl("documents", Seq("doc_id", "n_chars"), Seq("lang", "source"), Nil,
      Seq("doc_id")))

  // FK joins whose key domains actually overlap in the testdata.
  val joins: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"))

  // Plausible string literals per column (sampled from the corpus) so
  // equality/IN/LIKE predicates select real rows, not empty sets.
  val strLits: Map[String, Seq[String]] = Map(
    "n_name" -> Seq("NATION_0", "NATION_7", "NATION_12", "NATION_23"),
    "r_name" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
    "c_name" -> Seq("Customer#0", "Customer#42", "Customer#99"),
    "c_mktsegment" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
    "o_orderstatus" -> Seq("F", "O", "P"),
    "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
    "l_returnflag" -> Seq("A", "N", "R"),
    "l_linestatus" -> Seq("F", "O"),
    "event_type" -> Seq("click", "error", "purchase", "signup", "view"),
    "lang" -> Seq("de", "en", "es", "fr", "zh"),
    "source" -> Seq("src0", "src3", "src7", "src12"))
  val likePats = Seq("%A%", "%E", "N%", "%1%", "%o%", "_", "__%", "%-%")
  val tsLits = Seq("1995-06-17 00:00:00", "1997-01-01 00:00:00",
    "1999-12-31 23:59:59", "1996-03-05 12:00:00")

  // ---- expression generators ---------------------------------------
  // Each returns SQL text valid and semantics-identical in both engines.
  /** nullable=true: some columns may be NULL (outer-join side), so
    * never-NULL expression contexts must avoid column references. */
  final case class Ctx(rng: Random, cols: Map[String, Seq[String]],
      nullable: Boolean = false) {
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.length))
    def ints: Seq[String] = cols("int")
    def strs: Seq[String] = cols("str")
    def tss: Seq[String] = cols("ts")
  }

  /** allowNull=false guarantees a never-NULL expression: the dialect's
    * least/greatest follow TRINO's null rule (NULL if any arg is NULL)
    * while DuckDB ignores NULLs, so nullable args there would compare
    * two legitimately different semantics. */
  def intExpr(c: Ctx, depth: Int, allowNull: Boolean = true): String = {
    // In a never-NULL context over a nullable relation, column refs (and
    // functions of them: length/instr/year) could still produce NULL —
    // fall back to literals there.
    val colFree = !allowNull && c.nullable
    if (depth <= 0 || c.rng.nextInt(10) < 4) {
      if (colFree || c.rng.nextBoolean() || c.ints.isEmpty) c.rng.nextInt(200).toString
      else c.pick(c.ints)
    } else c.rng.nextInt(12) match {
      case 0 => s"(${intExpr(c, depth - 1, allowNull)} + ${intExpr(c, depth - 1, allowNull)})"
      case 1 => s"(${intExpr(c, depth - 1, allowNull)} - ${intExpr(c, depth - 1, allowNull)})"
      case 2 => s"(${intExpr(c, depth - 1, allowNull)} * ${1 + c.rng.nextInt(3)})"
      case 3 => s"abs(${intExpr(c, depth - 1, allowNull)})"
      case 4 => s"least(${intExpr(c, depth - 1, allowNull = false)}, ${intExpr(c, depth - 1, allowNull = false)})"
      case 5 => s"greatest(${intExpr(c, depth - 1, allowNull = false)}, ${intExpr(c, depth - 1, allowNull = false)})"
      case 6 if !colFree => s"length(${strExpr(c, depth - 1)})"
      case 7 if c.tss.nonEmpty && !colFree =>
        s"${c.pick(Seq("year", "month"))}(${c.pick(c.tss)})"
      case 8 if !colFree => s"instr(${strExpr(c, depth - 1)}, '${c.pick(Seq("A", "E", "o", "1", "-"))}')"
      case 9 => s"coalesce(${nullableInt(c, math.min(depth - 1, 1))}, ${intExpr(c, depth - 1, allowNull = false)})"
      case 10 if allowNull =>
        s"nullif(${intExpr(c, depth - 1, allowNull)}, ${intExpr(c, depth - 1, allowNull)})"
      case 11 if !colFree && c.rng.nextInt(3) == 0 => // uncorrelated scalar subquery
        val t = tables(c.rng.nextInt(tables.length))
        if (c.rng.nextBoolean()) s"(SELECT max(${t.pk.head}) FROM ${t.name})"
        else {
          val ic = Ctx(c.rng, Map("int" -> t.ints, "str" -> t.strs, "ts" -> t.tss))
          s"(SELECT count(*) FROM ${t.name} WHERE ${boolExpr(ic, 1)})"
        }
      case 11 => s"(${intExpr(c, depth - 1, allowNull)} + ${c.rng.nextInt(50)})"
      case _ =>
        if (c.rng.nextInt(3) == 0) multiWhenInt(c, depth - 1, allowNull)
        else s"CASE WHEN ${boolExpr(c, depth - 1)} THEN ${intExpr(c, depth - 1, allowNull)} ELSE ${intExpr(c, depth - 1, allowNull)} END"
    }
  }

  def strExpr(c: Ctx, depth: Int): String =
    if (depth <= 0 || c.rng.nextInt(10) < 4) {
      if (c.strs.nonEmpty && c.rng.nextInt(4) > 0) c.pick(c.strs)
      else s"'${c.pick(strLits(c.pick(strLits.keys.toSeq)))}'"
    } else c.rng.nextInt(15) match {
      case 0 => s"upper(${strExpr(c, depth - 1)})"
      case 1 => s"lower(${strExpr(c, depth - 1)})"
      case 2 => s"substr(${strExpr(c, depth - 1)}, ${1 + c.rng.nextInt(3)}, ${1 + c.rng.nextInt(5)})"
      case 3 => s"trim(${strExpr(c, depth - 1)})"
      case 4 => s"(${strExpr(c, depth - 1)} || ${strExpr(c, depth - 1)})"
      case 5 => s"replace(${strExpr(c, depth - 1)}, 'A', 'x')"
      case 6 => s"lpad(${strExpr(c, depth - 1)}, ${3 + c.rng.nextInt(8)}, '${c.pick(Seq("*", "#", "0"))}')"
      case 7 => s"rpad(${strExpr(c, depth - 1)}, ${3 + c.rng.nextInt(8)}, '${c.pick(Seq("*", "#", "0"))}')"
      case 8 => s"coalesce(CASE WHEN ${boolExpr(c, depth - 1)} THEN ${strExpr(c, depth - 1)} END, ${strExpr(c, depth - 1)})"
      // v4 additions — identical semantics certified by the v4 run:
      // md5 (lowercase hex in both; NOT dialect-overridden), reverse,
      // translate, left/right (non-negative counts only), split_part
      // (1-based, '' on missing field in both). NOT `repeat` — the
      // dialect layer correctly gives it Trino's ARRAY semantics.
      case 9 => s"md5(${strExpr(c, depth - 1)})"
      case 10 => s"reverse(${strExpr(c, depth - 1)})"
      case 11 => s"translate(${strExpr(c, depth - 1)}, 'AEN', 'aex')"
      case 12 => s"${c.pick(Seq("left", "right"))}(${strExpr(c, depth - 1)}, ${c.rng.nextInt(6)})"
      // double coalesce guard: DuckDB's split_part returns '' on NULL
      // input (not NULL-propagating — v4 run found this), and the
      // dialect layer gives split_part Trino's NULL-past-last-field
      // semantics where DuckDB keeps '' — align both ends by feeding
      // '' in and folding NULL back to '' out.
      case 13 => s"coalesce(split_part(coalesce(${strExpr(c, depth - 1)}, ''), '${c.pick(Seq("-", "_", "A", "#"))}', ${1 + c.rng.nextInt(2)}), '')"
      case _ =>
        s"CASE WHEN ${boolExpr(c, depth - 1)} THEN ${strExpr(c, depth - 1)} ELSE ${strExpr(c, depth - 1)} END"
    }

  /** Else-less CASE: the grammar's NULL injector (typed by its branch). */
  def nullableInt(c: Ctx, depth: Int): String =
    s"CASE WHEN ${boolExpr(c, depth)} THEN ${intExpr(c, depth)} END"

  /** Timestamp-typed expression: raw column or date_trunc over one
    * (units both engines truncate identically, incl. Monday weeks).
    * The CAST normalizes a documented cross-engine gap: DuckDB's
    * date_trunc returns DATE for day-and-coarser units where Spark
    * keeps TIMESTAMP (Spark-side the cast is an identity). */
  def tsExpr(c: Ctx, depth: Int): String =
    if (c.tss.isEmpty) s"TIMESTAMP '${c.pick(tsLits)}'"
    // nullable relations: bare columns only. DuckDB 1.0's date_trunc
    // propagates the BASE column's no-nulls statistic through an outer
    // join's null-extended side, so the result is wrongly marked
    // non-NULL — constant-folding `IS NOT NULL` filters to TRUE and
    // (nondeterministically, full-sort path only) misplacing the NULL
    // rows under NULLS FIRST. int/str functions are unaffected
    // (measured); Spark is correct in both cases. v4 run found this.
    else if (c.nullable || depth <= 0 || c.rng.nextBoolean()) c.pick(c.tss)
    else s"CAST(date_trunc('${c.pick(Seq("year", "quarter", "month", "week", "day", "hour"))}', ${tsExpr(c, depth - 1)}) AS TIMESTAMP)"

  /** Multi-WHEN CASE over int branches (both engines: first match wins,
    * missing ELSE gives NULL — so never-NULL contexts force the ELSE). */
  def multiWhenInt(c: Ctx, depth: Int, allowNull: Boolean): String = {
    val n = 2 + c.rng.nextInt(2)
    val whens = (0 until n).map(_ =>
      s"WHEN ${boolExpr(c, depth)} THEN ${intExpr(c, depth, allowNull)}").mkString(" ")
    val els = if (!allowNull || c.rng.nextBoolean()) s" ELSE ${intExpr(c, depth, allowNull)}" else ""
    s"CASE $whens$els END"
  }

  def boolExpr(c: Ctx, depth: Int): String =
    if (depth <= 0) simpleCmp(c)
    else c.rng.nextInt(10) match {
      case 0 => s"(${boolExpr(c, depth - 1)} AND ${boolExpr(c, depth - 1)})"
      case 1 => s"(${boolExpr(c, depth - 1)} OR ${boolExpr(c, depth - 1)})"
      case 2 => s"(NOT ${boolExpr(c, depth - 1)})"
      case 3 if c.strs.nonEmpty =>
        s"${c.pick(c.strs)} LIKE '${c.pick(likePats)}'"
      case 4 if c.ints.nonEmpty =>
        val lo = c.rng.nextInt(100); val hi = lo + c.rng.nextInt(400)
        s"${c.pick(c.ints)} BETWEEN $lo AND $hi"
      case 5 if c.strs.nonEmpty =>
        val col = c.pick(c.strs)
        val pool = strLits.getOrElse(col.split('.').last, strLits("r_name"))
        val n = 1 + c.rng.nextInt(math.min(3, pool.length))
        s"$col IN (${c.rng.shuffle(pool.toList).take(n).map(v => s"'$v'").mkString(", ")})"
      case 6 if c.tss.nonEmpty =>
        if (c.rng.nextBoolean())
          s"${tsExpr(c, math.min(depth - 1, 1))} ${c.pick(Seq("<", ">=", ">"))} TIMESTAMP '${c.pick(tsLits)}'"
        else {
          val (a, b) = (c.pick(tsLits), c.pick(tsLits))
          val (lo, hi) = if (a <= b) (a, b) else (b, a)
          s"${c.pick(c.tss)} BETWEEN TIMESTAMP '$lo' AND TIMESTAMP '$hi'"
        }
      case 7 => s"(${nullableInt(c, math.min(depth - 1, 1))} IS ${if (c.rng.nextBoolean()) "NULL" else "NOT NULL"})"
      // NOT `contains` — the dialect layer maps that name to Trino's
      // ARRAY contains; instr is engine-native in both.
      case 8 => s"(instr(${strExpr(c, math.min(depth - 1, 1))}, '${c.pick(Seq("A", "o", "1", "N"))}') > 0)"
      case 9 if c.strs.nonEmpty =>
        val col = c.pick(c.strs)
        val pool = strLits.getOrElse(col.split('.').last, strLits("r_name"))
        val (a, b) = (c.pick(pool), c.pick(pool))
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        s"$col BETWEEN '$lo' AND '$hi'"
      case _ => simpleCmp(c)
    }

  def simpleCmp(c: Ctx): String = {
    val ops = Seq("=", "<>", "<", "<=", ">", ">=")
    if (c.strs.nonEmpty && c.rng.nextInt(3) == 0) {
      val col = c.pick(c.strs)
      val pool = strLits.getOrElse(col.split('.').last, strLits("r_name"))
      s"$col ${c.pick(Seq("=", "<>", "<", ">"))} '${c.pick(pool)}'"
    } else if (c.ints.nonEmpty)
      s"${c.pick(c.ints)} ${c.pick(ops)} ${c.rng.nextInt(300)}"
    else "1 = 1"
  }

  // ---- query generators --------------------------------------------
  /** eqPairs: column pairs made equal by the join predicate. DuckDB 1.0
    * propagates join-key equality INTO rollup/cube grouping columns, so
    * the rolled-up column shows the equal VALUE where the standard
    * (Spark, Postgres, Trino) NULL-fills it — grouping keys must never
    * be a join-equal pair. v4 run found this. */
  final case class Rel(sql: String, ints: Seq[String], strs: Seq[String],
      tss: Seq[String], pk: Seq[String], nullable: Boolean = false,
      eqPairs: Seq[(String, String)] = Nil)

  def genRel(rng: Random): Rel =
    rng.nextInt(7) match {
      case 6 => // FULL OUTER JOIN → NULLs possible on BOTH sides; the
        // total order must come from coalesced keys (left pk identifies
        // left-side rows; the right key is the right table's pk and
        // identifies right-only rows).
        val (ln, rn, lk, rk) = joins(rng.nextInt(joins.length))
        val (l, r) = (tables.find(_.name == ln).get, tables.find(_.name == rn).get)
        Rel(s"$ln t1 FULL JOIN $rn t2 ON t1.$lk = t2.$rk AND t1.$lk < ${20 + rng.nextInt(200)}",
          l.ints.map("t1." + _) ++ r.ints.map("t2." + _),
          l.strs.map("t1." + _) ++ r.strs.map("t2." + _),
          l.tss.map("t1." + _) ++ r.tss.map("t2." + _),
          l.pk.map(k => s"coalesce(t1.$k, -1)") :+ s"coalesce(t2.$rk, -1)",
          nullable = true, eqPairs = Seq((s"t1.$lk", s"t2.$rk")))
      case 0 => // inner FK join, qualified columns
        val (ln, rn, lk, rk) = joins(rng.nextInt(joins.length))
        val (l, r) = (tables.find(_.name == ln).get, tables.find(_.name == rn).get)
        Rel(s"$ln t1 JOIN $rn t2 ON t1.$lk = t2.$rk",
          l.ints.map("t1." + _) ++ r.ints.map("t2." + _),
          l.strs.map("t1." + _) ++ r.strs.map("t2." + _),
          l.tss.map("t1." + _) ++ r.tss.map("t2." + _),
          l.pk.map("t1." + _) ++ r.pk.map("t2." + _),
          eqPairs = Seq((s"t1.$lk", s"t2.$rk")))
      case 1 => // LEFT join with a right-side ON filter → real NULL rows
        val (ln, rn, lk, rk) = joins(rng.nextInt(joins.length))
        val (l, r) = (tables.find(_.name == ln).get, tables.find(_.name == rn).get)
        val extra = if (r.strs.nonEmpty) {
          val col = r.strs(rng.nextInt(r.strs.length))
          val pool = strLits.getOrElse(col, strLits("r_name"))
          s" AND t2.$col = '${pool(rng.nextInt(pool.length))}'"
        } else s" AND t2.$rk > ${rng.nextInt(50)}"
        Rel(s"$ln t1 LEFT JOIN $rn t2 ON t1.$lk = t2.$rk$extra",
          l.ints.map("t1." + _) ++ r.ints.map("t2." + _),
          l.strs.map("t1." + _) ++ r.strs.map("t2." + _),
          l.tss.map("t1." + _) ++ r.tss.map("t2." + _),
          l.pk.map("t1." + _), nullable = true,
          eqPairs = Seq((s"t1.$lk", s"t2.$rk")))
      case 2 => // cross join of the two tiny dims
        Rel("region t1 CROSS JOIN nation t2",
          Seq("t1.r_regionkey", "t2.n_nationkey", "t2.n_regionkey"),
          Seq("t1.r_name", "t2.n_name"), Nil,
          Seq("t1.r_regionkey", "t2.n_nationkey"))
      case _ =>
        val t = tables(rng.nextInt(tables.length))
        Rel(t.name, t.ints, t.strs, t.tss, t.pk)
    }

  def orderBy(c: Ctx, n: Int): String =
    (1 to n).map { i =>
      if (c.rng.nextBoolean()) s"$i ASC NULLS FIRST" else s"$i DESC NULLS LAST"
    }.mkString("ORDER BY ", ", ", "")

  /** WHERE-level predicate: boolExpr plus the subquery forms Spark only
    * supports in filters (IN-subquery, correlated EXISTS). */
  def wherePred(c: Ctx, rel: Rel): String = {
    val base = boolExpr(c, 2)
    c.rng.nextInt(7) match {
      case 5 if rel.ints.nonEmpty => // scalar-subquery comparison (v4)
        val t = tables(c.rng.nextInt(tables.length))
        val ic = Ctx(c.rng, Map("int" -> t.ints, "str" -> t.strs, "ts" -> t.tss))
        val sub =
          if (c.rng.nextBoolean()) s"(SELECT ${c.pick(Seq("min", "max"))}(${t.pk.head}) FROM ${t.name} WHERE ${boolExpr(ic, 1)})"
          else s"(SELECT count(*) FROM ${t.name} WHERE ${boolExpr(ic, 1)})"
        s"(${c.pick(rel.ints)} ${c.pick(Seq("<", "<=", ">", ">="))} $sub AND $base)"
      case 6 => // NOT IN over non-NULL literals (v4; NULL-free so the
        // three-valued-logic trap stays out of the grammar)
        if (rel.strs.isEmpty) base
        else {
          val col = c.pick(rel.strs)
          val pool = strLits.getOrElse(col.split('.').last, strLits("r_name"))
          val n = 1 + c.rng.nextInt(math.min(3, pool.length))
          val in = s"$col NOT IN (${c.rng.shuffle(pool.toList).take(n).map(v => s"'$v'").mkString(", ")})"
          // over a nullable relation col itself may be NULL → row drops
          // in both engines identically; keep as-is.
          s"($in AND $base)"
        }
      case 0 if rel.ints.nonEmpty => // uncorrelated IN-subquery
        val t = tables(c.rng.nextInt(tables.length))
        val ic = Ctx(c.rng, Map("int" -> t.ints, "str" -> t.strs, "ts" -> t.tss))
        s"(${c.pick(rel.ints)} IN (SELECT ${t.pk.head} FROM ${t.name} WHERE ${boolExpr(ic, 1)}) AND $base)"
      case 1 => // correlated EXISTS along a FK edge present in the rel
        val hits = joins.filter { case (_, _, lk, _) =>
          rel.ints.exists(ci => ci == lk || ci.endsWith("." + lk)) }
        if (hits.isEmpty) base
        else {
          val (_, rn, lk, rk) = hits(c.rng.nextInt(hits.length))
          val outer = rel.ints.find(ci => ci == lk || ci.endsWith("." + lk)).get
          val t = tables.find(_.name == rn).get
          val ic = Ctx(c.rng, Map("int" -> t.ints.map("sq." + _),
            "str" -> t.strs.map("sq." + _), "ts" -> t.tss.map("sq." + _)))
          s"(EXISTS (SELECT 1 FROM ${t.name} sq WHERE sq.$rk = $outer AND ${boolExpr(ic, 1)}) AND $base)"
        }
      case _ => base
    }
  }

  /** Grouping keys for ROLLUP/CUBE/GROUPING SETS: column references
    * only (ordinal-vs-literal trap), no join-equal pair (DuckDB
    * propagates the equality into the rolled-up column, breaking the
    * standard NULL-fill — see Rel.eqPairs). */
  def superAggKeys(c: Ctx, rel: Rel, rng: Random): Seq[String] = {
    val keyPool = rel.strs ++ rel.ints
    val picked = (0 until (1 + rng.nextInt(2))).map(_ => c.pick(keyPool)).distinct
    picked.foldLeft(Seq.empty[String]) { (acc, k) =>
      val clash = acc.exists(a => rel.eqPairs.exists { case (x, y) =>
        (x == a && y == k) || (x == k && y == a) })
      if (clash) acc else acc :+ k
    }
  }

  /** One full statement; every item aliased c0..cN. */
  def genQuery(seed: Long): String = genQueryPair(seed)._1

  /** (sparkSql, duckSql). Identical for every production DuckDB can
    * parse; the v7 WITH TIES production pairs Trino's FETCH … WITH
    * TIES spelling with an INDEPENDENTLY-constructed rank() oracle
    * (DuckDB has no WITH TIES grammar), derived from the generator's
    * structural knowledge — not from the dialect rewrite under test. */
  def genQueryPair(seed: Long): (String, String) = {
    val rng = new Random(seed)
    val rel = genRel(rng)
    val c = Ctx(rng, Map("int" -> rel.ints, "str" -> rel.strs, "ts" -> rel.tss),
      rel.nullable)

    def items(n: Int): Seq[String] = (0 until n).map { i =>
      val e = rng.nextInt(6) match {
        case 0 | 1 => intExpr(c, 2)
        case 2 | 3 => strExpr(c, 2)
        case 4 => nullableInt(c, 1)
        case 5 if rel.tss.nonEmpty => tsExpr(c, 2)
        case _ => intExpr(c, 2)
      }
      s"$e AS c$i"
    }

    def aggItems(keys: Seq[String]): Seq[String] = {
      val aggs = Seq(
        () => "count(*)",
        () => s"count(${c.pick(Seq.concat(rel.ints, rel.strs))})",
        () => s"count(DISTINCT ${c.pick(Seq.concat(rel.ints, rel.strs))})",
        () => s"min(${intExpr(c, 1)})",
        () => s"max(${intExpr(c, 1)})",
        () => if (rel.ints.nonEmpty) s"CAST(sum(${c.pick(rel.ints)}) AS BIGINT)" else "count(*)",
        () => s"min(${strExpr(c, 1)})",
        () => s"max(${strExpr(c, 1)})") ++
        (if (rel.tss.nonEmpty) Seq(() => s"min(${c.pick(rel.tss)})", () => s"max(${c.pick(rel.tss)})") else Nil)
      val n = 1 + rng.nextInt(3)
      keys.zipWithIndex.map { case (k, i) => s"$k AS c$i" } ++
        (0 until n).map(i => s"${c.pick(aggs)()} AS c${keys.length + i}")
    }

    def same(s: String): (String, String) = (s, s)
    val kind = rng.nextInt(27)
    if (kind == 26) {
      // v12: PLAN DEFAULT (…, CROSS) — the sibling PRODUCT. The twin
      // enumerates the k×m element-pair arms guarded by both branches
      // being non-empty; OUTER adds the any-empty all-NULL arm, INNER
      // omits it.
      val inner = rng.nextBoolean()
      val xsElems = (0 until 1 + rng.nextInt(2)).map(_ =>
        c.pick(Seq("user_id", "event_id", s"user_id % ${2 + rng.nextInt(7)}")))
      val ysElems = (0 until 1 + rng.nextInt(2)).map(_ =>
        c.pick(Seq("user_id", s"event_id % ${2 + rng.nextInt(5)}")))
      val xsMod = 2 + rng.nextInt(4) // xs empty when user_id % xsMod = 0
      val ysMod = 2 + rng.nextInt(3) // ys present when event_id % ysMod = 0
      val where = rng.nextInt(3) match {
        case 0 => s" WHERE event_id < ${150 + rng.nextInt(700)}"
        case 1 => s" WHERE user_id % ${2 + rng.nextInt(4)} = 1"
        case _ => ""
      }
      def arr(es: Seq[String]) =
        es.map(e => s"CAST($e AS VARCHAR)")
          .mkString("'[' || ", " || ',' || ", " || ']'")
      val jsonExpr =
        s"'{\"xs\": ' || CASE WHEN user_id % $xsMod = 0 THEN '[]' " +
          s"ELSE ${arr(xsElems)} END || " +
          s"', \"ys\": ' || CASE WHEN event_id % $ysMod = 0 " +
          s"THEN ${arr(ysElems)} ELSE '[]' END || '}'"
      val spark =
        s"SELECT event_id AS c0, jt.x AS c2, jt.y AS c3 FROM events, " +
          s"JSON_TABLE($jsonExpr, 'lax $$' COLUMNS(" +
          s"NESTED PATH '$$.xs[*]' COLUMNS(x bigint PATH '$$'), " +
          s"NESTED PATH '$$.ys[*]' COLUMNS(y bigint PATH '$$')) " +
          s"PLAN DEFAULT (${if (inner) "INNER" else "OUTER"}, CROSS)) jt" +
          s"$where ORDER BY c0 ASC NULLS FIRST, " +
          "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST"
      def duckArm(x: String, y: String, cond: String) =
        s"SELECT event_id AS c0, CAST($x AS BIGINT) AS c2, " +
          s"CAST($y AS BIGINT) AS c3 FROM events WHERE $cond" +
          (if (where.isEmpty) "" else s" AND (${where.drop(7)})")
      val both = s"user_id % $xsMod <> 0 AND event_id % $ysMod = 0"
      val pairArms = for (x <- xsElems; y <- ysElems)
        yield duckArm(x, y, both)
      val arms = pairArms ++
        (if (inner) Seq.empty
         else Seq(duckArm("NULL", "NULL", s"NOT ($both)")))
      val duck = arms.mkString("SELECT c0, c2, c3 FROM (", " UNION ALL ",
        ") u ORDER BY c0 ASC NULLS FIRST, " +
          "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST")
      (spark, duck)
    } else if (kind == 25) {
      // v11: JSON_TABLE PLAN DEFAULT — INNER drops the parent when the
      // sibling union is empty (the DuckDB twin just omits the outer
      // arm), OUTER spelled explicitly must equal the default. Shares
      // the v10 two-branch conditionally-empty shape.
      val inner = rng.nextBoolean()
      val xsElem = c.pick(Seq("user_id", "event_id",
        s"user_id % ${2 + rng.nextInt(7)}"))
      val ysElem = c.pick(Seq("user_id", s"event_id % ${2 + rng.nextInt(5)}"))
      val xsMod = 2 + rng.nextInt(4) // xs empty when user_id % xsMod = 0
      val ysMod = 2 + rng.nextInt(3) // ys present when event_id % ysMod = 0
      val where = rng.nextInt(3) match {
        case 0 => s" WHERE event_id < ${150 + rng.nextInt(700)}"
        case 1 => s" WHERE user_id % ${2 + rng.nextInt(4)} = 1"
        case _ => ""
      }
      val planText = (if (inner) "INNER" else "OUTER") +
        (if (rng.nextBoolean()) ", UNION" else "")
      val jsonExpr =
        s"'{\"xs\": ' || CASE WHEN user_id % $xsMod = 0 THEN '[]' " +
          s"ELSE '[' || CAST($xsElem AS VARCHAR) || ']' END || " +
          s"', \"ys\": ' || CASE WHEN event_id % $ysMod = 0 " +
          s"THEN '[' || CAST($ysElem AS VARCHAR) || ']' ELSE '[]' END || '}'"
      val spark =
        s"SELECT event_id AS c0, jt.x AS c2, jt.y AS c3 FROM events, " +
          s"JSON_TABLE($jsonExpr, 'lax $$' COLUMNS(" +
          s"NESTED PATH '$$.xs[*]' COLUMNS(x bigint PATH '$$'), " +
          s"NESTED PATH '$$.ys[*]' COLUMNS(y bigint PATH '$$')) " +
          s"PLAN DEFAULT ($planText)) jt" +
          s"$where ORDER BY c0 ASC NULLS FIRST, " +
          "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST"
      def duckArm(x: String, y: String, cond: String) =
        s"SELECT event_id AS c0, CAST($x AS BIGINT) AS c2, " +
          s"CAST($y AS BIGINT) AS c3 FROM events WHERE $cond" +
          (if (where.isEmpty) "" else s" AND (${where.drop(7)})")
      val arms = Seq(
        duckArm(xsElem, "NULL", s"user_id % $xsMod <> 0"),
        duckArm("NULL", ysElem, s"event_id % $ysMod = 0")) ++
        (if (inner) Seq.empty else Seq(duckArm("NULL", "NULL",
          s"user_id % $xsMod = 0 AND event_id % $ysMod <> 0")))
      val duck = arms.mkString("SELECT c0, c2, c3 FROM (", " UNION ALL ",
        ") u ORDER BY c0 ASC NULLS FIRST, " +
          "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST")
      (spark, duck)
    } else if (kind == 24) {
      // v10: JSON_TABLE NESTED PATH under the SQL:2016 default plan
      // (OUTER parent-child, UNION siblings). Two sibling branches
      // built from columns, each conditionally empty on a modulus, so
      // the corpus hits all four arms: xs-only, ys-only, both (UNION
      // back-to-back), and both-empty (the OUTER all-NULL row). The
      // DuckDB twin replays each branch as a guarded UNION ALL arm
      // plus the both-empty outer arm.
      val xsElems = (0 until 1 + rng.nextInt(2)).map(_ =>
        c.pick(Seq("user_id", "event_id", s"user_id % ${2 + rng.nextInt(7)}")))
      val ysElems = (0 until 1 + rng.nextInt(2)).map(_ =>
        c.pick(Seq("user_id", "event_id", s"event_id % ${2 + rng.nextInt(5)}")))
      val xsMod = 2 + rng.nextInt(4) // xs empty when user_id % xsMod = 0
      val ysMod = 2 + rng.nextInt(3) // ys present when event_id % ysMod = 0
      val withOrd = rng.nextBoolean()
      val where = rng.nextInt(3) match {
        case 0 => s" WHERE event_id < ${150 + rng.nextInt(700)}"
        case 1 => s" WHERE user_id % ${2 + rng.nextInt(4)} = 1"
        case _ => ""
      }
      def arr(es: Seq[String]) =
        es.map(e => s"CAST($e AS VARCHAR)")
          .mkString("'[' || ", " || ',' || ", " || ']'")
      val jsonExpr =
        s"'{\"xs\": ' || CASE WHEN user_id % $xsMod = 0 THEN '[]' " +
          s"ELSE ${arr(xsElems)} END || " +
          s"', \"ys\": ' || CASE WHEN event_id % $ysMod = 0 " +
          s"THEN ${arr(ysElems)} ELSE '[]' END || '}'"
      val xsCols = (if (withOrd) "o FOR ORDINALITY, " else "") +
        "x bigint PATH '$'"
      val spark =
        s"SELECT event_id AS c0, " +
          (if (withOrd) "jt.o AS c1, " else "") +
          s"jt.x AS c2, jt.y AS c3 FROM events, " +
          s"JSON_TABLE($jsonExpr, 'lax $$' COLUMNS(" +
          s"NESTED PATH '$$.xs[*]' COLUMNS($xsCols), " +
          s"NESTED PATH '$$.ys[*]' COLUMNS(y bigint PATH '$$'))) jt" +
          s"$where ORDER BY c0 ASC NULLS FIRST, " +
          (if (withOrd) "c1 ASC NULLS FIRST, " else "") +
          "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST"
      val cols = if (withOrd) "c0, c1, c2, c3" else "c0, c2, c3"
      def duckArm(o: String, x: String, y: String, cond: String) =
        s"SELECT event_id AS c0, " +
          (if (withOrd) s"CAST($o AS INT) AS c1, " else "") +
          s"CAST($x AS BIGINT) AS c2, CAST($y AS BIGINT) AS c3 " +
          s"FROM events WHERE $cond" +
          (if (where.isEmpty) "" else s" AND (${where.drop(7)})")
      val xsArms = xsElems.zipWithIndex.map { case (e, i) =>
        duckArm(s"${i + 1}", e, "NULL", s"user_id % $xsMod <> 0") }
      val ysArms = ysElems.map(e =>
        duckArm("NULL", "NULL", e, s"event_id % $ysMod = 0"))
      val outerArm = duckArm("NULL", "NULL", "NULL",
        s"user_id % $xsMod = 0 AND event_id % $ysMod <> 0")
      val duck = (xsArms ++ ysArms :+ outerArm)
        .mkString(s"SELECT $cols FROM (", " UNION ALL ",
          s") u ORDER BY c0 ASC NULLS FIRST, " +
            (if (withOrd) "c1 ASC NULLS FIRST, " else "") +
            "c2 ASC NULLS FIRST, c3 ASC NULLS FIRST")
      (spark, duck)
    } else if (kind == 23) {
      // v9: JSON_TABLE over a row source BUILT FROM COLUMNS (the
      // correlated-lateral splice must keep per-row values straight
      // across the posexplode). Array items or object items (implicit
      // $.name paths), with ordinality; DuckDB has no JSON_TABLE — the
      // twin replays the k-items-per-row expansion as a UNION ALL.
      val k = 2 + rng.nextInt(2)
      val elems = (0 until k).map(_ =>
        c.pick(Seq("user_id", "event_id", s"user_id % ${2 + rng.nextInt(7)}")))
      val asObjects = rng.nextBoolean()
      val where = rng.nextInt(3) match {
        case 0 => s" WHERE event_id < ${150 + rng.nextInt(700)}"
        case 1 => s" WHERE user_id % ${2 + rng.nextInt(4)} = 1"
        case _ => ""
      }
      val jsonExpr =
        if (asObjects)
          elems.map(e => s"'{\"a\": ' || CAST($e AS VARCHAR) || '}'")
            .mkString("'[' || ", " || ',' || ", " || ']'")
        else
          elems.map(e => s"CAST($e AS VARCHAR)")
            .mkString("'[' || ", " || ',' || ", " || ']'")
      val colDef =
        if (asObjects) "o FOR ORDINALITY, v bigint PATH '$.a'"
        else "o FOR ORDINALITY, v bigint PATH '$'"
      val spark =
        s"SELECT event_id AS c0, jt.o AS c1, jt.v AS c2 FROM events, " +
          s"JSON_TABLE($jsonExpr, 'lax $$[*]' COLUMNS($colDef)) jt" +
          s"$where ORDER BY c0 ASC NULLS FIRST, c1 ASC NULLS FIRST"
      val duck = elems.zipWithIndex.map { case (e, i) =>
        s"SELECT event_id AS c0, CAST(${i + 1} AS INT) AS c1, " +
          s"CAST($e AS BIGINT) AS c2 FROM events$where"
      }.mkString("SELECT c0, c1, c2 FROM (", " UNION ALL ",
        ") u ORDER BY c0 ASC NULLS FIRST, c1 ASC NULLS FIRST")
      (spark, duck)
    } else if (kind == 22) {
      // v8: SQL/JSON behavior clauses over events.props (always
      // {"k": int} in the testdata) — json_value ON EMPTY / ON ERROR,
      // json_query wrappers + behaviors, json_exists ON ERROR — vs
      // DuckDB's json_extract algebra. Default literals are drawn from
      // a pool that INCLUDES clause-keyword-looking text ('NULL ON
      // EMPTY', 'ERROR', 'DEFAULT') — masked-literal splice bugs in
      // the clause parsers would surface as a mismatch or a parse
      // error here.
      val lits = Seq("d0", "NULL ON EMPTY", "ERROR", "DEFAULT",
        "WITH ARRAY WRAPPER", "absent", "ON ERROR")
      def lit(): String = c.pick(lits)
      val l1 = lit(); val l2 = lit(); val l3 = lit()
      val missing = c.pick(Seq("$.missing", "$.nope", "$.z"))
      val pieces = Seq(
        (s"json_value(props, '$$.k' DEFAULT '$l1' ON EMPTY)",
          "json_extract_string(props, '$.k')"),
        (s"json_value(props, '$missing' DEFAULT '$l2' ON EMPTY)",
          s"'$l2'"),
        (s"json_value('{bad', '$$.k' DEFAULT '$l3' ON ERROR)",
          s"'$l3'"),
        (s"json_value(props, '$missing' NULL ON EMPTY NULL ON ERROR)",
          "CAST(NULL AS VARCHAR)"),
        ("json_query(props, '$.k' WITH ARRAY WRAPPER)",
          "'[' || CAST(json_extract(props, '$.k') AS VARCHAR) || ']'"),
        (s"json_query(props, '$missing' EMPTY ARRAY ON EMPTY)", "'[]'"),
        (s"json_query(props, '$missing' EMPTY OBJECT ON EMPTY)", "'{}'"),
        ("json_exists('{bad', '$.k' TRUE ON ERROR)", "TRUE"),
        (s"json_exists(props, '$missing' FALSE ON ERROR)", "FALSE"),
        ("json_value(props, '$.k' RETURNING bigint DEFAULT 0 ON EMPTY)",
          "CAST(json_extract_string(props, '$.k') AS BIGINT)"))
      val chosen = (0 until (2 + rng.nextInt(3)))
        .map(_ => pieces(rng.nextInt(pieces.length)))
      val where = rng.nextInt(3) match {
        case 0 => s" WHERE event_id < ${100 + rng.nextInt(800)}"
        case 1 => s" WHERE user_id % ${2 + rng.nextInt(5)} = 0"
        case _ => ""
      }
      def full(sel: Seq[String]) =
        s"SELECT ${(s"event_id AS c0" +: sel.zipWithIndex.map {
          case (e, i) => s"$e AS c${i + 1}"
        }).mkString(", ")} FROM events$where ORDER BY c0 ASC NULLS FIRST"
      (full(chosen.map(_._1)), full(chosen.map(_._2)))
    } else if (kind == 19) {
      // v7: quantified comparison as a FILTER — WHERE on a plain
      // select or HAVING over a grouped query (UNKNOWN must drop rows
      // in both engines; composes the rewrite with block structures
      // the v6 projected form never touches)
      val dim = tables(rng.nextInt(2))
      val dc = Ctx(rng, Map("int" -> dim.ints, "str" -> dim.strs,
        "ts" -> Seq.empty))
      val sub0 = s"SELECT ${nullableInt(dc, 1)} FROM ${dim.name}"
      val sub = rng.nextInt(3) match {
        case 0 => s"$sub0 WHERE ${dc.pick(dim.ints)} > 999" // empty set
        case _ => sub0
      }
      if (rng.nextBoolean()) {
        val qop = c.pick(Seq("<", "<=", ">", ">=", "=", "<>"))
        val quant = c.pick(Seq("ANY", "SOME", "ALL"))
        val its = items(2)
        val x = intExpr(c, 1)
        same(s"SELECT ${its.mkString(", ")} FROM ${rel.sql} " +
          s"WHERE (($x) $qop $quant ($sub)) ${orderBy(c, its.length)}")
      } else {
        // HAVING with an AGGREGATE left operand: only the
        // extremes-lowered combos are legal — the membership-probe
        // forms (= ANY, <> ALL) would splice the aggregate into the
        // subquery's WHERE (documented dialect limit)
        val (qop, quant) = c.pick(Seq(
          ("<", "ALL"), ("<=", "ANY"), (">", "SOME"), (">=", "ALL"),
          ("<", "ANY"), (">", "ALL"), ("=", "ALL"), ("<>", "ANY"),
          ("<>", "SOME")))
        val key = superAggKeys(c, rel, rng).head
        same(s"SELECT $key AS c0, count(*) AS c1 FROM ${rel.sql} " +
          s"GROUP BY 1 HAVING ((CAST(count(*) AS INT)) $qop $quant ($sub)) " +
          orderBy(c, 2))
      }
    } else if (kind == 20) {
      // v7: ordered array_agg — [DISTINCT] / mixed directions /
      // explicit NULLS — under plain GROUP BY, ROLLUP, or GROUPING
      // SETS (composes the r14 in-aggregate ORDER BY rewrite with the
      // super-aggregate machinery; both engines parse this verbatim).
      // The aggregated expression is always the LAST sort key so the
      // list is value-total — ties can only be identical elements.
      // Excluded by construction (oracle quirks, not engine bugs):
      //  - NULL elements: Trino's array_agg keeps them, DuckDB's drops
      //    them (and returns NULL over an all-null group) — elements
      //    ride a typed coalesce; the Trino-semantics null face is
      //    pinned by the curated agg_array_* oracles instead;
      //  - DuckDB 1.0 constant-folds in-aggregate ORDER BY keys that
      //    equal a grouping key, which un-sorts the shared aggregate
      //    on ROLLUP/GROUPING SETS super-rows — agg columns are drawn
      //    disjoint from the grouping keys.
      val keys = superAggKeys(c, rel, rng)
      def coalesced(col: String): String =
        if (rel.ints.contains(col)) s"coalesce($col, -1)"
        else s"coalesce($col, '~')"
      val pool = Seq.concat(rel.ints, rel.strs).filterNot(keys.contains)
      val eCol = if (pool.nonEmpty) c.pick(pool)
        else c.pick(Seq.concat(rel.ints, rel.strs))
      val e = coalesced(eCol)
      val nf = c.pick(Seq("NULLS FIRST", "NULLS LAST"))
      val agg = rng.nextInt(3) match {
        case 0 =>
          s"array_agg(DISTINCT $e ORDER BY $e ${c.pick(Seq("ASC", "DESC"))} $nf)"
        case 1 => // mixed directions over a leading key + the value
          val k1 = coalesced(if (pool.nonEmpty) c.pick(pool) else eCol)
          s"array_agg($e ORDER BY $k1 ASC $nf, $e DESC ${c.pick(Seq("NULLS FIRST", "NULLS LAST"))})"
        case _ =>
          s"array_agg($e ORDER BY $e ${c.pick(Seq("ASC", "DESC"))} $nf)"
      }
      val grouping = rng.nextInt(3) match {
        case 0 if pool.nonEmpty => s"ROLLUP(${keys.mkString(", ")})"
        case 1 if pool.nonEmpty =>
          val sets = Seq(s"(${keys.mkString(", ")})", "()")
          s"GROUPING SETS (${sets.mkString(", ")})"
        case _ => keys.mkString(", ")
      }
      // Trino/Spark spell the serializer array_join; DuckDB spells it
      // array_to_string — same null-skipping semantics, paired texts
      val keyIts = keys.zipWithIndex.map { case (k, i) => s"$k AS c$i" }
      val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
      val ord = orderBy(c, keyIts.length + 1) // draw ONCE: rng-backed
      def full(ser: String) =
        s"SELECT ${(keyIts :+ s"$ser($agg, ',') AS c${keys.length}").mkString(", ")} " +
          s"FROM ${rel.sql}$where GROUP BY $grouping $ord"
      (full("array_join"), full("array_to_string"))
    } else if (kind == 21) {
      // v7: FETCH … WITH TIES (sometimes with a quantified comparison
      // in the same block — two r14 splices in one statement). The
      // ORDER BY keys cover every projected column (explicit NULLS),
      // so the tie groups are value-identical and the compare is
      // positional-safe; DuckDB gets the independently-constructed
      // rank() spelling (its grammar has no WITH TIES).
      // v8 adds: a random ANSI `OFFSET k ROWS` before FETCH (the r15
      // fold — skip k, take n, extend through the tie group of row
      // k+n; which duplicate rows the skip lands on is arbitrary but
      // value-identical, so the multiset compare is exact), and
      // sometimes ordinal spellings of the inner ORDER BY keys (the
      // r15 select-list resolution; DuckDB keeps named keys).
      val e0 = intExpr(c, 1)
      val e1 = strExpr(c, 1)
      val n = 5 + rng.nextInt(60)
      val withQuant = rng.nextBoolean()
      val quantCol =
        if (!withQuant) ""
        else {
          val dim = tables(rng.nextInt(2))
          val dc = Ctx(rng, Map("int" -> dim.ints, "str" -> dim.strs,
            "ts" -> Seq.empty))
          val sub = s"SELECT ${nullableInt(dc, 1)} FROM ${dim.name}"
          val qop = c.pick(Seq("<", "<=", ">", ">=", "=", "<>"))
          val quant = c.pick(Seq("ANY", "SOME", "ALL"))
          // depends only on e0 = c0, so tie groups stay value-identical
          s", (($e0) $qop $quant ($sub)) AS cq"
        }
      val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
      val inner = s"SELECT $e0 AS c0, $e1 AS c1$quantCol FROM ${rel.sql}$where"
      val dirs = Seq("ASC NULLS FIRST", "DESC NULLS LAST", "ASC NULLS FIRST")
      val names = Seq("c0", "c1") ++ (if (withQuant) Seq("cq") else Nil)
      val keys = names.zip(dirs).map { case (nm, d) => s"$nm $d" }.mkString(", ")
      val useOrdinals = rng.nextBoolean()
      val innerKeys =
        if (!useOrdinals) keys
        else names.indices.map(i => s"${i + 1} ${dirs(i)}").mkString(", ")
      val offK = if (rng.nextBoolean()) 1 + rng.nextInt(40) else 0
      val offSeg = if (offK > 0) s" OFFSET $offK ROWS" else ""
      val cols = names.mkString(", ")
      val spark = s"SELECT * FROM ($inner ORDER BY $innerKeys$offSeg " +
        s"FETCH FIRST $n ROWS WITH TIES) t ORDER BY $keys"
      val duck =
        if (offK == 0)
          s"SELECT $cols FROM (SELECT $cols, rank() OVER " +
            s"(ORDER BY $keys) AS r FROM ($inner) q) w WHERE r <= $n " +
            s"ORDER BY $keys"
        else
          s"SELECT $cols FROM (SELECT *, max(CASE WHEN rn = ${offK + n} " +
            s"THEN r END) OVER () AS brk FROM (SELECT $cols, rank() OVER " +
            s"(ORDER BY $keys) AS r, row_number() OVER (ORDER BY $keys) " +
            s"AS rn FROM ($inner) q) w) x WHERE rn > $offK AND " +
            s"(brk IS NULL OR r <= brk) ORDER BY $keys"
      (spark, duck)
    } else same(kind match {
      case 18 => // quantified subquery comparisons (v6): every op ×
        // ANY/SOME/ALL against a tiny-dim subquery with CASE-injected
        // NULLs and a sometimes-empty filter. DuckDB runs the
        // quantifiers natively; the engine runs the exact-3VL rewrite
        // (TrinoFunctions.rewriteQuantified) — any divergence on
        // NULL/empty corners is signal. The left operand is
        // pre-parenthesized so the backward walker's contract (no bare
        // CASE … END) is honored by construction.
        val its = items(2)
        val dim = tables(rng.nextInt(2)) // nation / region
        val dc = Ctx(rng, Map("int" -> dim.ints, "str" -> dim.strs,
          "ts" -> Seq.empty))
        val sub0 = s"SELECT ${nullableInt(dc, 1)} FROM ${dim.name}"
        val sub = rng.nextInt(4) match {
          case 0 => s"$sub0 WHERE ${dc.pick(dim.ints)} > 999" // empty set
          case 1 => s"$sub0 WHERE ${boolExpr(dc, 1)}"
          case _ => sub0
        }
        val qop = c.pick(Seq("<", "<=", ">", ">=", "=", "<>"))
        val quant = c.pick(Seq("ANY", "SOME", "ALL"))
        val x = intExpr(c, 1)
        s"SELECT ${its.mkString(", ")}, (($x) $qop $quant ($sub)) AS cq" +
          s" FROM ${rel.sql} WHERE ${boolExpr(c, 1)} " +
          orderBy(c, its.length + 1)
      case 16 => // nested set ops (v5): three predicate-split legs over
        // the same projection, composed left-parenthesized — ANSI
        // distinct semantics for UNION/INTERSECT/EXCEPT in both
        // engines, NULL-equal grouping in both.
        val its = items(2)
        def leg() =
          s"SELECT ${its.mkString(", ")} FROM ${rel.sql} WHERE ${boolExpr(c, 1)}"
        val ops = Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT")
        val q = s"(${leg()} ${c.pick(ops)} ${leg()}) ${c.pick(ops)} ${leg()}"
        s"SELECT * FROM ($q) t ${orderBy(c, its.length)}"
      case 17 => // derived-table join + GROUP BY ordinal (v5): two
        // aliased filtered subqueries joined on a real FK edge, grouped
        // by ordinal (both engines resolve ordinals in GROUP BY).
        val (lt, rt, lk, rk) = joins(rng.nextInt(joins.length))
        val lTbl = tables.find(_.name == lt).get
        val rTbl = tables.find(_.name == rt).get
        val lc = Ctx(rng, Map("int" -> lTbl.ints, "str" -> lTbl.strs,
          "ts" -> lTbl.tss))
        val rc = Ctx(rng, Map("int" -> rTbl.ints, "str" -> rTbl.strs,
          "ts" -> rTbl.tss))
        val gk = if (rTbl.strs.nonEmpty) s"b.${rc.pick(rTbl.strs)}" else s"b.$rk"
        s"SELECT $gk AS c0, count(*) AS c1, CAST(sum(a.$lk) AS BIGINT) AS c2" +
          s" FROM (SELECT * FROM $lt WHERE ${boolExpr(lc, 1)}) a" +
          s" JOIN (SELECT * FROM $rt WHERE ${boolExpr(rc, 1)}) b ON a.$lk = b.$rk" +
          s" GROUP BY 1 ${orderBy(c, 3)}"
      case 13 => // CTE (v4): WITH wraps a filtered projection, outer
        // re-filters and re-orders — exercises Spark's CTE inlining vs
        // DuckDB's materialization for identical results.
        val its = items(2 + rng.nextInt(2))
        val inner = s"SELECT ${its.mkString(", ")} FROM ${rel.sql}" +
          (if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else "")
        val outerPred =
          if (rng.nextBoolean()) "c0 IS NOT NULL" else "c1 IS NOT NULL"
        s"WITH w AS ($inner) SELECT * FROM w WHERE $outerPred ${orderBy(c, its.length)}"
      case 14 => // CUBE / GROUPING SETS (v4) — column-reference keys only
        // (same ordinal-vs-literal trap as ROLLUP); the explicit sets
        // always include () so the standard-semantics guard path
        // (EmptyGroupingSetsRule) is exercised on filtered-empty inputs.
        val keys = superAggKeys(c, rel, rng)
        val grouping =
          if (rng.nextBoolean()) s"CUBE(${keys.mkString(", ")})"
          else {
            val sets = Seq(s"(${keys.mkString(", ")})") ++
              (if (keys.length > 1) Seq(s"(${keys.head})") else Nil) ++ Seq("()")
            s"GROUPING SETS (${sets.mkString(", ")})"
          }
        val aggIts = aggItems(keys)
        val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
        s"SELECT ${aggIts.mkString(", ")} FROM ${rel.sql}$where GROUP BY $grouping ${orderBy(c, aggIts.length)}"
      case 15 => // explicitly framed windows (v4): ROWS frames over the
        // relation's total order are deterministic even with partition
        // ties; lag/lead defaults; ntile/row_number need the total order.
        val part = if (rel.strs.nonEmpty) c.pick(rel.strs) else intExpr(c, 1)
        // the order must be VALUE-total: lineitem's 4-int pk tuple has
        // one duplicate in the synth data whose rows differ in
        // l_linestatus, so a pk-only order let lead() assign neighbors
        // to the tied rows in engine-dependent order (v6 run,
        // fuzz_0022). Order by every referenceable column — rows still
        // tied are then identical in every projectable value, and any
        // projection is tie-insensitive.
        val ord = (rel.pk ++ rel.ints ++ rel.strs ++ rel.tss).distinct
          .map(k => s"$k ASC NULLS FIRST").mkString(", ")
        val k1 = 1 + rng.nextInt(3)
        val framed = Seq(
          s"CAST(sum(${if (rel.ints.nonEmpty) c.pick(rel.ints) else "1"}) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN $k1 PRECEDING AND CURRENT ROW) AS BIGINT)",
          s"count(*) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND $k1 FOLLOWING)",
          s"row_number() OVER (PARTITION BY $part ORDER BY $ord)",
          s"ntile(${2 + rng.nextInt(3)}) OVER (ORDER BY $ord)",
          s"lag(${if (rel.ints.nonEmpty) c.pick(rel.ints) else rel.pk.head}, 1) OVER (PARTITION BY $part ORDER BY $ord)",
          s"lead(${if (rel.ints.nonEmpty) c.pick(rel.ints) else rel.pk.head}, ${1 + rng.nextInt(2)}) OVER (ORDER BY $ord)",
          s"first_value(${rel.pk.head}) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
          s"last_value(${rel.pk.head}) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        val baseIts = (Seq(part) ++ rel.pk.take(2)).zipWithIndex
          .map { case (e, i) => s"$e AS c$i" }
        val its = baseIts ++ Seq(
          s"${c.pick(framed)} AS c${baseIts.length}",
          s"${c.pick(framed)} AS c${baseIts.length + 1}")
        val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
        s"SELECT ${its.mkString(", ")} FROM ${rel.sql}$where ${orderBy(c, its.length)}"
      case 0 | 1 => // plain select
        val its = items(1 + rng.nextInt(4))
        val where = if (rng.nextInt(4) > 0) s" WHERE ${wherePred(c, rel)}" else ""
        val limit =
          if (rng.nextInt(3) == 0)
            s" LIMIT ${10 + rng.nextInt(90)}" +
              (if (rng.nextBoolean()) s" OFFSET ${rng.nextInt(30)}" else "")
          else ""
        s"SELECT ${its.mkString(", ")} FROM ${rel.sql}$where ${orderBy(c, its.length)}$limit"
      case 2 => // distinct
        val its = items(1 + rng.nextInt(3))
        val where = if (rng.nextBoolean()) s" WHERE ${wherePred(c, rel)}" else ""
        s"SELECT DISTINCT ${its.mkString(", ")} FROM ${rel.sql}$where ${orderBy(c, its.length)}"
      case 3 | 4 | 5 => // group-by aggregate
        val nk = 1 + rng.nextInt(2)
        val keys = (0 until nk).map(_ => rng.nextInt(4) match {
          case 0 if rel.strs.nonEmpty => c.pick(rel.strs)
          case 1 => strExpr(c, 1)
          case 2 if rel.tss.nonEmpty => tsExpr(c, 2)
          case _ => intExpr(c, 1)
        })
        val its = aggItems(keys)
        val where = if (rng.nextBoolean()) s" WHERE ${wherePred(c, rel)}" else ""
        val having = rng.nextInt(4) match {
          case 0 => s" HAVING count(*) > ${rng.nextInt(4)}"
          case 1 if rel.ints.nonEmpty =>
            s" HAVING max(${c.pick(rel.ints)}) ${c.pick(Seq(">", "<", ">="))} ${rng.nextInt(300)}"
          case 2 if rel.ints.nonEmpty =>
            s" HAVING CAST(sum(${c.pick(rel.ints)}) AS BIGINT) > ${rng.nextInt(500)}"
          case _ => ""
        }
        s"SELECT ${its.mkString(", ")} FROM ${rel.sql}$where GROUP BY ${(1 to nk).mkString(", ")}$having ${orderBy(c, its.length)}"
      case 6 => // subquery: outer filter over aliased inner projection
        val its = items(2 + rng.nextInt(2))
        val inner = s"SELECT ${its.mkString(", ")} FROM ${rel.sql}" +
          (if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else "")
        // outer sees c0.. whose types we don't track; keep it shape-only:
        // reorder + row filter on c0 being non-null (valid for any type).
        s"SELECT * FROM ($inner) sub WHERE c0 IS NOT NULL ${orderBy(c, its.length)}"
      case 7 => // set op over the same relation (duplicate-row semantics)
        val its = items(1 + rng.nextInt(2))
        val op = c.pick(Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT",
          "INTERSECT ALL", "EXCEPT ALL"))
        val s1 = s"SELECT ${its.mkString(", ")} FROM ${rel.sql} WHERE ${boolExpr(c, 1)}"
        val s2 = s"SELECT ${its.mkString(", ")} FROM ${rel.sql} WHERE ${boolExpr(c, 1)}"
        s"SELECT * FROM ($s1 $op $s2) u ${orderBy(c, its.length)}"
      case 8 | 9 => // window functions over a deterministic frame
        // rank/dense_rank and RANGE-framed (default) running sums are
        // tie-stable, so a non-unique window order is still deterministic.
        val part = if (rel.strs.nonEmpty) c.pick(rel.strs) else intExpr(c, 1)
        val ord = rel.pk.map(k => s"$k ASC").mkString(", ")
        val wfns = Seq(
          s"rank() OVER (PARTITION BY $part ORDER BY $ord)",
          s"dense_rank() OVER (PARTITION BY $part ORDER BY $ord)",
          s"count(*) OVER (PARTITION BY $part)") ++
          (if (rel.ints.nonEmpty)
            Seq(s"CAST(sum(${c.pick(rel.ints)}) OVER (PARTITION BY $part ORDER BY $ord) AS BIGINT)")
          else Nil)
        val baseIts = (Seq(part) ++ rel.pk.take(2)).zipWithIndex
          .map { case (e, i) => s"$e AS c$i" }
        val its = baseIts :+ s"${c.pick(wfns)} AS c${baseIts.length}"
        val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
        s"SELECT ${its.mkString(", ")} FROM ${rel.sql}$where ${orderBy(c, its.length)}"
      case 10 => // ROLLUP: super-aggregate rows with NULL-filled keys.
        // Keys must be COLUMN references: a bare integer literal inside
        // ROLLUP(...) is an ordinal to Spark (groupByOrdinal) but a
        // plain literal to DuckDB.
        val keys = superAggKeys(c, rel, rng)
        val aggIts = aggItems(keys)
        val where = if (rng.nextBoolean()) s" WHERE ${boolExpr(c, 1)}" else ""
        s"SELECT ${aggIts.mkString(", ")} FROM ${rel.sql}$where GROUP BY ROLLUP(${keys.mkString(", ")}) ${orderBy(c, aggIts.length)}"
      case _ => // aggregate without GROUP BY (single row)
        val its = aggItems(Nil)
        val where = if (rng.nextBoolean()) s" WHERE ${wherePred(c, rel)}" else ""
        s"SELECT ${its.mkString(", ")} FROM ${rel.sql}$where"
    })
  }

  // ---- main ---------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/fuzz_out")
    val n = args.lift(2).map(_.toInt).getOrElse(400)
    val seed = args.lift(3).map(_.toLong).getOrElse(20260814L)
    // the full served dialect (EmptyGroupingSetsRule, the v8 json
    // productions, …): the fuzzer exercises what the engine surface runs
    val spark = graft.Sessions.build("graft-fuzz")
    new java.io.File(outDir).mkdirs()

    var sqls = Map.empty[String, String]
    var sparkErr = 0
    (0 until n).foreach { i =>
      val name = f"fuzz_$i%04d"
      val (sql, duckSql) = genQueryPair(seed + i)
      try {
        val pre = graft.dialect.TrinoFunctions.preprocess(sql)
        graft.engine.Tables.sql(spark, sfDir, pre)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        sqls += (name -> duckSql)
      } catch {
        case e: Throwable =>
          sparkErr += 1
          System.err.println(s"[fuzz] $name SPARK-SIDE ERROR (grammar or dialect bug):\n  $sql\n  ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" / ")}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sqls.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    println(s"[fuzz] generated ${sqls.size}/$n queries ($sparkErr spark-side errors) -> $outDir")
    if (sparkErr > 0) sys.exit(2)
    spark.stop()
  }
}
