package graft.tools

import graft.SparkSpec

/** Regression net for the differential fuzzer (tools/FuzzDump): the
  * DuckDB side runs via scripts/check.py outside the JVM, but two
  * properties are pinned here so grammar edits can't silently rot:
  *
  *  1. determinism — genQuery(seed) is a pure function of the seed
  *     (a golden hash over the canonical seed pins the exact corpus the
  *     2,600-query differential run certified; change the grammar and
  *     this fails, telling you to re-run the DuckDB comparison);
  *  2. executability — every generated statement must pass the dialect
  *     preprocess and run on Spark (a grammar that generates invalid
  *     SQL measures nothing).
  */
class FuzzSpec extends SparkSpec {
  private val SfDir = "/root/testdata/sf0.001"

  test("genQuery is deterministic per seed") {
    (0 until 50).foreach { i =>
      assert(FuzzDump.genQueryPair(1000 + i) == FuzzDump.genQueryPair(1000 + i))
    }
  }

  test("golden corpus hash: grammar changes require a fresh differential run") {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 200).foreach { i =>
      val (s, d) = FuzzDump.genQueryPair(20260814L + i)
      md.update(s.getBytes("UTF-8"))
      md.update(d.getBytes("UTF-8"))
    }
    val hash = md.digest().map("%02x".format(_)).mkString
    assert(hash == FuzzSpec.GoldenHash,
      s"fuzz grammar changed (corpus hash $hash): re-run FuzzDump + scripts/check.py " +
        "against DuckDB at sf0.001, then update GoldenHash")
  }

  test("every generated query executes through the dialect path") {
    (0 until 60).foreach { i =>
      val sql = FuzzDump.genQuery(555000L + i)
      val pre = graft.dialect.TrinoFunctions.preprocess(sql)
      // count() forces full planning + execution
      graft.engine.Tables.sql(spark, SfDir, pre).count()
    }
  }

  test("preprocess is idempotent over the (backslash-free) fuzz corpus") {
    // a structural rewrite whose OUTPUT re-triggers itself (a spliced
    // quantifier, a regenerated FETCH, …) would corrupt text on any
    // path that preprocesses twice; literals with backslashes are the
    // one DESIGNED non-idempotence (Trino escape doubling) and the
    // grammar emits none
    (0 until 120).foreach { i =>
      val sql = FuzzDump.genQuery(777000L + i)
      val once = graft.dialect.TrinoFunctions.preprocess(sql)
      val twice = graft.dialect.TrinoFunctions.preprocess(once)
      assert(once == twice, s"seed ${777000 + i}:\n$sql\n-- once:\n$once\n-- twice:\n$twice")
    }
  }
}

object FuzzSpec {
  /** MD5 over both genQueryPair(20260814 + i) texts, i < 200 — the
    * canonical-seed prefix of the corpus certified against DuckDB on
    * the v8 grammar (1,200/1,200 across seeds 20260814/77015/424242 at
    * sf0.001; v1–v7 history: 2,400 + 3,600 + 1,400 + 1,600 + 1,200 +
    * 2,600 + 1,200 green). v7 added quantified-comparison FILTERS
    * (WHERE + HAVING-over-aggregate), ordered/DISTINCT/mixed-direction
    * array_agg under ROLLUP / GROUPING SETS, and FETCH … WITH TIES
    * paired with an independently-built rank() oracle (DuckDB has no
    * WITH TIES grammar) — that run caught a REAL dialect corner now
    * fixed (array_agg over an EMPTY group returned [] where SQL says
    * NULL) and excluded two DuckDB-side quirks by construction (its
    * array_agg drops NULL elements; 1.0 constant-folds in-aggregate
    * ORDER BY keys equal to a grouping key, un-sorting super-rows).
    * v8 added the r15 constructs: ANSI OFFSET folded into WITH TIES,
    * ordinal ORDER BY keys under TIES (select-list resolution), and
    * SQL/JSON behavior clauses whose DEFAULT literals include
    * clause-keyword-looking text (masked-literal splice hunting).
    * v9 adds JSON_TABLE over column-built row sources (array and
    * object items, ordinality, implicit paths) vs a UNION ALL
    * expansion twin — the correlated-lateral splice must keep per-row
    * values straight across the posexplode. v10 adds NESTED PATH
    * siblings with conditionally-empty branches, hitting all four
    * default-plan arms (xs-only, ys-only, UNION back-to-back, OUTER
    * all-NULL) vs guarded UNION ALL arm twins. v11 adds PLAN
    * DEFAULT — INNER's twin omits the outer arm (parents with an
    * empty sibling union disappear), explicit OUTER must equal the
    * default. v12 adds PLAN DEFAULT (…, CROSS): the sibling-product
    * twin enumerates element-pair arms guarded by both branches
    * non-empty; OUTER adds the any-empty all-NULL arm. */
  val GoldenHash = "fbd6ef868e490c346d9b674e80c5c2f3"
}
