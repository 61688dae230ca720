package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan audits: the shapes that must hold for the 100 TB
  * posture, asserted mechanically so a regression (lost pushdown, a
  * surprise nested-loop join, a shuffle where a broadcast belongs)
  * fails CI rather than a future cluster run.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("scan_project: column pruning reaches the parquet scan") {
    val p = plan("scan_project")
    assert(p.contains("ReadSchema"), p.take(400))
    // only the projected columns are read, not lineitem's 16
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && !read.contains("l_comment"), read)
  }

  test("filter_basic: predicates push down to the scan") {
    val p = plan("filter_basic")
    assert(p.contains("PushedFilters") &&
      p.linesIterator.exists(l => l.contains("PushedFilters") && !l.contains("PushedFilters: []")), p.take(600))
  }

  test("topk_orderby_limit: top-k plans as TakeOrderedAndProject") {
    assert(plan("topk_orderby_limit").contains("TakeOrderedAndProject"))
  }

  test("fn_json_table_nested: a pure Generate chain, no joins, no shuffle") {
    // the NESTED PATH laterals must stay per-row generators — at 100 TB
    // a join- or shuffle-based plan here would be a disaster; the only
    // Exchange allowed is the final presentation ORDER BY's range part
    val p = plan("fn_json_table_nested")
    assert(p.contains("Generate"), p.take(600))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("join_broadcast_hint: broadcast honored") {
    assert(plan("join_broadcast_hint").contains("BroadcastHashJoin"))
  }

  test("join_multiway_star: dimensions broadcast (no SMJ on dims at this size)") {
    assert(plan("join_multiway_star").contains("BroadcastHashJoin"))
  }

  test("join_theta_range: banded rewrite leaves no nested-loop join") {
    val p = plan("join_theta_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("fn_regexp_lambda: per-match lambda is a pure projection (no shuffle, no UDF)") {
    // the HigherOrderFunction evaluates per-row like builtin
    // regexp_replace: the only Exchange is the final presentation sort,
    // nothing python/ScalaUDF-shaped appears
    val p = plan("fn_regexp_lambda")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, p.take(800))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(800))
    assert(p.contains("PushedFilters"), p.take(400)) // custkey filter reaches the scan
  }

  test("mr_funnel: the sequential matcher costs exactly one shuffle") {
    // MATCH_RECOGNIZE = repartition(partition keys) + secondary sort +
    // streaming mapPartitions: ONE Exchange in the whole plan (the
    // outer orderBy is collect-side), DEFINE flags computed by Catalyst
    // projections, no join, no extra shuffle from the lag window (it
    // shares the same hashpartitioning).
    val p = plan("mr_funnel")
    // formatted mode prints each node twice (tree + details) — count
    // the details headers "(n) Exchange" for the true node count
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"expected <=2 Exchange (matcher + final sort), got $exchanges:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("MapPartitions") || p.contains("mapPartitions"), p.take(800))
  }

  test("tpch_q1: shipdate predicate pushes down to the lineitem scan") {
    val p = plan("tpch_q1")
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("l_shipdate")), p.take(800))
  }

  test("tpch_q5: star joins broadcast the dimension sides") {
    val p = plan("tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("tpch_q18: top-n plans as TakeOrderedAndProject") {
    assert(plan("tpch_q18").contains("TakeOrderedAndProject"))
  }

  test("limit_fetch_ties: map-side WindowGroupLimit before the global window") {
    // the WITH TIES rank rewrite must NOT funnel the whole table into
    // the single-partition window: Catalyst's Partial+Final
    // WindowGroupLimit pre-limits every map partition to the first
    // n-with-ties rows before the exchange (the distributed analog of
    // TakeOrderedAndProject with tie preservation)
    val p = plan("limit_fetch_ties")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("quantified_cmp: identical scalar-subquery copies execute once (ReuseSubquery)") {
    // the rewrite splices the same struct-valued aggregate subquery
    // once per field access; physical ReuseSubquery must collapse the
    // copies so each comparison scans its subquery ONCE (reuse is
    // finalized at runtime — execute, then read the final plan)
    val df = SparkEntry.queries("quantified_cmp")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedSubquery"), p.take(800))
  }

  test("xcat_nation_acctbal: tiny-catalog dimensions broadcast, scan pruned") {
    val p = plan("xcat_nation_acctbal")
    // both tpch.tiny sides are dimension-shaped → broadcast, never SMJ
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), p.take(600))
    // V2 column pruning: the nation scan ships only the 3 used columns
    assert(p.linesIterator.exists(l =>
      l.contains("TpchTiny(table=nation") && !l.contains("comment,")), p)
  }

  test("whole inventory: no CartesianProduct; nested-loop only where semantic") {
    // join_cross IS a cross join; the embed anchor joins broadcast a
    // 1-row (or nProbe-row) side — a BNLJ against a bounded-tiny build
    // side is the standard way to attach a constant vector and is safe
    // at any corpus scale. Everything else must plan without
    // cartesian/nested-loop execution.
    // 1-row broadcast sides (anchor vectors, aggregated vocabularies)
    // legitimately plan as BNLJ — safe at any corpus scale
    val bnljAllowed = Set("join_cross", "embed_knn_cosine", "embed_ivf_topk",
      "embed_ivf_kmeans", "text_contamination",
      // curation_keep embeds the contamination stage: same 1-row
      // aggregated-vocabulary broadcast
      "curation_keep", "curation_mix",
      // batch kNN scores every vector against the fixed nAnchors-row
      // broadcast anchor set — the cross product IS the semantics
      "embed_knn_batch", "embed_ivf_topk_md5", "embed_ivf_kmeans_md5", "embed_pq_topk_md5",
      // the merged-index trio scores the corpus against the fixed
      // 40-row standing centroid broadcast (build + fold) and crosses
      // the 1-row anchor into the probe — same class as the twins
      "embed_ivf_merge",
      // semdedup's cluster assignment scores every vector against the
      // fixed-nClusters broadcast centroid set (same shape as the IVF
      // twins); the pairing stage itself is an equi-join on cell_id
      "embed_semdedup",
      // bm25's corpus stats (N, total tokens, per-term idf) are ONE
      // broadcast row crossed into the per-doc scoring projection; the
      // index probe crosses the |Q|-row terms side with that same
      // 1-row stats table — constant-size at any corpus scale
      "text_bm25_topk", "bm25_index_probe", "bm25_index_merge",
      // hybrid RRF composes the bm25 (1-row stats cross) and cosine
      // (1-row anchor cross) generators; fusion itself is join-free —
      // a union-pivot hash aggregate over two <=poolK-row rank lists
      "retrieval_hybrid_rrf",
      // tfidf's N (one aggregated row) crossed into the vocab-sized
      // idf side — constant broadcast, same class as the bm25 stats
      "text_tfidf_keywords",
      // grouping-sets queries carry EmptyGroupingSetsRule's guard
      // branch: a BNLJ of two SINGLE-ROW aggregates (the synthetic ()
      // row × the emptiness count) — constant-size at any corpus scale
      "agg_rollup", "agg_cube", "agg_grouping_sets",
      // quantified_cmp's eq_all_corr column correlates the subquery on
      // a NON-EQUI predicate (r_regionkey <= n_nationkey) — Catalyst
      // decorrelates it as a BNLJ against the 5-row region aggregate.
      // The nested loop IS the semantics of a non-equi correlated
      // quantifier (Trino plans the same shape); uncorrelated
      // quantifiers stay scalar subqueries (no join at all)
      "quantified_cmp")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p =
        try plan(name)
        catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
      val bad = p.contains("CartesianProduct") ||
        (!bnljAllowed(name) && p.contains("BroadcastNestedLoopJoin")) ||
        p.startsWith("PLANNING FAILED")
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty, s"plan offenders: ${offenders.mkString(", ")}")
  }

  test("whole inventory: whole-stage codegen present in scan-shaped queries") {
    // AQE finalizes codegen at runtime — execute, then read the final plan
    Seq("scan_project", "filter_basic", "agg_groupby", "text_fingerprint").foreach { name =>
      val df: DataFrame = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      // whole-stage codegen spans render as "*(n)" in plan toString
      assert(finalPlan.contains("*("), s"$name lost codegen:\n$finalPlan")
    }
  }

  test("dedup_exact: exactly one hash-shuffle on the dedup key before the output sort") {
    val p = plan("dedup_exact")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // one hashpartitioning (window key) + one rangepartitioning (ORDER BY)
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
  }

  test("dedup_url: one hash-shuffle of (url, id) pairs, text never moves") {
    val p = plan("dedup_url")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // one hashpartitioning (groupBy canonical_url) + one range (ORDER BY)
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
    assert(!p.contains("text#"), "document text must not enter the plan at all")
  }

  test("sample_epoch_order: partitioned ranking + TakeOrderedAndProject, no global sort") {
    val p = plan("sample_epoch_order")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    // the only Sort allowed is the window's within-partition sort
    val globalSorts = p.linesIterator.count(l =>
      l.contains("Sort ") && l.contains("true")) // Sort [...], true = global
    assert(globalSorts == 0, s"global sort found:\n$p")
  }

  test("embed_knn_cosine: anchor broadcast + top-k, no corpus shuffle") {
    val p = plan("embed_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("SortMergeJoin"), "corpus should not shuffle for the anchor join")
  }

  test("text_charlm_score: model joins broadcast, no corpus-sized SMJ") {
    val p = plan("text_charlm_score")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the bigram model must broadcast — a sort-merge join shuffles the whole pair stream")
  }

  test("dsir_weights: scoring is a shuffle-free projection over the collected model") {
    // train-then-score: the model is collected at build time, so the
    // scoring plan has NO join operators at all and the only exchange
    // is the output ORDER BY's range partitioning
    val p = plan("dsir_weights")
    assert(!p.contains("Join"), s"dsir scoring must be join-free:\n${p.take(600)}")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"unexpected shuffles:\n$p")
    val sel = plan("dsir_select")
    assert(sel.contains("TakeOrderedAndProject"), sel.take(400))
  }

  test("sample_temperature: rates broadcast back, corpus filtered in place") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "per-source rates are tiny — the corpus must not shuffle for the rate join")
  }

  test("time_asof_join: window-based — zero join operators, one key shuffle") {
    val p = plan("time_asof_join")
    // union-tag-carry: no join operator of any kind in the plan
    assert(!p.contains("Join"), s"as-of should be join-free:\n${p.take(600)}")
    assert(p.contains("Window"), p.take(400))
    // one hashpartitioning (the key) + one rangepartitioning (ORDER BY)
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
  }

  test("join_bloom_prune: the bloom probe evaluates inside the fact scan stage") {
    // sf0.01: at sf0.001 the filtered dim is EMPTY and the operator
    // short-circuits to an empty relation (its own PruneSpec case) —
    // the live plan needs a non-empty dim. toString keeps expression
    // names the formatted details elide.
    val p = SparkEntry.queries("join_bloom_prune")(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), p.take(600))
    // the probe is a Filter BELOW the semi join (printed deeper =
    // later), pruning before the join, not validating after it
    val joinAt = p.indexOf("LeftSemi")
    val probeAt = p.indexOf("bloom_might_contain")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"probe not below the semi join (join@$joinAt, probe@$probeAt)")
  }

  test("sample_domain_quota: both ranking phases run as WindowGroupLimit top-k pushdown") {
    val p = plan("sample_domain_quota")
    // Spark rewrites rank-then-filter into WindowGroupLimit: the per-
    // partition top-n prunes BEFORE each window materializes a rank —
    // the salted phase and the final phase each get one
    val limits = p.linesIterator.count(_.trim.matches("""\+?-? ?WindowGroupLimit.*|.*\bWindowGroupLimit \(\d+\)"""))
    assert(limits >= 2, s"expected two WindowGroupLimit phases:\n${p.take(800)}")
  }

  test("retrieval_hybrid_rrf: generators end in top-k, fusion never sort-merges") {
    val p = plan("retrieval_hybrid_rrf")
    // the two candidate generators are bounded TakeOrderedAndProject
    // top-poolK plans; everything downstream is constant-size, so a
    // SortMergeJoin anywhere means a rank list stopped being bounded
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      s"fusion must join bounded lists broadcast-side:\n${p.take(1200)}")
  }

  private val textScans =
    Seq("text_repetition", "text_contamination", "text_langid", "text_langid_accuracy")

  private def optimized(name: String) =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan

  test("text scans: tokenize-once kernels, no lambda left in the optimized plans") {
    // a transform/filter lambda here re-split the document per window
    // or per language — the O(n²) interpreted shape the kernels replaced
    textScans.foreach { name =>
      val lambdas = optimized(name).flatMap(_.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l
      }))
      assert(lambdas.isEmpty, s"$name still evaluates lambdas: ${lambdas.take(3)}")
    }
  }

  test("text_langid: one kernel per output, not an 8,000-expression plan") {
    val exprs = optimized("text_langid")
      .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(exprs < 100, s"text_langid optimized plan holds $exprs expressions")
  }

  test("text_repetition, text_langid: one kernel call per row feeds every output") {
    // repetition's window total and its distinct count, and langid's
    // lang and score, read one struct: whole-stage codegen must share
    // it (subexpression elimination), not tokenize the row twice
    Seq("text_repetition", "text_langid").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // AQE finalizes the generated stages at runtime
      def bodies(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          w.doCodeGen()._2.body +: w.children.flatMap(bodies)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          bodies(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => bodies(s.plan)
        case o => o.children.flatMap(bodies)
      }
      val calls = bodies(df.queryExecution.executedPlan)
        .map("\\.kernel\\(".r.findAllIn(_).size).sum
      assert(calls == 1, s"$name: $calls kernel calls in the generated code")
    }
  }

  test("text scans: the kernels leave every exchange in place") {
    // the initial adaptive plan's exchanges (not yet executed, so no
    // runtime re-planning), by partitioning
    def exchanges(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
              e.outputPartitioning.getClass.getSimpleName
            case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
              "Broadcast"
          }.sorted
        case p => fail(s"$name: expected an adaptive plan, got ${p.nodeName}")
      }
    val expected = Map(
      "text_repetition" -> Seq("RangePartitioning"),
      "text_contamination" -> Seq("Broadcast", "RangePartitioning", "SinglePartition$"),
      "text_langid" -> Seq("RangePartitioning"),
      "text_langid_accuracy" -> Seq("HashPartitioning", "RangePartitioning"))
    textScans.foreach(name => assert(exchanges(name) == expected(name), name))
  }

  test("text_unigram_entropy: one corpus scan, zero shuffles before the output sort") {
    val p = plan("text_unigram_entropy")
    // the kernel makes entropy a pure projection: the ONLY Exchange
    // allowed is the final ORDER BY's range partitioning
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"entropy regressed to a shuffle plan:\n$p")
  }
}
