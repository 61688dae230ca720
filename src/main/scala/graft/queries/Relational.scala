package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import QHelpers._

/** SURVEY.md §2b rows 1–28: scan / filter / limit / sort / join / agg.
  *
  * Authority: the reference passes these statement classes straight to
  * Trino (reference internal/trino/client.go:284-290, handlers.go:290);
  * here each is expressed with the DataFrame API so Catalyst plans the
  * physical operators (pushdown, broadcast, partial aggregation).
  */
object Relational {

  val defs: Map[String, Q] = Map(
    // 1. parquet scan + projection + expression; Catalyst prunes to the
    // 4 referenced columns (verify via ReadSchema in explain).
    "scan_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        // (l_orderkey, l_linenumber) is NOT unique in the testdata —
        // sort over every output column for a total order.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"))),

    // 2. WHERE with AND/OR — pushed to the parquet scan (PushedFilters).
    "filter_basic" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 30 &&
          (col("l_returnflag") === "R" || col("l_discount") <= 0.02))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_discount"))),

    // 3. IN / BETWEEN / LIKE / IS NOT NULL.
    "filter_in_between_like" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
          col("c_acctbal").between(0.0, 5000.0) &&
          col("c_name").like("%5%") &&
          col("c_name").isNotNull)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // 4. LIMIT (deterministic via total ORDER BY first).
    "limit_plain" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .limit(100)),

    // Trino's array_agg(expr ORDER BY key DESC) through the dialect
    // rewrite (rewriteArrayAggOrderBy → null-ranked struct sort):
    // DuckDB evaluates the same ORDER BY-in-aggregate form natively,
    // so the oracle is a direct replay of the ordering semantics.
    "agg_array_ordered" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT c_mktsegment,
          |  array_join(array_agg(c_name ORDER BY c_acctbal DESC, c_custkey DESC),
          |             ',') AS names
          |FROM customer
          |WHERE c_custkey <= 300
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin))),

    // DISTINCT + ORDER BY through the collect_set face of the rewrite
    // (the key must BE the distinct expression — Trino's rule), with a
    // NULL element to pin the null-exact placement after dedup.
    "agg_array_distinct_order" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT array_join(
          |  array_agg(DISTINCT CAST(nullif(c_nationkey, 3) AS VARCHAR)
          |            ORDER BY CAST(nullif(c_nationkey, 3) AS VARCHAR)
          |                     DESC NULLS FIRST),
          |  ',', 'NULL') AS keys
          |FROM customer""".stripMargin))),

    // MIXED-direction array_agg ORDER BY through the comparator-lambda
    // face of the rewrite (ASC key, then DESC keys; c_custkey makes the
    // order total so the joined string is deterministic).
    "agg_array_mixed_order" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT c_mktsegment,
          |  array_join(array_agg(c_name ORDER BY c_nationkey ASC,
          |                                       c_acctbal DESC,
          |                                       c_custkey DESC),
          |             ',') AS names
          |FROM customer
          |WHERE c_custkey <= 300
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin))),

    // ANSI row-limiting through the dialect rewrite
    // (TrinoFunctions.rewriteFetchFirst → LIMIT/OFFSET): DuckDB parses
    // the IDENTICAL OFFSET…FETCH text natively, so the oracle is the
    // same statement verbatim — a pure syntax-equivalence check.
    "limit_offset_fetch" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders
          |ORDER BY o_orderkey
          |OFFSET 20 ROWS FETCH NEXT 50 ROWS ONLY""".stripMargin))),

    // FETCH ... WITH TIES through the dialect rewrite (rank() over the
    // same keys). The projected columns ARE the sort keys, so the
    // result is deterministic even within the tie group at the cutoff
    // (rows there are identical). DuckDB parses WITH TIES natively —
    // the oracle is the same statement verbatim.
    "limit_fetch_ties" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT l_quantity, l_linenumber
          |FROM lineitem
          |ORDER BY l_quantity, l_linenumber
          |FETCH FIRST 100 ROWS WITH TIES""".stripMargin))),

    // WITH TIES sorting by a column OUTSIDE the projection — the
    // in-block reading (rank() computed inside the query block; the
    // served path reaches it via the type-aware retry, exercised here
    // directly through PreprocessOpts). Outer ORDER BY restores total
    // order for the positional oracle compare.
    "limit_ties_unprojected" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT o_orderkey FROM (
          |  SELECT o_orderkey FROM orders
          |  ORDER BY o_custkey FETCH FIRST 50 ROWS WITH TIES
          |) t ORDER BY o_orderkey""".stripMargin,
        graft.dialect.TrinoFunctions.PreprocessOpts(tiesInBlock = true)))),

    // WITH TIES behind an ANSI OFFSET with an ordinal sort key (both
    // r15): skip 37, take 50, extend through the tie group of row 87.
    // The projection IS the sort key, so the value multiset is
    // deterministic even though the offset cuts inside a tie group
    // (which specific duplicate rows are skipped is arbitrary, but
    // they are indistinguishable by value). DuckDB has no OFFSET+TIES
    // grammar — the oracle replays the ANSI rule with rank/row_number.
    "limit_ties_offset" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT l_quantity FROM lineitem
          |ORDER BY 1
          |OFFSET 37 ROWS FETCH FIRST 50 ROWS WITH TIES""".stripMargin))),

    // 5. top-k — Catalyst plans TakeOrderedAndProject (no full sort).
    "topk_orderby_limit" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(5)),

    // 6. multi-key sort with explicit NULLS FIRST/LAST (nulls synthesized
    // via NULLIF; Trino/Spark/DuckDB default null ordering differs).
    "sort_multikey_nulls" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("st"),
          col("o_totalprice"))
        .orderBy(col("st").desc_nulls_first, col("o_totalprice").asc_nulls_last,
          col("o_orderkey").asc)),

    // 7. equi inner join; sized so AQE broadcasts the customer side.
    "join_inner_equi" -> ((s, d) =>
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // 8. 5-way star join + agg (TPC-H-like revenue per region/nation).
    // Dim tables broadcast; only the lineitem⋈orders edge shuffles.
    "join_multiway_star" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // 9. LEFT OUTER: customers without orders survive null-extended.
    "join_left_outer" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    // 10. RIGHT OUTER (mirror of 9).
    "join_right_outer" -> ((s, d) =>
      t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    // 11. FULL OUTER with unmatched rows on both sides (even-key customers
    // only, so odd-key orders dangle).
    "join_full_outer" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") % 2 === 0)
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "full")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)),

    // 12. EXISTS → left semi join.
    "join_semi_exists" -> ((s, d) =>
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_totalprice") > 200000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // 13. NOT EXISTS → left anti join (NOT-IN-with-NULLs trap avoided,
    // SURVEY.md §7.6).
    "join_anti_not_exists" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // 14. explicit CROSS JOIN (bounded: 5 × 25 rows).
    "join_cross" -> ((s, d) =>
      t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))),

    // 15. theta/band join (non-equi): |c_acctbal - s_acctbal| <= 50,
    // realized as an EQUI-join on width-100 acctbal bands (supplier
    // exploded to its ±1 neighbor bands) + exact re-filter. A naive
    // non-equi condition plans as BroadcastNestedLoopJoin — O(n·m)
    // compares that dies at scale; the band pre-join turns it into a
    // hash join whose per-band fanout is bounded by the band width.
    "join_theta_range" -> ((s, d) => {
      val sup = t(s, d, "supplier"); val c = t(s, d, "customer")
      val sb = sup.select(col("s_suppkey"), col("s_acctbal"),
        explode(array((-1 to 1).map(i =>
          floor(col("s_acctbal") / 100.0) + i): _*)).as("band"))
      val cb = c.select(col("c_custkey"), col("c_acctbal"),
        floor(col("c_acctbal") / 100.0).as("band"))
      // No broadcast hint: the exploded supplier side scales with SF (×3
      // rows), so a hard broadcast would OD the driver at cluster scale.
      // AQE picks broadcast when the build side is actually small; the
      // equi-join on `band` shuffles fine otherwise.
      cb.join(sb, Seq("band"))
        .filter(col("c_acctbal") >= col("s_acctbal") - 50.0 &&
          col("c_acctbal") <= col("s_acctbal") + 50.0)
        .select(col("s_suppkey"), col("c_custkey"), col("c_acctbal"), col("s_acctbal"))
        .orderBy(col("s_suppkey"), col("c_custkey"))
    }),

    // 16. same semantics as 7 with an explicit broadcast hint.
    "join_broadcast_hint" -> ((s, d) =>
      t(s, d, "orders").join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // 16b. bloom-pruned semi join (ops/Prune.scala): the fact scan drops
    // non-matching rows via a codegen'd bloom probe BEFORE the exchange;
    // the exact semi join after it removes false positives, so the
    // result equals the plain IN-subquery at any fpp — which is the
    // oracle.
    "join_bloom_prune" -> ((s, d) => {
      val dim = t(s, d, "supplier")
        .join(t(s, d, "nation").filter(col("n_name") === "NATION_7"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      graft.ops.Prune.bloomSemiJoin(t(s, d, "lineitem"), "l_suppkey", dim, "s_suppkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("l_suppkey"))
    }),

    // 17. global aggregate — two-phase HashAggregate (partial+final).
    "agg_global" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_discount")).as("avg_disc"))),

    // 18. GROUP BY + multiple aggregates (docs/tools.md:15 shape; TPC-H Q1).
    "agg_groupby" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // 19. HAVING → post-aggregation filter.
    "agg_having" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
        .filter(col("n_orders") >= 12)
        .orderBy(col("o_custkey"))),

    // 20. COUNT(DISTINCT) — RewriteDistinctAggregates / Expand.
    "agg_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy(col("l_returnflag"))),

    // 21. two different DISTINCT aggregates in one query (Expand with two
    // grouping branches). DISTINCT sum on decimal-cast quantity keeps the
    // double-sum order-independent.
    "agg_multi_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          sum_distinct(col("l_quantity").cast(DecimalType(18, 4)))
            .cast("double").as("sum_dist_qty"))
        .orderBy(col("l_linestatus"))),

    // 22. FILTER clause on aggregates (Trino & DuckDB syntax; Spark via
    // conditional aggregation — same semantics).
    "agg_filter_clause" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("o_totalprice") > 150000.0, 1)).as("n_big"),
          dsum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
            .otherwise(lit(0.0))).as("urgent_total"))
        .orderBy(col("o_orderstatus"))),

    // 23. ROLLUP + grouping() marker.
    "agg_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("o_orderpriority")).as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // 24. CUBE.
    "agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("o_orderpriority")).as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // 25. explicit GROUPING SETS (SQL surface — Expand operator).
    "agg_grouping_sets" -> ((s, d) =>
      graft.engine.Tables.sql(s, d,
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          |       GROUPING(o_orderstatus) AS g_status,
          |       GROUPING(o_orderpriority) AS g_prio
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio,
          |         o_orderstatus ASC NULLS FIRST,
          |         o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // 26. approx_distinct (Trino name) → HyperLogLog++; oracle omitted
    // (nondeterministic vs exact) — bounds asserted in ApproxSpec.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))),

    // Mergeable distinct-count sketches (DataSketches HLL): per-group
    // sketches built once, then UNIONED for any rollup without
    // re-scanning the base data — at 100 TB the sketch tier is how
    // distinct counts are actually served (pre-aggregate per partition/
    // day, merge at query time). Register-max construction makes the
    // estimate deterministic under any row order; oracle omitted
    // (DuckDB has no DataSketches-compatible HLL) — equivalence to the
    // merge-free estimate and error bounds pinned in ApproxSpec.
    "agg_hll_mergeable" -> ((s, d) => {
      val perGroup = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"),
          countDistinct(col("l_partkey")).as("exact_nd"))
      perGroup.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"),
        sum(col("exact_nd")).as("sum_group_exact"))
    }),

    // Fixed-width histogram: bucket = floor(x / width) — the exact
    // distribution summary behind every dashboard histogram. One
    // partial+final aggregate; floor-of-double-division is the same
    // arithmetic on both engines.
    "agg_histogram" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 10000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))),

    // Exact corr / covar_samp / regr_slope from decimal moment sums
    // (the time_zscore_hourly recipe): the five moments accumulate as
    // exact DECIMAL sums — order-independent — and only the final
    // closed-form formula runs in doubles, as the SAME expression text
    // on both engines, so the statistics are bit-identical. (Plain
    // corr() on doubles is order-dependent and engine-divergent.)
    // Products of the (28,8)-cast inputs carry ≤4 fractional digits, so
    // Spark's (38,6) multiply result and DuckDB's (38,16) are both
    // exact. Runs as SQL TEXT through the engine = its own oracle.
    "agg_corr_regr" -> ((s, d) => graft.engine.Tables.sql(s, d, corrRegrSql)),

    // Mergeable KLL quantile sketches (Spark's DataSketches built-ins):
    // build per-group, persistable binary sketches, merge them, query
    // the merged quantile — the reference's qdigest_agg surface. KLL
    // compaction is randomized (within guaranteed rank error), so like
    // the other sketch rows this is bounds-pinned in ApproxSpec, not
    // oracle-hashed.
    "agg_kll_mergeable" -> ((s, d) => {
      val perGroup = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(kll_sketch_agg_double(col("l_extendedprice"), 200).as("sk"))
      perGroup.agg(
        kll_sketch_get_quantile_double(kll_merge_agg_double(col("sk"), 200), lit(0.5))
          .as("est_p50"))
    }),

    // Theta sketches (Spark's DataSketches built-ins): mergeable
    // distinct counts WITH set algebra — the audience-overlap query
    // ("distinct parts shipped under BOTH flags") answered from
    // per-group sketches, never rescanning rows. Deterministic
    // (fixed-seed KMV) but not DuckDB-reproducible → rows-only;
    // estimate-vs-exact pinned in ApproxSpec.
    "agg_theta_intersect" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val sk = li.filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag"))
        .agg(theta_sketch_agg(col("l_partkey")).as("sk"))
      val wide = sk.agg(
        first(when(col("l_returnflag") === "A", col("sk")), ignoreNulls = true).as("sk_a"),
        first(when(col("l_returnflag") === "R", col("sk")), ignoreNulls = true).as("sk_r"))
      wide.select(
        theta_sketch_estimate(col("sk_a")).as("est_a"),
        theta_sketch_estimate(col("sk_r")).as("est_r"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_r"))).as("est_both"))
    }),

    // Frequent-items sketch via Spark 4's native approx_top_k
    // (DataSketches ItemsSketch underneath — the reference's
    // approx_most_frequent). With maxItemsTracked far above the true
    // cardinality the sketch provably never evicts, so the counts are
    // EXACT and the query oracle-checks against plain GROUP BY counts
    // — the same guarantee a 100 TB run has for any heavy hitter above
    // the eviction floor.
    "agg_topk_sketch" -> ((s, d) =>
      t(s, d, "events")
        .agg(expr("approx_top_k(event_type, 3, 64)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("item"))),

    // 27. approx_percentile — oracle omitted; bounds asserted in ApproxSpec.
    "agg_approx_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("p50_price"))
        .orderBy(col("l_returnflag"))),

    // 28. array_agg(x ORDER BY x) → sorted list per group, emitted as a
    // joined string (stable to hash; avoids engine list-encoding drift).
    "agg_collect_sorted" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderpriority"))))
          .as("prios"))
        .orderBy(col("o_custkey")))
  )

  /** The moments accumulate as EXACT INTEGERS: quantity is integral in
    * this data and price is a true 2-decimal value, so qty units ×
    * price cents are exact per row and their sums are exact on any
    * engine in any order. (Summing decimal-cast doubles instead
    * diverges: rounding a ~17-sig-digit double product to 8 fractional
    * digits at 1e10 magnitude asks for ~18 significant digits — beyond
    * the double — and the two engines break the ambiguity differently.)
    * syy goes through DECIMAL(38,0): cents² sums pass 2^63 at sf ≥ 0.1.
    * The closed-form formula then runs on identical doubles with
    * identical expression text; the /100.0 un-scales the cents. */
  private val corrRegrSql =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS BIGINT)) AS sx,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
      |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
      |    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))
      |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
      |    SUM(CAST(l_quantity AS BIGINT)
      |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |    / (n - 1) / 100.0 AS covar_samp,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS corr,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
      |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |    / 100.0 AS regr_slope
      |FROM m ORDER BY l_returnflag""".stripMargin

  val oracles: Map[String, String] = Map(
    "agg_corr_regr" -> corrRegrSql,

    "scan_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price""".stripMargin,

    "filter_basic" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
        |FROM lineitem
        |WHERE l_quantity > 30 AND (l_returnflag = 'R' OR l_discount <= 0.02)
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount""".stripMargin,

    "filter_in_between_like" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
        |  AND c_acctbal BETWEEN 0.0 AND 5000.0
        |  AND c_name LIKE '%5%' AND c_name IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,

    "limit_plain" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin,

    "limit_offset_fetch" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_orderkey
        |OFFSET 20 ROWS FETCH NEXT 50 ROWS ONLY""".stripMargin,

    "limit_fetch_ties" ->
      """SELECT l_quantity, l_linenumber FROM (
        |  SELECT l_quantity, l_linenumber,
        |         rank() OVER (ORDER BY l_quantity, l_linenumber) AS r
        |  FROM lineitem
        |) t WHERE r <= 100
        |ORDER BY l_quantity, l_linenumber""".stripMargin,

    "limit_ties_unprojected" ->
      """SELECT o_orderkey FROM (
        |  SELECT o_orderkey, rank() OVER (ORDER BY o_custkey) AS r
        |  FROM orders
        |) t WHERE r <= 50
        |ORDER BY o_orderkey""".stripMargin,

    "limit_ties_offset" ->
      """SELECT l_quantity FROM (
        |  SELECT l_quantity, rank() OVER (ORDER BY l_quantity) AS r,
        |         row_number() OVER (ORDER BY l_quantity) AS rn
        |  FROM lineitem
        |) t WHERE rn > 37 AND r <= (
        |  SELECT max(CASE WHEN rn2 = 87 THEN r2 END) FROM (
        |    SELECT rank() OVER (ORDER BY l_quantity) AS r2,
        |           row_number() OVER (ORDER BY l_quantity) AS rn2
        |    FROM lineitem) u)
        |ORDER BY l_quantity""".stripMargin,

    "agg_array_ordered" ->
      """SELECT c_mktsegment,
        |  array_to_string(array_agg(c_name ORDER BY c_acctbal DESC, c_custkey DESC),
        |                  ',') AS names
        |FROM customer
        |WHERE c_custkey <= 300
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "agg_array_distinct_order" ->
      """SELECT array_to_string(
        |  list_transform(
        |    array_agg(DISTINCT CAST(nullif(c_nationkey, 3) AS VARCHAR)
        |              ORDER BY CAST(nullif(c_nationkey, 3) AS VARCHAR)
        |                       DESC NULLS FIRST),
        |    x -> coalesce(x, 'NULL')),
        |  ',') AS keys
        |FROM customer""".stripMargin,

    "agg_array_mixed_order" ->
      """SELECT c_mktsegment,
        |  array_to_string(array_agg(c_name ORDER BY c_nationkey ASC,
        |                                            c_acctbal DESC,
        |                                            c_custkey DESC),
        |                  ',') AS names
        |FROM customer
        |WHERE c_custkey <= 300
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "topk_orderby_limit" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 5""".stripMargin,

    "sort_multikey_nulls" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st, o_totalprice
        |FROM orders
        |ORDER BY st DESC NULLS FIRST, o_totalprice ASC NULLS LAST, o_orderkey ASC""".stripMargin,

    "join_inner_equi" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_multiway_star" ->
      s"""SELECT r_name, n_name,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "join_left_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_right_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_full_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
        |FULL JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_semi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,

    "join_anti_not_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "join_theta_range" ->
      """SELECT s_suppkey, c_custkey, c_acctbal, s_acctbal
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 50.0 AND c_acctbal <= s_acctbal + 50.0
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "join_broadcast_hint" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_bloom_prune" ->
      s"""SELECT l_suppkey, COUNT(*) AS n_items,
         |       ${sqlDsum("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_suppkey IN (
         |  SELECT s_suppkey FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_7')
         |GROUP BY l_suppkey
         |ORDER BY l_suppkey""".stripMargin,

    "agg_global" ->
      s"""SELECT COUNT(*) AS n_rows,
         |       ${sqlDsum("l_quantity")} AS sum_qty,
         |       ${sqlDsum("l_extendedprice")} AS sum_price,
         |       MIN(l_quantity) AS min_qty,
         |       MAX(l_quantity) AS max_qty,
         |       ${sqlDavg("l_discount")} AS avg_disc
         |FROM lineitem""".stripMargin,

    "agg_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       ${sqlDsum("l_quantity")} AS sum_qty,
         |       ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |       ${sqlDavg("l_quantity")} AS avg_qty,
         |       COUNT(*) AS count_order
         |FROM lineitem
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_having" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |       ${sqlDsum("o_totalprice")} AS total_spent
         |FROM orders GROUP BY o_custkey
         |HAVING COUNT(*) >= 12
         |ORDER BY o_custkey""".stripMargin,

    "agg_count_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,

    // The sketch provably never evicts at this cardinality (5 distinct
    // event types << 64 tracked), so its counts are exact — see the
    // query comment.
    "agg_topk_sketch" ->
      """SELECT event_type AS item, COUNT(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, item LIMIT 3""".stripMargin,

    "agg_multi_distinct" ->
      """SELECT l_linestatus,
        |       COUNT(DISTINCT l_suppkey) AS n_supp,
        |       CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_dist_qty
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "agg_filter_clause" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n_all,
        |       COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
        |       CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |                          THEN o_totalprice ELSE 0.0 END
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS urgent_total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |       ${sqlDsum("o_totalprice")} AS total,
         |       GROUPING(o_orderstatus) AS g_status,
         |       GROUPING(o_orderpriority) AS g_prio
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_prio,
         |         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       GROUPING(o_orderstatus) AS g_status,
        |       GROUPING(o_orderpriority) AS g_prio
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        |         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       GROUPING(o_orderstatus) AS g_status,
        |       GROUPING(o_orderpriority) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |         o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_collect_sorted" ->
      """SELECT o_custkey,
        |       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  )
}
