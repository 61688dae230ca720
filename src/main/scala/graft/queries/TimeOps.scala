package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QHelpers._
import graft.engine.Tables

/** SURVEY.md §2b rows 54–55: batch time-window semantics over `events`.
  * The streaming variants (Structured Streaming window()/session_window()
  * with watermarks) live in graft.streaming; these batch forms are the
  * DuckDB-oracle-checkable equivalents.
  */
object TimeOps {

  val defs: Map[String, Q] = Map(
    // 54. tumbling 1-hour window aggregation — uses Spark's window()
    // grouping (same operator the streaming path uses); hour-aligned so
    // the oracle can express it as date_trunc.
    "time_tumbling_agg" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("hour_start"), col("event_type"))),

    // 55. sessionization via gaps-and-islands: 30-min inactivity gap →
    // new session; per-session aggregates. All-window-function pipeline —
    // shuffles once on user_id, then both windows reuse the partitioning.
    "time_sessionize_gaps" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      // Gap compared in exact integer microseconds on both engines
      // (unix_micros here, epoch_us in DuckDB) — no float/truncation drift.
      val newSession = when(
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
          > 1800L * 1000000L, 1L).otherwise(lit(0L))
      val withFlag = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          newSession.as("is_new"))
      val sessionized = withFlag.select(col("user_id"), col("event_id"),
        col("ts"), col("value"),
        sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("session_id"))
      sessionized
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          dsum(col("value")).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Conversion funnel: first view → first click within 1 h of it →
    // first purchase within 1 h of that click. Per-stage user counts —
    // the product-analytics staple. Stage boundaries compared in exact
    // integer microseconds (unix_micros / epoch_us) like the
    // sessionizer, so no float/truncation drift across engines. Each
    // stage is one aggregate + one broadcast-joinable user table.
    // MATCH_RECOGNIZE (dialect/MatchRecognize): the SQL:2016 row-pattern
    // funnel — every maximal click-run directly preceded by a view,
    // PATTERN (A B+) with SKIP PAST LAST ROW over (user, time) order.
    // A and B are disjoint predicates here, so the DuckDB oracle can
    // replay the sequential matcher exactly with window functions
    // (click-islands joined to their immediately-preceding view row).
    "mr_funnel" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
          |         COUNT(B.*) AS n_clicks
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("start_ts"))
    }),

    // Aggregate MEASURES (r12 verdict item 2): SUM/AVG/MIN/MAX over a
    // pattern variable's mapped rows, FINAL semantics in ONE-ROW mode.
    // Float determinism follows the repo rule (QHelpers): SUM/AVG run
    // over a DECIMAL(18,4) cast of `value` (exact, order-independent),
    // emitted as double on both engines; MIN/MAX are order-independent
    // on the raw double.
    "mr_funnel_agg" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.ts) AS start_ts, COUNT(B.*) AS n_clicks,
          |         SUM(B.dval) AS sum_val, AVG(B.dval) AS avg_val,
          |         MIN(B.value) AS min_val, MAX(B.value) AS max_val
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .withColumn("sum_val", col("sum_val").cast("double"))
        .orderBy(col("user_id"), col("start_ts"))
    }),

    // The RUNNING face of the same aggregates: ALL ROWS PER MATCH with
    // SUM/MAX over the B rows mapped SO FAR at each output row (NULL on
    // the A row — no B row seen yet), replayed in DuckDB as running
    // window aggregates over each island.
    "mr_funnel_runsum" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS cls, SUM(B.dval) AS run_sum,
          |         MAX(B.value) AS run_max, MATCH_NUMBER() AS mn
          |ALL ROWS PER MATCH
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .drop("dval")
        .withColumn("run_sum", col("run_sum").cast("double"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // SUBSET union variable: U = (A, B) navigated/aggregated in
    // MEASURES — U's rows are the whole match here, replayed in DuckDB
    // as view-row ∪ island aggregates.
    "mr_funnel_subset" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(U.ts) AS u_start, LAST(U.ts) AS u_end,
          |         COUNT(U.*) AS u_n, MIN(U.value) AS u_min
          |PATTERN (A B+)
          |SUBSET U = (A, B)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("u_start"))
    }),

    // Pattern exclusion {- B+ -}: ALL-ROWS output keeps only the A
    // (view) row of each match while the excluded click rows still
    // drive the FINAL aggregates — the "emit the trigger row with its
    // context stats" shape. DuckDB replay: the view row + island
    // aggregates, one row per match.
    "mr_funnel_excl" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS cls, FINAL COUNT(B.*) AS n_clicks,
          |         FINAL SUM(B.dval) AS sum_val
          |ALL ROWS PER MATCH
          |PATTERN (A {- B+ -})
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .drop("dval")
        .withColumn("sum_val", col("sum_val").cast("double"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // WITH UNMATCHED ROWS: the audit face of the matcher — every input
    // row comes back, matched ones with CLASSIFIER/MATCH_NUMBER,
    // unmatched ones all-NULL. DuckDB replays it as a LEFT JOIN of the
    // events to the island spans (disjoint under SKIP PAST LAST ROW,
    // so each row matches at most one span).
    "mr_funnel_unmatched" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
          |ALL ROWS PER MATCH WITH UNMATCHED ROWS
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // FINAL-prefixed measures in ALL-ROWS mode: whole-match aggregates
    // repeated on every output row (vs mr_funnel_runsum's RUNNING
    // state) — DuckDB replays them as per-island GROUP BY aggregates
    // joined back to each island row.
    "mr_funnel_rows_final" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS cls, FINAL SUM(B.dval) AS tot_sum,
          |         FINAL COUNT(B.*) AS tot_b, FINAL LAST(B.ts) AS end_ts
          |ALL ROWS PER MATCH
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .drop("dval")
        .withColumn("tot_sum", col("tot_sum").cast("double"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // The ALL ROWS PER MATCH face of the same matcher: one output row
    // per MATCHED row with RUNNING measures and CLASSIFIER() — the
    // per-row debugging/enrichment mode. Same disjoint-predicate trick
    // lets DuckDB replay it exactly (island rows + their preceding
    // view, running position arithmetic).
    "mr_funnel_rows" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS cls, COUNT(*) AS run_n,
          |         MATCH_NUMBER() AS mn
          |ALL ROWS PER MATCH
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // Cross-variable DEFINE (new in r13): B's predicate references A's
    // mapped row — `B.value > A.value` is RUNNING LAST(A.value), the
    // form Trino's own docs funnel uses. A/B predicates stay disjoint
    // on event_type, so SKIP PAST LAST ROW consumes nothing an oracle
    // can't see: matches are exactly the adjacent (view, click) pairs
    // where the click out-values the view — a lead() window in DuckDB.
    "mr_cross_pair" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
          |         FIRST(A.value) AS a_val, LAST(B.value) AS b_val
          |PATTERN (A B)
          |DEFINE A AS event_type = 'view',
          |       B AS event_type = 'click' AND B.value > A.value""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("a_eid"))
    }),

    // The canonical Trino-docs V-shape with the cross-variable cap:
    // fall (B+), then recover (C+) while staying at or below the
    // starting price A.value. AFTER MATCH SKIP TO NEXT ROW makes every
    // start position independent, so the DuckDB replay is pure window
    // algebra over down/up run segments (no sequential consumption to
    // simulate): B+ is the maximal down-run after the start, C+ the
    // up-run prefix capped by the start value — backtracking cannot
    // rescue a failed C (any shorter B ends on a falling row, where C's
    // `value > PREV(value)` is false), so maximal-B-then-prefix-C is
    // exactly the preferred match.
    "mr_vshape" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
          |         A.value AS start_val, LAST(B.value) AS bottom_val,
          |         LAST(C.value) AS top_val, COUNT(*) AS len
          |AFTER MATCH SKIP TO NEXT ROW
          |PATTERN (A B+ C+)
          |DEFINE B AS value < PREV(value),
          |       C AS value > PREV(value) AND value <= A.value""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("a_eid"))
    }),

    // RUNNING aggregates in DEFINE (SQL:2016): `SUM(A.dval) <= cap` is
    // the greedy sequence-packing idiom — pack consecutive events while
    // the running total stays under the budget. Decimal cast keeps the
    // running sum exact on both engines; SKIP TO NEXT ROW makes every
    // start independent, and greedy A+ stops at the FIRST failing row,
    // so the DuckDB replay is "first prefix-sum overshoot" per start —
    // correct even if values were negative.
    "mr_pack_runs" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
          |         COUNT(*) AS n, SUM(A.dval) AS total
          |AFTER MATCH SKIP TO NEXT ROW
          |PATTERN (A+)
          |DEFINE A AS SUM(A.dval) <= 25""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .withColumn("total", col("total").cast("double"))
        .orderBy(col("user_id"), col("a_eid"))
    }),

    // Expression MEASURES (new in r13): arithmetic/comparison over
    // navigation and aggregates — `LAST(B.value) - FIRST(A.value)`,
    // `CAST(SUM(B.dval) AS DOUBLE) / COUNT(B.*)` (exact decimal sum,
    // one double division), a LONG expression, and a boolean
    // comparison. Replayed in DuckDB as per-island aggregates joined to
    // the preceding view.
    "mr_funnel_delta" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("dval",
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.ts) AS start_ts,
          |         LAST(B.value) - FIRST(A.value) AS delta,
          |         CAST(SUM(B.dval) AS DOUBLE) / COUNT(B.*) AS per_click,
          |         COUNT(B.*) * 2 + 1 AS odd_clicks,
          |         LAST(B.value) > FIRST(A.value) AS improved
          |PATTERN (A B+)
          |DEFINE A AS event_type = 'view', B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(ev,
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("start_ts"))
    }),

    // Empty matches (new in r13): PATTERN (B*) is nullable — every
    // non-click row hosts an EMPTY match (null navigation, COUNT 0)
    // while click runs match greedily; MATCH_NUMBER() numbers both
    // kinds in scan order. DuckDB replay: click islands UNION the
    // non-click rows, renumbered by start position.
    // NESTED navigation (SQL:2016 / Trino `PREV(FIRST(...))`): for each
    // maximal ascending run, read the PARTITION context around the
    // match — the row before the run's head and the row after its top —
    // values no plain FIRST/LAST measure can reach. With A undefined
    // and greedy B+, SKIP PAST LAST ROW matches exactly the maximal
    // riser-islands (head = A): a failed start advances one row, and a
    // match resumes on a non-riser, so every island is found once.
    "mr_run_context" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
          |         PREV(FIRST(A.value)) AS before_val,
          |         LAST(B.value) AS top_val,
          |         NEXT(LAST(B.value)) AS after_val,
          |         COUNT(B.*) AS n_up
          |PATTERN (A B+)
          |DEFINE B AS value > PREV(value)""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("a_eid"))
    }),

    // EXPRESSION arguments in navigation/aggregates (SQL:2016): the
    // TPC-H revenue formula as an aggregate ARGUMENT —
    // SUM(A.eprice * (1 - A.disc)) — plus LAST over the same product
    // and a composite PREV, all evaluated per mapped row with exact
    // decimal arithmetic, cast to double. PATTERN (A+) with an
    // always-true DEFINE matches each order once, so the DuckDB replay
    // is a plain GROUP BY joined to the per-order last/previous lines.
    "mr_order_revenue" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val li = t(s, d, "lineitem")
        .withColumn("eprice", col("l_extendedprice").cast(dec))
        .withColumn("disc", col("l_discount").cast(dec))
      val clause = // (l_orderkey, l_linenumber) is NOT unique in this
        // synthetic lineitem — the full key breaks LAST/PREV ties
        """PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
          |MEASURES COUNT(*) AS n_lines,
          |         SUM(A.eprice * (1 - A.disc)) AS revenue,
          |         CAST(LAST(A.eprice * (1 - A.disc)) AS DOUBLE) AS last_net,
          |         CAST(PREV(eprice + disc) AS DOUBLE) AS prev_mix
          |PATTERN (A+)
          |DEFINE A AS l_quantity > 0""".stripMargin
      graft.dialect.MatchRecognize.run(li,
          graft.dialect.MatchRecognize.parseClause(clause))
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy(col("l_orderkey"))
    }),

    // ORDER BY direction (r13): the same riser-island scan run in
    // REVERSE time — `ORDER BY ts DESC, event_id DESC` — so a "riser"
    // is a value increase toward the PAST. PREV/NEXT follow the scan
    // order (PREV = later in time here), pinning that the lag/lead
    // windows ride the clause's declared order, not bare column order.
    "mr_run_context_desc" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts DESC, event_id DESC
          |MEASURES FIRST(A.event_id) AS a_eid,
          |         PREV(FIRST(A.value)) AS before_val,
          |         LAST(B.value) AS top_val,
          |         COUNT(B.*) AS n_up
          |PATTERN (A B+)
          |DEFINE B AS value > PREV(value)""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("a_eid"))
    }),

    "mr_empty_show" -> ((s, d) => {
      val clause =
        """PARTITION BY user_id ORDER BY ts, event_id
          |MEASURES FIRST(B.ts) AS b_start, COUNT(B.*) AS n_b,
          |         MATCH_NUMBER() AS mn
          |PATTERN (B*)
          |DEFINE B AS event_type = 'click'""".stripMargin
      graft.dialect.MatchRecognize.run(t(s, d, "events"),
          graft.dialect.MatchRecognize.parseClause(clause))
        .orderBy(col("user_id"), col("mn"))
    }),

    "time_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val us = unix_micros _
      val hour = 3600L * 1000000L
      val fv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val fc = ev.filter(col("event_type") === "click").as("c")
        .join(fv.as("f"), "user_id")
        .filter(us(col("c.ts")) > us(col("first_view")) &&
          us(col("c.ts")) <= us(col("first_view")) + hour)
        .groupBy(col("user_id")).agg(min(col("c.ts")).as("first_click"))
      val fp = ev.filter(col("event_type") === "purchase").as("p")
        .join(fc.as("g"), "user_id")
        .filter(us(col("p.ts")) > us(col("first_click")) &&
          us(col("p.ts")) <= us(col("first_click")) + hour)
        .select(col("user_id")).distinct()
      fv.agg(count(lit(1)).as("n_users"))
        .select(lit("1_viewed").as("stage"), col("n_users"))
        .unionAll(fc.agg(count(lit(1)).as("n_users"))
          .select(lit("2_clicked").as("stage"), col("n_users")))
        .unionAll(fp.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchased").as("stage"), col("n_users")))
        .orderBy(col("stage"))
    }),

    // Retention cohorts: users bucketed by first-seen hour, activity
    // counted per whole-hour offset from it — the cohort matrix every
    // growth dashboard draws. Offsets are exact integer hour deltas of
    // hour-truncated timestamps (no float time math). Two shuffles:
    // the per-user min and the cohort-cell distinct count.
    "time_retention" -> ((s, d) => {
      val ev = t(s, d, "events")
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
      ev.join(first, "user_id")
        .select(col("user_id"),
          date_trunc("hour", col("first_ts")).as("cohort_hour"),
          ((unix_micros(date_trunc("hour", col("ts"))) -
            unix_micros(date_trunc("hour", col("first_ts")))) /
            lit(3600L * 1000000L)).cast("long").as("offset_h"))
        .groupBy(col("cohort_hour"), col("offset_h"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_hour"), col("offset_h"))
    }),

    // As-of join: each purchase joins the LATEST same-user view at or
    // before it (trade↔quote semantics). The operator is the
    // union–tag–carry plan in ops/AsofJoin.scala — one shuffle on
    // user_id, zero range-join candidate explosion; DuckDB's native
    // ASOF JOIN is the oracle.
    "time_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val quotes = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.ops.AsofJoin.asofJoin(trades, quotes, Seq("user_id"),
          "ts", "ts", Seq("ts" -> "q_ts", "value" -> "q_value"), "event_id")
        .orderBy(col("event_id"))
    }),

    // Hourly OHLC bars per event type — the time-series downsampling
    // every monitoring/finance dashboard draws. Open/close come from a
    // full-frame ordered window (deterministic (ts, event_id) order),
    // high/low/n from the grouped aggregate; values pass through as
    // exact doubles. One shuffle on (event_type, hour); both the window
    // and the aggregate reuse it.
    "time_ohlc" -> ((s, d) => {
      val hour = date_trunc("hour", col("ts"))
      val wf = Window.partitionBy(col("event_type"), hour)
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events")
        .select(col("event_type"), hour.as("hr"), col("value"),
          first(col("value")).over(wf).as("o"),
          last(col("value")).over(wf).as("c"))
        .groupBy(col("event_type"), col("hr"))
        .agg(max(col("o")).as("open"), max(col("value")).as("high"),
          min(col("value")).as("low"), max(col("c")).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("hr"))
    }),

    // Hourly-volume anomaly z-scores per event type. The moments are
    // exact BIGINT sums (counts are integers — no float accumulation at
    // all), and the final mean/std/z formula is the same double
    // expression text on both engines, so the scores are bit-identical.
    // Runs as SQL TEXT through the engine (same string as the oracle).
    "time_zscore_hourly" -> ((s, d) => Tables.sql(s, d, zscoreSql))
  )

  private val zscoreSql =
    """WITH h AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |s AS (
      |  SELECT event_type, SUM(n) AS sn, SUM(n * n) AS snn, COUNT(*) AS c
      |  FROM h GROUP BY event_type)
      |SELECT h.event_type, h.hr, h.n,
      |  (CAST(h.n AS DOUBLE) - CAST(s.sn AS DOUBLE) / s.c) /
      |    sqrt((CAST(s.snn AS DOUBLE) - CAST(s.sn AS DOUBLE) * s.sn / s.c)
      |         / (s.c - 1)) AS z
      |FROM h JOIN s ON h.event_type = s.event_type
      |ORDER BY h.event_type, h.hr""".stripMargin

  val oracles: Map[String, String] = Map(
    "time_tumbling_agg" ->
      s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM events
         |GROUP BY date_trunc('hour', ts), event_type
         |ORDER BY hour_start, event_type""".stripMargin,

    "time_sessionize_gaps" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |), sessions AS (
         |  SELECT user_id, event_id, ts, value,
         |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM flagged
         |)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |       MIN(ts) AS session_start, MAX(ts) AS session_end,
         |       ${sqlDsum("value")} AS session_value
         |FROM sessions
         |GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // Sequential-matcher replay: with A/B disjoint, the (A B+) matches
    // are exactly the maximal click-islands whose immediately-preceding
    // row (in the full per-user event order) is a view.
    "mr_funnel" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, ts, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(ts) AS end_ts,
        |    COUNT(*) AS n_clicks
        |  FROM clicks GROUP BY user_id, grp)
        |SELECT i.user_id, v.ts AS start_ts, i.end_ts, i.n_clicks
        |FROM islands i
        |JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |WHERE v.event_type = 'view'
        |ORDER BY i.user_id, start_ts""".stripMargin,

    // Cross-variable pair replay: adjacent (view, click) with the click
    // out-valuing the view — a lead() window; SKIP PAST LAST ROW
    // consumption never hides a pair because A/B are type-disjoint (a
    // consumed click can never start the next match as A).
    "mr_cross_pair" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    LEAD(event_type) OVER w AS nxt_type,
        |    LEAD(value) OVER w AS nxt_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS a_eid, ts AS a_ts, value AS a_val,
        |       nxt_value AS b_val
        |FROM e
        |WHERE event_type = 'view' AND nxt_type = 'click'
        |  AND nxt_value > value
        |ORDER BY user_id, a_eid""".stripMargin,

    // V-shape replay (SKIP TO NEXT ROW ⇒ every start independent):
    // down/up run segments via gaps-and-islands; for each start row
    // whose successor falls, B+ is that maximal down-run and C+ is the
    // following up-run's prefix capped at the start value (an up-run
    // ascends, so `value <= start` is a prefix property). Greedy-B
    // backtracking never rescues a failed C: a shorter B ends on a
    // falling row, where C's `value > PREV(value)` is false.
    "mr_vshape" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    ROW_NUMBER() OVER w AS rn,
        |    CASE WHEN value < LAG(value) OVER w THEN 1 ELSE 0 END AS is_down,
        |    CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS is_up
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |segs AS (
        |  SELECT *,
        |    SUM(1 - is_down) OVER (PARTITION BY user_id ORDER BY rn) AS dseg,
        |    SUM(1 - is_up) OVER (PARTITION BY user_id ORDER BY rn) AS useg
        |  FROM e),
        |druns AS (
        |  SELECT user_id, dseg, MAX(rn) AS dend
        |  FROM segs WHERE is_down = 1 GROUP BY user_id, dseg),
        |cand AS (
        |  SELECT a.user_id, a.rn AS a_rn, a.event_id AS a_eid,
        |         a.ts AS a_ts, a.value AS a_val, d.dend
        |  FROM segs a
        |  JOIN segs b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |             AND b.is_down = 1
        |  JOIN druns d ON d.user_id = a.user_id AND d.dseg = b.dseg),
        |matches AS (
        |  SELECT c.*, bm.value AS bottom_val,
        |    (SELECT MAX(s.rn) FROM segs s
        |     WHERE s.user_id = c.user_id AND s.useg = u.useg
        |       AND s.is_up = 1 AND s.value <= c.a_val) AS cend
        |  FROM cand c
        |  JOIN segs bm ON bm.user_id = c.user_id AND bm.rn = c.dend
        |  JOIN segs u ON u.user_id = c.user_id AND u.rn = c.dend + 1
        |  WHERE u.is_up = 1 AND u.value <= c.a_val)
        |SELECT m.user_id, m.a_eid, m.a_ts, m.a_val AS start_val,
        |       m.bottom_val, t.value AS top_val,
        |       m.cend - m.a_rn + 1 AS len
        |FROM matches m
        |JOIN segs t ON t.user_id = m.user_id AND t.rn = m.cend
        |ORDER BY m.user_id, m.a_eid""".stripMargin,

    // Sequence-packing replay: per start row, the run ends just before
    // the first row whose running (exact decimal) sum overshoots the
    // budget — COALESCE to the partition end when nothing overshoots.
    "mr_pack_runs" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(value AS DECIMAL(18,4)) AS dval,
        |    ROW_NUMBER() OVER w AS rn,
        |    SUM(CAST(value AS DECIMAL(18,4))) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT s.user_id, s.rn AS s_rn, s.event_id AS a_eid,
        |    s.ts AS a_ts, s.csum - s.dval AS base,
        |    COALESCE(
        |      (SELECT MIN(j.rn) FROM e j WHERE j.user_id = s.user_id
        |         AND j.rn >= s.rn
        |         AND j.csum - (s.csum - s.dval) > 25) - 1,
        |      (SELECT MAX(j.rn) FROM e j WHERE j.user_id = s.user_id)
        |    ) AS endr
        |  FROM e s)
        |SELECT r.user_id, r.a_eid, r.a_ts, r.endr - r.s_rn + 1 AS n,
        |  CAST(t.csum - r.base AS DOUBLE) AS total
        |FROM runs r
        |JOIN e t ON t.user_id = r.user_id AND t.rn = r.endr
        |WHERE r.endr >= r.s_rn
        |ORDER BY r.user_id, r.a_eid""".stripMargin,

    // Expression-measure replay: per-island aggregates (last click
    // value via arg_max on the row number) joined to the preceding
    // view; double arithmetic is IEEE-identical across engines, the
    // decimal sum exact before its one double division.
    "mr_funnel_delta" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, value, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |      AS per_click,
        |    ARG_MAX(value, rn) AS last_val
        |  FROM clicks GROUP BY user_id, grp)
        |SELECT i.user_id, v.ts AS start_ts,
        |  i.last_val - v.value AS delta, i.per_click,
        |  i.n * 2 + 1 AS odd_clicks,
        |  i.last_val > v.value AS improved
        |FROM islands i
        |JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |WHERE v.event_type = 'view'
        |ORDER BY i.user_id, start_ts""".stripMargin,

    // Empty-match replay: click islands (non-empty matches) UNION every
    // non-click row (an empty match at its position), MATCH_NUMBER
    // renumbered over both by start row.
    "mr_empty_show" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, ts, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS start_rn, MIN(ts) AS b_start,
        |    COUNT(*) AS n_b
        |  FROM clicks GROUP BY user_id, grp),
        |m AS (
        |  SELECT user_id, start_rn, b_start, n_b FROM islands
        |  UNION ALL
        |  SELECT user_id, rn AS start_rn, CAST(NULL AS TIMESTAMP) AS b_start,
        |    CAST(0 AS BIGINT) AS n_b
        |  FROM e WHERE event_type <> 'click')
        |SELECT user_id, b_start, n_b,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start_rn) AS mn
        |FROM m
        |ORDER BY user_id, mn""".stripMargin,

    // Nested-navigation replay: maximal riser-islands via
    // gaps-and-islands (a riser = value > its LAG; heads reset the
    // segment id), then the PARTITION-context rows — before the head,
    // after the top — joined back by absolute row number. LEFT joins
    // keep the NULL-at-partition-edge semantics of PREV/NEXT.
    "mr_run_context" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    ROW_NUMBER() OVER w AS rn,
        |    CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS is_up
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |segs AS (
        |  SELECT *,
        |    SUM(1 - is_up) OVER (PARTITION BY user_id ORDER BY rn) AS useg
        |  FROM e),
        |runs AS (
        |  SELECT user_id, useg, MIN(rn) AS rstart, MAX(rn) AS rend,
        |    COUNT(*) AS n_up
        |  FROM segs WHERE is_up = 1 GROUP BY user_id, useg)
        |SELECT a.user_id, a.event_id AS a_eid, a.ts AS a_ts,
        |       p.value AS before_val, t.value AS top_val,
        |       x.value AS after_val, r.n_up
        |FROM runs r
        |JOIN segs a ON a.user_id = r.user_id AND a.rn = r.rstart - 1
        |JOIN segs t ON t.user_id = r.user_id AND t.rn = r.rend
        |LEFT JOIN segs p ON p.user_id = r.user_id AND p.rn = a.rn - 1
        |LEFT JOIN segs x ON x.user_id = r.user_id AND x.rn = r.rend + 1
        |ORDER BY a.user_id, a_eid""".stripMargin,

    // Expression-argument replay: PATTERN (A+) over an always-true
    // DEFINE matches each order exactly once, so the aggregate measures
    // are a GROUP BY; last_net reads the product at the order's last
    // line, prev_mix the sum at the line before it (NULL on one-line
    // orders). Decimal casts keep both engines' sums exact.
    "mr_order_revenue" ->
      """WITH e AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(18,4)) AS ep,
        |    CAST(l_discount AS DECIMAL(18,4)) AS dc,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_linenumber, l_partkey,
        |                                l_suppkey) AS rn
        |  FROM lineitem),
        |agg AS (
        |  SELECT l_orderkey, COUNT(*) AS n_lines,
        |    CAST(SUM(ep * (1 - dc)) AS DOUBLE) AS revenue
        |  FROM e GROUP BY l_orderkey)
        |SELECT a.l_orderkey, a.n_lines, a.revenue,
        |  CAST(l.ep * (1 - l.dc) AS DOUBLE) AS last_net,
        |  CAST(p.ep + p.dc AS DOUBLE) AS prev_mix
        |FROM agg a
        |JOIN e l ON l.l_orderkey = a.l_orderkey AND l.rn = a.n_lines
        |LEFT JOIN e p ON p.l_orderkey = a.l_orderkey AND p.rn = a.n_lines - 1
        |ORDER BY a.l_orderkey""".stripMargin,

    // Reverse-scan replay: identical gaps-and-islands algebra with the
    // window ordered ts DESC, event_id DESC — rn counts from the
    // partition's END, and the "row before" in scan order is the row
    // AFTER in time.
    "mr_run_context_desc" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |    ROW_NUMBER() OVER w AS rn,
        |    CASE WHEN value > LAG(value) OVER w THEN 1 ELSE 0 END AS is_up
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)),
        |segs AS (
        |  SELECT *,
        |    SUM(1 - is_up) OVER (PARTITION BY user_id ORDER BY rn) AS useg
        |  FROM e),
        |runs AS (
        |  SELECT user_id, useg, MIN(rn) AS rstart, MAX(rn) AS rend,
        |    COUNT(*) AS n_up
        |  FROM segs WHERE is_up = 1 GROUP BY user_id, useg)
        |SELECT a.user_id, a.event_id AS a_eid,
        |       p.value AS before_val, t.value AS top_val, r.n_up
        |FROM runs r
        |JOIN segs a ON a.user_id = r.user_id AND a.rn = r.rstart - 1
        |JOIN segs t ON t.user_id = r.user_id AND t.rn = r.rend
        |LEFT JOIN segs p ON p.user_id = r.user_id AND p.rn = a.rn - 1
        |ORDER BY a.user_id, a_eid""".stripMargin,

    // Aggregate-measure replay: per-island FINAL aggregates, exact
    // decimal sums emitted as double (QHelpers determinism rule).
    "mr_funnel_agg" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, ts, value, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, COUNT(*) AS n_clicks,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_val,
        |    MIN(value) AS min_val, MAX(value) AS max_val
        |  FROM clicks GROUP BY user_id, grp)
        |SELECT i.user_id, v.ts AS start_ts, i.n_clicks, i.sum_val,
        |  i.avg_val, i.min_val, i.max_val
        |FROM islands i
        |JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |WHERE v.event_type = 'view'
        |ORDER BY i.user_id, start_ts""".stripMargin,

    // RUNNING-aggregate replay: running window SUM/MAX over each
    // island's click rows (the A row sees no B row yet → NULL).
    "mr_funnel_runsum" ->
      """WITH e AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(rn) AS last_rn
        |  FROM clicks GROUP BY user_id, grp),
        |matches AS (
        |  SELECT i.user_id, i.first_rn, i.last_rn,
        |    ROW_NUMBER() OVER (PARTITION BY i.user_id ORDER BY i.first_rn) AS mn
        |  FROM islands i
        |  JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |  WHERE v.event_type = 'view')
        |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |  CASE WHEN e.rn = m.first_rn - 1 THEN 'A' ELSE 'B' END AS cls,
        |  CAST(SUM(CASE WHEN e.rn >= m.first_rn
        |        THEN CAST(e.value AS DECIMAL(18,4)) END)
        |    OVER (PARTITION BY e.user_id, m.mn ORDER BY e.rn) AS DOUBLE) AS run_sum,
        |  MAX(CASE WHEN e.rn >= m.first_rn THEN e.value END)
        |    OVER (PARTITION BY e.user_id, m.mn ORDER BY e.rn) AS run_max,
        |  m.mn
        |FROM matches m
        |JOIN e ON e.user_id = m.user_id
        |  AND e.rn BETWEEN m.first_rn - 1 AND m.last_rn
        |ORDER BY e.user_id, e.ts, e.event_id""".stripMargin,

    // Exclusion replay: only the view row of each match is emitted,
    // carrying the island's FINAL aggregates.
    "mr_funnel_excl" ->
      """WITH e AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, value, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, COUNT(*) AS n_clicks,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |  FROM clicks GROUP BY user_id, grp)
        |SELECT v.event_id, v.ts, v.user_id, v.event_type, v.value, v.props,
        |  'A' AS cls, i.n_clicks, i.sum_val
        |FROM islands i
        |JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |WHERE v.event_type = 'view'
        |ORDER BY v.user_id, v.ts, v.event_id""".stripMargin,

    // SUBSET replay: U = view row ∪ click island, so FIRST(U.ts) is the
    // view's ts, LAST(U.ts) the island's last ts, COUNT/MIN fold the
    // view row into the island aggregate.
    "mr_funnel_subset" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, ts, value, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(ts) AS u_end,
        |    COUNT(*) AS n_clicks, MIN(value) AS min_click
        |  FROM clicks GROUP BY user_id, grp)
        |SELECT i.user_id, v.ts AS u_start, i.u_end,
        |  i.n_clicks + 1 AS u_n, LEAST(i.min_click, v.value) AS u_min
        |FROM islands i
        |JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |WHERE v.event_type = 'view'
        |ORDER BY i.user_id, u_start""".stripMargin,

    // Unmatched-rows replay: LEFT JOIN of every event row to its
    // (at most one) matched island span; non-joined rows keep NULLs.
    "mr_funnel_unmatched" ->
      """WITH e AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(rn) AS last_rn
        |  FROM clicks GROUP BY user_id, grp),
        |matches AS (
        |  SELECT i.user_id, i.first_rn, i.last_rn,
        |    ROW_NUMBER() OVER (PARTITION BY i.user_id ORDER BY i.first_rn) AS mn
        |  FROM islands i
        |  JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |  WHERE v.event_type = 'view')
        |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |  CASE WHEN m.user_id IS NOT NULL
        |       THEN (CASE WHEN e.rn = m.first_rn - 1 THEN 'A' ELSE 'B' END)
        |       END AS cls,
        |  m.mn
        |FROM e
        |LEFT JOIN matches m ON e.user_id = m.user_id
        |  AND e.rn BETWEEN m.first_rn - 1 AND m.last_rn
        |ORDER BY e.user_id, e.ts, e.event_id""".stripMargin,

    // FINAL-in-ALL replay: island-level aggregates joined to each
    // matched row (constant per match).
    "mr_funnel_rows_final" ->
      """WITH e AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, ts, value, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(rn) AS last_rn,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS tot_sum,
        |    COUNT(*) AS tot_b, MAX(ts) AS end_ts
        |  FROM clicks GROUP BY user_id, grp),
        |matches AS (
        |  SELECT i.*
        |  FROM islands i
        |  JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |  WHERE v.event_type = 'view')
        |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |  CASE WHEN e.rn = m.first_rn - 1 THEN 'A' ELSE 'B' END AS cls,
        |  m.tot_sum, m.tot_b, m.end_ts
        |FROM matches m
        |JOIN e ON e.user_id = m.user_id
        |  AND e.rn BETWEEN m.first_rn - 1 AND m.last_rn
        |ORDER BY e.user_id, e.ts, e.event_id""".stripMargin,

    // ALL-mode replay: each matched island row (plus its preceding view
    // row) with its classifier, running row position, and per-user
    // match number (islands ordered by start position).
    "mr_funnel_rows" ->
      """WITH e AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, rn,
        |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM e WHERE event_type = 'click'),
        |islands AS (
        |  SELECT user_id, MIN(rn) AS first_rn, MAX(rn) AS last_rn
        |  FROM clicks GROUP BY user_id, grp),
        |matches AS (
        |  SELECT i.user_id, i.first_rn, i.last_rn,
        |    ROW_NUMBER() OVER (PARTITION BY i.user_id ORDER BY i.first_rn) AS mn
        |  FROM islands i
        |  JOIN e v ON v.user_id = i.user_id AND v.rn = i.first_rn - 1
        |  WHERE v.event_type = 'view')
        |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
        |  CASE WHEN e.rn = m.first_rn - 1 THEN 'A' ELSE 'B' END AS cls,
        |  e.rn - m.first_rn + 2 AS run_n, m.mn
        |FROM matches m
        |JOIN e ON e.user_id = m.user_id
        |  AND e.rn BETWEEN m.first_rn - 1 AND m.last_rn
        |ORDER BY e.user_id, e.ts, e.event_id""".stripMargin,

    "time_funnel" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (
        |  SELECT e.user_id, MIN(e.ts) AS first_click
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(e.ts) > epoch_us(fv.first_view)
        |    AND epoch_us(e.ts) <= epoch_us(fv.first_view) + CAST(3600 AS BIGINT) * 1000000
        |  GROUP BY e.user_id),
        |fp AS (
        |  SELECT DISTINCT e.user_id
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) > epoch_us(fc.first_click)
        |    AND epoch_us(e.ts) <= epoch_us(fc.first_click) + CAST(3600 AS BIGINT) * 1000000)
        |SELECT stage, n_users FROM (
        |  SELECT '1_viewed' AS stage, COUNT(*) AS n_users FROM fv
        |  UNION ALL SELECT '2_clicked', COUNT(*) FROM fc
        |  UNION ALL SELECT '3_purchased', COUNT(*) FROM fp)
        |ORDER BY stage""".stripMargin,

    "time_retention" ->
      """WITH first AS (
        |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id)
        |SELECT date_trunc('hour', f.first_ts) AS cohort_hour,
        |  (epoch_us(date_trunc('hour', e.ts)) - epoch_us(date_trunc('hour', f.first_ts)))
        |    // (CAST(3600 AS BIGINT) * 1000000) AS offset_h,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN first f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "time_asof_join" ->
      """SELECT t.user_id, t.event_id, t.ts, t.value,
        |       q.ts AS q_ts, q.value AS q_value
        |FROM (SELECT user_id, event_id, ts, value FROM events
        |      WHERE event_type = 'purchase') t
        |ASOF LEFT JOIN (SELECT user_id, event_id, ts, value FROM events
        |      WHERE event_type = 'view') q
        |  ON t.user_id = q.user_id AND t.ts >= q.ts
        |ORDER BY t.event_id""".stripMargin,

    "time_ohlc" ->
      """WITH v AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, value,
        |    first_value(value) OVER w AS o, last_value(value) OVER w AS c
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
        |               ORDER BY ts ASC, event_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hr, MAX(o) AS open, MAX(value) AS high,
        |       MIN(value) AS low, MAX(c) AS close, COUNT(*) AS n
        |FROM v GROUP BY event_type, hr
        |ORDER BY event_type, hr""".stripMargin,

    "time_zscore_hourly" -> zscoreSql
  )
}
