package graft.queries

import org.apache.spark.sql.functions._

import QHelpers._

/** SURVEY.md §2b rows 45–53: scalar function surface (string / regexp /
  * datetime / math / conditional / cast / array / map / json).
  *
  * Cross-engine gotchas handled here (verified against DuckDB locally):
  *  - DuckDB `regexp_replace` is first-match unless the 'g' flag is given;
  *    Spark replaces all — oracle SQL always passes 'g'.
  *  - DuckDB `ceil/floor(double)` return DOUBLE, Spark return LONG — both
  *    sides cast to BIGINT explicitly.
  *  - DuckDB `CAST(double AS INT)` rounds, Spark truncates — never cast
  *    double→int directly; go through floor().
  *  - DuckDB EXTRACT/year/len return BIGINT, Spark INT — cast explicitly.
  *  - transcendentals (ln/exp/pow) may differ in the last ulp between
  *    libms — rounded to 6 decimals on both sides.
  */
object Funcs {

  val defs: Map[String, Q] = Map(
    // 45. string functions.
    "fn_string" -> ((s, d) =>
      t(s, d, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("up_name"),
          lower(col("c_mktsegment")).as("lo_seg"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 10, 5).as("name_mid"),
          trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("trimmed"),
          regexp_replace(col("c_name"), lit("Customer"), lit("C")).as("replaced"),
          concat(col("c_name"), lit("-"), col("c_mktsegment")).as("joined"),
          instr(col("c_name"), "5").as("pos5"),
          reverse(col("c_mktsegment")).as("rev_seg"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"))
        .orderBy(col("c_custkey"))),

    // 46. regexp family.
    "fn_regexp" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_name").rlike("00+[1-4]$"))
        .select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "#(\\d+)", 1).as("digits"),
          regexp_replace(col("c_name"), "\\d", "#").as("masked"))
        .orderBy(col("c_custkey"))),

    // 47. datetime functions on o_orderdate (timestamp).
    "fn_datetime" -> ((s, d) =>
      t(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          date_add(col("o_orderdate").cast("date"), 30).cast("timestamp").as("plus30"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .as("days_to_2002"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("next_day"))
        .orderBy(col("o_orderkey"))),

    // 47b. TIME type (Trino time-of-day; Spark 4.1 TimeType behind
    // spark.sql.timeType.enabled — set by every graft session).
    // Time values flow end-to-end: construction (make_time), field
    // extraction, comparison, string rendering, and the TIME column
    // itself written to parquet and hash-compared against DuckDB's
    // native TIME.
    "fn_time" -> ((s, d) =>
      t(s, d, "events").select(
          col("event_id"),
          expr("make_time(hour(ts), minute(ts), second(ts))").as("t"),
          expr("CAST(make_time(hour(ts), minute(ts), second(ts)) AS STRING)").as("t_str"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("m"),
          second(col("ts")).as("sec"),
          expr("make_time(hour(ts), minute(ts), second(ts)) < TIME'12:00:00'")
            .as("before_noon"))
        .orderBy(col("event_id"))),

    // 48. math functions.
    "fn_math" -> ((s, d) =>
      t(s, d, "part").select(
          col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("abs_diff"),
          round(col("p_retailprice") / 7.0, 2).as("div7"),
          ceil(col("p_retailprice")).as("ceiled"),
          floor(col("p_retailprice")).as("floored"),
          sqrt(col("p_retailprice")).as("rooted"),
          pow(col("p_size").cast("double"), 2.0).as("size_sq"),
          (col("p_size") % 7).as("mod7"),
          round(log(col("p_retailprice")), 6).as("ln_price"),
          round(exp(col("p_size").cast("double") / 100.0), 6).as("exp_size"),
          signum(col("p_retailprice") - 1000.0).cast("int").as("sgn"))
        .orderBy(col("p_partkey"))),

    // 49. conditional expressions.
    "fn_conditional" -> ((s, d) =>
      t(s, d, "orders").select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000.0, "big")
            .when(col("o_totalprice") > 100000.0, "mid")
            .otherwise("small").as("bucket"),
          when(col("o_orderstatus") === "O", "open")
            .when(col("o_orderstatus") === "F", "finished")
            .otherwise("other").as("status_word"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("none")).as("coal"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
          expr("try_cast(o_orderpriority AS DOUBLE)").as("prio_as_num"))
        .orderBy(col("o_orderkey"))),

    // 50. CAST lattice (int↔bigint↔double↔decimal↔varchar↔date/timestamp).
    "fn_cast_types" -> ((s, d) =>
      t(s, d, "customer").select(
          col("c_custkey"),
          col("c_custkey").cast("int").as("as_int"),
          col("c_nationkey").cast("bigint").as("as_big"),
          col("c_nationkey").cast("double").as("as_dbl"),
          // The decimal round-trip is exercised in full (cast in, cast out);
          // the final column is DOUBLE because the driver's checker compares
          // DECIMAL columns inconsistently across its two parquet readers.
          // `dec_str` below keeps the exact 2-dp rendering as the precision pin.
          col("c_acctbal").cast("decimal(12,2)").cast("double").as("as_dec"),
          col("c_acctbal").cast("decimal(12,2)").cast("string").as("dec_str"),
          floor(col("c_acctbal")).cast("int").as("bal_floor"),
          regexp_extract(col("c_name"), "(\\d+)", 1).cast("bigint").as("name_num"),
          // Routed through a data-derived `when` so the columns are nullable,
          // matching the oracle side's parquet nullability (pure literals
          // would be written required/not-null and hash-diverge).
          // DATE→TIMESTAMP on output: bare DATE reads back as datetime.date
          // on one side of the checker and Timestamp on the other.
          when(col("c_custkey").isNotNull,
            lit("2024-03-15").cast("date").cast("timestamp")).as("lit_date"),
          when(col("c_custkey").isNotNull,
            lit("2024-03-15").cast("date").cast("timestamp")).as("lit_ts"))
        .orderBy(col("c_custkey"))),

    // 51. array functions over tokenized text.
    "fn_array" -> ((s, d) => {
      val toks = split(col("text"), " ")
      t(s, d, "documents").select(
          col("doc_id"),
          size(toks).as("n_toks"),
          element_at(toks, 1).as("first_tok"),
          array_contains(toks, "spark").as("has_spark"),
          concat_ws(" ", slice(toks, 1, 3)).as("first3"),
          concat_ws(",", sort_array(array(element_at(toks, 1),
            element_at(toks, 2), element_at(toks, 3)))).as("sorted3"),
          array_join(slice(toks, 2, 2), "|").as("mid2"))
        .orderBy(col("doc_id"))
    }),

    // 51b. UNNEST / explode (Generator path) — token frequencies.
    "fn_unnest" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("tok"))),

    // Trino's relational UNNEST syntax through the dialect rewrite
    // (TrinoFunctions.rewriteUnnest → LATERAL VIEW): per-row array
    // expansion with 1-based WITH ORDINALITY. DuckDB replays it with
    // its own generate_series unnest.
    "unnest_lateral" -> ((s, d) =>
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT n_nationkey, x, ord
          |FROM nation
          |CROSS JOIN UNNEST(sequence(0, n_nationkey % 3))
          |  WITH ORDINALITY AS t(x, ord)
          |ORDER BY n_nationkey, x""".stripMargin))),

    // Trino's lambda regexp_replace through the dialect path
    // (RegExpReplaceLambda HigherOrderFunction): per-match lambdas whose
    // effect DuckDB can replay with backreference templates — proving
    // the match iteration, group capture, and non-match segment
    // interleaving against an independent engine (the upper()/arith
    // lambda bodies DuckDB cannot express are unit-pinned instead).
    "fn_regexp_lambda" -> ((s, d) => {
      // the lambda form lives in the dialect FUNCTION registry (unlike
      // unnest_lateral's pure text rewrite) — a no-op on graft's own
      // sessions, which are built served
      graft.Sessions.serve(s)
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT c_custkey,
          |  regexp_replace(c_name, '(\d+)',
          |    x -> '<' || element_at(x, 1) || '>') AS tagged,
          |  regexp_replace(c_name, '[aeiou]', x -> '*') AS starred,
          |  regexp_replace(c_name, '(Customer)#(\d+)',
          |    x -> element_at(x, 2) || '-' || element_at(x, 1)) AS swapped
          |FROM customer
          |WHERE c_custkey <= 200
          |ORDER BY c_custkey""".stripMargin))
    }),

    // 52. map functions.
    "fn_map" -> ((s, d) => {
      val m = map_from_arrays(
        array(lit("seg"), lit("name")),
        array(col("c_mktsegment"), col("c_name")))
      t(s, d, "customer").select(
          col("c_custkey"),
          concat_ws(",", map_keys(m)).as("mkeys"),
          element_at(m, "seg").as("seg_val"),
          size(m).as("m_size"))
        .orderBy(col("c_custkey"))
    }),

    // SQL/JSON json_query wrapper/quote clauses and json_value ON
    // EMPTY / ON ERROR behaviors through the dialect rewrites
    // (rewriteJsonQueryClauses → JsonFuncs.jsonQueryMode,
    // rewriteJsonValueOnClauses → JsonFuncs.jsonValueMode): DuckDB
    // replays the wrapper shapes with string assembly over
    // json_extract, the quote behaviors with/without the raw text, and
    // the ON-clause outcomes as the constants they deterministically
    // produce on this data (props is always {"k": int}).
    "fn_json_clauses" -> ((s, d) => {
      graft.Sessions.serve(s)
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT event_id,
          |  json_query(props, '$.k' WITH ARRAY WRAPPER) AS k_wrapped,
          |  json_query(props, '$.k' WITH CONDITIONAL ARRAY WRAPPER) AS k_cond,
          |  json_query(props, '$' WITH CONDITIONAL ARRAY WRAPPER) AS obj_cond,
          |  json_query('{"s": "' || event_type || '"}', '$.s' KEEP QUOTES) AS s_keep,
          |  json_query('{"s": "' || event_type || '"}', '$.s' OMIT QUOTES) AS s_omit,
          |  json_value(props, '$.k' DEFAULT 'dflt' ON EMPTY) AS v_present,
          |  json_value(props, '$.missing' DEFAULT 'absent' ON EMPTY) AS v_empty_def,
          |  json_value('{oops', '$.k' DEFAULT 'bad' ON ERROR) AS v_err_def,
          |  json_value(props, '$' DEFAULT 'scalar-only' ON ERROR) AS v_nonscalar,
          |  json_value(props, '$.k' RETURNING bigint DEFAULT 0 ON EMPTY) + 1 AS v_typed,
          |  json_query(props, '$.missing' EMPTY ARRAY ON EMPTY) AS q_empty_arr,
          |  json_query(props, '$.missing' WITH ARRAY WRAPPER EMPTY OBJECT ON EMPTY) AS q_empty_obj,
          |  json_exists('{oops', '$.k' TRUE ON ERROR) AS e_err_true,
          |  json_object(KEY 'a' VALUE event_id, 'b' VALUE event_type) AS ctor_obj,
          |  json_array(event_id, event_type, json_object('t' : 1)) AS ctor_arr,
          |  json_object(event_type VALUE event_id, upper(event_type) : event_id + 1) AS ctor_dyn
          |FROM events
          |ORDER BY event_id""".stripMargin))
    }),

    // JSON_TABLE (SQL:2016) through the dialect rewrite onto chained
    // laterals: a correlated row source built from event columns, with
    // ordinality + a typed value column. DuckDB has no JSON_TABLE —
    // the twin replays the two-items-per-row expansion as a UNION ALL.
    "fn_json_table" -> ((s, d) => {
      graft.Sessions.serve(s)
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT event_id, jt.ord, jt.v
          |FROM events, JSON_TABLE(
          |  '[' || CAST(user_id AS VARCHAR) || ',' || CAST(event_id AS VARCHAR) || ']',
          |  'lax $[*]'
          |  COLUMNS(ord FOR ORDINALITY, v bigint PATH '$')) jt
          |ORDER BY event_id, ord""".stripMargin))
    }),

    // JSON_TABLE NESTED PATH under the SQL:2016 default plan (OUTER
    // between parent and child, UNION between siblings): branch xs is
    // conditionally empty, branch ts conditionally present, so the
    // result exercises sibling UNION, the OUTER all-NULL row, and the
    // per-branch NULL masking. The DuckDB twin replays each branch as
    // a guarded UNION ALL arm plus the both-empty outer arm.
    "fn_json_table_nested" -> ((s, d) => {
      graft.Sessions.serve(s)
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT event_id, jt.o, jt.v, jt.t
          |FROM events, JSON_TABLE(
          |  '{"xs": ' ||
          |    CASE WHEN event_id % 5 = 0 THEN '[]'
          |         ELSE '[' || CAST(user_id AS VARCHAR) || ',' ||
          |              CAST(event_id % 7 AS VARCHAR) || ']' END ||
          |  ', "ts": ' ||
          |    CASE WHEN event_id % 3 = 0 THEN '["a"]' ELSE '[]' END || '}',
          |  'lax $' COLUMNS(
          |    NESTED PATH '$.xs[*]' COLUMNS(
          |      o FOR ORDINALITY, v bigint PATH '$'),
          |    NESTED PATH '$.ts[*]' COLUMNS(t varchar PATH '$'))) jt
          |ORDER BY event_id, o NULLS FIRST, v NULLS FIRST, t NULLS FIRST"""
          .stripMargin))
    }),

    // spooky_hash_v2 + bar(): no DuckDB twin exists, so the oracle pins
    // the published Trino vectors ('', 'hello') and bar's deterministic
    // rendered lengths as constants — still an end-to-end gate through
    // preprocess → registry → codegen → parquet.
    "fn_spooky_bar" -> ((s, d) => {
      graft.Sessions.serve(s)
      graft.engine.Tables.sql(s, d, graft.dialect.TrinoFunctions.preprocess(
        """SELECT to_hex(spooky_hash_v2_64(to_utf8('hello'))) AS h64,
          |  to_hex(spooky_hash_v2_32(to_utf8('hello'))) AS h32,
          |  to_hex(spooky_hash_v2_64(to_utf8(''))) AS h64_empty,
          |  CAST(length(bar(0.5, 2)) AS INT) AS bar_half_len,
          |  CAST(length(bar(0.0, 3)) AS INT) AS bar_zero_len""".stripMargin))
    }),

    // 53. json functions on events.props.
    "fn_json" -> ((s, d) =>
      t(s, d, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_num"),
          json_array_length(
            concat(lit("[1,2,"), get_json_object(col("props"), "$.k"), lit("]")))
            .as("arr_len"))
        .orderBy(col("event_id")))
  )

  val oracles: Map[String, String] = Map(
    "fn_string" ->
      """SELECT c_custkey,
        |  upper(c_name) AS up_name,
        |  lower(c_mktsegment) AS lo_seg,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  substr(c_name, 10, 5) AS name_mid,
        |  trim('  ' || c_mktsegment || '  ') AS trimmed,
        |  replace(c_name, 'Customer', 'C') AS replaced,
        |  c_name || '-' || c_mktsegment AS joined,
        |  CAST(strpos(c_name, '5') AS INT) AS pos5,
        |  reverse(c_mktsegment) AS rev_seg,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_regexp" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '#(\d+)', 1) AS digits,
        |  regexp_replace(c_name, '\d', '#', 'g') AS masked
        |FROM customer
        |WHERE regexp_matches(c_name, '00+[1-4]$')
        |ORDER BY c_custkey""".stripMargin,

    "fn_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
        |    AS days_to_2002,
        |  o_orderdate + INTERVAL 1 DAY AS next_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_time" ->
      """SELECT event_id,
        |  make_time(CAST(hour(ts) AS BIGINT), CAST(minute(ts) AS BIGINT),
        |            CAST(floor(second(ts)) AS DOUBLE)) AS t,
        |  CAST(make_time(CAST(hour(ts) AS BIGINT), CAST(minute(ts) AS BIGINT),
        |            CAST(floor(second(ts)) AS DOUBLE)) AS VARCHAR) AS t_str,
        |  CAST(hour(ts) AS INT) AS h,
        |  CAST(minute(ts) AS INT) AS m,
        |  CAST(floor(second(ts)) AS INT) AS sec,
        |  make_time(CAST(hour(ts) AS BIGINT), CAST(minute(ts) AS BIGINT),
        |            CAST(floor(second(ts)) AS DOUBLE)) < TIME '12:00:00'
        |    AS before_noon
        |FROM events ORDER BY event_id""".stripMargin,

    "fn_math" ->
      """SELECT p_partkey,
        |  abs(p_retailprice - 1000.0) AS abs_diff,
        |  round(p_retailprice / 7.0, 2) AS div7,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ceiled,
        |  CAST(floor(p_retailprice) AS BIGINT) AS floored,
        |  sqrt(p_retailprice) AS rooted,
        |  pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        |  p_size % 7 AS mod7,
        |  round(ln(p_retailprice), 6) AS ln_price,
        |  round(exp(CAST(p_size AS DOUBLE) / 100.0), 6) AS exp_size,
        |  CAST(sign(p_retailprice - 1000.0) AS INT) AS sgn
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000.0 THEN 'big'
        |       WHEN o_totalprice > 100000.0 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  CASE o_orderstatus WHEN 'O' THEN 'open'
        |                     WHEN 'F' THEN 'finished'
        |                     ELSE 'other' END AS status_word,
        |  coalesce(nullif(o_orderstatus, 'O'), 'none') AS coal,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
        |  TRY_CAST(o_orderpriority AS DOUBLE) AS prio_as_num
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_cast_types" ->
      """SELECT c_custkey,
        |  CAST(c_custkey AS INT) AS as_int,
        |  CAST(c_nationkey AS BIGINT) AS as_big,
        |  CAST(c_nationkey AS DOUBLE) AS as_dbl,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS as_dec,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS dec_str,
        |  CAST(floor(c_acctbal) AS INT) AS bal_floor,
        |  CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) AS name_num,
        |  CAST(CAST('2024-03-15' AS DATE) AS TIMESTAMP) AS lit_date,
        |  CAST(CAST('2024-03-15' AS DATE) AS TIMESTAMP) AS lit_ts
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_array" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_toks,
        |  toks[1] AS first_tok,
        |  list_contains(toks, 'spark') AS has_spark,
        |  array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
        |  array_to_string(list_sort([toks[1], toks[2], toks[3]]), ',') AS sorted3,
        |  array_to_string(list_slice(toks, 2, 3), '|') AS mid2
        |FROM tok ORDER BY doc_id""".stripMargin,

    "fn_unnest" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY tok""".stripMargin,

    // DuckDB: generate_series is inclusive like Spark's sequence;
    // ordinality via generate_subscripts-equivalent arithmetic (x - 0 + 1)
    "unnest_lateral" ->
      """SELECT n_nationkey,
        |  unnest(generate_series(0, n_nationkey % 3)) AS x,
        |  unnest(generate_series(0, n_nationkey % 3)) + 1 AS ord
        |FROM nation
        |ORDER BY n_nationkey, x""".stripMargin,

    "fn_regexp_lambda" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '(\d+)', '<\1>', 'g') AS tagged,
        |  regexp_replace(c_name, '[aeiou]', '*', 'g') AS starred,
        |  regexp_replace(c_name, '(Customer)#(\d+)', '\2-\1', 'g') AS swapped
        |FROM customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin,

    "fn_map" ->
      """SELECT c_custkey,
        |  array_to_string(map_keys(MAP(['seg','name'], [c_mktsegment, c_name])), ',') AS mkeys,
        |  MAP(['seg','name'], [c_mktsegment, c_name])['seg'][1] AS seg_val,
        |  CAST(cardinality(MAP(['seg','name'], [c_mktsegment, c_name])) AS INT) AS m_size
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "fn_json_clauses" ->
      """SELECT event_id,
        |  '[' || CAST(json_extract(props, '$.k') AS VARCHAR) || ']' AS k_wrapped,
        |  '[' || CAST(json_extract(props, '$.k') AS VARCHAR) || ']' AS k_cond,
        |  CAST(json_extract(props, '$') AS VARCHAR) AS obj_cond,
        |  '"' || event_type || '"' AS s_keep,
        |  event_type AS s_omit,
        |  json_extract_string(props, '$.k') AS v_present,
        |  'absent' AS v_empty_def,
        |  'bad' AS v_err_def,
        |  'scalar-only' AS v_nonscalar,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS v_typed,
        |  '[]' AS q_empty_arr,
        |  '{}' AS q_empty_obj,
        |  TRUE AS e_err_true,
        |  CAST(json_object('a', event_id, 'b', event_type) AS VARCHAR) AS ctor_obj,
        |  CAST(json_array(event_id, event_type, json_object('t', 1)) AS VARCHAR) AS ctor_arr,
        |  CAST(json_object(event_type, event_id, upper(event_type), event_id + 1) AS VARCHAR)
        |    AS ctor_dyn
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "fn_json_table" ->
      """SELECT event_id, ord, v FROM (
        |  SELECT event_id, CAST(1 AS INT) AS ord, user_id AS v FROM events
        |  UNION ALL
        |  SELECT event_id, CAST(2 AS INT) AS ord, event_id AS v FROM events
        |) t ORDER BY event_id, ord""".stripMargin,

    "fn_json_table_nested" ->
      """SELECT event_id, o, v, t FROM (
        |  SELECT event_id, CAST(1 AS INT) AS o, CAST(user_id AS BIGINT) AS v,
        |         CAST(NULL AS VARCHAR) AS t
        |  FROM events WHERE event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_id, CAST(2 AS INT), CAST(event_id % 7 AS BIGINT),
        |         CAST(NULL AS VARCHAR)
        |  FROM events WHERE event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_id, CAST(NULL AS INT), CAST(NULL AS BIGINT), 'a'
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT event_id, CAST(NULL AS INT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS VARCHAR)
        |  FROM events WHERE event_id % 5 = 0 AND event_id % 3 <> 0
        |) u ORDER BY event_id, o NULLS FIRST, v NULLS FIRST, t NULLS FIRST"""
        .stripMargin,

    "fn_spooky_bar" ->
      """SELECT '3768826AD382E6CA' AS h64,
        |  'D382E6CA' AS h32,
        |  '232706FC6BF50919' AS h64_empty,
        |  CAST(17 AS INT) AS bar_half_len,
        |  CAST(7 AS INT) AS bar_zero_len""".stripMargin,

    "fn_json" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
        |  CAST(json_array_length('[1,2,' || json_extract_string(props, '$.k') || ']') AS INT)
        |    AS arr_len
        |FROM events ORDER BY event_id""".stripMargin
  )
}
