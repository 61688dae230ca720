package graft.dialect

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StringType, TimestampType}

import graft.functions.ThetaExprs.SetDigestTheta

/** Trino SQL dialect shims (SURVEY.md §4 custom piece 1): function
  * names and argument orders the reference's promised surface uses that
  * Spark spells differently. Registered per-session in the engine's
  * FunctionRegistry as thin adapters over existing Catalyst
  * expressions — no custom evaluation, no Rule, full codegen.
  *
  * | Trino                      | Spark mapping                     |
  * |----------------------------|-----------------------------------|
  * | approx_distinct(x[,e])     | HyperLogLogPlusPlus               |
  * | strpos(s, sub)             | instr (1-based, 0 when absent)    |
  * | date_diff('u', a, b)       | timestampdiff(u, a, b)            |
  * | date_add('u', n, ts)       | timestampadd(u, n, ts)            |
  * | json_extract_scalar(j, p)  | get_json_object                   |
  * | json_array_length exists; cardinality/element_at/chr exist       |
  * | contains(arr, x)           | array_contains (Trino's contains  |
  * |                            | is array-only; string search is   |
  * |                            | strpos in Trino)                  |
  * | try(x)                     | TryEval (null on runtime error)   |
  * | codepoint(s)               | ascii                             |
  * | to_unixtime(ts)            | fractional unix seconds as DOUBLE |
  * |                            | (unix_micros / 1e6)               |
  * | from_unixtime(d)           | timestamp from epoch seconds      |
  * |                            | (Spark's own returns a STRING)    |
  * | any_match/all_match/       | exists / forall / NOT exists      |
  * |   none_match(arr, x -> …)  |                                   |
  * | format_datetime(ts, fmt)   | date_format (Joda ≈ JVM tokens)   |
  * | date_format(ts, '%Y…')     | MySQL %-tokens translated to JVM  |
  * |                            | pattern; letter patterns pass     |
  * |                            | through unchanged                 |
  *
  * Already name- and semantics-compatible in Spark (no shim, see
  * DIALECT.md): regexp_count, arrays_overlap, array_max,
  * array_min, element_at (incl. negative indexing), slice, filter,
  * transform, reduce. (split_part needs the NULL-past-last-field
  * gate below — Spark's builtin returns '' there.)
  */
object TrinoFunctions {

  private def lit(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case _ => throw new IllegalArgumentException(s"$what must be a literal string")
  }

  /** Trino unit names → Spark timestampadd/diff units. */
  private def unit(e: Expression): String = lit(e, "unit").toUpperCase

  /** Negate a predicate inside its lambda (for the no_*_match family). */
  private def notLambda(f: Expression): Expression = f match {
    case LambdaFunction(fn, args, hidden) => LambdaFunction(Not(fn), args, hidden)
    case other => Not(other)
  }

  private def urlPart(part: String, name: String): Seq[Expression] => Expression = {
    case Seq(u) => ParseUrl(Seq(u, Literal(part)))
    case args => throw new IllegalArgumentException(
      s"$name expects 1 arg, got ${args.length}")
  }

  /** Registry names that exist only as carriers for preprocess
    * rewrites — not user-callable Trino spellings; SHOW FUNCTIONS
    * (FunctionCatalog) deliberately omits them. */
  val internalNames: Set[String] =
    Set("graft_json_obj", "graft_json_arr", "graft_json_obj_dyn",
      "graft_json_items")

  /** User-facing functions served ENTIRELY by a preprocess rewrite —
    * their grammar (KEY … VALUE members, trailing behavior clauses)
    * never reaches the expression registry, but SHOW FUNCTIONS must
    * still list them. */
  val rewriteOnlyNames: Set[String] = Set("json_object", "json_array")

  val shims: Map[String, Seq[Expression] => Expression] = Map(
    "approx_distinct" -> {
      // Trino's documented default max standard error is 2.3% — Spark's
      // HLL++ default is 5%, noticeably coarser than the dialect emulated
      case Seq(x) => new HyperLogLogPlusPlus(x, 0.0230)
      case Seq(x, sd) =>
        new HyperLogLogPlusPlus(x, lit(sd, "max standard error").toDouble)
      case args => throw new IllegalArgumentException(
        s"approx_distinct expects 1-2 args, got ${args.length}")
    },
    "strpos" -> {
      case Seq(s, sub) => StringInstr(s, sub)
      case args => throw new IllegalArgumentException(
        s"strpos expects 2 args, got ${args.length}")
    },
    // date_add('unit', n, ts) / date_diff('unit', a, b): Spark's parser
    // special-cases these names before the registry is consulted and
    // rejects quoted units — handled by preprocess() below, which
    // unquotes the unit so Spark's native timestampadd/diff path runs
    // (same direction semantics as Trino: diff = to - from).
    "json_extract_scalar" -> {
      case Seq(j, p) => GetJsonObject(j, p)
      case args => throw new IllegalArgumentException(
        s"json_extract_scalar expects 2 args, got ${args.length}")
    },
    // json_extract(j, p): the matched item AS JSON text (scalars and
    // containers alike) — same $-walk subset as json_query, without
    // the SQL/JSON lax/strict mode prefix
    "json_extract" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonQuery",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"json_extract expects (json, path), got ${args.length} args")
    },
    // luhn_check(s): mod-10 checksum validation of a digit string;
    // NULL input → NULL, non-digit content → false by default (kept
    // total for the guarded surface). Trino RAISES on non-digit input
    // — opt into that error parity with spark.graft.strictErrors=true
    // (read at resolution time, baked into the plan).
    "luhn_check" -> {
      case Seq(s) =>
        val strict =
          try org.apache.spark.sql.internal.SQLConf.get
            .getConfString("spark.graft.strictErrors", "false").toBoolean
          catch { case _: Exception => false }
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, org.apache.spark.sql.types.BooleanType,
          if (strict) "luhnCheckStrict" else "luhnCheck",
          Seq(Cast(s, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"luhn_check expects 1 arg, got ${args.length}")
    },
    "contains" -> {
      case Seq(arr, x) => ArrayContains(arr, x)
      case args => throw new IllegalArgumentException(
        s"contains expects 2 args, got ${args.length}")
    },
    "try" -> {
      case Seq(x) => TryEval(x)
      case args => throw new IllegalArgumentException(
        s"try expects 1 arg, got ${args.length}")
    },
    // Trino's array_agg KEEPS null elements; Spark's native alias
    // (collect_list) silently drops them. Wrap each value in a non-null
    // struct, collect, unwrap — null-exact (element order is
    // unspecified in both engines without ORDER BY; the ORDER BY form
    // is served by the rewriteArrayAggOrderBy pre-pass).
    "array_agg" -> {
      case Seq(x) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val lst = new org.apache.spark.sql.catalyst.expressions.aggregate
          .CollectList(
            CreateNamedStruct(Seq(Literal("v"), x))).toAggregateExpression()
        val s = UnresolvedNamedLambdaVariable(Seq("__aa"))
        val transformed = ArrayTransform(lst,
          LambdaFunction(UnresolvedExtractValue(s, Literal("v")), Seq(s)))
        // SQL aggregates over an EMPTY group return NULL (Trino does);
        // collect_list returns [] — gate it (the two identical
        // CollectList expressions dedup at physical aggregation)
        If(EqualTo(Size(lst), Literal(0)),
          Literal.create(null, org.apache.spark.sql.types.NullType),
          transformed)
      case args => throw new IllegalArgumentException(
        s"array_agg expects 1 arg, got ${args.length}")
    },
    // Trino's ROW(a, b, …) constructor → struct (fields become col1…
    // colN until a CAST to a named ROW type assigns names, the same
    // flow Trino users follow: CAST(ROW(…) AS ROW(x bigint, …)).x)
    "row" -> {
      case args if args.nonEmpty => CreateStruct(args)
      case _ => throw new IllegalArgumentException(
        "ROW constructor needs at least one field")
    },
    "codepoint" -> {
      case Seq(s) => Ascii(s)
      case args => throw new IllegalArgumentException(
        s"codepoint expects 1 arg, got ${args.length}")
    },
    "to_unixtime" -> {
      // Trino returns DOUBLE seconds WITH fractional precision — go
      // through unix_micros/1e6, not unix_timestamp (whole seconds only)
      case Seq(ts) => Divide(
        Cast(UnixMicros(Cast(ts, TimestampType)), DoubleType),
        Literal(1000000.0))
      case args => throw new IllegalArgumentException(
        s"to_unixtime expects 1 arg, got ${args.length}")
    },
    "from_unixtime" -> {
      // Trino returns TIMESTAMP; Spark's from_unixtime returns a string
      case Seq(d) => SecondsToTimestamp(d)
      case args => throw new IllegalArgumentException(
        s"from_unixtime expects 1 arg, got ${args.length}")
    },
    // Trino's lambda-predicate trio over arrays; Spark spells them
    // exists / forall / (negated exists). The parser hands the builder
    // the already-parsed LambdaFunction.
    "any_match" -> {
      case Seq(arr, f) => ArrayExists(arr, f)
      case args => throw new IllegalArgumentException(
        s"any_match expects (array, lambda), got ${args.length} args")
    },
    "all_match" -> {
      case Seq(arr, f) => ArrayForAll(arr, f)
      case args => throw new IllegalArgumentException(
        s"all_match expects (array, lambda), got ${args.length} args")
    },
    // none_match(arr, f) ≡ all_match(arr, !f): the negation must live
    // INSIDE the lambda — the analyzer only resolves lambdas whose
    // direct parent is the higher-order function, so Not(exists(...))
    // would fail resolution.
    "none_match" -> {
      case Seq(arr, LambdaFunction(fn, lamArgs, hidden)) =>
        ArrayForAll(arr, LambdaFunction(Not(fn), lamArgs, hidden))
      case args => throw new IllegalArgumentException(
        s"none_match expects (array, lambda), got ${args.length} args")
    },
    // Trino ISO day-of-week (Monday=1..Sunday=7). Spark's dayofweek is
    // Sunday=1; weekday is Monday=0 — ISO dow = weekday + 1.
    "day_of_week" -> {
      case Seq(x) => Add(WeekDay(x), Literal(1))
      case args => throw new IllegalArgumentException(
        s"day_of_week expects 1 arg, got ${args.length}")
    },
    "dow" -> {
      case Seq(x) => Add(WeekDay(x), Literal(1))
      case args => throw new IllegalArgumentException(
        s"dow expects 1 arg, got ${args.length}")
    },
    "day_of_year" -> {
      case Seq(x) => DayOfYear(x)
      case args => throw new IllegalArgumentException(
        s"day_of_year expects 1 arg, got ${args.length}")
    },
    "doy" -> {
      case Seq(x) => DayOfYear(x)
      case args => throw new IllegalArgumentException(
        s"doy expects 1 arg, got ${args.length}")
    },
    "week" -> {
      case Seq(x) => WeekOfYear(x)
      case args => throw new IllegalArgumentException(
        s"week expects 1 arg, got ${args.length}")
    },
    "week_of_year" -> {
      case Seq(x) => WeekOfYear(x)
      case args => throw new IllegalArgumentException(
        s"week_of_year expects 1 arg, got ${args.length}")
    },
    "year_of_week" -> {
      case Seq(x) => YearOfWeek(x)
      case args => throw new IllegalArgumentException(
        s"year_of_week expects 1 arg, got ${args.length}")
    },
    "yow" -> {
      case Seq(x) => YearOfWeek(x)
      case args => throw new IllegalArgumentException(
        s"yow expects 1 arg, got ${args.length}")
    },
    "last_day_of_month" -> {
      case Seq(x) => LastDay(x)
      case args => throw new IllegalArgumentException(
        s"last_day_of_month expects 1 arg, got ${args.length}")
    },
    "day_of_month" -> {
      case Seq(x) => DayOfMonth(x)
      case args => throw new IllegalArgumentException(
        s"day_of_month expects 1 arg, got ${args.length}")
    },
    // current_timezone() → the session zone (Spark's internal
    // CurrentTimeZone expression, constant-folded per query)
    "current_timezone" -> {
      case Seq() => CurrentTimeZone()
      case args => throw new IllegalArgumentException(
        s"current_timezone expects 0 args, got ${args.length}")
    },
    // to_milliseconds(interval day to second) → BIGINT ms. Normalize to
    // DAY-TO-SECOND first so the numeric cast's unit is always seconds
    // (Spark's interval→numeric cast counts the END field's unit),
    // then take seconds with micro fraction via DECIMAL(30,6).
    "to_milliseconds" -> {
      case Seq(i) => Cast(Multiply(
        Cast(Cast(i, DayTimeIntervalType(DayTimeIntervalType.DAY, DayTimeIntervalType.SECOND)),
          DecimalType(30, 6)),
        Literal(Decimal(1000), DecimalType(4, 0))), LongType)
      case args => throw new IllegalArgumentException(
        s"to_milliseconds expects 1 arg, got ${args.length}")
    },
    // parse_duration('3.5 m') → interval day to second. The format is a
    // decimal value + unit (ns|us|ms|s|m|h|d, optional space); parsed at
    // plan time into an interval literal — non-literal input rejected
    "parse_duration" -> {
      case Seq(Literal(v, _)) if v != null => parseDurationLiteral(v.toString)
      case Seq(_) => throw new IllegalArgumentException(
        "parse_duration requires a literal duration string")
      case args => throw new IllegalArgumentException(
        s"parse_duration expects 1 arg, got ${args.length}")
    },
    // arbitrary(x): Trino's pick-any aggregate → Spark any_value
    "arbitrary" -> {
      case Seq(x) => new org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue(x)
      case args => throw new IllegalArgumentException(
        s"arbitrary expects 1 arg, got ${args.length}")
    },
    // map_agg(k, v) → map built from the collected (k, v) pairs
    "map_agg" -> {
      case Seq(k, v) => MapFromEntries(
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(
          CreateStruct(Seq(k, v))).toAggregateExpression())
      case args => throw new IllegalArgumentException(
        s"map_agg expects 2 args, got ${args.length}")
    },
    // max/min: the 1-arg forms delegate to Spark's aggregates (the
    // override must pass through or every plain max(x) would break);
    // the 2-arg Trino forms max(x, n)/min(x, n) return the n
    // largest/smallest values as an array — x doubles as its own
    // ordering key in the shared top-n composition.
    "max" -> {
      case Seq(x) => new org.apache.spark.sql.catalyst.expressions.aggregate.Max(x)
      case Seq(x, n) => topNBy(x, x, n, largest = true)
      case args => throw new IllegalArgumentException(
        s"max expects 1-2 args, got ${args.length}")
    },
    "min" -> {
      case Seq(x) => new org.apache.spark.sql.catalyst.expressions.aggregate.Min(x)
      case Seq(x, n) => topNBy(x, x, n, largest = false)
      case args => throw new IllegalArgumentException(
        s"min expects 1-2 args, got ${args.length}")
    },
    // max_by/min_by: the 2-arg forms are Spark natives (pass through —
    // this override must delegate, or DataFrame-API max_by would break);
    // the 3-arg Trino top-n forms compose collect_list(struct(y, x)) →
    // null-y filter → array_sort (→ reverse for max) → slice → project,
    // giving the n x-values ordered by y. Deterministic up to ties in
    // (y, x) — same as Trino, which leaves tie order unspecified.
    "max_by" -> {
      case Seq(x, y) => new org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(x, y)
      case Seq(x, y, n) => topNBy(x, y, n, largest = true)
      case args => throw new IllegalArgumentException(
        s"max_by expects 2-3 args, got ${args.length}")
    },
    "min_by" -> {
      case Seq(x, y) => new org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(x, y)
      case Seq(x, y, n) => topNBy(x, y, n, largest = false)
      case args => throw new IllegalArgumentException(
        s"min_by expects 2-3 args, got ${args.length}")
    },
    // Trino bitwise_*_agg names → Spark bit_and/bit_or
    "bitwise_and_agg" -> {
      case Seq(x) => org.apache.spark.sql.catalyst.expressions.aggregate.BitAndAgg(x)
      case args => throw new IllegalArgumentException(
        s"bitwise_and_agg expects 1 arg, got ${args.length}")
    },
    "bitwise_or_agg" -> {
      case Seq(x) => org.apache.spark.sql.catalyst.expressions.aggregate.BitOrAgg(x)
      case args => throw new IllegalArgumentException(
        s"bitwise_or_agg expects 1 arg, got ${args.length}")
    },
    // geometric_mean(x) = exp(avg(ln(x)))
    "geometric_mean" -> {
      case Seq(x) => Exp(
        new org.apache.spark.sql.catalyst.expressions.aggregate.Average(
          Log(Cast(x, DoubleType))).toAggregateExpression())
      case args => throw new IllegalArgumentException(
        s"geometric_mean expects 1 arg, got ${args.length}")
    },
    "levenshtein_distance" -> {
      case Seq(a, b) => Levenshtein(a, b)
      case args => throw new IllegalArgumentException(
        s"levenshtein_distance expects 2 args, got ${args.length}")
    },
    // to_base/from_base ↔ conv (Spark emits uppercase digits; Trino
    // lowercase — wrapped in lower())
    "to_base" -> {
      case Seq(x, radix) => Lower(Conv(Cast(x, StringType), Literal(10), radix))
      case args => throw new IllegalArgumentException(
        s"to_base expects 2 args, got ${args.length}")
    },
    "from_base" -> {
      case Seq(s, radix) => Cast(Conv(s, radix, Literal(10)), LongType)
      case args => throw new IllegalArgumentException(
        s"from_base expects 2 args, got ${args.length}")
    },
    "infinity" -> {
      case Seq() => Literal(Double.PositiveInfinity)
      case args => throw new IllegalArgumentException(
        s"infinity expects 0 args, got ${args.length}")
    },
    "nan" -> {
      case Seq() => Literal(Double.NaN)
      case args => throw new IllegalArgumentException(
        s"nan expects 0 args, got ${args.length}")
    },
    "is_nan" -> {
      case Seq(x) => IsNaN(x)
      case args => throw new IllegalArgumentException(
        s"is_nan expects 1 arg, got ${args.length}")
    },
    // finite = neither NaN nor ±inf (Doubles.isFinite in Trino). Spark
    // orders NaN above +inf, so abs(x) < inf alone rejects NaN too —
    // the explicit IsNaN term documents intent at zero cost (codegen'd
    // boolean ops)
    "is_finite" -> {
      case Seq(x) =>
        val d = Cast(x, DoubleType)
        And(Not(IsNaN(d)), LessThan(Abs(d), Literal(Double.PositiveInfinity)))
      case args => throw new IllegalArgumentException(
        s"is_finite expects 1 arg, got ${args.length}")
    },
    "is_infinite" -> {
      case Seq(x) => EqualTo(Abs(Cast(x, DoubleType)), Literal(Double.PositiveInfinity))
      case args => throw new IllegalArgumentException(
        s"is_infinite expects 1 arg, got ${args.length}")
    },
    // Wilson score interval bounds (Trino's wilson_interval_lower/upper):
    // pure closed-form composition over sqrt — stays in codegen.
    //   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    "wilson_interval_lower" -> {
      case Seq(s, n, z) => wilsonBound(s, n, z, lower = true)
      case args => throw new IllegalArgumentException(
        s"wilson_interval_lower expects (successes, trials, z), got ${args.length} args")
    },
    "wilson_interval_upper" -> {
      case Seq(s, n, z) => wilsonBound(s, n, z, lower = false)
      case args => throw new IllegalArgumentException(
        s"wilson_interval_upper expects (successes, trials, z), got ${args.length} args")
    },
    // Gaussian / beta CDFs and inverses: StaticInvoke into StatFuncs
    // (which delegates to commons-math3, already on Spark's classpath) —
    // a codegen'd static call, no UDF. Out-of-domain args raise
    // IllegalArgumentException like Trino errors; null under try()
    "normal_cdf" -> statFn3("normalCdf", "normal_cdf"),
    "inverse_normal_cdf" -> statFn3("inverseNormalCdf", "inverse_normal_cdf"),
    "beta_cdf" -> statFn3("betaCdf", "beta_cdf"),
    "inverse_beta_cdf" -> statFn3("inverseBetaCdf", "inverse_beta_cdf"),
    // The rest of Trino's distribution CDF family — same StaticInvoke →
    // commons-math3 design. inverse_poisson_cdf returns INTEGER like
    // Trino (the Poisson quantile is a count)
    "binomial_cdf" -> statFnN("binomialCdf", "binomial_cdf", 3),
    "cauchy_cdf" -> statFnN("cauchyCdf", "cauchy_cdf", 3),
    "inverse_cauchy_cdf" -> statFnN("inverseCauchyCdf", "inverse_cauchy_cdf", 3),
    "chi_squared_cdf" -> statFnN("chiSquaredCdf", "chi_squared_cdf", 2),
    "inverse_chi_squared_cdf" -> statFnN("inverseChiSquaredCdf", "inverse_chi_squared_cdf", 2),
    "f_cdf" -> statFnN("fCdf", "f_cdf", 3),
    "inverse_f_cdf" -> statFnN("inverseFCdf", "inverse_f_cdf", 3),
    "gamma_cdf" -> statFnN("gammaCdf", "gamma_cdf", 3),
    "inverse_gamma_cdf" -> statFnN("inverseGammaCdf", "inverse_gamma_cdf", 3),
    "laplace_cdf" -> statFnN("laplaceCdf", "laplace_cdf", 3),
    "inverse_laplace_cdf" -> statFnN("inverseLaplaceCdf", "inverse_laplace_cdf", 3),
    "poisson_cdf" -> statFnN("poissonCdf", "poisson_cdf", 2),
    "inverse_poisson_cdf" -> statFnN("inversePoissonCdf", "inverse_poisson_cdf", 2,
      IntegerType),
    "weibull_cdf" -> statFnN("weibullCdf", "weibull_cdf", 3),
    "inverse_weibull_cdf" -> statFnN("inverseWeibullCdf", "inverse_weibull_cdf", 3),
    // Trino URL accessors → Spark parse_url parts (url_encode/url_decode
    // are name-identical Spark natives, no shim)
    "url_extract_protocol" -> urlPart("PROTOCOL", "url_extract_protocol"),
    "url_extract_host" -> urlPart("HOST", "url_extract_host"),
    "url_extract_path" -> urlPart("PATH", "url_extract_path"),
    "url_extract_query" -> urlPart("QUERY", "url_extract_query"),
    "url_extract_fragment" -> urlPart("REF", "url_extract_fragment"),
    // no PORT part in parse_url — take the :port suffix of AUTHORITY;
    // NullIf keeps the empty-match cast null-safe under ANSI mode
    "url_extract_port" -> {
      case Seq(u) => Cast(new NullIf(RegExpExtract(
        ParseUrl(Seq(u, Literal("AUTHORITY"))), Literal(":(\\d+)$"), Literal(1)),
        Literal("")), LongType)
      case args => throw new IllegalArgumentException(
        s"url_extract_port expects 1 arg, got ${args.length}")
    },
    "url_extract_parameter" -> {
      case Seq(u, p) => ParseUrl(Seq(u, Literal("QUERY"), p))
      case args => throw new IllegalArgumentException(
        s"url_extract_parameter expects 2 args, got ${args.length}")
    },
    // Trino format_datetime(ts, fmt) uses Joda patterns. Most tokens
    // coincide with the JVM DateTimeFormatter patterns Spark uses, but
    // NOT all: Joda 'Y' is year-of-era while JVM 'Y' is WEEK-BASED year
    // (silently wrong around New Year if passed through), and Joda 'x'
    // is the weekyear that JVM spells 'Y'. Literal formats are
    // translated (jodaToJavaPattern); tokens with no Spark-legal
    // equivalent ('e' ISO day-of-week number, 'C' century) are rejected
    // with a clear error instead of misformatting. Non-literal formats
    // pass through (common tokens coincide).
    "format_datetime" -> {
      case Seq(ts, f @ Literal(v, _)) if v != null =>
        DateFormatClass(Cast(ts, TimestampType),
          Literal(jodaToJavaPattern(v.toString)))
      case Seq(ts, fmt) => DateFormatClass(Cast(ts, TimestampType), fmt)
      case args => throw new IllegalArgumentException(
        s"format_datetime expects 2 args, got ${args.length}")
    },
    // Trino date_format(ts, '%Y-%m-%d') is the MySQL %-token form, NOT
    // Spark's letter patterns. A literal format containing '%' is
    // translated token-by-token; otherwise the Spark pattern semantics
    // apply unchanged (so native Spark SQL keeps working).
    "date_format" -> {
      case Seq(ts, f @ Literal(v, _)) if v != null && v.toString.contains("%") =>
        DateFormatClass(Cast(ts, TimestampType),
          Literal(mysqlToJavaPattern(v.toString)))
      case Seq(ts, fmt) => DateFormatClass(Cast(ts, TimestampType), fmt)
      case args => throw new IllegalArgumentException(
        s"date_format expects 2 args, got ${args.length}")
    },

    // date_parse(s, '%Y-%m-%d …') — the inverse of date_format, same
    // MySQL %-token translation feeding to_timestamp. Unlike
    // date_format (which doubles as the native Spark function), the
    // format here is ALWAYS MySQL-style: a %-less literal is literal
    // text per MySQL rules (mysqlToJavaPattern quotes it), and a
    // non-literal format is rejected rather than silently parsed with
    // Java-pattern semantics.
    "date_parse" -> {
      case Seq(s, Literal(v, _)) if v != null =>
        new ParseToTimestamp(s, Literal(mysqlToJavaPattern(v.toString)))
      case Seq(_, _) => throw new IllegalArgumentException(
        "date_parse requires a literal format string (MySQL %-tokens); " +
          "a computed format expression is not supported")
      case args => throw new IllegalArgumentException(
        s"date_parse expects 2 args, got ${args.length}")
    },
    // Teradata-compatibility trio (Trino datetime docs): case-
    // insensitive yyyy/mm/dd/hh24/hh/mi/ss tokens, translated to JVM
    // patterns. The 2-arg to_date/to_timestamp REPLACE Spark's own
    // (which read the format as a JVM pattern — 'mm' would mean
    // minutes); the 1-arg forms keep Spark's cast semantics. to_char
    // replaces Spark's number-formatting to_char — Trino defines
    // to_char only for timestamps.
    "to_char" -> {
      case Seq(ts, Literal(v, _)) if v != null =>
        new DateFormatClass(Cast(ts, TimestampType),
          Literal(teradataToJvmPattern(v.toString)))
      case Seq(_, _) => throw new IllegalArgumentException(
        "to_char requires a literal Teradata format string")
      case args => throw new IllegalArgumentException(
        s"to_char expects (timestamp, format), got ${args.length} args")
    },
    "to_date" -> {
      case Seq(x) => Cast(x, DateType)
      case Seq(s, Literal(v, _)) if v != null =>
        new ParseToDate(s, Literal(teradataToJvmPattern(v.toString)))
      case Seq(_, _) => throw new IllegalArgumentException(
        "to_date requires a literal Teradata format string")
      case args => throw new IllegalArgumentException(
        s"to_date expects 1-2 args, got ${args.length}")
    },
    "to_timestamp" -> {
      case Seq(x) => Cast(x, TimestampType)
      case Seq(s, Literal(v, _)) if v != null =>
        new ParseToTimestamp(s, Literal(teradataToJvmPattern(v.toString)))
      case Seq(_, _) => throw new IllegalArgumentException(
        "to_timestamp requires a literal Teradata format string")
      case args => throw new IllegalArgumentException(
        s"to_timestamp expects 1-2 args, got ${args.length}")
    },

    // ISO-8601 bridge functions (public Trino docs, datetime functions):
    // from_iso8601_timestamp/date parse the standard wire format;
    // to_iso8601 renders it. Spark's casts already speak ISO-8601 for
    // dates and space-separated timestamps; normalize the 'T'.
    "from_iso8601_timestamp" -> {
      case Seq(s) =>
        Cast(StringReplace(s, Literal("T"), Literal(" ")), TimestampType)
      case args => throw new IllegalArgumentException(
        s"from_iso8601_timestamp expects 1 arg, got ${args.length}")
    },
    "from_iso8601_date" -> {
      case Seq(s) => Cast(s, DateType)
      case args => throw new IllegalArgumentException(
        s"from_iso8601_date expects 1 arg, got ${args.length}")
    },
    "to_iso8601" -> {
      case Seq(x) => x match {
        case d if d.dataType == DateType => Cast(d, StringType)
        case ts => DateFormatClass(Cast(ts, TimestampType),
          Literal("yyyy-MM-dd'T'HH:mm:ss.SSS"))
      }
      case args => throw new IllegalArgumentException(
        s"to_iso8601 expects 1 arg, got ${args.length}")
    },

    // ---- round-9 bridge batch: Trino names over existing Catalyst ----
    // zip(a, b, …) → arrays_zip; Trino's row fields are unnamed, Spark
    // names them after the inputs — positionally identical.
    "zip" -> {
      case args if args.length >= 2 => ArraysZip(args)
      case args => throw new IllegalArgumentException(
        s"zip expects >= 2 arrays, got ${args.length}")
    },
    // Binary ↔ text codecs. Trino to_hex is uppercase like Spark's hex.
    "to_hex" -> {
      case Seq(x) => Hex(x)
      case args => throw new IllegalArgumentException(
        s"to_hex expects 1 arg, got ${args.length}")
    },
    "from_hex" -> {
      case Seq(x) => Unhex(x)
      case args => throw new IllegalArgumentException(
        s"from_hex expects 1 arg, got ${args.length}")
    },
    "to_base64" -> {
      case Seq(x) => Base64(x)
      case args => throw new IllegalArgumentException(
        s"to_base64 expects 1 arg, got ${args.length}")
    },
    "from_base64" -> {
      case Seq(x) => UnBase64(x)
      case args => throw new IllegalArgumentException(
        s"from_base64 expects 1 arg, got ${args.length}")
    },
    // URL-safe alphabet = standard with +/ ↔ -_ (padding retained; both
    // Trino and java.util.Base64 accept padded url-safe input)
    "to_base64url" -> {
      case Seq(x) => StringTranslate(Base64(x), Literal("+/"), Literal("-_"))
      case args => throw new IllegalArgumentException(
        s"to_base64url expects 1 arg, got ${args.length}")
    },
    "from_base64url" -> {
      case Seq(x) => UnBase64(StringTranslate(x, Literal("-_"), Literal("+/")))
      case args => throw new IllegalArgumentException(
        s"from_base64url expects 1 arg, got ${args.length}")
    },
    // Trino's sha*/md5 return VARBINARY; Spark's return hex strings —
    // unhex back to bytes. (md5 itself is NOT overridden: the engine's
    // own md5-twin queries rely on Spark's hex-string md5.)
    "sha1" -> {
      case Seq(x) => Unhex(Sha1(x))
      case args => throw new IllegalArgumentException(
        s"sha1 expects 1 arg, got ${args.length}")
    },
    "sha256" -> {
      case Seq(x) => Unhex(Sha2(x, Literal(256)))
      case args => throw new IllegalArgumentException(
        s"sha256 expects 1 arg, got ${args.length}")
    },
    "sha512" -> {
      case Seq(x) => Unhex(Sha2(x, Literal(512)))
      case args => throw new IllegalArgumentException(
        s"sha512 expects 1 arg, got ${args.length}")
    },
    // hmac_*(data, key) → VARBINARY MAC. StaticInvoke into BinFuncs
    // (javax.crypto.Mac, JDK built-in algorithms) — codegen'd static
    // call. Strings cast to their UTF-8 bytes like Trino varbinary args
    "hmac_md5" -> hmacFn("HmacMD5", "hmac_md5"),
    "hmac_sha1" -> hmacFn("HmacSHA1", "hmac_sha1"),
    "hmac_sha256" -> hmacFn("HmacSHA256", "hmac_sha256"),
    "hmac_sha512" -> hmacFn("HmacSHA512", "hmac_sha512"),
    // big-endian / IEEE-754 byte bridges (Trino binary functions) —
    // static one-liners over ByteBuffer; wrong-length input errors like
    // Trino (NULL under try())
    "to_big_endian_32" -> binFn1("toBigEndian32", "to_big_endian_32",
      IntegerType, org.apache.spark.sql.types.BinaryType),
    "from_big_endian_32" -> binFn1("fromBigEndian32", "from_big_endian_32",
      org.apache.spark.sql.types.BinaryType, IntegerType),
    "to_big_endian_64" -> binFn1("toBigEndian64", "to_big_endian_64",
      LongType, org.apache.spark.sql.types.BinaryType),
    "from_big_endian_64" -> binFn1("fromBigEndian64", "from_big_endian_64",
      org.apache.spark.sql.types.BinaryType, LongType),
    // RFC 4648 base32 codec (Trino binary functions; Spark has only
    // base64/hex) — StaticInvoke into BinFuncs, strings cast to UTF-8
    // bytes like Trino varbinary args
    "to_base32" -> binFn1("toBase32", "to_base32",
      org.apache.spark.sql.types.BinaryType, StringType),
    "from_base32" -> binFn1("fromBase32", "from_base32",
      StringType, org.apache.spark.sql.types.BinaryType),
    "to_ieee754_32" -> binFn1("toIeee754_32", "to_ieee754_32",
      org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.BinaryType),
    "from_ieee754_32" -> binFn1("fromIeee754_32", "from_ieee754_32",
      org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.FloatType),
    "to_ieee754_64" -> binFn1("toIeee754_64", "to_ieee754_64",
      DoubleType, org.apache.spark.sql.types.BinaryType),
    "from_ieee754_64" -> binFn1("fromIeee754_64", "from_ieee754_64",
      org.apache.spark.sql.types.BinaryType, DoubleType),
    // Trino spells the bitwise operators as functions (64-bit two's
    // complement). bitwise_right_shift is the LOGICAL shift.
    "bitwise_and" -> {
      case Seq(a, b) => BitwiseAnd(a, b)
      case args => throw new IllegalArgumentException(
        s"bitwise_and expects 2 args, got ${args.length}")
    },
    "bitwise_or" -> {
      case Seq(a, b) => BitwiseOr(a, b)
      case args => throw new IllegalArgumentException(
        s"bitwise_or expects 2 args, got ${args.length}")
    },
    "bitwise_xor" -> {
      case Seq(a, b) => BitwiseXor(a, b)
      case args => throw new IllegalArgumentException(
        s"bitwise_xor expects 2 args, got ${args.length}")
    },
    "bitwise_not" -> {
      case Seq(x) => BitwiseNot(x)
      case args => throw new IllegalArgumentException(
        s"bitwise_not expects 1 arg, got ${args.length}")
    },
    "bitwise_left_shift" -> {
      case Seq(x, n) => ShiftLeft(Cast(x, LongType), Cast(n, IntegerType))
      case args => throw new IllegalArgumentException(
        s"bitwise_left_shift expects 2 args, got ${args.length}")
    },
    "bitwise_right_shift" -> {
      case Seq(x, n) => ShiftRightUnsigned(Cast(x, LongType), Cast(n, IntegerType))
      case args => throw new IllegalArgumentException(
        s"bitwise_right_shift expects 2 args, got ${args.length}")
    },
    "bitwise_right_shift_arithmetic" -> {
      case Seq(x, n) => ShiftRight(Cast(x, LongType), Cast(n, IntegerType))
      case args => throw new IllegalArgumentException(
        s"bitwise_right_shift_arithmetic expects 2 args, got ${args.length}")
    },
    // bit_count(x, bits): ones in the bits-wide two's complement of x.
    // Masking to the low `bits` IS that representation for negatives.
    "bit_count" -> {
      case Seq(x) => BitwiseCount(Cast(x, LongType))
      case Seq(x, b) =>
        val bits = litInt(b, "bits")
        if (bits < 2 || bits > 64) throw new IllegalArgumentException(
          s"bit_count: bits must be in [2, 64], got $bits")
        if (bits == 64) BitwiseCount(Cast(x, LongType))
        else BitwiseCount(BitwiseAnd(Cast(x, LongType),
          Literal((1L << bits) - 1)))
      case args => throw new IllegalArgumentException(
        s"bit_count expects 1-2 args, got ${args.length}")
    },
    // truncate(x[, n]): round toward zero (Spark has only round/bround).
    // sign(x) * floor(|x| * 10^n) / 10^n, n literal (0 when omitted).
    "truncate" -> {
      case Seq(x) =>
        val d = Cast(x, DoubleType)
        Multiply(Signum(d), Floor(Abs(d)))
      case Seq(x, n) =>
        val scale = litInt(n, "n")
        val p = Literal(math.pow(10.0, scale))
        val d = Cast(x, DoubleType)
        Divide(Multiply(Signum(d), Cast(Floor(Multiply(Abs(d), p)), DoubleType)), p)
      case args => throw new IllegalArgumentException(
        s"truncate expects 1-2 args, got ${args.length}")
    },
    // index(s, sub) is Trino's documented alias of strpos
    "index" -> {
      case Seq(s, sub) => StringInstr(s, sub)
      case args => throw new IllegalArgumentException(
        s"index expects 2 args, got ${args.length}")
    },
    // char2hexint(s): Teradata compatibility — uppercase hex of the
    // UTF-16BE encoding of the string (Trino docs, Teradata functions)
    "char2hexint" -> {
      case Seq(s) => Hex(new Encode(s, Literal("UTF-16BE")))
      case args => throw new IllegalArgumentException(
        s"char2hexint expects 1 arg, got ${args.length}")
    },
    // starts_with: Spark spells it startswith
    "starts_with" -> {
      case Seq(s, p) => StartsWith(s, p)
      case args => throw new IllegalArgumentException(
        s"starts_with expects 2 args, got ${args.length}")
    },
    // regexp_split(s, pattern) → split with no limit
    "regexp_split" -> {
      case Seq(s, p) => StringSplit(s, p, Literal(-1))
      case args => throw new IllegalArgumentException(
        s"regexp_split expects 2 args, got ${args.length}")
    },
    // Trino's 2-arg regexp_extract/_all return the WHOLE match (group
    // 0); Spark's 2-arg default is group 1 — silently different results
    // without this shim. The 3-arg forms coincide and pass through.
    "regexp_extract" -> {
      case Seq(s, p) => RegExpExtract(s, p, Literal(0))
      case Seq(s, p, g) => RegExpExtract(s, p, g)
      case args => throw new IllegalArgumentException(
        s"regexp_extract expects 2-3 args, got ${args.length}")
    },
    "regexp_extract_all" -> {
      case Seq(s, p) => RegExpExtractAll(s, p, Literal(0))
      case Seq(s, p, g) => RegExpExtractAll(s, p, g)
      case args => throw new IllegalArgumentException(
        s"regexp_extract_all expects 2-3 args, got ${args.length}")
    },
    // regexp_position: 1-based char position of the first match, -1
    // when absent. Every arity StaticInvokes the BinFuncs helper
    // (codegen'd call sites): Spark's own regexp_instr reports
    // UTF-16-unit positions where Trino counts CODE POINTS, and the
    // optional start/occurrence forms have no Spark expression at all.
    "regexp_position" -> {
      // the 2-arg form ALSO routes through the helper: Spark's
      // regexp_instr reports UTF-16-unit positions (a supplementary
      // character before the match costs 2), Trino counts code points
      case Seq(s, p, rest @ _*) if rest.size <= 2 =>
        val start: Expression =
          if (rest.nonEmpty) Cast(rest.head, IntegerType) else Literal(1)
        val occ: Expression =
          if (rest.size == 2) Cast(rest(1), IntegerType) else Literal(1)
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, IntegerType, "regexpPosition",
          Seq(Cast(s, StringType), Cast(p, StringType), start, occ),
          Seq(StringType, StringType, IntegerType, IntegerType))
      case args => throw new IllegalArgumentException(
        s"regexp_position expects 2-4 args, got ${args.length}")
    },
    // split_to_map(s, entryDelim, kvDelim) → str_to_map (same arg order;
    // Trino errors on duplicate keys, Spark keeps the last — documented)
    "split_to_map" -> {
      case Seq(s, ed, kd) => new StringToMap(s, ed, kd)
      case args => throw new IllegalArgumentException(
        s"split_to_map expects 3 args, got ${args.length}")
    },
    // split_to_multimap keeps every value for a repeated key (Trino's
    // map<varchar, array<varchar>> shape) — StaticInvoke into the
    // literal-delimiter split loop, because StringToMap drops repeats
    "split_to_multimap" -> {
      case Seq(s, ed, kd) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass,
          org.apache.spark.sql.types.MapType(StringType,
            org.apache.spark.sql.types.ArrayType(StringType, containsNull = false),
            valueContainsNull = false),
          "splitToMultimap",
          Seq(Cast(s, StringType), Cast(ed, StringType), Cast(kd, StringType)),
          Seq(StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"split_to_multimap expects 3 args, got ${args.length}")
    },
    // at_timezone / with_timezone: graft sessions pin the session zone
    // to UTC (DIALECT.md), so Trino's at_timezone — same instant,
    // rendered in zone — maps to from_utc_timestamp (instant → zone
    // wall-clock), and with_timezone — zone wall-clock → instant — to
    // to_utc_timestamp.
    "at_timezone" -> {
      case Seq(ts, z) => FromUTCTimestamp(Cast(ts, TimestampType), z)
      case args => throw new IllegalArgumentException(
        s"at_timezone expects (timestamp, zone), got ${args.length} args")
    },
    "with_timezone" -> {
      case Seq(ts, z) => ToUTCTimestamp(Cast(ts, TimestampType), z)
      case args => throw new IllegalArgumentException(
        s"with_timezone expects (timestamp, zone), got ${args.length} args")
    },
    // Trino's 2-arg regexp_replace deletes matches; the 3-arg string
    // form is Spark-identical; the 3-arg LAMBDA form (per-match
    // function over the capture-groups array) is served by a native
    // HigherOrderFunction (graft.functions.RegExpReplaceLambda) — the
    // analyzer's standard lambda-resolution rule binds it like any
    // built-in transform/filter.
    "regexp_replace" -> {
      case Seq(s, p) => RegExpReplace(s, p, Literal(""))
      case Seq(s, p, f: LambdaFunction) =>
        org.apache.spark.sql.graft.RegExpReplaceLambda(s, p, f)
      case Seq(s, p, r) => RegExpReplace(s, p, r)
      case args => throw new IllegalArgumentException(
        s"regexp_replace expects (string, pattern[, replacement | " +
          s"lambda]); got ${args.length} args")
    },
    // random() → uniform double in [0,1); random(n) / random(m, n) →
    // uniform BIGINT in [0,n) / [m,n), Trino's integer forms.
    "random" -> {
      case Seq() => new Rand(Literal(scala.util.Random.nextLong()))
      case Seq(n) => Cast(Floor(Multiply(
        new Rand(Literal(scala.util.Random.nextLong())),
        Cast(n, DoubleType))), LongType)
      case Seq(m, n) => Add(Cast(m, LongType), Cast(Floor(Multiply(
        new Rand(Literal(scala.util.Random.nextLong())),
        Subtract(Cast(n, DoubleType), Cast(m, DoubleType)))), LongType))
      case args => throw new IllegalArgumentException(
        s"random expects 0-2 args, got ${args.length}")
    },
    // from_unixtime_nanos(n) → timestamp at µs precision (Spark's
    // finest); truncation toward zero for pre-epoch values documented.
    "from_unixtime_nanos" -> {
      case Seq(n) => MicrosToTimestamp(IntegralDivide(Cast(n, LongType), Literal(1000L), evalMode = EvalMode.LEGACY))
      case args => throw new IllegalArgumentException(
        s"from_unixtime_nanos expects 1 arg, got ${args.length}")
    },
    // Trino greatest/least return NULL if ANY argument is NULL; Spark's
    // skip nulls. Null-propagate explicitly, then delegate.
    // Single-argument form returns the argument (Spark's Greatest/Least
    // require >= 2 children; Trino accepts one).
    "greatest" -> {
      case Seq(x) =>
        If(IsNull(x), Literal.create(null, org.apache.spark.sql.types.NullType), x)
      case args if args.nonEmpty =>
        If(args.map(IsNull(_): Expression).reduce(Or),
          Literal.create(null, org.apache.spark.sql.types.NullType), Greatest(args))
      case _ => throw new IllegalArgumentException("greatest expects >= 1 arg")
    },
    "least" -> {
      case Seq(x) =>
        If(IsNull(x), Literal.create(null, org.apache.spark.sql.types.NullType), x)
      case args if args.nonEmpty =>
        If(args.map(IsNull(_): Expression).reduce(Or),
          Literal.create(null, org.apache.spark.sql.types.NullType), Least(args))
      case _ => throw new IllegalArgumentException("least expects >= 1 arg")
    },
    // set_agg(x) → array of distinct values; set_union(arr) → distinct
    // union of all input arrays (entropy-style post-agg composition).
    "set_agg" -> {
      case Seq(x) => new org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet(x)
      case args => throw new IllegalArgumentException(
        s"set_agg expects 1 arg, got ${args.length}")
    },
    "set_union" -> {
      case Seq(arr) => ArrayDistinct(Flatten(
        new org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(arr)
          .toAggregateExpression()))
      case args => throw new IllegalArgumentException(
        s"set_union expects 1 arg, got ${args.length}")
    },
    // Trino's skewness (DoubleSkewnessAggregation) is the BIASED
    // estimator sqrt(n)·m3/m2^1.5 — identical to Spark's built-in
    // skewness — so it passes through unchanged apart from the n<=2
    // NULL gate. Only kurtosis is bias-corrected in Trino (its docs
    // mark only kurtosis as an "unbiased estimate"):
    // G2 = (n-1)/((n-2)(n-3))·((n+1)·g2 + 6).
    "skewness" -> {
      case Seq(c) =>
        val x = Cast(c, DoubleType)
        val n = Cast(new org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(x))
          .toAggregateExpression(), DoubleType)
        val g1 = new org.apache.spark.sql.catalyst.expressions.aggregate.Skewness(x)
          .toAggregateExpression()
        If(LessThanOrEqual(n, Literal(2.0)),
          Literal.create(null, DoubleType), g1)
      case args => throw new IllegalArgumentException(
        s"skewness expects 1 arg, got ${args.length}")
    },
    "kurtosis" -> {
      case Seq(c) =>
        val x = Cast(c, DoubleType)
        val n = Cast(new org.apache.spark.sql.catalyst.expressions.aggregate.Count(Seq(x))
          .toAggregateExpression(), DoubleType)
        val g2 = new org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(x)
          .toAggregateExpression()
        If(LessThanOrEqual(n, Literal(3.0)),
          Literal.create(null, DoubleType),
          Multiply(Divide(Subtract(n, Literal(1.0)),
            Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0)))),
            Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0))))
      case args => throw new IllegalArgumentException(
        s"kurtosis expects 1 arg, got ${args.length}")
    },
    // The engine models timestamp-with-time-zone values as UTC instants
    // (session TZ pinned UTC; at_timezone/with_timezone shift instants)
    // — the zone offset of any value on this surface is therefore 0.
    "timezone_hour" -> {
      case Seq(ts) => If(IsNull(Cast(ts, TimestampType)),
        Literal.create(null, LongType), Literal(0L))
      case args => throw new IllegalArgumentException(
        s"timezone_hour expects 1 arg, got ${args.length}")
    },
    "timezone_minute" -> {
      case Seq(ts) => If(IsNull(Cast(ts, TimestampType)),
        Literal.create(null, LongType), Literal(0L))
      case args => throw new IllegalArgumentException(
        s"timezone_minute expects 1 arg, got ${args.length}")
    },
    "parse_data_size" -> {
      case Seq(s) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, DecimalType(38, 0), "parseDataSize",
          Seq(Cast(s, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"parse_data_size expects 1 arg, got ${args.length}")
    },
    // murmur3(varbinary) → 16-byte MurmurHash3 x64 128 (seed 0)
    "murmur3" -> binFn1("murmur3", "murmur3",
      org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.BinaryType),
    // SpookyHash V2 with seeds 0 (public-domain algorithm; Trino emits
    // the 64-bit result / its low 32 bits as big-endian varbinary)
    "spooky_hash_v2_32" -> binFn1("spookyHashV232", "spooky_hash_v2_32",
      org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.BinaryType),
    "spooky_hash_v2_64" -> binFn1("spookyHashV264", "spooky_hash_v2_64",
      org.apache.spark.sql.types.BinaryType, org.apache.spark.sql.types.BinaryType),
    // bar(x, width): ANSI red→green bar renderer (Trino's 2-arg form;
    // the 4-arg form takes COLOR values, a type this engine does not
    // carry — DIALECT.md)
    "bar" -> {
      case Seq(p, w) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, StringType, "bar",
          Seq(Cast(p, DoubleType), Cast(w, LongType)),
          Seq(DoubleType, LongType))
      case args => throw new IllegalArgumentException(
        s"bar expects (fraction, width), got ${args.length} args — the " +
          "4-arg COLOR form is not supported (no COLOR type here)")
    },
    "inverse_binomial_cdf" ->
      statFnN("inverseBinomialCdf", "inverse_binomial_cdf", 3, IntegerType),
    // combinations(arr, n): n-element subsequences, n ≤ 5 like Trino
    "combinations" -> {
      case Seq(a, n) => graft.functions.NativeExprs.Combinations(a, n)
      case args => throw new IllegalArgumentException(
        s"combinations expects (array, n), got ${args.length} args")
    },
    // format('%s…', args…) — Trino and Spark both use java.util.Formatter
    "format" -> {
      case args if args.nonEmpty => FormatString(args: _*)
      case _ => throw new IllegalArgumentException("format expects >= 1 arg")
    },
    // cosine_distance = 1 − cosine_similarity (same dense-array dot)
    "cosine_distance" -> {
      case Seq(a, b) => Subtract(Literal(1.0),
        Divide(graft.functions.NativeExprs.DotF(a, b),
          Sqrt(Multiply(graft.functions.NativeExprs.DotF(a, a),
            graft.functions.NativeExprs.DotF(b, b)))))
      case args => throw new IllegalArgumentException(
        s"cosine_distance expects 2 args, got ${args.length}")
    },
    // json_parse validates; the engine's JSON runtime type is the
    // canonical string (json_format is the identity on it). Invalid
    // input → NULL under try(), error otherwise (Trino raises).
    "json_parse" -> {
      case Seq(s) =>
        If(Or(IsNull(s), IsNotNull(GetJsonObject(s, Literal("$")))),
          Cast(s, StringType),
          Cast(RaiseError(Concat(Seq(Literal("json_parse: invalid JSON: "),
            Cast(s, StringType)))), StringType))
      case args => throw new IllegalArgumentException(
        s"json_parse expects 1 arg, got ${args.length}")
    },
    "json_format" -> {
      case Seq(j) => Cast(j, StringType)
      case args => throw new IllegalArgumentException(
        s"json_format expects 1 arg, got ${args.length}")
    },
    // checksum(x): order-insensitive aggregate — sum of xxhash64(x) mod
    // 2^64, returned as the wrapped signed BIGINT (Trino returns 8-byte
    // varbinary; same information, comparable either way). Decimal(38)
    // accumulation cannot overflow (needs > 10^18 rows).
    "checksum" -> {
      case Seq(x) =>
        val sum = new org.apache.spark.sql.catalyst.expressions.aggregate.Sum(
          Cast(XxHash64(Seq(x), 42L), DecimalType(38, 0))).toAggregateExpression()
        val two63 = Literal.create(new java.math.BigDecimal("9223372036854775808"),
          DecimalType(38, 0))
        val two64 = Literal.create(new java.math.BigDecimal("18446744073709551616"),
          DecimalType(38, 0))
        Cast(Subtract(Pmod(Add(sum, two63), two64), two63), LongType)
      case args => throw new IllegalArgumentException(
        s"checksum expects 1 arg, got ${args.length}")
    },
    "hamming_distance" -> {
      case Seq(a, b) => graft.functions.NativeExprs.HammingDist(a, b)
      case args => throw new IllegalArgumentException(
        s"hamming_distance expects 2 args, got ${args.length}")
    },
    // normalize(s[, form]): Trino's form is a bare keyword (NFC/NFD/
    // NFKC/NFKD) — it parses as an identifier, accepted alongside a
    // string literal spelling.
    "normalize" -> {
      case Seq(s) => graft.functions.NativeExprs.NormalizeStr(s, "NFC")
      case Seq(s, f) =>
        val form = (f match {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(parts) =>
            parts.mkString(".")
          case Literal(v, _) if v != null => v.toString
          case _ => throw new IllegalArgumentException(
            "normalize: form must be NFC, NFD, NFKC or NFKD")
        }).toUpperCase
        if (!Set("NFC", "NFD", "NFKC", "NFKD")(form))
          throw new IllegalArgumentException(
            s"normalize: form must be NFC, NFD, NFKC or NFKD, got $form")
        graft.functions.NativeExprs.NormalizeStr(s, form)
      case args => throw new IllegalArgumentException(
        s"normalize expects 1-2 args, got ${args.length}")
    },
    // Map-building aggregates (functions/MapAggExprs.scala)
    "histogram" -> {
      case Seq(x) =>
        graft.functions.MapAggExprs.HistogramAgg(x).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"histogram expects 1 arg, got ${args.length}")
    },
    "multimap_agg" -> {
      case Seq(k, v) =>
        graft.functions.MapAggExprs.MultimapAgg(k, v).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"multimap_agg expects 2 args, got ${args.length}")
    },
    // approx_most_frequent(buckets, x, capacity) → map_from_entries over
    // Spark 4's native approx_top_k (the same DataSketches ItemsSketch
    // the reference's remote engine uses); resolved by the analyzer.
    "approx_most_frequent" -> {
      case Seq(b, x, c) => MapFromEntries(
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          "approx_top_k", Seq(x, b, c), isDistinct = false))
      case args => throw new IllegalArgumentException(
        s"approx_most_frequent expects (buckets, x, capacity), got ${args.length} args")
    },
    // millisecond(ts): ms-of-second (Spark has no field function for it)
    "millisecond" -> {
      case Seq(ts) => Cast(Divide(
        Pmod(UnixMicros(Cast(ts, TimestampType)), Literal(1000000L)),
        Literal(1000L)), LongType)
      case args => throw new IllegalArgumentException(
        s"millisecond expects 1 arg, got ${args.length}")
    },
    // parse_datetime(s, joda_fmt): the parsing inverse of
    // format_datetime, same Joda→JVM pattern translation
    "parse_datetime" -> {
      case Seq(s, Literal(v, _)) if v != null =>
        new ParseToTimestamp(s, Literal(jodaToJavaPattern(v.toString)))
      case Seq(_, _) => throw new IllegalArgumentException(
        "parse_datetime requires a literal format string (Joda tokens)")
      case args => throw new IllegalArgumentException(
        s"parse_datetime expects 2 args, got ${args.length}")
    },
    // human_readable_seconds(n): Trino's "2 days, 3 hours, 4 minutes"
    // rendering, built from codegen'd integer/string ops.
    "human_readable_seconds" -> {
      case Seq(n) => humanReadableSeconds(n)
      case args => throw new IllegalArgumentException(
        s"human_readable_seconds expects 1 arg, got ${args.length}")
    },
    // trino_split(s, delim[, limit]): Trino's split — the delimiter is
    // a LITERAL string; Spark's native split treats it as a REGEX and
    // silently mis-splits '.', '|', etc. Registered under a private
    // name and routed via preprocess(), which rewrites `split(` to
    // `trino_split(` ONLY on the guarded execute_query surface: in
    // Spark 4 the DataFrame API's functions.split also resolves by
    // NAME through the session registry (Column.fn), so overriding
    // "split" globally would hijack the engine's own regex splits.
    // Delimiters are regex-quoted (\Q…\E; literals Pattern.quote'd to
    // survive embedded \E). Limit semantics (last element keeps the
    // rest) already coincide.
    "trino_split" -> {
      case Seq(s, d) => StringSplit(s, quoteDelim(d), Literal(-1))
      case Seq(s, d, n) => StringSplit(s, quoteDelim(d), n)
      case args => throw new IllegalArgumentException(
        s"split expects 2-3 args, got ${args.length}")
    },
    // trino_repeat(x, n): Trino's repeat builds an n-element array of x
    // (any type); Spark's repeat is string repetition. Same scoped-
    // rename route as trino_split (preprocess rewrites `repeat(` on
    // the guarded surface only). Trino caps n at 10000.
    "trino_repeat" -> {
      case Seq(x, n) =>
        val cnt = litInt(n, "repeat count")
        require(cnt >= 0 && cnt <= 10000,
          s"repeat count must be in [0, 10000], got $cnt")
        ArrayRepeat(x, Literal(cnt))
      case args => throw new IllegalArgumentException(
        s"repeat expects (element, count), got ${args.length} args")
    },
    // replace(s, search[, repl]): Trino's 2-arg form deletes occurrences
    "replace" -> {
      case Seq(s, search) => StringReplace(s, search, Literal(""))
      case Seq(s, search, repl) => StringReplace(s, search, repl)
      case args => throw new IllegalArgumentException(
        s"replace expects 2-3 args, got ${args.length}")
    },
    // entropy(c): Trino's log-2 entropy of count values, as pure Sum
    // composition — log2(S) − Σ c·log2(c) / S with S = Σ c. NULL/zero
    // counts contribute zero (x·log2(x) → 0), matching Trino.
    "entropy" -> {
      case Seq(c) =>
        val x = Cast(c, DoubleType)
        def sumOf(e: Expression) =
          new org.apache.spark.sql.catalyst.expressions.aggregate.Sum(e)
            .toAggregateExpression()
        val s = sumOf(x)
        val clog = sumOf(If(GreaterThan(x, Literal(0.0)),
          Multiply(x, Log2(x)), Literal(0.0)))
        If(Or(IsNull(s), LessThanOrEqual(s, Literal(0.0))), Literal(0.0),
          Subtract(Log2(s), Divide(clog, s)))
      case args => throw new IllegalArgumentException(
        s"entropy expects 1 arg, got ${args.length}")
    },
    // json_array_get(j, i): negative indices count from the end, like
    // Trino; literal indices compile to a JSONPath constant
    "json_array_get" -> {
      case Seq(j, Literal(v, _)) if v != null && v.toString.matches("-?\\d+") =>
        val i = v.toString.toLong
        // Spark's JSONPath has no negative indexing — from-end rewrite
        if (i >= 0) GetJsonObject(j, Literal(s"$$[$i]"))
        else jsonArrayGetNegative(j, Literal(-i))
      case Seq(j, i) =>
        // dynamic index: positive path via concat'd JSONPath; negative
        // via the from-end rewrite, selected at runtime
        If(GreaterThanOrEqual(Cast(i, LongType), Literal(0L)),
          GetJsonObject(j, Concat(Seq(Literal("$["),
            Cast(Cast(i, LongType), StringType), Literal("]")))),
          jsonArrayGetNegative(j, UnaryMinus(Cast(i, LongType))))
      case args => throw new IllegalArgumentException(
        s"json_array_get expects 2 args, got ${args.length}")
    },
    // json_array_contains(j, v): membership via from_json to a typed
    // array chosen by the value's literal type — boolean/number/varchar,
    // Trino's three overloads. Non-literal values fall back to string
    // comparison over the elements' JSON text (exact for strings and
    // canonically-written numbers; '[1.00]' vs 1.0 differs — documented)
    "json_array_contains" -> {
      case Seq(j, v) =>
        def parsed(elem: org.apache.spark.sql.types.DataType) =
          JsonToStructs(org.apache.spark.sql.types.ArrayType(elem), Map.empty, j)
        v match {
          case Literal(_, org.apache.spark.sql.types.BooleanType) =>
            ArrayContains(parsed(org.apache.spark.sql.types.BooleanType), v)
          case Literal(x, t) if x != null &&
              t.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            ArrayContains(parsed(DoubleType), Cast(v, DoubleType))
          case _ =>
            ArrayContains(parsed(StringType), Cast(v, StringType))
        }
      case args => throw new IllegalArgumentException(
        s"json_array_contains expects 2 args, got ${args.length}")
    },
    // trim_array(arr, n): drop the last n elements. Spark's slice errors
    // on a negative length, which doubles as Trino's n > cardinality error
    "trim_array" -> {
      case Seq(arr, n) =>
        Slice(arr, Literal(1), Subtract(Size(arr), Cast(n, IntegerType)))
      case args => throw new IllegalArgumentException(
        s"trim_array expects 2 args, got ${args.length}")
    },
    // array_duplicates: distinct elements appearing more than once —
    // nested-lambda composition, O(n·distinct) per row (row-level arrays
    // are small; no shuffle implications). Null-safe equality keeps a
    // repeated NULL in the result like Trino
    "array_duplicates" -> {
      case Seq(arr) =>
        val x = UnresolvedNamedLambdaVariable(Seq("x"))
        val y = UnresolvedNamedLambdaVariable(Seq("y"))
        ArrayFilter(ArrayDistinct(arr), LambdaFunction(
          GreaterThan(Size(ArrayFilter(arr,
            LambdaFunction(EqualNullSafe(y, x), Seq(y)))), Literal(1)),
          Seq(x)))
      case args => throw new IllegalArgumentException(
        s"array_duplicates expects 1 arg, got ${args.length}")
    },
    "array_has_duplicates" -> {
      case Seq(arr) => Not(EqualTo(Size(arr), Size(ArrayDistinct(arr))))
      case args => throw new IllegalArgumentException(
        s"array_has_duplicates expects 1 arg, got ${args.length}")
    },
    // to_utf8 / from_utf8: UTF-8 byte bridges. from_utf8 REPLACES
    // invalid sequences (with U+FFFD or the given single-char/empty
    // replacement) like Trino — a StaticInvoke decode loop, because
    // Spark's own decode() errors on malformed input under ANSI, which
    // is not Trino's contract
    "to_utf8" -> {
      case Seq(s) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, org.apache.spark.sql.types.BinaryType, "toUtf8",
          Seq(Cast(s, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"to_utf8 expects 1 arg, got ${args.length}")
    },
    "from_utf8" -> {
      case args if args.length == 1 || args.length == 2 =>
        val repl = if (args.length == 2) Cast(args(1), StringType)
                   else Literal("�")
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, StringType, "fromUtf8",
          Seq(Cast(args.head, org.apache.spark.sql.types.BinaryType), repl),
          Seq(org.apache.spark.sql.types.BinaryType, StringType))
      case args => throw new IllegalArgumentException(
        s"from_utf8 expects (binary[, replacement]), got ${args.length} args")
    },
    // strrpos(s, sub): position of the LAST occurrence (1-based, 0 when
    // absent) — instr on the reversed pair, re-based to the original
    // string. Null-safe: a null input nulls the arithmetic
    "strrpos" -> {
      case Seq(s, sub) =>
        val rp = StringInstr(new Reverse(s), new Reverse(sub))
        Cast(If(EqualTo(rp, Literal(0)), Literal(0),
          Subtract(Add(Subtract(Length(s), rp), Literal(2)), Length(sub))),
          LongType)
      case args => throw new IllegalArgumentException(
        s"strrpos expects 2 args, got ${args.length}")
    },
    // split_part(s, delim, index): Trino returns NULL when index is
    // past the last field, where Spark's builtin returns '' — wrap the
    // builtin in an index-bounds gate over the same literal-delimiter
    // split. index <= 0 raises INVALID_FUNCTION_ARGUMENT in Trino;
    // Spark's builtin raises only for 0 and counts NEGATIVE indexes
    // backward from the end, so the gate raises for idx <= 0 itself.
    // Divergence kept: Trino splits into single characters on an empty
    // delimiter; this (like Spark) treats the whole string as one field.
    "split_part" -> {
      case Seq(s, d, i) =>
        val str = Cast(s, StringType)
        val delim = Cast(d, StringType)
        val idx = Cast(i, IntegerType)
        If(LessThanOrEqual(idx, Literal(0)),
          Cast(RaiseError(Literal(
            "split_part: Index must be greater than zero")), StringType),
          If(GreaterThan(idx, Size(StringSplitSQL(str, delim))),
            Literal(null, StringType),
            SplitPart(str, delim, idx)))
      case args => throw new IllegalArgumentException(
        s"split_part expects 3 args, got ${args.length}")
    },
    // json_size / is_json_scalar: Jackson walk via StaticInvoke (the
    // mapper ships in Spark's classpath). Path subset: $, .name, [idx],
    // ["name"] — the forms the reference's docs exercise. Invalid JSON
    // raises like Trino (null under try()); missing path → NULL
    "json_size" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, IntegerType, "jsonSize",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"json_size expects (json, path), got ${args.length} args")
    },
    // SQL/JSON trio, 2-arg forms with the default ON EMPTY / ON ERROR
    // behaviors (json_value/json_query → NULL, json_exists → FALSE);
    // path accepts the lax/strict prefix, subset as JsonFuncs.walk
    "json_value" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonValue",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      // 3 extra args from rewriteJsonValueOnClauses: the behavior mode
      // literal ('<N|D|E><N|D|E>' — ON EMPTY then ON ERROR) and the two
      // DEFAULT expressions (NULL placeholders when the clause isn't
      // DEFAULT)
      case Seq(j, p, mode, emptyDef, errorDef) =>
        // propagateNull must be OFF: the default placeholders are NULL
        // literals in the common case, and a null json input must still
        // reach the method (NULL in → NULL out, no behavior triggered)
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonValueMode",
          Seq(Cast(j, StringType), Cast(p, StringType),
            Cast(mode, StringType), Cast(emptyDef, StringType),
            Cast(errorDef, StringType)),
          Seq(StringType, StringType, StringType, StringType, StringType),
          propagateNull = false)
      case args => throw new IllegalArgumentException(
        s"json_value expects (json, path), got ${args.length} args")
    },
    "json_query" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonQuery",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      // 3rd arg: the rewriteJsonQueryClauses mode literal
      // ('<N|C|U><K|O>' — wrapper × quotes)
      case Seq(j, p, mode) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonQueryMode",
          Seq(Cast(j, StringType), Cast(p, StringType), Cast(mode, StringType)),
          Seq(StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"json_query expects (json, path), got ${args.length} args")
    },
    "json_exists" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, org.apache.spark.sql.types.BooleanType, "jsonExists",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      // 3rd arg from rewriteJsonExistsClauses: the ON ERROR behavior
      // ('T'|'F'|'U'|'E'); boxed Boolean so UNKNOWN can yield NULL
      case Seq(j, p, mode) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, org.apache.spark.sql.types.BooleanType,
          "jsonExistsMode",
          Seq(Cast(j, StringType), Cast(p, StringType), Cast(mode, StringType)),
          Seq(StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"json_exists expects (json, path), got ${args.length} args")
    },
    // internal row source for JSON_TABLE (rewriteJsonTable): array of
    // matched items as JSON text, exploded by the spliced lateral
    "graft_json_items" -> {
      case Seq(j, p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass,
          org.apache.spark.sql.types.ArrayType(StringType), "jsonItems",
          Seq(Cast(j, StringType), Cast(p, StringType)),
          Seq(StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"graft_json_items expects 2 args, got ${args.length}")
    },
    // internal finishers for the SQL/JSON constructors
    // (rewriteJsonConstructors): args are the to_json(named_struct(…))
    // text, the null mode ('N' keep | 'A' absent), and the per-field
    // embed modes ('V' value | 'J' re-parse as JSON)
    "graft_json_obj" -> {
      case Seq(o, nm, fm) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonObjFinish",
          Seq(Cast(o, StringType), Cast(nm, StringType), Cast(fm, StringType)),
          Seq(StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"graft_json_obj expects 3 args, got ${args.length}")
    },
    "graft_json_arr" -> {
      case Seq(o, nm, fm) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonArrFinish",
          Seq(Cast(o, StringType), Cast(nm, StringType), Cast(fm, StringType)),
          Seq(StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"graft_json_arr expects 3 args, got ${args.length}")
    },
    // dynamic-key json_object: values ride c0..cN fields, keys ride a
    // parallel JSON string array, plus null mode / embed modes / the
    // runtime WITH UNIQUE KEYS flag
    "graft_json_obj_dyn" -> {
      case Seq(o, ks, nm, fm, uq) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, StringType, "jsonObjDynFinish",
          Seq(Cast(o, StringType), Cast(ks, StringType), Cast(nm, StringType),
            Cast(fm, StringType), Cast(uq, StringType)),
          Seq(StringType, StringType, StringType, StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"graft_json_obj_dyn expects 5 args, got ${args.length}")
    },
    // array_histogram(arr) → map(element → count), nulls ignored
    "array_histogram" -> {
      case Seq(a) => graft.functions.NativeExprs.ArrayHistogram(a)
      case args => throw new IllegalArgumentException(
        s"array_histogram expects 1 arg, got ${args.length}")
    },
    // Trino map predicates — compositions over Spark's own
    // exists/forall higher-order functions on the key/value arrays
    "any_keys_match" -> {
      case Seq(m, f) => ArrayExists(MapKeys(m), f)
      case args => throw new IllegalArgumentException(
        s"any_keys_match expects (map, lambda), got ${args.length} args")
    },
    "all_keys_match" -> {
      case Seq(m, f) => ArrayForAll(MapKeys(m), f)
      case args => throw new IllegalArgumentException(
        s"all_keys_match expects (map, lambda), got ${args.length} args")
    },
    // the no_* variants negate INSIDE the lambda (forall ¬pred): the
    // analyzer requires a lambda's resolved parent to be the
    // higher-order function itself, so Not(exists(...)) is rejected
    "no_keys_match" -> {
      case Seq(m, f) => ArrayForAll(MapKeys(m), notLambda(f))
      case args => throw new IllegalArgumentException(
        s"no_keys_match expects (map, lambda), got ${args.length} args")
    },
    "any_values_match" -> {
      case Seq(m, f) => ArrayExists(MapValues(m), f)
      case args => throw new IllegalArgumentException(
        s"any_values_match expects (map, lambda), got ${args.length} args")
    },
    "all_values_match" -> {
      case Seq(m, f) => ArrayForAll(MapValues(m), f)
      case args => throw new IllegalArgumentException(
        s"all_values_match expects (map, lambda), got ${args.length} args")
    },
    "no_values_match" -> {
      case Seq(m, f) => ArrayForAll(MapValues(m), notLambda(f))
      case args => throw new IllegalArgumentException(
        s"no_values_match expects (map, lambda), got ${args.length} args")
    },
    // Trino IP address functions (docs/functions/ipaddress) over
    // canonical address strings — dialect/IpFuncs.scala. Literal-syntax
    // parsing only (a hostname never reaches DNS); IPv6 rendered RFC
    // 5952-compressed like Trino's IPADDRESS type.
    "ip_prefix" -> {
      case Seq(ip, bits) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass, StringType, "ipPrefix",
          Seq(Cast(ip, StringType), Cast(bits, IntegerType)),
          Seq(StringType, IntegerType))
      case args => throw new IllegalArgumentException(
        s"ip_prefix expects (ip, prefix_bits), got ${args.length} args")
    },
    "ip_subnet_min" -> {
      case Seq(p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass, StringType, "ipSubnetMin",
          Seq(Cast(p, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"ip_subnet_min expects 1 arg, got ${args.length}")
    },
    "ip_subnet_max" -> {
      case Seq(p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass, StringType, "ipSubnetMax",
          Seq(Cast(p, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"ip_subnet_max expects 1 arg, got ${args.length}")
    },
    "ip_subnet_range" -> {
      case Seq(p) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass,
          org.apache.spark.sql.types.ArrayType(StringType, containsNull = false),
          "ipSubnetRange", Seq(Cast(p, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"ip_subnet_range expects 1 arg, got ${args.length}")
    },
    "is_subnet_of" -> {
      case Seq(p, x) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass, org.apache.spark.sql.types.BooleanType,
          "isSubnetOf", Seq(Cast(p, StringType), Cast(x, StringType)),
          Seq(StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"is_subnet_of expects (prefix, ip_or_prefix), got ${args.length} args")
    },
    "is_private" -> {
      case Seq(ip) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          IpFuncs.getClass, org.apache.spark.sql.types.BooleanType,
          "isPrivate", Seq(Cast(ip, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"is_private expects 1 arg, got ${args.length}")
    },
    // typeof(x): Trino renders its own type names — reuse the metadata
    // service's mapper so DESCRIBE and typeof() agree
    "typeof" -> {
      case Seq(e) => graft.functions.NativeExprs.TypeOfTrino(e)
      case args => throw new IllegalArgumentException(
        s"typeof expects 1 arg, got ${args.length}")
    },
    // version(): engine identification (Trino returns its release)
    "version" -> {
      case Seq() => Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "graft-spark " + org.apache.spark.SPARK_VERSION), StringType)
      case args => throw new IllegalArgumentException(
        s"version expects 0 args, got ${args.length}")
    },
    "is_json_scalar" -> {
      case Seq(j) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          JsonFuncs.getClass, org.apache.spark.sql.types.BooleanType,
          "isJsonScalar", Seq(Cast(j, StringType)), Seq(StringType))
      case args => throw new IllegalArgumentException(
        s"is_json_scalar expects 1 arg, got ${args.length}")
    },
    // format_number(n): human-readable K/M/B/T/Q suffix form, 3
    // significant digits like Trino (123456 → '123K', 1234 → '1.23K').
    // The 2-arg form is Spark's own format_number(x, d) — delegate, or
    // this override would break the engine's DataFrame-API calls
    "format_number" -> {
      case Seq(n) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, StringType, "formatNumber",
          Seq(Cast(n, DoubleType)), Seq(DoubleType))
      case Seq(x, d) => FormatNumber(x, d)
      case args => throw new IllegalArgumentException(
        s"format_number expects 1-2 args, got ${args.length}")
    },
    // map_top_n(m, n): keep the n entries with the largest values —
    // swap entries to (value, key) structs, descending struct sort
    // (value desc, key desc tiebreak; Trino leaves ties unspecified),
    // slice, swap back. Pure codegen'd lambda composition
    "map_top_n" -> {
      case Seq(m, n) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        val swapped = ArrayTransform(MapEntries(m), LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("v"), UnresolvedExtractValue(e, Literal("value")),
            Literal("k"), UnresolvedExtractValue(e, Literal("key")))), Seq(e)))
        val top = Slice(new SortArray(swapped, Literal(false)), Literal(1), n)
        val t = UnresolvedNamedLambdaVariable(Seq("t"))
        MapFromEntries(ArrayTransform(top, LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("key"), UnresolvedExtractValue(t, Literal("k")),
            Literal("value"), UnresolvedExtractValue(t, Literal("v")))), Seq(t))))
      case args => throw new IllegalArgumentException(
        s"map_top_n expects (map, n), got ${args.length} args")
    },
    // Trino's running-sum array function — a linear native expression
    // (Spark has no scan primitive; see NativeExprs.ArrayCumSum for the
    // exact null/overflow/decimal semantics)
    "array_cum_sum" -> {
      case Seq(a) => graft.functions.NativeExprs.ArrayCumSum(a)
      case args => throw new IllegalArgumentException(
        s"array_cum_sum expects 1 array arg, got ${args.length}")
    },
    // the KEYS of the n largest values (value desc, key desc tiebreak —
    // the same swap-sort-slice as map_top_n, projected to keys)
    "map_keys_by_top_n_values" -> {
      case Seq(m, n) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        val swapped = ArrayTransform(MapEntries(m), LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("v"), UnresolvedExtractValue(e, Literal("value")),
            Literal("k"), UnresolvedExtractValue(e, Literal("key")))), Seq(e)))
        val top = Slice(new SortArray(swapped, Literal(false)), Literal(1), n)
        val t = UnresolvedNamedLambdaVariable(Seq("t"))
        ArrayTransform(top, LambdaFunction(
          UnresolvedExtractValue(t, Literal("k")), Seq(t)))
      case args => throw new IllegalArgumentException(
        s"map_keys_by_top_n_values expects (map, n), got ${args.length} args")
    },
    // map_top_n_keys / map_top_n_values: n largest keys / values
    "map_top_n_keys" -> {
      case Seq(m, n) =>
        Slice(new SortArray(MapKeys(m), Literal(false)), Literal(1), n)
      case args => throw new IllegalArgumentException(
        s"map_top_n_keys expects (map, n), got ${args.length} args")
    },
    "map_top_n_values" -> {
      case Seq(m, n) =>
        Slice(new SortArray(MapValues(m), Literal(false)), Literal(1), n)
      case args => throw new IllegalArgumentException(
        s"map_top_n_values expects (map, n), got ${args.length} args")
    },
    // multimap_from_entries(arr): group the (k, v) structs by key into
    // map<k, array<v>>. Positional field access (structs keep Trino's
    // unnamed-row shape); O(distinct·n) per row — row-level arrays
    "multimap_from_entries" -> {
      case Seq(entries) =>
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        val e2 = UnresolvedNamedLambdaVariable(Seq("e2"))
        val e3 = UnresolvedNamedLambdaVariable(Seq("e3"))
        val k = UnresolvedNamedLambdaVariable(Seq("k"))
        val keys = ArrayDistinct(ArrayTransform(entries,
          LambdaFunction(GetStructField(e, 0), Seq(e))))
        MapFromEntries(ArrayTransform(keys, LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("key"), k,
            Literal("value"), ArrayTransform(
              ArrayFilter(entries, LambdaFunction(
                EqualNullSafe(GetStructField(e2, 0), k), Seq(e2))),
              LambdaFunction(GetStructField(e3, 1), Seq(e3))))),
          Seq(k))))
      case args => throw new IllegalArgumentException(
        s"multimap_from_entries expects 1 arg, got ${args.length}")
    },
    // word_stem(w[, lang]): Snowball english (Porter2) stemmer — the
    // algorithm Trino's word_stem runs for 'en' (functions/Porter2.scala,
    // vector-pinned). Input lowercased; only 'en' supported, other
    // language codes raise (null under try())
    "word_stem" -> {
      case Seq(s) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          graft.functions.Porter2.getClass, StringType, "stemUtf8",
          Seq(Cast(s, StringType)), Seq(StringType))
      case Seq(s, lang) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          graft.functions.Porter2.getClass, StringType, "stemLang",
          Seq(Cast(s, StringType), Cast(lang, StringType)),
          Seq(StringType, StringType))
      case args => throw new IllegalArgumentException(
        s"word_stem expects (word[, language]), got ${args.length} args")
    },
    // trino_xxhash64: Trino's xxhash64(varbinary) → 8-byte VARBINARY of
    // the STANDARD seed-0 XXH64 (Spark's same-name builtin is a seed-42
    // BIGINT multi-arg hash — the preprocess rename scopes Trino
    // semantics to the guarded execute_query surface, like trino_split).
    // Spark's XXH64 kernel is the reference algorithm, so seed 0 over
    // the raw bytes reproduces Trino's value bit-exactly (vector-pinned)
    "trino_xxhash64" -> {
      case Seq(b) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          BinFuncs.getClass, org.apache.spark.sql.types.BinaryType,
          "toBigEndian64",
          Seq(XxHash64(Seq(Cast(b, org.apache.spark.sql.types.BinaryType)), 0L)),
          Seq(LongType))
      case args => throw new IllegalArgumentException(
        s"xxhash64 expects 1 arg, got ${args.length}")
    },
    // reduce_agg(x, init, inputFn, combineFn): fold the group through
    // the input lambda over the collected values (NULL xs skipped, like
    // Trino's aggregate-input rule; element order unspecified in both
    // engines). The combine lambda exists for distributed partials,
    // which a single fold never needs. SCALE NOTE: materializes each
    // GROUP as an array — fine for grouped aggregation, don't use as a
    // corpus-wide global aggregate
    "reduce_agg" -> {
      case Seq(x, init, inputFn: LambdaFunction, _: LambdaFunction) =>
        ArrayAggregate(
          new org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(x)
            .toAggregateExpression(),
          init, inputFn,
          LambdaFunction.identity)
      case args => throw new IllegalArgumentException(
        s"reduce_agg expects (x, initial, input_fn, combine_fn), got ${args.length} args")
    },
    // map_union(m): aggregate union of maps; first-seen value wins on
    // key collision (Trino: unspecified which), keys sorted for
    // deterministic output like the other map aggregates
    "map_union" -> {
      case Seq(m) =>
        graft.functions.MapAggExprs.MapUnionAgg(m).toAggregateExpression()
      case args => throw new IllegalArgumentException(
        s"map_union expects 1 arg, got ${args.length}")
    },
    // approx_set(x[, e]) → Spark's DataSketches HLL aggregate. Trino's
    // max standard error e maps to lgConfigK via e ≈ 1.04/√2^lgK
    // (Trino default 0.01625 lands exactly on Spark's default lgK=12).
    // Downstream spellings differ by design: estimate/merge are
    // hll_sketch_estimate / hll_union_agg (documented in DIALECT.md) —
    // `cardinality`/`merge` stay array/KLL names, no type dispatch
    // before resolution.
    "approx_set" -> {
      case Seq(x) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(
          x, Literal(12))
      case Seq(x, e) =>
        val err = lit(e, "max standard error").toDouble
        if (err < 0.0040625 || err > 0.26) throw new IllegalArgumentException(
          s"approx_set: max standard error must be in [0.0040625, 0.26], got $err")
        val lgK = math.max(4, math.min(21,
          math.ceil(math.log(math.pow(1.04 / err, 2)) / math.log(2)).toInt))
        new org.apache.spark.sql.catalyst.expressions.aggregate.HllSketchAgg(
          x, Literal(lgK))
      case args => throw new IllegalArgumentException(
        s"approx_set expects 1-2 args, got ${args.length}")
    },
    // map_remove_null_values(m): drop entries whose value is NULL
    "map_remove_null_values" -> {
      case Seq(m) =>
        val k = UnresolvedNamedLambdaVariable(Seq("k"))
        val v = UnresolvedNamedLambdaVariable(Seq("v"))
        MapFilter(m, LambdaFunction(IsNotNull(v), Seq(k, v)))
      case args => throw new IllegalArgumentException(
        s"map_remove_null_values expects 1 arg, got ${args.length}")
    },
    // array_split_into_chunks(arr, n): consecutive max-n-element
    // subarrays (last may be shorter); empty input → empty output
    "array_split_into_chunks" -> {
      case Seq(arr, nExpr) =>
        val n = litInt(nExpr, "n")
        if (n < 1) throw new IllegalArgumentException(
          s"array_split_into_chunks: n must be >= 1, got $n")
        val i = UnresolvedNamedLambdaVariable(Seq("i"))
        val chunks = ArrayTransform(
          new Sequence(Literal(1), Greatest(Seq(Literal(1), Size(arr))),
            Some(Literal(n))),
          LambdaFunction(Slice(arr, i, Literal(n)), Seq(i)))
        If(LessThanOrEqual(Size(arr), Literal(0)),
          Slice(chunks, Literal(1), Literal(0)), chunks)
      case args => throw new IllegalArgumentException(
        s"array_split_into_chunks expects (array, n), got ${args.length} args")
    },
    // array_top_n(arr, n): the n largest elements, descending (nulls
    // sort last and can only appear when fewer than n non-nulls exist)
    "array_top_n" -> {
      case Seq(arr, n) => Slice(new SortArray(arr, Literal(false)), Literal(1), n)
      case args => throw new IllegalArgumentException(
        s"array_top_n expects (array, n), got ${args.length} args")
    },
    // array_least_frequent(arr[, n]): n least frequent non-null
    // elements, ascending frequency, smaller element first on ties —
    // (count, element) struct sort, the array_duplicates counting
    // pattern (O(distinct·n) per row; row-level arrays)
    "array_least_frequent" -> {
      case args0 if args0.length == 1 || args0.length == 2 =>
        val arr = args0.head
        val n = if (args0.length == 2) args0(1) else Literal(1)
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        val x = UnresolvedNamedLambdaVariable(Seq("x"))
        val y = UnresolvedNamedLambdaVariable(Seq("y"))
        val t = UnresolvedNamedLambdaVariable(Seq("t"))
        val nonNull = ArrayFilter(ArrayDistinct(arr),
          LambdaFunction(IsNotNull(x), Seq(x)))
        val withCounts = ArrayTransform(nonNull, LambdaFunction(
          CreateNamedStruct(Seq(
            Literal("c"), Size(ArrayFilter(arr,
              LambdaFunction(EqualNullSafe(y, x), Seq(y)))),
            Literal("e"), x)), Seq(x)))
        ArrayTransform(
          Slice(new SortArray(withCounts, Literal(true)), Literal(1), n),
          LambdaFunction(UnresolvedExtractValue(t, Literal("e")), Seq(t)))
      case args => throw new IllegalArgumentException(
        s"array_least_frequent expects (array[, n]), got ${args.length} args")
    },
    // ngrams(arr, n): sliding subsequences, composed from codegen'd
    // slice over a sequence of start offsets
    "ngrams" -> {
      case Seq(arr, nExpr) =>
        val n = litInt(nExpr, "n")
        if (n < 1) throw new IllegalArgumentException(
          s"ngrams: n must be >= 1, got $n")
        val i = UnresolvedNamedLambdaVariable(Seq("i"))
        ArrayTransform(
          new Sequence(Literal(1),
            Greatest(Seq(Literal(1), Subtract(Size(arr), Literal(n - 1))))),
          LambdaFunction(Slice(arr, i, Literal(n)), Seq(i)))
      case args => throw new IllegalArgumentException(
        s"ngrams expects (array, n), got ${args.length} args")
    })

  /** json_array_get from the end: element `len - k` (k ≥ 1), NULL when
    * the array is shorter than k (or j is not an array — length null). */
  private def jsonArrayGetNegative(j: Expression, k: Expression): Expression = {
    val idx = Subtract(Cast(LengthOfJsonArray(j), LongType), k)
    If(Or(IsNull(idx), LessThan(idx, Literal(0L))),
      Literal.create(null, StringType),
      GetJsonObject(j, Concat(Seq(Literal("$["),
        Cast(idx, StringType), Literal("]")))))
  }

  /** Wilson score interval bound as a sqrt composition (stays codegen'd).
    * p̂ = s/n; bound = (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n). */
  private def wilsonBound(s: Expression, n: Expression, z: Expression,
      lower: Boolean): Expression = {
    val sd = Cast(s, DoubleType)
    val nd = Cast(n, DoubleType)
    val zd = Cast(z, DoubleType)
    val p = Divide(sd, nd)
    val z2n = Divide(Multiply(zd, zd), nd)
    val center = Add(p, Divide(z2n, Literal(2.0)))
    val margin = Multiply(zd, Sqrt(Add(
      Divide(Multiply(p, Subtract(Literal(1.0), p)), nd),
      Divide(z2n, Multiply(Literal(4.0), nd)))))
    val num = if (lower) Subtract(center, margin) else Add(center, margin)
    Divide(num, Add(Literal(1.0), z2n))
  }

  /** A 3-double-arg StaticInvoke into [[StatFuncs]] — codegen'd static
    * call, null-propagating, no UDF. */
  private def statFn3(method: String, name: String): Seq[Expression] => Expression = {
    case Seq(a, b, c) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        StatFuncs.getClass, DoubleType, method,
        Seq(Cast(a, DoubleType), Cast(b, DoubleType), Cast(c, DoubleType)),
        Seq(DoubleType, DoubleType, DoubleType))
    case args => throw new IllegalArgumentException(
      s"$name expects 3 args, got ${args.length}")
  }

  /** An n-double-arg StaticInvoke into [[StatFuncs]] with an explicit
    * return type (the Poisson quantile returns INTEGER). */
  private def statFnN(method: String, name: String, n: Int,
      out: org.apache.spark.sql.types.DataType = DoubleType)
      : Seq[Expression] => Expression = {
    case args if args.length == n =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        StatFuncs.getClass, out, method,
        args.map(Cast(_, DoubleType)), Seq.fill(n)(DoubleType))
    case args => throw new IllegalArgumentException(
      s"$name expects $n args, got ${args.length}")
  }

  /** hmac_*(data, key): StaticInvoke into [[BinFuncs.hmac]] with the JDK
    * algorithm name baked in as a literal. String args cast to UTF-8
    * bytes (Trino's signatures take varbinary). */
  private def hmacFn(algo: String, name: String): Seq[Expression] => Expression = {
    case Seq(data, key) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        BinFuncs.getClass, org.apache.spark.sql.types.BinaryType, "hmac",
        Seq(Cast(data, org.apache.spark.sql.types.BinaryType),
          Cast(key, org.apache.spark.sql.types.BinaryType), Literal(algo)),
        Seq(org.apache.spark.sql.types.BinaryType,
          org.apache.spark.sql.types.BinaryType, StringType))
    case args => throw new IllegalArgumentException(
      s"$name expects (data, key), got ${args.length} args")
  }

  /** A 1-arg StaticInvoke into [[BinFuncs]] with explicit in/out types. */
  private def binFn1(method: String, name: String,
      in: org.apache.spark.sql.types.DataType,
      out: org.apache.spark.sql.types.DataType): Seq[Expression] => Expression = {
    case Seq(x) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        BinFuncs.getClass, out, method, Seq(Cast(x, in)), Seq(in))
    case args => throw new IllegalArgumentException(
      s"$name expects 1 arg, got ${args.length}")
  }

  private val durationPattern =
    java.util.regex.Pattern.compile("""\s*(\d+(?:\.\d+)?)\s*(ns|us|ms|s|m|h|d)\s*""")

  /** Trino duration literal → DayTimeIntervalType(DAY, SECOND) literal
    * (micros). Sub-microsecond parts round to the nearest micro. */
  private def parseDurationLiteral(s: String): Expression = {
    val m = durationPattern.matcher(s)
    if (!m.matches()) throw new IllegalArgumentException(
      s"duration is not a valid data duration string: $s")
    val value = java.lang.Double.parseDouble(m.group(1))
    val microsPerUnit = m.group(2) match {
      case "ns" => 1e-3
      case "us" => 1.0
      case "ms" => 1e3
      case "s"  => 1e6
      case "m"  => 60e6
      case "h"  => 3600e6
      case "d"  => 86400e6
    }
    val micros = math.rint(value * microsPerUnit)
    if (micros > Long.MaxValue) throw new IllegalArgumentException(
      s"duration overflows interval day to second: $s")
    Literal(micros.toLong,
      DayTimeIntervalType(DayTimeIntervalType.DAY, DayTimeIntervalType.SECOND))
  }

  /** Trino max_by/min_by(x, y, n): the n x-values with the largest /
    * smallest y, ordered by y desc / asc. Composed as
    * collect_list(struct(y, x)) → filter null y (Trino skips them) →
    * array_sort (reverse for largest) → slice n → project x. The
    * collected state is group-sized — fine for top-n analytics; the
    * sort happens once per group after aggregation, not per row. */
  private def topNBy(x: Expression, y: Expression, n: Expression,
      largest: Boolean): Expression = {
    val nLit = n match {
      case Literal(v, _) if v != null && v.toString.matches("\\d+") && v.toString.toInt > 0 =>
        v.toString.toInt
      case _ => throw new IllegalArgumentException(
        "max_by/min_by third argument must be a positive integer literal")
    }
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    // CreateStruct would name fields after attribute children (score,
    // name, …) — pin them explicitly so the lambdas can extract by name
    val collected = new org.apache.spark.sql.catalyst.expressions.aggregate.CollectList(
      CreateNamedStruct(Seq(Literal("k"), y, Literal("v"), x))).toAggregateExpression()
    val s = UnresolvedNamedLambdaVariable(Seq("s"))
    val noNullY = ArrayFilter(collected,
      LambdaFunction(IsNotNull(UnresolvedExtractValue(s, Literal("k"))), Seq(s)))
    val sorted = new ArraySort(noNullY)
    val ordered = if (largest) Reverse(sorted) else sorted
    val t = UnresolvedNamedLambdaVariable(Seq("t"))
    ArrayTransform(Slice(ordered, Literal(1), Literal(nLit)),
      LambdaFunction(UnresolvedExtractValue(t, Literal("v")), Seq(t)))
  }

  /** Regex-quote a split delimiter: literals via Pattern.quote (handles
    * embedded \E correctly); non-literal expressions wrapped \Q…\E
    * (an embedded \E in runtime data is not re-escaped — documented). */
  private def quoteDelim(d: Expression): Expression = d match {
    case Literal(v, _) if v != null =>
      Literal(java.util.regex.Pattern.quote(v.toString))
    case e => Concat(Seq(Literal("\\Q"), e, Literal("\\E")))
  }

  /** Trino human_readable_seconds: round to whole seconds, decompose
    * into weeks/days/hours/minutes/seconds, join non-zero units with
    * ", " (singular/plural per unit), "0 seconds" for zero. */
  private def humanReadableSeconds(n: Expression): Expression = {
    val total = Cast(Round(Cast(n, DoubleType), Literal(0)), LongType)
    val abs = Abs(total)
    def part(amount: Expression, unit: String): Expression =
      If(GreaterThan(amount, Literal(0L)),
        Concat(Seq(Cast(amount, StringType),
          If(EqualTo(amount, Literal(1L)), Literal(s" $unit"), Literal(s" ${unit}s")))),
        Literal(""))
    val weeks = IntegralDivide(abs, Literal(604800L))
    val days = IntegralDivide(Pmod(abs, Literal(604800L)), Literal(86400L))
    val hours = IntegralDivide(Pmod(abs, Literal(86400L)), Literal(3600L))
    val minutes = IntegralDivide(Pmod(abs, Literal(3600L)), Literal(60L))
    val seconds = Pmod(abs, Literal(60L))
    val joined = ArrayJoin(
      ArrayFilter(
        CreateArray(Seq(part(Cast(weeks, LongType), "week"),
          part(Cast(days, LongType), "day"), part(Cast(hours, LongType), "hour"),
          part(Cast(minutes, LongType), "minute"), part(seconds, "second"))),
        LambdaFunction(
          Not(EqualTo(UnresolvedNamedLambdaVariable(Seq("p")), Literal(""))),
          Seq(UnresolvedNamedLambdaVariable(Seq("p"))))),
      Literal(", "), None)
    If(EqualTo(total, Literal(0L)), Literal("0 seconds"), joined)
  }

  /** Joda-Time pattern (Trino format_datetime) → JVM DateTimeFormatter
    * pattern. Quoted literal sections ('...' with '' escapes) copy
    * verbatim; 'Y' is remapped to 'y' (Joda 'Y' is year-of-era; the JVM
    * letter means week-based year, which passed through would silently
    * shift dates around New Year). 'x' (weekyear), 'w' (week of
    * weekyear), 'e' (ISO day-of-week number) and 'C' (century) have no
    * Spark-legal pattern letter — Spark's formatter forbids every
    * week-based field ({Y,W,w,u,e,c}) — and are rejected with a clear
    * error instead of Spark's opaque upgrade error. All other letters
    * coincide (yMdHmsSaEGKkhDz...). */
  private[dialect] def jodaToJavaPattern(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < fmt.length) {
      val c = fmt(i)
      if (c == '\'') {
        if (i + 1 < fmt.length && fmt(i + 1) == '\'') {
          out.append("''"); i += 2        // escaped literal quote
        } else { inQuote = !inQuote; out.append(c); i += 1 }
      } else if (inQuote) { out.append(c); i += 1 }
      else c match {
        case 'Y' => out.append('y'); i += 1
        case 'x' | 'w' | 'e' | 'C' => throw new IllegalArgumentException(
          s"format_datetime: Joda pattern token '$c' has no Spark equivalent " +
            "(Spark's formatter forbids week-based and numeric day-of-week " +
            "letters; see DIALECT.md)")
        case other => out.append(other); i += 1
      }
    }
    out.toString
  }

  /** MySQL/Trino `%`-token date format → JVM DateTimeFormatter pattern.
    * Literal runs are quoted (JVM patterns reserve all letters). */
  private[dialect] def mysqlToJavaPattern(fmt: String): String = {
    val tokens = Map(
      'a' -> "EEE", 'b' -> "MMM", 'c' -> "M", 'd' -> "dd", 'e' -> "d",
      'f' -> "SSSSSS", 'H' -> "HH", 'h' -> "hh", 'I' -> "hh", 'i' -> "mm",
      'j' -> "DDD", 'k' -> "H", 'l' -> "h", 'M' -> "MMMM", 'm' -> "MM",
      'p' -> "a", 'r' -> "hh:mm:ss a", 'S' -> "ss", 's' -> "ss",
      'T' -> "HH:mm:ss", 'v' -> "ww", 'W' -> "EEEE", 'Y' -> "yyyy",
      'y' -> "yy")
    val out = new StringBuilder
    val litRun = new StringBuilder
    def flushLit(): Unit = if (litRun.nonEmpty) {
      val s = litRun.toString
      if (s.exists(c => c.isLetter || c == '\''))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      litRun.setLength(0)
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt(i) == '%' && i + 1 < fmt.length) {
        val c = fmt(i + 1)
        if (c == '%') litRun.append('%')
        else tokens.get(c) match {
          case Some(p) => flushLit(); out.append(p)
          case None => litRun.append(c)   // MySQL: unknown %x → literal x
        }
        i += 2
      } else { litRun.append(fmt(i)); i += 1 }
    }
    flushLit()
    out.toString
  }

  /** Teradata-style (Trino to_char/to_date/to_timestamp) datetime
    * format → JVM pattern. Tokens are case-insensitive per Trino's
    * Teradata compatibility docs: yyyy yy mm dd hh24 hh mi ss.
    * Any other letter is rejected — passing a JVM/MySQL pattern here
    * silently means something else, the date_parse lesson. */
  private[dialect] def teradataToJvmPattern(fmt: String): String = {
    val lower = fmt.toLowerCase(java.util.Locale.ROOT)
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (lower.startsWith("yyyy", i)) { out.append("yyyy"); i += 4 }
      else if (lower.startsWith("hh24", i)) { out.append("HH"); i += 4 }
      else if (lower.startsWith("yy", i)) { out.append("yy"); i += 2 }
      else if (lower.startsWith("mm", i)) { out.append("MM"); i += 2 }
      else if (lower.startsWith("dd", i)) { out.append("dd"); i += 2 }
      else if (lower.startsWith("hh", i)) { out.append("hh"); i += 2 }
      else if (lower.startsWith("mi", i)) { out.append("mm"); i += 2 }
      else if (lower.startsWith("ss", i)) { out.append("ss"); i += 2 }
      else {
        val c = fmt.charAt(i)
        if (c.isLetter) throw new IllegalArgumentException(
          s"unsupported Teradata datetime token at '$c' in '$fmt' " +
            "(supported: yyyy yy mm dd hh24 hh mi ss)")
        if (c == '\'') out.append("''") else out.append(c)
        i += 1
      }
    }
    out.toString
  }

  private val unitNames = Set("year", "quarter", "month", "week", "day",
    "hour", "minute", "second", "millisecond", "microsecond")
  private val dateFnPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(date_add|date_diff|dateadd|datediff|timestampadd|timestampdiff)(\\s*\\(\\s*)'([a-zA-Z_]+)'")

  /** Pre-parse rewrite for Trino's quoted datetime units:
    * `date_add('day', 1, ts)` → `date_add(day, 1, ts)`. Spark's parser
    * claims these function names before FunctionRegistry lookup and
    * only accepts identifier units. Positions inside string literals,
    * quoted identifiers, or comments are left untouched (re-uses the
    * guard's masking state machine to find them). */
  private val timeWithTzPattern = java.util.regex.Pattern.compile(
    "(?i)\\btime(?:\\s*\\(\\s*\\d+\\s*\\))?\\s+with\\s+time\\s+zone\\b")

  // normalize(s, NFD): Trino's form argument is a bare keyword, which
  // Spark's analyzer would try (and fail) to resolve as a column BEFORE
  // the function builder runs — quote it into a string literal here.
  // First-arg expressions with one nesting level of parens are covered;
  // deeper nesting can use the string-literal spelling (DIALECT.md).
  private val normalizeFormPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(normalize\\s*\\(\\s*[^()]*(?:\\([^()]*\\)[^()]*)*,\\s*)(NFC|NFD|NFKC|NFKD)(\\s*\\))")

  // Divergent-semantics builtins renamed to their trino_* shims on the
  // guarded surface only: `split(` → `trino_split(` (delimiter is a
  // literal string in Trino, a regex in Spark), `xxhash64(` →
  // `trino_xxhash64(` (Trino: 8-byte VARBINARY of standard seed-0
  // XXH64; Spark: seed-42 BIGINT), and `repeat(` → `trino_repeat(`
  // (Trino: repeat(element, n) → array; Spark: string repetition).
  // Negative lookbehind keeps split_part / regexp_split / array_repeat
  // / the trino_* names themselves untouched.
  private val splitCallPattern = java.util.regex.Pattern.compile(
    "(?i)(?<![A-Za-z0-9_])(split|xxhash64|repeat)(\\s*\\()")

  // Trino `TABLESAMPLE BERNOULLI(p)` / `SYSTEM(p)` → Spark
  // `TABLESAMPLE (p PERCENT)`. Spark's PERCENT sampling is per-row
  // Bernoulli — exact semantics for BERNOULLI; for SYSTEM (Trino:
  // per-split coin flip, "approximate" by its own docs) it is the
  // closest row-level approximation and both are nondeterministic
  // samples, so the mapping is documented rather than oracle-checked.
  private val tablesamplePattern = java.util.regex.Pattern.compile(
    "(?i)\\bTABLESAMPLE\\s+(BERNOULLI|SYSTEM)\\s*\\(\\s*([0-9]+(?:\\.[0-9]+)?)\\s*\\)")

  /** Alternate textual readings for forms that are AMBIGUOUS without
    * types. The default reading runs first; when it fails analysis with
    * the matching signature, QueryService retries with the flag set
    * (type-aware retry — the analyzer is the type oracle the textual
    * rewriter lacks).
    *  - unnestRowSplat: UNNEST(e) AS t(a, b) → inline(e) (array of
    *    2-field rows, splatted) instead of explode(e) (map).
    *  - tiesInBlock: FETCH … WITH TIES ranks INSIDE the query block
    *    (key resolvable from the block's inputs, e.g. an unprojected
    *    column) instead of over its output (key an output alias). */
  case class PreprocessOpts(
    unnestRowSplat: Boolean = false,
    tiesInBlock: Boolean = false)

  def preprocess(sql0: String): String = preprocess(sql0, PreprocessOpts())

  def preprocess(sql0: String, opts: PreprocessOpts): String = {
    // FIRST: restore Trino literal semantics. Trino treats backslash as
    // an ORDINARY character inside string literals ('' is the only
    // escape); Spark's parser processes C-style escapes, silently
    // turning a user's regexp '\d+' into 'd+'. Doubling every backslash
    // inside single-quoted literals makes Spark's unescape an exact
    // inverse on them while '' still collapses — both Trino-correct.
    // (spark.sql.parser.escapedStringLiterals is NOT the fix: it also
    // stops '' from collapsing, which Trino requires.)
    val sql = escapeLiteralBackslashes(sql0)
    // `time with time zone` has no Spark equivalent (DIALECT.md): fail
    // with a clear, actionable error instead of Spark's opaque parse
    // error. `timestamp with time zone` never matches: \btime demands
    // whitespace-or-precision right after the word, which "timestamp"'s
    // trailing "stamp" fails.
    if (SqlText.firstUnmasked(sql, timeWithTzPattern).isDefined)
      throw new IllegalArgumentException(
        "type `time with time zone` is not supported by this engine: Spark has " +
          "no equivalent type. Model it as a TIME column plus a zone/offset column " +
          "(see DIALECT.md), or use `timestamp with time zone`.")
    val afterDateFns = SqlText.replaceUnmasked(sql, dateFnPattern) { m =>
      if (unitNames(m.group(3).toLowerCase)) m.group(1) + m.group(2) + m.group(3)
      else m.group(0)
    }
    val afterNormalize =
      SqlText.replaceUnmasked(afterDateFns, normalizeFormPattern, _.start(2)) { m =>
        s"${m.group(1)}'${m.group(2)}'${m.group(3)}"
      }
    val afterSplit = SqlText.replaceUnmasked(afterNormalize, splitCallPattern) { m =>
      "trino_" + m.group(1).toLowerCase + m.group(2)
    }
    val afterSample = SqlText.replaceUnmasked(afterSplit, tablesamplePattern) { m =>
      s"TABLESAMPLE (${m.group(2)} PERCENT)"
    }

    rewriteAtTimeZone(rewriteFetchFirst(rewriteTypedLiterals(
      rewriteCastTypes(rewriteQuantified(rewriteArrayAggOrderBy(
        rewriteJsonReturning(rewriteJsonConstructors(rewriteJsonExistsClauses(
          rewriteJsonValueOnClauses(rewriteJsonQueryClauses(rewriteJsonTable(
            rewriteUnnest(afterSample, opts))))))))))), opts))
  }

  // SQL/JSON json_query wrapper/quote clauses — `WITHOUT [ARRAY]
  // WRAPPER` (default) | `WITH [CONDITIONAL|UNCONDITIONAL] [ARRAY]
  // WRAPPER`, and `KEEP QUOTES` (default) | `OMIT QUOTES [ON SCALAR
  // STRING]` — have no Spark spelling. Strip them and pass a 2-char
  // mode literal ('<N|C|U><K|O>') as a third argument to the JsonFuncs
  // shim. The SQL standard (and Trino) forbid OMIT QUOTES under a
  // wrapper — rejected here too.
  private val jsonQueryCallPattern = java.util.regex.Pattern.compile(
    "(?i)\\bjson_query\\s*\\(")
  private val jsonWrapperPattern = java.util.regex.Pattern.compile(
    "(?i)\\s+(WITHOUT|WITH)(\\s+CONDITIONAL|\\s+UNCONDITIONAL)?" +
    "(\\s+ARRAY)?\\s+WRAPPER")
  private val jsonQuotesPattern = java.util.regex.Pattern.compile(
    "(?i)\\s+(KEEP|OMIT)\\s+QUOTES(\\s+ON\\s+SCALAR\\s+STRING)?")
  // json_query's SQL/JSON behavior clauses: {ERROR | NULL | EMPTY
  // ARRAY | EMPTY OBJECT} ON {EMPTY | ERROR} (no DEFAULT expr form —
  // that's json_value's grammar, not json_query's)
  private val jsonQueryBehaviorPattern = java.util.regex.Pattern.compile(
    "(?i)\\s+(ERROR|NULL|EMPTY\\s+ARRAY|EMPTY\\s+OBJECT)" +
    "\\s+ON\\s+(EMPTY|ERROR)\\b")

  private def rewriteJsonQueryClauses(sql0: String): String =
    SqlText.rewriteCalls(sql0, jsonQueryCallPattern) { call =>
      val content = call.content
      val cmask = call.contentMask
      // depth-0, unmasked clause matches only (a clause keyword
      // inside a nested call or literal is not ours)
      def depth0(at: Int): Boolean = SqlText.atTop(content, cmask, at)
      var wrapMode = ' '
      var quoteMode = ' '
      var clauseStart = content.length
      val wm = jsonWrapperPattern.matcher(content)
      while (wm.find()) if (depth0(wm.start)) {
        val variant = Option(wm.group(2)).map(_.trim.toUpperCase)
        wrapMode =
          if (wm.group(1).equalsIgnoreCase("WITHOUT")) {
            if (variant.nonEmpty) throw new IllegalArgumentException(
              "json_query: WITHOUT WRAPPER takes no " +
                "CONDITIONAL/UNCONDITIONAL variant")
            'N'
          } else if (variant.contains("CONDITIONAL")) 'C'
          else 'U' // WITH [UNCONDITIONAL] [ARRAY] WRAPPER
        clauseStart = math.min(clauseStart, wm.start)
      }
      val qm = jsonQuotesPattern.matcher(content)
      while (qm.find()) if (depth0(qm.start)) {
        quoteMode = if (qm.group(1).equalsIgnoreCase("OMIT")) 'O' else 'K'
        clauseStart = math.min(clauseStart, qm.start)
      }
      var emptyMode = ' '
      var errorMode = ' '
      val bm = jsonQueryBehaviorPattern.matcher(content)
      while (bm.find()) if (depth0(bm.start)) {
        val b = bm.group(1).toUpperCase.replaceAll("\\s+", " ") match {
          case "ERROR" => 'E'
          case "NULL" => 'N'
          case "EMPTY ARRAY" => 'A'
          case _ => 'B' // EMPTY OBJECT ('O' is taken by OMIT quotes)
        }
        if (bm.group(2).equalsIgnoreCase("EMPTY")) {
          if (emptyMode != ' ') throw new IllegalArgumentException(
            "json_query: duplicate ON EMPTY clause")
          emptyMode = b
        } else {
          if (errorMode != ' ') throw new IllegalArgumentException(
            "json_query: duplicate ON ERROR clause")
          errorMode = b
        }
        clauseStart = math.min(clauseStart, bm.start)
      }
      if (wrapMode == ' ' && quoteMode == ' ' &&
          emptyMode == ' ' && errorMode == ' ') {
        None // no clauses on this call — leave it for the plain 2-arg shim
      } else {
        if (quoteMode == 'O' && (wrapMode == 'C' || wrapMode == 'U'))
          throw new IllegalArgumentException(
            "json_query: OMIT QUOTES cannot be combined with WITH " +
              "ARRAY WRAPPER (SQL/JSON rule; Trino rejects it too)")
        val mode = s"${if (wrapMode == ' ') 'N' else wrapMode}" +
          s"${if (quoteMode == ' ') 'K' else quoteMode}" +
          s"${if (emptyMode == ' ') 'N' else emptyMode}" +
          s"${if (errorMode == ' ') 'N' else errorMode}"
        val args0 = content.substring(0, clauseStart)
        // grammar puts `RETURNING type` BEFORE the clauses — keep
        // it trailing in the splice so the RETURNING pass (which
        // runs after this one) still sees it
        val retIdx = SqlText.topStarts(args0, cmask, returningPattern)
          .lastOption.getOrElse(-1)
        val (args, retSeg) =
          if (retIdx < 0) (args0.trim, "")
          else (args0.substring(0, retIdx).trim.stripSuffix(","),
            " " + args0.substring(retIdx).trim)
        val tail = content.substring(clauseStart)
        // everything in the tail must be clause text we consumed
        val residue = jsonQueryBehaviorPattern.matcher(
          jsonQuotesPattern.matcher(
            jsonWrapperPattern.matcher(tail).replaceAll(""))
            .replaceAll("")).replaceAll("").trim
        if (residue.nonEmpty) throw new IllegalArgumentException(
          s"json_query: unsupported trailing clause '$residue' — " +
            "supported: wrapper/quote clauses and {ERROR | NULL | " +
            "EMPTY ARRAY | EMPTY OBJECT} ON {EMPTY | ERROR}")
        Some(s"json_query($args, '$mode'$retSeg)")
      }
    }

  // SQL/JSON json_value ON EMPTY / ON ERROR clauses — `{NULL | ERROR |
  // DEFAULT expr} ON EMPTY` and the same ON ERROR — have no Spark
  // spelling. Strip them and pass a 2-char behavior literal
  // ('<N|D|E><N|D|E>', empty then error) plus the two default
  // expressions (NULL placeholders when unused) to the JsonFuncs shim;
  // an optional RETURNING segment is left in place for the
  // rewriteJsonReturning pass that runs after this one. EMPTY = the
  // path matched nothing; ERROR = malformed input or a non-scalar
  // match (the SQL/JSON classes the shim's NULL defaults collapse).
  private val jsonValueOnPattern = java.util.regex.Pattern.compile(
    "(?i)\\bON\\s+(EMPTY|ERROR)\\b")
  private val jsonValueBehaviorPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(NULL|ERROR|DEFAULT)\\b")

  private def rewriteJsonValueOnClauses(sql0: String): String =
    SqlText.rewriteCalls(sql0, jsonValuePattern) { call =>
      val content = call.content
      val cmask = call.contentMask
      def depth0(at: Int): Boolean = SqlText.atTop(content, cmask, at)
      // depth-0 ON EMPTY / ON ERROR hits, in order
      val ons = {
        val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
        val om = jsonValueOnPattern.matcher(content)
        while (om.find()) if (depth0(om.start))
          b += ((om.start, om.end, om.group(1).toUpperCase))
        b.toSeq
      }
      if (ons.isEmpty) None // no clauses on this call; scan the next one
      else {
        if (ons.map(_._3).distinct.size != ons.size)
          throw new IllegalArgumentException(
            "json_value: duplicate ON " + ons.map(_._3).head + " clause")
        // each clause's behavior: scan back from its ON keyword to
        // the previous clause end (or the args start) for the LAST
        // depth-0 NULL/ERROR adjacent to ON, else the DEFAULT whose
        // expression is the text in between
        var argsEnd = -1
        var emptyB = ('N', "NULL")
        var errorB = ('N', "NULL")
        var prevEnd = 0
        ons.foreach { case (os, oe, target) =>
          val bm = jsonValueBehaviorPattern.matcher(content)
          bm.region(prevEnd, os)
          var best: Option[(Int, Int, String)] = None
          while (bm.find()) if (depth0(bm.start)) {
            val kw = bm.group(1).toUpperCase
            val between = content.substring(bm.end, os).trim
            // `DEFAULT NULL ON EMPTY` is a DEFAULT whose expression
            // happens to be the NULL literal — don't let the bare
            // keyword scan steal it (it would leave a dangling
            // DEFAULT token inside the argument list)
            val beforeTok = content.substring(prevEnd, bm.start)
              .trim.toUpperCase
            val afterDefault = beforeTok.endsWith("DEFAULT") &&
              (beforeTok.length == 7 ||
                { val c = beforeTok.charAt(beforeTok.length - 8)
                  !Character.isLetterOrDigit(c) && c != '_' })
            if ((kw == "DEFAULT" && between.nonEmpty) ||
                ((kw == "NULL" || kw == "ERROR") && between.isEmpty &&
                  !afterDefault))
              best = Some((bm.start, bm.end, kw))
          }
          val (bs, be, kw) = best.getOrElse(throw new IllegalArgumentException(
            s"json_value: ON $target must be preceded by NULL, ERROR " +
              "or DEFAULT <expr>"))
          if (argsEnd < 0) argsEnd = bs
          val beh = kw match {
            case "NULL" => ('N', "NULL")
            case "ERROR" => ('E', "NULL")
            case _ => ('D', content.substring(be, os).trim)
          }
          if (target == "EMPTY") emptyB = beh else errorB = beh
          prevEnd = oe
        }
        val tailResidue = content.substring(ons.last._2).trim
        if (tailResidue.nonEmpty) throw new IllegalArgumentException(
          s"json_value: unexpected trailing text '$tailResidue' after " +
            "the ON clauses")
        // args may end with `RETURNING type` — keep it trailing so
        // the RETURNING pass (which runs after) still sees it.
        // (unpadded prefix: positions must stay content-relative
        // for the depth check)
        val args0 = content.substring(0, argsEnd)
        val retIdx = SqlText.topStarts(args0, cmask, returningPattern)
          .lastOption.getOrElse(-1)
        val (pre, retSeg) =
          if (retIdx < 0) (args0, "")
          else (args0.substring(0, retIdx).trim.stripSuffix(","),
            " " + args0.substring(retIdx).trim)
        val mode = s"${emptyB._1}${errorB._1}"
        Some(s"json_value($pre, '$mode', ${emptyB._2}, ${errorB._2}$retSeg)")
      }
    }

  // SQL/JSON `JSON_TABLE(j, 'path' COLUMNS(…) [{ERROR|EMPTY} ON
  // ERROR])` — the SQL:2016 table function, rewritten onto two chained
  // Spark LATERALs (probed: a lateral subquery may hold a correlated
  // generator, and a later lateral may reference an earlier one):
  //
  //   LATERAL (SELECT posexplode(graft_json_items(j, 'path'))) __jtK,
  //   LATERAL (SELECT <column exprs over __jtK.col/pos>) <user alias>
  //
  // COLUMNS supported: `name FOR ORDINALITY` (1-based), `name type
  // [FORMAT JSON] [PATH 'p'] [behaviors]` (json_value, or json_query
  // under FORMAT JSON — behavior/wrapper clause text rides verbatim
  // into the spliced call for the later passes, which is why this pass
  // runs FIRST among the json rewrites), and `name type EXISTS [PATH
  // 'p'] [behaviors]`. A column without PATH defaults to `$.name` per
  // the standard.
  //
  // `NESTED [PATH] 'p' [AS name] COLUMNS(…)` implements the SQL:2016
  // default plan — OUTER between parent and child, UNION between
  // siblings — at any depth, with one extra lateral per nesting
  // LEVEL: every nested node at depth d contributes a branch-tagged
  // item array `transform(graft_json_items(<parent item>, 'p'),
  // (x, i) -> named_struct('b', id, 'p', i, 'v', x))` (guarded by the
  // parent's branch tag for d >= 2), the level's arrays concat into
  // one `explode_outer` — empty concat = the OUTER all-NULL row,
  // sibling arrays back-to-back = UNION — and each nested column is
  // CASE-guarded on its node's tag so rows of other branches read
  // NULL. PLAN DEFAULT({OUTER|INNER}[, UNION]) is supported: INNER
  // switches to plain explode (empty level-concat drops the parent)
  // with a passthrough marker row (tag -1) below level 1 so
  // sibling-branch rows survive their siblings' inner grandchild
  // joins; CROSS and the per-node PLAN form reject loudly. Path
  // names (AS) are accepted and ignored (they only matter in the
  // per-node form). The table-level default is ERROR ON ERROR (the
  // row source raises on malformed JSON); EMPTY ON ERROR wraps every
  // row source, nested ones included, in try() — NULL items explode
  // to zero rows, the empty table.
  private val jsonTablePattern = java.util.regex.Pattern.compile(
    "(?i)\\bJSON_TABLE\\s*\\(")
  private val jsonTableColName = java.util.regex.Pattern.compile(
    "(?s)^([A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\")\\s+(.*)$")

  private def rewriteJsonTable(sql0: String): String = {
    var ctr = 0
    SqlText.rewriteCalls(sql0, jsonTablePattern) { call =>
      val content = call.content
      val frags = SqlText.splitTop(content)
      if (frags.length < 2) throw new IllegalArgumentException(
        "JSON_TABLE expects (json_expr, 'path' COLUMNS(…))")
      val head = frags.last
      val jsonExpr = frags.init.mkString(", ")
      val hm = java.util.regex.Pattern.compile(
        "(?is)^('(?:[^']|'')*')\\s+COLUMNS\\s*\\((.*)$").matcher(head)
      if (!hm.matches()) throw new IllegalArgumentException(
        "JSON_TABLE: expected a string-literal row path followed by " +
          s"COLUMNS(…), got: ${head.take(80)}")
      val rowPath = hm.group(1)
      // COLUMNS(…) runs to ITS matching paren; the rest is the
      // optional table-level ON ERROR clause
      val cols = "(" + hm.group(2)
      val colsEnd = SqlText.closeParen(cols, SqlText.mask(cols), 0)
      if (colsEnd < 0) throw new IllegalArgumentException(
        "JSON_TABLE: unterminated COLUMNS(…)")
      val colsText = cols.substring(1, colsEnd)
      var afterCols = cols.substring(colsEnd + 1).trim
      // optional PLAN DEFAULT(…) between COLUMNS() and ON ERROR.
      // Supported: OUTER | INNER (parent-child join) and UNION |
      // CROSS (sibling combination) in either order; the full
      // per-node PLAN form rejects loudly.
      var innerJoin = false
      var crossSiblings = false
      if (afterCols.matches("(?is)^PLAN\\b.*")) {
        val pd = java.util.regex.Pattern.compile(
          "(?is)^PLAN\\s+DEFAULT\\s*\\(([^)]*)\\)\\s*(.*)$")
          .matcher(afterCols)
        if (!pd.matches()) throw new IllegalArgumentException(
          "JSON_TABLE: only PLAN DEFAULT({OUTER|INNER}[, " +
            "{UNION|CROSS}]) is supported (per-node PLAN clauses " +
            "are not); restructure as separate JSON_TABLE calls")
        val flags = pd.group(1).split(",").map(_.trim.toUpperCase)
          .filter(_.nonEmpty)
        flags.foreach {
          case "OUTER" => innerJoin = false
          case "INNER" => innerJoin = true
          case "UNION" => crossSiblings = false
          case "CROSS" => crossSiblings = true
          case f => throw new IllegalArgumentException(
            s"JSON_TABLE: unknown PLAN DEFAULT option '$f' — " +
              "expected OUTER, INNER, UNION, or CROSS")
        }
        if (flags.count(f => f == "OUTER" || f == "INNER") > 1)
          throw new IllegalArgumentException(
            "JSON_TABLE: PLAN DEFAULT takes at most one of " +
              "OUTER | INNER")
        if (flags.count(f => f == "UNION" || f == "CROSS") > 1)
          throw new IllegalArgumentException(
            "JSON_TABLE: PLAN DEFAULT takes at most one of " +
              "UNION | CROSS")
        afterCols = pd.group(2).trim
      }
      val emptyOnError =
        if (afterCols.isEmpty) false
        else if (afterCols.matches("(?is)^EMPTY\\s+ON\\s+ERROR$")) true
        else if (afterCols.matches("(?is)^ERROR\\s+ON\\s+ERROR$")) false
        else throw new IllegalArgumentException(
          s"JSON_TABLE: unexpected trailing text '$afterCols' — only " +
            "[PLAN DEFAULT(…)] {ERROR | EMPTY} ON ERROR may follow " +
            "COLUMNS(…)")
      val it = s"__jt$ctr"
      ctr += 1
      // nested machinery: one iterator per nesting LEVEL; branch
      // tag disambiguates sibling nodes sharing a level
      val emptyArr =
        "cast(array() as array<struct<b:int,p:int,v:string>>)"
      def lvlIt(d: Int) = s"${it}_n$d"
      def itemsOf(src: String, path: String): String = {
        val raw = s"graft_json_items($src, $path)"
        if (emptyOnError) s"try($raw)" else raw
      }
      // (id, depth, parentId, pathLit) per NESTED node, DFS order
      val nodes =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, String)]
      val outCols = scala.collection.mutable.ArrayBuffer.empty[String]
      var nextId = 0
      def columnExpr(mem: String, nodeId: Int, depth: Int): String = {
        val (src, ord, guard) =
          if (depth == 0) (s"$it.col", s"($it.pos + 1)", None)
          else if (crossSiblings)
            // CROSS rows carry one (p, v) SLOT per node; a node's
            // slot is NULL only on the OUTER all-NULL row
            (s"${lvlIt(1)}.nx.v$nodeId",
              s"(${lvlIt(1)}.nx.p$nodeId + 1)",
              Some(s"${lvlIt(1)}.nx.v$nodeId IS NOT NULL"))
          else (s"${lvlIt(depth)}.nx.v", s"(${lvlIt(depth)}.nx.p + 1)",
            Some(s"${lvlIt(depth)}.nx.b = $nodeId"))
        val nm = jsonTableColName.matcher(mem)
        if (!nm.matches()) throw new IllegalArgumentException(
          s"JSON_TABLE: cannot parse COLUMNS entry: $mem")
        val rawName = nm.group(1)
        val alias =
          if (rawName.startsWith("\""))
            "`" + rawName.substring(1, rawName.length - 1) + "`"
          else rawName
        val implicitPath =
          if (rawName.startsWith("\""))
            s"'$$[\"${rawName.substring(1, rawName.length - 1)}\"]'"
          else s"'$$.$rawName'"
        val rest = nm.group(2).trim
        val bare = if (rest.matches("(?is)^FOR\\s+ORDINALITY$")) ord
        else {
          // type = text before the first structural keyword
          val kw = java.util.regex.Pattern.compile(
            "(?i)\\b(FORMAT\\s+JSON|PATH\\b|EXISTS\\b|DEFAULT\\b|" +
            "(?:NULL|ERROR|EMPTY\\s+ARRAY|EMPTY\\s+OBJECT|TRUE|FALSE|" +
            "UNKNOWN)\\s+ON\\b)").matcher(rest)
          val rmask = SqlText.mask(rest)
          var cut = rest.length
          var isExists = false
          var isJson = false
          var pathAt = -1
          while (kw.find()) if (!rmask(kw.start)) {
            if (kw.start < cut) cut = kw.start
            val k = kw.group(1).toUpperCase.replaceAll("\\s+", " ")
            if (k == "EXISTS") isExists = true
            if (k == "FORMAT JSON") isJson = true
            if (k.startsWith("PATH") && pathAt < 0) pathAt = kw.start
          }
          val tpe = rest.substring(0, cut).trim
          if (tpe.isEmpty) throw new IllegalArgumentException(
            s"JSON_TABLE: COLUMNS entry $rawName needs a type")
          // the path literal + everything after it (behaviors) ride
          // verbatim; without PATH, behaviors may still follow
          val (pathLit, tail) =
            if (pathAt >= 0) {
              val afterPath = rest.substring(pathAt + 4).trim
              val pl = java.util.regex.Pattern.compile(
                "(?s)^('(?:[^']|'')*')(.*)$").matcher(afterPath)
              if (!pl.matches()) throw new IllegalArgumentException(
                s"JSON_TABLE: PATH needs a string literal in: $mem")
              (pl.group(1), pl.group(2))
            } else {
              // behaviors text = rest minus type and the EXISTS /
              // FORMAT JSON markers before them
              val behaviors = {
                var t = rest.substring(cut)
                t = t.replaceFirst("(?is)^\\s*EXISTS\\b", "")
                t = t.replaceFirst("(?is)^\\s*FORMAT\\s+JSON\\b", "")
                t
              }
              (implicitPath, behaviors)
            }
          val fn =
            if (isExists) "json_exists"
            else if (isJson) "json_query"
            else "json_value"
          s"CAST($fn($src, $pathLit$tail) AS " +
            s"${trinoTypeToSpark(tpe)})"
        }
        guard match {
          case Some(g) => s"CASE WHEN $g THEN $bare END AS $alias"
          case None    => s"$bare AS $alias"
        }
      }
      val nestedHead = java.util.regex.Pattern.compile(
        "(?is)^NESTED\\s+(?:PATH\\s+)?('(?:[^']|'')*')\\s*" +
          "(?:AS\\s+(?:[A-Za-z_][A-Za-z0-9_]*|\"[^\"]+\")\\s*)?" +
          "COLUMNS\\s*\\((.*)\\)\\s*$")
      def parseCols(text: String, nodeId: Int, depth: Int): Unit =
        SqlText.splitTop(text).foreach { mem =>
          if (mem.matches("(?is)^NESTED\\b.*")) {
            val nh = nestedHead.matcher(mem)
            if (!nh.matches()) throw new IllegalArgumentException(
              "JSON_TABLE: cannot parse NESTED entry (expected " +
                s"NESTED [PATH] 'path' [AS name] COLUMNS(…)): " +
                mem.take(80))
            nextId += 1
            val id = nextId
            nodes += ((id, depth + 1, nodeId, nh.group(1)))
            parseCols(nh.group(2), id, depth + 1)
          } else outCols += columnExpr(mem, nodeId, depth)
        }
      parseCols(colsText, 0, 0)
      val maxDepth = if (nodes.isEmpty) 0 else nodes.map(_._2).max
      if (crossSiblings && maxDepth > 1)
        throw new IllegalArgumentException(
          "JSON_TABLE: the CROSS sibling combination supports one " +
            "nesting level only; restructure deeper NESTED levels " +
            "as separate JSON_TABLE calls")
      // OUTER: explode_outer — empty concat yields the all-NULL
      // row (parent kept). INNER: plain explode — empty concat
      // drops the parent — plus, below level 1, a passthrough
      // MARKER row (b = -1, never a column's tag) for rows whose
      // branch has no nodes at this level, so sibling-branch rows
      // survive their siblings' inner grandchild joins.
      val explodeFn = if (innerJoin) "explode" else "explode_outer"
      // CROSS: one level, one slot-struct per row — the sibling
      // arrays fold into a product via nested transforms (any
      // empty factor empties the product: P ⋈ (C1 CROSS C2) drops
      // the parent under INNER, keeps the all-NULL row under
      // OUTER via explode_outer)
      val crossLaterals = if (!crossSiblings || nodes.isEmpty) Seq.empty
      else {
        val ns = nodes.sortBy(_._1)
        val ids = ns.map(_._1)
        def slots(curId: Int, pExpr: String, vExpr: String,
            accVar: Option[String]): String =
          ids.map { id =>
            if (id == curId) s"'p$id', $pExpr, 'v$id', $vExpr"
            else accVar match {
              case Some(a) => s"'p$id', $a.p$id, 'v$id', $a.v$id"
              case None =>
                s"'p$id', CAST(NULL AS INT), 'v$id', CAST(NULL AS STRING)"
            }
          }.mkString("named_struct(", ", ", ")")
        val h = ns.head
        var acc = s"transform(${itemsOf(s"$it.col", h._4)}, " +
          s"(x${h._1}, i${h._1}) -> " +
          s"${slots(h._1, s"i${h._1}", s"x${h._1}", None)})"
        ns.tail.foreach { case (id, _, _, pathLit) =>
          acc = s"flatten(transform($acc, a$id -> " +
            s"transform(${itemsOf(s"$it.col", pathLit)}, " +
            s"(x$id, i$id) -> " +
            s"${slots(id, s"i$id", s"x$id", Some(s"a$id"))})))"
        }
        Seq(s"LATERAL (SELECT $explodeFn($acc) AS nx) ${lvlIt(1)}")
      }
      val levelLaterals = if (crossSiblings) crossLaterals
      else (1 to maxDepth).map { d =>
        val lvlNodes = nodes.filter(_._2 == d)
        val gens = lvlNodes.map {
          case (id, _, pid, pathLit) =>
            def tagged(src: String) =
              s"coalesce(transform(${itemsOf(src, pathLit)}, " +
                s"(x, i) -> named_struct('b', $id, 'p', i, 'v', x)), " +
                s"$emptyArr)"
            if (d == 1) tagged(s"$it.col")
            else {
              val p = lvlIt(d - 1)
              s"CASE WHEN $p.nx.b = $pid AND $p.nx.v IS NOT NULL " +
                s"THEN ${tagged(s"$p.nx.v")} ELSE $emptyArr END"
            }
        }
        val marker =
          if (innerJoin && d > 1) {
            val p = lvlIt(d - 1)
            val pids = lvlNodes.map(_._3).distinct.mkString(", ")
            Seq(s"CASE WHEN $p.nx.b IN ($pids) THEN $emptyArr ELSE " +
              "array(named_struct('b', -1, 'p', -1, " +
              "'v', CAST(NULL AS STRING))) END")
          } else Seq.empty
        val all = gens ++ marker
        val arr = if (all.length == 1) all.head
          else s"concat(${all.mkString(", ")})"
        s"LATERAL (SELECT $explodeFn($arr) AS nx) ${lvlIt(d)}"
      }
      val itemsCall = itemsOf(jsonExpr, rowPath)
      val repl = (s"LATERAL (SELECT posexplode($itemsCall)) $it" +:
        levelLaterals :+
        s"LATERAL (SELECT ${outCols.mkString(", ")})").mkString(", ")
      Some(repl)
    }
  }

  // SQL/JSON constructors — `json_object([KEY] k VALUE v | k : v, …
  // [NULL|ABSENT ON NULL] [{WITH|WITHOUT} UNIQUE [KEYS]] [RETURNING t])`
  // and `json_array(e, … [NULL|ABSENT ON NULL] [RETURNING t])` — have
  // no Spark spelling. Rewrite onto `to_json(named_struct(…))` (typed,
  // mixed-element serialization for free) finished by a Jackson shim
  // that applies the null mode and embeds nested-JSON members
  // (syntactically-detected json_object/json_array/json_parse/
  // json_query members are re-parsed, not quoted — the engine's JSON
  // runtime type is a string, so embedding must be decided at rewrite
  // time). Defaults per the standard and Trino: json_object = NULL ON
  // NULL, json_array = ABSENT ON NULL. String-literal keys take the
  // named_struct fast path (field names are foldable; WITH UNIQUE
  // KEYS checks duplicates at rewrite time); any non-literal key
  // switches the constructor onto graft_json_obj_dyn — values still
  // ride c0…cN named_struct fields, keys ride a parallel JSON string
  // array, NULL-key / duplicate errors raise at runtime like Trino.
  private val jsonCtorPattern = java.util.regex.Pattern.compile(
    "(?i)\\bjson_(object|array)\\s*\\(")
  private val jsonCtorNullPattern = java.util.regex.Pattern.compile(
    "(?i)\\s*\\b(NULL|ABSENT)\\s+ON\\s+NULL\\s*$")
  private val jsonCtorUniquePattern = java.util.regex.Pattern.compile(
    "(?i)\\s*\\b(WITH|WITHOUT)\\s+UNIQUE(\\s+KEYS)?\\s*$")
  private val jsonNestedPattern = java.util.regex.Pattern.compile(
    "(?is)^json_(object|array|parse|query)\\s*\\(.*\\)$")
  private val jsonMemberValuePattern = java.util.regex.Pattern.compile(
    "(?i)\\bVALUE\\b")
  private val jsonMemberColonPattern = java.util.regex.Pattern.compile(":")

  private def rewriteJsonConstructors(sql0: String): String =
    SqlText.rewriteCalls(sql0, jsonCtorPattern) { call =>
      val isObject = call.m.group(1).equalsIgnoreCase("object")
      var content = call.content
      // trailing clauses, outermost first: RETURNING, UNIQUE, ON
      // NULL. RETURNING needs a depth-0 scan (type text may hold
      // parens — decimal(10,2) — so a $-anchored regex could
      // swallow a nested json_value(… RETURNING t) member instead)
      var retType: Option[String] = None
      SqlText.topStarts(content, call.contentMask, returningPattern).lastOption
        .foreach { at =>
          retType = Some(content.substring(at + 9).trim)
          content = content.substring(0, at)
        }
      var uniqueKeys = false
      if (isObject) {
        val um = jsonCtorUniquePattern.matcher(content)
        if (um.find() && !SqlText.mask(content)(um.start)) {
          uniqueKeys = um.group(1).equalsIgnoreCase("WITH")
          content = content.substring(0, um.start)
        }
      }
      var keepNull = isObject // the per-constructor defaults
      val nm = jsonCtorNullPattern.matcher(content)
      if (nm.find() && !SqlText.mask(content)(nm.start)) {
        keepNull = nm.group(1).equalsIgnoreCase("NULL")
        content = content.substring(0, nm.start)
        // `json_array(1, NULL ON NULL)` is a Trino syntax error
        // too — the clause attaches to the last member WITHOUT a
        // comma — but the bare-comma residue would otherwise reach
        // Spark as a confusing empty named_struct member
        if (content.trim.endsWith(",")) throw new
          IllegalArgumentException(
            s"json_${if (isObject) "object" else "array"}: the " +
              "NULL/ABSENT ON NULL clause attaches to the last " +
              "member without a comma (drop the comma before it)")
      }
      val members =
        if (content.trim.isEmpty) Seq.empty
        else SqlText.splitTop(content)
      // member = [KEY] key_expr VALUE value_expr | key_expr :
      // value_expr — split at the FIRST depth-0 unmasked VALUE
      // keyword, else the first depth-0 unmasked colon. Keys may
      // be arbitrary expressions (Trino); string-literal keys take
      // the named_struct fast path, anything else rides the
      // dynamic-key carrier with keys as a JSON string array.
      val fields: Seq[(String, String)] =
        if (isObject) {
          members.map { mem =>
            val mm = SqlText.mask(mem)
            val (kRaw, vRaw) =
              SqlText.topStarts(mem, mm, jsonMemberValuePattern).headOption match {
                case Some(vAt) =>
                  (mem.substring(0, vAt).trim, mem.substring(vAt + 5).trim)
                case None =>
                  val cAt = SqlText.topStarts(mem, mm, jsonMemberColonPattern)
                    .headOption.getOrElse(throw new IllegalArgumentException(
                      "json_object: each member must be [KEY] key VALUE " +
                        s"expr or key : expr (got: $mem)"))
                  (mem.substring(0, cAt).trim, mem.substring(cAt + 1).trim)
              }
            val k = kRaw.replaceFirst("(?is)^KEY\\s+", "")
            if (k.isEmpty || vRaw.isEmpty)
              throw new IllegalArgumentException(
                s"json_object: empty key or value in member: $mem")
            (k, vRaw)
          }
        } else members.zipWithIndex.map { case (mem, idx) =>
          (s"'c$idx'", mem)
        }
      val litKeyPattern = java.util.regex.Pattern.compile(
        "(?s)^'(?:[^']|'')*'$")
      val allLiteralKeys =
        fields.forall(f => litKeyPattern.matcher(f._1).matches())
      if (uniqueKeys && allLiteralKeys) {
        val dups = fields.groupBy(_._1).collect {
          case (k, vs) if vs.size > 1 => k }
        if (dups.nonEmpty) throw new IllegalArgumentException(
          s"json_object: duplicate key ${dups.head} with WITH UNIQUE KEYS")
      }
      val core =
        if (fields.isEmpty) {
          if (isObject) "'{}'" else "'[]'"
        } else if (isObject && !allLiteralKeys) {
          // dynamic keys: values ride synthetic c0..cN fields so
          // typing/serialization matches the literal path; keys
          // ride a parallel JSON string array (a NULL key raises
          // at runtime like Trino; WITH UNIQUE KEYS checks there)
          val modes = fields.map { case (_, v) =>
            if (jsonNestedPattern.matcher(v).matches()) 'J' else 'V'
          }.mkString
          val ns = fields.zipWithIndex.map { case ((_, v), i) =>
            s"'c$i', $v" }.mkString("named_struct(", ", ", ")")
          val ks = fields.map { case (k, _) => s"CAST($k AS STRING)" }
            .mkString("array(", ", ", ")")
          s"graft_json_obj_dyn(to_json($ns, " +
            s"map('ignoreNullFields', 'false')), to_json($ks), " +
            s"'${if (keepNull) "N" else "A"}', '$modes', " +
            s"'${if (uniqueKeys) "U" else "D"}')"
        } else {
          val modes = fields.map { case (_, v) =>
            if (jsonNestedPattern.matcher(v).matches()) 'J' else 'V'
          }.mkString
          val ns = fields.map { case (k, v) => s"$k, $v" }
            .mkString("named_struct(", ", ", ")")
          val fn = if (isObject) "graft_json_obj" else "graft_json_arr"
          s"$fn(to_json($ns, map('ignoreNullFields', 'false')), " +
            s"'${if (keepNull) "N" else "A"}', '$modes')"
        }
      val wrapped = retType match {
        case Some(t) => s"CAST($core AS ${trinoTypeToSpark(t)})"
        case None => core
      }
      Some(wrapped)
    }

  // json_exists {TRUE | FALSE | UNKNOWN | ERROR} ON ERROR — the only
  // behavior clause json_exists takes (an empty match is simply FALSE,
  // there is no ON EMPTY in its grammar). Strip to a 1-char mode arg.
  private val jsonExistsCallPattern = java.util.regex.Pattern.compile(
    "(?i)\\bjson_exists\\s*\\(")
  private val jsonExistsBehaviorPattern = java.util.regex.Pattern.compile(
    "(?i)\\s+(TRUE|FALSE|UNKNOWN|ERROR)\\s+ON\\s+(EMPTY|ERROR)\\b")

  private def rewriteJsonExistsClauses(sql0: String): String =
    SqlText.rewriteCalls(sql0, jsonExistsCallPattern) { call =>
      val content = call.content
      val cmask = call.contentMask
      var behavior = ' '
      var clauseStart = content.length
      val bm = jsonExistsBehaviorPattern.matcher(content)
      while (bm.find()) if (SqlText.atTop(content, cmask, bm.start)) {
        if (bm.group(2).equalsIgnoreCase("EMPTY"))
          throw new IllegalArgumentException(
            "json_exists: ON EMPTY is not part of its grammar — an " +
              "empty match is FALSE; only {TRUE | FALSE | UNKNOWN | " +
              "ERROR} ON ERROR is accepted")
        if (behavior != ' ') throw new IllegalArgumentException(
          "json_exists: duplicate ON ERROR clause")
        behavior = bm.group(1).toUpperCase.charAt(0) // T|F|U|E
        clauseStart = math.min(clauseStart, bm.start)
      }
      if (behavior == ' ') None // no clause — leave it for the plain 2-arg shim
      else {
        val args = content.substring(0, clauseStart).trim
        val residue = jsonExistsBehaviorPattern
          .matcher(content.substring(clauseStart)).replaceAll("").trim
        if (residue.nonEmpty) throw new IllegalArgumentException(
          s"json_exists: unexpected trailing text '$residue' after " +
            "the ON ERROR clause")
        Some(s"json_exists($args, '$behavior')")
      }
    }

  // SQL/JSON `RETURNING type` clause on json_value and json_query
  // (the 2-arg default forms are served by the JsonFuncs shims): strip
  // the clause and CAST the result — `json_value(j, p RETURNING
  // bigint)` → `CAST(json_value(j, p) AS BIGINT)`, with the type run
  // through the same Trino→Spark translation CAST targets get. The
  // behavior/wrapper clause passes run FIRST and keep any RETURNING
  // segment trailing in their splices, so this pass sees it last.
  private val jsonValuePattern = java.util.regex.Pattern.compile(
    "(?i)\\bjson_value\\s*\\(")
  private val jsonRetFnPattern = java.util.regex.Pattern.compile(
    "(?i)\\bjson_(value|query)\\s*\\(")
  private val returningPattern = java.util.regex.Pattern.compile(
    "(?i)\\bRETURNING\\b")

  private def rewriteJsonReturning(sql0: String): String =
    SqlText.rewriteCalls(sql0, jsonRetFnPattern) { call =>
      val content = call.content
      SqlText.topStarts(content, call.contentMask, returningPattern).headOption
        .map { rp =>
          val fn = s"json_${call.m.group(1).toLowerCase}"
          val args = content.substring(0, rp).trim.stripSuffix(",").trim
          val tpe = trinoTypeToSpark(content.substring(rp + 9).trim)
          s"CAST($fn($args) AS $tpe)"
        }
    }

  // Trino's `array_agg(expr ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST],
  // …)` — Spark's grammar has no ORDER BY inside an aggregate call.
  // Rewrite onto a sort-after-collect that is NULL-EXACT on both axes:
  //   transform([reverse(]array_sort(collect_list(named_struct(
  //     'r0', <null-rank k0>, 'k0', k0, …, 'v', expr)))[)], s -> s.v)
  // The struct wrap keeps NULL elements (Trino's array_agg does; bare
  // collect_list drops them), and the per-key null-rank field places
  // NULL keys exactly where Trino's defaults (ASC→last, DESC→first) or
  // an explicit NULLS FIRST/LAST puts them — array_sort's own
  // null-field ordering never decides. DESC is reverse(ASC) when all
  // keys share one direction; MIXED directions switch to array_sort's
  // 3-way comparator lambda (per-key direction + null placement in a
  // lexicographic CASE chain). DISTINCT is rejected with a workaround
  // (sort_array(collect_set(…)) covers the DISTINCT-by-value case).
  private val arrayAggPattern = java.util.regex.Pattern.compile(
    "(?i)\\barray_agg\\s*\\(")
  private val orderByPattern = java.util.regex.Pattern.compile(
    "(?i)\\bORDER\\s*BY\\b")

  private def rewriteArrayAggOrderBy(sql0: String): String =
    SqlText.rewriteCalls(sql0, arrayAggPattern) { call =>
      val content = call.content
      // top-level ORDER BY position
      SqlText.topStarts(content, call.contentMask, orderByPattern).headOption.map { ob =>
        val exprPart0 = content.substring(0, ob).trim
        // DISTINCT: legal in Trino only when every ORDER BY key IS
        // the aggregated expression (free expressions cannot be
        // paired with a deduplicated value) — which makes
        // collect_set a drop-in for collect_list in the same
        // sorted-struct machinery (struct equality = value
        // equality; a NULL element survives as struct('v', NULL))
        val isDistinct =
          exprPart0.length >= 9 &&
            exprPart0.substring(0, 8).equalsIgnoreCase("DISTINCT") &&
            exprPart0(8).isWhitespace
        val exprPart =
          if (isDistinct) exprPart0.substring(9).trim else exprPart0
        val byIdx = content.toUpperCase.indexOf("BY", ob) + 2
        val spec = content.substring(byIdx).trim
        val keys = SqlText.splitTop(spec)
        // direction must be whitespace-separated from the key — a
        // bare `total_desc` is a column name, not `total_` + DESC
        val dirRe =
          "(?is)^(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*$".r
        val parsed = keys.map {
          case dirRe(k, dir, nulls) =>
            val desc = dir != null && dir.equalsIgnoreCase("DESC")
            // Trino defaults: ASC → NULLS LAST, DESC → NULLS FIRST
            val nullsFirst =
              if (nulls == null) desc else nulls.equalsIgnoreCase("FIRST")
            (k.trim, desc, nullsFirst)
        }
        if (isDistinct) {
          val norm = exprPart.replaceAll("\\s+", " ").toLowerCase
          parsed.foreach { case (k, _, _) =>
            if (k.replaceAll("\\s+", " ").toLowerCase != norm)
              throw new IllegalArgumentException(
                "array_agg(DISTINCT expr ORDER BY key): the key must " +
                  "be the DISTINCT expression itself (Trino's rule — " +
                  s"a free key cannot pair with deduplicated values); " +
                  s"got ORDER BY $k")
          }
        }
        val collectFn = if (isDistinct) "collect_set" else "collect_list"
        var collectTxt = "" // the bare aggregate, for the empty-group gate
        val body = if (parsed.map(_._2).distinct.size > 1) {
          // MIXED directions: array_sort's 3-way comparator lambda
          // expresses per-key direction and null placement exactly
          // (the default struct ordering + reverse trick can only
          // flip the whole array). Lexicographic CASE chain, one
          // level per key.
          val fields = parsed.zipWithIndex.map { case ((k, _, _), ix) =>
            s"'k$ix', $k"
          } :+ s"'v', $exprPart"
          def cmp(ix: Int): String =
            if (ix == parsed.length) "0"
            else {
              val (_, desc, nf) = parsed(ix)
              val a = s"__sa.k$ix"
              val b = s"__sb.k$ix"
              val lt = if (desc) "1" else "-1"
              val gt = if (desc) "-1" else "1"
              val na = if (nf) "-1" else "1"
              val nb = if (nf) "1" else "-1"
              s"CASE WHEN $a IS NULL AND $b IS NULL THEN ${cmp(ix + 1)} " +
                s"WHEN $a IS NULL THEN $na WHEN $b IS NULL THEN $nb " +
                s"WHEN $a < $b THEN $lt WHEN $a > $b THEN $gt " +
                s"ELSE ${cmp(ix + 1)} END"
            }
          collectTxt = s"$collectFn(named_struct(${fields.mkString(", ")}))"
          s"array_sort($collectTxt, (__sa, __sb) -> ${cmp(0)})"
        } else {
          val desc = parsed.head._2
          val fields = parsed.zipWithIndex.flatMap { case ((k, _, nf), ix) =>
            // pre-reverse ASC rank: nulls must land FIRST when the
            // final position is first-under-ASC or last-under-DESC
            val rank = if (nf != desc) -1 else 1
            Seq(s"'r$ix', CASE WHEN ($k) IS NULL THEN $rank ELSE 0 END",
              s"'k$ix', $k")
          } :+ s"'v', $exprPart"
          collectTxt = s"$collectFn(named_struct(${fields.mkString(", ")}))"
          val sorted = s"array_sort($collectTxt)"
          if (desc) s"reverse($sorted)" else sorted
        }
        // empty-group gate: SQL aggregates over an empty group are
        // NULL (Trino's array_agg is) where collect_list gives [] —
        // found by the v7 differential fuzz on grouping-sets ()
        // rows over filtered-empty input. The two identical
        // aggregate texts dedup at physical aggregation.
        s"CASE WHEN size($collectTxt) = 0 THEN " +
          s"NULL ELSE transform($body, __oa -> __oa.v) END"
      }
    }

  // Trino's quantified subquery comparisons — ALL of them, NULL-
  // faithfully, via an exact three-valued-logic composition:
  //
  //   X op ALL (Q)  ≡  ( test(op)           -- the ∀ decided on extremes
  //                      AND S.nn            -- NULL in Q demotes TRUE
  //                      OR  S.e )           -- empty set: vacuous TRUE
  //
  // where S is ONE struct-valued scalar subquery per comparison —
  // `(SELECT named_struct('mx', max(v), 'e', count(*) = 0, 'nn',
  // count(*) = count(v) OR NULL) FROM (Q))` — spliced textually for
  // each field access; Spark's physical ReuseSubquery collapses the
  // identical copies into ONE execution (one scan of Q, not three).
  // test(op): ordered ops compare (X) against the extreme (max for
  // >/>=, min for </<=; with no NULLs that comparison IS the ∀ — TRUE
  // ⟺ all rows pass, FALSE ⟺ a counterexample exists, NULL ⟺ X is
  // NULL); `= ALL` is X = min AND X = max; `<> ALL` needs MEMBERSHIP,
  // not extremes — `CASE WHEN (X) IS NULL THEN NULL ELSE (SELECT
  // count(*) = 0 FROM (Q) WHERE v = (X)) END` (correlated when X
  // references outer columns; Catalyst decorrelates it to an
  // aggregate + join, the same shape a semi join would take). The
  // `AND (… OR NULL)` term preserves FALSE and demotes TRUE/NULL to
  // NULL exactly (a NULL in Q can never make ∀ TRUE, only UNKNOWN);
  // `OR count(*) = 0` restores the vacuous TRUE even when X is NULL.
  // ANY/SOME forms ride De Morgan, exact in Kleene logic:
  //   X op ANY (Q) ≡ NOT (X inv(op) ALL (Q)),  inv(>) = <=, inv(=) = <>.
  // NOTE deliberately NOT used: Spark's own `IN (subquery)` — in a
  // projected position it is not null-aware (`SELECT 3 IN (SELECT
  // NULL, 4)` returns FALSE where ANSI/Trino say UNKNOWN; verified,
  // and caught by the 200-case differential fuzz), so even Trino's
  // "= ANY ≡ IN" synonym must route through the exact composition.
  // The left operand is a Trino valueExpression, captured by walking
  // primaries and binary arithmetic (+ - * / % ||) backward from the
  // operator; anything the walker cannot bound (e.g. a bare CASE …
  // END) is rejected with a "parenthesize it" hint. The
  // `(?=SELECT|WITH)` guard keeps Spark's any()/some() boolean
  // aggregates (same spellings, expression argument) out of reach.
  private val quantifiedPattern = java.util.regex.Pattern.compile(
    "(?i)(=|<>|!=|<=|>=|<|>)\\s*(ANY|SOME|ALL)\\s*\\(\\s*(?=SELECT\\b|WITH\\b)")

  // Per-row nondeterministic functions (NOT the per-query clock
  // constants, which ComputeCurrentTime folds to one literal).
  private val nondetFnPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id)\\s*\\(")

  /** Walk ONE primary expression backward from `endExcl` (exclusive):
    * a string/typed literal, a balanced paren group with its optional
    * function-name chain, or an identifier/number chain. Returns the
    * start index, or -1 when what precedes is not an operand (a
    * clause keyword, an operator, a comma, …). */
  private def primaryBackward(sql: String, masked: Array[Boolean],
      endExcl: Int): Int = {
    var l = endExcl
    while (l > 0 && sql(l - 1).isWhitespace) l -= 1
    if (l == 0) return -1
    val lEnd = l
    if (sql(l - 1) == '\'') {
      // literal: interior masked — walk to the start of the masked
      // run, then absorb a typed-literal keyword (DATE '…' etc.)
      l -= 1
      while (l > 0 && masked(l - 1)) l -= 1
      var k = l
      while (k > 0 && sql(k - 1).isWhitespace) k -= 1
      val kw = k
      while (k > 0 && (sql(k - 1).isLetterOrDigit || sql(k - 1) == '_')) k -= 1
      val word = sql.substring(k, kw).toUpperCase
      if (Set("TIMESTAMP", "DATE", "TIME", "DECIMAL", "INTERVAL")(word)) k
      else l
    } else if (sql(l - 1) == ')') {
      var depth = 0
      l -= 1
      var open = -1
      while (l >= 0 && open < 0) {
        if (!masked(l)) {
          if (sql(l) == ')') depth += 1
          else if (sql(l) == '(') { depth -= 1; if (depth == 0) open = l }
        }
        if (open < 0) l -= 1
      }
      if (open < 0) return -1
      // function-name chain directly before the open paren (but not a
      // clause keyword — `WHERE (a + b) > ALL …`)
      var k = open
      while (k > 0 && sql(k - 1).isWhitespace) k -= 1
      val ke = k
      while (k > 0 && (sql(k - 1).isLetterOrDigit || sql(k - 1) == '_' ||
        sql(k - 1) == '.' || sql(k - 1) == '$')) k -= 1
      val name = sql.substring(k, ke).toUpperCase
      if (k < ke && !NonCallableKeywords.contains(name)) k else open
    } else {
      while (l > 0 && (sql(l - 1).isLetterOrDigit || sql(l - 1) == '_' ||
        sql(l - 1) == '.' || sql(l - 1) == '$' || sql(l - 1) == '"')) l -= 1
      if (l == lEnd) return -1
      val word = sql.substring(l, lEnd).toUpperCase
      if (word.indexOf('.') < 0 && NonCallableKeywords.contains(word)) -1
      else l
    }
  }

  private val NonCallableKeywords = Set(
    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN", "ELSE", "END",
    "CASE", "SELECT", "HAVING", "BY", "IN", "LIKE", "BETWEEN", "IS",
    "FROM", "JOIN", "AS", "ALL", "ANY", "SOME", "DISTINCT", "SET",
    "RETURNING", "OVER", "UNION", "INTERSECT", "EXCEPT", "VALUES",
    "ESCAPE", "LIMIT", "OFFSET", "FETCH", "ASC", "DESC", "NULLS")

  /** Walk a Trino valueExpression backward from `endExcl`: primaries
    * chained by binary arithmetic/concat, with unary-sign absorption.
    * Returns the start index, or -1 when no operand is found. */
  private def valueExprBackward(sql: String, masked: Array[Boolean],
      endExcl: Int): Int = {
    var start = primaryBackward(sql, masked, endExcl)
    if (start < 0) return -1
    var continueScan = true
    while (continueScan && start > 0) {
      var j = start
      while (j > 0 && sql(j - 1).isWhitespace) j -= 1
      val opLen =
        if (j >= 2 && sql(j - 1) == '|' && sql(j - 2) == '|' &&
          !masked(j - 1)) 2
        else if (j >= 1 && "+-*/%".indexOf(sql(j - 1)) >= 0 &&
          !masked(j - 1)) 1
        else 0
      if (opLen == 0) continueScan = false
      else {
        val p2 = primaryBackward(sql, masked, j - opLen)
        if (p2 >= 0) start = p2
        else if (opLen == 1 && (sql(j - 1) == '+' || sql(j - 1) == '-') &&
          unarySignContext(sql, masked, j - opLen))
          start = j - opLen // unary sign; keep scanning for `a * -b`
        else return -1 // binary op with an unparseable left operand
          // (`CASE … END - 1`): fail so the caller's parenthesize
          // hint fires instead of splicing a truncated operand
      }
    }
    start
  }

  /** Could a sign at this position be UNARY? Only when what precedes it
    * is an operator, an opening paren/comma, the statement start, or a
    * clause keyword — never an operand terminator like `END`, `)`, a
    * literal or an identifier (those make the sign a binary minus whose
    * left side the backward walk must parse, not skip). */
  private def unarySignContext(sql: String, masked: Array[Boolean],
      signPos: Int): Boolean = {
    var p = signPos
    while (p > 0 && sql(p - 1).isWhitespace) p -= 1
    if (p == 0) return true
    val c = sql(p - 1)
    if (!masked(p - 1) && ("+-*/%(,=<>|".indexOf(c) >= 0)) true
    else if (c.isLetter || c == '_') {
      var ws = p
      while (ws > 0 && (sql(ws - 1).isLetterOrDigit || sql(ws - 1) == '_')) ws -= 1
      UnaryContextKeywords.contains(sql.substring(ws, p).toUpperCase)
    } else false
  }

  private val UnaryContextKeywords = Set(
    "SELECT", "DISTINCT", "ALL", "ANY", "SOME", "WHERE", "AND", "OR",
    "NOT", "WHEN", "THEN", "ELSE", "CASE", "ON", "BY", "HAVING", "IN",
    "BETWEEN", "LIMIT", "OFFSET", "SET", "VALUES", "UNION", "INTERSECT",
    "EXCEPT", "RETURN", "RETURNING", "JOIN", "FROM")

  private def rewriteQuantified(sql0: String): String =
    SqlText.rewriteMatches(sql0, quantifiedPattern) { hit =>
      val sql = hit.sql
      val masked = hit.mask
      val m = hit.m
      val op0 = m.group(1)
      val op = if (op0 == "!=") "<>" else op0
      val quant = m.group(2).toUpperCase match {
        case "SOME" => "ANY"
        case q => q
      }
      // balanced close of the subquery (the '(' is the last
      // unmasked '(' before m.end)
      var open = m.end - 1
      while (open >= 0 && (masked(open) || sql(open) != '(')) open -= 1
      val close = hit.closeParen(open)
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced parentheses in $op0 $quant (subquery)")
      val q = sql.substring(open + 1, close)
      // The rewrite splices Q more than once (field accesses on
      // the struct subquery collapse via ReuseSubquery only when
      // the copies canonicalize EQUAL; <> ALL scans Q again for
      // the membership probe). A nondeterministic Q would read
      // inconsistent values across copies — reject it. Clock
      // functions are safe: Spark folds the whole query's
      // now()/current_timestamp to ONE value at plan time.
      locally {
        val nd = nondetFnPattern.matcher(q)
        val qmask = SqlText.mask(q)
        while (nd.find()) if (!qmask(nd.start))
          throw new IllegalArgumentException(
            s"quantified comparison ($op0 ${m.group(2)}) over a " +
              s"nondeterministic subquery (${nd.group(1)}) is not " +
              "supported — the rewrite evaluates the subquery more " +
              "than once; materialize it first (CTE or temp view)")
      }
      val lStart = valueExprBackward(sql, masked, m.start)
      if (lStart < 0) throw new IllegalArgumentException(
        s"could not determine the left operand of $op0 " +
          s"${m.group(2)} (subquery); parenthesize it — " +
          s"(expr) $op0 ${m.group(2)} (…)")
      val x = sql.substring(lStart, m.start).trim
      // ANY ≡ NOT (inverse-op ALL), exact under Kleene logic
      val (allOp, negate) =
        if (quant == "ANY") (op match {
          case "=" => "<>"
          case "<>" => "="
          case "<" => ">="
          case "<=" => ">"
          case ">" => "<="
          case ">=" => "<"
        }, true)
        else (op, false)
      val common = "'e', count(*) = 0, " +
        "'nn', count(*) = count(__qv) OR NULL"
      def structSub(fields: String) =
        s"(SELECT named_struct($fields) FROM ($q) __qt(__qv))"
      val (test, s) = allOp match {
        case "=" =>
          val sub = structSub(s"'mn', min(__qv), 'mx', max(__qv), $common")
          (s"($x) = $sub.mn AND ($x) = $sub.mx", sub)
        case ">" | ">=" =>
          val sub = structSub(s"'mx', max(__qv), $common")
          (s"($x) $allOp $sub.mx", sub)
        case "<" | "<=" =>
          val sub = structSub(s"'mn', min(__qv), $common")
          (s"($x) $allOp $sub.mn", sub)
        case "<>" =>
          val sub = structSub(common)
          (s"CASE WHEN ($x) IS NULL THEN CAST(NULL AS BOOLEAN) " +
            s"ELSE (SELECT count(*) = 0 FROM ($q) __qt(__qv) " +
            s"WHERE __qv = ($x)) END", sub)
      }
      val allForm = s"($test AND $s.nn OR $s.e)"
      val repl = if (negate) s"(NOT $allForm)" else allForm
      Some((lStart, close + 1, repl))
    }

  // Trino's type grammar inside CAST/TRY_CAST targets, where it differs
  // from Spark's: bare `varchar` (Spark requires STRING or a length),
  // `array(T)` / `map(K, V)` (Spark spells ARRAY<T> / MAP<K, V>),
  // `row(name T, …)` (STRUCT<name: T, …>), `real` (FLOAT), `varbinary`
  // (BINARY), `json`/`uuid` (the engine's varchar carriers),
  // `timestamp(p)` / `time(p)` precision parameters (dropped — Spark
  // has single micro-precision types), and `timestamp [with time zone]`
  // (Spark's TIMESTAMP is the LTZ instant type and sessions are pinned
  // UTC). Everything already Spark-legal passes through byte-identical.
  private val castPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(?:TRY_)?CAST\\s*\\(")
  // the AS before the target type: followed by at least one character
  private val castAsPattern = java.util.regex.Pattern.compile(
    "(?is)\\bAS\\b(?=.)")

  private def rewriteCastTypes(sql: String): String = {
    val m = castPattern.matcher(sql)
    if (!m.find()) return sql
    val masked = SqlText.mask(sql)
    do {
      if (!masked(m.start)) {
        val open = m.end - 1
        val close = SqlText.closeParen(sql, masked, open)
        if (close < 0) return sql // unbalanced: let Spark produce the error
        val content = rewriteCastTypes(sql.substring(open + 1, close))
        // the LAST unmasked top-level AS splits expression from type
        val newContent =
          SqlText.topStarts(content, SqlText.mask(content), castAsPattern).lastOption
            .fold(content) { asPos =>
              content.substring(0, asPos) + "AS " +
                trinoTypeToSpark(content.substring(asPos + 2).trim)
            }
        return sql.substring(0, open + 1) + newContent + ")" +
          rewriteCastTypes(sql.substring(close + 1))
      }
    } while (m.find())
    sql
  }

  /** Recursive Trino→Spark type-text translation (see rewriteCastTypes).
    * Unknown or already-Spark-legal spellings return unchanged. */
  private def trinoTypeToSpark(t0: String): String = {
    val t = t0.trim
    val nameEnd = t.indexWhere(c => !c.isLetterOrDigit && c != '_')
    val name = (if (nameEnd < 0) t else t.substring(0, nameEnd)).toLowerCase
    val rest = if (nameEnd < 0) "" else t.substring(nameEnd).trim
    // top-level split of a parenthesized argument list
    def args(s: String): Seq[String] = {
      val inner = s.stripPrefix("(").stripSuffix(")")
      val mask = SqlText.mask(inner)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var d = 0; var last = 0
      var i = 0
      while (i < inner.length) {
        if (!mask(i)) inner(i) match {
          case '(' | '<' => d += 1
          case ')' | '>' => d -= 1
          case ',' if d == 0 =>
            out += inner.substring(last, i); last = i + 1
          case _ => ()
        }
        i += 1
      }
      out += inner.substring(last)
      out.map(_.trim).toSeq
    }
    name match {
      case "varchar" if rest.isEmpty => "STRING"
      case "char" if rest.isEmpty => "CHAR(1)" // Trino's bare char
      case "real" => "FLOAT"
      case "varbinary" => "BINARY"
      case "json" | "uuid" | "ipaddress" => "STRING" // varchar carriers
      case "double" => "DOUBLE" // absorbs `double precision`
      case "array" if rest.startsWith("(") =>
        s"ARRAY<${trinoTypeToSpark(args(rest).head)}>"
      case "map" if rest.startsWith("(") =>
        val Seq(k, v) = args(rest)
        s"MAP<${trinoTypeToSpark(k)}, ${trinoTypeToSpark(v)}>"
      case "row" if rest.startsWith("(") =>
        val fields = args(rest).map { f =>
          // `name type` — the name may be a "quoted identifier"
          val (fn, ft) =
            if (f.startsWith("\"")) {
              val e = f.indexOf('"', 1)
              (f.substring(0, e + 1), f.substring(e + 1).trim)
            } else {
              val sp = f.indexWhere(_.isWhitespace)
              if (sp < 0) throw new IllegalArgumentException(
                s"ROW type fields need `name type` (got '$f')")
              (f.substring(0, sp), f.substring(sp + 1).trim)
            }
          s"$fn: ${trinoTypeToSpark(ft)}"
        }
        s"STRUCT<${fields.mkString(", ")}>"
      case "timestamp" | "time" =>
        // drop the precision parameter; absorb `with time zone`
        // (Spark's TIMESTAMP is the LTZ instant; sessions pinned UTC).
        // `time with time zone` was already rejected by preprocess.
        name.toUpperCase
      case _ => t0
    }
  }

  // Trino's generic typed literals `TYPE 'text'` (equivalent to a CAST)
  // for the types Spark's grammar does NOT accept in that position
  // (Spark natively parses DATE/TIMESTAMP/TIME/INTERVAL/X'..' — those
  // pass through untouched). DECIMAL gets Trino's EXACT literal typing
  // rules: precision counts significant integer digits plus ALL
  // fraction digits (DECIMAL '0.2' is DECIMAL(1,1), '20.3' is
  // DECIMAL(3,1)), so downstream arithmetic carries the same
  // precision/scale as Trino. UUID canonicalizes to lowercase (Trino's
  // UUID type renders lowercase; the engine maps it to varchar), JSON
  // routes through json_parse (validation + the engine's canonical
  // JSON-as-string runtime type).
  private val typedLiteralPattern = java.util.regex.Pattern.compile(
    "(?i)\\b(DECIMAL|DOUBLE|REAL|BIGINT|INTEGER|INT|SMALLINT|TINYINT|" +
    "VARCHAR|CHAR|BOOLEAN|UUID|JSON)\\s+('(?:[^']|'')*')")

  private def rewriteTypedLiterals(sql: String): String =
    SqlText.replaceUnmasked(sql, typedLiteralPattern) { m =>
      val lit = m.group(2)
      m.group(1).toUpperCase match {
        case "DECIMAL" =>
          val body = lit.substring(1, lit.length - 1).trim
            .stripPrefix("+").stripPrefix("-")
          val (ip, fp) = body.indexOf('.') match {
            case -1 => (body, "")
            case d  => (body.substring(0, d), body.substring(d + 1))
          }
          if (!(ip + fp).forall(_.isDigit) || (ip + fp).isEmpty)
            throw new IllegalArgumentException(
              s"invalid DECIMAL literal: $lit")
          val sigInt = ip.dropWhile(_ == '0')
          val s = fp.length
          val p = math.max(sigInt.length + s, math.max(s, 1))
          s"CAST($lit AS DECIMAL($p, $s))"
        case "DOUBLE"  => s"CAST($lit AS DOUBLE)"
        case "REAL"    => s"CAST($lit AS FLOAT)"
        case "BIGINT"  => s"CAST($lit AS BIGINT)"
        case "INTEGER" | "INT" => s"CAST($lit AS INT)"
        case "SMALLINT" => s"CAST($lit AS SMALLINT)"
        case "TINYINT" => s"CAST($lit AS TINYINT)"
        case "BOOLEAN" => s"CAST($lit AS BOOLEAN)"
        case "VARCHAR" | "CHAR" => lit
        case "UUID"    => s"lower($lit)"
        case "JSON"    => s"json_parse($lit)"
        case other     => s"$other $lit" // unreachable by the pattern
      }
    }

  // Trino's `value AT TIME ZONE zone` operator (SqlBase.g4's tightest
  // valueExpression suffix — binds before arithmetic) has no Spark
  // spelling. Rewrite onto the dialect's at_timezone() shim: the LEFT
  // operand is one primary expression walked BACKWARD (string/typed
  // literal, balanced paren group with its function-name chain, or an
  // identifier chain — exactly the tightest binding, matching Trino's
  // precedence), the RIGHT operand one primary walked FORWARD. INTERVAL
  // zones (HOUR / MINUTE / HOUR TO MINUTE literals) are folded into the
  // same '+hh:mm' offset-string path the string form rides (the shim
  // uses from_utc_timestamp, which takes zone STRINGS — fixed offsets
  // included).
  private val atTimeZonePattern = java.util.regex.Pattern.compile(
    "(?i)\\bAT\\s+TIME\\s+ZONE\\b")

  private def rewriteAtTimeZone(sql0: String): String =
    SqlText.rewriteMatches(sql0, atTimeZonePattern) { hit =>
      val sql = hit.sql
      val masked = hit.mask
      val m = hit.m
      val n = sql.length
      // index AFTER the ')' matching the '(' at `from` (mask-aware)
      def parenEnd(from: Int): Int = {
        val close = hit.closeParen(from)
        if (close < 0) throw new IllegalArgumentException(
          "unbalanced parentheses near AT TIME ZONE")
        close + 1
      }
      // ---- right operand (forward): literal | paren | ident chain
      var r = m.end
      while (r < n && sql(r).isWhitespace) r += 1
      if (r >= n) throw new IllegalArgumentException(
        "AT TIME ZONE requires a zone expression")
      val rStart = r
      var zoneOverride: Option[String] = None
      if (sql.regionMatches(true, r, "INTERVAL", 0, 8)) {
        // INTERVAL '±h[:mm]' HOUR [TO MINUTE] | MINUTE → the same
        // '+hh:mm' offset-string path the string-zone form rides
        // (from_utc_timestamp takes zone strings; a fixed offset
        // IS a zone string). Trino caps zone offsets at ±14:00.
        var k = r + 8
        while (k < n && sql(k).isWhitespace) k += 1
        if (k >= n || sql(k) != '\'') throw new IllegalArgumentException(
          "AT TIME ZONE INTERVAL requires a quoted interval literal")
        val litEnd = SqlText.quotedEnd(sql, k)
        if (litEnd < 0) throw new IllegalArgumentException(
          "unterminated interval literal after AT TIME ZONE")
        val lit = sql.substring(k + 1, litEnd - 1)
        k = litEnd
        // unit words: HOUR | MINUTE, optionally TO MINUTE
        def word(from: Int): (String, Int) = {
          var w = from
          while (w < n && sql(w).isWhitespace) w += 1
          val ws = w
          while (w < n && (sql(w).isLetter)) w += 1
          (sql.substring(ws, w).toUpperCase, w)
        }
        val (u1, k1) = word(k)
        var unitEnd = k1
        var toMinute = false
        if (u1 != "HOUR" && u1 != "MINUTE")
          throw new IllegalArgumentException(
            s"AT TIME ZONE INTERVAL unit must be HOUR or MINUTE, got '$u1'")
        if (u1 == "HOUR") {
          val (u2, k2) = word(k1)
          if (u2 == "TO") {
            val (u3, k3) = word(k2)
            if (u3 != "MINUTE") throw new IllegalArgumentException(
              "AT TIME ZONE INTERVAL: only HOUR TO MINUTE is supported")
            toMinute = true
            unitEnd = k3
          }
        }
        val neg = lit.trim.startsWith("-")
        val bare = lit.trim.stripPrefix("-").stripPrefix("+").trim
        val minutes = try {
          if (toMinute || bare.contains(":")) {
            val Array(h, mn) = bare.split(":", 2)
            // canonical interval literal only: the minute field is
            // an UNSIGNED 0–59 (Trino rejects '8:99' and '8:-30')
            val mnT = mn.trim
            if (!mnT.matches("\\d{1,2}") || mnT.toInt > 59)
              throw new IllegalArgumentException(
                s"AT TIME ZONE INTERVAL: minute field must be an " +
                  s"unsigned value in 0-59, got '$mn' in '$lit'")
            if (!h.trim.matches("\\d+"))
              throw new IllegalArgumentException(
                s"AT TIME ZONE INTERVAL: malformed hour field " +
                  s"'$h' in '$lit'")
            h.trim.toInt * 60 + mnT.toInt
          } else if (u1 == "HOUR") bare.toInt * 60
          else bare.toInt
        } catch {
          case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.startsWith("AT TIME ZONE INTERVAL") => throw e
          case _: Exception =>
          throw new IllegalArgumentException(
            s"AT TIME ZONE INTERVAL: cannot parse offset '$lit'")
        }
        if (minutes > 14 * 60) throw new IllegalArgumentException(
          s"AT TIME ZONE INTERVAL: zone offset exceeds ±14:00 ('$lit')")
        zoneOverride = Some("'%s%02d:%02d'".format(
          if (neg) "-" else "+", minutes / 60, minutes % 60))
        r = unitEnd
      } else
      if (sql(r) == '\'') {
        r = SqlText.quotedEnd(sql, r)
        if (r < 0) throw new IllegalArgumentException(
          "unterminated zone literal after AT TIME ZONE")
      } else if (sql(r) == '(') {
        r = parenEnd(r)
      } else {
        while (r < n && (sql(r).isLetterOrDigit || sql(r) == '_' ||
          sql(r) == '.' || sql(r) == '$')) r += 1
        // a function call: absorb its argument list
        var k = r
        while (k < n && sql(k).isWhitespace) k += 1
        if (k < n && sql(k) == '(') r = parenEnd(k)
        if (r == rStart) throw new IllegalArgumentException(
          "AT TIME ZONE requires a zone expression")
      }
      val zone = zoneOverride.getOrElse(sql.substring(rStart, r))
      // ---- left operand (backward): literal | paren+name | chain
      var l = m.start
      while (l > 0 && sql(l - 1).isWhitespace) l -= 1
      if (l == 0) throw new IllegalArgumentException(
        "AT TIME ZONE requires a timestamp operand on its left")
      val lEnd = l
      if (sql(l - 1) == '\'') {
        // literal: its interior is masked — walk to the start of
        // the masked run, then absorb a typed-literal keyword
        // (TIMESTAMP '...' / TIME '...' / DATE '...')
        l -= 1
        while (l > 0 && masked(l - 1)) l -= 1
        var k = l
        while (k > 0 && sql(k - 1).isWhitespace) k -= 1
        val kw = k
        while (k > 0 && (sql(k - 1).isLetterOrDigit || sql(k - 1) == '_')) k -= 1
        val word = sql.substring(k, kw).toUpperCase
        if (word == "TIMESTAMP" || word == "DATE" || word == "TIME") l = k
      } else if (sql(l - 1) == ')') {
        var depth = 0
        l -= 1
        var open = -1
        while (l >= 0 && open < 0) {
          if (!masked(l)) {
            if (sql(l) == ')') depth += 1
            else if (sql(l) == '(') { depth -= 1; if (depth == 0) open = l }
          }
          if (open < 0) l -= 1
        }
        if (open < 0) throw new IllegalArgumentException(
          "unbalanced parentheses before AT TIME ZONE")
        // function-name chain directly before the open paren
        var k = open
        while (k > 0 && sql(k - 1).isWhitespace) k -= 1
        val ke = k
        while (k > 0 && (sql(k - 1).isLetterOrDigit || sql(k - 1) == '_' ||
          sql(k - 1) == '.' || sql(k - 1) == '$')) k -= 1
        // keywords that are NOT callables (e.g. `WHERE (...) AT …`)
        val name = sql.substring(k, ke).toUpperCase
        l = if (k < ke && !Set("WHERE", "AND", "OR", "ON", "WHEN", "THEN",
          "ELSE", "SELECT", "BY", "HAVING", "IN", "NOT").contains(name)) k
          else open
      } else {
        while (l > 0 && (sql(l - 1).isLetterOrDigit || sql(l - 1) == '_' ||
          sql(l - 1) == '.' || sql(l - 1) == '$' || sql(l - 1) == '"')) l -= 1
        if (l == lEnd) throw new IllegalArgumentException(
          "AT TIME ZONE requires a timestamp operand on its left")
      }
      val operand = sql.substring(l, lEnd)
      Some((l, r, s"at_timezone($operand, $zone)"))
    }

  // ANSI row-limiting syntax, which Trino serves and Spark's grammar
  // lacks: `OFFSET n [ROW|ROWS]` and `FETCH {FIRST|NEXT} [n] {ROW|ROWS}
  // ONLY` → Spark's `LIMIT n [OFFSET m]`. Trino puts OFFSET before
  // FETCH; Spark wants LIMIT before OFFSET, so the combined form swaps.
  // `WITH TIES` (no native Spark spelling) rewrites to the ANSI-exact
  // rank() form: rows whose rank under the query's ORDER BY is <= n.
  // Counts must be literal integers (Trino's grammar allows only
  // literals/parameters there too).
  private val fetchTiesPattern = java.util.regex.Pattern.compile(
    "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(?:(\\d+)\\s+)?ROWS?\\s+WITH\\s+TIES")
  private val offsetFetchPattern = java.util.regex.Pattern.compile(
    "(?i)\\bOFFSET\\s+(\\d+)\\s*(?:ROWS?\\b)?" +
    "(\\s+FETCH\\s+(?:FIRST|NEXT)\\s+(\\d+\\s+)?ROWS?\\s+ONLY)?")
  private val fetchOnlyPattern = java.util.regex.Pattern.compile(
    "(?i)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(\\d+\\s+)?ROWS?\\s+ONLY")
  // Trino also orders `OFFSET n LIMIT m`; Spark wants LIMIT first
  private val offsetLimitPattern = java.util.regex.Pattern.compile(
    "(?i)\\bOFFSET\\s+(\\d+)\\s*(?:ROWS?\\b)?\\s+LIMIT\\s+(\\d+)")

  /** `… ORDER BY keys FETCH FIRST n ROWS WITH TIES` → the ANSI-exact
    * rank() form over the SAME keys, one query block at a time:
    *
    *   SELECT * EXCEPT (__ties_rnk) FROM (
    *     SELECT *, rank() OVER (ORDER BY keys) AS __ties_rnk
    *     FROM (block-without-ORDER-BY/FETCH) __ties_in
    *   ) __ties_w WHERE __ties_rnk <= n ORDER BY keys
    *
    * The block is bounded by the nearest enclosing unmatched '(' (or
    * the statement start); its governing ORDER BY is the LAST depth-0
    * one before FETCH. Ordinal keys resolve against the block's select
    * list (they would silently become constants inside OVER); a
    * preceding `OFFSET k [ROWS]` folds into the rank rewrite — keep
    * rows k+1..k+n plus the tie group of row k+n (row_number for the
    * skip, a window max for the boundary rank; NULL boundary = fewer
    * than k+n rows = keep the whole remainder, ANSI's rule).
    * Scale note (DIALECT.md): rank() without PARTITION BY is a
    * single-partition window — same order-everything semantics the
    * query's global ORDER BY already demands, but the tie filter can't
    * early-stop like TakeOrderedAndProject; keep n-with-ties shaped
    * queries off the 100 TB hot path or pre-filter the scan.
    */
  private def rewriteFetchTies(sql0: String, opts: PreprocessOpts): String =
    SqlText.rewriteMatches(sql0, fetchTiesPattern) { hit =>
      val sql = hit.sql
      val masked = hit.mask
      val m = hit.m
      val n = Option(m.group(1)).getOrElse("1")
      val fs = m.start
      // block start: nearest enclosing unmatched '(' going backward
      var depth = 0
      var i = fs - 1
      var blockStart = 0
      while (i >= 0 && blockStart == 0) {
        if (!masked(i)) {
          if (sql(i) == ')') depth += 1
          else if (sql(i) == '(') {
            if (depth == 0) blockStart = i + 1 else depth -= 1
          }
        }
        i -= 1
      }
      // the governing ORDER BY: last depth-0 match inside the block
      val obRe = java.util.regex.Pattern
        .compile("(?i)\\bORDER\\s+BY\\b").matcher(sql)
      obRe.region(blockStart, fs)
      var obStart = -1
      var obEnd = -1
      var d2 = 0
      var j = blockStart
      // single forward walk tracking depth; check matches as we go
      val obHits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      while (obRe.find()) if (!masked(obRe.start()))
        obHits += ((obRe.start(), obRe.end()))
      for ((hs, he) <- obHits) {
        while (j < hs) {
          if (!masked(j)) {
            if (sql(j) == '(') d2 += 1
            else if (sql(j) == ')') d2 -= 1
          }
          j += 1
        }
        if (d2 == 0) { obStart = hs; obEnd = he }
      }
      if (obStart < 0) throw new IllegalArgumentException(
        "FETCH ... WITH TIES requires an ORDER BY in the same " +
          "query block (ties are defined by the sort key)")
      val keys0 = sql.substring(obEnd, fs).trim
      if (keys0.isEmpty) throw new IllegalArgumentException(
        "FETCH ... WITH TIES: empty ORDER BY key list")
      // `ORDER BY keys OFFSET k [ROWS] FETCH ... WITH TIES` (ANSI
      // order): strip a trailing depth-0 OFFSET and apply it inside
      // the rank rewrite — skip k rows, take n, extend through the
      // tie group of row k+n
      var offsetK: Option[String] = None
      var keys = keys0
      val om0 = java.util.regex.Pattern
        .compile("(?i)\\bOFFSET\\s+(\\d+)\\s*(?:ROWS?)?\\s*$")
        .matcher(keys0)
      if (om0.find() && SqlText.atTop(keys0, SqlText.mask(keys0), om0.start)) {
        offsetK = Some(om0.group(1))
        keys = keys0.substring(0, om0.start).trim
      }
      val kw = java.util.regex.Pattern
        .compile("(?i)\\b(OFFSET|LIMIT)\\b").matcher(keys)
      if (kw.find()) throw new IllegalArgumentException(
        s"FETCH ... WITH TIES cannot be combined with ${kw.group(1)} " +
          "here; apply the offset in an outer query")
      val inner = sql.substring(blockStart, obStart).trim
      // depth-aware key split: `substr(c, 1, 3)` is ONE key, its
      // literal arguments are not ordinals (r14 ADVICE). Ordinal
      // keys resolve against the block's select list (alias or bare
      // column) — inside OVER they would silently become constants.
      val ordRe = "(?is)^(\\d+)((?:\\s+(?:ASC|DESC))?(?:\\s+NULLS\\s+(?:FIRST|LAST))?)$".r
      val splitKeys = SqlText.splitTop(keys)
      if (splitKeys.exists(k => ordRe.findFirstIn(k.trim).isDefined)) {
        lazy val items = selectListItems(inner)
        keys = splitKeys.map { frag =>
          frag.trim match {
            case ordRe(digits, suffix) =>
              val idx = digits.toInt
              val list = items.getOrElse(throw new IllegalArgumentException(
                "FETCH ... WITH TIES with ordinal ORDER BY keys needs " +
                  "a plain SELECT block to resolve them against; name " +
                  "the sort columns"))
              if (idx < 1 || idx > list.length)
                throw new IllegalArgumentException(
                  s"FETCH ... WITH TIES: ORDER BY ordinal $idx is out " +
                    s"of range (select list has ${list.length} items)")
              val col = ordinalKeyName(list(idx - 1)).getOrElse(
                throw new IllegalArgumentException(
                  s"FETCH ... WITH TIES: ORDER BY ordinal $idx names an " +
                    "unaliased expression — alias it or name the column"))
              col + suffix
            case other => other
          }
        }.mkString(", ")
      }
      val repl = (offsetK, opts.tiesInBlock) match {
        case (None, true) => tiesInBlockForm(inner, keys, n, None)
        case (None, false) =>
          s"SELECT * EXCEPT (__ties_rnk) FROM (SELECT *, rank() OVER " +
            s"(ORDER BY $keys) AS __ties_rnk FROM ($inner) __ties_in) " +
            s"__ties_w WHERE __ties_rnk <= $n ORDER BY $keys"
        case (Some(k), true) => tiesInBlockForm(inner, keys, n, Some(k))
        case (Some(k), false) =>
          val kn = k.toLong + n.toLong
          s"SELECT * EXCEPT (__ties_rnk, __ties_rn, __ties_brk) FROM (" +
            s"SELECT *, max(CASE WHEN __ties_rn = $kn THEN __ties_rnk " +
            s"END) OVER () AS __ties_brk FROM (SELECT *, rank() OVER " +
            s"(ORDER BY $keys) AS __ties_rnk, row_number() OVER " +
            s"(ORDER BY $keys) AS __ties_rn FROM ($inner) __ties_in) " +
            s"__ties_r) __ties_w WHERE __ties_rn > $k AND " +
            s"(__ties_brk IS NULL OR __ties_rnk <= __ties_brk) " +
            s"ORDER BY $keys"
      }
      Some((blockStart, m.end, repl))
    }

  /** The block's top-level select-list items when the block is a plain
    * `SELECT [DISTINCT] ... FROM ...` — None otherwise (set ops and
    * VALUES blocks have no single list to index ordinals against). */
  private def selectListItems(inner: String): Option[Seq[String]] = {
    val t = inner.trim
    if (t.length < 7 || !t.substring(0, 6).equalsIgnoreCase("SELECT")) return None
    var consumed = 6
    val dm = java.util.regex.Pattern.compile("(?is)^\\s*DISTINCT\\b")
      .matcher(t.substring(consumed))
    if (dm.find()) consumed += dm.end
    val im = SqlText.mask(t)
    var d = 0; var j = consumed; var fromPos = -1
    while (j < t.length && fromPos < 0) {
      if (!im(j)) {
        if (t(j) == '(') d += 1
        else if (t(j) == ')') d -= 1
        else if (d == 0 && t.regionMatches(true, j, "FROM", 0, 4) &&
          (j + 4 >= t.length || (!t(j + 4).isLetterOrDigit && t(j + 4) != '_')) &&
          (!t(j - 1).isLetterOrDigit && t(j - 1) != '_'))
          fromPos = j
      }
      j += 1
    }
    if (fromPos < 0) None
    else Some(SqlText.splitTop(t.substring(consumed, fromPos).trim))
  }

  /** The name an ORDER BY ordinal resolves to for a select-list item:
    * its `AS` alias, or the item itself when it is a bare (possibly
    * qualified) column reference. An unaliased expression (or `*`) has
    * no stable output name to sort by textually — None. */
  private def ordinalKeyName(item: String): Option[String] = {
    val it = item.trim
    val am = java.util.regex.Pattern.compile(
      "(?is)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`|\"[^\"]+\")\\s*$")
      .matcher(it)
    if (am.find()) Some(am.group(1))
    else if (it.matches("(?s)[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*"))
      Some(it)
    else None
  }

  /** The retry reading of WITH TIES (opts.tiesInBlock): rank() computed
    * INSIDE the original block — `SELECT <proj>, rank() OVER (ORDER BY
    * keys) AS __ties_rnk FROM <tail>` — so keys resolve against the
    * block's INPUT relations (ANSI's second resolution tier: an
    * unprojected column like `SELECT n_name FROM nation ORDER BY
    * n_regionkey FETCH FIRST 2 ROWS WITH TIES`, or an aggregate over a
    * grouped block). The outer sort uses __ties_rnk itself — rank order
    * IS the key order, and intra-tie order is undefined either way.
    * Only plain SELECT blocks qualify: DISTINCT would dedup the
    * injected rank column (changing semantics) and a set operation has
    * no single projection to inject into — both throw, so the retry
    * surfaces the FIRST attempt's error. */
  private def tiesInBlockForm(inner: String, keys: String, n: String,
      offset: Option[String]): String = {
    val im = SqlText.mask(inner)
    var d = 0; var j = 0
    var fromPos = -1
    var setOp = false
    def isWord(at: Int, w: String): Boolean =
      inner.regionMatches(true, at, w, 0, w.length) &&
        (at == 0 || (!inner(at - 1).isLetterOrDigit && inner(at - 1) != '_')) &&
        (at + w.length >= inner.length ||
          (!inner(at + w.length).isLetterOrDigit && inner(at + w.length) != '_'))
    while (j < inner.length) {
      if (!im(j)) {
        inner(j) match {
          case '(' => d += 1
          case ')' => d -= 1
          case c if d == 0 && c.isLetter =>
            if (fromPos < 0 && isWord(j, "FROM")) fromPos = j
            if (isWord(j, "UNION") || isWord(j, "INTERSECT") ||
              isWord(j, "EXCEPT")) setOp = true
          case _ => ()
        }
      }
      j += 1
    }
    val trimmed = inner.trim
    val isPlainSelect = trimmed.length >= 7 &&
      trimmed.substring(0, 6).equalsIgnoreCase("SELECT") &&
      !trimmed.matches("(?is)^SELECT\\s+DISTINCT\\b.*")
    if (fromPos < 0 || setOp || !isPlainSelect)
      throw new IllegalArgumentException(
        "FETCH ... WITH TIES: the ORDER BY key must be resolvable from " +
          "the block (DISTINCT and set-operation blocks must sort by a " +
          "projected column)")
    val head = inner.substring(0, fromPos).trim
    val tail = inner.substring(fromPos)
    offset match {
      case None =>
        s"SELECT * EXCEPT (__ties_rnk) FROM ($head, " +
          s"rank() OVER (ORDER BY $keys) AS __ties_rnk $tail) " +
          s"__ties_w WHERE __ties_rnk <= $n ORDER BY __ties_rnk"
      case Some(k) =>
        val kn = k.toLong + n.toLong
        s"SELECT * EXCEPT (__ties_rnk, __ties_rn, __ties_brk) FROM (" +
          s"SELECT *, max(CASE WHEN __ties_rn = $kn THEN __ties_rnk END) " +
          s"OVER () AS __ties_brk FROM ($head, " +
          s"rank() OVER (ORDER BY $keys) AS __ties_rnk, " +
          s"row_number() OVER (ORDER BY $keys) AS __ties_rn $tail) " +
          s"__ties_r) __ties_w WHERE __ties_rn > $k AND " +
          s"(__ties_brk IS NULL OR __ties_rnk <= __ties_brk) " +
          s"ORDER BY __ties_rnk"
    }
  }

  private def rewriteFetchFirst(sql0: String, opts: PreprocessOpts): String = {
    if (!sql0.toUpperCase.contains("FETCH") && !sql0.toUpperCase.contains("OFFSET"))
      return sql0
    val sql = rewriteFetchTies(sql0, opts)
    // pass 0: OFFSET n LIMIT m (Trino's order) → LIMIT m OFFSET n
    val sql1 = SqlText.replaceUnmasked(sql, offsetLimitPattern) { m =>
      s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"
    }
    // pass 1: OFFSET n [ROWS] [FETCH ... ONLY] — the combined form must
    // swap to Spark's LIMIT-then-OFFSET order; a bare OFFSET keeps its
    // position and just drops the ROW/ROWS noise word
    var out = SqlText.replaceUnmasked(sql1, offsetFetchPattern) { m =>
      val off = m.group(1)
      Option(m.group(2)) match {
        case Some(_) =>
          val cnt = Option(m.group(3)).map(_.trim).getOrElse("1")
          s"LIMIT $cnt OFFSET $off"
        case None => s"OFFSET $off"
      }
    }
    // pass 2: bare FETCH FIRST n ROWS ONLY (no OFFSET) → LIMIT n
    out = SqlText.replaceUnmasked(out, fetchOnlyPattern) { m =>
      s"LIMIT ${Option(m.group(1)).map(_.trim).getOrElse("1")}"
    }
    out
  }

  // Trino's relational UNNEST — `CROSS JOIN UNNEST(e1[, e2…]) [WITH
  // ORDINALITY] AS t(c1[, c2…])`, the comma-join form, and `LEFT JOIN
  // UNNEST(…) AS t(…) ON TRUE` — has no Spark keyword at all. Rewrite
  // onto LATERAL VIEW generators, which attach to the PRECEDING
  // relation exactly where the join text sat:
  //   one argument            → explode(e)        (array → 1 col, map → 2)
  //   one argument, ≥3 cols   → inline(e)         (array of row, splatted)
  //   K arguments, K cols     → inline(arrays_zip(e1…)) (Trino's zip —
  //                             both pad the shorter arrays with NULL)
  //   WITH ORDINALITY (1 arg) → inline(transform(e, (x, i) →
  //                             struct(x, i+1)))  (1-based, last column)
  //   LEFT JOIN … ON TRUE     → LATERAL VIEW OUTER (empty/null arrays
  //                             keep the left row with NULL cols)
  // Unsupported combinations (multi-argument or map WITH ORDINALITY)
  // fail with a workaround message, never a silent misread.
  // alternatives ordered so a scan hits CROSS/LEFT at their own start
  // position before the bare JOIN inside them could match; FROM-position
  // UNNEST (a standalone table function) becomes a one-row subquery
  private val unnestHeadPattern = java.util.regex.Pattern.compile(
    "(?i)(\\bCROSS\\s+JOIN|\\bLEFT\\s+(?:OUTER\\s+)?JOIN|" +
    "\\b(?:INNER\\s+)?JOIN|\\bFROM|,)\\s*UNNEST\\s*\\(")
  private val unnestTailPattern = java.util.regex.Pattern.compile(
    "(?i)^\\s*(WITH\\s+ORDINALITY\\s+)?(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)" +
    "\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*(?:\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*)*)\\s*\\)" +
    "(\\s*ON\\s+TRUE)?")

  private def rewriteUnnest(sql0: String,
      opts: PreprocessOpts = PreprocessOpts()): String =
    SqlText.rewriteMatches(sql0, unnestHeadPattern) { hit =>
      val sql = hit.sql
      val m = hit.m
      val close = hit.closeParen(m.end - 1)
      if (close < 0)
        throw new IllegalArgumentException(
          "UNNEST: unbalanced parentheses in the argument list")
      val args = SqlText.splitTop(sql.substring(m.end, close))
      val tail = unnestTailPattern.matcher(sql.substring(close + 1))
      if (!tail.lookingAt())
        throw new IllegalArgumentException(
          "UNNEST requires a column alias list — write `… JOIN " +
            "UNNEST(expr) AS t(col1[, col2…])` (Trino's own required " +
            "form here)")
      val ordinality = tail.group(1) != null
      val alias = tail.group(2)
      val cols = tail.group(3).split(",").map(_.trim).toSeq
      val onTrue = tail.group(4) != null
      val joinTxt = m.group(1).toUpperCase
      val isLeft = joinTxt.contains("LEFT")
      val isFrom = joinTxt == "FROM"
      // LEFT/INNER joins against UNNEST take (only) ON TRUE in
      // Trino; CROSS JOIN, the comma form, and FROM position take
      // no condition at all
      val needsOnTrue = isLeft || joinTxt.endsWith("JOIN") &&
        !joinTxt.contains("CROSS")
      if (needsOnTrue && !onTrue)
        throw new IllegalArgumentException(
          s"${joinTxt.trim} UNNEST requires ON TRUE (Trino's only " +
            "supported join condition for UNNEST)")
      if (!needsOnTrue && onTrue)
        throw new IllegalArgumentException(
          "ON TRUE is only valid with LEFT/INNER JOIN UNNEST")
      val outer = if (isLeft) " OUTER" else ""
      val gen =
        if (!ordinality) {
          // one argument with exactly 2 aliases is textually
          // ambiguous: a MAP (→ explode, the default reading) or an
          // ARRAY(ROW(a, b)) splat (→ inline, the retry reading
          // QueryService picks when explode fails analysis with
          // UDTF_ALIAS_NUMBER_MISMATCH — the analyzer supplies the
          // type the text cannot)
          if (args.size == 1 && cols.size == 2 && opts.unnestRowSplat)
            s"inline(${args.head})"
          else if (args.size == 1 && cols.size <= 2) s"explode(${args.head})"
          else if (args.size == 1) s"inline(${args.head})"
          else if (cols.size == args.size)
            s"inline(arrays_zip(${args.mkString(", ")}))"
          else throw new IllegalArgumentException(
            s"UNNEST of ${args.size} arrays must alias exactly " +
              s"${args.size} columns (got ${cols.size})")
        } else {
          if (args.size == 1 && cols.size == 2)
            s"inline(transform(${args.head}, (__unnest_e, __unnest_i) -> " +
              "struct(__unnest_e, CAST(__unnest_i + 1 AS BIGINT))))"
          else if (args.size == 1 && cols.size == 3)
            // map WITH ORDINALITY → (key, value, ordinal); Trino
            // iterates map entries in map order, Spark's map_entries
            // preserves insertion order — same contract
            s"inline(transform(map_entries(${args.head}), " +
              "(__unnest_e, __unnest_i) -> struct(__unnest_e.key, " +
              "__unnest_e.value, CAST(__unnest_i + 1 AS BIGINT))))"
          else if (args.size >= 2 && cols.size == args.size + 1) {
            // K arrays zipped WITH ORDINALITY: append an ordinal
            // array sized to the LONGEST input (arrays_zip NULL-pads
            // the shorter ones, and the ordinal column itself is
            // never NULL — Trino's exact shape). size() is guarded
            // against both its null-input conventions (-1 legacy,
            // NULL ansi) so a NULL array behaves as empty.
            val sizes = args.map(a =>
              s"coalesce(nullif(size($a), -1), 0)").mkString(", ")
            val g = if (args.size == 1) sizes else s"greatest($sizes)"
            val ord = s"CASE WHEN $g > 0 THEN sequence(CAST(1 AS " +
              s"BIGINT), CAST($g AS BIGINT)) ELSE CAST(array() AS " +
              "ARRAY<BIGINT>) END"
            s"inline(arrays_zip(${args.mkString(", ")}, $ord))"
          } else throw new IllegalArgumentException(
            s"UNNEST … WITH ORDINALITY column count must be " +
              s"#arrays + 1 (or 2 for one array / 3 for a map); got " +
              s"${args.size} argument(s) with ${cols.size} columns")
        }
      val replacement =
        if (isFrom) {
          // standalone table function → a one-select subquery (the
          // generator sits in the select list, aliased positionally)
          val aliased =
            if (cols.size == 1) s"AS ${cols.head}"
            else s"AS (${cols.mkString(", ")})"
          s"FROM (SELECT $gen $aliased) AS $alias"
        } else
          s" LATERAL VIEW$outer $gen $alias AS ${cols.mkString(", ")}"
      Some((m.start, close + 1 + tail.end, replacement))
    }

  /** Double every backslash inside single-quoted literals (see the
    * preprocess header note). The literals are the ones SqlText finds;
    * comments and quoted identifiers copy through untouched. A literal
    * that ends in a backslash ('C:\') closes at its quote under Trino's
    * rules and round-trips ('C:\\' → Spark → C:\). */
  private def escapeLiteralBackslashes(q: String): String = {
    if (q.indexOf('\\') < 0) return q
    val sb = new java.lang.StringBuilder(q.length + 8)
    var last = 0
    SqlText.scan(q) { (opener, start, end) =>
      if (opener == '\'') {
        sb.append(q, last, start).append(q.substring(start, end).replace("\\", "\\\\"))
        last = end
      }
    }
    sb.append(q, last, q.length).toString
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v, _) if v != null => v.toString.toDouble.toInt
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  /** Spark's KLL aggregate takes FLOAT/DOUBLE only; Trino's digests
    * also take integers and decimals. */
  private def kllAgg(x: Expression): Expression =
    aggregate.KllSketchAggDouble(Cast(x, DoubleType), Some(Literal(200)))

  /** `read` of sketch `sk`, NULL for an empty sketch (as Trino gives),
    * where Spark's KLL readers throw. */
  private def kllRead(sk: Expression, read: Expression): Expression =
    If(EqualTo(KllSketchGetNDouble(sk), Literal(0L)), Literal(null, read.dataType), read)

  /** The engine's own native expressions, exposed to SQL users of
    * execute_query (graft.functions.NativeExprs) — the extension
    * function surface a pipeline author scripts against. */
  val graftNatives: Map[String, Seq[Expression] => Expression] = {
    import graft.functions.NativeExprs._
    Map(
      "minhash_sig" -> {
        case Seq(arr, n) => MinHashSig(arr, litInt(n, "numHashes"))
        case args => throw new IllegalArgumentException(
          s"minhash_sig expects (array<bigint>, numHashes), got ${args.length} args")
      },
      "simhash64" -> {
        case Seq(arr) => SimHash64(arr)
        case args => throw new IllegalArgumentException(
          s"simhash64 expects 1 arg, got ${args.length}")
      },
      "srp_sig" -> {
        case Seq(vec, bits) => SRPSig(vec, litInt(bits, "bits"))
        case args => throw new IllegalArgumentException(
          s"srp_sig expects (array<float>, bits), got ${args.length} args")
      },
      "shingle_hash" -> {
        case Seq(toks, k) => ShingleHash(toks, litInt(k, "k"))
        case args => throw new IllegalArgumentException(
          s"shingle_hash expects (array<string>, k), got ${args.length} args")
      },
      "deflate_ratio" -> {
        case Seq(s) => DeflateRatio(s)
        case args => throw new IllegalArgumentException(
          s"deflate_ratio expects 1 arg, got ${args.length}")
      },
      "sorted_intersect_count" -> {
        case Seq(a, b) => SortedIntersectCount(a, b)
        case args => throw new IllegalArgumentException(
          s"sorted_intersect_count expects 2 args, got ${args.length}")
      },
      "dotf" -> {
        case Seq(a, b) => DotF(a, b)
        case args => throw new IllegalArgumentException(
          s"dotf expects 2 args, got ${args.length}")
      },
      // dense-array cosine over the codegen'd native dot product (Trino
      // spells cosine_similarity over sparse maps; the embedding
      // pipelines here carry dense array<float> columns)
      "cosine_similarity" -> {
        case Seq(a, b) =>
          Divide(DotF(a, b),
            Sqrt(Multiply(DotF(a, a), DotF(b, b))))
        case args => throw new IllegalArgumentException(
          s"cosine_similarity expects 2 args, got ${args.length}")
      },
      // Trino quantile-digest surface on Spark's DataSketches KLL
      // built-ins (k = 200). qdigest_agg's optional weight / accuracy
      // args are not supported — KLL fixes accuracy via k. tdigest_agg
      // builds the same sketch (DIALECT.md — the engine's one mergeable
      // quantile sketch answers both Trino digest surfaces), and `merge`
      // merges these sketches (Trino's merge() is generic over digest
      // types; this engine's stored sketches are KLL).
      "qdigest_agg" -> {
        case Seq(x) => kllAgg(x)
        case args => throw new IllegalArgumentException(
          s"qdigest_agg expects 1 arg (weights/accuracy unsupported), got ${args.length}")
      },
      "tdigest_agg" -> {
        case Seq(x) => kllAgg(x)
        case args => throw new IllegalArgumentException(
          s"tdigest_agg expects 1 arg (weights unsupported), got ${args.length}")
      },
      "values_at_quantiles" -> {
        case Seq(sk, qs) => kllRead(sk, KllSketchGetQuantileDouble(sk, qs))
        case args => throw new IllegalArgumentException(
          s"values_at_quantiles expects (qdigest, array<double>), got ${args.length} args")
      },
      // Spark's rank is 0.0 / 1.0 outside the sketch's [min, max]; Trino's
      // is NULL there
      "quantile_at_value" -> {
        case Seq(sk, v) =>
          val x = Cast(v, DoubleType)
          kllRead(sk, If(
            Or(LessThan(x, KllSketchGetQuantileDouble(sk, Literal(0.0))),
              GreaterThan(x, KllSketchGetQuantileDouble(sk, Literal(1.0)))),
            Literal(null, DoubleType),
            KllSketchGetRankDouble(sk, x)))
        case args => throw new IllegalArgumentException(
          s"quantile_at_value expects (qdigest, value), got ${args.length} args")
      },
      // numeric_histogram(buckets, x[, w]) — streaming Ben-Haim &
      // Yom-Tov bins (functions/HistogramExprs.scala), Trino's own
      // algorithm; bucket count must be a literal
      "numeric_histogram" -> {
        case Seq(b, x) => graft.functions.HistogramExprs.NumericHistogramAgg(
          x, Literal(1.0), litInt(b, "buckets"))
        case Seq(b, x, w) => graft.functions.HistogramExprs.NumericHistogramAgg(
          x, w, litInt(b, "buckets"))
        case args => throw new IllegalArgumentException(
          s"numeric_histogram expects (buckets, value[, weight]), got ${args.length} args")
      },
      "merge" -> {
        case Seq(sk) => aggregate.KllMergeAggDouble(sk, Some(Literal(200)))
        case args => throw new IllegalArgumentException(
          s"merge expects 1 arg, got ${args.length}")
      },
      "value_at_quantile" -> {
        case Seq(sk, q) => kllRead(sk, KllSketchGetQuantileDouble(sk, q))
        case args => throw new IllegalArgumentException(
          s"value_at_quantile expects (qdigest, quantile), got ${args.length} args")
      },
      // Trino setdigest surface: a composite carrier
      // (functions/ThetaExprs.scala) — theta sketch plus the bounded
      // hash→count map that serves hash_counts (the theta part alone
      // tracks no counts). Estimates and set algebra run on Spark's
      // theta built-ins over the theta part.
      "make_set_digest" -> {
        case Seq(x) => graft.functions.ThetaExprs.SetDigestAgg(x)
        case args => throw new IllegalArgumentException(
          s"make_set_digest expects 1 arg, got ${args.length}")
      },
      "merge_set_digest" -> {
        case Seq(sk) => graft.functions.ThetaExprs.SetDigestMergeAgg(sk)
        case args => throw new IllegalArgumentException(
          s"merge_set_digest expects 1 arg, got ${args.length}")
      },
      "hash_counts" -> {
        case Seq(sk) => graft.functions.ThetaExprs.HashCounts(sk)
        case args => throw new IllegalArgumentException(
          s"hash_counts expects 1 arg, got ${args.length}")
      },
      "intersection_cardinality" -> {
        case Seq(a, b) => ThetaSketchEstimate(ThetaIntersection(SetDigestTheta(a), SetDigestTheta(b)))
        case args => throw new IllegalArgumentException(
          s"intersection_cardinality expects 2 args, got ${args.length}")
      },
      // |A ∩ B| / |A ∪ B| of the (rounded) estimates; two empty sets have
      // Jaccard 1.0 (identical), matching the limit convention
      "jaccard_index" -> {
        case Seq(a, b) =>
          val (ta, tb) = (SetDigestTheta(a), SetDigestTheta(b))
          val union = ThetaSketchEstimate(new ThetaUnion(ta, tb))
          If(EqualTo(union, Literal(0L)), Literal(1.0),
            Divide(Cast(ThetaSketchEstimate(ThetaIntersection(ta, tb)), DoubleType),
              Cast(union, DoubleType)))
        case args => throw new IllegalArgumentException(
          s"jaccard_index expects 2 args, got ${args.length}")
      })
  }

  /** Install the shims + native extensions into the session's function
    * registry (idempotent; createOrReplace). The replace-warning logger
    * is lowered to ERROR first: overriding built-in names (strpos,
    * date_format, …) with the Trino-semantics versions is the POINT of
    * the dialect layer, and ~60 WARN lines per session would drown real
    * signal in the bench/driver logs. */
  def register(spark: SparkSession): Unit = {
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => } // logging impl absent: warnings are harmless
    val registry = spark.sessionState.functionRegistry
    (shims ++ graftNatives).foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Static math helpers behind the statistical dialect functions,
  * invoked via StaticInvoke (codegen emits a plain static call — the
  * Scala compiler generates static forwarders for this top-level
  * object). Delegates to commons-math3, which ships in Spark's own
  * classpath. Out-of-domain arguments raise IllegalArgumentException,
  * mirroring Trino's errors (null under try()). */
object StatFuncs {
  import org.apache.commons.math3.special.{Beta, Erf}

  private val Sqrt2 = math.sqrt(2.0)

  def normalCdf(mean: Double, sd: Double, v: Double): Double = {
    require(sd > 0, "standardDeviation must be > 0")
    0.5 * (1.0 + Erf.erf((v - mean) / (sd * Sqrt2)))
  }

  def inverseNormalCdf(mean: Double, sd: Double, p: Double): Double = {
    require(sd > 0, "standardDeviation must be > 0")
    require(p > 0 && p < 1, "p must be 0 > p > 1")
    mean + sd * Sqrt2 * Erf.erfInv(2.0 * p - 1.0)
  }

  def betaCdf(a: Double, b: Double, v: Double): Double = {
    require(a > 0 && b > 0, "alpha and beta must be > 0")
    require(v >= 0 && v <= 1, "value must be in the interval [0, 1]")
    Beta.regularizedBeta(v, a, b)
  }

  def inverseBetaCdf(a: Double, b: Double, p: Double): Double = {
    require(a > 0 && b > 0, "alpha and beta must be > 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new org.apache.commons.math3.distribution.BetaDistribution(null, a, b)
      .inverseCumulativeProbability(p)
  }

  // The rest of the distribution family. Each call builds the
  // commons-math3 distribution object fresh — these are scalar dialect
  // functions, not hot-path pipeline kernels, and the objects are
  // parameter-dependent so there is nothing session-wide to cache.
  // Domain requires mirror Trino's checkCondition errors (null under
  // try()). Integer-valued parameters (trials, counts) arrive as the
  // uniform double calling convention and are truncated, matching
  // Trino's integer signatures.
  import org.apache.commons.math3.distribution._

  def binomialCdf(trials: Double, sp: Double, v: Double): Double = {
    require(sp >= 0 && sp <= 1, "successProbability must be in the interval [0, 1]")
    require(trials > 0, "numberOfTrials must be greater than 0")
    require(v >= 0, "value must be a non-negative integer")
    new BinomialDistribution(null, trials.toInt, sp).cumulativeProbability(v.toInt)
  }

  def cauchyCdf(median: Double, scale: Double, v: Double): Double = {
    require(scale > 0, "scale must be greater than 0")
    new CauchyDistribution(median, scale).cumulativeProbability(v)
  }

  def inverseCauchyCdf(median: Double, scale: Double, p: Double): Double = {
    require(scale > 0, "scale must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new CauchyDistribution(median, scale).inverseCumulativeProbability(p)
  }

  def chiSquaredCdf(df: Double, v: Double): Double = {
    require(df > 0, "df must be greater than 0")
    require(v >= 0, "value must non-negative")
    new ChiSquaredDistribution(df).cumulativeProbability(v)
  }

  def inverseChiSquaredCdf(df: Double, p: Double): Double = {
    require(df > 0, "df must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new ChiSquaredDistribution(df).inverseCumulativeProbability(p)
  }

  def fCdf(df1: Double, df2: Double, v: Double): Double = {
    require(df1 > 0 && df2 > 0, "numerator and denominator df must be greater than 0")
    require(v >= 0, "value must non-negative")
    new FDistribution(df1, df2).cumulativeProbability(v)
  }

  def inverseFCdf(df1: Double, df2: Double, p: Double): Double = {
    require(df1 > 0 && df2 > 0, "numerator and denominator df must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new FDistribution(df1, df2).inverseCumulativeProbability(p)
  }

  def gammaCdf(shape: Double, scale: Double, v: Double): Double = {
    require(shape > 0 && scale > 0, "shape and scale must be greater than 0")
    require(v >= 0, "value must be greater than, or equal to, 0")
    new GammaDistribution(null, shape, scale,
      GammaDistribution.DEFAULT_INVERSE_ABSOLUTE_ACCURACY).cumulativeProbability(v)
  }

  def inverseGammaCdf(shape: Double, scale: Double, p: Double): Double = {
    require(shape > 0 && scale > 0, "shape and scale must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new GammaDistribution(null, shape, scale,
      GammaDistribution.DEFAULT_INVERSE_ABSOLUTE_ACCURACY)
      .inverseCumulativeProbability(p)
  }

  def laplaceCdf(mean: Double, scale: Double, v: Double): Double = {
    require(scale > 0, "scale must be greater than 0")
    new LaplaceDistribution(mean, scale).cumulativeProbability(v)
  }

  def inverseLaplaceCdf(mean: Double, scale: Double, p: Double): Double = {
    require(scale > 0, "scale must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new LaplaceDistribution(mean, scale).inverseCumulativeProbability(p)
  }

  def poissonCdf(lambda: Double, v: Double): Double = {
    require(lambda > 0, "lambda must be greater than 0")
    require(v >= 0, "value must be a non-negative integer")
    new PoissonDistribution(lambda).cumulativeProbability(v.toInt)
  }

  def inversePoissonCdf(lambda: Double, p: Double): Int = {
    require(lambda > 0, "lambda must be greater than 0")
    require(p >= 0 && p < 1, "p must be in the interval [0, 1)")
    new PoissonDistribution(lambda).inverseCumulativeProbability(p)
  }

  def weibullCdf(a: Double, b: Double, v: Double): Double = {
    require(a > 0 && b > 0, "a and b must be greater than 0")
    new WeibullDistribution(a, b).cumulativeProbability(v)
  }

  def inverseWeibullCdf(a: Double, b: Double, p: Double): Double = {
    require(a > 0 && b > 0, "a and b must be greater than 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new WeibullDistribution(a, b).inverseCumulativeProbability(p)
  }

  def inverseBinomialCdf(trials: Double, sp: Double, p: Double): Int = {
    require(sp >= 0 && sp <= 1, "successProbability must be in the interval [0, 1]")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    require(trials > 0, "numberOfTrials must be greater than 0")
    new BinomialDistribution(null, trials.toInt, sp).inverseCumulativeProbability(p)
  }
}

/** Static byte-level helpers behind the binary dialect functions
  * (StaticInvoke targets, like [[StatFuncs]]). Mac instances are not
  * cached: getInstance is cheap relative to the MAC itself and these
  * are not hot-path expressions. */
object BinFuncs {
  import java.nio.ByteBuffer
  import org.apache.spark.unsafe.types.UTF8String

  /** RFC 4648 base32 (Trino's to_base32 / from_base32): the uppercase
    * A–Z 2–7 alphabet with '=' padding to 8-char groups. Decode accepts
    * lowercase too and raises on any other character (NULL under
    * try()), like Trino's INVALID_FUNCTION_ARGUMENT. */
  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
  def toBase32(b: Array[Byte]): UTF8String = {
    val sb = new java.lang.StringBuilder((b.length + 4) / 5 * 8)
    var i = 0
    var buf = 0L
    var bits = 0
    while (i < b.length) {
      buf = (buf << 8) | (b(i) & 0xffL); bits += 8
      while (bits >= 5) {
        bits -= 5
        sb.append(B32(((buf >> bits) & 31).toInt))
      }
      i += 1
    }
    if (bits > 0) sb.append(B32(((buf << (5 - bits)) & 31).toInt))
    while (sb.length % 8 != 0) sb.append('=')
    UTF8String.fromString(sb.toString)
  }
  def fromBase32(s: UTF8String): Array[Byte] = {
    val str = s.toString
    val out = new java.io.ByteArrayOutputStream(str.length * 5 / 8 + 1)
    var buf = 0L
    var bits = 0
    var i = 0
    var done = false
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '=') done = true // padding: only '=' may follow
      else if (done) throw new IllegalArgumentException(
        s"invalid base32 input: data after padding in '$str'")
      else {
        val v = B32.indexOf(Character.toUpperCase(c).toInt)
        if (v < 0) throw new IllegalArgumentException(
          s"invalid base32 character: $c")
        buf = (buf << 5) | v; bits += 5
        if (bits >= 8) {
          bits -= 8
          out.write(((buf >> bits) & 0xff).toInt)
        }
      }
      i += 1
    }
    // Canonical-form checks (Trino rides Guava BaseEncoding, which is
    // strict): total length must be a whole 8-char group, the padding
    // count must be one Guava emits (0, 1, 3, 4 or 6 '='s), and any
    // leftover bits below a byte boundary must be zero — 'AB======'
    // with nonzero trailing bits is a distinct, non-canonical encoding.
    if (str.length % 8 != 0) throw new IllegalArgumentException(
      s"invalid base32 input length ${str.length} (must be a multiple of 8)")
    val padCount = str.count(_ == '=')
    if (!Set(0, 1, 3, 4, 6).contains(padCount))
      throw new IllegalArgumentException(
        s"invalid base32 padding: $padCount '=' characters")
    if (bits > 0 && (buf & ((1L << bits) - 1)) != 0)
      throw new IllegalArgumentException(
        "invalid base32 input: non-zero trailing bits")
    out.toByteArray
  }

  /** Luhn mod-10 checksum over a digit string (payment-card check).
    * Empty or non-digit input → false (Trino raises INVALID_FUNCTION_
    * ARGUMENT; kept total here — the guarded surface maps argument
    * errors to false under try()-less usage, documented in DIALECT.md). */
  /** Trino error parity for luhn_check (spark.graft.strictErrors):
    * non-digit input raises like Trino's INVALID_FUNCTION_ARGUMENT
    * instead of returning false; the empty string is false in both. */
  def luhnCheckStrict(s: UTF8String): Boolean = {
    val str = s.toString
    str.foreach(c => if (!c.isDigit) throw new IllegalArgumentException(
      s"luhn_check: input contains a non-digit character '$c' " +
        "(strict mode, matching Trino's INVALID_FUNCTION_ARGUMENT)"))
    luhnCheck(s)
  }

  def luhnCheck(s: UTF8String): Boolean = {
    val str = s.toString
    if (str.isEmpty || !str.forall(_.isDigit)) return false
    var sum = 0
    var double = false
    var i = str.length - 1
    while (i >= 0) {
      var d = str.charAt(i) - '0'
      if (double) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      double = !double
      i -= 1
    }
    sum % 10 == 0
  }

  /** `regexp_position(s, p, start[, occurrence])` — 1-based char
    * position of the occurrence-th match at or after `start`, -1 when
    * absent (Trino's 3/4-arg forms; the 2-arg form rides Spark's
    * codegen'd regexp_instr). Non-positive start/occurrence raise, as
    * Trino's INVALID_FUNCTION_ARGUMENT does. Patterns are compiled once
    * per distinct regex (bounded cache) — in practice the pattern is a
    * literal, so this is one compile per executor. */
  private val rePosCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  def regexpPosition(s: UTF8String, p: UTF8String, start: Int,
      occurrence: Int): Int = {
    if (start < 1) throw new IllegalArgumentException(
      "regexp_position: start position must be positive")
    if (occurrence < 1) throw new IllegalArgumentException(
      "regexp_position: occurrence must be positive")
    val str = s.toString
    // Trino counts positions in CODE POINTS; java.util.regex works in
    // UTF-16 units. Map `start` in, and the match offset back out — a
    // supplementary character before the match costs 2 UTF-16 units
    // but only 1 Trino position.
    val cpLen = str.codePointCount(0, str.length)
    if (start - 1 > cpLen) return -1
    val startUtf16 = str.offsetByCodePoints(0, start - 1)
    val key = p.toString
    var pat = rePosCache.get(key)
    if (pat == null) {
      pat = java.util.regex.Pattern.compile(key)
      if (rePosCache.size < 1024) rePosCache.put(key, pat)
    }
    val m = pat.matcher(str)
    if (!m.find(startUtf16)) return -1
    var found = 1
    while (found < occurrence) {
      if (!m.find()) return -1 // find() self-advances past empty matches
      found += 1
    }
    str.codePointCount(0, m.start) + 1
  }

  def hmac(data: Array[Byte], key: Array[Byte], algo: UTF8String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance(algo.toString)
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algo.toString))
    mac.doFinal(data)
  }

  def toBigEndian32(x: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(x).array()
  def toBigEndian64(x: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(x).array()

  def fromBigEndian32(b: Array[Byte]): Int = {
    require(b.length == 4, "expected 4-byte value")
    ByteBuffer.wrap(b).getInt
  }

  def fromBigEndian64(b: Array[Byte]): Long = {
    require(b.length == 8, "expected 8-byte value")
    ByteBuffer.wrap(b).getLong
  }

  def toIeee754_32(x: Float): Array[Byte] =
    ByteBuffer.allocate(4).putInt(java.lang.Float.floatToIntBits(x)).array()

  def fromIeee754_32(b: Array[Byte]): Float = {
    require(b.length == 4, "expected 4-byte value")
    java.lang.Float.intBitsToFloat(ByteBuffer.wrap(b).getInt)
  }

  def toIeee754_64(x: Double): Array[Byte] =
    ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToLongBits(x)).array()

  def fromIeee754_64(b: Array[Byte]): Double = {
    require(b.length == 8, "expected 8-byte value")
    java.lang.Double.longBitsToDouble(ByteBuffer.wrap(b).getLong)
  }

  def toUtf8(s: UTF8String): Array[Byte] = s.getBytes

  /** Incremental UTF-8 decode replacing each invalid sequence with
    * `repl` (empty or one character, like Trino's from_utf8). Spark's
    * own decode() raises on malformed bytes under ANSI — this is the
    * Trino-semantics replacement loop. */
  def fromUtf8(b: Array[Byte], repl: UTF8String): UTF8String = {
    val r = repl.toString
    require(r.isEmpty || r.codePointCount(0, r.length) == 1,
      "replacement must be empty or a single character")
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    val in = ByteBuffer.wrap(b)
    val out = new java.lang.StringBuilder(b.length)
    val buf = java.nio.CharBuffer.allocate(1024)
    var done = false
    while (!done) {
      val res = dec.decode(in, buf, true)
      buf.flip(); out.append(buf); buf.clear()
      if (res.isError) { in.position(in.position() + res.length); out.append(r) }
      else if (res.isUnderflow) done = true
      // overflow: loop again with the drained buffer
    }
    UTF8String.fromString(out.toString)
  }

  /** Trino format_number: K/M/B/T/Q unit suffix, 3 significant digits
    * (123456 → "123K", 1234 → "1.23K"), trailing zeros stripped. */
  def formatNumber(v: Double): UTF8String = {
    val av = math.abs(v)
    val (scaled, unit) =
      if (av >= 1e15) (v / 1e15, "Q")
      else if (av >= 1e12) (v / 1e12, "T")
      else if (av >= 1e9) (v / 1e9, "B")
      else if (av >= 1e6) (v / 1e6, "M")
      else if (av >= 1e3) (v / 1e3, "K")
      else (v, "")
    val as = math.abs(scaled)
    val decimals = if (as < 10) 2 else if (as < 100) 1 else 0
    val bd = java.math.BigDecimal.valueOf(scaled)
      .setScale(decimals, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros()
    // stripTrailingZeros can flip to scientific notation (1E+3);
    // toPlainString keeps the fixed form
    UTF8String.fromString(bd.toPlainString + unit)
  }

  private val DataSizePattern = "^\\s*(\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)\\s*$".r
  private val DataSizeUnits = // SI-looking names, binary (1024^n) multipliers, like Trino
    Seq("B", "kB", "MB", "GB", "TB", "PB", "EB", "ZB", "YB").zipWithIndex.toMap

  /** Trino parse_data_size: '2.3MB' → floor(2.3 × 1024²) = 2411724,
    * as DECIMAL(38, 0). Unit names are case-sensitive. */
  def parseDataSize(s: UTF8String): Decimal = {
    val (num, unitName) = s.toString match {
      case DataSizePattern(n, u) => (n, u)
      case other => throw new IllegalArgumentException(s"Invalid data size: '$other'")
    }
    val exp = DataSizeUnits.getOrElse(unitName,
      throw new IllegalArgumentException(s"Invalid data size: '${s.toString}'"))
    val bytes = (BigDecimal(num) * BigDecimal(2).pow(10 * exp))
      .setScale(0, BigDecimal.RoundingMode.FLOOR)
    Decimal(bytes, 38, 0)
  }

  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** MurmurHash3 x64 128 with seed 0 — Trino's murmur3(varbinary) →
    * 16-byte varbinary, h1 then h2, little-endian, per the public
    * reference algorithm (Appleby's MurmurHash3.cpp). Differentially
    * tested against Guava's murmur3_128 (TrinoFunctionsSpec). */
  def murmur3(data: Array[Byte]): Array[Byte] = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val len = data.length
    val nblocks = len >>> 4
    var h1 = 0L
    var h2 = 0L
    val bb = ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nblocks) {
      var k1 = bb.getLong(i << 4)
      var k2 = bb.getLong((i << 4) + 8)
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
      h1 = java.lang.Long.rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
      h2 = java.lang.Long.rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val tail = nblocks << 4
    var k1 = 0L
    var k2 = 0L
    var r = len & 15
    while (r > 8) { k2 ^= (data(tail + r - 1) & 0xffL) << ((r - 9) << 3); r -= 1 }
    if ((len & 15) > 8) {
      k2 *= c2; k2 = java.lang.Long.rotateLeft(k2, 33); k2 *= c1; h2 ^= k2
    }
    while (r > 0) { k1 ^= (data(tail + r - 1) & 0xffL) << ((r - 1) << 3); r -= 1 }
    if ((len & 15) > 0) {
      k1 *= c1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= c2; h1 ^= k1
    }
    h1 ^= len; h2 ^= len
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(h1).putLong(h2).array()
  }

  /** Trino split_to_multimap: entries split on entryDelim, each split
    * once on kvDelim (which must appear exactly once per entry);
    * repeated keys accumulate → map<string, array<string>> in first-
    * appearance key order. */
  def splitToMultimap(s: UTF8String, entryDelim: UTF8String,
      kvDelim: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val ed = entryDelim.toString
    val kd = kvDelim.toString
    require(ed.nonEmpty, "entryDelimiter is empty")
    require(kd.nonEmpty, "keyValueDelimiter is empty")
    require(ed != kd, "entryDelimiter and keyValueDelimiter must not be the same")
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val values = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Any]]
    s.toString.split(java.util.regex.Pattern.quote(ed), -1).foreach { entry =>
      val at = entry.indexOf(kd)
      require(at >= 0 && entry.indexOf(kd, at + kd.length) < 0,
        s"Key-value delimiter must appear exactly once in each entry: '$entry'")
      val k = entry.substring(0, at)
      if (!values.contains(k)) { keys += k; values(k) = scala.collection.mutable.ArrayBuffer.empty }
      values(k) += UTF8String.fromString(entry.substring(at + kd.length))
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        keys.map(UTF8String.fromString(_): Any).toArray),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        keys.map(k => new org.apache.spark.sql.catalyst.util.GenericArrayData(
          values(k).toArray): Any).toArray))
  }

  // ---- SpookyHash V2 (Bob Jenkins' public-domain SpookyV2.cpp) ----
  // Trino's spooky_hash_v2_32/64(varbinary) (pass-through reachable,
  // reference client.go:284-290) hash with both seeds 0 and emit the
  // 64-bit result (resp. its low 32 bits) as BIG-ENDIAN varbinary —
  // pinned against Trino's own published vectors in
  // TrinoFunctionsSpec ('', 'hello', 'hello world').

  private val SpookyConst = 0xdeadbeefdeadbeefL

  @inline private def rotl(x: Long, k: Int): Long =
    java.lang.Long.rotateLeft(x, k)

  /** Short-input path (< 16 bytes handled wholly by the tail switch;
    * 16..191 bytes in 32-byte gulps through ShortMix). */
  private def spookyShort(data: Array[Byte], seed1: Long, seed2: Long): Long = {
    val length = data.length
    val bb = ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var a = seed1; var b = seed2; var c = SpookyConst; var d = SpookyConst
    var off = 0
    var rem = length % 32
    def shortMix(): Unit = {
      c = rotl(c, 50); c += d; a ^= c
      d = rotl(d, 52); d += a; b ^= d
      a = rotl(a, 30); a += b; c ^= a
      b = rotl(b, 41); b += c; d ^= b
      c = rotl(c, 54); c += d; a ^= c
      d = rotl(d, 48); d += a; b ^= d
      a = rotl(a, 38); a += b; c ^= a
      b = rotl(b, 37); b += c; d ^= b
      c = rotl(c, 62); c += d; a ^= c
      d = rotl(d, 34); d += a; b ^= d
      a = rotl(a, 5);  a += b; c ^= a
      b = rotl(b, 36); b += c; d ^= b
    }
    if (length > 15) {
      val blocks = length / 32
      var i = 0
      while (i < blocks) {
        c += bb.getLong(off); d += bb.getLong(off + 8)
        shortMix()
        a += bb.getLong(off + 16); b += bb.getLong(off + 24)
        off += 32; i += 1
      }
      if (rem >= 16) {
        c += bb.getLong(off); d += bb.getLong(off + 8)
        shortMix()
        off += 16; rem -= 16
      }
    }
    // last 0..15 bytes plus the total length (C switch fallthrough)
    d += length.toLong << 56
    if (rem >= 12) {
      if (rem == 15) d += (data(off + 14) & 0xffL) << 48
      if (rem >= 14) d += (data(off + 13) & 0xffL) << 40
      if (rem >= 13) d += (data(off + 12) & 0xffL) << 32
      d += bb.getInt(off + 8) & 0xffffffffL
      c += bb.getLong(off)
    } else if (rem >= 8) {
      if (rem == 11) d += (data(off + 10) & 0xffL) << 16
      if (rem >= 10) d += (data(off + 9) & 0xffL) << 8
      if (rem >= 9)  d += data(off + 8) & 0xffL
      c += bb.getLong(off)
    } else if (rem >= 4) {
      if (rem == 7) c += (data(off + 6) & 0xffL) << 48
      if (rem >= 6) c += (data(off + 5) & 0xffL) << 40
      if (rem >= 5) c += (data(off + 4) & 0xffL) << 32
      c += bb.getInt(off) & 0xffffffffL
    } else if (rem >= 1) {
      if (rem == 3) c += (data(off + 2) & 0xffL) << 16
      if (rem >= 2) c += (data(off + 1) & 0xffL) << 8
      c += data(off) & 0xffL
    } else { c += SpookyConst; d += SpookyConst }
    // ShortEnd
    d ^= c; c = rotl(c, 15); d += c
    a ^= d; d = rotl(d, 52); a += d
    b ^= a; a = rotl(a, 26); b += a
    c ^= b; b = rotl(b, 51); c += b
    d ^= c; c = rotl(c, 28); d += c
    a ^= d; d = rotl(d, 9);  a += d
    b ^= a; a = rotl(a, 47); b += a
    c ^= b; b = rotl(b, 54); c += b
    d ^= c; c = rotl(c, 32); d += c
    a ^= d; d = rotl(d, 25); a += d
    b ^= a; a = rotl(a, 63); b += a
    a
  }

  /** Full SpookyHash V2: 12-lane Mix over 96-byte blocks, zero-padded
    * tail with the remainder byte count in buf[95], then End (state +=
    * tail data, three EndPartial rounds). Returns h0 (the 64-bit hash). */
  def spookyHash64(data: Array[Byte], seed1: Long, seed2: Long): Long = {
    val length = data.length
    if (length < 192) return spookyShort(data, seed1, seed2)
    val h = new Array[Long](12)
    h(0) = seed1; h(3) = seed1; h(6) = seed1; h(9) = seed1
    h(1) = seed2; h(4) = seed2; h(7) = seed2; h(10) = seed2
    h(2) = SpookyConst; h(5) = SpookyConst; h(8) = SpookyConst; h(11) = SpookyConst
    def mix(bb: ByteBuffer, off: Int): Unit = {
      h(0) += bb.getLong(off);       h(2) ^= h(10); h(11) ^= h(0);  h(0) = rotl(h(0), 11);   h(11) += h(1)
      h(1) += bb.getLong(off + 8);   h(3) ^= h(11); h(0) ^= h(1);   h(1) = rotl(h(1), 32);   h(0) += h(2)
      h(2) += bb.getLong(off + 16);  h(4) ^= h(0);  h(1) ^= h(2);   h(2) = rotl(h(2), 43);   h(1) += h(3)
      h(3) += bb.getLong(off + 24);  h(5) ^= h(1);  h(2) ^= h(3);   h(3) = rotl(h(3), 31);   h(2) += h(4)
      h(4) += bb.getLong(off + 32);  h(6) ^= h(2);  h(3) ^= h(4);   h(4) = rotl(h(4), 17);   h(3) += h(5)
      h(5) += bb.getLong(off + 40);  h(7) ^= h(3);  h(4) ^= h(5);   h(5) = rotl(h(5), 28);   h(4) += h(6)
      h(6) += bb.getLong(off + 48);  h(8) ^= h(4);  h(5) ^= h(6);   h(6) = rotl(h(6), 39);   h(5) += h(7)
      h(7) += bb.getLong(off + 56);  h(9) ^= h(5);  h(6) ^= h(7);   h(7) = rotl(h(7), 57);   h(6) += h(8)
      h(8) += bb.getLong(off + 64);  h(10) ^= h(6); h(7) ^= h(8);   h(8) = rotl(h(8), 55);   h(7) += h(9)
      h(9) += bb.getLong(off + 72);  h(11) ^= h(7); h(8) ^= h(9);   h(9) = rotl(h(9), 54);   h(8) += h(10)
      h(10) += bb.getLong(off + 80); h(0) ^= h(8);  h(9) ^= h(10);  h(10) = rotl(h(10), 22); h(9) += h(11)
      h(11) += bb.getLong(off + 88); h(1) ^= h(9);  h(10) ^= h(11); h(11) = rotl(h(11), 46); h(10) += h(0)
    }
    def endPartial(): Unit = {
      h(11) += h(1); h(2) ^= h(11); h(1) = rotl(h(1), 44)
      h(0) += h(2);  h(3) ^= h(0);  h(2) = rotl(h(2), 15)
      h(1) += h(3);  h(4) ^= h(1);  h(3) = rotl(h(3), 34)
      h(2) += h(4);  h(5) ^= h(2);  h(4) = rotl(h(4), 21)
      h(3) += h(5);  h(6) ^= h(3);  h(5) = rotl(h(5), 38)
      h(4) += h(6);  h(7) ^= h(4);  h(6) = rotl(h(6), 33)
      h(5) += h(7);  h(8) ^= h(5);  h(7) = rotl(h(7), 10)
      h(6) += h(8);  h(9) ^= h(6);  h(8) = rotl(h(8), 13)
      h(7) += h(9);  h(10) ^= h(7); h(9) = rotl(h(9), 38)
      h(8) += h(10); h(11) ^= h(8); h(10) = rotl(h(10), 53)
      h(9) += h(11); h(0) ^= h(9);  h(11) = rotl(h(11), 42)
      h(10) += h(0); h(1) ^= h(10); h(0) = rotl(h(0), 54)
    }
    val bb = ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blocks = length / 96
    var off = 0
    var i = 0
    while (i < blocks) { mix(bb, off); off += 96; i += 1 }
    val rem = length - off
    val buf = new Array[Byte](96)
    System.arraycopy(data, off, buf, 0, rem)
    buf(95) = rem.toByte
    val tb = ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var k = 0
    while (k < 12) { h(k) += tb.getLong(k << 3); k += 1 }
    endPartial(); endPartial(); endPartial()
    h(0)
  }

  def spookyHashV264(data: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(8).putLong(spookyHash64(data, 0L, 0L)).array()

  def spookyHashV232(data: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(4).putInt(spookyHash64(data, 0L, 0L).toInt).array()

  // ---- bar(x, width): Trino's ANSI bar-chart renderer ----
  // `count = clamp(x·width)` full blocks (U+2588), each prefixed by a
  // 256-color escape interpolated red→green in HSB space (the same
  // java.awt conversions Trino's ColorFunctions uses), then a reset
  // and space padding to `width` for column alignment.
  def bar(percent: Double, width: Long): UTF8String = {
    require(width > 0 && width <= 1000000,
      s"bar width must be between 1 and 1000000, got $width")
    val w = width.toInt
    var count = (percent * w).toLong
    if (count > w) count = w
    if (count < 0) count = 0
    val lowHsb = java.awt.Color.RGBtoHSB(255, 0, 0, null)   // red
    val highHsb = java.awt.Color.RGBtoHSB(0, 255, 0, null)  // green
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      val f = (i / (w - 1.0)).toFloat
      val rgb = java.awt.Color.HSBtoRGB(
        f * (highHsb(0) - lowHsb(0)) + lowHsb(0),
        f * (highHsb(1) - lowHsb(1)) + lowHsb(1),
        f * (highHsb(2) - lowHsb(2)) + lowHsb(2)) & 0xffffff
      // 6x6x6 ANSI color-cube index (16 + 36r' + 6g' + b', c' = c*6/256)
      val ansi = 16 + ((rgb >> 16 & 0xff) * 6 / 256) * 36 +
        ((rgb >> 8 & 0xff) * 6 / 256) * 6 + (rgb & 0xff) * 6 / 256
      sb.append("\u001b[38;5;").append(ansi).append('m').append('\u2588')
      i += 1
    }
    sb.append("\u001b[0m")
    var j = count
    while (j < w) { sb.append(' '); j += 1 }
    UTF8String.fromString(sb.toString)
  }
}

/** Jackson-backed JSON inspectors behind json_size / is_json_scalar
  * (StaticInvoke targets; jackson-databind ships in Spark's own
  * classpath). Path subset: `$`, `.name`, `[idx]`, `["name"]`. Invalid
  * JSON or malformed path raises IllegalArgumentException like Trino's
  * errors (NULL under try()); a path that falls off the document
  * returns NULL. */
object JsonFuncs {
  import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
  import org.apache.spark.unsafe.types.UTF8String

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Shared parsed-tree carrier (guide §4): a JSON_TABLE evaluates one
    * json_value/json_query/json_exists per output COLUMN plus one
    * graft_json_items per NESTED branch over the SAME document/item
    * text, and the multi-branch rewrite re-serializes each level's item
    * only for the next level to re-parse it — without a cache every
    * call re-runs Jackson over identical bytes. A small per-thread memo
    * keyed on the exact text returns the tree instead: the equality
    * probe is O(len) byte compare vs the ~10-50× costlier parse, and
    * 4 slots cover the document plus the items in flight at each
    * nesting level of the deepest declared table. Keys are DEFENSIVE
    * COPIES (UTF8String may view a reused scan buffer); trees are safe
    * to share because every caller only READS parsed nodes — the
    * constructor finishers build fresh Object/ArrayNodes and only
    * re-reference parsed subtrees. Only successful parses are cached,
    * so error behavior is unchanged. */
  private val parseMemo = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](8)
  }

  private def parse(j: UTF8String): JsonNode = {
    val memo = parseMemo.get()
    var s = 0
    while (s < 8) {
      val k = memo(s)
      if (k != null && k.asInstanceOf[UTF8String].equals(j)) {
        // promote to slot 0 (the next call is most likely the same text)
        if (s != 0) {
          val v = memo(s + 1)
          var t = s
          while (t > 0) { memo(t + 1) = memo(t - 1); memo(t) = memo(t - 2); t -= 2 }
          memo(0) = k; memo(1) = v
        }
        return memo(1).asInstanceOf[JsonNode]
      }
      s += 2
    }
    val node = try mapper.readTree(j.toString) catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"invalid JSON: ${e.getMessage}")
    }
    if (node == null || node.isMissingNode)
      throw new IllegalArgumentException("invalid JSON: empty input")
    // insert at slot 0, shifting the rest down (LRU-of-4)
    var t = 6
    while (t > 0) { memo(t + 1) = memo(t - 1); memo(t) = memo(t - 2); t -= 2 }
    memo(0) = j.clone()
    memo(1) = node
    node
  }

  def jsonSize(j: UTF8String, p: UTF8String): java.lang.Integer = {
    val node = walk(parse(j), p.toString)
    if (node == null) null
    else if (node.isContainerNode) Integer.valueOf(node.size())
    else Integer.valueOf(0)
  }

  def isJsonScalar(j: UTF8String): Boolean = parse(j).isValueNode

  /** SQL/JSON path prefix: strip the optional lax/strict mode keyword.
    * The walk subset below treats both modes alike (structural misses
    * → NULL), which matches lax — the default mode in Trino. */
  private def sqlJsonPath(p: UTF8String): String = {
    val t = p.toString.trim
    if (t.startsWith("lax ")) t.substring(4).trim
    else if (t.startsWith("strict ")) t.substring(7).trim
    else t
  }

  /** json_value(j, path): scalar match as text; NULL for a structural
    * miss, a non-scalar match, a JSON null, or malformed input (the
    * SQL/JSON defaults: NULL ON EMPTY / NULL ON ERROR). A malformed
    * PATH still raises — path syntax errors are compile-time in Trino
    * and not silenced by ON ERROR. */
  def jsonValue(j: UTF8String, p: UTF8String): UTF8String = {
    val path = sqlJsonPath(p)
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return null
    }
    val node = walk(root, path)
    if (node == null || !node.isValueNode || node.isNull) null
    else UTF8String.fromString(node.asText())
  }

  /** json_value with explicit ON EMPTY / ON ERROR behaviors (mode
    * literal from rewriteJsonValueOnClauses, '<N|D|E><N|D|E>'). The
    * SQL/JSON classes: EMPTY = the path matched nothing (a lax-mode
    * structural miss); ERROR = malformed JSON input or a non-scalar
    * match. A matched JSON null is a present scalar — it returns SQL
    * NULL directly and triggers neither clause (Trino semantics). A
    * malformed PATH still raises regardless of ON ERROR — path syntax
    * errors are compile-time in Trino. */
  def jsonValueMode(j: UTF8String, p: UTF8String, mode: UTF8String,
      emptyDef: UTF8String, errorDef: UTF8String): UTF8String = {
    if (j == null || p == null) return null
    val path = sqlJsonPath(p)
    val m = mode.toString
    def onEmpty: UTF8String = m.charAt(0) match {
      case 'E' => throw new IllegalArgumentException(
        s"json_value: path '$path' returned no items (ERROR ON EMPTY)")
      case 'D' => emptyDef
      case _ => null
    }
    def onError(msg: String): UTF8String = m.charAt(1) match {
      case 'E' => throw new IllegalArgumentException(s"json_value: $msg")
      case 'D' => errorDef
      case _ => null
    }
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return onError("malformed JSON input (ERROR ON ERROR)")
    }
    val node = walk(root, path)
    if (node == null) onEmpty
    else if (!node.isValueNode)
      onError(s"path '$path' matched a non-scalar item (ERROR ON ERROR)")
    else if (node.isNull) null
    else UTF8String.fromString(node.asText())
  }

  /** json_query(j, path): the matched JSON item re-serialized (objects,
    * arrays, and scalars alike — WITHOUT WRAPPER, the default); NULL on
    * a miss or malformed input. */
  def jsonQuery(j: UTF8String, p: UTF8String): UTF8String = {
    val path = sqlJsonPath(p)
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return null
    }
    val node = walk(root, path)
    if (node == null) null else UTF8String.fromString(mapper.writeValueAsString(node))
  }

  /** json_query with wrapper/quote behavior (rewriteJsonQueryClauses
    * mode literal): wrapper N = without (default), U = unconditional
    * array wrap, C = conditional (wrap unless the match is already an
    * array or object — the SQL/JSON rule); quotes K = keep (default),
    * O = omit on a scalar string (raw text, no surrounding quotes; the
    * clause grammar already forbids O under a wrapper). */
  def jsonQueryMode(j: UTF8String, p: UTF8String, mode: UTF8String): UTF8String = {
    val path = sqlJsonPath(p)
    val m = mode.toString
    // chars 3-4 (when present): ON EMPTY / ON ERROR behaviors — N =
    // null (default), E = error, A = empty array, B = empty object
    def behave(c: Char, cls: String): UTF8String = c match {
      case 'E' => throw new IllegalArgumentException(s"json_query: $cls")
      case 'A' => UTF8String.fromString("[]")
      case 'B' => UTF8String.fromString("{}")
      case _ => null
    }
    val emptyB = if (m.length >= 4) m.charAt(2) else 'N'
    val errorB = if (m.length >= 4) m.charAt(3) else 'N'
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return behave(errorB, "malformed JSON input (ERROR ON ERROR)")
    }
    val node = walk(root, path)
    if (node == null)
      return behave(emptyB, s"path '$path' returned no items (ERROR ON EMPTY)")
    if (m.charAt(1) == 'O' && node.isTextual)
      return UTF8String.fromString(node.asText())
    val out: JsonNode = m.charAt(0) match {
      case 'U' => mapper.createArrayNode().add(node)
      case 'C' if !node.isArray && !node.isObject =>
        mapper.createArrayNode().add(node)
      case _ => node
    }
    UTF8String.fromString(mapper.writeValueAsString(out))
  }

  /** json_object constructor finisher: `obj` is Spark's
    * to_json(named_struct(…), ignoreNullFields=false) text — field
    * ORDER is the declaration order and nulls are present, so the
    * i-th field lines up with the i-th embed-mode char. 'J' fields
    * (syntactically-detected nested JSON members) are re-parsed from
    * their text instead of staying quoted strings; nullMode 'A' drops
    * null-valued members (ABSENT ON NULL). Duplicate keys collapse
    * last-wins at the Jackson parse (documented divergence — Trino
    * keeps the standard's implementation-defined latitude here). */
  def jsonObjFinish(obj: UTF8String, nullMode: UTF8String,
      modes: UTF8String): UTF8String = {
    val root = parse(obj)
    val keep = nullMode.toString.charAt(0) == 'N'
    val ms = modes.toString
    val out = mapper.createObjectNode()
    val it = root.fields()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val mode = if (i < ms.length) ms.charAt(i) else 'V'
      val v = e.getValue
      if (v.isNull) { if (keep) out.set[JsonNode](e.getKey, v) }
      else if (mode == 'J' && v.isTextual)
        out.set[JsonNode](e.getKey, parse(UTF8String.fromString(v.asText())))
      else out.set[JsonNode](e.getKey, v)
      i += 1
    }
    UTF8String.fromString(mapper.writeValueAsString(out))
  }

  /** json_array constructor finisher: same carrier as jsonObjFinish
    * (elements ride synthetic c0..cN fields); nullMode 'A' (the
    * json_array default) skips null elements, 'N' keeps them. */
  def jsonArrFinish(obj: UTF8String, nullMode: UTF8String,
      modes: UTF8String): UTF8String = {
    val root = parse(obj)
    val keep = nullMode.toString.charAt(0) == 'N'
    val ms = modes.toString
    val out = mapper.createArrayNode()
    val it = root.fields()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val mode = if (i < ms.length) ms.charAt(i) else 'V'
      val v = e.getValue
      if (v.isNull) { if (keep) out.add(v) }
      else if (mode == 'J' && v.isTextual)
        out.add(parse(UTF8String.fromString(v.asText())))
      else out.add(v)
      i += 1
    }
    UTF8String.fromString(mapper.writeValueAsString(out))
  }

  /** Dynamic-key json_object finisher: values ride synthetic c0..cN
    * fields of `obj` (declaration order, same serialization as the
    * literal-key path), keys ride `keysJson` — a JSON array of
    * strings built by to_json(array(CAST(k AS STRING), …)). A NULL
    * key raises like Trino; uniq 'U' (WITH UNIQUE KEYS) raises on a
    * runtime duplicate; otherwise duplicates collapse last-wins at
    * the Jackson set, the same documented latitude as the literal
    * path. */
  def jsonObjDynFinish(obj: UTF8String, keysJson: UTF8String,
      nullMode: UTF8String, modes: UTF8String,
      uniq: UTF8String): UTF8String = {
    val root = parse(obj)
    val keys = parse(keysJson)
    val keep = nullMode.toString.charAt(0) == 'N'
    val unique = uniq.toString.charAt(0) == 'U'
    val ms = modes.toString
    val out = mapper.createObjectNode()
    val it = root.fields()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val kn = keys.get(i)
      if (kn == null || kn.isNull) throw new IllegalArgumentException(
        "json_object: NULL key (JSON object keys must be non-null)")
      val key = kn.asText()
      if (unique && out.has(key)) throw new IllegalArgumentException(
        s"json_object: duplicate key '$key' with WITH UNIQUE KEYS")
      val mode = if (i < ms.length) ms.charAt(i) else 'V'
      val v = e.getValue
      if (v.isNull) { if (keep) out.set[JsonNode](key, v) }
      else if (mode == 'J' && v.isTextual)
        out.set[JsonNode](key, parse(UTF8String.fromString(v.asText())))
      else out.set[JsonNode](key, v)
      i += 1
    }
    UTF8String.fromString(mapper.writeValueAsString(out))
  }

  /** JSON_TABLE row source (rewriteJsonTable): every item the path
    * yields, each re-serialized as JSON text. Path subset: `$`,
    * `.name`, `[idx]`, `["name"]`, plus the row-generating `[*]`
    * wildcard; lax-mode leniency per SQL/JSON — member access
    * auto-unwraps arrays, `[*]` over a non-array wraps it as a
    * singleton. Malformed JSON raises (json_table's default is ERROR
    * ON ERROR, unlike the scalar functions); the EMPTY ON ERROR table
    * clause is applied by the rewrite via a try() wrapper. */
  def jsonItems(j: UTF8String,
      p: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (j == null) return null
    val path = sqlJsonPath(p)
    require(path.nonEmpty && path.charAt(0) == '$',
      s"json path must start with '$$': $path")
    val root = parse(j)
    var cur: Seq[JsonNode] = Seq(root)
    var i = 1
    while (i < path.length) {
      path.charAt(i) match {
        case '.' =>
          val start = i + 1
          var e = start
          while (e < path.length && path(e) != '.' && path(e) != '[') e += 1
          val name = path.substring(start, e)
          require(name.nonEmpty, s"empty member name in json path: $path")
          cur = cur.flatMap { n =>
            val bases =
              if (n.isArray)
                (0 until n.size()).map(n.get) // lax auto-unwrap
              else Seq(n)
            bases.flatMap(b => Option(b.get(name)))
          }
          i = e
        case '[' =>
          val end = path.indexOf(']', i)
          require(end > i, s"unterminated [ in json path: $path")
          val idx = path.substring(i + 1, end).trim
          cur =
            if (idx == "*")
              cur.flatMap(n =>
                if (n.isArray) (0 until n.size()).map(n.get) else Seq(n))
            else if (idx.length >= 2 && idx.charAt(0) == '"')
              cur.flatMap(n => Option(n.get(idx.substring(1, idx.length - 1))))
            else cur.flatMap(n => Option(n.get(idx.toInt)))
          i = end + 1
        case c => throw new IllegalArgumentException(
          s"unsupported json path element '$c' in: $path")
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cur.map(n => UTF8String.fromString(mapper.writeValueAsString(n))).toArray)
  }

  /** json_exists(j, path): does the path land on any JSON item; FALSE
    * on malformed input (Trino's default FALSE ON ERROR). */
  def jsonExists(j: UTF8String, p: UTF8String): Boolean = {
    val path = sqlJsonPath(p)
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return false
    }
    walk(root, path) != null
  }

  /** json_exists with an explicit ON ERROR behavior ('T'|'F'|'U'|'E'
    * from rewriteJsonExistsClauses; UNKNOWN = SQL NULL boolean). The
    * ERROR class is malformed JSON input — a structural miss is an
    * ordinary FALSE, never an error. */
  def jsonExistsMode(j: UTF8String, p: UTF8String,
      mode: UTF8String): java.lang.Boolean = {
    val path = sqlJsonPath(p)
    val root = try parse(j) catch { case _: IllegalArgumentException =>
      require(path.nonEmpty && path.charAt(0) == '$', s"invalid json path: $path")
      return mode.toString.charAt(0) match {
        case 'T' => java.lang.Boolean.TRUE
        case 'E' => throw new IllegalArgumentException(
          "json_exists: malformed JSON input (ERROR ON ERROR)")
        case 'U' => null
        case _ => java.lang.Boolean.FALSE
      }
    }
    java.lang.Boolean.valueOf(walk(root, path) != null)
  }

  private def walk(root: JsonNode, path: String): JsonNode = {
    require(path.nonEmpty && path.charAt(0) == '$',
      s"json path must start with '$$': $path")
    var cur = root
    var i = 1
    while (i < path.length && cur != null) {
      path.charAt(i) match {
        case '.' =>
          val start = i + 1
          var j = start
          while (j < path.length && path.charAt(j) != '.' && path.charAt(j) != '[') j += 1
          require(j > start, s"empty field name in json path: $path")
          cur = if (cur.isObject) cur.get(path.substring(start, j)) else null
          i = j
        case '[' =>
          val end = path.indexOf(']', i)
          require(end > i + 1, s"unclosed or empty '[' in json path: $path")
          val tok = path.substring(i + 1, end).trim
          if ((tok.startsWith("\"") && tok.endsWith("\"") && tok.length >= 2) ||
              (tok.startsWith("'") && tok.endsWith("'") && tok.length >= 2)) {
            cur = if (cur.isObject) cur.get(tok.substring(1, tok.length - 1)) else null
          } else {
            val idx = try tok.toInt catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"invalid array index in json path: $tok")
            }
            cur = if (cur.isArray) cur.get(idx) else null
          }
          i = end + 1
        case c => throw new IllegalArgumentException(
          s"unsupported json path syntax at '$c': $path")
      }
    }
    cur
  }
}
