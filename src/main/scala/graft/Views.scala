package graft

import org.apache.spark.sql.SparkSession

/** SQL string front-end: registers every harness table as a
  * session-scoped temp view (and the graft native functions), so a
  * reference user can port their SQL verbatim —
  * `spark.sql("SELECT ... FROM lineitem JOIN part ...")` — instead of
  * rewriting queries against the DataFrame API. No catalog mutation,
  * no Hive dependency; at warehouse scale these would be catalog
  * tables and the same SQL would run unchanged.
  *
  * The ANSI subset of the oracle catalog is proven to run verbatim
  * through this front-end with results identical to the DataFrame API
  * queries (CatalogSpec) — the same SQL text executes on Spark
  * and DuckDB with hash-equal output.
  */
object Views {

  /** All harness tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table under its harness name, with the same
    * loader semantics as [[Tables]] (events gets the ns→µs timestamp
    * normalization), plus the native function registry so SQL strings
    * can call `graft_dot`, `graft_token_hashes`, … directly, plus the
    * DuckDB-compat pack below. */
  def register(spark: SparkSession, dir: String): Unit = {
    GraftFunctions.register(spark)
    registerCompat(spark)
    tableNames.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables.t(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  /** DuckDB-compat function pack — the migration shim that lets more
    * of the shared-dialect catalog run VERBATIM on both engines. Each
    * is a declarative SQL function (Spark 4 `CREATE FUNCTION … RETURN
    * expr`): the analyzer INLINES the body into the plan, so these
    * stay whole-stage-codegen expressions — no interpreted UDF enters
    * any hot path (the §2.10 policy). Only spelling differences are
    * bridged, never semantics: each body is the Spark-native function
    * with the identical contract to DuckDB's name. */
  def registerCompat(spark: SparkSession): Unit = {
    // DuckDB sha256(VARCHAR) → lowercase hex; Spark spells it sha2(x, 256)
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION sha256(x STRING) " +
      "RETURNS STRING RETURN sha2(x, 256)")
    // DuckDB epoch_us(TIMESTAMP) → microseconds since epoch
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION epoch_us(t TIMESTAMP) " +
      "RETURNS BIGINT RETURN unix_micros(t)")
    // DuckDB json_extract_string(json, path) ≡ Spark get_json_object
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION json_extract_string(j STRING, p STRING) " +
      "RETURNS STRING RETURN get_json_object(j, p)")
    // NOTE on date_diff: not bridgeable. Spark's PARSER special-cases
    // `date_diff` with keyword units before any function resolution,
    // so DuckDB's quoted-unit spelling is a ParseException no registry
    // entry can intercept (measured: INVALID_PARAMETER_VALUE
    // .DATETIME_UNIT). Day differences in the shared dialect go
    // through epoch arithmetic instead —
    // floor((epoch_us(CAST(b AS TIMESTAMP)) − epoch_us(CAST(a AS
    // TIMESTAMP))) / 86400000000.0) — exact for DATE operands (both
    // epochs are integer multiples of a day in µs, and the magnitudes
    // are far below 2^53, so the double division is exact).
    registerDuckAliases(spark)
  }

  /** DuckDB-name ALIASES for Spark-native functions, registered as
    * expression builders that return an `UnresolvedFunction` on the
    * Spark spelling — the analyzer's fixpoint loop resolves that to
    * the normal builtin on the next pass, so every alias inherits the
    * native implementation (and codegen) wholesale. A SQL `CREATE
    * FUNCTION` cannot express these (generators and lambdas aren't
    * SQL-UDF-able, and `encode` would hit
    * CANNOT_REPLACE_NON_SQL_UDF); the registry route can. Bridged
    * only where the semantic contract matches exactly:
    *
    *  - `unnest(arr)` ≡ `explode(arr)` (one row per element in the
    *    select list, zero rows for NULL/empty — both engines);
    *  - `string_split(s, sep)` ≡ `split(s, quote(sep), -1)` — DuckDB
    *    splits on a LITERAL separator, Spark on a regex, so the
    *    separator must be a literal and is regex-quoted (trailing
    *    empty fields kept by both);
    *  - 1-arg `encode(s)` ≡ `encode(s, 'UTF-8')` (UTF-8 bytes — the
    *    DuckDB contract); 2-arg calls pass through to the builtin;
    *  - `list_transform/list_filter` ≡ `transform/filter` (the
    *    `x -> expr` lambda syntax parses identically);
    *  - `list_min/list_max/list_distinct` ≡
    *    `array_min/array_max/array_distinct` (NULLs skipped by both
    *    min/max);
    *  - `len(arr)` ≡ `size(arr)` — bridged for LISTS only (the only
    *    use the shared dialect needs); string `len` resolves to a
    *    loud analysis error rather than a silent count difference;
    *  - scalar `generate_series(a, b[, step])` ≡ `sequence` (both
    *    ends inclusive on both engines). The table-function form
    *    (`FROM generate_series(...)`) stays unbridgeable and fails
    *    loudly at parse. CAVEAT (measured): for a > b DuckDB returns
    *    an EMPTY list but Spark's sequence counts DOWN ([1,0] for
    *    (1,0)) — shared-dialect SQL must guard the upper bound (e.g.
    *    `greatest(length(w), 1)` for possibly-empty tokens) so the
    *    range is never descending;
    *  - `list_contains(l, x)` ≡ `array_contains` /
    *    `list_append(l, x)` ≡ `array_append` (same arg order);
    *    `list_prepend(x, l)` ≡ `array_prepend(l, x)` (DuckDB puts the
    *    element FIRST, Spark's native puts it second — the bridge
    *    swaps);
    *  - `array_to_string(l, sep)` ≡ `array_join` (NULL list → NULL
    *    on both);
    *  - `regexp_split_to_array(s, p)` ≡ `split(s, p, -1)` (regex
    *    split, all fields kept — the split+join pair is the shared
    *    dialect's GLOBAL regexp_replace: DuckDB needs the 'g' flag,
    *    which Spark's same-named builtin parses as a position
    *    argument, so the flagged form is unbridgeable by name);
    *  - `list_slice(l, a, b)` ≡ `slice(l, a, greatest(b-a+1, 0))` —
    *    both 1-based with the END index INCLUSIVE in DuckDB, hence
    *    the +1; `b < a` yields an empty list on both (Spark would
    *    throw on a negative length, so the bridge clamps to 0).
    *    Bridged for the shared dialect's `a ≥ 1` use only — DuckDB
    *    clamps a ≤ 0 to the list head, Spark treats negatives as
    *    from-the-end, so non-positive starts stay out of the dialect;
    *  - `list_reduce(list_prepend(z, L), f)` ≡ `reduce(L, z, f)` —
    *    DuckDB's list_reduce has NO zero argument (it folds from the
    *    first element), Spark's reduce REQUIRES one, so only the
    *    explicit-zero idiom (prepend the zero, fold left) is
    *    bridgeable; both engines then compute f(..f(f(z,x1),x2)..,xn).
    *    A list_reduce whose first argument is not a list_prepend call
    *    fails loudly rather than guessing a zero.
    *
    * NOT bridged, deliberately: `list_sum` (DuckDB widens to
    * HUGEINT; Spark `aggregate` needs an element-typed zero — a
    * wrong-type zero would be a silent semantics change) and list
    * SUBSCRIPTS (DuckDB `l[i]` is 1-based, Spark 0-based — any oracle
    * using subscripts must stay excluded; the CatalogSpec verbatim
    * result-equality gate catches an accidental inclusion; in-bounds
    * extraction spells as `list_slice(l, i, i)` through the slice
    * bridge when the dialect needs it). */
  private def registerDuckAliases(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Encode, Expression, Literal}
    import org.apache.spark.sql.types.StringType
    val reg = spark.sessionState.functionRegistry
    def fn(name: String, args: Seq[Expression]): Expression =
      UnresolvedFunction(Seq(name), args, isDistinct = false)
    def alias(duck: String, sparkName: String): Unit =
      reg.createOrReplaceTempFunction(duck, args => fn(sparkName, args), "built-in")
    // LAMBDA-taking aliases cannot round-trip through an
    // UnresolvedFunction: the analyzer's higher-order check fires on
    // the unresolved node before the fixpoint re-resolves the Spark
    // name (INVALID_LAMBDA_FUNCTION_CALL.NON_HIGHER_ORDER_FUNCTION —
    // measured). Build the concrete HOF through the BUILTIN registry's
    // own builder instead; children still resolve normally afterwards.
    def native(sparkName: String, args: Seq[Expression]): Expression =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier(sparkName))
        .getOrElse(throw new IllegalStateException(s"no builtin $sparkName"))(args)
    def aliasHof(duck: String, sparkName: String): Unit =
      reg.createOrReplaceTempFunction(duck, args => native(sparkName, args), "built-in")
    alias("unnest", "explode")
    aliasHof("list_transform", "transform")
    aliasHof("list_filter", "filter")
    alias("list_min", "array_min")
    alias("list_max", "array_max")
    alias("list_distinct", "array_distinct")
    alias("len", "size")
    alias("generate_series", "sequence")
    alias("list_contains", "array_contains")
    alias("list_append", "array_append")
    alias("array_to_string", "array_join")
    // r10 additions: the literal-table lookup idiom. list_value is
    // DuckDB's function spelling of the [..] literal (Spark: array);
    // list_extract is 1-based on BOTH engines (Spark element_at is
    // 1-based, negative = from-the-end on both; the dialect uses
    // in-bounds positive indices only) — this bridges table LOOKUPS
    // while raw `l[i]` SUBSCRIPTS stay excluded (DuckDB 1-based vs
    // Spark 0-based, see the scaladoc above).
    alias("list_value", "array")
    // index cast: DuckDB indices often arrive as BIGINT
    // (generate_series), Spark's element_at requires INT — in-dialect
    // indices are small positives, so the narrowing is exact
    reg.createOrReplaceTempFunction("list_extract", {
      case Seq(l, i) =>
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.IntegerType
        fn("element_at", Seq(l, Cast(i, IntegerType)))
      case other => throw new IllegalArgumentException(
        s"list_extract takes (list, index), got ${other.size} args")
    }, "built-in")
    reg.createOrReplaceTempFunction("regexp_split_to_array", {
      case Seq(s, p) => fn("split", Seq(s, p, Literal(-1)))
      case other => throw new IllegalArgumentException(
        s"regexp_split_to_array takes (expr, pattern), got ${other.size} args")
    }, "built-in")
    reg.createOrReplaceTempFunction("list_prepend", {
      case Seq(e, l) => fn("array_prepend", Seq(l, e))
      case other => throw new IllegalArgumentException(
        s"list_prepend takes (element, list), got ${other.size} args")
    }, "built-in")
    // list_slice: DuckDB (list, start, stop) 1-based inclusive-stop →
    // slice(list, start, stop-start+1 clamped at 0). INT casts: the
    // dialect's indices arrive as BIGINT (generate_series), which
    // Spark's slice won't implicitly narrow.
    reg.createOrReplaceTempFunction("list_slice", {
      case Seq(l, a, b) =>
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Subtract}
        import org.apache.spark.sql.types.IntegerType
        fn("slice", Seq(l, Cast(a, IntegerType),
          Cast(fn("greatest", Seq(Subtract(Add(b, Literal(1)), a), Literal(0))), IntegerType)))
      case other => throw new IllegalArgumentException(
        s"list_slice bridge takes (list, start, stop), got ${other.size} args")
    }, "built-in")
    // list_reduce: bridged ONLY as the explicit-zero fold idiom
    // list_reduce(list_prepend(zero, l), f) ≡ reduce(l, zero, f) —
    // see the scaladoc above for why the bare form is unbridgeable.
    // the analyzer may hand the first argument over at any resolution
    // stage: still-unresolved list_prepend, the already-aliased
    // array_prepend spelling, or the concrete ArrayPrepend node
    reg.createOrReplaceTempFunction("list_reduce", {
      case Seq(u: UnresolvedFunction, f)
          if u.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("list_prepend")
            && u.arguments.size == 2 =>
        native("reduce", Seq(u.arguments(1), u.arguments(0), f))
      case Seq(u: UnresolvedFunction, f)
          if u.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("array_prepend")
            && u.arguments.size == 2 =>
        native("reduce", Seq(u.arguments(0), u.arguments(1), f))
      case Seq(p: org.apache.spark.sql.catalyst.expressions.ArrayPrepend, f) =>
        native("reduce", Seq(p.left, p.right, f))
      case _ => throw new IllegalArgumentException(
        "list_reduce is bridged only as list_reduce(list_prepend(zero, l), lambda) " +
          "— DuckDB's zero-less fold has no Spark equivalent")
    }, "built-in")
    reg.createOrReplaceTempFunction("string_split", {
      case Seq(s, Literal(sep, StringType)) if sep != null =>
        fn("split", Seq(s, Literal(java.util.regex.Pattern.quote(sep.toString)), Literal(-1)))
      case other => throw new IllegalArgumentException(
        "string_split bridge needs (expr, literal separator), got " + other.mkString(", "))
    }, "built-in")
    // NOT bridged: dayofweek. DuckDB's is 0 = Sunday .. 6, Spark's
    // SAME-NAMED builtin is 1 = Sunday .. 7 — and in Spark 4 the
    // DataFrame API's functions.dayofweek ALSO resolves by name
    // through this session registry (measured: a temp override shifted
    // a DataFrame-API catalog query's output), so shadowing the name
    // would silently change engine semantics wherever the compat pack
    // is loaded, not just in replayed SQL text. A same-name
    // different-contract builtin is therefore unbridgeable; day-of-week
    // oracles stay excluded from the verbatim set.
    // strftime(ts, fmt) ≡ date_format(ts, fmt') where fmt' translates
    // the C directive vocabulary to Spark's pattern letters. Bridged
    // ONLY for a LITERAL format string built from the directives the
    // shared dialect uses — %Y %m %d %H %M %S (all zero-padded,
    // identical contracts on both engines) plus literal separators; a
    // non-literal format or any other directive fails loudly rather
    // than risking a silent format divergence (e.g. DuckDB %-d has no
    // Spark spelling, and bare pattern letters in the literal text
    // would be interpreted by date_format). DuckDB's argument order is
    // strftime(value, format).
    reg.createOrReplaceTempFunction("strftime", {
      case Seq(t, Literal(fmt, StringType)) if fmt != null =>
        val s = fmt.toString
        require(s.matches("(%[YmdHMS]|[ :/.T-])*"),
          s"strftime bridge supports literal formats over %Y %m %d %H %M %S " +
            s"and [ :/.T-] separators only, got '$s'")
        val translated = s.replace("%Y", "yyyy").replace("%m", "MM")
          .replace("%d", "dd").replace("%H", "HH").replace("%M", "mm")
          .replace("%S", "ss")
          // 'T' passed the separator guard but is a RESERVED pattern
          // letter to date_format — quote it so ISO-8601 formats like
          // %Y-%m-%dT%H:%M:%S render the literal T instead of dying
          // with an unrelated "Unknown pattern letter: T". Each
          // maximal run is quoted ONCE: per-char quoting would turn
          // "TT" into "'T''T'", which DateTimeFormatter reads as one
          // section with an ESCAPED quote (renders T'T, not TT)
          .replaceAll("T+", "'$0'")
        fn("date_format", Seq(t, Literal(translated)))
      case other => throw new IllegalArgumentException(
        "strftime bridge needs (timestamp, literal format), got " + other.mkString(", "))
    }, "built-in")
    // xor(a, b) ≡ bitwise XOR. DuckDB spells it as a named function;
    // Spark only has the `^` OPERATOR — and `^` is unbridgeable the
    // other way (DuckDB's `^` is POWER: same symbol, different
    // contract), so the NAME is the only safe shared spelling. Spark
    // has no builtin named `xor` to shadow (r13, for dedup_simhash).
    reg.createOrReplaceTempFunction("xor", {
      case Seq(a, b) =>
        org.apache.spark.sql.catalyst.expressions.BitwiseXor(a, b)
      case other => throw new IllegalArgumentException(
        s"xor takes 2 arguments, got ${other.size}")
    }, "built-in")
    // isinf(x) ≡ abs(x) = +Inf — DuckDB's contract exactly: true for
    // ±Inf, false for NaN (abs(NaN) ≠ Inf), NULL for NULL
    reg.createOrReplaceTempFunction("isinf", {
      case Seq(x) =>
        import org.apache.spark.sql.catalyst.expressions.EqualTo
        EqualTo(fn("abs", Seq(x)), Literal(Double.PositiveInfinity))
      case other => throw new IllegalArgumentException(
        s"isinf takes 1 argument, got ${other.size}")
    }, "built-in")
    // format('{:,}', n) ≡ format_number(n, 0) — thousands-grouped
    // integer rendering, identical output for integer inputs on both
    // engines. Bridged for THIS literal fmt spec only (DuckDB's format
    // is the fmt mini-language, Spark's format_string is printf — no
    // general mapping exists); any other spec fails loudly.
    reg.createOrReplaceTempFunction("format", {
      case Seq(Literal(f, StringType), x) if f != null && f.toString == "{:,}" =>
        fn("format_number", Seq(x, Literal(0)))
      case other => throw new IllegalArgumentException(
        "format bridge supports format('{:,}', n) only, got " + other.mkString(", "))
    }, "built-in")
    // 1-arg numeric trunc(x) — truncation toward zero. Spark's
    // same-named builtin is DATE trunc (2 args), so the 1-arg numeric
    // form can be claimed without shadowing it; spelled as the
    // cast-roundtrip double→long→double (exact for |x| < 2^53 — the
    // shared dialect's integer-magnitude domain; DuckDB's trunc keeps
    // NaN/±Inf, which the dialect guards BEFORE trunc, so they never
    // reach the cast). 2-arg calls pass through to the date builtin.
    reg.createOrReplaceTempFunction("trunc", {
      case Seq(x) =>
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{DoubleType, LongType}
        Cast(Cast(x, LongType), DoubleType)
      case args => native("trunc", args)
    }, "built-in")
    // direct Encode construction on BOTH arities: an UnresolvedFunction
    // named "encode" would resolve right back into this temp entry and
    // loop the analyzer
    reg.createOrReplaceTempFunction("encode", {
      case Seq(s) => Encode(s, Literal("UTF-8"))
      case Seq(s, c) => Encode(s, c)
      case other => throw new IllegalArgumentException(
        s"encode takes 1 (DuckDB) or 2 (Spark) arguments, got ${other.size}")
    }, "built-in")
  }
}
