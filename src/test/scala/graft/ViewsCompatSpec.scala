package graft

/** Direct contract tests for the r12 compat bridges — the catalog
  * entries exercise the happy paths through CatalogSpec, but the
  * LOUD-FAILURE contracts (unsupported strftime directive, non-'{:,}'
  * format spec) are reachable only by a user's own SQL, so they get
  * pinned here: a bridge must either match DuckDB's semantics exactly
  * or refuse, never guess. */
class ViewsCompatSpec extends SparkSpec {

  private def one(sql: String) = {
    Views.register(spark, "/root/testdata/sf0.001")
    spark.sql(sql).head()
  }

  test("strftime bridge translates the shared directive set") {
    val r = one("SELECT strftime(CAST('2024-03-07 09:05:01' AS TIMESTAMP), '%Y-%m-%d') AS d, " +
      "strftime(CAST('2024-03-07 09:05:01' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t")
    assert(r.getString(0) == "2024-03-07")
    assert(r.getString(1) == "2024-03-07 09:05:01")
  }

  test("strftime bridge renders the ISO-8601 'T' separator literally (ADVICE r12)") {
    // 'T' is in the accepted separator set but is a reserved pattern
    // letter to date_format — unquoted it died with "Unknown pattern
    // letter: T" instead of the bridge's own loud message
    val r = one("SELECT strftime(CAST('2024-03-07 09:05:01' AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS t")
    assert(r.getString(0) == "2024-03-07T09:05:01")
    // a run of Ts must be quoted ONCE: per-char quoting reads "''" as
    // an escaped quote inside the section and renders T'T
    val rr = one("SELECT strftime(CAST('2024-03-07 09:05:01' AS TIMESTAMP), '%HTT%M') AS t")
    assert(rr.getString(0) == "09TT05")
  }

  test("strftime bridge refuses directives outside the shared set") {
    val e = intercept[Exception](one("SELECT strftime(CAST('2024-03-07' AS TIMESTAMP), '%-d')"))
    assert(e.getMessage.contains("strftime bridge"))
  }

  test("isinf matches DuckDB: Inf true, NaN false, NULL null, finite false") {
    val r = one("SELECT isinf(CAST('Infinity' AS DOUBLE)), isinf(CAST('-Infinity' AS DOUBLE)), " +
      "isinf(CAST('NaN' AS DOUBLE)), isinf(CAST(NULL AS DOUBLE)), isinf(1.5)")
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(!r.getBoolean(2) && !r.getBoolean(4))
    assert(r.isNullAt(3))
  }

  test("format bridge renders '{:,}' and refuses other specs") {
    assert(one("SELECT format('{:,}', CAST(1234567 AS BIGINT))").getString(0) == "1,234,567")
    val e = intercept[Exception](one("SELECT format('{:.2f}', 1.0)"))
    assert(e.getMessage.contains("format bridge"))
  }

  test("1-arg trunc truncates toward zero; 2-arg stays the date builtin") {
    val r = one("SELECT trunc(3.9), trunc(-3.9), trunc(CAST('2024-03-07' AS DATE), 'MM')")
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == -3.0)
    assert(r.getDate(2).toString == "2024-03-01")
  }

  test("list_extract accepts BIGINT indices (generate_series output)") {
    val r = one("SELECT list_extract(list_value(10, 20, 30), CAST(2 AS BIGINT))")
    assert(r.getInt(0) == 20)
  }
}
