package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class DialectShimSpec extends AnyFunSuite {

  test("zero-arg count() becomes count(*)") {
    assert(DialectShim.rewrite("SELECT product, count() AS n FROM t") ==
      "SELECT product, count(*) AS n FROM t")
    assert(DialectShim.rewrite("SELECT COUNT( ) FROM t") ==
      "SELECT count(*) FROM t")
  }

  test("count(col) untouched") {
    val sql = "SELECT count(x), count(DISTINCT y) FROM t"
    assert(DialectShim.rewrite(sql) == sql)
  }

  test("count() inside a string literal untouched") {
    val sql = "SELECT 'count()' FROM t"
    assert(DialectShim.rewrite(sql) == sql)
  }

  test("read_parquet rewrites to file-format table syntax") {
    assert(DialectShim.rewrite("SELECT * FROM read_parquet('/data/x.parquet')") ==
      "SELECT * FROM parquet.`/data/x.parquet`")
  }

  test("read_csv / read_json variants") {
    assert(DialectShim.rewrite("FROM read_csv_auto('f.csv')").contains("csv.`f.csv`"))
    assert(DialectShim.rewrite("FROM read_csv('f.csv')").contains("csv.`f.csv`"))
    assert(DialectShim.rewrite("FROM read_json_auto('f.json')").contains("json.`f.json`"))
  }

  test("plain SQL passes through verbatim") {
    val sql = "SELECT a, sum(b) FROM t WHERE c > 1 GROUP BY a ORDER BY a"
    assert(DialectShim.rewrite(sql) == sql)
  }

  test("read_parquet with a list of paths becomes a UNION ALL table") {
    assert(DialectShim.rewrite(
      "SELECT * FROM read_parquet(['/d/a.parquet', '/d/b.parquet'])") ==
      "SELECT * FROM (SELECT * FROM parquet.`/d/a.parquet` " +
        "UNION ALL SELECT * FROM parquet.`/d/b.parquet`)")
    // one-element list degrades to the plain table form (FROM-first
    // shorthand also kicks in: a bare FROM is a complete DuckDB query)
    assert(DialectShim.rewrite("FROM read_csv(['only.csv'])") ==
      "SELECT * FROM csv.`only.csv`")
  }

  test("glob paths pass through into the file-format table") {
    assert(DialectShim.rewrite("FROM read_parquet('/d/part-*.parquet')") ==
      "SELECT * FROM parquet.`/d/part-*.parquet`")
  }

  test("read_csv kwargs register a temp view with mapped options") {
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-shim-csv")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "id|name\n1|alpha\n2|beta\n")
    val sql = s"SELECT * FROM read_csv('$f', header=true, delim='|')"
    val rewritten = DialectShim.rewrite(sql, spark)
    assert(rewritten.matches("SELECT \\* FROM __graft_read_[0-9a-f]{12}"),
      rewritten)
    val rows = spark.sql(rewritten).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSeq == Seq("alpha", "beta"))
    // deterministic: the same call rewrites to the same view, no re-register
    assert(DialectShim.rewrite(sql, spark) == rewritten)
  }

  test("kwarg values containing commas split correctly (delim=',')") {
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("c.csv")
    java.nio.file.Files.writeString(f, "a,b\n1,2\n3,4\n")
    val out = DialectShim.rewrite(
      s"SELECT * FROM read_csv('$f', header=true, delim=',')", spark)
    assert(!out.contains("read_csv"), out) // rewrote to a temp view
    assert(spark.sql(out).count() == 2)
  }

  test("unsupported kwargs are left verbatim for execution to reject") {
    val spark = graft.SparkTestSession.spark
    val sql = "SELECT * FROM read_csv('f.csv', sample_size=100)"
    assert(DialectShim.rewrite(sql, spark) == sql)
  }

  test("read_csv columns={…} and names=[…] kwargs shape the schema") {
    val spark = graft.SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-csv")
    val f = dir.resolve("s.csv")
    java.nio.file.Files.writeString(f, "1|alpha\n2|beta\n")
    // columns= fully specifies the schema (no header, no inference), like
    // DuckDB; the dict must reach the kwarg rewriter before the struct pass
    val cols = DialectShim.rewrite(
      s"SELECT * FROM read_csv('$f', delim='|', " +
        "columns={'id': 'BIGINT', 'name': 'VARCHAR'})", spark)
    assert(!cols.contains("read_csv"), cols)
    val df = spark.sql(cols)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta"))
    // names= renames positionally
    val named = DialectShim.rewrite(
      s"SELECT * FROM read_csv('$f', delim='|', names=['k', 'v'])", spark)
    assert(!named.contains("read_csv"), named)
    assert(spark.sql(named).columns.toSeq == Seq("k", "v"))
    // an unknown type in columns= aborts the rewrite — the call fails at
    // execution with read_csv visible (the struct pass may still have
    // normalized the dict literal)
    val unknown = s"SELECT * FROM read_csv('$f', columns={'a': 'UUID'})"
    assert(DialectShim.rewrite(unknown, spark).contains("read_csv"))
    // a SHORT names list renames the first N columns (DuckDB), instead of
    // being silently discarded on the length mismatch
    val short = DialectShim.rewrite(
      s"SELECT * FROM read_csv('$f', delim='|', names=['k'])", spark)
    assert(spark.sql(short).columns.head == "k")
    // a names list LONGER than the file errors loudly, like DuckDB
    val e = intercept[IllegalArgumentException](DialectShim.rewrite(
      s"SELECT * FROM read_csv('$f', delim='|', names=['a', 'b', 'c'])",
      spark))
    assert(e.getMessage.contains("names"))
  }

  test("nested same-function calls rewrite all the way down") {
    // the scan must resume AT each replacement: skipping past it left the
    // inner call on the colliding Spark builtin (regexp_replace: silent
    // GLOBAL replace) or on an unregistered name (list_element etc.)
    assert(DialectShim.rewrite(
      "SELECT regexp_replace(regexp_replace(s, 'a', 'x'), 'b', 'y') FROM t") ==
      "SELECT regexp_replace_first(regexp_replace_first(s, 'a', 'x'), 'b', 'y') FROM t")
    assert(DialectShim.rewrite(
      "SELECT list_element(list_element(m, 1), 2) FROM t") ==
      "SELECT try_element_at(try_element_at(m, 1), 2) FROM t")
    assert(DialectShim.rewrite(
      "SELECT json_extract_string(json_extract_string(j, '$.a'), '$.b') FROM t") ==
      "SELECT get_json_object(get_json_object(j, '$.a'), '$.b') FROM t")
    assert(DialectShim.rewrite(
      "SELECT struct_pack(a := struct_pack(b := 1)) AS s") ==
      "SELECT named_struct('a', named_struct('b', 1)) AS s")
  }

  test("long statements still rewrite brackets past 5000 characters") {
    // the guard must bound REWRITES, not scanned characters — a
    // char-count guard silently stopped rewriting mid-statement, letting
    // a 1-based DuckDB subscript parse as Spark's 0-based one
    val pad = Seq.fill(2000)("1").mkString(", ") // > 5000 chars of filler
    val rw = DialectShim.rewrite(
      s"SELECT $pad, arr[1] AS x, [7, 8] AS lst FROM t")
    assert(rw.contains("try_element_at(arr, 1)"), rw.takeRight(120))
    assert(rw.contains("array(7, 8)"), rw.takeRight(120))
  }

  test("type syntax and keywords inside literals / backticks are data") {
    // INT[] inside a string literal must never become ARRAY<INT>
    val lit = "SELECT 'cast to INT[] first' AS hint FROM t"
    assert(DialectShim.rewrite(lit) == lit)
    // a backtick-quoted identifier named `qualify` is not a QUALIFY clause
    val bq = "SELECT a AS `qualify` FROM t"
    assert(DialectShim.rewrite(bq) == bq)
    // "…" and `…` tokens and comments are data as well
    Seq("SELECT a AS `count()` FROM t",
        "SELECT a AS \"count()\" FROM t",
        "SELECT \"list_contains(x)\" AS s",
        "SELECT \"[1, 2]\" AS s",
        "SELECT \"QUALIFY\" AS s FROM t",
        "SELECT x /* list_contains(a) QUALIFY */ FROM t")
      .foreach(q => assert(DialectShim.rewrite(q) == q, q))
    assert(DialectShim.rewrite("SELECT \"* EXCLUDE (v)\" AS s, * EXCLUDE (v) FROM t") ==
      "SELECT \"* EXCLUDE (v)\" AS s, * EXCEPT (v) FROM t")
    // an apostrophe inside a comment opens no literal: the subscript after
    // it is still DuckDB's 1-based one
    assert(DialectShim.rewrite("SELECT x FROM t -- it's\nWHERE l[1] = 2") ==
      "SELECT x FROM t -- it's\nWHERE try_element_at(l, 1) = 2")
    // a backtick-quoted identifier containing `[` subscripts as a whole
    assert(DialectShim.rewrite("SELECT `c[1]`[2] FROM t") ==
      "SELECT try_element_at(`c[1]`, 2) FROM t")
  }

  test("1:1 function renames apply outside string literals only") {
    assert(DialectShim.rewrite("SELECT list_contains(arr, 'x') FROM t") ==
      "SELECT array_contains(arr, 'x') FROM t")
    assert(DialectShim.rewrite("SELECT regexp_matches(s, 'a+'), epoch_ms(ts)," +
      " list_has_any(a, b) FROM t") ==
      "SELECT regexp_like(s, 'a+'), unix_millis(ts), arrays_overlap(a, b) FROM t")
    // inside a literal → untouched
    assert(DialectShim.rewrite("SELECT 'list_contains(arr)' FROM t") ==
      "SELECT 'list_contains(arr)' FROM t")
  }

  test("string_split literal separators become escaped split() regexes") {
    val spark = graft.SparkTestSession.spark
    assert(DialectShim.rewrite("SELECT string_split(s, ',') FROM t") ==
      "SELECT split(s, ',') FROM t")
    // regex metachars in the separator are escaped for Spark's regex split
    val piped = DialectShim.rewrite("SELECT str_split(s, '|') FROM t")
    assert(piped == "SELECT split(s, '\\\\|') FROM t", piped)
    // end-to-end: '|'-separated value really splits on the pipe character
    val r = spark.sql(DialectShim.rewrite(
      "SELECT size(string_split('a|b|c', '|')) AS n")).head.getInt(0)
    assert(r == 3)
    // non-literal separator → untouched (fails at execution, name visible)
    val dyn = "SELECT string_split(s, sep_col) FROM t"
    assert(DialectShim.rewrite(dyn) == dyn)
  }

  test("strftime %-codes translate to date_format patterns") {
    assert(DialectShim.rewrite("SELECT strftime(ts, '%Y-%m-%d') FROM t") ==
      "SELECT date_format(ts, 'yyyy-MM-dd') FROM t")
    assert(DialectShim.rewrite("SELECT strftime(ts, '%H:%M:%S') FROM t") ==
      "SELECT date_format(ts, 'HH:mm:ss') FROM t")
    // locale-dependent / unknown codes stay verbatim
    val monthName = "SELECT strftime(ts, '%b %Y') FROM t"
    assert(DialectShim.rewrite(monthName) == monthName)
    // literal letters would become Java pattern fields — stay verbatim
    val letters = "SELECT strftime(ts, 'at %H') FROM t"
    assert(DialectShim.rewrite(letters) == letters)
    // end-to-end on a real session
    val spark = graft.SparkTestSession.spark
    val r = spark.sql(DialectShim.rewrite(
      "SELECT strftime(TIMESTAMP '2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S') AS s"))
      .head.getString(0)
    assert(r == "2024-03-05 07:08:09")
  }

  test("list_transform / list_filter rename to Spark's lambda HOFs") {
    assert(DialectShim.rewrite("SELECT list_transform(a, x -> x + 1) FROM t") ==
      "SELECT transform(a, x -> x + 1) FROM t")
    assert(DialectShim.rewrite("SELECT list_filter(a, x -> x > 0) FROM t") ==
      "SELECT filter(a, x -> x > 0) FROM t")
    // end-to-end, nested
    val spark = graft.SparkTestSession.spark
    val got = spark.sql(DialectShim.rewrite(
      "SELECT list_transform(list_filter(array(1, 2, 3, 4), x -> x % 2 = 0), " +
        "x -> x * 10) AS a")).head.getSeq[Int](0)
    assert(got == Seq(20, 40))
  }

  test("list constructor/append/length renames execute 1:1") {
    val spark = graft.SparkTestSession.spark
    val row = spark.sql(DialectShim.rewrite(
      "SELECT list_value(1, 2, 3) AS a, " +
        "list_append(list_value(1, 2), 9) AS b, " +
        "array_length(list_value(4, 5)) AS n")).head
    assert(row.getSeq[Int](0) == Seq(1, 2, 3))
    assert(row.getSeq[Int](1) == Seq(1, 2, 9))
    assert(row.getInt(2) == 2)
  }

  test("strftime %f/%I/%p codes translate and render like DuckDB") {
    val spark = graft.SparkTestSession.spark
    val r = spark.sql(DialectShim.rewrite(
      "SELECT strftime(TIMESTAMP '2024-03-05 14:08:09.123456', " +
        "'%I:%M %p %S.%f') AS s")).head.getString(0)
    assert(r == "02:08 PM 09.123456", r)
  }

  test("len() dispatches on argument type via the registered function") {
    val spark = graft.SparkTestSession.spark
    val row = spark.sql(
      "SELECT len('abcd') AS ls, len(array(1, 2, 3)) AS la, " +
        "len(map('a', 1)) AS lm").head
    assert(row.getInt(0) == 4 && row.getInt(1) == 3 && row.getInt(2) == 1)
  }

  test("scalar CREATE MACRO parses; table form and defaults do not") {
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO add_one(x) AS x + 1") ==
      Some(("add_one", Seq("x"), "x + 1", false)))
    assert(DialectShim.macroDefinitionAny(
      "CREATE OR REPLACE TEMP MACRO f() AS 41 + 1") ==
      Some(("f", Seq.empty, "41 + 1", false)))
    // the table form parses as a table macro, never as a scalar one
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO t1() AS TABLE SELECT 1") ==
      Some(("t1", Seq.empty, "SELECT 1", true)))
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO t1(n) AS TABLE SELECT n AS x") ==
      Some(("t1", Seq("n"), "SELECT n AS x", true)))
    // literal parameter defaults parse (default names after positionals)
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO g(a, x := 1) AS a + x") ==
      Some(("g", Seq("a", "x"), "a + x", false)))
    // non-literal default / positional after defaulted: verbatim
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO h(a, x := f(1)) AS a + x").isEmpty)
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO k(x := 1, a) AS a + x").isEmpty)
    assert(DialectShim.macroDefinitionAny("CREATE TABLE x AS SELECT 1").isEmpty)
  }

  test("macro parameter defaults bind like DuckDB's binder") {
    val spark = graft.SparkTestSession.spark.newSession()
    DialectShim.rewrite("CREATE MACRO addd(a, b := 5) AS a + b", spark)
    // omitted default → literal substitutes
    assert(spark.sql(DialectShim.rewrite("SELECT addd(1) AS v", spark))
      .head.getInt(0) == 6)
    // named override
    assert(spark.sql(DialectShim.rewrite("SELECT addd(1, b := 3) AS v", spark))
      .head.getInt(0) == 4)
    // a defaulted param binds by NAME only: two positionals stay verbatim
    // (DuckDB: "requires a single positional argument" — error, not 4)
    assert(DialectShim.rewrite("SELECT addd(1, 3) AS v", spark) ==
      "SELECT addd(1, 3) AS v")
    // unknown named parameter stays verbatim (DuckDB binder error shape)
    assert(DialectShim.rewrite("SELECT addd(1, c := 3) AS v", spark) ==
      "SELECT addd(1, c := 3) AS v")
    // named BEFORE positional: DuckDB's binder errors, so no quiet result
    // here either — verbatim (review r7)
    assert(DialectShim.rewrite("SELECT addd(b := 3, 1) AS v", spark) ==
      "SELECT addd(b := 3, 1) AS v")
    // a named argument for a NON-default param is a binder error in
    // DuckDB — verbatim, never expanded as garbled positional text
    DialectShim.rewrite("CREATE MACRO incr(a) AS a + 1", spark)
    assert(DialectShim.rewrite("SELECT incr(a := 5) AS v", spark) ==
      "SELECT incr(a := 5) AS v")
    // duplicated parameter names don't register (default would silently
    // override the positional binding)
    assert(DialectShim.macroDefinitionAny(
      "CREATE MACRO dup(a, a := 1) AS a").isEmpty)
    // a string-literal default may contain commas and '' escapes
    DialectShim.rewrite(
      "CREATE MACRO lbl(a, s := 'x,''y') AS concat(a, s)", spark)
    assert(spark.sql(DialectShim.rewrite("SELECT lbl('k') AS v", spark))
      .head.getString(0) == "kx,'y")
    // table macro with a default in FROM position
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW md_src AS " +
      "SELECT explode(sequence(1, 9)) AS id")
    DialectShim.rewrite("CREATE MACRO firstn(lim := 3) AS TABLE " +
      "SELECT id FROM md_src WHERE id <= lim", spark)
    assert(spark.sql(DialectShim.rewrite(
      "SELECT count(*) AS n FROM firstn()", spark)).head.getLong(0) == 3L)
    assert(spark.sql(DialectShim.rewrite(
      "SELECT count(*) AS n FROM firstn(lim := 7)", spark)).head.getLong(0) == 7L)
  }

  test("macro definition registers and call sites inline textually") {
    val spark = graft.SparkTestSession.spark.newSession()
    val defn = "CREATE MACRO add_one(x) AS x + 1"
    // the definition passes through verbatim (SqlExec skips it)…
    assert(DialectShim.rewrite(defn, spark) == defn)
    // …and later statements in the same session inline the body
    assert(DialectShim.rewrite("SELECT add_one(2) AS y", spark) ==
      "SELECT ((2) + 1) AS y")
    // arguments substitute paren-wrapped: precedence survives
    assert(DialectShim.rewrite("SELECT add_one(1 + 1) * 3 AS y", spark) ==
      "SELECT ((1 + 1) + 1) * 3 AS y")
    // string literals elsewhere in the statement copy through verbatim
    // (regression: the literal-copy once re-appended the whole statement)
    assert(DialectShim.rewrite(
      "SELECT add_one(2) AS y, 'add_one(9)' AS s FROM t", spark) ==
      "SELECT ((2) + 1) AS y, 'add_one(9)' AS s FROM t")
    // macros can call macros
    DialectShim.rewrite("CREATE MACRO add_two(v) AS add_one(v) + 1", spark)
    assert(spark.sql(DialectShim.rewrite("SELECT add_two(40) AS y", spark))
      .head.getInt(0) == 42)
    // qualified names and other sessions don't inline
    assert(DialectShim.rewrite("SELECT ns.add_one(2) FROM t", spark) ==
      "SELECT ns.add_one(2) FROM t")
    val other = graft.SparkTestSession.spark.newSession()
    assert(DialectShim.rewrite("SELECT add_one(2) AS y", other) ==
      "SELECT add_one(2) AS y")
    // arity mismatch stays verbatim (fails at execution, name visible)
    assert(DialectShim.rewrite("SELECT add_one(1, 2) AS y", spark) ==
      "SELECT add_one(1, 2) AS y")
  }

  test("macro expansion is simultaneous and literal-aware (capture bugs)") {
    val spark = graft.SparkTestSession.spark.newSession()
    // an argument whose text equals a LATER parameter name must not be
    // re-substituted: diff(b, 10) is b - 10, not 0
    DialectShim.rewrite("CREATE MACRO diff(a, b) AS a - b", spark)
    assert(DialectShim.rewrite("SELECT diff(b, 10) AS y FROM t", spark) ==
      "SELECT ((b) - (10)) AS y FROM t")
    // parameter names inside the body's string literals stay verbatim
    DialectShim.rewrite("CREATE MACRO tag(x) AS concat('x=', x)", spark)
    assert(spark.sql(DialectShim.rewrite("SELECT tag(7) AS s", spark))
      .head.getString(0) == "x=7")
  }

  test("SqlExec treats a macro definition as a no-op registry operation") {
    val spark = graft.SparkTestSession.spark.newSession()
    SqlExec.run(spark, "CREATE MACRO sq(x) AS x * x") // must not throw
    assert(spark.sql(DialectShim.rewrite("SELECT sq(6) AS y", spark))
      .head.getInt(0) == 36)
  }

  test("table CREATE MACRO registers and inlines as a FROM subquery") {
    val spark = graft.SparkTestSession.spark.newSession()
    val defn = "CREATE MACRO top_ids(lim) AS TABLE " +
      "SELECT id FROM tm_src WHERE id < lim"
    // the definition passes through verbatim (SqlExec skips it)…
    assert(DialectShim.rewrite(defn, spark) == defn)
    // …and a FROM-position call becomes a parenthesized subquery with the
    // argument substituted paren-wrapped
    assert(DialectShim.rewrite("SELECT * FROM top_ids(3)", spark) ==
      "SELECT * FROM (SELECT id FROM tm_src WHERE id < (3))")
    // executes end-to-end, alias included
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW tm_src AS " +
      "SELECT * FROM VALUES (1), (2), (5) AS t(id)")
    SqlExec.run(spark, defn)
    val rows = spark.sql(DialectShim.rewrite(
      "SELECT t.id FROM top_ids(3) AS t ORDER BY t.id", spark))
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 2))
    // a DuckDB-ism in the body (count()) rewrites AFTER inlining, so table
    // macro bodies may use the shimmed dialect too
    SqlExec.run(spark,
      "CREATE MACRO id_count() AS TABLE SELECT count() AS n FROM tm_src")
    assert(spark.sql(DialectShim.rewrite(
      "SELECT n FROM id_count()", spark)).head.getLong(0) == 3L)
  }

  test("dynamic PIVOT ON probe is bounded: >10k distinct values fail named") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW pv_big AS " +
      "SELECT CAST(id AS STRING) AS cat, id AS v FROM range(10001)")
    val e = intercept[IllegalArgumentException](
      DialectShim.rewrite("PIVOT pv_big ON cat USING sum(v)", spark))
    assert(e.getMessage.contains("`cat`") && e.getMessage.contains("10000"))
  }

  test("SUMMARIZE <table> runs the native profiler at execution time") {
    val spark = graft.SparkTestSession.spark
    // rewrite passes it through (still side-classified); SqlExec executes
    assert(DialectShim.rewrite("SUMMARIZE sum_t", spark) == "SUMMARIZE sum_t")
    assert(!SqlText.producesRecords("SUMMARIZE sum_t"))
    assert(DialectShim.summarizeTarget("SUMMARIZE sum_t") == Some("sum_t"))
    // execution-time resolution: the target view is created by an EARLIER
    // statement of the same script — an up-front expansion could not see it
    val dir = java.nio.file.Files.createTempDirectory("graft-summarize")
    val f = dir.resolve("s.sql")
    java.nio.file.Files.writeString(f,
      """CREATE OR REPLACE TEMPORARY VIEW sum_t AS
        |  SELECT * FROM VALUES (1, 'a', 2.5), (2, 'b', CAST(NULL AS DOUBLE)),
        |    (3, 'a', 4.5) AS t(id, s, v);
        |SUMMARIZE sum_t""".stripMargin)
    val statuses = graft.cli.Main.runFilesOn(spark, List(f.toString))
    assert(statuses.head._2 == s"OK: $f", statuses.head._2)
    // a missing target errors with context, not silently
    intercept[Exception] { SqlExec.run(spark, "SUMMARIZE definitely_missing") }
    // non-table forms stay verbatim (execution reports SUMMARIZE)
    val dyn = "SUMMARIZE SELECT 1"
    assert(DialectShim.rewrite(dyn, spark) == dyn)
    assert(DialectShim.summarizeTarget(dyn).isEmpty)
  }

  test("ASOF JOIN rewrites to a lateral top-1 subquery") {
    val got = DialectShim.rewrite(
      "SELECT c.x, p.v FROM c ASOF JOIN p ON c.k = p.k AND c.ts >= p.ts")
    assert(got == "SELECT c.x, p.v FROM c JOIN LATERAL (SELECT * FROM p AS p " +
      "WHERE c.k = p.k AND c.ts >= p.ts ORDER BY p.ts DESC LIMIT 1) AS p " +
      "ON true", got)
    // LEFT variant keeps unmatched probe rows
    assert(DialectShim.rewrite(
      "SELECT 1 FROM c ASOF LEFT JOIN p ON c.k = p.k AND c.ts >= p.ts")
      .contains("LEFT JOIN LATERAL"))
    // direction flips with the inequality: l.ts <= r.ts → first row AT or
    // AFTER the probe → ASC
    assert(DialectShim.rewrite(
      "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k AND c.ts <= p.ts")
      .contains("ORDER BY p.ts ASC LIMIT 1"))
    // inside a string literal → untouched
    val lit = "SELECT 'ASOF JOIN docs' FROM t"
    assert(DialectShim.rewrite(lit) == lit)
    // …but a literal match must not shadow a REAL asof join later on
    val mixed = DialectShim.rewrite("SELECT 'via ASOF JOIN' AS how, p.v " +
      "FROM c ASOF JOIN p ON c.k = p.k AND c.ts >= p.ts")
    assert(mixed.contains("JOIN LATERAL") && mixed.contains("'via ASOF JOIN'"),
      mixed)
    // unsupported forms fail NAMING the operator, not with a parse error
    val e = intercept[IllegalArgumentException] {
      DialectShim.rewrite(
        "SELECT 1 FROM c ASOF JOIN p ON c.a >= p.a AND c.b >= p.b")
    }
    assert(e.getMessage.contains("ASOF JOIN"))
    // an OR around the inequality is NOT the simple form — named error,
    // never a garbled ORDER BY
    val e2 = intercept[IllegalArgumentException] {
      DialectShim.rewrite(
        "SELECT 1 FROM c ASOF JOIN p ON c.k = p.k AND (c.ts >= p.ts OR p.f = 1)")
    }
    assert(e2.getMessage.contains("ASOF JOIN"))
  }

  test("ASOF JOIN executes correctly through spark.sql") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW asof_l AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 15), (3, 5)
        AS t(k, ts)""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW asof_r AS
      SELECT * FROM VALUES (1, 9, 'a'), (1, 18, 'b'), (1, 25, 'c'),
        (2, 15, 'd') AS t(k, ts, v)""")
    // inner: latest right row with r.ts <= l.ts per key; (3,5) has no match
    val inner = spark.sql(DialectShim.rewrite(
      """SELECT l.k, l.ts, r.v FROM asof_l l
        |ASOF JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts
        |ORDER BY l.k, l.ts""".stripMargin))
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getString(2))).toSeq
    assert(inner == Seq((1, 10, "a"), (1, 20, "b"), (2, 15, "d")))
    // left: unmatched probe row survives with NULL
    val left = spark.sql(DialectShim.rewrite(
      """SELECT l.k, l.ts, r.v FROM asof_l l
        |ASOF LEFT JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts
        |ORDER BY l.k, l.ts""".stripMargin))
      .collect().map(x => (x.getInt(0), x.getInt(1), Option(x.getString(2)))).toSeq
    assert(left == Seq((1, 10, Some("a")), (1, 20, Some("b")),
      (2, 15, Some("d")), (3, 5, None)))
  }

  test("* EXCLUDE rewrites to * EXCEPT") {
    assert(DialectShim.rewrite("SELECT * EXCLUDE (b, c) FROM t") ==
      "SELECT * EXCEPT (b, c) FROM t")
    assert(DialectShim.rewrite("SELECT t.* EXCLUDE b FROM t") ==
      "SELECT t.* EXCEPT (b) FROM t")
    // the EXCEPT set operator and plain identifiers are never touched
    val setOp = "SELECT a FROM t EXCEPT SELECT a FROM u"
    assert(DialectShim.rewrite(setOp) == setOp)
    val colRef = "SELECT exclude FROM t"
    assert(DialectShim.rewrite(colRef) == colRef)
  }

  test("QUALIFY over a select-list alias wraps in a subquery") {
    val out = DialectShim.rewrite(
      "SELECT k, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY rn <= 2 ORDER BY k")
    assert(out ==
      "SELECT * FROM (SELECT k, row_number() OVER (ORDER BY v) AS rn " +
        "FROM t) __graft_q WHERE rn <= 2 ORDER BY k")
  }

  test("QUALIFY with a raw window injects the predicate as a column") {
    val out = DialectShim.rewrite(
      "SELECT k, v FROM t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1")
    assert(out.contains("AS __qualify"))
    assert(out.contains("SELECT * EXCEPT (__qualify) FROM"))
    assert(out.trim.endsWith("WHERE __qualify"))
  }

  test("QUALIFY inside a subquery / literal-shadowed QUALIFY") {
    val out = DialectShim.rewrite(
      "SELECT * FROM (SELECT k, max(v) OVER (PARTITION BY k) AS mx FROM t QUALIFY mx > 1) s")
    assert(!out.toUpperCase.contains("QUALIFY"))
    assert(out.startsWith("SELECT * FROM ("))
    val lit = "SELECT 'QUALIFY rn = 1' FROM t"
    assert(DialectShim.rewrite(lit) == lit)
  }

  test("QUALIFY window referencing computed select aliases executes " +
      "(DuckDB scoping; Spark rejects lateral aliases in windows)") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW qual_u AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7) AS t(k, v)""")
    val out = spark.sql(DialectShim.rewrite(
      """SELECT k AS grp, v * 2 AS dbl FROM qual_u
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY dbl DESC) = 1
        |ORDER BY grp""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(out == Seq((1, 40), (2, 14)))
  }

  test("QUALIFY alias SPELLED like window syntax: keyword positions don't " +
      "count as alias usage, reference positions do") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW qual_kw AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7) AS t(region, amount)""")
    // alias `desc` exists, but DESC in the predicate is the sort-direction
    // KEYWORD after qual_kw.amount — the one-level rewrite must survive
    // (the inner-projection shape would hide qual_kw.amount/region)
    val kw = spark.sql(DialectShim.rewrite(
      """SELECT region AS r, amount AS desc FROM qual_kw
        |QUALIFY row_number() OVER (PARTITION BY qual_kw.region
        |  ORDER BY qual_kw.amount DESC) = 1
        |ORDER BY r""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(kw == Seq((1, 20), (2, 7)))
    // same alias genuinely REFERENCED (after BY) — the wrap must fire
    val ref = spark.sql(DialectShim.rewrite(
      """SELECT region AS r, amount AS desc FROM qual_kw
        |QUALIFY row_number() OVER (PARTITION BY r ORDER BY desc) = 1
        |ORDER BY r""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(ref == Seq((1, 10), (2, 5)))
  }

  test("QUALIFY predicate naming a QUALIFIED column that shadows a select " +
      "alias keeps the one-level rewrite (the inner projection would hide " +
      "the real column)") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW qual_s AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7) AS t(a, b)""")
    // select list aliases a AS b; the window orders by qual_s.b — the REAL
    // column b of the scanned table, not the alias. Routing this into the
    // inner-projection shape would lose the qualifier's target and fail
    // analysis; bare-ref detection must not fire on `qual_s.b`.
    val out = spark.sql(DialectShim.rewrite(
      """SELECT a AS b FROM qual_s
        |QUALIFY row_number() OVER (PARTITION BY a ORDER BY qual_s.b DESC) = 1
        |ORDER BY b""".stripMargin))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 2))
    // and a function call spelled like an alias is not an alias ref either
    val fn = spark.sql(DialectShim.rewrite(
      """SELECT a, max(b) AS max FROM qual_s GROUP BY a
        |QUALIFY row_number() OVER (ORDER BY max (b) DESC) = 1""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(fn == Seq((1, 20)))
  }

  test("QUALIFY executes correctly through spark.sql") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW qual_t AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7), (2, 9)
        AS t(k, v)""")
    // top-1 per key via alias form
    val top1 = spark.sql(DialectShim.rewrite(
      """SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |FROM qual_t QUALIFY rn = 1 ORDER BY k""".stripMargin))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(top1 == Seq((1, 20), (2, 9)))
    // raw-window form keeps the original column set
    val raw = spark.sql(DialectShim.rewrite(
      """SELECT k, v FROM qual_t
        |QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1
        |ORDER BY k""".stripMargin))
    assert(raw.columns.toSeq == Seq("k", "v"))
    assert(raw.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 5)))
  }

  test("DISTINCT ON rewrites to the row_number idiom and executes") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW don_t AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7)
        AS t(k, v)""")
    val out = DialectShim.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM don_t ORDER BY k, v DESC")
    assert(!out.toUpperCase.contains("DISTINCT ON"))
    // first row per k under (k, v DESC) = the max v
    val r = spark.sql(out).collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(r == Seq((1, 20), (2, 7)))
    // no ORDER BY → keys order the window (deterministic here by k alone,
    // so either v may win; just check one row per key survives)
    val bare = spark.sql(DialectShim.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM don_t")).collect()
    assert(bare.map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // set operators after DISTINCT ON are refused with a clear message
    val e = intercept[IllegalArgumentException](DialectShim.rewrite(
      "SELECT DISTINCT ON (k) k FROM don_t UNION SELECT 1"))
    assert(e.getMessage.contains("DISTINCT ON"))
  }

  test("* REPLACE rewrites to * EXCEPT + re-added expressions") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW rep_t AS
      SELECT * FROM VALUES (1, CAST(2.0 AS DOUBLE), 'x') AS t(a, b, c)""")
    val out = DialectShim.rewrite(
      "SELECT * REPLACE (b * 2 AS b, upper(c) AS c) FROM rep_t")
    assert(!out.toUpperCase.contains("REPLACE"))
    val row = spark.sql(out).collect().head
    // name-addressed values are the replaced ones (column ORDER moves the
    // replaced columns to the end — documented divergence)
    assert(row.getAs[Double]("b") == 4.0)
    assert(row.getAs[String]("c") == "X")
    assert(row.getAs[Int]("a") == 1)
    // a non-`expr AS name` item is refused
    val e = intercept[IllegalArgumentException](DialectShim.rewrite(
      "SELECT * REPLACE (b * 2) FROM rep_t"))
    assert(e.getMessage.contains("REPLACE"))
  }

  test("USING SAMPLE wraps the query so result-sampling semantics survive") {
    assert(DialectShim.rewrite("SELECT * FROM t USING SAMPLE 10%")
      == "SELECT * FROM (SELECT * FROM t) TABLESAMPLE (10 PERCENT)")
    assert(DialectShim.rewrite("SELECT * FROM t USING SAMPLE 2.5 PERCENT")
      .contains("TABLESAMPLE (2.5 PERCENT)"))
    assert(DialectShim.rewrite("SELECT * FROM t USING SAMPLE 50")
      .contains("TABLESAMPLE (50 ROWS)"))
    // a WHERE before the sample stays inside the wrap — no parse break,
    // and a JOIN samples the RESULT, not the nearest relation
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW samp_t AS SELECT * FROM range(100)")
    val n = spark.sql(DialectShim.rewrite(
      "SELECT * FROM samp_t WHERE id >= 90 USING SAMPLE 5 ROWS")).count()
    assert(n == 5)
    // trailing clauses after the sample are refused, operator named
    val e = intercept[IllegalArgumentException](DialectShim.rewrite(
      "SELECT * FROM t USING SAMPLE 10% ORDER BY x"))
    assert(e.getMessage.contains("USING SAMPLE"))
  }

  test("DISTINCT ON resolves ordinals and aliases into the window order") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW don2_t AS
      SELECT * FROM VALUES (1, 10), (1, 20), (2, 5), (2, 7) AS t(k, v)""")
    // ordinals: ORDER BY 1, 2 DESC means (k, v DESC) — inside OVER Spark
    // would read them as constants, so the shim substitutes the exprs
    val byOrdinal = spark.sql(DialectShim.rewrite(
      "SELECT DISTINCT ON (k) k, v FROM don2_t ORDER BY 1, 2 DESC"))
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(byOrdinal == Seq((1, 20), (2, 7)))
    // select-list alias in the order: Spark has no lateral aliases inside
    // windows, so the alias is substituted with its expression
    val byAlias = spark.sql(DialectShim.rewrite(
      "SELECT DISTINCT ON (k) k, v * 2 AS d FROM don2_t ORDER BY k, d DESC"))
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(byAlias == Seq((1, 40), (2, 14)))
  }

  test("COPY … TO parses: query/table forms, format inference, options") {
    // table form + format inferred from the path extension
    val t = DialectShim.copyToTarget("COPY mytbl TO 'out/dir.parquet'").get
    assert(t.source == Left("mytbl"))
    assert(t.format == "parquet" && t.options.isEmpty)
    // query form with an option list; bare HEADER means true
    val q = DialectShim.copyToTarget(
      "COPY (SELECT a, b FROM t WHERE a > 1) TO '/tmp/x.csv' " +
        "(FORMAT csv, HEADER, DELIMITER '|')").get
    assert(q.source.toOption.get.startsWith("SELECT a, b"))
    assert(q.format == "csv")
    assert(q.options == Map("header" -> "true", "sep" -> "|"))
    // WITH (…) postgres-style option list; codec lowercased
    val w = DialectShim.copyToTarget(
      "COPY t TO 'x' WITH (FORMAT PARQUET, COMPRESSION ZSTD)").get
    assert(w.format == "parquet" && w.options == Map("compression" -> "zstd"))
    // quoted literals inside the inner query don't derail the paren scan
    val lit = DialectShim.copyToTarget(
      "COPY (SELECT ')' AS p, 'TO ''x''' AS d FROM t) TO 'y.json'").get
    assert(lit.format == "json")
    assert(lit.source.toOption.get.endsWith("FROM t"))
    // non-COPY statements are not COPY
    assert(DialectShim.copyToTarget("SELECT 1").isEmpty)
    assert(DialectShim.copyToTarget("SELECT 'COPY t TO ''x''' AS doc").isEmpty)
    // COPY FROM (import) and unknown options are refused, operator named
    val e = intercept[IllegalArgumentException](
      DialectShim.copyToTarget("COPY t FROM 'x.csv'"))
    assert(e.getMessage.contains("COPY"))
    val e2 = intercept[IllegalArgumentException](
      DialectShim.copyToTarget("COPY t TO 'x.csv' (PARTITION_BY a)"))
    assert(e2.getMessage.contains("PARTITION_BY".toLowerCase))
  }

  test("COPY … TO executes distributed through SqlExec") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW copy_t AS " +
      "SELECT id, id * 2 AS v FROM range(10)")
    val out = java.nio.file.Files.createTempDirectory("graft-copy")
    // query form → parquet; the inner query passes through the full shim
    // (count() would rewrite, etc.) because COPY survives rewriteImpl
    val pq = out.resolve("out.parquet").toString
    SqlExec.run(spark, DialectShim.rewrite(
      s"COPY (SELECT * FROM copy_t WHERE id < 5) TO '$pq' (FORMAT parquet)",
      spark))
    assert(spark.read.parquet(pq).count() == 5)
    // table form → csv with header + custom delimiter, reads back intact
    val csv = out.resolve("out.csv").toString
    SqlExec.run(spark, DialectShim.rewrite(
      s"COPY copy_t TO '$csv' (HEADER, DELIMITER '|')", spark))
    val back = spark.read.option("header", "true").option("sep", "|").csv(csv)
    assert(back.count() == 10 && back.columns.toSeq == Seq("id", "v"))
    // overwrite semantics: a second export replaces, not appends
    SqlExec.run(spark, DialectShim.rewrite(
      s"COPY (SELECT * FROM copy_t WHERE id < 3) TO '$pq' (FORMAT parquet)",
      spark))
    assert(spark.read.parquet(pq).count() == 3)
  }

  test("PIVOT statement: static IN list rewrites lexically and executes") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW pv_t AS SELECT * FROM VALUES
      ('nl', 2000, 10), ('nl', 2010, 17), ('us', 2000, 282), ('us', 2010, 309)
      AS t(country, yr, pop)""")
    val rw = DialectShim.rewrite(
      "PIVOT pv_t ON yr IN (2000, 2010) USING sum(pop)")
    assert(rw == "SELECT * FROM pv_t PIVOT (sum(pop) FOR yr IN (2000, 2010))")
    val rows = spark.sql(rw).orderBy("country").collect()
    assert(spark.sql(rw).columns.toSeq == Seq("country", "2000", "2010"))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("nl", 10L, 17L), ("us", 282L, 309L)))
  }

  test("PIVOT statement: dynamic ON enumerates distinct values in order") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW pv_d AS SELECT * FROM VALUES
      ('a', 'x', 1.0), ('a', 'y', 2.0), ('b', 'x', 3.0), ('b', 'z', 4.0)
      AS t(k, cat, v)""")
    // no IN list: the session-aware rewrite probes SELECT DISTINCT … ORDER
    // BY 1, so the value columns come out ascending like DuckDB's
    val rw = DialectShim.rewrite("PIVOT pv_d ON cat USING sum(v) AS s", spark)
    // single aliased agg: values alias to DuckDB's <value>_<alias> names
    assert(rw.contains("IN ('x' AS `x_s`, 'y' AS `y_s`, 'z' AS `z_s`)"), rw)
    val df = spark.sql(rw)
    assert(df.columns.toSeq == Seq("k", "x_s", "y_s", "z_s"))
    assert(df.count() == 2)
    // sessionless (dep-extraction) pass leaves the dynamic form verbatim
    assert(DialectShim.rewrite("PIVOT pv_d ON cat USING sum(v)")
      .startsWith("PIVOT"))
  }

  test("PIVOT statement: explicit GROUP BY projects the pivot input") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW pv_g AS SELECT * FROM VALUES
      ('a', 'north', 'x', 1), ('a', 'south', 'x', 2), ('b', 'north', 'y', 3)
      AS t(k, region, cat, v)""")
    // region must NOT appear in the output: GROUP BY k collapses it
    val rw = DialectShim.rewrite(
      "PIVOT pv_g ON cat IN ('x', 'y') USING sum(v) GROUP BY k", spark)
    val df = spark.sql(rw)
    assert(df.columns.toSeq == Seq("k", "x", "y"))
    val rows = df.orderBy("k").collect()
    assert(rows(0).getString(0) == "a" && rows(0).getLong(1) == 3L && rows(0).isNullAt(2))
    // subquery source also works through the same path
    val rw2 = DialectShim.rewrite(
      "PIVOT (SELECT k, cat, v FROM pv_g) ON cat IN ('x') USING sum(v)", spark)
    assert(spark.sql(rw2).columns.toSeq == Seq("k", "x"))
  }

  test("UNPIVOT statement rewrites to Spark's UNPIVOT clause") {
    val spark = graft.SparkTestSession.spark
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW up_t AS SELECT * FROM VALUES
      ('a', 1, 2), ('b', 3, 4) AS t(k, jan, feb)""")
    val rw = DialectShim.rewrite(
      "UNPIVOT up_t ON jan, feb INTO NAME month VALUE sales")
    assert(rw ==
      "SELECT * FROM up_t UNPIVOT (sales FOR month IN (jan, feb))")
    val rows = spark.sql(rw).orderBy("k", "month").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq(("a", "feb", 2), ("a", "jan", 1),
      ("b", "feb", 4), ("b", "jan", 3)))
    // INTO omitted → DuckDB's default name/value columns
    assert(DialectShim.rewrite("UNPIVOT up_t ON jan, feb")
      .contains("(value FOR name IN (jan, feb))"))
  }

  test("PIVOT/UNPIVOT unsupported forms fail with the operator named") {
    val e1 = intercept[IllegalArgumentException](
      DialectShim.rewrite("PIVOT t ON c"))
    assert(e1.getMessage.contains("USING"))
    val e2 = intercept[IllegalArgumentException](
      DialectShim.rewrite("UNPIVOT t ON a INTO NAME n"))
    assert(e2.getMessage.contains("INTO"))
    // a PIVOT-named view inside a SELECT is untouched
    val ok = "SELECT * FROM pivot_results"
    assert(DialectShim.rewrite(ok) == ok)
  }

  test("list comprehensions rewrite to transform/filter and execute") {
    // bare comprehension over a column
    assert(DialectShim.rewrite("SELECT [x * 2 for x in xs] AS d FROM t")
      == "SELECT transform(xs, x -> x * 2) AS d FROM t")
    // with a filter clause
    assert(DialectShim.rewrite(
      "SELECT [upper(x) for x in xs if x != ''] AS u FROM t")
      == "SELECT transform(filter(xs, x -> x != ''), x -> upper(x)) AS u FROM t")
    // literal-list iterable becomes array(); executes end to end
    val spark = graft.SparkTestSession.spark
    val rw = DialectShim.rewrite(
      "SELECT [n * 10 for n in [1, 2, 3] if n != 2] AS v")
    assert(rw == "SELECT transform(filter(array(1, 2, 3), n -> n != 2), n -> n * 10) AS v")
    assert(spark.sql(rw).collect().head.getSeq[Int](0) == Seq(10, 30))
    // nested comprehension resolves on the fixpoint pass
    val nested = DialectShim.rewrite(
      "SELECT [y + 1 for y in [x * 2 for x in xs]] AS v FROM t")
    assert(nested ==
      "SELECT transform(transform(xs, x -> x * 2), y -> y + 1) AS v FROM t")
    // execution over a real array column
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW lc_t AS " +
      "SELECT array(1, 2, 3, 4) AS xs")
    val out = spark.sql(DialectShim.rewrite(
      "SELECT [x * x for x in xs if x % 2 = 0] AS sq FROM lc_t"))
      .collect().head.getSeq[Int](0)
    assert(out == Seq(4, 16))
  }

  test("list-comprehension lookalikes are untouched") {
    // subscripts are not comprehensions — they take the 1-based
    // element_at path instead (see the bracket-expression test)
    val sub = "SELECT arr[1] AS first FROM t"
    assert(DialectShim.rewrite(sub) ==
      "SELECT try_element_at(arr, 1) AS first FROM t")
    // plain list args to read_* still take the UNION ALL path
    assert(DialectShim.rewrite("SELECT * FROM read_parquet(['a.parquet'])")
      .contains("parquet.`a.parquet`"))
    // 'for' inside a string literal is content
    val lit = "SELECT '[x for x in xs]' AS doc FROM t"
    assert(DialectShim.rewrite(lit) == lit)
    // substring(… FROM … FOR …) sits inside parens: depth > 0, untouched
    val ss = "SELECT [substring(x FROM 1 FOR 2) for x in xs] AS p FROM t"
    assert(DialectShim.rewrite(ss) ==
      "SELECT transform(xs, x -> substring(x FROM 1 FOR 2)) AS p FROM t")
  }

  test("FROM-first shorthand becomes SELECT * and composes with shims") {
    assert(DialectShim.rewrite("FROM t") == "SELECT * FROM t")
    assert(DialectShim.rewrite("FROM t WHERE x > 1")
      == "SELECT * FROM t WHERE x > 1")
    // composes: shorthand + USING SAMPLE both rewrite
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ff_t AS SELECT * FROM range(20)")
    assert(spark.sql(DialectShim.rewrite("FROM ff_t USING SAMPLE 5")).count() == 5)
    // the reordered `FROM t SELECT …` form stays verbatim (fails at
    // execution with the original text, reference-style)
    val reordered = "FROM t SELECT a, b"
    assert(DialectShim.rewrite(reordered) == reordered)
    // a SELECT whose FROM is merely leading whitespace on line 2 is not
    // FROM-first
    val normal = "SELECT a\nFROM t"
    assert(DialectShim.rewrite(normal) == normal)
  }

  test("arg_max family renames to max_by/min_by") {
    assert(DialectShim.rewrite("SELECT arg_max(name, bal) FROM t") ==
      "SELECT max_by(name, bal) FROM t")
    assert(DialectShim.rewrite("SELECT ARGMAX(a, b), arg_min(a, b), argmin(a, b) FROM t") ==
      "SELECT max_by(a, b), min_by(a, b), min_by(a, b) FROM t")
    // inside a literal: untouched
    val lit = "SELECT 'arg_max(a, b)' AS doc FROM t"
    assert(DialectShim.rewrite(lit) == lit)
  }

  test("UNION ALL BY NAME aligns columns, fills NULL, keeps left order") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW bn_a AS SELECT 1 AS x, 2 AS y")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW bn_b AS SELECT 30 AS y, 40 AS z")
    val df = spark.sql(DialectShim.rewrite(
      "SELECT * FROM bn_a UNION ALL BY NAME SELECT * FROM bn_b", spark))
    // DuckDB order: left arm's columns first, then the right arm's new ones
    assert(df.columns.toSeq == Seq("x", "y", "z"))
    val rows = df.orderBy("y").collect()
    assert(rows(0).getInt(0) == 1 && rows(0).getInt(1) == 2 && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(0) && rows(1).getInt(1) == 30 && rows(1).getInt(2) == 40)
    // non-ALL form dedups
    val d = spark.sql(DialectShim.rewrite(
      "SELECT 1 AS x, 2 AS y UNION BY NAME SELECT 2 AS y, 1 AS x", spark))
    assert(d.count() == 1)
    // trailing ORDER BY scopes to the whole union
    val o = spark.sql(DialectShim.rewrite(
      "SELECT 2 AS x UNION ALL BY NAME SELECT 1 AS x ORDER BY x", spark))
    assert(o.collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // composes with FROM-first arms
    val f = spark.sql(DialectShim.rewrite(
      "FROM bn_a UNION ALL BY NAME FROM bn_b", spark))
    assert(f.columns.toSeq == Seq("x", "y", "z") && f.count() == 2)
    // mixing positional UNION into the chain refuses loudly
    val mixed = intercept[IllegalArgumentException](DialectShim.rewrite(
      "SELECT 1 AS x UNION ALL SELECT 2 UNION ALL BY NAME SELECT 3 AS x", spark))
    assert(mixed.getMessage.contains("UNION BY NAME"))
    // lexical pass (no session): left verbatim
    val v = "SELECT 1 AS x UNION ALL BY NAME SELECT 2 AS y"
    assert(DialectShim.rewrite(v) == v)
  }

  test("COLUMNS() expands against the source schema") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW co_t AS " +
      "SELECT 1 AS k_num, 2.5 AS v_num, 'a' AS name")
    // bare regex form: unanchored match, schema order
    val bare = spark.sql(DialectShim.rewrite(
      "SELECT COLUMNS('num') FROM co_t", spark))
    assert(bare.columns.toSeq == Seq("k_num", "v_num"))
    // wrapped call applies per column and KEEPS the source column name
    val wrapped = spark.sql(DialectShim.rewrite(
      "SELECT min(COLUMNS(*)) FROM co_t", spark))
    assert(wrapped.columns.toSeq == Seq("k_num", "v_num", "name"))
    // * EXCLUDE inside COLUMNS
    val excl = spark.sql(DialectShim.rewrite(
      "SELECT COLUMNS(* EXCLUDE (name)) FROM co_t", spark))
    assert(excl.columns.toSeq == Seq("k_num", "v_num"))
    // mixed with plain items + GROUP BY
    val grouped = spark.sql(DialectShim.rewrite(
      "SELECT name, max(COLUMNS('num')) FROM co_t GROUP BY name", spark))
    assert(grouped.columns.toSeq == Seq("name", "k_num", "v_num"))
    // no match: named error
    val none = intercept[IllegalArgumentException](DialectShim.rewrite(
      "SELECT COLUMNS('zzz') FROM co_t", spark))
    assert(none.getMessage.contains("COLUMNS"))
    // lexical pass: left verbatim
    val v = "SELECT COLUMNS('num') FROM co_t"
    assert(DialectShim.rewrite(v) == v)
  }

  test("parseNormalize flattens session-aware forms for dep extraction") {
    assert(DialectShim.parseNormalize(
      "SELECT * FROM a UNION ALL BY NAME SELECT * FROM b")
      == "SELECT * FROM a UNION ALL SELECT * FROM b")
    assert(DialectShim.parseNormalize(
      "SELECT min(COLUMNS('x|y')) FROM m1")
      == "SELECT min(*) FROM m1")
    // flattened text parses: DepExtractor sees both arms' refs
    assert(DepExtractor.modelRefsInModel(
      "SELECT COLUMNS('a') FROM m1 UNION ALL BY NAME SELECT * FROM m2",
      Set("m1", "m2")) == Set("m1", "m2"))
  }

  test("DuckDB idioms Spark 4 accepts natively pass through verbatim") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW nat_t AS " +
      "SELECT id AS k, id * 2 AS v, CAST(id AS STRING) AS s FROM range(10)")
    // pin the pass-through contract: rewrite() must not touch these, and
    // Spark must execute them — GROUP BY ALL / ORDER BY ALL / :: casts /
    // ILIKE / try_cast / string_agg / listagg / VALUES
    val natives = Seq(
      "SELECT k % 2 AS g, sum(v) AS sv FROM nat_t GROUP BY ALL",
      "SELECT k, v FROM nat_t ORDER BY ALL",
      "SELECT '42'::INT + k AS c FROM nat_t",
      "SELECT s FROM nat_t WHERE s ILIKE '%1%'",
      "SELECT try_cast(s AS INT) AS i FROM nat_t",
      "SELECT string_agg(s, ',') AS agg FROM nat_t",
      "SELECT listagg(s, ',') AS agg FROM nat_t",
      // printf is Spark's own alias of format_string
      "SELECT printf('%d-%s', k, s) AS p FROM nat_t",
      "VALUES (1, 2), (3, 4)")
    natives.foreach { q =>
      assert(DialectShim.rewrite(q) == q, s"shim must pass through: $q")
      assert(spark.sql(q).collect().nonEmpty, s"Spark must execute: $q")
    }
  }

  test("generate_series / range table functions map to explode(sequence)") {
    val spark = graft.SparkTestSession.spark
    // inclusive generate_series, literal bounds
    assert(DialectShim.rewrite("SELECT * FROM generate_series(1, 5)") ==
      "SELECT * FROM (SELECT explode(sequence(1, 5)) AS generate_series)")
    assert(spark.sql(DialectShim.rewrite("SELECT * FROM generate_series(1, 5)"))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    // explicit literal step maps for any bounds (negative steps descend)
    assert(spark.sql(DialectShim.rewrite("SELECT * FROM generate_series(10, 0, -3)"))
      .collect().map(_.getInt(0)).toSeq == Seq(10, 7, 4, 1))
    // the oracle idiom: comma cross-join with a column-list alias
    val g = spark.sql(DialectShim.rewrite(
      "SELECT n * b AS v FROM (SELECT 2 AS n) t, generate_series(0, 2) AS g(b)"))
    assert(g.collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 2, 4))
    // range excludes its end
    assert(spark.sql(DialectShim.rewrite("SELECT * FROM range(3)"))
      .collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(spark.sql(DialectShim.rewrite("SELECT * FROM range(1, 4)"))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(spark.sql(DialectShim.rewrite("SELECT * FROM range(10, 0, -3)"))
      .collect().map(_.getInt(0)).toSeq == Seq(10, 7, 4, 1))
    // descending no-step bounds: DuckDB errors — left verbatim, never
    // silently auto-descended (Spark's sequence would)
    val desc = "SELECT * FROM generate_series(5, 1)"
    assert(DialectShim.rewrite(desc) == desc)
    // select-list generate_series is not FROM-context: left verbatim
    val sel = "SELECT generate_series(1, 3) FROM t"
    assert(DialectShim.rewrite(sel) == sel)
  }

  test("unnest maps to explode in lateral, FROM, and select-list position") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW un_t AS " +
      "SELECT 1 AS a, array(10, 20) AS l")
    // correlated comma-lateral with column alias (the token-explosion idiom)
    val lat = spark.sql(DialectShim.rewrite(
      "SELECT a, u FROM un_t t, unnest(t.l) AS z(u)"))
    assert(lat.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (1, 20)))
    // uncorrelated FROM-position with alias; bracket list literal → array
    val un = spark.sql(DialectShim.rewrite(
      "SELECT u FROM unnest([7, 8]) AS z(u)"))
    assert(un.collect().map(_.getInt(0)).toSeq == Seq(7, 8))
    // select-list unnest: DuckDB's derived column name when unaliased
    val selDf = spark.sql(DialectShim.rewrite("SELECT a, unnest(l) FROM un_t"))
    assert(selDf.columns.toSeq == Seq("a", "unnest(l)"))
    // user alias wins
    assert(spark.sql(DialectShim.rewrite("SELECT unnest(l) AS x FROM un_t"))
      .columns.toSeq == Seq("x"))
    // no alias in FROM position: unnest itself stays (fails at execution
    // naming it); only the bracket literal inside converts
    assert(DialectShim.rewrite("SELECT * FROM unnest([1, 2])") ==
      "SELECT * FROM unnest(array(1, 2))")
  }

  test("several select-list unnests zip with NULL padding like DuckDB") {
    val spark = graft.SparkTestSession.spark
    // one generated index drives all lists: no multi-generator failure
    val rw = DialectShim.rewrite("SELECT unnest(a) AS x, unnest(b) AS y FROM t")
    assert(rw.contains("try_element_at(a, __graft_uzi + 1) AS x"), rw)
    assert(rw.contains("LATERAL VIEW explode("), rw)
    // unequal lengths: the shorter list NULL-pads to the longer
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW uz_t AS SELECT * FROM VALUES " +
      "(1, array(10, 20, 30), array('a')), (2, array(40), array('b', 'c'))" +
      " AS t(k, xs, ys)")
    val rows = spark.sql(DialectShim.rewrite(
      "SELECT k, unnest(xs) AS x, unnest(ys) AS y FROM uz_t ORDER BY k, x"))
      .collect().map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows == Seq(
      (1, Some(10), Some("a")), (1, Some(20), None), (1, Some(30), None),
      (2, None, Some("c")), (2, Some(40), Some("b"))))
    // empty + NULL lists drop the row entirely (DuckDB: zero zip rows)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW uz_e AS " +
      "SELECT array() AS xs, CAST(NULL AS ARRAY<INT>) AS ys")
    assert(spark.sql(DialectShim.rewrite(
      "SELECT unnest(xs) AS x, unnest(ys) AS y FROM uz_e")).count() == 0)
    // unaliased items take DuckDB's derived `unnest(<arg>)` column names
    assert(spark.sql(DialectShim.rewrite(
      "SELECT unnest(xs), unnest(ys) FROM uz_t"))
      .columns.toSeq == Seq("unnest(xs)", "unnest(ys)"))
    // bracket list literals, no FROM at all: a one-row scaffold is injected
    val lit = spark.sql(DialectShim.rewrite(
      "SELECT unnest([1, 2]) AS x, unnest(['p']) AS y"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(lit == Seq((Some(1), Some("p")), (Some(2), None)))
    // WHERE survives after the injected LATERAL VIEW
    assert(spark.sql(DialectShim.rewrite(
      "SELECT k, unnest(xs) AS x, unnest(ys) AS y FROM uz_t WHERE k = 2"))
      .count() == 2)
    // an unnest nested inside a function call: whole statement verbatim
    // (fails at execution with unnest named), zip would change semantics
    val nested = "SELECT unnest(a), upper(unnest(b)) FROM t"
    assert(DialectShim.rewrite(nested) == nested)
    // sites spanning set-operation arms: the lateral view could only
    // attach to the first arm, stranding later arms on an undefined
    // generated alias — whole statement stays verbatim (ADVICE r6)
    val acrossArms = "SELECT unnest(a) AS x, unnest(b) AS y FROM t " +
      "UNION ALL SELECT unnest(c) AS x, unnest(d) AS y FROM u"
    assert(DialectShim.rewrite(acrossArms) == acrossArms)
    val acrossExcept = "SELECT unnest(a) AS x, unnest(b) AS y FROM t " +
      "EXCEPT SELECT unnest(c) AS x, unnest(d) AS y FROM u"
    assert(DialectShim.rewrite(acrossExcept) == acrossExcept)
    // ...but a union whose zip sites all sit in the FIRST arm still zips
    // there, and the later plain arm is untouched
    val firstArm = spark.sql(DialectShim.rewrite(
      "SELECT unnest(xs) AS x, unnest(ys) AS y FROM uz_t WHERE k = 1 " +
        "UNION ALL SELECT 99 AS x, 'z' AS y"))
    assert(firstArm.count() == 4) // 3 zip rows + 1 literal row
    // FROM-less first arm + a later arm WITH a FROM: the attach point
    // would land in the wrong arm — the zip pass must leave the unnests
    // alone (other passes may still map list literals; the statement then
    // fails at execution with unnest named, never a generated alias)
    val fromlessArm = DialectShim.rewrite("SELECT unnest([1, 2]) AS x, " +
      "unnest([3, 4]) AS y UNION ALL SELECT k, k FROM uz_t")
    assert(fromlessArm.toLowerCase.contains("unnest("), fromlessArm)
    assert(!fromlessArm.contains("__graft_uz"), fromlessArm)
  }

  test("list_sort family maps with DuckDB null ordering") {
    val spark = graft.SparkTestSession.spark
    assert(DialectShim.rewrite("SELECT list_sort(l) FROM t") ==
      "SELECT array_sort(l) FROM t")
    assert(DialectShim.rewrite("SELECT list_reverse_sort(l) FROM t") ==
      "SELECT sort_array(l, false) FROM t")
    // DuckDB: list_sort ASC NULLS LAST, list_reverse_sort DESC NULLS LAST
    val r = spark.sql(DialectShim.rewrite(
      "SELECT list_sort(array(3, NULL, 1)) AS s, " +
        "list_reverse_sort(array(3, NULL, 1)) AS rs")).collect().head
    assert(r.getSeq[Any](0) == Seq(1, 3, null))
    assert(r.getSeq[Any](1) == Seq(3, 1, null))
    // list_unique counts distinct non-NULL elements (DuckDB semantics)
    val u = spark.sql(DialectShim.rewrite(
      "SELECT list_unique(array(1, 2, 2, NULL)) AS n")).collect().head
    assert(u.getInt(0) == 2)
    // function spellings of subscript/slice share the bracket semantics
    assert(DialectShim.rewrite("SELECT list_element(l, 2), array_extract(l, -1) FROM t") ==
      "SELECT try_element_at(l, 2), try_element_at(l, -1) FROM t")
    assert(DialectShim.rewrite("SELECT list_slice(l, 2, 3) FROM t") ==
      "SELECT slice(l, 2, (3) - (2) + 1) FROM t")
    val fe = spark.sql(DialectShim.rewrite(
      "SELECT list_element([1, 2, 3], 9) AS oob, " +
        "list_slice([1, 2, 3, 4], 2, 3) AS sl")).collect().head
    assert(fe.isNullAt(0) && fe.getSeq[Int](1) == Seq(2, 3))
  }

  test("struct_pack and struct literals become named_struct; epoch is exact") {
    val spark = graft.SparkTestSession.spark
    assert(DialectShim.rewrite("SELECT struct_pack(a := 1, b := 'x') AS s") ==
      "SELECT named_struct('a', 1, 'b', 'x') AS s")
    assert(DialectShim.rewrite("SELECT {'a': 1, 'b': 'x'} AS s") ==
      "SELECT named_struct('a', 1, 'b', 'x') AS s")
    // nested literal resolves innermost-first
    assert(DialectShim.rewrite("SELECT {'o': {'i': 2}} AS s") ==
      "SELECT named_struct('o', named_struct('i', 2)) AS s")
    // field access then matches DuckDB
    val r = spark.sql(DialectShim.rewrite(
      "SELECT s.b FROM (SELECT struct_pack(a := 1, b := 42) AS s)"))
    assert(r.collect().head.getInt(0) == 42)
    // a brace group that isn't 'key': value pairs is left verbatim
    val odd = "SELECT '{not a struct}' AS doc FROM t"
    assert(DialectShim.rewrite(odd) == odd)
    // epoch keeps DuckDB's fractional seconds (unix_timestamp truncates)
    val e = spark.sql(DialectShim.rewrite(
      "SELECT epoch(TIMESTAMP '2021-01-01 00:00:30.5') AS e")).collect().head
    assert(math.abs(e.getDouble(0) - 1609459230.5) < 1e-9)
    // epoch_ms keeps its own rename
    assert(DialectShim.rewrite("SELECT epoch_ms(ts) FROM t") ==
      "SELECT unix_millis(ts) FROM t")
  }

  test("bracket expressions: 1-based subscripts, slices, list literals") {
    val spark = graft.SparkTestSession.spark
    // 1-based subscript — the same text reads the WRONG element through
    // Spark's native 0-based subscript
    assert(DialectShim.rewrite("SELECT arr[1] FROM t") ==
      "SELECT try_element_at(arr, 1) FROM t")
    val first = spark.sql(DialectShim.rewrite(
      "SELECT ([10, 20, 30])[1] AS v")).collect().head
    assert(first.getInt(0) == 10)
    // negative and out-of-bounds match DuckDB (last / NULL)
    val edge = spark.sql(DialectShim.rewrite(
      "SELECT ([10, 20, 30])[-1] AS a, ([10, 20, 30])[9] AS b")).collect().head
    assert(edge.getInt(0) == 30 && edge.isNullAt(1))
    // map subscript keeps key semantics, NULL for a missing key
    val mp = spark.sql(DialectShim.rewrite(
      "SELECT m['a'] AS hit, m['zz'] AS miss FROM (SELECT map('a', 7) AS m)"))
      .collect().head
    assert(mp.getInt(0) == 7 && mp.isNullAt(1))
    // chained subscripts resolve left to right
    assert(DialectShim.rewrite("SELECT m['a']['b'] FROM t") ==
      "SELECT try_element_at(try_element_at(m, 'a'), 'b') FROM t")
    // subscript on a function result
    assert(DialectShim.rewrite("SELECT split(s, ',')[1] FROM t") ==
      "SELECT try_element_at(split(s, ','), 1) FROM t")
    // slices: inclusive-inclusive 1-based, open ends, clamping
    val sl = spark.sql(DialectShim.rewrite(
      "SELECT ([1, 2, 3, 4])[2:3] AS m, ([1, 2, 3, 4])[3:] AS t, " +
        "([1, 2, 3, 4])[:2] AS h, ([1, 2, 3])[2:9] AS c")).collect().head
    assert(sl.getSeq[Int](0) == Seq(2, 3))
    assert(sl.getSeq[Int](1) == Seq(3, 4))
    assert(sl.getSeq[Int](2) == Seq(1, 2))
    assert(sl.getSeq[Int](3) == Seq(2, 3))
    // literals: bare, nested, ARRAY keyword form, after THEN
    assert(DialectShim.rewrite("SELECT [1, 2] AS l") ==
      "SELECT array(1, 2) AS l")
    assert(DialectShim.rewrite("SELECT [[1, 2], [3, 4]] AS l") ==
      "SELECT array(array(1, 2), array(3, 4)) AS l")
    assert(DialectShim.rewrite("SELECT ARRAY[1, 2] AS l") ==
      "SELECT array(1, 2) AS l")
    assert(DialectShim.rewrite("SELECT CASE WHEN x THEN [1] ELSE [2] END FROM t") ==
      "SELECT CASE WHEN x THEN array(1) ELSE array(2) END FROM t")
    // brackets inside string literals are content
    val lit = "SELECT 'a[1]' AS doc FROM t"
    assert(DialectShim.rewrite(lit) == lit)
    // DuckDB array-type syntax is a type, never a subscript
    assert(DialectShim.rewrite("SELECT CAST(x AS INT[]) FROM t") ==
      "SELECT CAST(x AS ARRAY<INT>) FROM t")
    assert(DialectShim.rewrite("SELECT x::VARCHAR[] FROM t") ==
      "SELECT x::ARRAY<VARCHAR> FROM t")
    assert(DialectShim.rewrite("SELECT CAST(x AS INT[][]) FROM t") ==
      "SELECT CAST(x AS ARRAY<ARRAY<INT>>) FROM t")
    val cast = graft.SparkTestSession.spark.sql(DialectShim.rewrite(
      "SELECT CAST([1, 2] AS DOUBLE[]) AS d")).collect().head
    assert(cast.getSeq[Double](0) == Seq(1.0, 2.0))
    // read_* list-path form still owns its brackets
    assert(DialectShim.rewrite("SELECT * FROM read_parquet(['a.parquet'])")
      .contains("parquet.`a.parquet`"))
  }

  test("string/json/time function long tail maps with exact semantics") {
    val spark = graft.SparkTestSession.spark
    graft.functions.GraftExtensions.register(spark)
    // strptime reuses strftime's %-code table, parse direction
    assert(DialectShim.rewrite("SELECT strptime(s, '%Y-%m-%d %H:%M') FROM t") ==
      "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm') FROM t")
    // untranslatable codes stay verbatim
    val bad = "SELECT strptime(s, '%a %Y') FROM t"
    assert(DialectShim.rewrite(bad) == bad)
    // starts_with / ends_with renames
    assert(DialectShim.rewrite("SELECT starts_with(s, 'x'), ends_with(s, 'y') FROM t") ==
      "SELECT startswith(s, 'x'), endswith(s, 'y') FROM t")
    // json_extract_string with a $-rooted path
    assert(DialectShim.rewrite("SELECT json_extract_string(j, '$.a.b') FROM t") ==
      "SELECT get_json_object(j, '$.a.b') FROM t")
    // pointer-syntax path: no Spark equivalent, left verbatim
    val ptr = "SELECT json_extract_string(j, '/a/b') FROM t"
    assert(DialectShim.rewrite(ptr) == ptr)
    // bare paths are SINGLE lookups in DuckDB: 'b.c' is the literal key
    // "b.c" (never a dotted traversal) and a digit string is a 0-based
    // array index — each value verified against native DuckDB
    val bare = spark.sql(DialectShim.rewrite(
      """SELECT json_extract_string('{"a": 1}', 'a') AS k,
        |  json_extract_string('{"a.x": 1}', 'a.x') AS dotkey,
        |  json_extract_string('{"a": {"x": 2}}', 'a.x') AS nodot,
        |  json_extract_string('[5, 6]', '0') AS idx,
        |  json_extract_string('{"a": {"b": 5}}', 'a') AS obj""".stripMargin))
      .collect().head
    assert(bare.getString(0) == "1")
    assert(bare.getString(1) == "1")
    assert(bare.isNullAt(2)) // no key "a.x" — NOT a path to the nested 2
    assert(bare.getString(3) == "5")
    assert(bare.getString(4) == """{"b":5}""")
    // regexp_replace: DuckDB 3-arg is FIRST match only — maps to the
    // registered native expression, never Spark's silently-global builtin
    assert(DialectShim.rewrite("SELECT regexp_replace(s, 'a', 'b') FROM t") ==
      "SELECT regexp_replace_first(s, 'a', 'b') FROM t")
    val rf = spark.sql(DialectShim.rewrite(
      "SELECT regexp_replace('aaa', 'a', 'b') AS f, " +
        "regexp_replace('aaa', 'a', 'b', 'g') AS g, " +
        "regexp_replace('AaA', 'a', 'b', 'gi') AS gi")).collect().head
    assert(rf.getString(0) == "baa") // first only, like DuckDB
    assert(rf.getString(1) == "bbb") // 'g' flag = Spark's global default
    assert(rf.getString(2) == "bbb") // 'i' becomes a (?i) prefix
    // unknown flag sets stay verbatim
    val odd = "SELECT regexp_replace(s, 'a', 'b', 'x') FROM t"
    assert(DialectShim.rewrite(odd) == odd)
  }

  test("fmt-style format() maps to null-propagating concat") {
    val spark = graft.SparkTestSession.spark
    // auto-indexed placeholders + literal segments
    assert(DialectShim.rewrite("SELECT format('{} and {}', a, b) FROM t") ==
      "SELECT concat(CAST((a) AS STRING), ' and ', CAST((b) AS STRING)) FROM t")
    val r = spark.sql(DialectShim.rewrite(
      "SELECT format('{} and {}', 1, 'x') AS f, " +
        "format('{0}-{1}-{0}', 'a', 'b') AS g, " +  // explicit, repeated
        "format('{{literal}} {}', 5) AS h, " +       // brace escapes
        "format('100%: {}', 5) AS p, " +             // % is plain text
        "format('none') AS n")).collect().head
    assert(r.getString(0) == "1 and x")
    assert(r.getString(1) == "a-b-a")
    assert(r.getString(2) == "{literal} 5")
    assert(r.getString(3) == "100%: 5")
    assert(r.getString(4) == "none")
    // a NULL referenced argument nulls the whole result, like DuckDB
    // (format_string would have rendered the text "null")
    assert(spark.sql(DialectShim.rewrite(
      "SELECT format('v={}', CAST(NULL AS INT)) AS f")).head.isNullAt(0))
    // a format() nested as another format()'s argument rewrites too
    // (the scan resumes AT the replacement, not past it — review r7)
    assert(spark.sql(DialectShim.rewrite(
      "SELECT format('{}!', format('{}', 1)) AS f")).head.getString(0) == "1!")
    // outside the subset: format specs, named placeholders, auto/indexed
    // mixing, out-of-range index, non-literal template — all verbatim
    Seq("SELECT format('{:.2f}', x) FROM t",
        "SELECT format('{name}', x) FROM t",
        "SELECT format('{} {0}', x) FROM t",
        "SELECT format('{1}', x) FROM t",
        "SELECT format(tpl, x) FROM t")
      .foreach(s => assert(DialectShim.rewrite(s) == s, s))
  }

  test("3-arg date_diff maps to boundary-crossing native expression") {
    val spark = graft.SparkTestSession.spark
    graft.functions.GraftExtensions.register(spark)
    assert(DialectShim.rewrite("SELECT date_diff('day', a, b) FROM t") ==
      "SELECT date_diff_boundary('day', a, b) FROM t")
    assert(DialectShim.rewrite("SELECT datediff('month', a, b) FROM t") ==
      "SELECT date_diff_boundary('month', a, b) FROM t")
    // Spark's own 2-arg form stays verbatim (DuckDB has no 2-arg form)
    val two = "SELECT date_diff(a, b) FROM t"
    assert(DialectShim.rewrite(two) == two)
    // boundary semantics, each value verified against native DuckDB:
    // one minute across midnight is a 'day'; complete-units would say 0
    val r = spark.sql(DialectShim.rewrite(
      "SELECT date_diff('day', TIMESTAMP '2024-01-01 23:59:00', " +
        "TIMESTAMP '2024-01-02 00:01:00') AS dd, " +
        "date_diff('year', TIMESTAMP '1999-12-31 23:59:59', " +
        "TIMESTAMP '2000-01-01 00:00:00') AS dy, " +
        // Monday-start weeks: Sun 1969-12-28 → Thu 1970-01-01 crosses one
        "date_diff('week', TIMESTAMP '1969-12-28 12:00:00', " +
        "TIMESTAMP '1970-01-01 00:00:00') AS dw, " +
        "date_diff('month', TIMESTAMP '2020-02-01 01:00:00', " +
        "TIMESTAMP '2020-01-31 23:00:00') AS dmo, " +
        "date_diff('quarter', TIMESTAMP '1997-03-31 23:00:00', " +
        "TIMESTAMP '1997-04-01 01:00:00') AS dq, " +
        "date_diff('hour', TIMESTAMP '2024-01-01 10:59:00', " +
        "TIMESTAMP '2024-01-01 11:01:00') AS dh, " +
        "date_diff('ms', TIMESTAMP '2024-01-01 10:59:59.9991', " +
        "TIMESTAMP '2024-01-01 10:59:59.9999') AS dms, " +
        "date_diff('us', TIMESTAMP '2024-01-01 10:59:59.9991', " +
        "TIMESTAMP '2024-01-01 10:59:59.9999') AS dus")).collect().head
    assert(Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ==
      Seq(1L, 1L, 1L, -1L, 1L, 1L, 0L, 800L))
    // DATE arguments arrive through the implicit DATE→TIMESTAMP cast
    assert(spark.sql(DialectShim.rewrite(
      "SELECT date_diff('week', DATE '2024-01-06', DATE '2024-01-08') AS w"))
      .collect().head.getLong(0) == 1L)
    // unknown part fails loudly, never returns a silent 0
    val err = intercept[Exception](spark.sql(DialectShim.rewrite(
      "SELECT date_diff('fortnight', TIMESTAMP '2024-01-01 00:00:00', " +
        "TIMESTAMP '2024-01-02 00:00:00')")).collect())
    assert(err.getMessage.contains("fortnight") ||
      Option(err.getCause).exists(_.getMessage.contains("fortnight")))
  }

  test("rewrite is idempotent: a second pass over shimmed output is a no-op") {
    // Guards against double-rewrite bugs anywhere in the pass chain: once
    // the DuckDB-isms are gone, running the shim again must change nothing.
    val corpus = Seq(
      "SELECT product, count() AS n FROM t",
      "SELECT * FROM read_parquet(['/d/a.parquet', '/d/b.parquet'])",
      "FROM t WHERE x > 1",
      "SELECT [x * 2 for x in xs if x != ''] AS d FROM t",
      "SELECT arr[1], arr[2:3], [1, 2], ARRAY[7, 8] FROM t",
      "SELECT {'a': 1, 'b': {'c': 2}} AS s, struct_pack(k := 9) AS p",
      "SELECT regexp_replace(s, 'a', 'b'), regexp_replace(s, 'a', 'b', 'gi') FROM t",
      "SELECT strptime(s, '%Y-%m-%d'), strftime(d, '%H:%M') FROM t",
      "SELECT list_sort(l), list_reverse_sort(l), list_unique(l), epoch(ts) FROM t",
      "SELECT list_element(l, 2), array_slice(l, 1, 3) FROM t",
      "SELECT date_diff('day', a, b), datediff('hour', a, b) FROM t",
      "SELECT format('{} and {0}{{x}}', a), format('{:.2f}', x) FROM t",
      "SELECT arg_max(a, b), printf('%d', a), starts_with(s, 'x') FROM t",
      "SELECT * FROM generate_series(1, 5)",
      "SELECT a, u FROM t, unnest(t.l) AS z(u)",
      "SELECT a, unnest(l) FROM t",
      "SELECT a, unnest(l[1]) FROM t", // derived alias contains brackets
      "SELECT string_split(s, '|'), json_extract_string(j, '$.a') FROM t",
      "SELECT * EXCLUDE (a), x AS y FROM t USING SAMPLE 10")
    corpus.foreach { q =>
      val once = DialectShim.rewrite(q)
      assert(DialectShim.rewrite(once) == once,
        s"not idempotent for `$q`:\n 1st: $once\n 2nd: ${DialectShim.rewrite(once)}")
    }
    // session-aware forms too (probe-based): arms/expansions must not
    // re-trigger on their own output
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW idem_t AS SELECT 1 AS x, 2 AS y")
    val sessionCorpus = Seq(
      "SELECT * FROM idem_t UNION ALL BY NAME SELECT 3 AS y, 4 AS z FROM idem_t",
      "SELECT COLUMNS('x|y') FROM idem_t",
      "SELECT min(COLUMNS(*)) FROM idem_t")
    sessionCorpus.foreach { q =>
      val once = DialectShim.rewrite(q, spark)
      assert(DialectShim.rewrite(once, spark) == once,
        s"not idempotent (session) for `$q`:\n 1st: $once")
    }
  }

  test("every rewrite family is needed: Spark 4 rejects its raw DuckDB form") {
    val spark = graft.SparkTestSession.spark
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW nec_t AS SELECT id AS k, " +
      "id * 2 AS v, array(id, id + 1) AS l, CAST(id AS STRING) AS s, " +
      "TIMESTAMP '2024-01-01 00:00:00' AS ts, '{\"a\": 1}' AS j FROM range(3)")
    DialectShim.rewrite("CREATE MACRO nec_inc(x) AS x + 1", spark)
    // one raw form per family; bare `FROM nec_t` runs natively (pipe
    // syntax), so FROM-first is pinned with a WHERE
    val raws = Seq(
      "SELECT nec_inc(k) FROM nec_t",
      "FROM nec_t WHERE k > 1",
      "SELECT k FROM nec_t UNION ALL BY NAME SELECT k FROM nec_t",
      "SELECT COLUMNS('k') FROM nec_t",
      "PIVOT nec_t ON k IN (1, 2) USING sum(v)",
      "UNPIVOT nec_t ON k, v",
      "SELECT * FROM nec_t a ASOF JOIN nec_t b ON a.k = b.k AND a.v >= b.v",
      "SELECT k FROM nec_t QUALIFY row_number() OVER (ORDER BY k) = 1",
      "SELECT DISTINCT ON (k) k, v FROM nec_t",
      "SELECT * FROM nec_t USING SAMPLE 1",
      "SELECT * REPLACE (v + 1 AS v) FROM nec_t",
      "SELECT [x * 2 for x in l] FROM nec_t",
      "SELECT * FROM generate_series(1, 3)",
      "SELECT unnest(l) FROM nec_t",
      "SELECT list_reverse_sort(l) FROM nec_t",
      "SELECT list_unique(l) FROM nec_t",
      "SELECT epoch(ts) FROM nec_t",
      "SELECT list_element(l, 1) FROM nec_t",
      "SELECT list_slice(l, 1, 2) FROM nec_t",
      "SELECT date_diff('day', ts, ts) FROM nec_t",
      "SELECT format('{}', k) FROM nec_t",
      "SELECT json_extract_string(j, '$.a') FROM nec_t",
      "SELECT * FROM read_parquet('nec.parquet')",
      "SELECT struct_pack(a := 1)",
      "SELECT {'a': 1}",
      "SELECT [1, 2]",
      "SELECT CAST(l AS INT[]) FROM nec_t",
      "SELECT string_split(s, ',') FROM nec_t",
      "SELECT strftime(ts, '%Y') FROM nec_t",
      "SELECT strptime(s, '%Y') FROM nec_t",
      "SELECT count() FROM nec_t",
      "SELECT * EXCLUDE (k) FROM nec_t") ++
      // every 1:1 rename
      Seq("list_contains(l, 1)", "list_has_any(l, l)", "regexp_matches(s, '1')",
        "epoch_ms(ts)", "list_transform(l, x -> x)", "list_filter(l, x -> x > 0)",
        "list_value(k, v)", "list_append(l, 1)", "array_length(l)",
        "array_to_string(l, ',')", "starts_with(s, '1')", "ends_with(s, '1')",
        "list_sort(l)", "arg_max(k, v)", "argmax(k, v)", "arg_min(k, v)",
        "argmin(k, v)").map(e => s"SELECT $e FROM nec_t")
    raws.foreach { q =>
      assert(DialectShim.rewrite(q, spark) != q, s"the shim must rewrite: $q")
      withClue(s"Spark must reject: $q")(intercept[Exception](spark.sql(q).collect()))
    }
    // subscripts and 3-arg regexp_replace parse natively, with other
    // semantics: Spark's subscript is 0-based and its replace is global
    val sub = "SELECT l[1] AS e FROM nec_t WHERE k = 0"
    assert(spark.sql(sub).head.getLong(0) == 1L)
    assert(spark.sql(DialectShim.rewrite(sub)).head.getLong(0) == 0L)
    graft.functions.GraftExtensions.register(spark)
    val rr = "SELECT regexp_replace('aaa', 'a', 'b') AS r"
    assert(spark.sql(rr).head.getString(0) == "bbb")
    assert(spark.sql(DialectShim.rewrite(rr)).head.getString(0) == "baa")
  }

  test("literal/multiplication guards: shims leave lookalikes alone") {
    // DISTINCT ON inside a string literal is content, not a clause
    val lit = "SELECT 'SELECT DISTINCT ON (k) x FROM t' AS doc FROM t"
    assert(DialectShim.rewrite(lit) == lit)
    // * REPLACE in a literal unchanged
    val lit2 = "SELECT '* REPLACE (a AS b)' AS doc FROM t"
    assert(DialectShim.rewrite(lit2) == lit2)
    // multiplication by the replace() FUNCTION is not the star-modifier
    val mul = "SELECT price * replace(amount, 'x', '') AS v FROM t"
    assert(DialectShim.rewrite(mul) == mul)
    // USING SAMPLE in a literal unchanged
    val lit3 = "SELECT 'USING SAMPLE 10%' AS doc FROM t"
    assert(DialectShim.rewrite(lit3) == lit3)
  }
}
