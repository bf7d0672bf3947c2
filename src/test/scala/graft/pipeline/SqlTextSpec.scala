package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class SqlTextSpec extends AnyFunSuite {

  test("strips line comments") {
    val out = SqlText.stripComments("SELECT a -- comment FROM fake\nFROM t")
    assert(!out.contains("fake"))
    assert(out.contains("FROM t"))
  }

  test("strips block comments") {
    val out = SqlText.stripComments("SELECT a /* FROM fake */ FROM t")
    assert(!out.contains("fake"))
    assert(out.contains("FROM t"))
  }

  test("preserves comment markers inside string literals") {
    val sql = "SELECT '--not a comment', 'a /* b */ c' FROM t"
    assert(SqlText.stripComments(sql) == sql)
  }

  test("splits statements on semicolons outside literals") {
    val stmts = SqlText.splitStatements("SET a=1; SELECT 'x;y' FROM t;  ;")
    assert(stmts == Seq("SET a=1", "SELECT 'x;y' FROM t"))
  }

  test("double-quoted and backticked tokens are quote regions too") {
    // a DuckDB double-quoted identifier (or Spark double-quoted string)
    // containing -- or ; is data, not a comment / statement boundary
    val ident = """SELECT "a--b", `c;d` FROM t"""
    assert(SqlText.stripComments(ident) == ident)
    assert(SqlText.splitStatements("""SELECT "x;y" FROM t; SET a=1""") ==
      Seq("""SELECT "x;y" FROM t""", "SET a=1"))
  }

  test("lex: quoted tokens, comments, words and punctuation with depths") {
    val sql = "SELECT f(a[1], 'it''s') -- x;y\n/* z */ `b c` \"d\"\"e\""
    val toks = SqlText.lex(sql)
    assert(toks.map(_.text) == Seq("SELECT", "f", "(", "a", "[", "1", "]", ",",
      "'it''s'", ")", "-- x;y", "/* z */", "`b c`", "\"d\"\"e\""))
    assert(toks.map(_.depth) == Seq(0, 0, 0, 1, 1, 2, 1, 1, 1, 0, 0, 0, 0, 0))
    assert(toks.map(_.kind) == Seq(SqlText.Word, SqlText.Word, SqlText.Punct,
      SqlText.Word, SqlText.Punct, SqlText.Word, SqlText.Punct, SqlText.Punct,
      SqlText.Str, SqlText.Punct, SqlText.Comment, SqlText.Comment,
      SqlText.BQuoted, SqlText.DQuoted))
    // an unterminated quote or block comment runs to the end
    assert(SqlText.lex("SELECT 'a").last.text == "'a")
    assert(SqlText.lex("SELECT /* a").last.text == "/* a")
  }

  test("a ; or apostrophe inside a comment splits nothing") {
    assert(SqlText.splitStatements("SELECT 1 -- it's; done\n; SELECT 2") ==
      Seq("SELECT 1 -- it's; done", "SELECT 2"))
    assert(SqlText.stripComments("SELECT 1 -- it's\n, '--' /* ; */ FROM t") ==
      "SELECT 1 \n, '--'  FROM t")
  }

  test("record-producing detection matches reference semantics") {
    assert(SqlText.producesRecords("SELECT 1"))
    assert(SqlText.producesRecords("  with x as (select 1) select * from x"))
    assert(!SqlText.producesRecords("CREATE TABLE t AS SELECT 1"))
    assert(!SqlText.producesRecords("VALUES (1)")) // parity: not wrapped
    assert(!SqlText.producesRecords("SET a = 1"))
  }
}
