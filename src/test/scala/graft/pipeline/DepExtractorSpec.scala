package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class DepExtractorSpec extends AnyFunSuite {

  // Ports of the reference's two unit tests (src/node.rs:274-295)
  test("get_ref: single FROM") {
    assert(DepExtractor.tableRefs("SELECT * FROM abc") == Set("abc"))
  }

  test("get_ref_subtable: subquery + comma join") {
    val sql =
      """SELECT * FROM (SELECT a, b FROM my_sub_table), my_table
        |WHERE my_table.a > 1""".stripMargin
    assert(DepExtractor.tableRefs(sql) == Set("my_sub_table", "my_table"))
  }

  // Divergence tests: cases the reference's walker misses (SURVEY.md §2.A A5)
  test("refs inside UNION arms are found (reference misses these)") {
    val sql = "SELECT a FROM t1 UNION ALL SELECT a FROM t2"
    assert(DepExtractor.tableRefs(sql) == Set("t1", "t2"))
  }

  test("refs inside WHERE subqueries are found") {
    val sql = "SELECT a FROM t1 WHERE a IN (SELECT b FROM t2)"
    assert(DepExtractor.tableRefs(sql) == Set("t1", "t2"))
  }

  test("joins inside CTEs are found; CTE name itself is not a dep") {
    val sql =
      """WITH c AS (SELECT * FROM x JOIN y ON x.id = y.id)
        |SELECT * FROM c""".stripMargin
    assert(DepExtractor.tableRefs(sql) == Set("x", "y"))
  }

  test("modelRefsInModel filters to known ids") {
    assert(DepExtractor.modelRefsInModel(
      "SELECT * FROM model_a JOIN external_tbl USING (id)",
      Set("model_a", "model_b")) == Set("model_a"))
  }

  test("unparseable SQL yields empty set") {
    assert(DepExtractor.tableRefs("THIS IS NOT ((( SQL") == Set.empty)
  }

  test("modelRefsInModel: multi-statement DuckDB-dialect models keep edges") {
    val ids = Set("purchases", "other")
    // a side statement + ASOF JOIN + count(): the whole-source Catalyst
    // parse fails, but per-statement lexical shimming recovers the edge
    val m =
      """CREATE MACRO usd(v) AS round(v, 2);
        |SELECT c.id, count() AS n FROM clicks c
        |ASOF JOIN purchases p ON c.k = p.k AND c.ts >= p.ts
        |GROUP BY c.id""".stripMargin
    assert(DepExtractor.modelRefsInModel(m, ids) == Set("purchases"))
    // SUMMARIZE's target is a shim-level hint (Catalyst never parses it)
    assert(DepExtractor.modelRefsInModel(
      "SUMMARIZE purchases;\nSELECT 1 AS x", ids) == Set("purchases"))
    // fully unparseable statements still contribute nothing
    assert(DepExtractor.modelRefsInModel("FROB knob1", ids) == Set.empty)
  }

  test("table macro bodies contribute edges; parameters do not") {
    val ids = Set("src_orders", "lim", "other")
    val m =
      """CREATE MACRO big_orders(lim) AS TABLE
        |  SELECT * FROM src_orders WHERE o_totalprice > lim;
        |SELECT o_orderstatus, count() AS n
        |FROM big_orders(200000) GROUP BY o_orderstatus""".stripMargin
    // the edge comes from the macro BODY (the call site is an unresolved
    // TVF to Catalyst); a model unluckily named like the parameter must
    // not become a dependency
    assert(DepExtractor.modelRefsInModel(m, ids) == Set("src_orders"))
    // a scalar macro whose body holds a subquery also yields its edge
    assert(DepExtractor.modelRefsInModel(
      "CREATE MACRO mx() AS (SELECT max(o_totalprice) FROM src_orders);\nSELECT 1 AS x",
      ids) == Set("src_orders"))
  }

  test("a CTE inside a nested subquery does not swallow a genuine outer " +
      "reference to the same name") {
    // statement-global exclusion dropped the outer edge on model x here,
    // letting --parallel waves run this model before x materialized
    val sql =
      """SELECT * FROM x JOIN
        |  (WITH x AS (SELECT 1 AS i) SELECT * FROM x) t ON t.i = x.id""".stripMargin
    assert(DepExtractor.tableRefs(sql) == Set("x"))
  }

  test("an outer CTE is shadowed everywhere in its scope, including " +
      "nested subqueries") {
    val sql =
      """WITH c AS (SELECT 1 AS i)
        |SELECT * FROM t WHERE EXISTS (SELECT 1 FROM c WHERE c.i = t.id)""".stripMargin
    assert(DepExtractor.tableRefs(sql) == Set("t"))
  }

  test("multipart references are never CTE-shadowed") {
    val sql = "WITH x AS (SELECT 1 AS i) SELECT * FROM db.x JOIN x ON 1=1"
    assert(DepExtractor.tableRefs(sql) == Set("x")) // db.x survives; bare x shadowed
  }
}
