package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** `graft docs` (dbt docs-generate parity): the catalog carries every
  * model's config surface plus warehouse-read columns; un-materialized
  * models document as such instead of failing the generation.
  */
class DocsGenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def project(): PipelineConfig = {
    val db = Files.createTempDirectory("graft-docs-db")
    val dir = Files.createTempDirectory("graft-docs")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dg_base.sql"),
      "SELECT 1 AS id, 'a' AS name")
    Files.writeString(modelsDir.resolve("dg_leaf.sql"),
      "SELECT count(*) AS n FROM dg_base")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  dg_base:
         |    materialize: table
         |    tags: [core, nightly]
         |    tests:
         |      - not_null: id
         |      - unique: id
         |        severity: warn
         |        store_failures: true
         |""".stripMargin)
    PipelineConfig.load(dir.resolve("config.yaml"))
  }

  test("catalog JSON: configs, deps, full test describes, and " +
      "warehouse columns after a run; markdown mirrors it") {
    val config = project()
    val session = new PipelineSession(spark, config)
    val r = session.runNodes()
    assert(r.errors.isEmpty, r.errors.map(_.render).mkString("\n"))
    val (order, nodeMap) = session.buildGraph()
    val json = DocsGen.catalogJson(order, nodeMap,
      DocsGen.columnsMap(spark, order), Nil)
    assert(json.contains("\"n_models\":2"), json)
    assert(json.contains("\"id\":\"dg_base\""))
    assert(json.contains("\"materialize\":\"table\""))
    assert(json.contains("\"tags\":[\"core\",\"nightly\"]"))
    // the FULL describe — severity and store_failures flags visible
    assert(json.contains("warn:store_failures:unique(id)"), json)
    assert(json.contains("not_null(id)"))
    // deps both directions
    assert(json.contains("\"depends_on\":[\"dg_base\"]"))
    assert(json.contains("\"referenced_by\":[\"dg_leaf\"]"))
    // columns read back from the warehouse
    assert(json.contains("\"materialized\":true"))
    assert(json.contains("{\"name\":\"id\",\"type\":\"int\"}"), json)
    assert(json.contains("{\"name\":\"n\",\"type\":\"bigint\"}"), json)
    val md = DocsGen.catalogMarkdown(order, nodeMap,
      DocsGen.columnsMap(spark, order), Nil)
    assert(md.contains("## dg_base") && md.contains("## dg_leaf"))
    assert(md.contains("| id | int |"), md)
    assert(md.contains("**tags**: core, nightly"))
    assert(md.contains("`warn:store_failures:unique(id)`"))
  }

  test("un-materialized models document with materialized=false and no " +
      "columns — docs before the first run must not fail") {
    // a FRESH graph in a session that never ran: dg_base may linger from
    // the other test's shared session, so use unique ids via a new project
    val db = Files.createTempDirectory("graft-docs2-db")
    val dir = Files.createTempDirectory("graft-docs2")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dg2_never_ran.sql"),
      "SELECT 1 AS id")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db""".stripMargin)
    val cfg2 = PipelineConfig.load(dir.resolve("config.yaml"))
    val session = new PipelineSession(spark, cfg2)
    val (order, nodeMap) = session.buildGraph()
    val json = DocsGen.catalogJson(order, nodeMap,
      DocsGen.columnsMap(spark, order), Nil)
    assert(json.contains("\"materialized\":false"), json)
    assert(json.contains("\"columns\":[]"), json)
    val md = DocsGen.catalogMarkdown(order, nodeMap,
      DocsGen.columnsMap(spark, order), Nil)
    assert(md.contains("not materialized"), md)
  }

  test("a mixed-case materialize documents as the lowercase " +
      "materialization the engine runs") {
    val db = Files.createTempDirectory("graft-docs3-db")
    val dir = Files.createTempDirectory("graft-docs3")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dg3_mixed.sql"), "SELECT 1 AS id")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  dg3_mixed:
         |    materialize: Table
         |""".stripMargin)
    val session = new PipelineSession(spark,
      PipelineConfig.load(dir.resolve("config.yaml")))
    val (order, nodeMap) = session.buildGraph()
    val cols = DocsGen.columnsMap(spark, order)
    val json = DocsGen.catalogJson(order, nodeMap, cols, Nil)
    assert(json.contains("\"materialize\":\"table\""), json)
    val md = DocsGen.catalogMarkdown(order, nodeMap, cols, Nil)
    assert(md.contains("- **materialize**: table\n"), md)
  }
}
