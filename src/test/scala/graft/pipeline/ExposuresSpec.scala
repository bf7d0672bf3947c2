package graft.pipeline

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.viz.GraphViz

/** dbt exposures: declared downstream consumers — config validation,
  * graph-time dependency checks, `+exposure:` selection, DOT rendering,
  * and the docs catalog section.
  */
class ExposuresSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def project(exposuresYaml: String): PipelineConfig = {
    val db = Files.createTempDirectory("graft-exp-db")
    val dir = Files.createTempDirectory("graft-exp")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("ex_base.sql"), "SELECT 1 AS id")
    Files.writeString(modelsDir.resolve("ex_mart.sql"),
      "SELECT count(*) AS n FROM ex_base")
    Files.writeString(modelsDir.resolve("ex_other.sql"), "SELECT 2 AS x")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |$exposuresYaml""".stripMargin)
    PipelineConfig.load(dir.resolve("config.yaml"))
  }

  private val dashYaml =
    """exposures:
      |  - name: weekly_dash
      |    type: dashboard
      |    owner: data-team
      |    url: https://bi.example/d/42
      |    depends_on: [ex_mart]""".stripMargin

  test("config parsing: the full shape round-trips; unknown type, " +
      "missing depends_on, and duplicate names fail NAMED") {
    val cfg = project(dashYaml)
    assert(cfg.exposures == Seq(Exposure("weekly_dash", "dashboard",
      Some("data-team"), Some("https://bi.example/d/42"), Seq("ex_mart"))))
    def err(yaml: String): String =
      intercept[GraftError](project(yaml)).render
    assert(err(
      """exposures:
        |  - name: bad
        |    type: spreadsheet
        |    depends_on: [ex_mart]""".stripMargin).contains("unknown type"))
    assert(err(
      """exposures:
        |  - name: empty_dep
        |    type: ml""".stripMargin).contains("non-empty `depends_on`"))
    assert(err(dashYaml + "\n" + dashYaml.linesIterator.drop(1)
      .mkString("\n")).contains("duplicate"))
    // ADVICE r16: a present-but-not-a-list exposures section must fail
    // NAMED, not silently parse as zero exposures
    assert(err("exposures: 42").contains("must be a list"))
    assert(err(
      """exposures:
        |  name: not_a_list
        |  type: dashboard""".stripMargin).contains("must be a list"))
  }

  test("graph build validates exposures against the REAL model set: an " +
      "unknown dependency and a model-name collision fail NAMED") {
    val cfg = project(
      """exposures:
        |  - name: ghost_dash
        |    type: dashboard
        |    depends_on: [no_such_model]""".stripMargin)
    val e = intercept[GraftError] {
      new PipelineSession(spark, cfg).buildGraph()
    }
    assert(e.render.contains("unknown model"), e.render)
    assert(e.render.contains("no_such_model"))
    val cfg2 = project(
      """exposures:
        |  - name: ex_base
        |    type: dashboard
        |    depends_on: [ex_mart]""".stripMargin)
    val e2 = intercept[GraftError] {
      new PipelineSession(spark, cfg2).buildGraph()
    }
    assert(e2.render.contains("collides"), e2.render)
  }

  test("--select +exposure:name runs exactly the upstream closure of " +
      "the exposure's dependencies; an unknown exposure fails NAMED") {
    val cfg = project(dashYaml)
    val session = new PipelineSession(spark, cfg,
      selectors = Seq("+exposure:weekly_dash"))
    val r = session.runNodes()
    assert(r.errors.isEmpty, r.errors.map(_.render).mkString("\n"))
    // ex_other is outside the dashboard's lineage — not executed
    assert(r.results.map(_.id).toSet == Set("ex_base", "ex_mart"),
      r.results.map(_.id))
    val bad = new PipelineSession(spark, cfg,
      selectors = Seq("exposure:nope"))
    val e = intercept[GraftError] { bad.runNodes() }
    assert(e.render.contains("unknown exposure"), e.render)
  }

  test("DOT renders exposures as dashed note leaves with model->exposure " +
      "edges; a --select subgraph missing a dependency drops the " +
      "exposure instead of sprouting a dangling edge") {
    val cfg = project(dashYaml)
    val session = new PipelineSession(spark, cfg)
    val (order, nodeMap) = session.buildGraph()
    val dot = GraphViz.renderDot(order, nodeMap, None, cfg.exposures)
    assert(dot.contains("\"weekly_dash\" [shape=note, style=dashed"), dot)
    assert(dot.contains("\\n[dashboard]"), dot)
    assert(dot.contains("\"ex_mart\" -> \"weekly_dash\";"), dot)
    val partial = GraphViz.renderDot(Seq("ex_other"),
      nodeMap.view.filterKeys(_ == "ex_other").toMap, None, cfg.exposures)
    assert(!partial.contains("weekly_dash"), partial)
    // the SVG (the artifact `graft viz` names) carries the exposure too:
    // a dashed leaf rect positioned a wave below its dependency
    val svg = GraphViz.renderSvg(order, nodeMap, None, cfg.exposures)
    assert(svg.contains(">weekly_dash</text>"), svg)
    assert(svg.contains("stroke-dasharray"), svg)
    val svgPartial = GraphViz.renderSvg(Seq("ex_other"),
      nodeMap.view.filterKeys(_ == "ex_other").toMap, None, cfg.exposures)
    assert(!svgPartial.contains("weekly_dash"), svgPartial)
  }

  test("docs catalog carries the exposures section in JSON and markdown") {
    val cfg = project(dashYaml)
    val session = new PipelineSession(spark, cfg)
    val (order, nodeMap) = session.buildGraph()
    val cols = DocsGen.columnsMap(spark, order)
    val json = DocsGen.catalogJson(order, nodeMap, cols, cfg.exposures)
    assert(json.contains("\"exposures\":[{\"name\":\"weekly_dash\"," +
      "\"type\":\"dashboard\",\"owner\":\"data-team\""), json)
    assert(json.contains("\"depends_on\":[\"ex_mart\"]"))
    val md = DocsGen.catalogMarkdown(order, nodeMap, cols, cfg.exposures)
    assert(md.contains("## weekly_dash (dashboard)"), md)
    assert(md.contains("**owner**: data-team"))
  }
}
