package graft.pipeline

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class PipelineConfigSpec extends AnyFunSuite {

  test("yaml parse: all keys, reference names") {
    val c = PipelineConfig.fromYaml(
      """models_dir: models
        |db_path: out.db
        |macro_path: macros
        |duckdb_settings:
        |  memory_limit: "1GB"
        |  threads: 4
        |models:
        |  source_orders:
        |    materialize: table
        |  summary:
        |    materialize: view
        |""".stripMargin)
    assert(c.modelsDir == "models")
    assert(c.dbPath.contains("out.db"))
    assert(c.macroPath.contains("macros"))
    assert(c.settings == Map("memory_limit" -> "1GB", "threads" -> "4"))
    assert(c.models("source_orders").materialize.contains("table"))
    assert(c.models("summary").materialize.contains("view"))
  }

  test("spark_settings alias accepted") {
    val c = PipelineConfig.fromYaml(
      """spark_settings:
        |  spark.sql.shuffle.partitions: 8
        |""".stripMargin)
    assert(c.settings == Map("spark.sql.shuffle.partitions" -> "8"))
  }

  test("missing config file yields defaults anchored at the config's dir") {
    val dir = Files.createTempDirectory("cfg")
    val c = PipelineConfig.load(dir.resolve("config.yaml"))
    // defaults, but models_dir "." resolves against the config's directory
    // (not the process cwd) so discovery scans where the user pointed
    assert(java.nio.file.Paths.get(c.modelsDir).normalize() == dir.normalize())
    assert(c.dbPath.isEmpty) // in-memory mode
  }

  test("blank values and non-mapping documents fail soft or named") {
    // a key left blank mid-edit parses as YAML null → treated as absent
    val c = PipelineConfig.fromYaml(
      "models_dir: m\ndb_path:\nmacro_path:\nduckdb_settings:\n")
    assert(c.modelsDir == "m" && c.dbPath.isEmpty && c.macroPath.isEmpty)
    val c2 = PipelineConfig.fromYaml(
      "models:\n  a:\n    materialize:\n")
    assert(c2.models("a").materialize.isEmpty)
    // a non-mapping document names the problem instead of a bare
    // ClassCastException from deep inside the parser
    val e = intercept[GenericError](
      PipelineConfig.fromYaml("- just\n- a\n- list\n"))
    assert(e.getMessage.contains("mapping"))
  }

  test("malformed YAML fails named with the config file, not as a raw " +
      "parser exception") {
    // an unclosed flow sequence and a tab-indented key: snakeyaml throws
    // a scanner/parser exception for each
    Seq("models_dir: [m\n", "models:\n\ta: 1\n").foreach { text =>
      val e = intercept[GenericError](PipelineConfig.fromYaml(text))
      assert(e.getMessage.startsWith("config.yaml: "), e.getMessage)
      assert(e.render.startsWith("Error: config.yaml: "), e.render)
    }
  }

  test("a non-boolean enabled: fails named with the model and the key") {
    val e = intercept[GenericError](PipelineConfig.fromYaml(
      "models:\n  m1:\n    enabled: maybe\n"))
    assert(e.getMessage ==
      "models.m1.enabled: expected true|false, got `maybe`", e.getMessage)
    assert(!PipelineConfig.fromYaml("models:\n  m1:\n    enabled: false\n")
      .models("m1").enabled)
  }

  test("a non-boolean invalidate_hard_deletes: fails named with the model " +
      "and the key") {
    val e = intercept[GenericError](PipelineConfig.fromYaml(
      "models:\n  s1:\n    invalidate_hard_deletes: 2\n"))
    assert(e.getMessage ==
      "models.s1.invalidate_hard_deletes: expected true|false, got `2`",
      e.getMessage)
    assert(PipelineConfig.fromYaml(
      "models:\n  s1:\n    invalidate_hard_deletes: true\n")
      .models("s1").invalidateHardDeletes)
  }

  test("a value of the wrong shape fails named with its key path") {
    def model(kv: String) = s"models:\n  m1:\n    $kv\n"
    Seq(
      "models: [m1, m2]\n" -> "models: expected a mapping, got a list",
      "duckdb_settings: [threads]\n" ->
        "duckdb_settings: expected a mapping, got a list",
      "vars: [min_qty]\n" -> "vars: expected a mapping, got a list",
      "models:\n  m1: table\n" -> "models.m1: expected a mapping, got `table`",
      model("tags: nightly") -> "models.m1.tags: expected a list, got `nightly`",
      model("tests: not_null") ->
        "models.m1.tests: expected a list, got `not_null`",
      model("freshness: 3600") ->
        "models.m1.freshness: expected a mapping, got `3600`",
      model("unique_key: [a, b]") ->
        "models.m1.unique_key: expected a scalar, got a list",
      model("pre_hook: {k: v}") ->
        "models.m1.pre_hook: expected a string or a list, got a mapping"
    ).foreach { case (yaml, msg) =>
      val e = intercept[GenericError](PipelineConfig.fromYaml(yaml))
      assert(e.getMessage == msg, yaml)
    }
    // a blank value still means absent, at the top level and per model
    val c = PipelineConfig.fromYaml("models:\n  m1:\nvars:\n")
    assert(c.models("m1") == ModelConfig() && c.vars.isEmpty)
  }

  test("an unknown key under models.<id> fails named, listing the known " +
      "keys") {
    // dbt's spelling `materialized` would otherwise run the model as a view
    val e = intercept[GenericError](PipelineConfig.fromYaml(
      "models:\n  m1:\n    materialized: table\n"))
    assert(e.getMessage.startsWith(
      "models.m1: unknown key `materialized` (known: batch_size, "),
      e.getMessage)
    assert(e.getMessage.contains(" materialize, "), e.getMessage)
  }

  test("a project built from two directories has one closure " +
      "fingerprint and one catalog test id per model") {
    def project(): (Map[String, String], String) = {
      val dir = Files.createTempDirectory("graft-reloc")
      Files.createDirectories(dir.resolve("models"))
      Files.createDirectories(dir.resolve("tests"))
      Files.writeString(dir.resolve("models/rl_m.sql"), "SELECT 1 AS id")
      Files.writeString(dir.resolve("tests/no_neg.sql"),
        "SELECT * FROM {{ this }} WHERE id < 0")
      Files.writeString(dir.resolve("config.yaml"),
        "models_dir: models\nmodels:\n  rl_m:\n    tests:\n" +
          "      - sql: tests/no_neg.sql\n")
      val session = new PipelineSession(
        throw new IllegalStateException("fingerprints must stay Spark-free"),
        PipelineConfig.load(dir.resolve("config.yaml")))
      val (order, nodeMap) = session.buildGraph()
      val catalog = DocsGen.catalogJson(order, nodeMap, Map.empty, Nil)
      (session.closureFingerprints(order, nodeMap),
        "\"tests\":\\[[^\\]]*\\]".r.findFirstIn(catalog).get)
    }
    val (fpA, testsA) = project()
    val (fpB, testsB) = project()
    assert(testsA.startsWith("\"tests\":[\"sql(tests/no_neg.sql#"), testsA)
    assert(testsA == testsB)
    assert(fpA == fpB)
  }

  test("empty yaml yields defaults") {
    assert(PipelineConfig.fromYaml("") == PipelineConfig())
  }

  test("settings pass-through applies to the Spark session, fail-fast on bad key") {
    val spark = SparkTestSession.spark
    val ok = new PipelineSession(spark,
      PipelineConfig(settings = Map("spark.sql.cbo.enabled" -> "true")))
    ok.applySettings()
    assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
    spark.conf.unset("spark.sql.cbo.enabled")

    val bad = new PipelineSession(spark,
      PipelineConfig(settings = Map("spark.executor.memory" -> "1g"))) // static conf
    val e = intercept[GenericError](bad.applySettings())
    assert(e.getMessage.contains("spark.executor.memory"))
  }
}
