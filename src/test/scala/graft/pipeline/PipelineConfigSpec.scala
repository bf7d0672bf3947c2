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
