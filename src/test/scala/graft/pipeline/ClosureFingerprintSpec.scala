package graft.pipeline

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite

/** Closure fingerprints are the `--changed-only` skip key stored under
  * db_path: any change to what folds into them makes every existing
  * store re-execute everything once. This spec pins the md5 values of a
  * small fixture, computed Spark-free: a `read_parquet` table with a
  * fixed size and mtime, a data test and a post-hook; a view with
  * pre-hooks, a contract and a unit test; an incremental. A refactor of
  * the graph or node model cannot change them unnoticed.
  *
  * The fixture lives at a fixed path because the source file's path is
  * part of its fingerprint.
  */
class ClosureFingerprintSpec extends AnyFunSuite {

  private val root = Paths.get("/tmp/graft-closure-fp-pin")

  private def write(rel: String, text: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text); ()
  }

  test("closure fingerprints of a fixed fixture match the pinned values") {
    val data = root.resolve("data/src.parquet")
    write("data/src.parquet", "0123456789abcdef")
    Files.setLastModifiedTime(data, FileTime.fromMillis(1700000000000L))
    write("models/fp_src.sql", s"SELECT * FROM read_parquet('$data')")
    write("models/fp_mid.sql", "SELECT k, v * 2 AS v2 FROM fp_src")
    write("models/fp_inc.sql",
      """SELECT k, v2 FROM fp_mid
        |{% if is_incremental() %} WHERE k > (SELECT max(k) FROM {{ this }}) {% endif %}
        |""".stripMargin)
    write("config.yaml",
      s"""models_dir: ${root.resolve("models")}
         |models:
         |  fp_src:
         |    materialize: table
         |    tests:
         |      - not_null: k
         |    post_hook: "SELECT 1"
         |  fp_mid:
         |    pre_hook: ["SELECT 2", "SELECT 3"]
         |    contract: enforced
         |    columns:
         |      - name: k
         |        data_type: bigint
         |      - name: v2
         |        data_type: bigint
         |    unit_tests:
         |      - name: doubles
         |        given:
         |          - input: fp_src
         |            rows: [{k: 1, v: 2}]
         |        expect:
         |          rows: [{k: 1, v2: 4}]
         |  fp_inc:
         |    materialize: incremental
         |    unique_key: k
         |""".stripMargin)
    val config = PipelineConfig.load(root.resolve("config.yaml"))
    val session = new PipelineSession(
      throw new IllegalStateException("fingerprints must stay Spark-free"),
      config)
    val (order, nodeMap) = session.buildGraph()
    assert(order == Seq("fp_src", "fp_mid", "fp_inc"))
    assert(session.closureFingerprints(order, nodeMap) == Map(
      "fp_src" -> "bb2f0bc0fe070ec4a5f8f361510c794a",
      "fp_mid" -> "89be6239c36fd98d2bf7e49411aed993",
      "fp_inc" -> "66e63c24153e999101200d496a1cac59"))
  }
}
