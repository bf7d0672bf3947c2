package graft.pipeline

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** End-to-end pipeline run over a zero-egress clone of the reference's
  * examples/basic project (FIXTURES.md §1): a source model reading parquet
  * (table materialization), a dependent aggregation model (default view),
  * a macro, and the negative fixtures.
  */
class PipelineE2ESpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def fixture(models: Map[String, String],
      macros: Map[String, String] = Map.empty,
      configExtra: String = ""): (Path, PipelineConfig) = {
    val dir = Files.createTempDirectory("graft-e2e")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    models.foreach { case (name, sql) =>
      Files.writeString(modelsDir.resolve(s"$name.sql"), sql) }
    val macroDir = dir.resolve("macros"); Files.createDirectories(macroDir)
    macros.foreach { case (name, src) =>
      Files.writeString(macroDir.resolve(name), src) }
    val yaml =
      s"""models_dir: $modelsDir
         |macro_path: $macroDir
         |$configExtra""".stripMargin
    Files.writeString(dir.resolve("config.yaml"), yaml)
    (dir, PipelineConfig.load(dir.resolve("config.yaml")))
  }

  test("examples/basic clone: source table + dependent view, count() shim") {
    val (_, config) = fixture(
      models = Map(
        "source_orders" ->
          s"SELECT * FROM read_parquet('$sfDir/orders.parquet')",
        "orders_per_status" ->
          """SELECT o_orderstatus, count() AS item_count
            |FROM source_orders
            |GROUP BY o_orderstatus""".stripMargin),
      configExtra =
        """models:
          |  source_orders:
          |    materialize: table""".stripMargin)

    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(order == Seq("source_orders", "orders_per_status"))
    assert(nodeMap("orders_per_status").prevs == Set("source_orders"))
    assert(nodeMap("source_orders").nexts == Set("orders_per_status"))

    val report = session.runNodes()
    assert(report.errors.isEmpty)
    assert(report.results.map(_.status).exists(_.startsWith("SELECT ")))
    assert(report.results.map(_.status).contains("CREATE VIEW"))

    // view result matches a directly computed DataFrame
    val viaPipeline = spark.table("orders_per_status")
      .orderBy("o_orderstatus").collect().map(r => (r.getString(0), r.getLong(1)))
    val direct = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_orderstatus").count()
      .orderBy("o_orderstatus").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaPipeline.sameElements(direct))
  }

  test("the committed examples/basic project runs end-to-end, including " +
      "the jinja band-ladder model") {
    // run the REAL example directory (not a synthesized clone) so a
    // committed example can never rot: macros load from macros/, the
    // {% set %}/{% endset %}/range() model renders, the shim rewrites
    // count(), and all three models materialize
    val exampleDir = java.nio.file.Paths.get("examples/basic")
    assume(Files.isDirectory(exampleDir.resolve("models")))
    val config0 = PipelineConfig.load(exampleDir.resolve("config.yaml"))
    // redirect db_path away from the example's /tmp warehouse
    val wh = Files.createTempDirectory("graft-example-e2e").toString
    val config = config0.copy(dbPath = Some(wh),
      modelsDir = exampleDir.resolve("models").toString,
      macroPath = Some(exampleDir.resolve("macros").toString))
    val session = new PipelineSession(spark, config)
    val (order, _) = session.buildGraph()
    assert(order.head == "source_orders")
    assert(order.toSet.contains("orders_price_bands"))
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.mkString("; "))
    val bands = spark.table("orders_price_bands")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the rendered CASE ladder yields band_0..band_3 + band_top, and the
    // band counts must reproduce a directly computed banding
    val direct = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .selectExpr(
        """CASE WHEN o_totalprice < 100000 THEN 'band_0'
          |     WHEN o_totalprice < 200000 THEN 'band_1'
          |     WHEN o_totalprice < 300000 THEN 'band_2'
          |     WHEN o_totalprice < 400000 THEN 'band_3'
          |     ELSE 'band_top' END AS price_band""".stripMargin)
      .groupBy("price_band").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bands == direct)
  }

  test("cross-model optimization: downstream filter pushes through view " +
      "boundaries into the parquet scan (impossible in the reference)") {
    // Three chained VIEW models. Because views are lazy logical plans,
    // Catalyst optimizes the WHOLE chain per consumer: the filter and the
    // 2-column projection of `big_rows` must reach the parquet scan that
    // `source_lineitem` wraps — the reference's DuckDB views are opaque
    // per-model statements, optimized one at a time.
    val (_, config) = fixture(models = Map(
      "source_lineitem" ->
        s"SELECT * FROM read_parquet('$sfDir/lineitem.parquet')",
      "item_prices" ->
        "SELECT l_orderkey, l_quantity, l_extendedprice FROM source_lineitem",
      "big_rows" ->
        "SELECT l_orderkey, l_extendedprice FROM item_prices WHERE l_quantity > 45"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty)
    val plan = spark.table("big_rows").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThan(l_quantity,45.0)"),
      s"filter did not reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double,l_extendedprice:double>"),
      s"projection did not prune the scan:\n$plan")
  }

  test("macro expansion inside a model") {
    val (_, config) = fixture(
      models = Map(
        "src_part" -> s"SELECT * FROM read_parquet('$sfDir/part.parquet')",
        "part_sized" ->
          "SELECT p_partkey, p_size, {{ bump(p_size, 10) }} AS sz FROM src_part"),
      macros = Map("util.sql" ->
        "{% macro bump(c, amt) %}({{ c }} + {{ amt }}){% endmacro %}"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty)
    val row = spark.sql(
      "SELECT sz - p_size FROM part_sized LIMIT 1").collect().head
    assert(row.getInt(0) == 10)
  }

  test("model with two SELECT statements errors") {
    val (_, config) = fixture(models = Map(
      "bad" -> "SELECT 1; SELECT 2"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.size == 1)
    assert(report.errors.head.getMessage.contains("exactly one"))
  }

  test("reference to a missing model warns and quarantines") {
    val (_, config) = fixture(models = Map(
      "lonely" -> "SELECT * FROM no_such_model"))
    val session = new PipelineSession(spark, config)
    val (order, _) = session.buildGraph()
    assert(order == Seq("lonely")) // ref dropped, node still runs (and fails at exec)
  }

  test("unknown materialization type errors") {
    val (_, config) = fixture(
      models = Map("m" -> "SELECT 1 AS x"),
      configExtra =
        """models:
          |  m:
          |    materialize: pyramid""".stripMargin)
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.exists(_.getMessage.contains("Unknown materialization")))
  }

  test("cyclic pipeline fails with cycle error (reference stack-overflows)") {
    val (_, config) = fixture(models = Map(
      "a" -> "SELECT * FROM b",
      "b" -> "SELECT * FROM a"))
    val session = new PipelineSession(spark, config)
    val e = intercept[GenericError](session.buildGraph())
    assert(e.msg.contains("Cycle"))
  }

  test("side statements (SET) run before materialization") {
    val (_, config) = fixture(models = Map(
      "with_set" ->
        "SET spark.sql.ansi.enabled=false; SELECT 1 AS one"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty)
    assert(spark.table("with_set").collect().head.getInt(0) == 1)
  }

  test("statements run strictly in file order: post-SELECT statements " +
      "execute after materialization (reference node.rs parity)") {
    // the reference iterates split statements in order (node.rs:151): a
    // DROP written AFTER the producing SELECT must not run before the
    // materialization reads the staging table
    val (_, config) = fixture(
      models = Map(
        "staged_model" ->
          """CREATE TABLE staging_ordering AS SELECT 7 AS v;
            |SELECT v * 2 AS v2 FROM staging_ordering;
            |DROP TABLE staging_ordering""".stripMargin),
      configExtra =
        """models:
          |  staged_model:
          |    materialize: table""".stripMargin)
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    assert(spark.table("staged_model").head.getInt(0) == 14)
    // the row-count postlude still reflects the final state
    assert(report.results.head.status == "SELECT 1")
    // the tail statement DID run: staging table is gone
    assert(!spark.catalog.tableExists("staging_ordering"))
  }

  test("duplicate model ids from different directories fail named") {
    // models/<a>/users.sql and models/<b>/users.sql share the stem `users`;
    // last-wins Map insertion would silently drop one model's SQL (the
    // reference shares the flaw, session.rs HashMap insert) — fail instead
    val dir = Files.createTempDirectory("graft-dup-id")
    val modelsDir = dir.resolve("models")
    Files.createDirectories(modelsDir.resolve("staging"))
    Files.createDirectories(modelsDir.resolve("marts"))
    Files.writeString(modelsDir.resolve("staging").resolve("users.sql"),
      "SELECT 1 AS x")
    Files.writeString(modelsDir.resolve("marts").resolve("users.sql"),
      "SELECT 2 AS x")
    Files.writeString(dir.resolve("config.yaml"), s"models_dir: $modelsDir")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    val e = intercept[GenericError](
      new PipelineSession(spark, config).buildGraph())
    assert(e.msg.contains("Duplicate model id"))
    assert(e.msg.contains("`users`"))
    assert(e.msg.contains("staging") && e.msg.contains("marts"))
  }

  test("parallel wave execution produces the same results") {
    val (_, config) = fixture(models = Map(
      "s1" -> s"SELECT * FROM read_parquet('$sfDir/region.parquet')",
      "s2" -> s"SELECT * FROM read_parquet('$sfDir/nation.parquet')",
      "joined" ->
        "SELECT n_name, r_name FROM s1 JOIN s2 ON r_regionkey = n_regionkey"))
    val report = new PipelineSession(spark, config, parallel = true).runNodes()
    assert(report.errors.isEmpty)
    assert(spark.table("joined").count() == 25)

    // a diamond, an independent chain, a failing model with a
    // downstream, and data tests (one passing, one failing and gating
    // its downstream): sequential and --parallel report the same
    // statuses in the same order and persist the same run ledger and
    // fingerprint base
    val (_, cfg) = fixture(models = Map(
      "pe_src" -> s"SELECT * FROM read_parquet('$sfDir/nation.parquet')",
      "pe_left" -> "SELECT n_nationkey, n_regionkey FROM pe_src",
      "pe_right" -> "SELECT n_nationkey, n_name FROM pe_src",
      "pe_join" -> ("SELECT l.n_nationkey, l.n_regionkey, r.n_name " +
        "FROM pe_left l JOIN pe_right r ON l.n_nationkey = r.n_nationkey"),
      "pe_c1" -> "SELECT * FROM VALUES (1), (1), (2) AS t(k)",
      "pe_c2" -> "SELECT k FROM pe_c1",
      "pe_c3" -> "SELECT count(*) AS n FROM pe_c2",
      "pe_bad" -> "SELECT no_col FROM graft_no_such_table",
      "pe_bad_down" -> "SELECT * FROM pe_bad"),
      configExtra =
        """models:
          |  pe_src:
          |    materialize: table
          |  pe_join:
          |    materialize: table
          |    tests:
          |      - not_null: n_name
          |  pe_c2:
          |    tests:
          |      - unique: k""".stripMargin)
    def runWith(par: Boolean) = {
      val db = Files.createTempDirectory("graft-par-eq").toString
      val r = new PipelineSession(spark, cfg.copy(dbPath = Some(db)),
        parallel = par).runNodes()
      val nodeRows = ViewStore.loadRunLedger(db).get._1
      (r.results.map(x => x.id -> x.status), nodeRows,
        ViewStore.loadFingerprints(db))
    }
    val (seqRes, seqRows, seqFps) = runWith(par = false)
    val (parRes, parRows, parFps) = runWith(par = true)
    val st = seqRes.toMap
    assert(st("pe_join").startsWith("SELECT "), st)
    assert(st("pe_bad") == "ERROR" && st("pe_c2") == "ERROR", st)
    assert(st("pe_bad_down") == "SKIP upstream failed" &&
      st("pe_c3") == "SKIP upstream failed", st)
    assert(parRes == seqRes)
    assert(parRows == seqRows)
    assert(parFps == seqFps && parFps.contains("pe_join") &&
      !parFps.contains("pe_c3"), parFps)
  }

  test("views persist across sessions via db_path (reference .duckdb parity)") {
    val db = Files.createTempDirectory("graft-dbpath")
    val (_, config) = fixture(
      models = Map(
        "persist_src" -> "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)",
        "persist_view" ->
          "SELECT k * 10 AS k10, v FROM persist_src"),
      configExtra = s"db_path: $db")
    assert(config.dbPath.contains(db.toString))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty)

    // a brand-new session has NO temp views — restore must bring them back
    // in dependency order from the db_path store
    val s2 = spark.newSession()
    assert(!s2.catalog.tableExists("persist_view"))
    val restored = ViewStore.restore(s2, db.toString)
    assert(restored == 2)
    val rows = s2.table("persist_view").orderBy("k10")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((10, "a"), (20, "b")))

    // re-running the pipeline rewrites, not duplicates, manifest entries
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    val s3 = spark.newSession()
    assert(ViewStore.restore(s3, db.toString) == 2)
  }

  test("run --changed-only: editing one mid-DAG model re-executes only " +
      "its descendants; untouched models report [SKIP unchanged] and " +
      "results equal a full run") {
    val db = Files.createTempDirectory("graft-changed-only")
    val dir = Files.createTempDirectory("graft-changed-models")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    // DAG: co_src (table) → co_mid (view) → co_leaf (view); co_side
    // hangs off co_src independently of the edited branch
    write("co_src",
      s"SELECT * FROM read_parquet('$sfDir/orders.parquet')")
    write("co_mid",
      "SELECT o_orderstatus, count() AS n FROM co_src GROUP BY o_orderstatus")
    write("co_leaf", "SELECT sum(n) AS total FROM co_mid")
    write("co_side", "SELECT max(o_orderkey) AS mx FROM co_src")
    val yaml =
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  co_src:
         |    materialize: table""".stripMargin
    Files.writeString(dir.resolve("config.yaml"), yaml)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    // run 1: full — establishes materializations + fingerprints
    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.isEmpty)

    // run 2: nothing changed — EVERY model skips
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r2.errors.isEmpty)
    assert(r2.results.forall(_.status == "SKIP unchanged"),
      s"unchanged re-run must skip everything: ${r2.results}")
    // the skipped views are still resolvable (re-registered, not lost)
    assert(spark.table("co_leaf").collect().nonEmpty)

    // run 3: edit the MID model — it and its descendant re-execute, the
    // untouched source table and the sibling branch skip
    write("co_mid",
      """SELECT o_orderstatus, count() AS n FROM co_src
        |WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus""".stripMargin)
    val r3 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r3.errors.isEmpty)
    val st3 = r3.results.map(r => r.id -> r.status).toMap
    assert(st3("co_src") == "SKIP unchanged", s"$st3")
    assert(st3("co_side") == "SKIP unchanged", s"$st3")
    assert(st3("co_mid") == "CREATE VIEW", s"$st3")
    assert(st3("co_leaf") == "CREATE VIEW", s"$st3")
    val midChanged = spark.table("co_mid").orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val leafChanged = spark.table("co_leaf").collect().head.getLong(0)

    // the changed-only results must equal a FULL run of the same sources
    val r4 = new PipelineSession(spark, config).runNodes()
    assert(r4.errors.isEmpty)
    assert(r4.results.forall(_.status != "SKIP unchanged"))
    val midFull = spark.table("co_mid").orderBy("o_orderstatus")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(midChanged == midFull, "changed-only diverged from a full run")
    assert(spark.table("co_leaf").collect().head.getLong(0) == leafChanged)
  }

  test("run --select --changed-only: the skip decision applies WITHIN " +
      "the selection — unchanged selected models skip, edited ones run, " +
      "unselected models never appear") {
    val db = Files.createTempDirectory("graft-sel-changed")
    val dir = Files.createTempDirectory("graft-sel-models")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    write("sc_src",
      s"SELECT * FROM read_parquet('$sfDir/region.parquet')")
    write("sc_mid", "SELECT r_regionkey, r_name FROM sc_src")
    write("sc_leaf", "SELECT count() AS n FROM sc_mid")
    write("sc_other", "SELECT max(r_regionkey) AS mx FROM sc_src")
    Files.writeString(dir.resolve("config.yaml"),
      s"models_dir: $modelsDir\ndb_path: $db")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)

    // nothing changed: the selected subgraph skips wholesale; sc_other
    // is outside the selection and never reports
    val r = new PipelineSession(spark, config, changedOnly = true,
      selectors = Seq("sc_mid+")).runNodes()
    assert(r.errors.isEmpty)
    assert(r.results.map(_.id) == Seq("sc_mid", "sc_leaf"))
    assert(r.results.forall(_.status == "SKIP unchanged"), r.results)

    // edit the selected mid: it and its selected descendant run
    write("sc_mid",
      "SELECT r_regionkey, r_name FROM sc_src WHERE r_regionkey > 0")
    val r2 = new PipelineSession(spark, config, changedOnly = true,
      selectors = Seq("sc_mid+")).runNodes()
    assert(r2.errors.isEmpty)
    assert(r2.results.map(r => r.id -> r.status).toMap ==
      Map("sc_mid" -> "CREATE VIEW", "sc_leaf" -> "CREATE VIEW"))
  }

  test("run --changed-only: overwriting a read_parquet source FILE " +
      "re-executes the source model and its descendants (SQL unchanged); " +
      "unrelated branches still skip") {
    val db = Files.createTempDirectory("graft-srcdata-db")
    val dir = Files.createTempDirectory("graft-srcdata")
    val dataDir = Files.createTempDirectory("graft-srcdata-files")
    val parq = dataDir.resolve("input.parquet").toString
    spark.range(5).selectExpr("id AS k").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    write("sd_src", s"SELECT * FROM read_parquet('$parq')")
    write("sd_agg", "SELECT count() AS n FROM sd_src")
    write("sd_other", "SELECT 1 AS one")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  sd_src:
         |    materialize: table""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.isEmpty)
    // nothing changed (file untouched): everything skips — the data
    // fingerprint is stat-stable across runs
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r2.errors.isEmpty)
    assert(r2.results.forall(_.status == "SKIP unchanged"), s"${r2.results}")

    // overwrite the source parquet — the SQL text is identical, but the
    // table-materialized source must NOT serve the stale 5 rows
    spark.range(9).selectExpr("id AS k").write.mode("overwrite").parquet(parq)
    // the Spark-free viz preview predicts exactly the skip/run split the
    // real run then delivers
    val previewSession = new PipelineSession(
      throw new IllegalStateException("preview must stay Spark-free"),
      config)
    val (pOrder, pMap) = previewSession.buildGraph()
    assert(previewSession.previewSkips(pOrder, pMap) == Set("sd_other"))
    val r3 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r3.errors.isEmpty)
    val st3 = r3.results.map(r => r.id -> r.status).toMap
    assert(st3("sd_src") != "SKIP unchanged", s"$st3")
    assert(st3("sd_agg") != "SKIP unchanged", s"$st3")
    assert(st3("sd_other") == "SKIP unchanged", s"$st3")
    assert(spark.table("sd_agg").collect().head.getLong(0) == 9L,
      "source model served stale data after its file was rewritten")
  }

  test("materialize: incremental — bootstrap builds the table, later runs " +
      "merge only the fresh slice by unique_key, result ≡ full rebuild") {
    val db = Files.createTempDirectory("graft-incr-db")
    val dir = Files.createTempDirectory("graft-incr")
    val dataDir = Files.createTempDirectory("graft-incr-data")
    val parq = dataDir.resolve("events.parquet").toString
    spark.range(1, 6).selectExpr("id", "id * 10 AS v")
      .write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def writeModel(guard: String): Unit = {
      Files.writeString(modelsDir.resolve("inc_tgt.sql"),
        s"""SELECT id, v FROM read_parquet('$parq')
           |{% if is_incremental() %} WHERE id $guard
           |  (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
      ()
    }
    writeModel(">")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  inc_tgt:
         |    materialize: incremental
         |    unique_key: id""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def tableRows(): Map[Long, Long] = spark.table("inc_tgt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // run 1 (bootstrap): is_incremental() renders false — the guard is
    // dropped and the full history builds the table
    locally {
      val probe = new PipelineSession(spark, config)
      val (_, m1) = probe.buildGraph()
      assert(!m1("inc_tgt").renderedSrc.toLowerCase.contains("where"),
        s"bootstrap render must drop the guard: ${m1("inc_tgt").renderedSrc}")
    }
    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.isEmpty, r1.errors.mkString("; "))
    assert(tableRows() == (1L to 5L).map(i => i -> i * 10).toMap)

    // new source rows appear; run 2 renders is_incremental() TRUE and the
    // executed SELECT scans ONLY the fresh slice (3 rows, not 8)
    spark.range(6, 9).selectExpr("id", "id * 10 AS v")
      .write.mode("append").parquet(parq)
    locally {
      val probe = new PipelineSession(spark, config)
      val (_, m2) = probe.buildGraph()
      val rendered2 = m2("inc_tgt").renderedSrc
      assert(rendered2.toLowerCase.contains("where id >") &&
        rendered2.contains("FROM inc_tgt"),
        s"incremental render must keep the guard over {{ this }}: $rendered2")
      assert(spark.sql(DialectShim.rewrite(
          SqlText.splitStatements(rendered2).head, spark)).count() == 3L,
        "the fresh slice must scan only the new rows")
    }
    val r2 = new PipelineSession(spark, config).runNodes()
    assert(r2.errors.isEmpty, r2.errors.mkString("; "))
    // merged result ≡ a full rebuild of the same source, bit for bit
    assert(tableRows() == (1L to 8L).map(i => i -> i * 10).toMap)

    // unique_key semantics: a fresh slice that RE-SELECTS an existing key
    // replaces that row instead of duplicating it — rewrite the source so
    // id 8 carries a corrected value (one row per key, as a model's
    // output contract requires)
    spark.range(1, 9).selectExpr("id",
        "CASE WHEN id = 8 THEN 999 ELSE id * 10 END AS v")
      .write.mode("overwrite").parquet(parq)
    writeModel(">=") // fresh slice now includes the existing max key
    val r3 = new PipelineSession(spark, config).runNodes()
    assert(r3.errors.isEmpty, r3.errors.mkString("; "))
    val rows3 = spark.table("inc_tgt").collect()
    assert(rows3.length == 8, s"key 8 must be replaced, not duplicated: " +
      s"${rows3.mkString(", ")}")
    assert(tableRows()(8L) == 999L)

    // composes with --changed-only: nothing changed since run 3 → SKIP,
    // table untouched
    val r4 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r4.errors.isEmpty)
    assert(r4.results.map(_.status) == Seq("SKIP unchanged"), r4.results)
    assert(tableRows()(8L) == 999L)
    // and with --select: the incremental model is addressable by name
    spark.createDataFrame(Seq((9L, 90L))).toDF("id", "v")
      .write.mode("append").parquet(parq)
    val r5 = new PipelineSession(spark, config, changedOnly = true,
      selectors = Seq("inc_tgt")).runNodes()
    assert(r5.errors.isEmpty)
    assert(r5.results.map(_.status).head.startsWith("SELECT"), r5.results)
    assert(tableRows() ==
      (1L to 7L).map(i => i -> i * 10).toMap + (8L -> 999L) + (9L -> 90L))
  }

  test("--full-refresh rebuilds an incremental model from scratch " +
      "(is_incremental() renders false, the accumulated table drops)") {
    val db = Files.createTempDirectory("graft-fr-db")
    val dir = Files.createTempDirectory("graft-fr")
    val dataDir = Files.createTempDirectory("graft-fr-data")
    val parq = dataDir.resolve("rows.parquet").toString
    spark.range(1, 4).selectExpr("id").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("fr_inc.sql"),
      s"""SELECT id FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE id >
         |  (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  fr_inc:
         |    materialize: incremental""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    // poison the table's history by shrinking the SOURCE: a plain
    // incremental run cannot shed the stale rows (guard selects nothing)
    spark.range(1, 3).selectExpr("id").write.mode("overwrite").parquet(parq)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(spark.table("fr_inc").count() == 3L,
      "plain incremental keeps accumulated history by design")
    // --full-refresh rebuilds from the full (shrunken) history
    val r = new PipelineSession(spark, config, fullRefresh = true)
      .runNodes()
    assert(r.errors.isEmpty, r.errors.mkString("; "))
    assert(spark.table("fr_inc").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("materialize: incremental without unique_key appends the fresh " +
      "slice (the dbt append default)") {
    val db = Files.createTempDirectory("graft-incr-app-db")
    val dir = Files.createTempDirectory("graft-incr-app")
    val dataDir = Files.createTempDirectory("graft-incr-app-data")
    val parq = dataDir.resolve("rows.parquet").toString
    spark.range(1, 4).selectExpr("id").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("inc_app.sql"),
      s"""SELECT id FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE id >
         |  (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  inc_app:
         |    materialize: incremental""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    spark.range(4, 7).selectExpr("id").write.mode("append").parquet(parq)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(spark.table("inc_app").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 6L).toSeq)
  }

  test("run --exclude: subtracts from the selection (exclude wins over " +
      "select), excludes-only means all-but, unknown exclude is a loud " +
      "error") {
    val dir = Files.createTempDirectory("graft-exclude")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    // ex_src → ex_mid → ex_leaf; ex_side off ex_src
    write("ex_src", s"SELECT * FROM read_parquet('$sfDir/region.parquet')")
    write("ex_mid", "SELECT r_regionkey FROM ex_src")
    write("ex_leaf", "SELECT count() AS n FROM ex_mid")
    write("ex_side", "SELECT max(r_regionkey) AS mx FROM ex_src")
    Files.writeString(dir.resolve("config.yaml"), s"models_dir: $modelsDir")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    def sel(selects: Seq[String], excl: Seq[String]): Set[String] = {
      val s = new PipelineSession(
        throw new IllegalStateException("selection is Spark-free"), config,
        selectors = selects, excludes = excl)
      val (o, m) = s.buildGraph()
      s.selectionSet(o, m).get
    }
    // exclude ∩ select: the excluded descendant drops out of name+
    assert(sel(Seq("ex_src+"), Seq("ex_leaf")) ==
      Set("ex_src", "ex_mid", "ex_side"))
    // exclude with affix: ex_mid+ removes the mid AND its descendants
    assert(sel(Seq("ex_src+"), Seq("ex_mid+")) == Set("ex_src", "ex_side"))
    // excludes-only = all models minus the excluded subgraph
    assert(sel(Nil, Seq("ex_mid+")) == Set("ex_src", "ex_side"))
    // exclude wins even when the same model is explicitly selected
    assert(sel(Seq("ex_leaf"), Seq("ex_leaf")) == Set.empty[String])
    // unknown exclude name: loud error, not a silent no-op
    val e = intercept[GenericError] { sel(Nil, Seq("nope")) }
    assert(e.getMessage.contains("--exclude") &&
      e.getMessage.contains("nope"))
    // the run surface honors it end-to-end
    val r = new PipelineSession(spark, config,
      selectors = Seq("ex_src+"), excludes = Seq("ex_leaf")).runNodes()
    assert(r.errors.isEmpty)
    assert(r.results.map(_.id).toSet == Set("ex_src", "ex_mid", "ex_side"))
  }

  test("tag: selectors pick models by declared tags, compose with " +
      "affixes/exclude; an unmatched tag errors loudly") {
    val dir = Files.createTempDirectory("graft-tags")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    write("tg_src", s"SELECT * FROM read_parquet('$sfDir/region.parquet')")
    write("tg_mid", "SELECT r_regionkey FROM tg_src")
    write("tg_leaf", "SELECT count() AS n FROM tg_mid")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |models:
         |  tg_mid:
         |    tags: [nightly, core]
         |  tg_leaf:
         |    tags: [nightly]""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def sel(selects: Seq[String], excl: Seq[String] = Nil): Set[String] = {
      val s = new PipelineSession(
        throw new IllegalStateException("selection is Spark-free"), config,
        selectors = selects, excludes = excl)
      val (o, m) = s.buildGraph()
      s.selectionSet(o, m).get
    }
    assert(sel(Seq("tag:nightly")) == Set("tg_mid", "tg_leaf"))
    assert(sel(Seq("tag:core")) == Set("tg_mid"))
    // ancestors affix pulls the untagged upstream in
    assert(sel(Seq("+tag:core")) == Set("tg_src", "tg_mid"))
    // exclude composes
    assert(sel(Seq("tag:nightly"), Seq("tg_leaf")) == Set("tg_mid"))
    val e = intercept[GenericError] { sel(Seq("tag:nope")) }
    assert(e.getMessage.contains("tag:nope"))
  }

  test("incremental_strategy: insert_overwrite replaces exactly the " +
      "partitions present in the fresh slice — untouched partitions " +
      "never move, no key join") {
    val db = Files.createTempDirectory("graft-iow-db")
    val dir = Files.createTempDirectory("graft-iow")
    val dataDir = Files.createTempDirectory("graft-iow-data")
    val parq = dataDir.resolve("events.parquet").toString
    def writeSource(rows: Seq[(String, Long)]): Unit = {
      spark.createDataFrame(rows).toDF("day", "amount")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeSource(Seq(("d1", 10L), ("d1", 11L), ("d2", 20L)))
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("daily_agg.sql"),
      s"""SELECT day, count() AS n, sum(amount) AS total
         |FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE day >= 'd2' {% endif %}
         |GROUP BY day""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  daily_agg:
         |    materialize: incremental
         |    incremental_strategy: insert_overwrite
         |    partition_by: day""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def rows(): Map[String, (Long, Long)] = spark.table("daily_agg")
      .collect().map(r => (r.getString(r.fieldIndex("day")),
        (r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("total")))))
      .toMap

    // bootstrap: full history, partitioned layout
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Map("d1" -> ((2L, 21L)), "d2" -> ((1L, 20L))))

    // late data lands in d2 and d3 appears; d1 ALSO changes in the
    // source but the fresh slice doesn't cover it — insert_overwrite
    // must leave the d1 partition byte-identical
    writeSource(Seq(("d1", 999L), ("d2", 20L), ("d2", 22L), ("d3", 30L)))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Map(
      "d1" -> ((2L, 21L)),   // untouched partition kept as-is
      "d2" -> ((2L, 42L)),   // replaced wholesale
      "d3" -> ((1L, 30L))))  // new partition

    // unknown strategy errors loudly
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  daily_agg:
         |    materialize: incremental
         |    incremental_strategy: upsert_magic
         |    partition_by: day""".stripMargin)
    val bad = new PipelineSession(spark,
      PipelineConfig.load(dir.resolve("config.yaml"))).runNodes()
    assert(bad.errors.nonEmpty &&
      bad.errors.head.render.contains("upsert_magic"))
  }

  test("materialize: snapshot — SCD2 check strategy: changed content " +
      "closes the old version and opens a new one, new keys open, " +
      "missing keys stay open, history never moves") {
    val db = Files.createTempDirectory("graft-snap-db")
    val dir = Files.createTempDirectory("graft-snap")
    val dataDir = Files.createTempDirectory("graft-snap-data")
    val parq = dataDir.resolve("dim.parquet").toString
    def writeSource(rows: Seq[(Long, String)]): Unit = {
      spark.createDataFrame(rows).toDF("id", "status")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeSource(Seq((1L, "active"), (2L, "active"), (3L, "trial")))
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dim_snap.sql"),
      s"SELECT id, status FROM read_parquet('$parq')")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  dim_snap:
         |    materialize: snapshot
         |    unique_key: id""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def rows(): Seq[(Long, String, Boolean)] = spark.table("dim_snap")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.isNullAt(3))) // (id, status, isCurrent)
      .sortBy(t => (t._1, t._2)).toSeq

    // bootstrap: every row current
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Seq((1L, "active", true), (2L, "active", true),
      (3L, "trial", true)))

    // id 2 changes, id 4 appears, id 3 vanishes from the source
    writeSource(Seq((1L, "active"), (2L, "churned"), (4L, "trial")))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Seq(
      (1L, "active", true),    // untouched: one open version
      (2L, "active", false),   // closed old version
      (2L, "churned", true),   // opened new version
      (3L, "trial", true),     // missing ≠ deleted: stays open
      (4L, "trial", true)))    // new key opens
    // audit columns are real timestamps: closed row's valid_to equals
    // the new version's valid_from (one run timestamp)
    val v2 = spark.table("dim_snap").filter("id = 2").collect()
    val closed = v2.find(!_.isNullAt(3)).get
    val opened = v2.find(_.isNullAt(3)).get
    assert(closed.getTimestamp(3) == opened.getTimestamp(2))

    // no source change: the snapshot is a no-op (row count stable) —
    // and under --changed-only it SKIPs without running at all
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows().size == 5)
    val r4 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r4.results.map(_.status) == Seq("SKIP unchanged"), r4.results)

    // snapshot without unique_key: loud error
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: ${Files.createTempDirectory("graft-snap-db2")}
         |models:
         |  dim_snap:
         |    materialize: snapshot""".stripMargin)
    val bad = PipelineConfig.load(dir.resolve("config.yaml"))
    val rBad = new PipelineSession(spark, bad).runNodes()
    assert(rBad.errors.nonEmpty &&
      rBad.errors.head.render.contains("unique_key"),
      rBad.errors.map(_.render).mkString("; "))
  }

  test("seeds: CSVs under seeds_dir load as TABLE nodes, wire DAG edges " +
      "to referencing models, re-load under --changed-only when the CSV " +
      "is edited, and collide loudly with model ids") {
    val db = Files.createTempDirectory("graft-seeds-db")
    val dir = Files.createTempDirectory("graft-seeds")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    val seedsDir = dir.resolve("seeds"); Files.createDirectories(seedsDir)
    Files.writeString(seedsDir.resolve("country_codes.csv"),
      "code,name\nus,United States\nde,Germany\n")
    Files.writeString(modelsDir.resolve("by_code.sql"),
      "SELECT count() AS n FROM country_codes")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |seeds_dir: $seedsDir
         |db_path: $db""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    val s1 = new PipelineSession(spark, config)
    val (order, nodeMap) = s1.buildGraph()
    // the seed precedes its consumer in topo order, edge wired by the
    // ordinary dependency extraction
    assert(order == Seq("country_codes", "by_code"))
    assert(nodeMap("by_code").prevs == Set("country_codes"))
    assert(nodeMap("country_codes").cfg.materialize.contains("table"))
    val r1 = s1.runNodes()
    assert(r1.errors.isEmpty, r1.errors.mkString("; "))
    assert(spark.table("country_codes").count() == 2)
    assert(spark.table("by_code").collect().head.getLong(0) == 2L)
    // header row became COLUMN NAMES, types inferred
    assert(spark.table("country_codes").columns.toSeq ==
      Seq("code", "name"))

    // unchanged: both skip
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r2.results.forall(_.status == "SKIP unchanged"), s"${r2.results}")

    // edit the CSV (SQL-less change): the seed AND its consumer re-run
    Files.writeString(seedsDir.resolve("country_codes.csv"),
      "code,name\nus,United States\nde,Germany\nfr,France\n")
    val r3 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r3.errors.isEmpty)
    assert(r3.results.forall(_.status != "SKIP unchanged"), s"${r3.results}")
    assert(spark.table("by_code").collect().head.getLong(0) == 3L)

    // a seed colliding with a model id errors loudly
    Files.writeString(modelsDir.resolve("country_codes.sql"),
      "SELECT 1 AS one")
    val e = intercept[GenericError] {
      new PipelineSession(spark, config).buildGraph()
    }
    assert(e.getMessage.contains("country_codes"))
  }

  test("model data tests: not_null / unique / accepted_values run after " +
      "materialization — passing tests leave the run green, a violation " +
      "fails the node with the test named") {
    val db = Files.createTempDirectory("graft-tests-db")
    val dir = Files.createTempDirectory("graft-tests")
    val dataDir = Files.createTempDirectory("graft-tests-data")
    val parq = dataDir.resolve("rows.parquet").toString
    spark.createDataFrame(Seq(
        (1L, "a"), (2L, "b"), (3L, "a")))
      .toDF("id", "grp").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("tested.sql"),
      s"SELECT id, grp FROM read_parquet('$parq')")
    def writeConfig(tests: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  tested:
           |    materialize: table
           |    tests:
           |$tests""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // all three pass
    val ok = writeConfig(
      """      - not_null: id
        |      - unique: id
        |      - accepted_values:
        |          column: grp
        |          values: [a, b]""".stripMargin)
    assert(ok.models("tested").tests.size == 3)
    val r1 = new PipelineSession(spark, ok).runNodes()
    assert(r1.errors.isEmpty, r1.errors.mkString("; "))

    // a unique violation on grp fails the node and names the test
    val bad = writeConfig("      - unique: grp")
    val r2 = new PipelineSession(spark, bad).runNodes()
    assert(r2.errors.nonEmpty)
    assert(r2.errors.head.render.contains("unique(grp)"),
      r2.errors.head.render)

    // a failed test drops the fingerprint base: fixing the TESTS alone
    // re-executes the model under --changed-only (tests fold into the fp)
    val fixed = writeConfig("      - unique: id")
    val r3 = new PipelineSession(spark, fixed, changedOnly = true)
      .runNodes()
    assert(r3.errors.isEmpty)
    assert(r3.results.head.status != "SKIP unchanged")
    // and once green + unchanged, it skips (tests do not re-run)
    val r4 = new PipelineSession(spark, fixed, changedOnly = true)
      .runNodes()
    assert(r4.results.head.status == "SKIP unchanged", r4.results)

    // accepted_values counts non-null out-of-list rows
    spark.createDataFrame(Seq((1L, "a"), (2L, "zz")))
      .toDF("id", "grp").write.mode("overwrite").parquet(parq)
    val av = writeConfig(
      """      - accepted_values:
        |          column: grp
        |          values: [a, b]""".stripMargin)
    val r5 = new PipelineSession(spark, av).runNodes()
    assert(r5.errors.nonEmpty &&
      r5.errors.head.render.contains("accepted_values(grp"),
      r5.errors.map(_.render).mkString("; "))

    // unknown test name: loud at config load
    val e = intercept[GenericError] { writeConfig("      - not_nul: id") }
    assert(e.getMessage.contains("unknown test `not_nul`"))
  }

  test("state:modified selects exactly the fingerprint-changed subgraph " +
      "(empty when nothing changed), and a selective run MERGES into the " +
      "fingerprint base instead of wiping unselected models") {
    val db = Files.createTempDirectory("graft-statemod-db")
    val dir = Files.createTempDirectory("graft-statemod")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    write("sm_src", s"SELECT * FROM read_parquet('$sfDir/region.parquet')")
    write("sm_mid", "SELECT r_regionkey FROM sm_src")
    write("sm_leaf", "SELECT count() AS n FROM sm_mid")
    write("sm_side", "SELECT max(r_regionkey) AS mx FROM sm_src")
    Files.writeString(dir.resolve("config.yaml"),
      s"models_dir: $modelsDir\ndb_path: $db")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    // before any run: EVERYTHING is modified (no stored base)
    locally {
      val s = new PipelineSession(spark, config,
        selectors = Seq("state:modified"))
      val (o, m) = s.buildGraph()
      assert(s.selectionSet(o, m).get ==
        Set("sm_src", "sm_mid", "sm_leaf", "sm_side"))
    }
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)

    // nothing changed: state:modified resolves EMPTY and runs nothing
    val r0 = new PipelineSession(spark, config,
      selectors = Seq("state:modified")).runNodes()
    assert(r0.results.isEmpty, s"expected an empty run: ${r0.results}")

    // edit the mid model: the closure fold marks mid AND its descendant
    // modified — state:modified runs exactly that subgraph
    write("sm_mid", "SELECT r_regionkey FROM sm_src WHERE r_regionkey > 0")
    val r1 = new PipelineSession(spark, config,
      selectors = Seq("state:modified")).runNodes()
    assert(r1.errors.isEmpty)
    assert(r1.results.map(_.id).toSet == Set("sm_mid", "sm_leaf"),
      s"${r1.results}")

    // the selective run MERGED its fingerprints: a full --changed-only
    // run now skips EVERYTHING (before the merge fix, sm_src/sm_side's
    // bases were wiped and they would spuriously re-execute)
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r2.errors.isEmpty)
    assert(r2.results.forall(_.status == "SKIP unchanged"), s"${r2.results}")

    // composes with --exclude
    write("sm_mid",
      "SELECT r_regionkey FROM sm_src WHERE r_regionkey >= 0")
    val r3 = new PipelineSession(spark, config,
      selectors = Seq("state:modified"), excludes = Seq("sm_leaf"))
      .runNodes()
    assert(r3.errors.isEmpty)
    assert(r3.results.map(_.id) == Seq("sm_mid"), s"${r3.results}")
  }

  test("path: selectors pick models by source file (directory prefix and " +
      "glob), compose with + affixes and --exclude; a no-match pattern " +
      "errors loudly") {
    val dir = Files.createTempDirectory("graft-pathsel")
    val modelsDir = dir.resolve("models")
    val staging = modelsDir.resolve("staging")
    val marts = modelsDir.resolve("marts")
    Files.createDirectories(staging); Files.createDirectories(marts)
    Files.writeString(staging.resolve("stg_orders.sql"),
      s"SELECT * FROM read_parquet('$sfDir/orders.parquet')")
    Files.writeString(staging.resolve("stg_region.sql"),
      s"SELECT * FROM read_parquet('$sfDir/region.parquet')")
    Files.writeString(marts.resolve("mart_counts.sql"),
      "SELECT count() AS n FROM stg_orders")
    Files.writeString(dir.resolve("config.yaml"), s"models_dir: $modelsDir")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    def sel(selects: Seq[String], excl: Seq[String] = Nil): Set[String] = {
      val s = new PipelineSession(
        throw new IllegalStateException("selection is Spark-free"), config,
        selectors = selects, excludes = excl)
      val (o, m) = s.buildGraph()
      s.selectionSet(o, m).get
    }
    // directory selector: everything under staging/
    assert(sel(Seq("path:staging")) == Set("stg_orders", "stg_region"))
    // glob selector: * stays within a segment
    assert(sel(Seq("path:staging/stg_*.sql")) ==
      Set("stg_orders", "stg_region"))
    // file selector + descendants affix
    assert(sel(Seq("path:staging/stg_orders.sql+")) ==
      Set("stg_orders", "mart_counts"))
    // ancestors affix on a path selector
    assert(sel(Seq("+path:marts")) == Set("mart_counts", "stg_orders"))
    // path exclude composes
    assert(sel(Seq("path:staging"), Seq("path:**/stg_region.sql")) ==
      Set("stg_orders"))
    // a pattern matching no file is an error, not an empty run
    val e = intercept[GenericError] { sel(Seq("path:nonexistent_dir")) }
    assert(e.getMessage.contains("matches no model file"))
  }

  test("run --changed-only: a source on a scheme only the SESSION hadoop " +
      "conf resolves (credentialed remote store) still fingerprints and " +
      "skips — the run path stats through spark.hadoop.*") {
    // register the scheme ONLY in the session's configuration — the
    // Spark-free plain Configuration (the pre-fix stat path) cannot
    // resolve it and would fingerprint the source as unstat-able forever
    spark.sparkContext.hadoopConfiguration.set("fs.mockstat.impl",
      classOf[MockStatFileSystem].getName)
    val db = Files.createTempDirectory("graft-mockstat-db")
    val dir = Files.createTempDirectory("graft-mockstat")
    val dataDir = Files.createTempDirectory("graft-mockstat-files")
    val parq = dataDir.resolve("input.parquet").toString
    spark.range(4).selectExpr("id AS k").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("ms_src.sql"),
      s"SELECT * FROM read_parquet('mockstat://$parq')")
    Files.writeString(modelsDir.resolve("ms_agg.sql"),
      "SELECT count() AS n FROM ms_src")
    Files.writeString(dir.resolve("config.yaml"),
      s"models_dir: $modelsDir\ndb_path: $db")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.isEmpty, r1.errors.mkString("; "))
    // nothing changed: the remote-scheme source must SKIP — a constant
    // unstat fingerprint would pass this too, so the rewrite case below
    // is the discriminating half
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r2.errors.isEmpty)
    assert(r2.results.forall(_.status == "SKIP unchanged"), s"${r2.results}")

    // overwrite the remote file (SQL unchanged): the data fingerprint
    // must see it through the session conf and re-execute the chain
    spark.range(7).selectExpr("id AS k").write.mode("overwrite").parquet(parq)
    val r3 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(r3.errors.isEmpty)
    assert(r3.results.forall(_.status != "SKIP unchanged"), s"${r3.results}")
    assert(spark.table("ms_agg").collect().head.getLong(0) == 7L,
      "remote-scheme source served stale data after rewrite")
  }

  test("sourceDataFp: an unstat-able read_* target fingerprints with a " +
      "per-run nonce — it can never satisfy a --changed-only skip") {
    val dir = Files.createTempDirectory("graft-unstat")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("uf_src.sql"),
      "SELECT * FROM read_parquet('failfs://bucket/x.parquet')")
    Files.writeString(dir.resolve("config.yaml"), s"models_dir: $modelsDir")
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def fpOf(session: PipelineSession): String = {
      val (o, m) = session.buildGraph()
      session.closureFingerprints(o, m)("uf_src")
    }
    // Spark-free sessions (the preview surface): the unknown scheme is
    // unstat-able on a plain Configuration
    val s1 = new PipelineSession(
      throw new IllegalStateException("must stay Spark-free"), config)
    val fp1 = fpOf(s1)
    // stable WITHIN one run: the skip decision and the saved base agree
    assert(fpOf(s1) == fp1)
    // different ACROSS runs: a stored base can never match, so the model
    // always re-executes instead of eternally skipping stale remote data
    val s2 = new PipelineSession(
      throw new IllegalStateException("must stay Spark-free"), config)
    assert(fpOf(s2) != fp1,
      "unstat-able source fingerprinted as a constant — it would skip " +
        "forever once its base is stored")
  }

  test("run --changed-only: a descendant of a FAILED upstream is " +
      "SKIPPED (dbt semantics), never frozen into the fingerprint base " +
      "— it re-executes next run instead of skipping against stale data") {
    val db = Files.createTempDirectory("graft-ancfail-db")
    val dir = Files.createTempDirectory("graft-ancfail")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    def write(id: String, sql: String): Unit = {
      Files.writeString(modelsDir.resolve(s"$id.sql"), sql); ()
    }
    write("af_src", "SELECT 1 AS x")
    write("af_tab", "SELECT x + 1 AS y FROM af_src")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  af_tab:
         |    materialize: table""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))

    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.isEmpty)

    // break the upstream: its OWN run fails; the descendant SKIPS
    // (running it against af_src's stale run-1 registration would
    // "succeed" with a wrong answer)
    write("af_src", "SELECT broken_col FROM graft_no_such_table")
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    val st2 = r2.results.map(r => r.id -> r.status).toMap
    assert(st2("af_src") == "ERROR", s"$st2")
    assert(st2("af_tab") != "ERROR" && st2("af_tab") != "SKIP unchanged",
      s"$st2")

    // nothing changed since: the upstream re-fails, and the descendant
    // must RE-EXECUTE (its run-2 fingerprint was earned under a failed
    // ancestor and must not have been persisted), not skip forever
    val r3 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    val st3 = r3.results.map(r => r.id -> r.status).toMap
    assert(st3("af_src") == "ERROR", s"$st3")
    assert(st3("af_tab") != "SKIP unchanged",
      s"descendant froze against a failing upstream: $st3")
  }

  test("a dependency added in a later run restores before its dependent") {
    val db = Files.createTempDirectory("graft-dbpath-reorder")
    // run 1: only vb exists
    ViewStore.saveView(Some(db.toString), "vb", "SELECT 1 AS x")
    // run 2: a NEW model va runs first (topo order), vb now reads from it.
    // The manifest must follow the latest execution order — keeping vb at
    // its old position would restore it before va and warn-skip it.
    ViewStore.saveView(Some(db.toString), "va", "SELECT 5 AS y")
    ViewStore.saveView(Some(db.toString), "vb", "SELECT y * 2 AS x FROM va")
    val s2 = spark.newSession()
    assert(ViewStore.restore(s2, db.toString) == 2)
    assert(s2.table("vb").collect().head.getInt(0) == 10)
  }

  test("model defines a DuckDB CREATE MACRO side statement and uses it") {
    // reference parity: any non-SELECT statement passes through
    // (/root/reference/src/node.rs:151-205), so a DuckDB user's model may
    // define a scalar macro and call it from the SELECT of the same model
    // (or a later one). The shim registers + textually inlines it.
    val (_, config) = fixture(models = Map(
      "bucketed_orders" ->
        s"""CREATE MACRO price_bucket(p) AS CAST(floor(p / 50000) AS INT);
           |SELECT price_bucket(o_totalprice) AS bucket, count() AS n
           |FROM read_parquet('$sfDir/orders.parquet')
           |GROUP BY bucket""".stripMargin,
      // macro registrations are session-scoped, so a LATER model sees it
      "top_bucket" ->
        """SELECT max(bucket) AS top FROM bucketed_orders"""))
    val session = new PipelineSession(spark, config)
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    val direct = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy((org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.col("o_totalprice") / 50000))
        .cast("int").as("bucket"))
      .count().orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val viaPipeline = spark.table("bucketed_orders").orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(viaPipeline == direct)
    assert(spark.table("top_bucket").head.getInt(0) == direct.map(_._1).max)
  }

  test("model calling a macro defined in ANOTHER model orders after it") {
    // macros register in the session registry when the defining model
    // EXECUTES — without a caller→definer edge, DAG scheduling (especially
    // parallel waves) can run the caller first and fail unresolved.
    // Catalyst's relation walk never sees this (the call site is an
    // unresolvable function), so the edge is wired lexically.
    val (_, config) = fixture(models = Map(
      // 'zz_' prefix: path-sorted discovery would otherwise put the
      // definer first by accident and mask a missing edge
      "zz_macro_defs" ->
        s"""CREATE MACRO order_bucket(p) AS CAST(floor(p / 100000) AS INT);
           |SELECT 1 AS ok""".stripMargin,
      "bucket_counts" ->
        s"""SELECT order_bucket(o_totalprice) AS bucket, count() AS n
           |FROM read_parquet('$sfDir/orders.parquet')
           |GROUP BY bucket""".stripMargin))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(nodeMap("bucket_counts").prevs.contains("zz_macro_defs"))
    assert(order.indexOf("zz_macro_defs") < order.indexOf("bucket_counts"))
    // the defining model must NOT self-edge on its own definition+use
    assert(!nodeMap("zz_macro_defs").prevs.contains("zz_macro_defs"))
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    assert(spark.table("bucket_counts").count() > 0)
  }

  test("a macro name in a quoted token or comment is not a call") {
    // `uses` never calls fmt: the name sits in a backtick identifier, a
    // "…" string and a comment. An edge uses→defs would close the cycle
    // with defs' FROM uses.
    val (_, config) = fixture(models = Map(
      "defs" ->
        """CREATE MACRO fmt(x) AS upper(x);
          |SELECT fmt(s) AS s FROM uses""".stripMargin,
      "uses" ->
        """SELECT 'a' AS s, 1 AS `fmt(x)`, "fmt(y)" AS q -- fmt(z)
          |""".stripMargin))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(nodeMap("uses").prevs.isEmpty)
    assert(order.indexOf("uses") < order.indexOf("defs"))
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    assert(spark.table("defs").head.getString(0) == "A")
  }

  test("uppercase model ids keep their dependency edges") {
    // dep extraction lowercases (Spark resolution is case-insensitive);
    // edges must map back to the original-case ids or they vanish
    val (_, config) = fixture(models = Map(
      "DimSource" -> "SELECT 1 AS k, 'x' AS v",
      "FactAgg" -> "SELECT k, count() AS n FROM DimSource GROUP BY k"))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(nodeMap("FactAgg").prevs == Set("DimSource"))
    assert(order == Seq("DimSource", "FactAgg"))
    assert(session.runNodes().errors.isEmpty)
  }

  test("run --select: name+ runs the model and its descendants only, " +
      "+name pulls ancestors, unknown selector errors loudly") {
    // diamond: src -> (left, right) -> top, plus an unrelated island
    val models = Map(
      "src" -> s"SELECT * FROM read_parquet('$sfDir/region.parquet')",
      "left_arm" -> "SELECT r_regionkey, r_name FROM src",
      "right_arm" -> "SELECT r_regionkey FROM src WHERE r_regionkey > 1",
      "top" ->
        """SELECT l.r_name FROM left_arm l
          |JOIN right_arm r ON l.r_regionkey = r.r_regionkey""".stripMargin,
      "island" -> s"SELECT * FROM read_parquet('$sfDir/nation.parquet')")
    def ran(selectors: Seq[String]): Seq[String] = {
      val (_, config) = fixture(models)
      val r = new PipelineSession(spark, config, selectors = selectors)
        .runNodes()
      assert(r.errors.isEmpty, r.errors)
      r.results.map(_.id)
    }
    // left_arm+ = left_arm and its descendants; src/right_arm/island
    // never execute (right_arm's view survives from the previous full
    // run in this shared session — the dbt state workflow)
    assert(ran(Seq("left_arm", "right_arm", "src", "top", "island"))
      .toSet == models.keySet)            // full warm-up run (explicit all)
    assert(ran(Seq("left_arm+")) == Seq("left_arm", "top"))
    // +top = top and every ancestor, never the island
    assert(ran(Seq("+top")).toSet ==
      Set("src", "left_arm", "right_arm", "top"))
    // bare name = exactly that model; union of selectors unions
    assert(ran(Seq("island")) == Seq("island"))
    assert(ran(Seq("island", "left_arm")).toSet ==
      Set("island", "left_arm"))
    // unknown selector: loud error, nothing executes
    val (_, config) = fixture(models)
    val e = intercept[GenericError] {
      new PipelineSession(spark, config, selectors = Seq("nope+"))
        .runNodes()
    }
    assert(e.render.contains("unknown model 'nope'"))

    // --parallel composes: the scheduler runs the RESTRICTED graph
    // (an edge from an unselected upstream must not deadlock or reorder
    // the selected subgraph)
    val (_, pconfig) = fixture(models)
    val pr = new PipelineSession(spark, pconfig, parallel = true,
      selectors = Seq("+top")).runNodes()
    assert(pr.errors.isEmpty, pr.errors)
    assert(pr.results.map(_.id).toSet ==
      Set("src", "left_arm", "right_arm", "top"))
    // topo safety: top executes after both arms in the reported order
    val ids = pr.results.map(_.id)
    assert(ids.indexOf("top") > ids.indexOf("left_arm") &&
      ids.indexOf("top") > ids.indexOf("right_arm"))

    // viz/dry-run subgraph: order filtered, edges intersected — the DOT
    // of a selection never mentions (or dangles into) unselected nodes
    val vs = new PipelineSession(spark, config, selectors = Seq("+top"))
    val (order, nodeMap) = vs.buildGraph()
    val (vOrder, vMap) = vs.restrictToSelection(order, nodeMap)
    assert(vOrder.toSet == Set("src", "left_arm", "right_arm", "top"))
    assert(vMap.values.forall(n =>
      (n.prevs ++ n.nexts).subsetOf(vOrder.toSet)))
    val dot = graft.viz.GraphViz.renderDot(vOrder, vMap)
    assert(!dot.contains("island"))
    assert(dot.contains("\"left_arm\" -> \"top\""))
  }

  test("switching a model from view to table drops the shadowing view") {
    // run 1 materializes m as a view (restored runs recreate the temp
    // view); run 2 switches to table — the temp view must not shadow it
    val (_, config) = fixture(models = Map(
      "switch_m" -> "SELECT 42 AS answer"),
      configExtra =
        """models:
          |  switch_m:
          |    materialize: table""".stripMargin)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW switch_m AS SELECT 0 AS answer")
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    assert(spark.table("switch_m").head.getInt(0) == 42)
  }

  test("table model re-materializes over a leftover warehouse directory") {
    // cross-JVM re-run shape: a previous session's table was restored
    // external and dropped (files survive) — or the JVM died after the
    // write — leaving data at <warehouse>/<id> with no catalog entry.
    // Re-materializing must clear it, not die with LOCATION_ALREADY_EXISTS.
    val (_, config) = fixture(
      models = Map("rerun_tbl" -> "SELECT 1 AS x"),
      configExtra =
        """models:
          |  rerun_tbl:
          |    materialize: table""".stripMargin)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = (if (wh.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(wh))
      else java.nio.file.Paths.get(wh)).resolve("rerun_tbl")
    Files.createDirectories(loc)
    Files.writeString(loc.resolve("leftover.parquet"), "junk")
    spark.sql("DROP TABLE IF EXISTS rerun_tbl") // no catalog entry, dir stays
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    assert(spark.table("rerun_tbl").count() == 1)
  }

  test("examples/curation: native kernels callable from model SQL") {
    // the CLI registers these on session build (Main.buildSpark); tests
    // share a session, so mirror that here
    graft.functions.GraftExtensions.register(spark)
    // load resolves the relative models_dir against the config's own dir
    val config = PipelineConfig.load(
      java.nio.file.Paths.get("examples/curation/config.yaml"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    // chunk inventory: every doc produced ceil(n_tokens/8) chunks
    assert(spark.table("corpus_chunks").count() > 0)
    // the duplicate audit found the corpus's repeated passages
    assert(spark.table("chunk_audit").count() > 0)
    // quantization audit: scale positive, error bounded by half a step
    import org.apache.spark.sql.functions.{col, expr}
    val bad = spark.table("embed_quant")
      .filter(col("scale") <= 0 || col("max_abs_err") > expr("scale / 2 + 1e-12"))
      .count()
    assert(bad == 0)
    // int8 retrieval model: exactly 5 ranked candidates per probe, integer
    // sims within the +/-127^2 cosine range
    val topk = spark.table("int8_topk")
    assert(topk.groupBy("probe_id").count()
      .filter(col("count") =!= 5).count() == 0)
    assert(topk.filter(org.apache.spark.sql.functions.abs(col("sim")) >
      127L * 127 + 1200).count() == 0) // |cos| <= 1 + quantization slack
    // pii_scrub model: every planted contact line is fully redacted
    val scrub = spark.table("pii_scrub")
    assert(scrub.count() > 0)
    assert(scrub.filter(!col("clean_text").contains("<EMAIL>") ||
      !col("clean_text").contains("<PHONE>")).count() == 0)
    assert(scrub.filter(col("clean_text").contains(".example.com"))
      .count() == 0)
  }

  test("examples/dialect: ASOF JOIN + DISTINCT ON + macro pipeline runs " +
      "end-to-end on the committed project") {
    // this example rotted once already (r9: models still converted ts as
    // if the fixture were TIMESTAMP(NANOS)-as-long; the contract is µs
    // NTZ, DIALECT.md "Timestamps") — running the committed directory in
    // the suite is what keeps it honest
    graft.functions.GraftExtensions.register(spark) // len(), as the CLI does
    val base = PipelineConfig.load(
      java.nio.file.Paths.get("examples/dialect/config.yaml"))
    val config = base.copy(dbPath =
      Some(Files.createTempDirectory("graft-dialect-db").toString))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    import org.apache.spark.sql.functions.col
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // purchases: ts passes through naive (no conversion), usd() macro
    assert(spark.table("purchases").count() ==
      events.filter(col("event_type") === "purchase").count())
    // DISTINCT ON: exactly one (the latest) purchase per user
    val latest = spark.table("latest_purchase")
    assert(latest.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    val direct = spark.table("purchases")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("ts").as("ts"))
    assert(latest.select("user_id", "ts").exceptAll(direct).count() == 0)
    // ASOF JOIN: every click with a prior same-user purchase, exactly once
    val clicks = events.filter(col("event_type") === "click")
    val attributed = spark.table("attributed_clicks")
    assert(attributed.count() > 0 && attributed.count() <= clicks.count())
    assert(attributed.groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
    // the day-grain rollup preserves the attributed click count
    val daily = spark.table("daily_attribution")
    assert(daily.agg(org.apache.spark.sql.functions.sum("n_clicks"))
      .head.getLong(0) == attributed.count())
  }

  test("examples/parity: the full dialect-shim surface in one pipeline") {
    graft.functions.GraftExtensions.register(spark) // len() etc., as the CLI does
    val base = PipelineConfig.load(
      java.nio.file.Paths.get("examples/parity/config.yaml"))
    // isolate this run's persisted views from the example's default db_path
    val config = base.copy(dbPath =
      Some(Files.createTempDirectory("graft-parity-db").toString))
    // fresh export target so the COPY below provably ran
    val export = java.nio.file.Paths.get("/tmp/graft-parity-export")
    if (Files.exists(export)) {
      val s = Files.walk(export)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }

    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    import org.apache.spark.sql.functions.col

    // DISTINCT ON: exactly one row per customer
    assert(spark.table("latest_order").groupBy("o_custkey").count()
      .filter(col("count") > 1).count() == 0)
    // QUALIFY: at most two orders per customer survive the rank filter
    val top = spark.table("top_orders")
    assert(top.groupBy("o_custkey").count().filter(col("count") > 2).count() == 0)
    // the {% for %} macro emitted both threshold flags
    assert(top.columns.toSeq.endsWith(Seq("ge_100000", "ge_200000")))
    assert(top.filter(col("ge_200000") === 1 && col("ge_100000") === 0).count() == 0)
    // ASOF LEFT: matches are strictly prior orders, unmatched rows survive
    val gap = spark.table("prior_order_gap")
    assert(gap.filter(col("prev_date") >= col("o_orderdate")).count() == 0)
    assert(gap.count() == spark.table("src_orders").count())
    // USING SAMPLE: the row-count form is exact
    assert(spark.table("order_sample").count() == 50)
    // list comprehension produced a real array column with no empties
    val words = spark.table("doc_words")
    assert(words.schema("words").dataType.typeName == "array")
    assert(words.filter(org.apache.spark.sql.functions
      .array_contains(col("words"), "")).count() == 0)
    // COPY … TO side statement exported the same aggregate the model holds
    val exported = spark.read.option("header", "true")
      .csv("/tmp/graft-parity-export/status_counts.csv")
    assert(exported.count() == spark.table("status_report").count())
    // UNION ALL BY NAME: left-arm column order, NULL fill per arm
    val ledger = spark.table("status_ledger")
    assert(ledger.columns.toSeq == Seq("bucket", "n", "top_entity", "max_len"))
    assert(ledger.filter(col("top_entity").isNotNull && col("max_len").isNotNull)
      .count() == 0)
    assert(ledger.count() ==
      spark.table("src_orders").select("o_orderstatus").distinct.count() +
        spark.table("src_docs").select("source").distinct.count())
    // COLUMNS('re'): expanded columns keep their source names
    assert(spark.table("order_extremes").columns.toSeq ==
      Seq("o_orderstatus", "o_custkey", "o_totalprice"))
    // table macro: side-statement definition, FROM-position call; the
    // src_orders dependency edge came from the macro BODY
    val bigCounts = spark.table("big_order_counts")
    assert(bigCounts.columns.toSeq == Seq("o_orderstatus", "n"))
    assert(bigCounts.count() == spark.table("src_orders")
      .filter(col("o_totalprice") > 200000)
      .select("o_orderstatus").distinct.count())

    // {% set %} bindings rendered (anchor, threshold, filtered label) and
    // 3-arg date_diff mapped to the boundary-crossing native expression
    val ages = spark.table("order_ages")
    assert(ages.columns.toSeq ==
      Seq("o_orderkey", "tag", "months_out", "days_out"))
    assert(ages.filter(col("tag") =!= "AGED").count() == 0)
    assert(ages.count() == spark.table("src_orders")
      .filter(col("o_totalprice") > 150000).count())
    // boundary semantics: month crossings never exceed day crossings and
    // agree in sign (both measured from the same anchor)
    assert(ages.filter(col("months_out") > 0 && col("days_out") <= 0).count() == 0)
    assert(ages.filter(col("months_out") < 0 && col("days_out") >= 0).count() == 0)

    // PIVOT statement script via run-file against the session's views
    val st = graft.cli.Main.runFilesOn(spark,
      List("examples/parity/scripts/pivot_report.sql"))
    assert(st.head._2.startsWith("OK"), st.head._2)
  }

  test("model using a {% for %}/{% if %} macro renders and runs") {
    val (_, config) = fixture(
      models = Map(
        "src_li" ->
          s"SELECT * FROM read_parquet('$sfDir/lineitem.parquet')",
        "li_sums" ->
          ("SELECT l_returnflag, {{ sums('l_quantity', 'l_extendedprice') }}" +
            " FROM src_li GROUP BY l_returnflag")),
      macros = Map("sums.sql" ->
        """{% macro sums(a, b) %}{% for c in [a, b] -%}
          |sum({{ c }}) AS {{ c }}_sum{% if not loop.last %}, {% endif %}
          |{%- endfor %}{% endmacro %}""".stripMargin))
    val session = new PipelineSession(spark, config)
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    val out = spark.table("li_sums")
    assert(out.columns.toSeq ==
      Seq("l_returnflag", "l_quantity_sum", "l_extendedprice_sum"))
    assert(out.count() > 0)
  }

  test("COPY … TO: model side statement exports csv, run-file exports parquet") {
    val out = Files.createTempDirectory("graft-copy-e2e")
    val csvOut = out.resolve("status_counts.csv")
    val (_, config) = fixture(models = Map(
      "src_orders" ->
        s"SELECT * FROM read_parquet('$sfDir/orders.parquet')",
      // the ONLY reference to src_orders is inside the COPY's inner query —
      // the dependency edge must come from the COPY shim's ref extraction
      "export_only" ->
        s"""COPY (SELECT o_orderstatus, count() AS n
           |      FROM src_orders GROUP BY o_orderstatus)
           |  TO '$csvOut' (FORMAT csv, HEADER);
           |SELECT 1 AS marker""".stripMargin))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(nodeMap("export_only").prevs == Set("src_orders"))
    assert(order == Seq("src_orders", "export_only"))
    val report = session.runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    val expected = spark.table("src_orders")
      .groupBy("o_orderstatus").count().count()
    val back = spark.read.option("header", "true").csv(csvOut.toString)
    assert(back.columns.toSeq == Seq("o_orderstatus", "n"))
    assert(back.count() == expected)

    // run-file: the reference's standard export idiom in a script
    val pqOut = out.resolve("statuses.parquet")
    val script = out.resolve("export.sql")
    Files.writeString(script,
      s"""COPY (SELECT o_orderstatus, count() AS n
         |      FROM src_orders GROUP BY o_orderstatus)
         |  TO '$pqOut' (FORMAT parquet, COMPRESSION snappy)""".stripMargin)
    val statuses = graft.cli.Main.runFilesOn(spark, List(script.toString))
    assert(statuses.head._2 == s"OK: $script", statuses.head._2)
    assert(spark.read.parquet(pqOut.toString).count() == expected)
  }

  test("DOT + SVG visualization") {
    val (_, config) = fixture(models = Map(
      "up" -> "SELECT 1 AS x",
      "down" -> "SELECT * FROM up"))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    val dot = graft.viz.GraphViz.renderDot(order, nodeMap)
    assert(dot.contains("digraph LR"))
    // ids are quoted so hyphenated model names stay legal DOT
    assert(dot.contains("\"up\" -> \"down\";"))
    val svg = graft.viz.GraphViz.renderSvg(order, nodeMap)
    assert(svg.startsWith("<svg"))
    assert(svg.contains(">up<") && svg.contains(">down<"))
  }

  test("materialize: snapshot — timestamp strategy: versions open at " +
      "their own updated_at, equal timestamps are no-ops, out-of-order " +
      "and NULL update times fail loudly, history never moves") {
    val db = Files.createTempDirectory("graft-snapts-db")
    val dir = Files.createTempDirectory("graft-snapts")
    val dataDir = Files.createTempDirectory("graft-snapts-data")
    val parq = dataDir.resolve("dim.parquet").toString
    def writeSource(rows: Seq[(Long, String, String)]): Unit = {
      spark.createDataFrame(rows).toDF("id", "status", "upd")
        .selectExpr("id", "status", "cast(upd as timestamp) as updated_at")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeSource(Seq((1L, "active", "2026-01-01 00:00:00"),
      (2L, "active", "2026-01-02 00:00:00")))
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dim_ts_snap.sql"),
      s"SELECT id, status, updated_at FROM read_parquet('$parq')")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  dim_ts_snap:
         |    materialize: snapshot
         |    strategy: timestamp
         |    unique_key: id
         |    updated_at: updated_at""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def rows(): Seq[(Long, String, String, Boolean)] =
      spark.table("dim_ts_snap").collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(3).toString, r.isNullAt(4)))
        .sortBy(t => (t._1, t._3)).toSeq

    // bootstrap: valid_from is each row's OWN updated_at, not the run clock
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Seq(
      (1L, "active", "2026-01-01 00:00:00.0", true),
      (2L, "active", "2026-01-02 00:00:00.0", true)))

    // id 2 updated later (content changed), id 3 appears, id 1 untouched
    writeSource(Seq((1L, "active", "2026-01-01 00:00:00"),
      (2L, "churned", "2026-02-01 00:00:00"),
      (3L, "trial", "2026-01-15 00:00:00")))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows() == Seq(
      (1L, "active", "2026-01-01 00:00:00.0", true),
      (2L, "active", "2026-01-02 00:00:00.0", false),
      (2L, "churned", "2026-02-01 00:00:00.0", true),
      (3L, "trial", "2026-01-15 00:00:00.0", true)))
    // the closed version's valid_to IS the new version's updated_at
    val closed2 = spark.table("dim_ts_snap")
      .filter("id = 2 AND valid_to IS NOT NULL").collect()(0)
    assert(closed2.getTimestamp(4).toString == "2026-02-01 00:00:00.0")

    // same updated_at again (even with content equal): no new version
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(rows().size == 4)

    // out-of-order: id 2 arrives with an EARLIER update time → loud error
    writeSource(Seq((2L, "zombie", "2026-01-20 00:00:00")))
    val bad = new PipelineSession(spark, config).runNodes()
    assert(bad.errors.nonEmpty &&
      bad.errors.head.render.contains("out-of-order"),
      bad.errors.map(_.render).mkString("; "))
    assert(rows().size == 4) // history untouched by the failed run

    // NULL updated_at → loud error
    spark.createDataFrame(Seq((5L, "x"))).toDF("id", "status")
      .selectExpr("id", "status", "cast(null as timestamp) as updated_at")
      .write.mode("overwrite").parquet(parq)
    val badNull = new PipelineSession(spark, config).runNodes()
    assert(badNull.errors.nonEmpty &&
      badNull.errors.head.render.contains("NULL `updated_at`"),
      badNull.errors.map(_.render).mkString("; "))

    // strategy: timestamp without updated_at config → loud error
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: ${Files.createTempDirectory("graft-snapts-db2")}
         |models:
         |  dim_ts_snap:
         |    materialize: snapshot
         |    strategy: timestamp
         |    unique_key: id""".stripMargin)
    val noUa = new PipelineSession(spark,
      PipelineConfig.load(dir.resolve("config.yaml"))).runNodes()
    assert(noUa.errors.nonEmpty &&
      noUa.errors.head.render.contains("updated_at"),
      noUa.errors.map(_.render).mkString("; "))
  }

  test("snapshot: duplicate unique_key values in one fresh slice fail " +
      "loudly instead of opening concurrent current versions") {
    val db = Files.createTempDirectory("graft-snapdup-db")
    val dir = Files.createTempDirectory("graft-snapdup")
    val dataDir = Files.createTempDirectory("graft-snapdup-data")
    val parq = dataDir.resolve("dim.parquet").toString
    spark.createDataFrame(Seq((1L, "a"), (1L, "b"), (2L, "c")))
      .toDF("id", "status").write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("dup_snap.sql"),
      s"SELECT id, status FROM read_parquet('$parq')")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  dup_snap:
         |    materialize: snapshot
         |    unique_key: id""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    // the BOOTSTRAP already refuses (a corrupt day-one history is no
    // better than a corrupt merge)
    val r1 = new PipelineSession(spark, config).runNodes()
    assert(r1.errors.nonEmpty &&
      r1.errors.head.render.contains("duplicate `id`"),
      r1.errors.map(_.render).mkString("; "))
    // and so does the merge path (bootstrap clean, then duplicates)
    spark.createDataFrame(Seq((1L, "a"), (2L, "c"))).toDF("id", "status")
      .write.mode("overwrite").parquet(parq)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    spark.createDataFrame(Seq((2L, "x"), (2L, "y"))).toDF("id", "status")
      .write.mode("overwrite").parquet(parq)
    val r3 = new PipelineSession(spark, config).runNodes()
    assert(r3.errors.nonEmpty &&
      r3.errors.head.render.contains("duplicate `id`"),
      r3.errors.map(_.render).mkString("; "))
  }

  test("relationships test: wires a DAG edge to its target (viz-visible), " +
      "violations fail the node naming the test, unknown targets fail " +
      "at graph build") {
    val db = Files.createTempDirectory("graft-rel-db")
    val (dir, config) = fixture(
      models = Map(
        "dim_status" -> "SELECT 'active' AS code UNION ALL SELECT 'trial'",
        // fct does NOT reference dim_status in SQL: the edge must come
        // from the relationships declaration alone
        "fct_orders" ->
          "SELECT 1 AS oid, 'active' AS code UNION ALL SELECT 2, 'ghost'"),
      configExtra =
        s"""db_path: $db
           |models:
           |  fct_orders:
           |    tests:
           |      - relationships: { column: code, to: dim_status, field: code }""".stripMargin)
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(nodeMap("fct_orders").prevs.contains("dim_status"))
    assert(order.indexOf("dim_status") < order.indexOf("fct_orders"))
    val dot = graft.viz.GraphViz.renderDot(order, nodeMap)
    assert(dot.contains("\"dim_status\" -> \"fct_orders\";"))
    // 'ghost' violates referential integrity → the node fails, named
    val report = session.runNodes()
    assert(report.errors.nonEmpty &&
      report.errors.head.render.contains("relationships(code -> dim_status.code)"),
      report.errors.map(_.render).mkString("; "))
    // fix the data → green
    Files.writeString(dir.resolve("models").resolve("fct_orders.sql"),
      "SELECT 1 AS oid, 'active' AS code UNION ALL SELECT 2, 'trial'")
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    // a relationships target that is not a model: loud at build
    val (_, badCfg) = fixture(
      models = Map("lone" -> "SELECT 1 AS x"),
      configExtra =
        """models:
          |  lone:
          |    tests:
          |      - relationships: { column: x, to: nowhere, field: x }""".stripMargin)
    val e = intercept[GraftError] {
      new PipelineSession(spark, badCfg).buildGraph()
    }
    assert(e.render.contains("nowhere"))
  }

  test("custom SQL test: violating rows fail the node naming the file, " +
      "{{ this }} renders, and EDITING the test file re-executes the " +
      "model under --changed-only (content folds into the fingerprint)") {
    val db = Files.createTempDirectory("graft-sqltest-db")
    val dir = Files.createTempDirectory("graft-sqltest")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    val testsDir = dir.resolve("tests"); Files.createDirectories(testsDir)
    Files.writeString(modelsDir.resolve("accounts.sql"),
      "SELECT 1 AS id, 10 AS balance UNION ALL SELECT 2, -5")
    // the test is config-relative (tests/…), like dbt's singular tests
    Files.writeString(testsDir.resolve("no_negative_balance.sql"),
      "SELECT * FROM {{ this }} WHERE balance < 0")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  accounts:
         |    tests:
         |      - sql: tests/no_negative_balance.sql""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.nonEmpty &&
      report.errors.head.render.contains("no_negative_balance.sql"),
      report.errors.map(_.render).mkString("; "))
    // fix the MODEL → green; then a no-op changed-only run skips
    Files.writeString(modelsDir.resolve("accounts.sql"),
      "SELECT 1 AS id, 10 AS balance UNION ALL SELECT 2, 5")
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    val skipped = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(skipped.results.map(_.status) == Seq("SKIP unchanged"))
    // editing the TEST file alone re-executes the model (and its new
    // stricter rule now fails it)
    Files.writeString(testsDir.resolve("no_negative_balance.sql"),
      "SELECT * FROM {{ this }} WHERE balance < 6")
    val reRun = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(reRun.errors.nonEmpty &&
      reRun.errors.head.render.contains("no_negative_balance.sql"),
      reRun.results.map(_.status).mkString("; "))
    // a missing test file fails loudly, not silently-green
    Files.delete(testsDir.resolve("no_negative_balance.sql"))
    val gone = new PipelineSession(spark, config).runNodes()
    assert(gone.errors.nonEmpty &&
      gone.errors.head.render.contains("cannot read test file"),
      gone.errors.map(_.render).mkString("; "))
  }

  test("on_schema_change: drifted incremental fresh slice fails loudly " +
      "by default; append_new_columns widens with NULL back-fill and " +
      "merge ≡ rebuild on the widened schema; ignore projects new " +
      "columns away") {
    val db = Files.createTempDirectory("graft-osc-db")
    val dir = Files.createTempDirectory("graft-osc")
    val dataDir = Files.createTempDirectory("graft-osc-data")
    val parq = dataDir.resolve("events.parquet").toString
    def writeV1(): Unit = {
      spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v")
        .write.mode("overwrite").parquet(parq); ()
    }
    def writeV2(): Unit = { // adds column `extra`
      spark.createDataFrame(Seq((3L, "c", 30L), (4L, "d", 40L)))
        .toDF("id", "v", "extra")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeV1()
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("inc_osc.sql"),
      s"""SELECT * FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE id > (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    def cfg(extra: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  inc_osc:
           |    materialize: incremental
           |    unique_key: id
           |$extra""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // bootstrap on v1, then drift to v2: default policy fails NAMED
    assert(new PipelineSession(spark, cfg("")).runNodes().errors.isEmpty)
    writeV2()
    val failed = new PipelineSession(spark, cfg("")).runNodes()
    assert(failed.errors.nonEmpty &&
      failed.errors.head.render.contains("on_schema_change"),
      failed.errors.map(_.render).mkString("; "))
    // append_new_columns: old rows back-fill NULL, new rows carry extra
    val widened = new PipelineSession(spark,
      cfg("    on_schema_change: append_new_columns")).runNodes()
    assert(widened.errors.isEmpty,
      widened.errors.map(_.render).mkString("; "))
    val got = spark.table("inc_osc").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L),
      (4L, "d", 40L)))
    // merge ≡ rebuild on the widened schema (--full-refresh over the
    // same v2 source sees ONLY v2 rows — the differential is the shape,
    // not the content; check the schema and the v2 slice agree)
    assert(spark.table("inc_osc").columns.toSeq ==
      Seq("id", "v", "extra"))
    // ignore: a further drift (drop back to v1's columns + new noise
    // column) keeps the table's schema; noise is projected away
    spark.createDataFrame(Seq((9L, "z", true))).toDF("id", "v", "noise")
      .write.mode("overwrite").parquet(parq)
    val ignored = new PipelineSession(spark,
      cfg("    on_schema_change: ignore")).runNodes()
    assert(ignored.errors.isEmpty,
      ignored.errors.map(_.render).mkString("; "))
    val afterIgnore = spark.table("inc_osc")
    assert(afterIgnore.columns.toSeq == Seq("id", "v", "extra"))
    val row9 = afterIgnore.filter("id = 9").collect()(0)
    assert(row9.getString(1) == "z" && row9.isNullAt(2))
  }

  test("pre/post hooks run around the model ({{ this }} renders), fold " +
      "into the changed-only fingerprint, and a failing hook is " +
      "attributed to the node") {
    val db = Files.createTempDirectory("graft-hooks-db")
    val dir = Files.createTempDirectory("graft-hooks")
    val out = Files.createTempDirectory("graft-hooks-out")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("hooked.sql"),
      "SELECT 1 AS a UNION ALL SELECT 2")
    def cfg(pre: String, post: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  hooked:
           |    materialize: table
           |    pre_hook: "$pre"
           |    post-hook: "$post"""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // post-hook sees the materialized model via {{ this }} and COPYes it
    val config = cfg("SET spark.sql.shuffle.partitions = 4",
      s"COPY (SELECT * FROM {{ this }}) TO '$out/hooked.csv' (HEADER, DELIMITER ',')")
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty,
      "hooked run")
    val csv = spark.read.option("header", "true").csv(s"$out/hooked.csv")
    assert(csv.count() == 2)
    // unchanged: skips; editing a HOOK re-executes (fingerprint folds it)
    val skipped = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    assert(skipped.results.map(_.status) == Seq("SKIP unchanged"))
    val edited = cfg("SET spark.sql.shuffle.partitions = 8",
      s"COPY (SELECT * FROM {{ this }}) TO '$out/hooked.csv' (HEADER, DELIMITER ',')")
    val reRun = new PipelineSession(spark, edited, changedOnly = true)
      .runNodes()
    assert(reRun.results.map(_.status).exists(_.startsWith("SELECT")),
      reRun.results.mkString("; "))
    // a failing pre-hook fails the node, named
    val broken = cfg("SELECT * FROM no_such_table_anywhere",
      "SET spark.sql.shuffle.partitions = 32")
    val bad = new PipelineSession(spark, broken).runNodes()
    assert(bad.errors.nonEmpty &&
      bad.errors.head.render.contains("pre-hook failed"),
      bad.errors.map(_.render).mkString("; "))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
  }

  test("crash-atomic staged swap: a swap interrupted at EVERY window " +
      "recovers — complete stage adopted, backup restored, orphans " +
      "cleared — and snapshot history survives (ADVICE r14)") {
    val db = Files.createTempDirectory("graft-crash-db")
    val dir = Files.createTempDirectory("graft-crash")
    val dataDir = Files.createTempDirectory("graft-crash-data")
    val parq = dataDir.resolve("dim.parquet").toString
    def writeSource(rows: Seq[(Long, String)]): Unit = {
      spark.createDataFrame(rows).toDF("id", "status")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeSource(Seq((1L, "a"), (2L, "b")))
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("crash_snap.sql"),
      s"SELECT id, status FROM read_parquet('$parq')")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  crash_snap:
         |    materialize: snapshot
         |    unique_key: id""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    // two clean runs → history exists (id 2 versioned)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    writeSource(Seq((1L, "a"), (2L, "b2")))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    val fullHistory = spark.table("crash_snap").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(fullHistory.size == 3)

    val tgtLoc = ViewStore.warehouseLocation(spark, "crash_snap")
    val stageLoc = ViewStore.warehouseLocation(spark,
      "crash_snap__graft_stage")
    val backupLoc = ViewStore.warehouseLocation(spark,
      "crash_snap__graft_backup")

    // WINDOW 2/3: stage written completely, target stepped aside, crash
    // before the stage renamed in — the next run must adopt the STAGE
    // (it holds the finished merge = the current table content here)
    spark.table("crash_snap").write.mode("overwrite")
      .saveAsTable("crash_snap__graft_stage")
    java.nio.file.Files.move(tgtLoc, backupLoc)
    spark.sql("DROP TABLE IF EXISTS `crash_snap`")
    spark.sql("DROP TABLE IF EXISTS `crash_snap__graft_stage`") // fresh-session catalog
    val recovered = new PipelineSession(spark, config).runNodes()
    assert(recovered.errors.isEmpty,
      recovered.errors.map(_.render).mkString("; "))
    val afterRecover = spark.table("crash_snap").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // history preserved (same source → merge was a no-op on the adopted
    // history)
    assert(afterRecover == fullHistory,
      s"history lost: $afterRecover vs $fullHistory")
    assert(!java.nio.file.Files.exists(stageLoc) &&
      !java.nio.file.Files.exists(backupLoc))

    // WINDOW without a complete stage: target stepped aside, stage dir
    // INCOMPLETE (no _SUCCESS) — the next run restores the BACKUP
    java.nio.file.Files.move(tgtLoc, backupLoc)
    spark.sql("DROP TABLE IF EXISTS `crash_snap`")
    java.nio.file.Files.createDirectories(stageLoc)
    java.nio.file.Files.writeString(stageLoc.resolve("part-junk"), "junk")
    val restored = new PipelineSession(spark, config).runNodes()
    assert(restored.errors.isEmpty,
      restored.errors.map(_.render).mkString("; "))
    assert(spark.table("crash_snap").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(3)))
      .sortBy(t => (t._1, t._2)).toSeq == fullHistory)
    assert(!java.nio.file.Files.exists(stageLoc) &&
      !java.nio.file.Files.exists(backupLoc))

    // WINDOW 1: crash after the stage write, before the swap began —
    // target intact; the stale stage is an orphan and is cleared
    spark.table("crash_snap").write.mode("overwrite")
      .saveAsTable("crash_snap__graft_stage")
    val cleared = new PipelineSession(spark, config).runNodes()
    assert(cleared.errors.isEmpty)
    assert(!java.nio.file.Files.exists(stageLoc))
    assert(spark.table("crash_snap").count() == 3)

    // WINDOW 2/3 on a PARTITIONED incremental: the adopted stage must be
    // re-registered with its partitions, or the next run cannot read it
    val pDb = Files.createTempDirectory("graft-crash-part-db")
    val pDir = Files.createTempDirectory("graft-crash-part")
    val pParq = dataDir.resolve("ev.parquet").toString
    val evRows = Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d3"))
    spark.createDataFrame(evRows).toDF("id", "day")
      .write.mode("overwrite").parquet(pParq)
    val pModels = pDir.resolve("models"); Files.createDirectories(pModels)
    Files.writeString(pModels.resolve("crash_part.sql"),
      s"""SELECT * FROM read_parquet('$pParq')
         |{% if is_incremental() %} WHERE id > (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    Files.writeString(pDir.resolve("config.yaml"),
      s"""models_dir: $pModels
         |db_path: $pDb
         |models:
         |  crash_part:
         |    materialize: incremental
         |    unique_key: id
         |    partition_by: day""".stripMargin)
    val pConfig = PipelineConfig.load(pDir.resolve("config.yaml"))
    assert(new PipelineSession(spark, pConfig).runNodes().errors.isEmpty)
    val pTgt = ViewStore.warehouseLocation(spark, "crash_part")
    val pStage = ViewStore.warehouseLocation(spark, "crash_part__graft_stage")
    val pBackup = ViewStore.warehouseLocation(spark,
      "crash_part__graft_backup")
    spark.table("crash_part").write.mode("overwrite").partitionBy("day")
      .saveAsTable("crash_part__graft_stage")
    java.nio.file.Files.move(pTgt, pBackup)
    spark.sql("DROP TABLE IF EXISTS `crash_part`")
    spark.sql("DROP TABLE IF EXISTS `crash_part__graft_stage`")
    val pRecovered = new PipelineSession(spark, pConfig).runNodes()
    assert(pRecovered.errors.isEmpty,
      pRecovered.errors.map(_.render).mkString("; "))
    assert(spark.table("crash_part").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("day")))
      .sortBy(_._1).toSeq == evRows)
    assert(!java.nio.file.Files.exists(pStage) &&
      !java.nio.file.Files.exists(pBackup))
  }

  test("runNodes releases every cached operator manifest at end-of-run " +
      "(the cachedManifest session-lifecycle contract)") {
    graft.ext.DedupOps.releaseManifests()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // populate the manifest registry the way a long-lived session would
    // (Scala-API operators used between pipeline runs)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (1L to 100L).map(i => (i, (i % 7).toDouble / 7.0, 5L))
      .toDF("id", "score", "n")
    graft.ext.DedupOps.tokenBudgetSelect(docs, "id", col("score"),
      col("n"), budgetTokens = 50L).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "expected a live manifest before the run")
    val (_, config) = fixture(models = Map("tiny" -> "SELECT 1 AS x"))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "runNodes must release cached manifests at end-of-run")
  }

  test("incremental merge preserves the declared partition layout: the " +
      "staging swap rewrites partitionBy'd, so downstream partition " +
      "pruning survives the first merge run") {
    val db = Files.createTempDirectory("graft-mergepart-db")
    val dir = Files.createTempDirectory("graft-mergepart")
    val dataDir = Files.createTempDirectory("graft-mergepart-data")
    val parq = dataDir.resolve("ev.parquet").toString
    def writeSource(rows: Seq[(Long, String)]): Unit = {
      spark.createDataFrame(rows).toDF("id", "day")
        .write.mode("overwrite").parquet(parq); ()
    }
    writeSource(Seq((1L, "d1"), (2L, "d1"), (3L, "d2")))
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("part_inc.sql"),
      s"""SELECT * FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE id > (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  part_inc:
         |    materialize: incremental
         |    unique_key: id
         |    partition_by: day""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def partitionDirs(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val loc = ViewStore.warehouseLocation(spark, "part_inc")
      val s = Files.list(loc)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("day=")).toSeq.sorted
      finally s.close()
    }
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(partitionDirs() == Seq("day=d1", "day=d2"))
    // merge run: new rows in a new partition — the rewritten table must
    // STAY partitioned (the silent-unpartition regression this pins)
    writeSource(Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d3")))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    assert(partitionDirs() == Seq("day=d1", "day=d2", "day=d3"),
      "merge dropped the partition layout")
    assert(spark.table("part_inc").count() == 4)
  }

  test("dbt vars: {{ var('name') }} renders from config vars with CLI " +
      "overlay winning, quoted defaults unquote, unknown vars fail " +
      "loudly, and a changed var re-executes under --changed-only") {
    val db = Files.createTempDirectory("graft-vars-db")
    val dir = Files.createTempDirectory("graft-vars")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("by_lang.sql"),
      """SELECT '{{ var("lang") }}' AS lang,
        |  {{ var('factor', '2') }} * 10 AS scaled,
        |  '{{ var("region", "emea") }}' AS region""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |vars:
         |  lang: en
         |  factor: 3""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    def row(vars: Map[String, String] = Map.empty) = {
      val r = new PipelineSession(spark, config, cliVars = vars).runNodes()
      assert(r.errors.isEmpty, r.errors.map(_.render).mkString("; "))
      val x = spark.table("by_lang").collect()(0)
      (x.getString(0), x.getInt(1), x.getString(2))
    }
    // config vars + unset var's quoted default
    assert(row() == ("en", 30, "emea"))
    // CLI overlay wins; unquoted numeric default still in play
    assert(row(Map("lang" -> "zh", "factor" -> "5")) == ("zh", 50, "emea"))
    // a changed var re-executes under --changed-only (value flows into
    // the rendered text, so the closure fingerprint moves)
    assert(row(Map("lang" -> "zh", "factor" -> "5")) == ("zh", 50, "emea"))
    val skip = new PipelineSession(spark, config, changedOnly = true,
      cliVars = Map("lang" -> "zh", "factor" -> "5")).runNodes()
    assert(skip.results.map(_.status) == Seq("SKIP unchanged"))
    val rerun = new PipelineSession(spark, config, changedOnly = true,
      cliVars = Map("lang" -> "fr", "factor" -> "5")).runNodes()
    assert(rerun.results.map(_.status).exists(_.startsWith("CREATE VIEW")),
      rerun.results.mkString("; "))
    assert(spark.table("by_lang").collect()(0).getString(0) == "fr")
    // unknown var without a default: loud, names the var and the knowns
    Files.writeString(modelsDir.resolve("by_lang.sql"),
      "SELECT '{{ var(\"nope\") }}' AS x")
    val bad = new PipelineSession(spark, config)
    val e = intercept[GraftError] { bad.buildGraph() }
    assert(e.render.contains("nope") && e.render.contains("lang"))
  }

  test("source freshness: fresh sources run clean, warn_after prints a " +
      "warning, error_after fails the node named, a missing source " +
      "fails, and freshness on a sourceless model is a loud error") {
    val dir = Files.createTempDirectory("graft-fresh")
    val dataDir = Files.createTempDirectory("graft-fresh-data")
    val parq = dataDir.resolve("src.parquet").toString
    spark.createDataFrame(Seq((1L, "a"))).toDF("id", "v")
      .write.mode("overwrite").parquet(parq)
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("fresh_src.sql"),
      s"SELECT * FROM read_parquet('$parq')")
    def cfg(freshness: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |models:
           |  fresh_src:
           |    freshness:
           |$freshness""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // freshly written data: inside both bounds → clean
    assert(new PipelineSession(spark,
      cfg("      warn_after_seconds: 3600\n" +
          "      error_after_seconds: 86400")).runNodes().errors.isEmpty)
    // age the data files: set mtimes 2 hours into the past
    import scala.jdk.CollectionConverters._
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200L * 1000)
    val walk = Files.walk(java.nio.file.Paths.get(parq))
    try walk.iterator().asScala.foreach(p =>
      Files.setLastModifiedTime(p, old))
    finally walk.close()
    // past warn, inside error: runs with a warning
    val warned = new PipelineSession(spark,
      cfg("      warn_after_seconds: 3600\n" +
          "      error_after_seconds: 86400")).runNodes()
    assert(warned.errors.isEmpty)
    // past error: the node fails, named
    val stale = new PipelineSession(spark,
      cfg("      error_after_seconds: 3600")).runNodes()
    assert(stale.errors.nonEmpty &&
      stale.errors.head.render.contains("STALE"),
      stale.errors.map(_.render).mkString("; "))
    // missing source: fails outright
    val goneDir = Files.createTempDirectory("graft-fresh-gone")
    Files.writeString(modelsDir.resolve("fresh_src.sql"),
      s"SELECT * FROM read_parquet('$goneDir/nothing.parquet')")
    val missing = new PipelineSession(spark,
      cfg("      error_after_seconds: 3600")).runNodes()
    assert(missing.errors.nonEmpty &&
      missing.errors.head.render.contains("does not exist"),
      missing.errors.map(_.render).mkString("; "))
    // freshness on a model with no read_* target: loud
    Files.writeString(modelsDir.resolve("fresh_src.sql"), "SELECT 1 AS x")
    val sourceless = new PipelineSession(spark,
      cfg("      error_after_seconds: 3600")).runNodes()
    assert(sourceless.errors.nonEmpty &&
      sourceless.errors.head.render.contains("no stat-able"),
      sourceless.errors.map(_.render).mkString("; "))
    // an empty freshness block is a config error
    val e = intercept[GraftError] { cfg("      {}") }
    assert(e.render.contains("warn_after_seconds"))
  }

  test("a failed node SKIPS its transitive downstream (dbt semantics) " +
      "while independent branches still run; --fail-fast aborts " +
      "everything after the first error; skipped work never records a " +
      "fingerprint") {
    val db = Files.createTempDirectory("graft-skipdown-db")
    val dir = Files.createTempDirectory("graft-skipdown")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    // a_bad → b_mid → c_leaf is the failing chain; z_ok is independent
    Files.writeString(modelsDir.resolve("a_bad.sql"),
      "SELECT no_col FROM graft_no_such_table")
    Files.writeString(modelsDir.resolve("b_mid.sql"),
      "SELECT * FROM a_bad")
    Files.writeString(modelsDir.resolve("c_leaf.sql"),
      "SELECT * FROM b_mid")
    Files.writeString(modelsDir.resolve("z_ok.sql"), "SELECT 1 AS x")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    val r = new PipelineSession(spark, config).runNodes()
    val st = r.results.map(x => x.id -> x.status).toMap
    assert(st("a_bad") == "ERROR", st)
    assert(st("b_mid") == "SKIP upstream failed", st)
    assert(st("c_leaf") == "SKIP upstream failed", st) // transitive
    assert(st("z_ok").startsWith("CREATE VIEW"), st)   // independent
    assert(r.errors.size == 1, "skips are not errors")
    // skipped nodes recorded NO fingerprint: a later changed-only run
    // re-executes them (they re-skip here because the upstream re-fails,
    // which is exactly right — never "SKIP unchanged")
    val r2 = new PipelineSession(spark, config, changedOnly = true)
      .runNodes()
    val st2 = r2.results.map(x => x.id -> x.status).toMap
    assert(st2("b_mid") == "SKIP upstream failed" &&
      st2("c_leaf") == "SKIP upstream failed", st2)
    assert(st2("z_ok") == "SKIP unchanged", st2)
    // --fail-fast: everything after the first error is SKIP fail-fast
    // (sequential order: a_bad fails first, z_ok sorts after)
    val ff = new PipelineSession(spark, config, failFast = true)
      .runNodes()
    val stf = ff.results.map(x => x.id -> x.status).toMap
    assert(stf("a_bad") == "ERROR", stf)
    assert(stf("b_mid") == "SKIP fail-fast" &&
      stf("c_leaf") == "SKIP fail-fast" &&
      stf("z_ok") == "SKIP fail-fast", stf)
    // the fail-fast-skipped z_ok did NOT record a fingerprint: it RUNS
    // under the next changed-only (it was never executed in this store
    // state... force a fresh store to isolate)
    val db2 = Files.createTempDirectory("graft-skipdown-db2")
    val config2 = config.copy(dbPath = Some(db2.toString))
    assert(new PipelineSession(spark, config2, failFast = true)
      .runNodes().results.map(x => x.id -> x.status).toMap
      .apply("z_ok") == "SKIP fail-fast")
    val after = new PipelineSession(spark, config2, changedOnly = true)
      .runNodes()
    assert(after.results.find(_.id == "z_ok").get.status
      .startsWith("CREATE VIEW"),
      s"fail-fast skip must not satisfy changed-only: ${after.results}")
    // parallel waves skip downstream the same way
    val rp = new PipelineSession(spark, config, parallel = true).runNodes()
    val stp = rp.results.map(x => x.id -> x.status).toMap
    assert(stp("b_mid") == "SKIP upstream failed" &&
      stp("c_leaf") == "SKIP upstream failed" &&
      stp("z_ok").startsWith("CREATE VIEW"), stp)
  }

  test("examples/warehouse: the committed dbt-parity project runs E2E — " +
      "seeds, incremental merge, timestamp snapshot, hooks, vars, " +
      "relationships + custom-SQL tests, and a deliberately-violating " +
      "warn-severity test that doesn't fail the run") {
    val exampleDir = java.nio.file.Paths.get("examples/warehouse")
    assume(Files.isDirectory(exampleDir.resolve("models")))
    val wh = Files.createTempDirectory("graft-warehouse-example")
    val config = PipelineConfig.load(exampleDir.resolve("config.yaml"))
      .copy(dbPath = Some(wh.toString))
    // first run: seeds load, events bootstrap, snapshot bootstraps at
    // each customer's own updated_at, tests all pass
    val r1 = new PipelineSession(spark, config,
      cliVars = Map("min_qty" -> "1")).runNodes()
    assert(r1.errors.isEmpty, r1.errors.map(_.render).mkString("; "))
    assert(spark.table("order_events").count() == 4)
    assert(spark.table("customer_dim")
      .filter("valid_to IS NULL").count() == 3)
    val summary = spark.table("order_summary")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(summary == Map(1 -> 6L, 2 -> 3L, 3 -> 4L), summary.toString)
    // the microbatch model bootstrapped day-partitioned: every seed
    // event landed, one partition per event-time day
    assert(spark.table("daily_events").count() == 4)
    assert(spark.table("daily_events").select("d").distinct().count() == 4)
    // second run, same data: incremental merges nothing new, snapshot
    // versions nothing (same updated_at), everything stays green —
    // and the microbatch default window reprocesses only the latest
    // day, converging bit-for-bit
    val r2 = new PipelineSession(spark, config,
      cliVars = Map("min_qty" -> "1")).runNodes()
    assert(r2.errors.isEmpty, r2.errors.map(_.render).mkString("; "))
    assert(spark.table("order_events").count() == 4)
    assert(spark.table("customer_dim").count() == 3)
    assert(spark.table("daily_events").count() == 4)
    // a raised min_qty var changes the rendered SQL (and would filter
    // the bootstrap); on the MERGE path it only gates NEW events — the
    // dry-run surface proves the var reached the model text
    val session3 = new PipelineSession(spark, config,
      cliVars = Map("min_qty" -> "3"))
    val (_, nm3) = session3.buildGraph()
    assert(nm3("order_events").renderedSrc.contains("qty >= 3"))
    // the committed warn test really does VIOLATE (customer 1 has two
    // orders) — and really is warn-only: it reported above without
    // failing either run
    val t = new PipelineSession(spark, config,
      cliVars = Map("min_qty" -> "1")).runTestsOnly()
    val warnRows = t.filter(_._4)
    assert(warnRows.map(_._2) == Seq("warn:accepted_values(n_orders in [1])"),
      t.toString)
    assert(warnRows.forall(_._3.nonEmpty), t.toString)
    assert(t.filter(!_._4).forall(_._3.isEmpty), t.toString)
    // the committed unit test + enforced contract (r18): the unit row
    // appears in `graft test` green, and a build runs the unit test
    // BEFORE materializing, also green — the committed example now
    // exercises the whole dbt 1.8 test surface
    assert(config.models("order_summary").contract)
    assert(t.exists(r => r._2.startsWith("unit_test(rollup_math#") &&
      r._3.isEmpty), t.toString)
    val sb = new PipelineSession(spark, config,
      cliVars = Map("min_qty" -> "1"), buildMode = true)
    val rb = sb.runNodes()
    assert(rb.errors.isEmpty, rb.errors.map(_.render).mkString("; "))
    assert(sb.collectedTests.exists(r =>
      r._2.startsWith("unit_test(rollup_math#") && r._3.isEmpty))
  }

  test("snapshot invalidate_hard_deletes: a vanished key's current " +
      "version closes at the run clock (both strategies); off by " +
      "default, absence keeps versions open") {
    val dataDir = Files.createTempDirectory("graft-hd-data")
    val parq = dataDir.resolve("dim.parquet").toString
    def writeSource(rows: Seq[(Long, String, String)]): Unit = {
      spark.createDataFrame(rows).toDF("id", "status", "upd")
        .selectExpr("id", "status", "cast(upd as timestamp) as updated_at")
        .write.mode("overwrite").parquet(parq); ()
    }
    // distinct model (= table) names per sub-case: the shared test
    // session's catalog would otherwise leak one case's table into the
    // next case's bootstrap decision
    def project(name: String, strategy: String,
                hardDeletes: Boolean): PipelineConfig = {
      val dir = Files.createTempDirectory("graft-hd")
      val modelsDir = dir.resolve("models")
      Files.createDirectories(modelsDir)
      Files.writeString(modelsDir.resolve(s"$name.sql"),
        s"SELECT id, status, updated_at FROM read_parquet('$parq')")
      val strategyLines = strategy match {
        case "check" => ""
        case "timestamp" => "    strategy: timestamp\n" +
          "    updated_at: updated_at\n"
      }
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: ${Files.createTempDirectory("graft-hd-db")}
           |models:
           |  $name:
           |    materialize: snapshot
           |    unique_key: id
           |$strategyLines    invalidate_hard_deletes: $hardDeletes""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    def openIds(name: String): Set[Long] = spark.table(name)
      .filter("valid_to IS NULL").collect().map(_.getLong(0)).toSet
    Seq("check", "timestamp").foreach { strategy =>
      // ON: id 2 vanishes → its version closes; id 1 stays open
      val onName = s"hd_${strategy}_on"
      writeSource(Seq((1L, "a", "2026-01-01 00:00:00"),
        (2L, "b", "2026-01-02 00:00:00")))
      val cfg = project(onName, strategy, hardDeletes = true)
      assert(new PipelineSession(spark, cfg).runNodes().errors.isEmpty,
        strategy)
      writeSource(Seq((1L, "a", "2026-01-01 00:00:00")))
      assert(new PipelineSession(spark, cfg).runNodes().errors.isEmpty,
        strategy)
      assert(openIds(onName) == Set(1L), s"$strategy: ${openIds(onName)}")
      val closed2 = spark.table(onName)
        .filter("id = 2 AND valid_to IS NOT NULL").count()
      assert(closed2 == 1, s"$strategy closed versions: $closed2")
      // OFF (default): absence is not deletion — both stay open
      val offName = s"hd_${strategy}_off"
      writeSource(Seq((1L, "a", "2026-01-01 00:00:00"),
        (2L, "b", "2026-01-02 00:00:00")))
      val cfgOff = project(offName, strategy, hardDeletes = false)
      assert(new PipelineSession(spark, cfgOff).runNodes().errors.isEmpty)
      writeSource(Seq((1L, "a", "2026-01-01 00:00:00")))
      assert(new PipelineSession(spark, cfgOff).runNodes().errors.isEmpty)
      assert(openIds(offName) == Set(1L, 2L),
        s"$strategy off: ${openIds(offName)}")
    }
  }

  test("runTestsOnly (dbt `test`): data tests run against EXISTING " +
      "materializations without executing models; failures name the " +
      "test; --select restricts the tested set") {
    val db = Files.createTempDirectory("graft-testonly-db")
    val dir = Files.createTempDirectory("graft-testonly")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("t_accounts.sql"),
      "SELECT 1 AS id, 10 AS bal UNION ALL SELECT 2, 20")
    Files.writeString(modelsDir.resolve("t_other.sql"),
      "SELECT 'x' AS code")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  t_accounts:
         |    materialize: table
         |    tests:
         |      - not_null: id
         |      - unique: id
         |  t_other:
         |    materialize: table
         |    tests:
         |      - accepted_values: { column: code, values: [x, y] }""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    // all green against the existing tables, no model re-executes (the
    // tables are left exactly as built — assert by row identity after)
    val r1 = new PipelineSession(spark, config).runTestsOnly()
    assert(r1.size == 3 && r1.forall(_._3.isEmpty), r1.toString)
    // corrupt a materialization BEHIND the pipeline's back: test-only
    // catches it without running any model
    spark.createDataFrame(Seq((1, 10), (1, 7))).toDF("id", "bal")
      .write.mode("overwrite").saveAsTable("t_accounts")
    val r2 = new PipelineSession(spark, config).runTestsOnly()
    val failed = r2.filter(_._3.nonEmpty)
    assert(failed.map(_._2) == Seq("unique(id)"), r2.toString)
    // --select restricts the tested set
    val r3 = new PipelineSession(spark, config,
      selectors = Seq("t_other")).runTestsOnly()
    assert(r3.map(_._1).distinct == Seq("t_other"), r3.toString)
  }

  test("enabled: false drops a model from the graph at discovery — it " +
      "never runs, and a model depending on it fails LOUDLY at build " +
      "(a declared-off dependency is a config contradiction)") {
    val dir = Files.createTempDirectory("graft-disabled")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("live_one.sql"), "SELECT 1 AS x")
    Files.writeString(modelsDir.resolve("dead_one.sql"),
      "SELECT broken FROM nowhere_at_all") // would ERROR if it ever ran
    Files.writeString(modelsDir.resolve("wants_dead.sql"),
      "SELECT * FROM dead_one")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |models:
         |  dead_one:
         |    enabled: false""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    // depending on a DISABLED model is a loud configuration
    // contradiction (dbt semantics), not a runtime surprise
    val e = intercept[GraftError] {
      new PipelineSession(spark, config).buildGraph()
    }
    assert(e.render.contains("disabled model") &&
      e.render.contains("dead_one"), e.render)
    // with the dependent gone, the disabled model just drops out
    Files.delete(modelsDir.resolve("wants_dead.sql"))
    val session = new PipelineSession(spark, config)
    val (order, nodeMap) = session.buildGraph()
    assert(!nodeMap.contains("dead_one"), order)
    assert(order == Seq("live_one"), order)
    val report = session.runNodes()
    assert(report.results.map(_.id) == Seq("live_one") &&
      report.errors.isEmpty, report.results.mkString("; "))
  }

  test("a seed path containing a single quote fails NAMED at discovery") {
    val dir = Files.createTempDirectory("graft-seedq")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    val seedsDir = dir.resolve("it's seeds")
    Files.createDirectories(seedsDir)
    Files.writeString(seedsDir.resolve("s.csv"), "a,b\n1,2\n")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |seeds_dir: $seedsDir""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    val e = intercept[GraftError] {
      new PipelineSession(spark, config).buildGraph()
    }
    assert(e.render.contains("single quote"))
  }

  test("severity: warn — a violating warn test prints but the node " +
      "SUCCEEDS and its fingerprint saves; an error test still fails; " +
      "`graft test` reports WARN without flipping the failure count; " +
      "promoting warn→error re-executes under --changed-only") {
    val db = Files.createTempDirectory("graft-sev-db")
    val dir = Files.createTempDirectory("graft-sev")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    // sv_dups VIOLATES unique(id) by construction
    Files.writeString(modelsDir.resolve("sv_dups.sql"),
      "SELECT 1 AS id UNION ALL SELECT 1 UNION ALL SELECT 2")
    Files.writeString(modelsDir.resolve("sv_leaf.sql"),
      "SELECT count(*) AS n FROM sv_dups")
    def writeCfg(severity: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  sv_dups:
           |    materialize: table
           |    tests:
           |      - not_null: id
           |      - unique: id
           |        severity: $severity""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // warn: the violation prints, the node succeeds, downstream runs,
    // and the fingerprint SAVES (the immediate re-run skips everything)
    val warnCfg = writeCfg("warn")
    val r1 = new PipelineSession(spark, warnCfg).runNodes()
    assert(r1.errors.isEmpty, r1.errors.map(_.render).mkString("\n"))
    assert(r1.results.map(_.id) == Seq("sv_dups", "sv_leaf"))
    val r2 = new PipelineSession(spark, warnCfg,
      changedOnly = true).runNodes()
    assert(r2.results.forall(_.status == "SKIP unchanged"), r2.results)
    // graft test: the warn failure REPORTS (err carried, warnOnly true)
    // but only error severity counts as failure
    val t1 = new PipelineSession(spark, warnCfg).runTestsOnly()
    val byDesc = t1.map(r => r._2 -> ((r._3.nonEmpty, r._4))).toMap
    assert(byDesc("not_null(id)") == ((false, false)), t1)
    assert(byDesc("warn:unique(id)") == ((true, true)), t1)
    assert(t1.count(r => r._3.nonEmpty && !r._4) == 0, t1)
    // promoting warn→error: the describe changes, so --changed-only
    // re-executes the model — and now the violation FAILS it
    val errCfg = writeCfg("error")
    val r3 = new PipelineSession(spark, errCfg,
      changedOnly = true).runNodes()
    assert(r3.errors.nonEmpty)
    assert(r3.errors.exists(_.render.contains("unique(id)")),
      r3.errors.map(_.render).mkString("\n"))
    // an unknown severity fails NAMED at config load
    val e = intercept[GraftError] { writeCfg("maybe") }
    assert(e.render.contains("severity"), e.render)
  }

  test("severity: warn downgrades VIOLATIONS only — a warn test that " +
      "cannot EXECUTE (typo'd column) fails the node AND flips the " +
      "`graft test` failure count (a broken test must not silently " +
      "test nothing forever)") {
    val db = Files.createTempDirectory("graft-sevx-db")
    val dir = Files.createTempDirectory("graft-sevx")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("sx_base.sql"), "SELECT 1 AS id")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  sx_base:
         |    materialize: table
         |    tests:
         |      - not_null: no_such_column
         |        severity: warn""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    // the run path: the broken warn test FAILS the node
    val r = new PipelineSession(spark, config).runNodes()
    assert(r.errors.nonEmpty, r.results.toString)
    // the test path: reported as a non-warn failure (exit-flipping)
    val t = new PipelineSession(spark, config).runTestsOnly()
    assert(t.size == 1 && t.head._3.nonEmpty && !t.head._4, t.toString)
  }

  test("store_failures: violating rows persist under db_path/" +
      "test_failures and register as a queryable view; the violation " +
      "message names the store; a fixed re-run overwrites to an empty " +
      "but schema-readable store; `graft test` writes it too; " +
      "store_failures without db_path fails NAMED") {
    val db = Files.createTempDirectory("graft-sf-db")
    val dir = Files.createTempDirectory("graft-sf")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("sf_dups.sql"),
      "SELECT 1 AS id UNION ALL SELECT 1 UNION ALL SELECT 2")
    def writeCfg(severity: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  sf_dups:
           |    materialize: table
           |    tests:
           |      - unique: id
           |        severity: $severity
           |        store_failures: true""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    val storeDir = db.resolve("test_failures").resolve("sf_dups")
      .resolve("unique_id")
    // warn + store: node succeeds, store holds the duplicated key with
    // its count, and the session can query the registered failures view
    val r1 = new PipelineSession(spark, writeCfg("warn")).runNodes()
    assert(r1.errors.isEmpty, r1.errors.map(_.render).mkString("\n"))
    val stored = spark.read.parquet(storeDir.toString)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(stored.toSeq == Seq((1, 2L)), stored.toSeq)
    assert(spark.table("sf_dups__failures__unique_id").count() == 1)
    // error + store: the node fails and the message names the store dir
    val r2 = new PipelineSession(spark, writeCfg("error")).runNodes()
    assert(r2.errors.nonEmpty)
    assert(r2.errors.exists(_.render.contains("failures stored: ")),
      r2.errors.map(_.render).mkString("\n"))
    // fix the model: the store overwrites to EMPTY but keeps its schema
    // (an engineer's dashboard over the store must not 404 after a fix)
    Files.writeString(modelsDir.resolve("sf_dups.sql"),
      "SELECT 1 AS id UNION ALL SELECT 2")
    val r3 = new PipelineSession(spark, writeCfg("error")).runNodes()
    assert(r3.errors.isEmpty, r3.errors.map(_.render).mkString("\n"))
    val fixed = spark.read.parquet(storeDir.toString)
    assert(fixed.count() == 0)
    assert(fixed.columns.toSeq == Seq("id", "n_records"))
    // `graft test` (standalone) also writes the store: re-break the
    // model file on disk is not needed — point the test at a violating
    // materialization by re-running the dup model first
    Files.writeString(modelsDir.resolve("sf_dups.sql"),
      "SELECT 1 AS id UNION ALL SELECT 1 UNION ALL SELECT 2")
    val warnCfg = writeCfg("warn")
    assert(new PipelineSession(spark, warnCfg).runNodes().errors.isEmpty)
    val t = new PipelineSession(spark, warnCfg).runTestsOnly()
    assert(t.size == 1 && t.head._3.nonEmpty && t.head._4, t.toString)
    assert(spark.read.parquet(storeDir.toString).count() == 1)
    // no db_path: the store has nowhere to live — loud, named
    val dir2 = Files.createTempDirectory("graft-sf2")
    val m2 = dir2.resolve("models"); Files.createDirectories(m2)
    Files.writeString(m2.resolve("sf2_m.sql"), "SELECT 1 AS id")
    Files.writeString(dir2.resolve("config.yaml"),
      s"""models_dir: $m2
         |models:
         |  sf2_m:
         |    tests:
         |      - not_null: id
         |        store_failures: true""".stripMargin)
    val cfg2 = PipelineConfig.load(dir2.resolve("config.yaml"))
    val r4 = new PipelineSession(spark, cfg2).runNodes()
    assert(r4.errors.exists(_.render.contains(
      "store_failures requires db_path")),
      r4.errors.map(_.render).mkString("\n"))
    // a non-boolean flag fails NAMED at config load
    Files.writeString(dir2.resolve("config.yaml"),
      s"""models_dir: $m2
         |models:
         |  sf2_m:
         |    tests:
         |      - not_null: id
         |        store_failures: maybe""".stripMargin)
    val e = intercept[GraftError] {
      PipelineConfig.load(dir2.resolve("config.yaml"))
    }
    assert(e.render.contains("store_failures must be true or false"),
      e.render)
  }

  test("store_failures: two same-kind tests on one column get DISTINCT " +
      "stores (the value-list hash disambiguates) — neither clobbers " +
      "the other's failure rows") {
    val db = Files.createTempDirectory("graft-sfd-db")
    val dir = Files.createTempDirectory("graft-sfd")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("sfd_m.sql"),
      "SELECT 1 AS id UNION ALL SELECT 2 UNION ALL SELECT 3")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  sfd_m:
         |    materialize: table
         |    tests:
         |      - accepted_values: { column: id, values: ["1", "2"] }
         |        severity: warn
         |        store_failures: true
         |      - accepted_values: { column: id, values: ["1"] }
         |        severity: warn
         |        store_failures: true""".stripMargin)
    val cfg = PipelineConfig.load(dir.resolve("config.yaml"))
    val r = new PipelineSession(spark, cfg).runNodes()
    assert(r.errors.isEmpty, r.errors.map(_.render).mkString("\n"))
    val stores = db.resolve("test_failures").resolve("sfd_m").toFile
      .listFiles().map(_.getName).sorted.toSeq
    assert(stores.size == 2 && stores.forall(_.startsWith(
      "accepted_values_id_")), stores)
    val counts = stores.map(s => spark.read.parquet(
      db.resolve("test_failures").resolve("sfd_m").resolve(s).toString)
      .count()).sorted
    assert(counts == Seq(1L, 2L), counts) // {3} and {2,3} violate
  }

  test("test where/warn_if/error_if: where scopes the tested relation; " +
      "error_if decides failure, warn_if reports without failing at any " +
      "severity; broken predicates and bad conditions fail NAMED") {
    val db = Files.createTempDirectory("graft-thr-db")
    val dir = Files.createTempDirectory("graft-thr")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    // rows: id 1..5, flag null for ids >= 4 (2 null flags)
    Files.writeString(modelsDir.resolve("th_m.sql"),
      "SELECT id, CASE WHEN id < 4 THEN id END AS flag " +
        "FROM range(1, 6) t(id)")
    def cfgWith(testsYaml: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |db_path: $db
           |models:
           |  th_m:
           |    materialize: table
           |    tests:
           |$testsYaml""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // where scopes away the nulls → passes; unscoped → fails
    val scoped = cfgWith("      - not_null: flag\n        where: id < 4")
    val r1 = new PipelineSession(spark, scoped).runNodes()
    assert(r1.errors.isEmpty, r1.errors.map(_.render).mkString("\n"))
    val unscoped = cfgWith("      - not_null: flag")
    assert(new PipelineSession(spark, unscoped).runNodes().errors.nonEmpty)
    // error_if "> 2": 2 nulls → default warn_if (!=0) fires as a
    // NON-FAILING warning; the node succeeds
    val thresh = cfgWith(
      "      - not_null: flag\n        error_if: '> 2'")
    val r2 = new PipelineSession(spark, thresh).runNodes()
    assert(r2.errors.isEmpty, r2.errors.map(_.render).mkString("\n"))
    // graft test reports it as WARN (err carried, warnOnly) without
    // flipping the failure count
    val t = new PipelineSession(spark, thresh).runTestsOnly()
    assert(t.size == 1 && t.head._3.exists(
      _.isInstanceOf[DataTestWarning]) && t.head._4, t.toString)
    // warn_if "> 5" too: 2 nulls → clean pass, nothing reported
    val quiet = cfgWith(
      "      - not_null: flag\n        error_if: '> 2'\n" +
        "        warn_if: '> 5'")
    val t2 = new PipelineSession(spark, quiet).runTestsOnly()
    assert(t2.size == 1 && t2.head._3.isEmpty, t2.toString)
    // error_if "> 1": 2 nulls → fails
    val strict = cfgWith(
      "      - not_null: flag\n        error_if: '> 1'")
    assert(new PipelineSession(spark, strict).runNodes().errors.nonEmpty)
    // a broken where predicate is a broken test: loud at any severity
    val broken = cfgWith(
      "      - not_null: flag\n        where: no_such_col < 4\n" +
        "        severity: warn")
    val r3 = new PipelineSession(spark, broken).runNodes()
    assert(r3.errors.exists(_.render.contains("`where` predicate failed")),
      r3.errors.map(_.render).mkString("\n"))
    // bad condition syntax and where-on-sql fail NAMED at config load
    val e1 = intercept[GraftError] {
      cfgWith("      - not_null: flag\n        error_if: 'about 10'")
    }
    assert(e1.render.contains("error_if must be like"), e1.render)
    Files.writeString(dir.resolve("custom.sql"),
      "SELECT * FROM th_m WHERE flag IS NULL")
    val e2 = intercept[GraftError] {
      cfgWith("      - sql: custom.sql\n        where: id < 4")
    }
    assert(e2.render.contains("does not apply to a custom"), e2.render)
  }

  test("severity: warn skips error_if and consults warn_if only (dbt " +
      "semantics, ADVICE r16) — a count below a configured warn_if " +
      "passes silently instead of tripping the default error_if") {
    val dir = Files.createTempDirectory("graft-warnthr")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    // 2 null flags
    Files.writeString(modelsDir.resolve("wt_m.sql"),
      "SELECT id, CASE WHEN id < 4 THEN id END AS flag " +
        "FROM range(1, 6) t(id)")
    def cfgWith(testsYaml: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |models:
           |  wt_m:
           |    tests:
           |$testsYaml""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // warn severity + warn_if '> 5': 2 nulls stay BELOW the threshold →
    // silent pass (pre-fix: the default error_if (!= 0) fired and was
    // downgraded to a spurious WARN)
    val quiet = cfgWith("      - not_null: flag\n" +
      "        warn_if: '> 5'\n        severity: warn")
    // run first: `graft test` verifies EXISTING materializations
    assert(new PipelineSession(spark, quiet).runNodes().errors.isEmpty)
    val tq = new PipelineSession(spark, quiet).runTestsOnly()
    assert(tq.size == 1 && tq.head._3.isEmpty, tq.toString)
    // warn severity ignores error_if entirely: error_if '> 100' would
    // pass, but the default warn_if (!= 0) holds → warn-only report
    val warned = cfgWith("      - not_null: flag\n" +
      "        error_if: '> 100'\n        severity: warn")
    assert(new PipelineSession(spark, warned).runNodes().errors.isEmpty)
    val tw = new PipelineSession(spark, warned).runTestsOnly()
    assert(tw.size == 1 && tw.head._3.nonEmpty && tw.head._4, tw.toString)
  }

  test("graft build: seeds, models and snapshots interleave in DAG " +
      "order; an error-severity test failure on a mid node forces SKIP " +
      "upstream failed on its downstream; EVERY declared test runs and " +
      "lands in the ledger; warn severity reports without gating") {
    val db = Files.createTempDirectory("graft-build-db")
    val dir = Files.createTempDirectory("graft-build")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    val seedsDir = dir.resolve("seeds"); Files.createDirectories(seedsDir)
    Files.writeString(seedsDir.resolve("bl_ids.csv"),
      "id,grp\n1,a\n2,b\n3,zz\n")
    Files.writeString(modelsDir.resolve("bl_clean.sql"),
      "SELECT id, grp FROM bl_ids")
    Files.writeString(modelsDir.resolve("bl_snap.sql"),
      "SELECT id, grp FROM bl_clean")
    def cfgWith(sev: String): PipelineConfig = {
      Files.writeString(dir.resolve("config.yaml"),
        s"""models_dir: $modelsDir
           |seeds_dir: $seedsDir
           |db_path: $db
           |models:
           |  bl_ids:
           |    tests:
           |      - not_null: id
           |  bl_clean:
           |    materialize: table
           |    tests:
           |      - accepted_values: { column: grp, values: ["a", "b"] }$sev
           |      - not_null: grp
           |  bl_snap:
           |    materialize: snapshot
           |    unique_key: id""".stripMargin)
      PipelineConfig.load(dir.resolve("config.yaml"))
    }
    // error severity: grp 'zz' violates → bl_clean fails, snapshot skips
    val s1 = new PipelineSession(spark, cfgWith(""), buildMode = true)
    val r1 = s1.runNodes()
    val st1 = r1.results.map(r => r.id -> r.status).toMap
    assert(st1("bl_ids").startsWith("SELECT"), st1)
    assert(st1("bl_clean") == "ERROR", st1)
    assert(st1("bl_snap") == "SKIP upstream failed", st1)
    assert(r1.errors.size == 1 &&
      r1.errors.head.render.contains("1 of 2 data tests failed"),
      r1.errors.map(_.render))
    // the ledger holds ALL THREE tests — the sibling not_null on
    // bl_clean ran and passed despite the accepted_values failure
    val led1 = s1.collectedTests.map(t => (t._1, t._3.isEmpty, t._4))
    assert(led1.toSet == Set(("bl_ids", true, false),
      ("bl_clean", false, false), ("bl_clean", true, false)), led1)

    // warn severity: same violation reports WARN, nothing gates — the
    // snapshot materializes downstream of the warned model
    val s2 = new PipelineSession(spark,
      cfgWith("\n        severity: warn"), buildMode = true)
    val r2 = s2.runNodes()
    assert(r2.errors.isEmpty, r2.errors.map(_.render))
    assert(r2.results.map(_.status).count(_ == "ERROR") == 0)
    assert(spark.table("bl_snap").count() == 3)
    val led2 = s2.collectedTests.map(t => (t._1, t._3.isEmpty, t._4))
    assert(led2.toSet == Set(("bl_ids", true, false),
      ("bl_clean", false, true), ("bl_clean", true, false)), led2)
  }

  test("graft build: --select/--exclude/--vars compose and --parallel " +
      "reports the same statuses and the same test ledger") {
    val db = Files.createTempDirectory("graft-build2-db")
    val dir = Files.createTempDirectory("graft-build2")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(modelsDir.resolve("bv_a.sql"),
      "SELECT {{ var('lo') }} AS v FROM range(1, 2)")
    Files.writeString(modelsDir.resolve("bv_b.sql"),
      "SELECT v FROM bv_a")
    Files.writeString(modelsDir.resolve("bv_other.sql"),
      "SELECT 1 AS x")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  bv_b:
         |    tests:
         |      - accepted_values: { column: v, values: ["7"] }""".stripMargin)
    val cfg = PipelineConfig.load(dir.resolve("config.yaml"))
    def build(parallel: Boolean) = {
      val s = new PipelineSession(spark, cfg, parallel = parallel,
        selectors = Seq("bv_a+"), excludes = Seq("bv_other"),
        cliVars = Map("lo" -> "7"), buildMode = true)
      val r = s.runNodes()
      (r.results.map(x => x.id -> x.status).toMap,
        s.collectedTests.map(t => (t._1, t._3.isEmpty, t._4)).toSet,
        r.errors.size)
    }
    val (stSeq, ledSeq, errSeq) = build(parallel = false)
    // selection ran exactly the bv_a closure; the var satisfied the test
    assert(stSeq.keySet == Set("bv_a", "bv_b"), stSeq)
    assert(ledSeq == Set(("bv_b", true, false)), ledSeq)
    assert(errSeq == 0)
    val (stPar, ledPar, errPar) = build(parallel = true)
    assert(stPar == stSeq && ledPar == ledSeq && errPar == errSeq,
      s"$stPar vs $stSeq")
  }

  test("custom-SQL failure-store slug is config-relative (ADVICE r16): " +
      "the store directory and view name don't embed the machine path") {
    val db = Files.createTempDirectory("graft-slug-db")
    val dir = Files.createTempDirectory("graft-slug")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    val testsDir = dir.resolve("tests"); Files.createDirectories(testsDir)
    Files.writeString(modelsDir.resolve("slug_m.sql"),
      "SELECT id FROM range(1, 4) t(id)")
    Files.writeString(testsDir.resolve("chk.sql"),
      "SELECT * FROM slug_m WHERE id > 2")
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  slug_m:
         |    materialize: table
         |    tests:
         |      - sql: tests/chk.sql
         |        severity: warn
         |        store_failures: true""".stripMargin)
    val cfg = PipelineConfig.load(dir.resolve("config.yaml"))
    val r = new PipelineSession(spark, cfg).runNodes()
    assert(r.errors.isEmpty, r.errors.map(_.render).mkString("\n"))
    val stores = db.resolve("test_failures").resolve("slug_m").toFile
      .listFiles().map(_.getName).toSeq
    assert(stores == Seq("sql_tests_chk"), stores)
    assert(spark.table("slug_m__failures__sql_tests_chk").count() == 1)
  }

  test("materialize: table honours partition_by: day= directories, a " +
      "partition column in the catalog, every row back after restore") {
    val db = Files.createTempDirectory("graft-tpart-db")
    val (_, config) = fixture(
      models = Map("tp_daily" ->
        "SELECT * FROM VALUES (1, 'd1'), (2, 'd1'), (3, 'd2') AS t(k, day)"),
      configExtra =
        s"""db_path: $db
           |models:
           |  tp_daily:
           |    materialize: table
           |    partition_by: day""".stripMargin)
    val report = new PipelineSession(spark, config).runNodes()
    assert(report.errors.isEmpty, report.errors.map(_.render))
    val loc = ViewStore.warehouseLocation(spark, "tp_daily")
    val dirs = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(loc)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("day=")).toSet
      finally s.close()
    }
    assert(dirs == Set("day=d1", "day=d2"), dirs)
    assert(spark.catalog.listColumns("tp_daily").collect()
      .filter(_.isPartition).map(_.name).toSeq == Seq("day"))
    // a new process: the data stays on disk, the catalog entry is gone
    val aside = loc.resolveSibling("tp_daily.aside")
    Files.move(loc, aside)
    spark.sql("DROP TABLE IF EXISTS tp_daily")
    Files.move(aside, loc)
    val s2 = spark.newSession()
    assert(ViewStore.restore(s2, db.toString) == 1)
    val rows = s2.table("tp_daily").collect()
      .map(r => (r.getInt(r.fieldIndex("k")), r.getString(r.fieldIndex("day"))))
      .sorted.toSeq
    assert(rows == Seq((1, "d1"), (2, "d1"), (3, "d2")), rows)
  }

  test("one test classification: `test`, `build` and `run` agree on " +
      "hard / warn-only / pass for every test") {
    val db = Files.createTempDirectory("graft-cls-db")
    // flag: 2 nulls; grp: 'a' x4 + 'z' x1
    val model = Map("cls_m" -> ("SELECT id, CASE WHEN id < 4 THEN id END " +
      "AS flag, CASE WHEN id = 5 THEN 'z' ELSE 'a' END AS grp " +
      "FROM range(1, 6) t(id)"))
    val tests = Seq(
      "- not_null: flag" -> "hard", // error-severity violation
      "- accepted_values: { column: grp, values: [\"a\"] }\n  severity: warn"
        -> "warn", // warn-severity violation
      "- unique: grp\n  error_if: '> 5'" -> "warn", // warn_if-level count
      "- not_null: no_such_col\n  severity: warn" -> "hard") // cannot execute
    def cfgWith(ts: Seq[String]): PipelineConfig = fixture(model,
      configExtra = s"""db_path: $db
        |models:
        |  cls_m:
        |    materialize: table
        |    tests:
        |""".stripMargin + ts.flatMap(_.split("\n"))
          .map("      " + _).mkString("\n"))._2
    def cls(r: (String, String, Option[GraftError], Boolean)): String =
      if (r._3.isEmpty) "pass" else if (r._4) "warn" else "hard"
    val all = cfgWith(tests.map(_._1))
    val sb = new PipelineSession(spark, all, buildMode = true)
    val rb = sb.runNodes()
    val built = sb.collectedTests.map(r => (r._2, cls(r)))
    assert(built.map(_._2) == tests.map(_._2), built)
    assert(rb.results.head.status == "ERROR" &&
      rb.errors.head.render.contains("2 of 4 data tests failed"),
      rb.errors.map(_.render))
    val tested = new PipelineSession(spark, all).runTestsOnly()
      .map(r => (r._2, cls(r)))
    assert(tested == built)
    // run: the node fails exactly when a hard row exists, with the first
    // hard test's own error
    val rr = new PipelineSession(spark, all).runNodes()
    assert(rr.results.head.status == "ERROR" &&
      rr.errors.head.isInstanceOf[DataTestViolation] &&
      rr.errors.head.getMessage.contains(built.head._1), rr.errors)
    tests.foreach { case (t, want) =>
      val r = new PipelineSession(spark, cfgWith(Seq(t))).runNodes()
      assert(r.errors.nonEmpty == (want == "hard"), s"$t: ${r.results}")
    }
  }

  test("insert_overwrite and microbatch both refuse a changed column " +
      "set NAMED, leaving the table as it was") {
    val db = Files.createTempDirectory("graft-drift-db")
    val dir = Files.createTempDirectory("graft-drift")
    val modelsDir = dir.resolve("models"); Files.createDirectories(modelsDir)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $modelsDir
         |db_path: $db
         |models:
         |  drift_iow:
         |    materialize: incremental
         |    incremental_strategy: insert_overwrite
         |    partition_by: day
         |  drift_mb:
         |    materialize: incremental
         |    incremental_strategy: microbatch
         |    event_time: ts
         |    partition_by: d""".stripMargin)
    def writeModels(extra: String): Unit = {
      Files.writeString(modelsDir.resolve("drift_iow.sql"),
        s"SELECT 'd1' AS day, 1 AS n$extra")
      Files.writeString(modelsDir.resolve("drift_mb.sql"),
        "SELECT 1 AS id, TIMESTAMP '2026-01-01 08:00:00' AS ts, " +
          s"DATE '2026-01-01' AS d$extra"); ()
    }
    def run() = new PipelineSession(spark,
      PipelineConfig.load(dir.resolve("config.yaml"))).runNodes()
    writeModels("")
    val boot = run() // bootstrap: both tables built from scratch
    assert(boot.errors.isEmpty, boot.errors.map(_.render))
    writeModels(", 2 AS extra")
    val drifted = run().errors.map(_.render)
    Seq(
      "incremental `drift_iow` (insert_overwrite): the fresh SELECT's " +
        "schema (day, n, extra) differs from the table's (n, day) — " +
        "insert_overwrite cannot evolve a schema; rebuild with " +
        "--full-refresh",
      "incremental `drift_mb` (microbatch): the fresh SELECT's schema " +
        "(id, ts, d, extra) differs from the table's (id, ts, d) — " +
        "microbatch cannot evolve a schema; rebuild with --full-refresh"
    ).foreach(msg => assert(drifted.exists(_.contains(msg)), drifted))
    assert(spark.table("drift_iow").columns.toSeq == Seq("n", "day"))
    assert(spark.table("drift_mb").columns.toSeq == Seq("id", "ts", "d"))
  }
}
