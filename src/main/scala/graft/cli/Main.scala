package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.pipeline._
import graft.viz.GraphViz

/** CLI entry point mirroring the reference's three commands
  * (/root/reference/src/main.rs:24-84):
  *
  *   run       [--config C] [--models-dir D] [--db-path P] [--parallel]
  *             [--changed-only] [--dry-run] [--full-refresh] [--select m1[+],+m2,path:dir,state:modified,…]
  *             [--exclude m3[+],path:glob,…]
  *   run-file  <script.sql> [more.sql …]
  *   viz       <out.svg>
  *
  * Config comes from ./config.yaml; CLI flags override it
  * (src/main.rs:110-132). A missing db_path runs "in-memory": temp views
  * only, warehouse in a temp dir — the analog of DuckDB's in-memory mode.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case (cmd @ ("run" | "build")) :: rest =>
      val flags = parseArgs(rest)._1
      if (flags.contains("dry-run")) dryRun(flags)
      else runPipeline(flags, buildMode = cmd == "build")
    case "test" :: rest =>
      testPipeline(parseArgs(rest)._1)
    case "retry" :: rest =>
      retryPipeline(parseArgs(rest)._1)
    case "clone" :: rest =>
      clonePipeline(parseArgs(rest)._1)
    case "run-file" :: rest =>
      val (flags, paths) = parseArgs(rest)
      runFiles(flags, paths)
    case "viz" :: rest if parseArgs(rest)._2.nonEmpty =>
      val (flags, pos) = parseArgs(rest)
      viz(pos.head, flags)
    case "docs" :: rest =>
      val (flags, pos) = parseArgs(rest)
      docs(pos.headOption.getOrElse("docs"), flags)
    case other =>
      System.err.println(
        s"""Unknown command: ${other.mkString(" ")}
           |Usage: graft run [--config C] [--models-dir D] [--db-path P] [--parallel] [--changed-only] [--dry-run] [--select m1[+],+m2,path:dir,state:modified,...] [--exclude m3[+],path:glob,...] [--vars k=v,k2=v2] [--fail-fast] [--defer --state DIR] [--event-time-start T --event-time-end T]
           |       graft build [same flags as run] — seeds, models, snapshots and ALL their tests in one DAG-ordered pass; a failing test skips downstream models
           |       graft test [--config C] [--db-path P] [--select ...] [--exclude ...] [--vars k=v]
           |       graft retry [--config C] [--db-path P] — re-run exactly the failed/skipped nodes of the last recorded run, under its flags
           |       graft clone --state DIR [--select id1,id2] [--full-refresh] — copy the state's relations into the local db_path (existing ids skipped unless --full-refresh)
           |       graft run-file [--config C] <script.sql> […]
           |       graft viz [--config C] [--db-path P] [--changed-only] [--select ...] [--exclude ...] <out.svg>
           |       graft docs [--config C] [--db-path P] [--select ...] [--exclude ...] [<outDir>=docs]""".stripMargin)
      sys.exit(2)
  }

  /** ONE flag grammar for every subcommand (three near-identical ad-hoc
    * parsers previously disagreed on the accepted flag set): value flags
    * --config/--models-dir/--db-path, boolean --parallel, returns
    * (flags, positionals). An unknown `--flag` is an ERROR — treating it
    * as a positional turned a typo into "Cannot open --flg, skipping".
    */
  private def parseArgs(rest: List[String]): (Map[String, String], List[String]) = {
    def go(l: List[String], flags: Map[String, String],
           pos: List[String]): (Map[String, String], List[String]) = l match {
      case k :: v :: t
          if Set("--config", "--models-dir", "--db-path", "--select",
            "--exclude", "--vars", "--state", "--event-time-start",
            "--event-time-end")(k) =>
        go(t, flags + (k.drop(2) -> v), pos)
      case "--parallel" :: t => go(t, flags + ("parallel" -> "true"), pos)
      case "--defer" :: t => go(t, flags + ("defer" -> "true"), pos)
      case "--changed-only" :: t =>
        go(t, flags + ("changed-only" -> "true"), pos)
      case "--dry-run" :: t => go(t, flags + ("dry-run" -> "true"), pos)
      case "--full-refresh" :: t =>
        go(t, flags + ("full-refresh" -> "true"), pos)
      case "--fail-fast" :: t =>
        go(t, flags + ("fail-fast" -> "true"), pos)
      case a :: _ if a.startsWith("--") =>
        System.err.println(s"Unknown flag: $a"); sys.exit(2)
      case a :: t => go(t, flags, pos :+ a)
      case Nil    => (flags, pos)
    }
    go(rest, Map.empty, Nil)
  }

  private def loadConfig(flags: Map[String, String]): PipelineConfig = {
    // --config points at a config.yaml anywhere; PipelineConfig.load
    // resolves relative models_dir / macro_path against the config file's
    // directory (so `run --config examples/basic/config.yaml` works from
    // the repo root). Default stays ./config.yaml, reference behavior.
    val base = PipelineConfig.load(Paths.get(flags.getOrElse("config", "config.yaml")))
    base.copy(
      modelsDir = flags.getOrElse("models-dir", base.modelsDir),
      dbPath = flags.get("db-path").orElse(base.dbPath))
  }

  def buildSpark(config: PipelineConfig): SparkSession =
    graft.LocalSpark.session("spark.sql.warehouse.dir" -> config.dbPath
      .getOrElse(Files.createTempDirectory("graft-warehouse").toString))

  /** Every subcommand runs inside this: a [[GraftError]] — a malformed
    * config.yaml included, since config loading runs inside it too —
    * prints its rendered message and exits 1 instead of a stack trace.
    */
  private def exitOnGraftError(body: => Unit): Unit =
    try body
    catch { case e: GraftError => System.err.println(e.render); sys.exit(1) }

  /** The one Spark lifecycle of the executing subcommands: build the
    * session, restore db_path's views/tables into it before anything
    * executes (reference .duckdb parity), run `body`, then — the
    * cachedManifest lifecycle contract: the CLI owns this session — drop
    * any operator manifest caches and stop Spark.
    */
  private def withSession(config: PipelineConfig)
                         (body: SparkSession => Unit): Unit = {
    val spark = buildSpark(config)
    spark.sparkContext.setLogLevel("WARN")
    try {
      config.dbPath.foreach(ViewStore.restore(spark, _))
      body(spark)
    } finally {
      graft.ext.DedupOps.releaseManifests()
      spark.stop()
    }
  }

  /** `run`, and dbt `build` (`buildMode`) — the daily driver: seeds,
    * models, snapshots and ALL their data tests interleaved in one
    * DAG-ordered invocation (they are all graph nodes here, so the
    * engine's DAG scheduler already orders them); a node whose
    * error-severity test fails forces `SKIP upstream failed` on its
    * downstream, warn severity reports without gating, and every
    * declared test runs and prints its own PASS/WARN/FAIL row (run's
    * fail-on-first would shadow sibling tests). Exit 1 on any node
    * error (an error-severity test failure IS one), 0 when only
    * warn-level results occurred. Every other flag composes the same
    * way for both.
    */
  private def runPipeline(flags: Map[String, String],
                          buildMode: Boolean): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    withSession(config) { spark =>
      val session = new PipelineSession(spark, config,
        parallel = flags.contains("parallel"),
        changedOnly = flags.contains("changed-only"),
        selectors = selectorsOf(flags),
        excludes = excludesOf(flags),
        fullRefresh = flags.contains("full-refresh"),
        cliVars = varsOf(flags),
        failFast = flags.contains("fail-fast"),
        buildMode = buildMode,
        deferEnabled = deferOf(flags),
        stateDir = flags.get("state"),
        eventTimeStart = flags.get("event-time-start"),
        eventTimeEnd = flags.get("event-time-end"))
      val report = session.runNodes()
      if (buildMode) printDataTests(session.collectedTests)
      if (report.errors.nonEmpty) sys.exit(1)
    }
  }

  /** The per-test report of `build`, `test` and build-mode retry;
    * returns the number of error-severity failures.
    */
  private def printDataTests(
      tests: Seq[(String, String, Option[GraftError], Boolean)]): Int = {
    val nFail = tests.count(r => r._3.nonEmpty && !r._4)
    if (tests.nonEmpty) {
      println("\nData tests:")
      tests.foreach { case (id, desc, err, warnOnly) =>
        val status =
          if (err.isEmpty) "PASS" else if (warnOnly) "WARN" else "FAIL"
        println(s"$status  $id: $desc")
        err.foreach(e => println(e.render.linesIterator
          .map("      " + _).mkString("\n")))
      }
      val nWarn = tests.count(r => r._3.nonEmpty && r._4)
      println(s"${tests.size - nFail - nWarn} passed, " +
        s"$nWarn warned, $nFail failed")
    }
    nFail
  }

  /** dbt 1.6 `clone`: copy the --state dir's relations into the local
    * db_path as INDEPENDENT artifacts (tables copy their parquet under
    * the local warehouse; views persist their SELECTs) — the
    * materializing sibling of `--defer` for a dev environment that
    * should own its copies. `--select` takes exact ids (comma
    * separated, default = everything in the state); ids already
    * registered locally are skipped unless `--full-refresh` (dbt's
    * rule). Exits 1 when a wanted id is absent from the state or fails
    * to clone.
    */
  private def clonePipeline(flags: Map[String, String]): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    val state = flags.get("state").getOrElse {
      System.err.println("graft clone requires --state <dir> (the " +
        "prior run's db_path to clone from)")
      sys.exit(2)
    }
    if (config.dbPath.isEmpty) {
      System.err.println("graft clone needs a persistent db_path (the " +
        "clones are materialized there)")
      sys.exit(2)
    }
    // withSession restores the local registrations first: the
    // skip-existing rule judges against what the target ALREADY has
    withSession(config) { spark =>
      val ids = flags.get("select").map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val (cloned, skipped, missing) = ViewStore.cloneFromState(
        spark, state, config.dbPath, ids,
        fullRefresh = flags.contains("full-refresh"))
      if (cloned.nonEmpty) println(s"Cloned ${cloned.size} relation(s) " +
        s"from --state $state: ${cloned.sorted.mkString(", ")}")
      if (skipped.nonEmpty) println(s"Skipped ${skipped.size} already-" +
        s"existing relation(s) (use --full-refresh to replace): " +
        skipped.sorted.mkString(", "))
      if (missing.nonEmpty) {
        System.err.println(s"graft clone: ${missing.size} id(s) not " +
          s"cloneable from --state $state: " +
          missing.toSeq.sorted.mkString(", "))
        sys.exit(1)
      }
    }
  }

  /** dbt `retry`: re-run exactly the failed/skipped nodes of the last
    * recorded run against this db_path, under that run's flags (vars,
    * --full-refresh, build mode, --defer --state, microbatch window).
    * Exit 0 with a message when there is nothing to retry; exit 1 when
    * no run was ever recorded (nothing to retry FROM) or the retry
    * itself fails.
    */
  private def retryPipeline(flags: Map[String, String]): Unit = exitOnGraftError {
    // retry REPLAYS the recorded invocation — accepting fresh
    // selection/vars/mode flags here would silently contradict that
    // contract, so anything beyond the config/db-path pointers is a
    // loud usage error (dbt retry takes no selection either)
    val extraneous =
      (flags.keySet -- Set("config", "db-path", "models-dir")).toSeq.sorted
    if (extraneous.nonEmpty) {
      System.err.println("graft retry re-applies the LAST run's " +
        "recorded flags; it takes only --config/--models-dir/--db-path " +
        s"(got: ${extraneous.map("--" + _).mkString(", ")})")
      sys.exit(2)
    }
    val config = loadConfig(flags)
    Retry.plan(config) match {
      case None =>
        System.err.println("graft retry: no previous run recorded " +
          s"against db_path ${config.dbPath.getOrElse("(none)")}")
        sys.exit(1)
      case Some(p) if p.ids.isEmpty =>
        println("Nothing to retry — the last recorded run had no " +
          "failed or skipped nodes")
      case Some(p) =>
        println(s"Retrying ${p.ids.size} node(s) from the last run: " +
          p.ids.mkString(", "))
        withSession(config) { spark =>
          val session = Retry.session(spark, config, p)
          val report = session.runNodes()
          printDataTests(session.collectedTests)
          if (report.errors.nonEmpty) sys.exit(1)
        }
    }
  }

  /** dbt `test`: data tests against the EXISTING materializations
    * (restored from db_path) without executing any model — verify
    * yesterday's build before reading it. Exit 1 on any failure.
    */
  private def testPipeline(flags: Map[String, String]): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    withSession(config) { spark =>
      val session = new PipelineSession(spark, config,
        selectors = selectorsOf(flags),
        excludes = excludesOf(flags),
        cliVars = varsOf(flags))
      val nFail = printDataTests(session.runTestsOnly())
      // warn-level violations report but only ERROR severity flips the
      // exit code (dbt's warn semantics)
      if (nFail > 0) sys.exit(1)
    }
  }

  /** Per-file batch execution: no rendering, no DAG, no materialization; a
    * failing file is reported and skipped (src/main.rs:158-178). Like the
    * reference — whose run-file executes on the connection opened from the
    * config's db_path (src/main.rs:126-130,165) — scripts run against the
    * configured database and therefore see previously persisted
    * views/tables.
    */
  private def runFiles(flags: Map[String, String],
                       paths: List[String]): Unit = exitOnGraftError {
    if (paths.isEmpty) { System.err.println("run-file: no scripts given"); sys.exit(2) }
    val config = loadConfig(flags)
    withSession(config) { spark =>
      runFilesOn(spark, paths).foreach { case (_, status) => println(status) }
    }
  }

  /** Testable core of run-file: returns (path, status line) per script;
    * statuses mirror the reference ("Cannot open …, skipping" /
    * "OK: …" / "ERROR: … Skipping …").
    */
  def runFilesOn(spark: SparkSession, paths: List[String]): List[(String, String)] =
    paths.map { p =>
      val path = Paths.get(p)
      if (!Files.exists(path)) p -> s"Cannot open $p, skipping"
      else {
        try {
          // comments strip BEFORE the split: an apostrophe inside a `--`
          // comment would otherwise open a phantom string literal and
          // derail the statement boundaries
          SqlText.splitStatements(SqlText.stripComments(Files.readString(path)))
            .map(DialectShim.rewrite(_, spark))
            .foreach(SqlExec.run(spark, _))
          p -> s"OK: $p"
        } catch {
          case e: Exception => p -> s"ERROR: ${e.getMessage} Skipping $p"
        }
      }
    }

  /** `--defer` requires `--state` (there is nothing to defer TO without
    * a prior state's artifacts) — dbt's own contract, failed loudly at
    * parse time rather than as a missing-ref error mid-run. `--state`
    * WITHOUT `--defer` is legal: it only re-bases `state:modified`
    * comparisons (the dbt slim-CI split).
    */
  private def deferOf(flags: Map[String, String]): Boolean = {
    val d = flags.contains("defer")
    if (d && !flags.contains("state")) {
      System.err.println("--defer requires --state <dir> (the prior " +
        "run's db_path whose artifacts unselected refs resolve to)")
      sys.exit(2)
    }
    d
  }

  private def selectorsOf(flags: Map[String, String]): Seq[String] =
    listFlag(flags, "select")

  private def excludesOf(flags: Map[String, String]): Seq[String] =
    listFlag(flags, "exclude")

  private def listFlag(flags: Map[String, String], key: String): Seq[String] =
    flags.get(key).toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))

  /** `--vars k=v,k2=v2` — the CLI overlay over the config's `vars:`
    * mapping (dbt precedence: the command line wins). A malformed FIRST
    * entry is a loud error; a later fragment without '=' is BY
    * DEFINITION part of the previous var's value — the price of
    * supporting comma-containing values without quoting (`--vars
    * list=a,b,k2=v` → list=a,b — ADVICE r15). Because that rule can
    * also swallow a typo (`--vars min_qty=1,fail_fast` meant
    * `fail_fast=true`), every fold prints a visible stderr note naming
    * what went where.
    */
  private[cli] def varsOf(flags: Map[String, String]): Map[String, String] = {
    val raw0 = flags.get("vars").toSeq
      .flatMap(_.split(",", -1).toSeq) // keep empties: "a,,b" stays visible
    // a trailing comma is a typo, not an empty value fragment
    val raw = if (raw0.nonEmpty && raw0.last.isEmpty) raw0.dropRight(1)
              else raw0
    // re-join value fragments: a piece with no '=' continues the
    // previous k=v entry's value — announced, so a typo'd flag-like
    // fragment is visible rather than silently folded
    val entries = raw.foldLeft(List.empty[String]) { (acc, piece) =>
      if (piece.contains("=") || acc.isEmpty) piece :: acc
      else {
        System.err.println(s"--vars: '$piece' has no '=' — treating it " +
          s"as part of the previous value ('${acc.head},$piece')")
        (acc.head + "," + piece) :: acc.tail
      }
    }.reverse.map(_.trim).filter(_.nonEmpty)
    entries.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ =>
          System.err.println(s"--vars: expected name=value, got '$kv'")
          sys.exit(2)
      }
    }.toMap
  }

  /** `run --dry-run`: print the would-run / would-skip split in execution
    * order WITHOUT starting Spark or executing any SQL — the
    * look-before-you-run twin of `viz --changed-only` on the terminal
    * surface. With `--changed-only` the split comes from the stored
    * closure fingerprints ([[PipelineSession.previewSkips]], manifest-based
    * table existence); without it every model reports `would RUN`. Exits 0
    * always (nothing executed, nothing can fail but graph building).
    */
  private[cli] def dryRun(flags: Map[String, String]): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    val session = new PipelineSession(
      throw new IllegalStateException("dry-run does not execute SQL"),
      config, selectors = selectorsOf(flags),
      excludes = excludesOf(flags), cliVars = varsOf(flags))
    val (order, nodeMap) = session.buildGraph()
    val runOrder = session.selectionSet(order, nodeMap)
      .fold(order)(s => order.filter(s))
    val skips =
      if (flags.contains("changed-only")) session.previewSkips(order, nodeMap)
      else Set.empty[String]
    runOrder.zipWithIndex.foreach { case (id, i) =>
      val info = s"${i + 1} of ${runOrder.size}: $id ${nodeMap(id).mat} model"
      val tail = if (skips(id)) "[would SKIP unchanged]" else "[would RUN]"
      println(info + "." * math.max(0, 80 - info.length) + tail)
    }
    val nSkip = runOrder.count(skips)
    println(s"\nDry run: ${runOrder.size - nSkip} would run, " +
      s"$nSkip would skip; no SQL executed")
  }

  /** dbt `docs generate`: catalog.json + catalog.md into `outDir` from
    * the built graph and the warehouse as restored from db_path. Column
    * listings need a prior `run` (dbt's catalog has the same contract);
    * un-materialized models document as such instead of failing the
    * generation. Respects --select/--exclude so a team can publish a
    * subproject's catalog.
    */
  private def docs(outDir: String, flags: Map[String, String]): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    withSession(config) { spark =>
      val session = new PipelineSession(spark, config,
        selectors = selectorsOf(flags), excludes = excludesOf(flags),
        cliVars = varsOf(flags))
      val (order, nodeMap) = session.buildGraph()
      val (dOrder, dMap) = session.restrictToSelection(order, nodeMap)
      Files.createDirectories(Paths.get(outDir))
      // only exposures fully inside the selection document (the viz rule)
      val dEx = config.exposures
        .filter(_.dependsOn.forall(dOrder.contains))
      // one warehouse schema lookup per model, shared by both renderers
      val cols = DocsGen.columnsMap(spark, dOrder)
      Files.writeString(Paths.get(outDir, "catalog.json"),
        DocsGen.catalogJson(dOrder, dMap, cols, dEx))
      Files.writeString(Paths.get(outDir, "catalog.md"),
        DocsGen.catalogMarkdown(dOrder, dMap, cols, dEx))
      println(s"Catalog saved to $outDir/catalog.json and " +
        s"$outDir/catalog.md (${dOrder.size} models)")
    }
  }

  /** Build the graph (no SQL execution) and write DOT-derived SVG; `.svg`
    * suffix auto-appended (src/main.rs:63-84).
    */
  private def viz(out: String, flags: Map[String, String]): Unit = exitOnGraftError {
    val config = loadConfig(flags)
    // graph building is a pure driver-side text transform — the session
    // parameter is by-name/lazy and never touched, so viz skips the
    // multi-second Spark startup entirely
    val session = new PipelineSession(
      throw new IllegalStateException("viz does not execute SQL"), config,
      selectors = selectorsOf(flags), excludes = excludesOf(flags),
      cliVars = varsOf(flags))
    val (order, nodeMap) = session.buildGraph()
    // --changed-only preview: paint would-skip nodes green, would-run
    // red, against the stored fingerprints — still entirely Spark-free
    val preview =
      if (flags.contains("changed-only"))
        Some(session.previewSkips(order, nodeMap))
      else None
    // --select: render only the selected subgraph (edges to unselected
    // nodes dropped — no dangling DOT nodes), mirroring what `run
    // --select` would execute
    val (vOrder, vMap) = session.restrictToSelection(order, nodeMap)
    val target = if (out.endsWith(".svg")) out else out + ".svg"
    Files.writeString(Paths.get(target),
      GraphViz.renderSvg(vOrder, vMap, preview, config.exposures))
    Files.writeString(Paths.get(target.stripSuffix(".svg") + ".dot"),
      GraphViz.renderDot(vOrder, vMap, preview, config.exposures))
    preview.foreach(p => println(
      s"Preview: ${vOrder.count(p)} of ${vOrder.size} models would " +
        "skip unchanged"))
    println(s"Visualization saved to $target")
  }
}
