package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One pipeline run: discovery → render → dependency graph → topological
  * execution against Spark (the reference's `Session`,
  * /root/reference/src/session.rs:43-316, with DuckDB swapped for Spark SQL).
  *
  * Materialization mapping (src/node.rs:151-173):
  *   view  → CREATE OR REPLACE TEMPORARY VIEW (lazy; Catalyst inlines views
  *           into consumers and optimizes ACROSS model boundaries — pushdown
  *           through views is a genuine win over the reference)
  *   table → DROP + saveAsTable (pipeline-breaking materialization; written
  *           to the warehouse dir ≙ db_path)
  *
  * Execution is sequential in the reference and by default here (one
  * slot of [[Dag.execute]]); `parallel=true` starts each model once its
  * last upstream finishes, so independent branches run concurrently on
  * the thread-safe Spark scheduler.
  */
final class PipelineSession(
    spark0: => SparkSession,
    val config: PipelineConfig,
    parallel: Boolean = false,
    changedOnly: Boolean = false,
    selectors: Seq[String] = Nil,
    excludes: Seq[String] = Nil,
    fullRefresh: Boolean = false,
    cliVars: Map[String, String] = Map.empty,
    failFast: Boolean = false,
    buildMode: Boolean = false,
    deferEnabled: Boolean = false,
    stateDir: Option[String] = None,
    eventTimeStart: Option[String] = None,
    eventTimeEnd: Option[String] = None) {

  require(!deferEnabled || stateDir.nonEmpty,
    "--defer requires --state <dir>")

  /** dbt vars, CLI overlay winning over the config's `vars:` mapping.
    * Substituted into model SQL (and hooks/custom tests) BEFORE macro
    * rendering, so a changed var value changes the rendered text and —
    * through it — the closure fingerprint: `--changed-only` re-executes
    * exactly the models whose vars moved.
    */
  private val effectiveVars: Map[String, String] = config.vars ++ cliVars

  // by-name + lazy: graph building and viz never touch Spark, so `viz`
  // can construct a session-free PipelineSession and skip Spark startup
  @volatile private var sparkStarted = false
  lazy val spark: SparkSession = { val s = spark0; sparkStarted = true; s }

  final case class NodeResult(id: String, status: String, millis: Long,
      error: Option[GraftError])
  final case class RunReport(results: Seq[NodeResult], totalMillis: Long) {
    def nSuccess: Int = results.count(_.error.isEmpty)
    def errors: Seq[GraftError] = results.flatMap(_.error)
  }

  /** `graft build`'s per-test ledger (model id, test description,
    * error, warn-only), appended as nodes execute — the dbt-build
    * contract that EVERY declared test of a node runs and reports, not
    * just the first violation. Only populated under `buildMode`;
    * synchronized because --parallel appends from pool threads.
    */
  type TestRow = (String, String, Option[GraftError], Boolean)
  private val testLedger = mutable.ArrayBuffer.empty[TestRow]
  def collectedTests: Seq[TestRow] =
    testLedger.synchronized(testLedger.toList)

  // --- graph build (src/session.rs:56-181) --------------------------------

  def discoverModelPaths(): Seq[Path] = {
    val root = Paths.get(config.modelsDir)
    if (!Files.exists(root)) return Seq.empty
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".sql"))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Seed CSVs (dbt seeds): each file under seeds_dir becomes a TABLE
    * node whose "SQL" is a synthetic `read_csv_auto` SELECT — which is
    * exactly what makes every existing mechanism apply for free: models
    * referencing the seed's stem get DAG edges from the ordinary
    * dependency extraction, `--changed-only` re-loads an edited CSV via
    * the source-data fingerprint (the stat covers `read_*` targets),
    * and seeds are selectable/excludable/viz-able like any node.
    */
  def discoverSeedPaths(): Seq[Path] = config.seedsDir match {
    case None => Seq.empty
    case Some(dir) =>
      val root = Paths.get(dir)
      if (!Files.exists(root)) Seq.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.toString.toLowerCase.endsWith(".csv"))
          .toSeq.sortBy(_.toString)
        finally s.close()
      }
  }

  def loadMacros(): Map[String, String] = config.macroPath match {
    case None => Map.empty
    case Some(dir) =>
      val root = Paths.get(dir)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.list(root)
        try s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.contains("."))
          .map(p => p.toString -> Files.readString(p)).toMap
        finally s.close()
      }
  }

  /** Discover, render, wire edges; returns execution order + node map. */
  def buildGraph(): (Seq[String], Map[String, ModelNode]) = {
    val paths = discoverModelPaths()
    val seedPaths = discoverSeedPaths()
    val macros = loadMacros()
    // parse the shared macro files ONCE; render() re-scanned the full
    // macro source per model (O(models × macro-bytes) of regex work)
    val fileMacros = MacroRenderer.parseMacros(macros.values.mkString("\n"))

    // duplicate filename stems would silently collapse to one node via
    // .toMap (last path wins — the reference shares this flaw with its
    // HashMap insert, session.rs:120); one model's SQL would never run
    // while the pipeline still reports success. Fail named instead.
    locally {
      // seeds share the model namespace: a seed colliding with a model
      // (or two seeds colliding) is the same silent-collapse hazard
      val dup = (paths ++ seedPaths).groupBy { p =>
        val fn = p.getFileName.toString
        fn.substring(0, fn.lastIndexOf('.'))
      }.filter(_._2.size > 1)
      if (dup.nonEmpty) {
        val msg = dup.toSeq.sortBy(_._1).map { case (id, ps) =>
          s"`$id` (${ps.mkString(", ")})" }.mkString("; ")
        throw GenericError(
          s"Duplicate model id from multiple files — model ids are filename stems and must be unique: $msg")
      }
    }

    var nodeMap = paths.map { p =>
      val id = {
        val fn = p.getFileName.toString
        fn.substring(0, fn.lastIndexOf('.'))
      }
      println(s"Found model source: $p")
      val raw = Files.readString(p)
      id -> ModelNode(id, p.toString, raw,
        cfg = config.models.getOrElse(id, ModelConfig()))
    }.toMap ++ seedPaths.map { p =>
      val fn = p.getFileName.toString
      val id = fn.substring(0, fn.lastIndexOf('.'))
      println(s"Found seed source: $p")
      // the path lands inside a single-quoted SQL literal below; a quote
      // in it would break that SQL at EXECUTION with a confusing parse
      // error attributed to the synthetic statement — fail named at
      // discovery instead (escaping would have to round-trip the dialect
      // shim's literal parsing too, for a path nobody should have)
      if (p.toString.contains("'"))
        throw GenericError(s"Seed file path contains a single quote, " +
          s"which cannot be embedded in the synthetic read_csv_auto " +
          s"statement: $p — rename the seeds directory/file")
      // seeds are tables (dbt semantics); their "SQL" is the synthetic
      // read — header detected like DuckDB's sniffer, types inferred
      val mc = config.models.getOrElse(id, ModelConfig())
      id -> ModelNode(id, p.toString,
        s"SELECT * FROM read_csv_auto('$p', header=true)",
        cfg = ModelConfig(materialize = Some("table"), tests = mc.tests,
          tags = mc.tags))
    }.toMap

    // dbt `enabled: false` — the model is dropped from the graph at
    // discovery: it never renders, never runs, never previews. An
    // ENABLED model referencing it fails LOUDLY below (dbt semantics —
    // a declared-off dependency is a configuration contradiction, not
    // the warn-and-fail-at-exec path a typo'd unknown ref takes).
    val disabledIds: Set[String] = nodeMap.keySet
      .filter(id => config.models.get(id).exists(!_.enabled))
    if (disabledIds.nonEmpty) {
      disabledIds.toSeq.sorted.foreach(id =>
        println(s"Model `$id` is disabled (enabled: false); skipping"))
      nodeMap = nodeMap -- disabledIds
    }
    val modelIds = nodeMap.keySet
    // refs come back lowercased (Spark resolution is case-insensitive);
    // map them to the original-case model ids or an uppercase model would
    // silently lose every inbound edge
    val byLower = modelIds.map(i => i.toLowerCase -> i).toMap
    // render: strip comments → incremental context ({{ this }} /
    // is_incremental()) → expand macros → extract refs (src/node.rs:62-107)
    nodeMap = nodeMap.map { case (id, node) =>
      val stripped = PipelineSession.renderVars(
        SqlText.stripComments(node.rawSrc), effectiveVars, id)
      val withCtx = PipelineSession.renderIncrementalContext(stripped, id,
        incremental = node.mat == "incremental" && !fullRefresh &&
          targetTableExists(id))
      val rendered = MacroRenderer.render(withCtx, fileMacros)
      val refs = DepExtractor.modelRefsInModel(rendered,
        modelIds ++ disabledIds)
      val hitDisabled = refs.intersect(disabledIds.map(_.toLowerCase))
      if (hitDisabled.nonEmpty)
        throw GenericError(s"Model `$id` depends on disabled model" +
          s"${if (hitDisabled.size > 1) "s" else ""} " +
          s"${hitDisabled.toSeq.sorted.mkString("`", "`, `", "`")} — " +
          s"re-enable ${if (hitDisabled.size > 1) "them" else "it"} or " +
          s"disable `$id` too")
      val prevs = refs.flatMap(byLower.get) - id
      id -> node.copy(renderedSrc = rendered, prevs = prevs)
    }
    // a relationships test reads its target model when the TESTED model
    // runs — that is a real dependency: fold it into the DAG (ordering
    // under --parallel, visibility in viz, selection walks). A target
    // that is not a model at all can never pass; fail named at build.
    nodeMap = nodeMap.map { case (id, node) =>
      // severity wrappers don't change WHAT a test reads — unwrap before
      // the edge walk so a warn-level relationships test still orders
      val relPrevs = node.cfg.tests.map(ModelTest.base).collect {
        case ModelTest.Relationships(_, to, _) =>
          byLower.getOrElse(to.toLowerCase, throw GenericError(
            s"models.$id.tests: relationships target `$to` is not a " +
              s"known model (known: ${modelIds.toSeq.sorted.mkString(", ")})"))
      }.toSet - id
      if (relPrevs.isEmpty) id -> node
      else id -> node.copy(prevs = node.prevs ++ relPrevs)
    }
    // A model calling a SQL macro (CREATE MACRO) DEFINED in another model
    // must run after the definer: macros register in the session registry
    // when the defining model EXECUTES, so under DAG scheduling —
    // especially --parallel — an unordered caller races the definition
    // and fails with an unresolved function. Catalyst's relation walk
    // can't see this (the call site is an unresolvable TVF/expression), so
    // wire the edge lexically: macro name → defining model, then
    // caller→definer wherever the name is called outside the definition.
    // deterministic iteration: with duplicate definitions of one macro
    // name, the lexicographically-last model id wins EVERY run (HashMap
    // order would pick an arbitrary definer and wire different edges on
    // different id sets)
    val macroDefiner: Map[String, String] = nodeMap.toSeq.sortBy(_._1)
      .flatMap { case (id, node) =>
        SqlText.splitStatements(node.renderedSrc).flatMap(st =>
          (try DialectShim.macroDefinitionAny(st)
           catch { case _: Exception => None })
            .map { case (name, _, _, _) => name.toLowerCase -> id })
      }.toMap
    if (macroDefiner.nonEmpty) {
      def callsIn(src: String): Set[String] =
        SqlText.splitStatements(src).flatMap { st =>
          val definedHere = (try DialectShim.macroDefinitionAny(st)
            catch { case _: Exception => None }).map(_._1.toLowerCase)
          // a call is a word followed by `(`: quoted tokens and comments
          // never call anything
          val toks = SqlText.lex(st).filter(_.kind != SqlText.Comment)
          toks.zip(toks.drop(1)).collect {
            case (w, p) if w.kind == SqlText.Word && p.is('(') => w.text.toLowerCase
          }.filter(m => macroDefiner.contains(m) && !definedHere.contains(m))
        }.toSet
      nodeMap = nodeMap.map { case (id, node) =>
        val defs = callsIn(node.renderedSrc)
          .map(macroDefiner).filter(_ != id)
        id -> node.copy(prevs = node.prevs ++ defs)
      }
    }
    println(s"Found ${paths.size} model source${if (paths.size > 1) "s" else ""}, " +
      (if (seedPaths.nonEmpty) s"${seedPaths.size} seed" +
        s"${if (seedPaths.size > 1) "s" else ""}, " else "") +
      s"${macros.size} macro${if (macros.size > 1) "s" else ""}\n")

    // invert edges; warn + quarantine unknown refs (src/session.rs:135-155)
    val invalid = mutable.Set[String]()
    nodeMap.foreach { case (id, node) =>
      node.prevs.foreach { prev =>
        nodeMap.get(prev) match {
          case Some(p) => nodeMap = nodeMap.updated(prev, p.copy(nexts = p.nexts + id))
          case None =>
            invalid += prev
            println(s"WARNING: Model `$prev` required by `$id` not found")
        }
      }
    }

    // exposures validate against the REAL model set (config load can't):
    // a dashboard declared over a typo'd model would otherwise document
    // and select nothing, silently
    config.exposures.foreach { ex =>
      if (nodeMap.contains(ex.name))
        throw GenericError(s"exposures.${ex.name}: name collides with a " +
          "model id — exposures share the graph namespace")
      val missing = ex.dependsOn.filterNot(nodeMap.contains)
      if (missing.nonEmpty)
        throw GenericError(s"exposures.${ex.name}: depends_on names " +
          s"unknown model${if (missing.size > 1) "s" else ""} " +
          s"${missing.mkString(", ")} (known: " +
          s"${nodeMap.keys.toSeq.sorted.mkString(", ")})")
    }

    val graph = Dag.Graph(nodeMap.map { case (id, n) =>
      id -> n.prevs.filter(nodeMap.contains) })
    val order = Dag.topoSort(graph).filterNot(invalid.contains)
    (order, nodeMap)
  }

  /** Does the materialization target already exist? Drives the
    * `is_incremental()` render decision, the incremental/snapshot
    * bootstrap and the `--changed-only` table skip: the live catalog when
    * the session is up (run path), the db_path manifest on the Spark-free
    * preview surfaces (`viz`, `--dry-run`), which have no session to ask —
    * so a table dropped behind the manifest's back previews as skippable
    * but still correctly EXECUTES in the real run.
    */
  private def targetTableExists(id: String): Boolean =
    if (sparkStarted)
      try spark.catalog.tableExists(id)
      catch { case _: Exception => false }
    else manifestTables(id)
  // read once: nothing writes the manifest while the session is Spark-free
  private lazy val manifestTables: Set[String] =
    config.dbPath.map(ViewStore.manifestTables).getOrElse(Set.empty[String])

  // --- execution (src/session.rs:189-279, src/node.rs:125-207) -------------

  /** Upstream-closure fingerprints: own rendered SQL + materialization +
    * source-data metadata, folded with every ancestor's closure fp in
    * topo order — so a change ANYWHERE upstream (including a rewritten
    * `read_*` source FILE, not just source SQL) changes every
    * descendant's fingerprint and only the truly-untouched subgraph can
    * skip under `--changed-only`.
    */
  private[pipeline] def closureFingerprints(order: Seq[String],
      nodeMap: Map[String, ModelNode]): Map[String, String] = {
    val memo = mutable.Map[String, String]()
    order.foreach { id =>
      val n = nodeMap(id)
      val own = PipelineSession.md5hex(
        n.renderedSrc + "\u0000" + n.cfg.materialize.getOrElse("view") +
          // tests fold in: adding/editing a test must re-execute the
          // model under --changed-only (a skipped model never re-tests);
          // hooks fold in for the same reason (a skipped model would
          // never re-run an added/edited hook's side effects)
          "\u0000" + n.cfg.tests.map(_.describe).mkString(",") +
          // unit tests and contracts fold in for the same reason as
          // data tests: editing mock rows or a declared column must
          // re-execute the model under --changed-only
          "\u0000" + n.cfg.unitTests.map(_.describe).mkString(",") +
          "\u0000" + (if (n.cfg.contract) n.cfg.contractColumns
            .map(c => s"${c.name}:${c.dataType}").mkString(",") else "") +
          "\u0000" + (n.cfg.preHooks ++ n.cfg.postHooks).mkString("\u0000") +
          "\u0000" + sourceDataFp(n.renderedSrc))
      val anc = n.prevs.filter(nodeMap.contains).toSeq.sorted
        .map(p => memo.getOrElse(p, "?"))
      memo(id) = PipelineSession.md5hex((own +: anc).mkString("\u0001"))
    }
    memo.toMap
  }

  /** File-level metadata (name:size:mtime per matched file) of every
    * local `read_*('…')` target in the rendered SQL — the dbt
    * `state:modified` blind spot closed: a source model whose SQL is
    * unchanged but whose backing file was overwritten between runs must
    * NOT skip. Globs and directories enumerate their files; a missing
    * target fingerprints as such (so its later appearance re-executes);
    * http(s) sources are skipped (no cheap stat — remote reads are
    * re-fetched every run anyway, and their models change fingerprint
    * whenever their SQL does). Stat-only: metadata-scale cost per run.
    *
    * Configuration source (VERDICT r13 defect 2): on the RUN path the
    * session is live, so the stat uses its `hadoopConfiguration` — a
    * `read_*('s3a://…')` target whose filesystem needs `spark.hadoop.*`
    * credentials stats exactly like the executors will read it. Only the
    * Spark-free preview surfaces (`viz --changed-only`, `run --dry-run`)
    * fall back to a plain Configuration. And an UNSTAT-ABLE target
    * fingerprints with a per-run nonce, so it always RE-EXECUTES instead
    * of eternally skipping — the previous constant `"$p:unstat"` silently
    * reproduced the exact stale-data hole this feature closed for local
    * files.
    */
  private val runNonce = java.util.UUID.randomUUID().toString
  private def sourceDataFp(renderedSql: String): String = {
    val targets = statTargets(renderedSql)
    if (targets.isEmpty) ""
    else targets.map { p =>
      try targetFiles(p) match {
        case None => s"$p:missing"
        case Some(files) =>
          files.sortBy(_.getPath.toString)
            .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
            .mkString(",")
      } catch { case _: Exception => s"$p:unstat:$runNonce" }
    }.mkString("\n")
  }

  /** The stat-able `read_*('…')` targets of a model, distinct and sorted
    * (shared by [[sourceDataFp]] and [[checkFreshness]], so the skip
    * fingerprint and the freshness gate read the same files). http(s)
    * targets have no cheap stat and are left out.
    */
  private def statTargets(renderedSql: String): Seq[String] =
    """(?i)read_\w+\s*\(\s*['"]([^'"]+)['"]""".r
      .findAllMatchIn(renderedSql).map(_.group(1)).toSeq.distinct.sorted
      .filterNot(p => p.startsWith("http://") || p.startsWith("https://"))

  /** The files behind one target: each glob match that is a file, and the
    * direct files of each matched directory. None when nothing matches.
    */
  private def targetFiles(p: String)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val conf =
      if (sparkStarted) spark.sparkContext.hadoopConfiguration
      else new org.apache.hadoop.conf.Configuration()
    val fs = hp.getFileSystem(conf)
    Option(fs.globStatus(hp)).filter(_.nonEmpty).map(_.toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filterNot(_.isDirectory).toSeq
      else Seq(st)
    })
  }

  /** Spark-free `--changed-only` PREVIEW: which nodes WOULD skip if run
    * now — `viz --changed-only` paints these green without starting a
    * session (the dbt `state:modified` look-before-you-run). The live
    * [[skipSet]] itself: off the run path, [[targetTableExists]] reads
    * the db_path manifest instead of the catalog.
    */
  def previewSkips(order: Seq[String],
                   nodeMap: Map[String, ModelNode]): Set[String] =
    skipSet(order, nodeMap, closureFingerprints(order, nodeMap))

  /** dbt-style `--select`/`--exclude` resolution against the built graph:
    * each selector is `name` (just that model), `name+` (plus transitive
    * descendants), `+name` (plus transitive ancestors), `+name+`,
    * `path:<glob>` (every model whose SOURCE FILE path matches — a bare
    * directory pattern selects everything under it; `*` does not cross
    * `/`, `**` does; `+` affixes compose, e.g. `+path:models/marts`),
    * `exposure:<name>` (the exposure's declared model dependencies —
    * `+exposure:x` walks their ancestors: dbt's pre-publish selection), or
    * `state:modified` (every model whose closure fingerprint differs
    * from the stored base — the dbt CI pattern; may resolve empty);
    * comma-separated selectors union. The final selection is the selected
    * set minus the excluded set (dbt precedence: exclude wins), where an
    * empty `--select` with a non-empty `--exclude` means "all but the
    * excluded". None = no selection at all (run all).
    * Unselected upstreams are NOT executed — a selected mid-DAG model
    * reads its inputs from the db_path-restored registrations of a
    * previous run (the dbt state workflow); with no persisted state it
    * fails loudly on the missing ref, which is the honest outcome.
    * An unknown selector name — or a path pattern matching no model file
    * — is an error on BOTH flags, not an empty run (a typo in --exclude
    * silently excluding nothing would run models the user asked to hold
    * back).
    */
  def selectionSet(order: Seq[String],
                   nodeMap: Map[String, ModelNode]): Option[Set[String]] = {
    // dbt's state:modified — models whose upstream-closure fingerprint
    // differs from the stored base (never ran, edited, source data
    // changed, or any ancestor did: the closure fold already propagates
    // modification down the DAG, so `state:modified` alone selects the
    // whole affected subgraph — the CI "build only what changed"
    // pattern). An EMPTY result is legitimate (nothing changed → run
    // nothing), unlike a no-match name/path which is an error.
    lazy val modified: Set[String] = {
      val fps = closureFingerprints(order, nodeMap)
      // with --state, modification is judged against THAT state's
      // fingerprint base (dbt slim CI: "what changed vs prod?"), not
      // the local db_path's — composing with --defer so the changed
      // subgraph builds fresh while its unselected refs read prod
      val stored = stateDir.orElse(config.dbPath)
        .map(ViewStore.loadFingerprints)
        .getOrElse(Map.empty[String, String])
      order.filterNot(id => stored.get(id).contains(fps(id))).toSet
    }
    def resolve(raw: String, flag: String): Set[String] = {
      val incAnc = raw.startsWith("+")
      val incDesc = raw.endsWith("+")
      val core = raw.stripPrefix("+").stripSuffix("+")
      val base: Set[String] =
        if (core == "state:modified") modified
        else if (core.startsWith("tag:")) {
          val tag = core.stripPrefix("tag:")
          val matched = nodeMap.collect {
            case (id, n) if n.cfg.tags.contains(tag) => id
          }.toSet
          if (matched.isEmpty)
            throw GenericError(s"$flag: tag selector '$core' matches no " +
              s"model (declare tags under models.<id>.tags)")
          matched
        }
        else if (core.startsWith("exposure:")) {
          // the exposure's declared model dependencies; `+exposure:x`
          // then walks their ancestors — "rebuild everything this
          // dashboard reads" (dbt's pre-publish selection)
          val ex = core.stripPrefix("exposure:")
          config.exposures.find(_.name == ex) match {
            case Some(e) => e.dependsOn.toSet
            case None => throw GenericError(
              s"$flag: unknown exposure '$ex' (declared: " +
                s"${config.exposures.map(_.name).sorted.mkString(", ")})")
          }
        }
        else if (core.startsWith("path:")) {
          val pat = core.stripPrefix("path:")
          val matched = nodeMap.collect {
            case (id, n) if PipelineSession.pathSelectorMatches(pat, n.path)
              => id
          }.toSet
          if (matched.isEmpty)
            throw GenericError(s"$flag: path selector '$core' matches no " +
              s"model file (model files: " +
              s"${order.map(nodeMap(_).path).mkString(", ")})")
          matched
        } else {
          if (!nodeMap.contains(core))
            throw GenericError(s"$flag: unknown model '$core' " +
              s"(known models: ${order.mkString(", ")})")
          Set(core)
        }
      def walk(next: String => Set[String]): Set[String] = {
        val seen = mutable.Set.empty[String] ++ base
        var frontier = base.flatMap(id => next(id).filter(nodeMap.contains))
        while (frontier.nonEmpty) {
          val fresh = frontier.diff(seen)
          seen ++= fresh
          frontier = fresh.flatMap(id => next(id).filter(nodeMap.contains))
        }
        seen.toSet
      }
      base ++
        (if (incDesc) walk(id => nodeMap(id).nexts) else Set.empty) ++
        (if (incAnc) walk(id => nodeMap(id).prevs) else Set.empty)
    }
    if (selectors.isEmpty && excludes.isEmpty) None
    else {
      val selected =
        if (selectors.isEmpty) order.toSet
        else selectors.flatMap(resolve(_, "--select")).toSet
      val excluded = excludes.flatMap(resolve(_, "--exclude")).toSet
      Some(selected -- excluded)
    }
  }

  /** The selected subgraph for display surfaces (`viz --select`,
    * `run --dry-run --select`): order filtered to the selection with
    * prevs/nexts intersected, so no rendered edge dangles into an
    * unselected node. Identity when no selectors are set.
    */
  def restrictToSelection(order: Seq[String],
                          nodeMap: Map[String, ModelNode])
      : (Seq[String], Map[String, ModelNode]) =
    selectionSet(order, nodeMap) match {
      case None => (order, nodeMap)
      case Some(s) =>
        (order.filter(s), nodeMap.collect { case (id, n) if s(id) =>
          id -> n.copy(prevs = n.prevs.intersect(s),
            nexts = n.nexts.intersect(s)) })
    }

  /** The `--changed-only` skip decision per node, against the stored
    * fingerprint base.
    */
  private def skipSet(order: Seq[String], nodeMap: Map[String, ModelNode],
                      closureFps: Map[String, String]): Set[String] = {
    val stored = config.dbPath.map(ViewStore.loadFingerprints)
      .getOrElse(Map.empty)
    order.filter { id =>
      val n = nodeMap(id)
      stored.get(id).contains(closureFps(id)) &&
        // side statements (SET/COPY/CREATE MACRO) may have effects a
        // skip would lose — only pure single-SELECT models skip
        SqlText.splitStatements(n.renderedSrc).size == 1 &&
        // a skipped table must already be materialized (same session,
        // or restored from db_path); otherwise execute
        (n.mat == "view" || targetTableExists(id))
    }.toSet
  }

  def runNodes(): RunReport = {
    // force the session BEFORE fingerprinting: the run path always
    // executes SQL, and sourceDataFp must stat remote sources through the
    // session's hadoopConfiguration (with empty `settings`, applySettings
    // alone never touches the lazy session)
    val _ = spark
    applySettings()
    // adopt any swap a previous session's crash interrupted BEFORE
    // rendering: is_incremental()/bootstrap decisions must see the
    // recovered target, not bootstrap over a recoverable history
    config.models.foreach { case (id, mc) =>
      val mat = mc.materialize.map(_.toLowerCase)
      if (mat.contains("incremental") || mat.contains("snapshot"))
        recoverStagedSwap(id)
    }
    val (order, nodeMap) = buildGraph()
    println(s"Start pipeline execution on " +
      LocalDateTime.now.format(DateTimeFormatter.ofPattern("yyyy-MM-dd")))

    val closureFps = closureFingerprints(order, nodeMap)
    val skip: Set[String] =
      if (!changedOnly) Set.empty
      else skipSet(order, nodeMap, closureFps)

    // --select: reduce the run to the selected subgraph (topo order
    // preserved); closure fingerprints stay computed over the FULL
    // graph, so a selected node's saved base is exactly what a full run
    // would save
    val selected = selectionSet(order, nodeMap)
    val runOrder = selected.fold(order)(s => order.filter(s))
    selected.foreach { _ =>
      val flagsUsed = Seq(
        if (selectors.nonEmpty) Some(s"--select ${selectors.mkString(",")}")
        else None,
        if (excludes.nonEmpty) Some(s"--exclude ${excludes.mkString(",")}")
        else None).flatten.mkString(" ")
      println(s"Selected ${runOrder.size} of ${order.size} models " +
        s"($flagsUsed)")
    }

    // --defer: every UNSELECTED model a selected node (transitively)
    // reads resolves from the --state dir's artifacts — dbt's slim-CI
    // other half: build only what changed, defer the rest to prod. The
    // ancestor CLOSURE restores (a deferred view's SELECT references
    // ITS upstreams by name), in the state manifest's topo-safe order;
    // an id already registered in this session (dbt's default
    // dev-favoring rule) is left alone; a needed id absent from the
    // state fails NAMED before anything executes.
    if (deferEnabled) selected.foreach { sel =>
      val needed = mutable.Set[String]()
      var frontier = runOrder.flatMap(id => nodeMap(id).prevs)
        .filter(p => nodeMap.contains(p) && !sel(p)).toSet
      while (frontier.nonEmpty) {
        needed ++= frontier
        frontier = frontier.flatMap(id => nodeMap(id).prevs)
          .filter(p => nodeMap.contains(p) && !needed(p) && !sel(p))
      }
      if (needed.nonEmpty) {
        val st = stateDir.get
        val (restored, missing) =
          ViewStore.restoreDeferred(spark, st, needed.toSet)
        if (missing.nonEmpty) throw GenericError(
          s"--defer: ${missing.size} unselected ref(s) not found in " +
            s"--state $st: ${missing.toSeq.sorted.mkString(", ")} — " +
            "run them there first or widen --select")
        if (restored.nonEmpty) println(
          s"Deferred ${restored.size} unselected ref(s) to --state " +
            s"$st: ${restored.sorted.mkString(", ")}")
      }
    }

    val t0 = System.nanoTime()
    // dbt execution semantics: a failed node SKIPS its downstream (a
    // descendant executing against a missing — or worse, a STALE
    // restored — upstream registration is not a success, it is a wrong
    // answer waiting to be read), and --fail-fast aborts the whole run
    // at the first error. Skip statuses carry no error: the report's
    // error list stays exactly the real failures, and the fingerprint
    // base already drops failed closures so everything skipped here
    // re-executes next run.
    // completed results by id; a node fail-fast never dispatched has none
    val resultOf = mutable.Map[String, NodeResult]()
    val idx = runOrder.zipWithIndex.toMap
    def reported(id: String, forced: Option[String]): NodeResult =
      executeReported(nodeMap(id), idx(id) + 1, runOrder.size, skip(id),
        forced)
    val results = Dag.execute[NodeResult](
      Dag.Graph(nodeMap.map { case (id, n) => id -> n.prevs }), runOrder,
      if (parallel) PipelineSession.poolSlots else 1,
      PipelineSession.wavePool)(
      // every prev has completed by now, so its result is final
      start = { id =>
        val upFailed = nodeMap(id).prevs.flatMap(resultOf.get).exists(r =>
          r.error.nonEmpty || r.status == "SKIP upstream failed")
        () => reported(id, Option.when(upFailed)("SKIP upstream failed"))
      },
      done = { r => resultOf(r.id) = r; failFast && r.error.nonEmpty },
      skipped = reported(_, Some("SKIP fail-fast")))
    val report = RunReport(results, (System.nanoTime() - t0) / 1000000)
    // record the base for the next --changed-only run: models that ran
    // (or verified-skipped) successfully THIS run AND whose every
    // transitive ancestor did too — failed models and their descendants
    // drop out so they re-execute next time. A descendant can "succeed"
    // against a stale upstream registration restored from db_path; saving
    // its fingerprint would freeze that staleness into every later
    // --changed-only run (the next run re-executes the fixed upstream but
    // skips the descendant), so failure propagates DOWN the DAG here.
    val failedClosure: Set[String] = {
      val acc = mutable.Set[String]()
      order.foreach { id =>
        val ownFailed = resultOf.get(id).exists(_.error.nonEmpty)
        if (ownFailed ||
            nodeMap(id).prevs.exists(acc.contains)) { acc += id; () }
      }
      acc.toSet
    }
    // MERGE into the stored base, never replace it: a --select /
    // state:modified run reports results for the selected subgraph only,
    // and overwriting the store with just those ids would WIPE the
    // unselected models' fingerprints — every later --changed-only run
    // would spuriously re-execute them. Failed closures DROP from the
    // base (whether they ran or not — an unrun descendant of a failed
    // model must not keep skipping against its stale upstream), and
    // successful runs update theirs.
    val storedBase = config.dbPath.map(ViewStore.loadFingerprints)
      .getOrElse(Map.empty[String, String])
    ViewStore.saveFingerprints(config.dbPath,
      // prune ids no longer in the graph (deleted model files), then
      // drop failures, then fold in this run's successes
      (storedBase.view.filterKeys(nodeMap.contains).toMap -- failedClosure)
        ++ closureFps.view.filterKeys(id =>
          resultOf.get(id).exists(r => r.error.isEmpty &&
            // forced skips never ran: recording their fingerprint would
            // let the next --changed-only treat unexecuted work as done
            // (a changed-only "SKIP unchanged" IS a verified skip and
            // does record)
            !r.status.startsWith("SKIP upstream") &&
            !r.status.startsWith("SKIP fail-fast")) &&
            !failedClosure.contains(id)).toMap)

    // dbt run_results parity for `graft retry`: record every reported
    // node's status plus the flags a retry must re-apply (vars and the
    // refresh/windowing/mode context). Selection is deliberately NOT
    // recorded — the retry set IS the failed/skipped rows, which were
    // all inside the original selection by construction.
    ViewStore.saveRunLedger(config.dbPath,
      results.map(r => r.status -> r.id),
      cliVars.map { case (k, v) => s"var:$k" -> v } ++
        Seq(
          "parallel" -> parallel, "full-refresh" -> fullRefresh,
          "fail-fast" -> failFast, "build" -> buildMode,
          "defer" -> deferEnabled)
          .collect { case (k, true) => k -> "true" } ++
        stateDir.map("state" -> _) ++
        eventTimeStart.map("event-time-start" -> _) ++
        eventTimeEnd.map("event-time-end" -> _))

    if (report.errors.nonEmpty) {
      println("\nErrors:")
      report.errors.foreach {
        case StatementExecutionError(msg, _, path) =>
          println("Failed to execute SQL statement.")
          println(s"Source path : $path")
          println(s"Error       : $msg\n")
        case e => println(s"${e.render}\n")
      }
    }
    println(s"\nPipeline execution completed in ${formatElapsed(report.totalMillis)} " +
      s"with ${report.nSuccess} success and ${report.errors.size} errors")
    // every result is materialized (tables written, view counts taken),
    // so any manifest caches the run's operators registered are dead
    // weight now — release them so a long-lived session holds zero
    // blocks between runs (the cachedManifest lifecycle contract)
    graft.ext.DedupOps.releaseManifests()
    report
  }

  private def executeReported(node: ModelNode, nth: Int, total: Int,
      skip: Boolean, forcedStatus: Option[String]): NodeResult = {
    val ts = LocalDateTime.now.format(DateTimeFormatter.ofPattern("HH:mm:ss"))
    val info = s"$ts  $nth of $total: creating ${node.id} ${node.mat} model"
    val header = info + "." * math.max(0, 80 - info.length)
    // --parallel runs this from pool threads; a split
    // print(header)/println(status) pair interleaves across threads and
    // pairs statuses with the wrong model's header. Emit one atomic line
    // per node instead (println of a single String is synchronized).
    if (!parallel) print(header)
    val t0 = System.nanoTime()
    val (status, err) = forcedStatus match {
      // a forced skip (failed upstream / fail-fast abort) executes
      // NOTHING — not even the view re-registration a changed-only skip
      // performs
      case Some(st) => (st, None)
      case None =>
        attempt(node)(if (skip) skipNode(node) else executeNode(node))
          .fold(e => ("ERROR", Some(e)), st => (st, None))
    }
    val ms = (System.nanoTime() - t0) / 1000000
    val tail = s"[$status in ${formatElapsed(ms)}]"
    if (parallel) println(header + tail) else println(tail)
    NodeResult(node.id, status, ms, err)
  }

  /** Runs `body` for `node`; a failure comes back as the node's error —
    * a [[GraftError]] as thrown, anything else as a
    * [[StatementExecutionError]] attributed to the node's source.
    */
  private def attempt[A](node: ModelNode)(body: => A): Either[GraftError, A] =
    try Right(body)
    catch {
      case e: GraftError => Left(e)
      case e: Exception =>
        Left(StatementExecutionError(e.getMessage, node.renderedSrc, node.path))
    }

  /** `--changed-only` fast path for a fingerprint-unchanged model. A VIEW
    * is re-registered from its (identical) rendered SELECT — pure
    * analysis, no job, and it keeps the db_path store current; a TABLE is
    * verified present in the catalog by the skip decision and left as the
    * previous run materialized it. The status string is the UX contract.
    */
  private def skipNode(node: ModelNode): String = {
    if (node.mat == "view") {
      val raw = SqlText.splitStatements(node.renderedSrc).head
      val select = DialectShim.rewrite(raw, spark)
      try {
        spark.sql(select).createOrReplaceTempView(node.id)
        ViewStore.saveView(config.dbPath, node.id, select, Some(raw))
      } catch { case e: Exception =>
        throw StatementExecutionError(e.getMessage, select, node.path) }
    }
    "SKIP unchanged"
  }

  /** Execute one node: split statements, validate exactly one
    * record-producing statement, run ALL statements strictly in file
    * order — the SELECT materializes at its own file position
    * (src/node.rs:151: the reference iterates the split statements in
    * order; a statement written after the SELECT, e.g. `DROP TABLE
    * staging`, must not run before the materialization). Returns the
    * status string.
    */
  def executeNode(node: ModelNode): String = {
    // classify on the RAW statements (the reference applies its prefix
    // rule to the un-rewritten DuckDB text) and keep the raw text paired
    // with its rewrite — the raw SELECT is persisted alongside the
    // rewritten one so restore can re-shim it in a future session (see
    // ViewStore.saveView)
    val pairs = SqlText.splitStatements(node.renderedSrc)
      .map(st => (st, DialectShim.rewrite(st, spark)))
    val nProducing = pairs.count { case (raw, _) => SqlText.producesRecords(raw) }
    if (nProducing != 1)
      throw StatementExecutionError(
        s"Model must contain exactly one record-producing (SELECT/WITH) statement, found $nProducing",
        node.renderedSrc, node.path)

    val producingIdx = pairs.indexWhere { case (raw, _) => SqlText.producesRecords(raw) }
    val (beforePairs, rest) = pairs.splitAt(producingIdx)
    val afterPairs = rest.tail

    // side statements run as-is; non-record-producing by construction,
    // but SqlExec still guards against any row-returning statement
    // materializing on the driver
    def runSide(st: String): Unit =
      try SqlExec.run(spark, st)
      catch { case e: Exception =>
        throw StatementExecutionError(e.getMessage, st, node.path) }
    // config-declared hooks (dbt pre-hook/post-hook): side statements run
    // around the model's own statements, attributed to the node on
    // failure; `{{ this }}` refers to the model being built
    def runHooks(hooks: Seq[String], kind: String): Unit =
      hooks.foreach { h =>
        val rendered = PipelineSession.renderIncrementalContext(
          PipelineSession.renderVars(SqlText.stripComments(h),
            effectiveVars, node.id),
          node.id, incremental = false)
        try SqlExec.run(spark, DialectShim.rewrite(rendered, spark))
        catch {
          case e: GraftError => throw e
          case e: Exception => throw StatementExecutionError(
            s"$kind failed: ${e.getMessage}", h, node.path)
        }
      }
    // dbt 1.8 unit tests (build/test surfaces only — `run` skips them,
    // dbt semantics): the SELECT logic checked over mocked inputs
    // BEFORE anything materializes, so a failing unit test gates the
    // node and its downstream exactly like a failing data test while
    // nothing of the broken logic publishes
    if (buildMode && node.cfg.unitTests.nonEmpty)
      gateTests(node, "unit", node.cfg.unitTests.map(unitTestRow(node, _)))
    // freshness gates the node BEFORE any SQL runs: executing a model
    // over data already known stale just materializes the staleness
    checkFreshness(node)
    runHooks(node.cfg.preHooks, "pre-hook")
    beforePairs.foreach { case (_, st) => runSide(st) }

    val select = rest.head._2
    val rawSelect = rest.head._1
    // an enforced contract is checked on EVERY execution path (run,
    // build, incremental, snapshot) against the SELECT's analyzed
    // schema — analysis-only, before the swap publishes anything
    if (node.cfg.contract) checkContract(node, select)
    val status = materializeSelect(node, select, rawSelect)
    afterPairs.foreach { case (_, st) => runSide(st) }
    // post-hooks see the materialized model (dbt runs them after the
    // model builds); they run BEFORE the data tests, which must judge
    // the final state including any hook-applied mutation
    runHooks(node.cfg.postHooks, "post-hook")
    // data tests run against the FINAL materialized result — after the
    // tail side statements, which may mutate it. A violation fails the
    // node like a SQL error: the report names the test and its count,
    // and the fingerprint base drops the node + descendants so the next
    // --changed-only re-executes them.
    runModelTests(node)
    status match {
      // the reference recounts the model table after EVERY successful
      // statement (node.rs:179-189), so its reported count reflects any
      // post-SELECT statement too — counting after the tail statements
      // reproduces the final value without the intermediate recounts
      case "SELECT" =>
        try s"SELECT ${spark.table(node.id).count()}"
        catch {
          case e: GraftError => throw e
          case e: Exception =>
            throw StatementExecutionError(e.getMessage, select, node.path)
        }
      case other => other
    }
  }

  /** Replace table `id` with `df`, which may READ `id` (Spark cannot
    * overwrite a table it is reading): materialize to a staging table,
    * SWAP it in — target steps aside to `__graft_backup`, stage renames
    * to target, backup drops last. Shared by the incremental merge and
    * the snapshot update.
    *
    * Crash-safe at every step (the [[StoreSwap]] discipline the parquet
    * stores already hold): once the stage write completes, either the
    * old table or the finished new one is a single directory move away
    * from `id` at all times — [[recoverStagedSwap]] (runNodes startup)
    * adopts the complete stage when the target vanished mid-swap, or
    * restores the backup, so a crash can no longer strand a snapshot's
    * accumulated SCD2 history in an orphaned staging table. The target
    * steps aside as a bare directory move (works for managed AND
    * restored-external tables — an external table's RENAME would keep
    * its location and collide with the incoming stage directory).
    */
  private def overwriteViaStaging(id: String,
                                  df: org.apache.spark.sql.DataFrame,
                                  partitionBy: Option[String] = None)
      : Unit = {
    val stage = id + "__graft_stage"
    val backup = id + "__graft_backup"
    ViewStore.dropTableClearingLocation(spark, stage)
    ViewStore.dropTableClearingLocation(spark, backup)
    // preserve the table's declared partition layout through the swap:
    // a bootstrap lays the table out partitioned for pruned consumers,
    // and a merge that rewrote it UNPARTITIONED would silently kill
    // every downstream partition filter after the first incremental run
    val w = df.write.mode("overwrite")
    partitionBy.fold(w)(c => w.partitionBy(c)).saveAsTable(stage)
    val tgtLoc = ViewStore.warehouseLocation(spark, id)
    val stageLoc = ViewStore.warehouseLocation(spark, stage)
    val backupLoc = ViewStore.warehouseLocation(spark, backup)
    if (Files.exists(tgtLoc)) Files.move(tgtLoc, backupLoc)
    spark.sql(s"DROP TABLE IF EXISTS `$id`")
    partitionBy match {
      case None =>
        // managed-table rename moves <wh>/<stage> to <wh>/<id> atomically
        // enough: a crash before it leaves the complete stage adoptable
        spark.sql(s"ALTER TABLE `$stage` RENAME TO `$id`")
      case Some(_) =>
        // a catalog RENAME of a PARTITIONED managed table moves the
        // directory but leaves its partition metadata pointing at the
        // old location — the renamed table reads zero rows. Swap by
        // directory move + path registration instead: partition
        // discovery re-derives the layout from the moved directory
        // (the same registration ViewStore.restore uses)
        Files.move(stageLoc, tgtLoc)
        // the stage's catalog entry now points at a moved (absent)
        // directory; dropping it is metadata-only
        spark.sql(s"DROP TABLE IF EXISTS `$stage`")
        ViewStore.registerTable(spark, id, tgtLoc)
    }
    ViewStore.dropTableClearingLocation(spark, backup)
    ()
  }

  /** Startup recovery for a swap interrupted by a crash
    * ([[overwriteViaStaging]]'s counterpart, run from [[runNodes]] for
    * every incremental/snapshot model BEFORE rendering — the render's
    * `is_incremental()` decision must see the recovered target).
    * Directory presence is the ground truth (a fresh session's catalog
    * is empty until ViewStore.restore, and a crashed swap can leave the
    * catalog pointing at a moved directory): when the target's data
    * directory is missing, adopt the stage if its write COMPLETED
    * (`_SUCCESS` present — the swap had begun, so the stage holds the
    * finished merge), else restore the backup (the pre-swap table); in
    * both cases re-register the adopted directory (partitions
    * included). Leftover staging
    * machinery is then dropped either way. Idempotent and cheap (two
    * directory stats) when nothing crashed.
    */
  private[pipeline] def recoverStagedSwap(id: String): Unit = {
    val stage = id + "__graft_stage"
    val backup = id + "__graft_backup"
    val tgtLoc = ViewStore.warehouseLocation(spark, id)
    val stageLoc = ViewStore.warehouseLocation(spark, stage)
    val backupLoc = ViewStore.warehouseLocation(spark, backup)
    if (!Files.exists(tgtLoc)) {
      val donorLoc =
        if (Files.exists(stageLoc.resolve("_SUCCESS"))) Some(stageLoc)
        else if (Files.exists(backupLoc)) Some(backupLoc)
        else None
      donorLoc.foreach { loc =>
        // the catalog may still map `id` to the now-empty location (or a
        // crashed session may have lost the entry entirely) — normalize:
        // move the surviving data in, then (re-)register it
        spark.sql(s"DROP TABLE IF EXISTS `$id`")
        Files.move(loc, tgtLoc)
        ViewStore.registerTable(spark, id, tgtLoc)
      }
    }
    ViewStore.dropTableClearingLocation(spark, stage)
    ViewStore.dropTableClearingLocation(spark, backup)
  }

  /** One SCD2 update under the dbt `check` strategy: versions whose
    * CONTENT changed (any non-audit column, null-safe) close with
    * `valid_to = ts` and a fresh current version opens; brand-new keys
    * open; keys absent from the fresh SELECT stay open (dbt's default —
    * a missing source row is not evidence of deletion); historical rows
    * never move. Content comparison is per-column null-safe equality —
    * no hash collisions, and column-pruned to the data columns. Scale
    * shape: one key-keyed join between the CURRENT slice and the fresh
    * rows (both narrow relative to the full history), history carried by
    * the staging rewrite only.
    */
  private def snapshotMerge(id: String,
                            fresh: org.apache.spark.sql.DataFrame,
                            key: String, ts: java.sql.Timestamp,
                            invalidateHardDeletes: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = spark.table(id)
    val dataCols = snap.columns.filterNot(c =>
      c == "valid_from" || c == "valid_to").toSeq
    val history = snap.filter(col("valid_to").isNotNull)
    val current = snap.filter(col("valid_to").isNull)
    requireUniqueFreshKeys(id, fresh, key)
    val f = fresh.select(dataCols.map(c => fresh(c)): _*)
    // keys whose current content differs from the fresh content
    val changedKeys = current.alias("c")
      .join(f.alias("f"), col(s"c.$key") === col(s"f.$key"))
      .filter(dataCols.filterNot(_ == key)
        .map(c => !(col(s"c.$c") <=> col(s"f.$c")))
        .foldLeft(lit(false))(_ || _))
      .select(col(s"c.$key").as(key))
    val newKeys = f.join(current, Seq(key), "left_anti").select(col(key))
    val opening = f.join(changedKeys.unionByName(newKeys).distinct(),
        Seq(key), "left_semi")
      .withColumn("valid_from", lit(ts))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val closing = current.join(changedKeys, Seq(key), "left_semi")
      .withColumn("valid_to", lit(ts))
    val keeping = hardDeleteClose(
      current.join(changedKeys, Seq(key), "left_anti"),
      f, key, ts, invalidateHardDeletes)
    history.unionByName(keeping).unionByName(closing)
      .unionByName(opening)
  }

  /** dbt `invalidate_hard_deletes`: when enabled, CURRENT versions whose
    * key VANISHED from the fresh SELECT close at the run timestamp —
    * absence becomes evidence of deletion (the dbt default keeps them
    * open, which both strategies do when the flag is off). Hard deletes
    * close at the RUN clock under either strategy: a vanished row has no
    * source `updated_at` to version by.
    */
  private def hardDeleteClose(keeping: org.apache.spark.sql.DataFrame,
                              fresh: org.apache.spark.sql.DataFrame,
                              key: String, ts: java.sql.Timestamp,
                              enabled: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (!enabled) keeping
    else {
      val freshKeys = fresh.select(col(key)).distinct()
      keeping.join(freshKeys, Seq(key), "left_semi")
        .unionByName(keeping.join(freshKeys, Seq(key), "left_anti")
          .withColumn("valid_to", lit(ts)))
    }
  }

  /** Duplicate `unique_key` values in one snapshot run would open
    * multiple concurrent `valid_to IS NULL` versions of the same key and
    * silently corrupt every LATER merge (multi-row current joins, double
    * closes) — fail this run loudly instead. One count-distinct
    * aggregate over the fresh slice (narrow relative to the history).
    */
  private def requireUniqueFreshKeys(id: String,
                                     fresh: org.apache.spark.sql.DataFrame,
                                     key: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = fresh.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).count()
    if (dup > 0)
      throw GenericError(s"snapshot `$id`: the fresh SELECT has $dup " +
        s"duplicate `$key` values — a snapshot's unique_key must be " +
        s"unique per run (declare a `unique: $key` test, or fix the " +
        "model's grain)")
  }

  /** One SCD2 update under the dbt `timestamp` strategy: versioning is
    * driven by `updated_at` alone (cheaper than `check` — no per-column
    * null-safe comparison, no content join on wide rows): a fresh row
    * whose `updated_at` is LATER than its key's current `valid_from`
    * opens a new version valid from that `updated_at` (the closed
    * version's `valid_to` = the new `valid_from` — dbt semantics: the
    * validity interval is the source system's clock, not the run
    * clock); an equal timestamp is "unchanged" (no-op); an EARLIER one
    * is out-of-order source data and fails loudly — silently accepting
    * it would write a version whose interval ends before it begins.
    * New keys open at their `updated_at`; keys absent from the fresh
    * SELECT stay open; historical rows never move. A NULL `updated_at`
    * fails loudly too (it cannot be ordered against anything).
    */
  private def snapshotMergeByTimestamp(id: String,
                                       fresh: org.apache.spark.sql.DataFrame,
                                       key: String, updatedAt: String,
                                       ts: java.sql.Timestamp,
                                       invalidateHardDeletes: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val snap = spark.table(id)
    val dataCols = snap.columns.filterNot(c =>
      c == "valid_from" || c == "valid_to").toSeq
    require(dataCols.contains(updatedAt),
      s"snapshot `$id`: updated_at column `$updatedAt` is not a column " +
        s"of the snapshot (${dataCols.mkString(", ")})")
    val history = snap.filter(col("valid_to").isNotNull)
    val current = snap.filter(col("valid_to").isNull)
    requireUniqueFreshKeys(id, fresh, key)
    val f = fresh.select(dataCols.map(c => fresh(c)): _*)
    // one pass over the key-joined (current, fresh) pairs classifies
    // every fresh row and counts the failure modes in the same job
    val joined = f.alias("f")
      .join(current.select(col(key).as("__ck"),
          col(updatedAt).as("__cur_ts")),
        col(s"f.$key") === col("__ck"), "left")
    val audit = joined.agg(
      sum(when(col(s"f.$updatedAt").isNull, 1L).otherwise(0L))
        .as("__nulls"),
      sum(when(col(s"f.$updatedAt") < col("__cur_ts"), 1L).otherwise(0L))
        .as("__backwards")).collect()(0)
    if (audit.getLong(0) > 0)
      throw GenericError(s"snapshot `$id` (strategy: timestamp): " +
        s"${audit.getLong(0)} fresh rows have NULL `$updatedAt` — a " +
        "null update time cannot be versioned")
    if (audit.getLong(1) > 0)
      throw GenericError(s"snapshot `$id` (strategy: timestamp): " +
        s"${audit.getLong(1)} fresh rows have `$updatedAt` EARLIER than " +
        "the key's current valid_from — out-of-order source data; " +
        "re-run with --full-refresh after fixing the source, or fix " +
        "the model's updated_at")
    val opening = joined
      .filter(col("__cur_ts").isNull || col(s"f.$updatedAt") > col("__cur_ts"))
      .select((dataCols.map(c => col(s"f.$c")) :+
        col(s"f.$updatedAt").cast("timestamp").as("valid_from") :+
        lit(null).cast("timestamp").as("valid_to")): _*)
    val closing = current.alias("c")
      .join(opening.select(col(key).as("__ok"),
          col("valid_from").as("__new_from")),
        col(s"c.$key") === col("__ok"), "inner")
      .select((dataCols.map(c => col(s"c.$c")) :+
        col(s"c.valid_from") :+ col("__new_from").as("valid_to")): _*)
    val keeping = hardDeleteClose(
      current.join(opening.select(col(key)), Seq(key), "left_anti"),
      f, key, ts, invalidateHardDeletes)
    history.unionByName(keeping).unionByName(closing)
      .unionByName(opening)
  }

  /** dbt source freshness: how old may the newest file behind this
    * model's `read_*` targets be (the [[sourceDataFp]] stat machinery's
    * surface turned into a gate)? Stats through the session's hadoop
    * configuration; http(s) targets have no cheap mtime and are skipped
    * (a model reading ONLY remote sources cannot declare freshness —
    * loud, not silently green); a missing target is at least as bad as
    * a stale one and fails outright. `error_after` fails the node named;
    * `warn_after` prints a WARNING and continues.
    */
  private def checkFreshness(node: ModelNode): Unit =
    node.cfg.freshness.foreach { f =>
      val targets = statTargets(node.renderedSrc)
      if (targets.isEmpty)
        throw StatementExecutionError(
          "freshness declared but the model reads no stat-able " +
            "read_* source (http(s) sources have no modification time)",
          node.renderedSrc, node.path)
      val mtimes: Seq[Long] = targets.flatMap { p =>
        val files =
          try targetFiles(p)
          catch { case e: Exception => throw StatementExecutionError(
            s"freshness check: cannot stat `$p`: ${e.getMessage}",
            node.renderedSrc, node.path)
          }
        files.getOrElse(throw StatementExecutionError(
          s"freshness check: source `$p` does not exist — a missing " +
            "source is staler than any threshold",
          node.renderedSrc, node.path)).map(_.getModificationTime)
      }
      if (mtimes.nonEmpty) {
        val ageSec =
          (System.currentTimeMillis() - mtimes.max) / 1000
        f.errorAfterSeconds.foreach { err =>
          if (ageSec > err)
            throw StatementExecutionError(
              s"source data is STALE: newest file behind `${node.id}` " +
                s"is ${ageSec}s old (error_after_seconds: $err)",
              node.renderedSrc, node.path)
        }
        f.warnAfterSeconds.foreach { warn =>
          if (ageSec > warn)
            println(s"WARNING: source data for `${node.id}` is ${ageSec}s " +
              s"old (warn_after_seconds: $warn)")
        }
      }
    }

  /** dbt 1.9 `incremental_strategy: microbatch` (VERDICT r18 task 5):
    * the model's full-history SELECT is processed as independent
    * event-time WINDOWS, each swapped into the table as a dynamic
    * partition overwrite — no key join, no history rewrite, work
    * bounded by the touched windows. Requires `event_time` (the
    * timestamp column), `batch_size` (hour|day|month|year, default
    * day), and `partition_by` — which must be batch-aligned (one
    * partition value per batch window, e.g. a DATE column for
    * `batch_size: day`): the swap replaces partitions, so a coarser
    * partition would drop in-partition rows outside the window.
    *
    * Window selection:
    *   - backfill: `--event-time-start X [--event-time-end Y)` process
    *     exactly the batches intersecting [X, Y);
    *   - default: batches from date_trunc(batch, max(event_time) in
    *     the TARGET) − (lookback−1) batches onward — the latest
    *     `lookback` (default 1) already-materialized windows reprocess
    *     (late-arriving rows land), plus every newer batch in the
    *     fresh SELECT. Deterministic: based on the data's own clock,
    *     never the wall clock.
    *
    * A window inside the selection whose fresh SELECT has NO rows is a
    * disappeared window (upstream deleted it): its partitions DROP, so
    * a microbatch run converges to exactly what --full-refresh would
    * build (the parity contract MicrobatchSpec pins bit-for-bit).
    */
  private def microbatchRun(node: ModelNode, select: String): Unit = {
    val evCol = node.cfg.eventTime.getOrElse(throw GenericError(
      s"incremental_strategy: microbatch for `${node.id}` requires " +
        s"models.${node.id}.event_time"))
    val unit = node.cfg.batchSize.map(_.toLowerCase).getOrElse("day") match {
      case u @ ("hour" | "day" | "month" | "year") => u.toUpperCase
      case other => throw GenericError(s"models.${node.id}.batch_size: " +
        s"expected hour|day|month|year, got `$other`")
    }
    val partCol = node.cfg.partitionBy.getOrElse(throw GenericError(
      s"incremental_strategy: microbatch for `${node.id}` requires " +
        s"models.${node.id}.partition_by (the batch-aligned partition " +
        "column each window swaps)"))
    val lookback = node.cfg.lookback.getOrElse(1)
    if (lookback < 1) throw GenericError(
      s"models.${node.id}.lookback: must be >= 1, got $lookback")
    val fresh0 = spark.sql(select)
    if (!fresh0.columns.contains(evCol)) throw GenericError(
      s"microbatch `${node.id}`: event_time `$evCol` is not a column " +
        s"of the SELECT (${fresh0.columns.mkString(", ")})")
    overwritePartitions(node.id, "microbatch", fresh0) { write =>
      def tsLit(v: String, flag: String): String = {
        // shape-check BEFORE interpolating into SQL: a stray quote (or
        // anything non-timestamp-shaped) must fail NAMED like every
        // other misconfig, not as a bare parser exception
        if (!v.matches("[0-9TtZz+\\-:. ]{4,40}")) throw GenericError(
          s"$flag: cannot parse '$v' as a timestamp")
        val r = spark.sql(s"SELECT CAST('$v' AS TIMESTAMP)").collect()(0)
        if (r.isNullAt(0)) throw GenericError(
          s"$flag: cannot parse '$v' as a timestamp")
        s"TIMESTAMP '${r.getTimestamp(0)}'"
      }
      val startLit: Option[String] =
        eventTimeStart.map(tsLit(_, "--event-time-start")).orElse {
          val r = spark.sql(s"SELECT date_trunc('$unit', max(`$evCol`)) " +
            s"- INTERVAL ${lookback - 1} $unit FROM `${node.id}`")
            .collect()(0)
          if (r.isNullAt(0)) None // empty target: process everything
          else Some(s"TIMESTAMP '${r.getTimestamp(0)}'")
        }
      val endLit: Option[String] =
        eventTimeEnd.map(tsLit(_, "--event-time-end"))
      val windowCond = (startLit.map(s => s"`$evCol` >= $s") ++
        endLit.map(e => s"`$evCol` < $e")).mkString(" AND ")
      def windowed(df: org.apache.spark.sql.DataFrame) =
        if (windowCond.isEmpty) df else df.where(windowCond)
      val bexpr = s"date_trunc('$unit', `$evCol`)"
      def batchesOf(df: org.apache.spark.sql.DataFrame): Seq[java.sql.Timestamp] =
        windowed(df).selectExpr(s"$bexpr AS __b").where("__b IS NOT NULL")
          .distinct().collect().map(_.getTimestamp(0)).toSeq
      // both sets BEFORE any write: the swaps below mutate the target
      val freshBatches = batchesOf(fresh0).sortBy(_.getTime)
      val staleBatches = (batchesOf(spark.table(node.id)).toSet -- freshBatches)
        .toSeq.sortBy(_.getTime)
      freshBatches.foreach { b =>
        // each window is its own bounded job (dbt's batch independence:
        // a wide backfill progresses window by window)
        write(fresh0.where(s"$bexpr = TIMESTAMP '$b'"))
        println(s"    microbatch ${unit.toLowerCase} $b: swapped")
      }
      // disappeared windows: in-window target batches with no fresh rows
      // drop their (batch-aligned) partitions, converging on the
      // full-refresh result
      staleBatches.foreach { b =>
        val vals = spark.table(node.id)
          .where(s"$bexpr = TIMESTAMP '$b'")
          .selectExpr(s"CAST(`$partCol` AS STRING) AS __p")
          .distinct().collect().map(_.getString(0))
        vals.foreach { v =>
          spark.sql(s"ALTER TABLE `${node.id}` DROP IF EXISTS " +
            s"PARTITION (`$partCol` = '$v')")
        }
        println(s"    microbatch ${unit.toLowerCase} $b: dropped " +
          s"(no fresh rows in window)")
      }
    }
  }

  /** The dynamic-partition overwrite insert_overwrite and microbatch
    * share. A fresh SELECT whose column set differs from the table's
    * fails NAMED (partitions are replaced positionally into the
    * existing layout, so there is no schema-evolution story). `body`
    * then runs with `partitionOverwriteMode=dynamic` and gets a writer
    * that aligns a slice to the table's column order (`insertInto` is
    * position-based, partition columns last) and replaces exactly the
    * partitions the slice holds; the session's mode is restored after.
    */
  private def overwritePartitions(id: String, strategy: String,
      fresh: org.apache.spark.sql.DataFrame)(
      body: (org.apache.spark.sql.DataFrame => Unit) => Unit): Unit = {
    val target = spark.table(id)
    if (fresh.columns.toSet != target.columns.toSet) throw GenericError(
      s"incremental `$id` ($strategy): the fresh SELECT's schema " +
        s"(${fresh.columns.mkString(", ")}) differs from the table's " +
        s"(${target.columns.mkString(", ")}) — $strategy cannot evolve " +
        "a schema; rebuild with --full-refresh")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "dynamic")
      body(slice => slice.select(target.columns.map(c => slice(c))
        .toIndexedSeq: _*).write.mode("overwrite").insertInto(id))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** dbt's `on_schema_change` contract for incremental merges: when the
    * fresh slice's column SET differs from the target table's, the
    * declared policy decides —
    *   fail (the default)   — loud, named, with the drifted columns; an
    *                          undeclared schema drift merging silently
    *                          is how incremental tables rot;
    *   append_new_columns   — the merge widens to the union: new fresh
    *                          columns back-fill NULL on historical rows,
    *                          columns the fresh slice stopped producing
    *                          stay, NULL on the new rows;
    *   ignore               — dbt parity: new fresh columns are NOT
    *                          written (projected away); columns the
    *                          fresh slice stopped producing stay, NULL
    *                          on the new rows.
    * Returns the (possibly projected) fresh frame plus whether the
    * union must tolerate missing columns. Type changes on SAME-named
    * columns are left to unionByName's own loud analysis error.
    */
  private def alignIncrementalSchema(node: ModelNode,
                                     fresh: org.apache.spark.sql.DataFrame,
                                     existing: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Boolean) = {
    val tcols = existing.columns.toSeq
    val fcols = fresh.columns.toSeq
    if (tcols.toSet == fcols.toSet) (fresh, false)
    else {
      val added = fcols.filterNot(tcols.contains)
      val removed = tcols.filterNot(fcols.contains)
      node.cfg.onSchemaChange.map(_.toLowerCase).getOrElse("fail") match {
        case "fail" => throw GenericError(
          s"incremental `${node.id}`: the fresh SELECT's schema drifted " +
            s"from the target table (new columns: " +
            s"${if (added.isEmpty) "none" else added.mkString(", ")}; " +
            s"missing columns: " +
            s"${if (removed.isEmpty) "none" else removed.mkString(", ")})" +
            " and on_schema_change is `fail` (the default) — declare " +
            "append_new_columns or ignore, or rebuild with --full-refresh")
        case "append_new_columns" => (fresh, true)
        case "ignore" =>
          (fresh.select(tcols.filter(fcols.contains).map(fresh(_)): _*),
            true)
        case other => throw GenericError(
          s"Unknown on_schema_change for `${node.id}`: $other " +
            "(supported: fail, append_new_columns, ignore)")
      }
    }
  }

  /** Run the node's declared data tests against its materialized result
    * (view or table — both resolve through the session catalog). Each
    * test is one aggregate job counting VIOLATING rows; 0 passes. The
    * semantics mirror dbt's: `not_null` counts null rows, `unique`
    * counts values occurring more than once, `accepted_values` counts
    * non-null rows outside the list (a null is not a value violation —
    * declare `not_null` alongside when it should be). A warn-only
    * outcome ([[dataTestRow]]) PRINTS and continues — the node succeeds
    * and its fingerprint saves (dbt's warn semantics; the severity rides
    * the test's describe, so promoting warn→error re-executes the model
    * under --changed-only). `run` stops at the first hard failure and
    * fails the node with it; `build` runs every test ([[gateTests]]).
    */
  private def runModelTests(node: ModelNode): Unit =
    if (buildMode)
      gateTests(node, "data", node.cfg.tests.map(dataTestRow(node, _)))
    else node.cfg.tests.foreach { t =>
      dataTestRow(node, t) match {
        case (_, _, Some(e), false) => throw e
        case (_, _, Some(e), true) =>
          println(s"    WARN  ${node.id}: ${PipelineSession.firstLine(e)} " +
            (e match {
              case _: DataTestViolation => "(severity: warn — not failing the node)"
              case _ => "(warn_if — not failing the node)"
            }))
        case _ => ()
      }
    }

  /** One data test's outcome row (model id, test description, failure,
    * warn-only) — the one classification `run`, `build` and `test`
    * share. `severity: warn` downgrades VIOLATIONS only: a warn test that
    * could not execute (missing file, typo'd column) is a hard failure,
    * or the declared test would silently test nothing. A warn_if-level
    * result ([[DataTestWarning]]) is warn-only at ANY severity (dbt's
    * threshold semantics). Only the severity wrapper is stripped: a
    * store_failures flag must still write its store.
    */
  private def dataTestRow(node: ModelNode, t: ModelTest): TestRow = {
    val warnSev = t.isInstanceOf[ModelTest.Warn]
    val err = attempt(node)(runModelTest(node, ModelTest.stripWarn(t),
      warnSeverity = warnSev)).left.toOption
    (node.id, t.describe, err, err.exists(_.isInstanceOf[DataTestWarning]) ||
      (warnSev && err.forall(_.isInstanceOf[DataTestViolation])))
  }

  /** One unit test's outcome row; a unit test is never warn-only. */
  private def unitTestRow(node: ModelNode, utst: UnitTest): TestRow =
    (node.id, utst.describe,
      attempt(node)(runUnitTest(node, utst)).left.toOption, false)

  /** `graft build`'s gate over a node's test rows: EVERY declared test
    * has run (dbt treats each test as its own DAG node — one failure must
    * not shadow the next test's result), each row lands in the
    * [[testLedger]], and any HARD failure fails the node afterwards — so
    * the downstream `SKIP upstream failed` / fingerprint-drop machinery
    * fires exactly as for a SQL error (dbt build's test-gates-downstream
    * semantics). Unit tests gate BEFORE the model materializes, so
    * nothing of broken logic publishes.
    */
  private def gateTests(node: ModelNode, kind: String,
                        rows: Seq[TestRow]): Unit = {
    testLedger.synchronized { testLedger ++= rows }
    val hard = rows.filter(r => r._3.nonEmpty && !r._4)
    hard.foreach { case (_, desc, err, _) =>
      println(s"    FAIL  ${node.id}: $desc — " +
        PipelineSession.firstLine(err.get))
    }
    if (hard.nonEmpty) throw DataTestViolation(
      s"${hard.size} of ${rows.size} $kind tests failed " +
        s"(first: ${hard.head._2})",
      node.renderedSrc, node.path)
  }

  /** One dbt 1.8 unit test: the model's single record-producing SELECT
    * executed over MOCKED inputs in an isolated `spark.newSession()`
    * (its temp views shadow nothing in the run session), diffed exactly
    * against the declared expect rows on the columns they name. Every
    * model input the SELECT reads must be mocked — the isolated session
    * holds no upstream state, so an unmocked ref is a configuration
    * error, caught NAMED before execution (and a mock for an input the
    * model never reads is the same typo in reverse). A mismatch throws
    * [[DataTestViolation]] (a genuine logic failure); anything that
    * prevents the test from executing throws
    * [[StatementExecutionError]] (broken test ≠ passing test).
    */
  private def runUnitTest(node: ModelNode, utst: UnitTest): Unit = {
    def broken(msg: String): Nothing =
      throw StatementExecutionError(
        s"unit test `${utst.name}`: $msg", node.renderedSrc, node.path)
    val producing = SqlText.splitStatements(node.renderedSrc)
      .filter(SqlText.producesRecords)
    if (producing.size != 1)
      broken(s"model has ${producing.size} record-producing statements; " +
        "unit tests need exactly one")
    // mock exactly what the SELECT reads — node.prevs also carries
    // test-wired DAG edges (a relationships test declares a dependency
    // on its target model) and side-statement refs, which the logic
    // under test never touches. Extraction goes through the SAME
    // shim-aware path the DAG uses (modelRefsInModel: DialectShim
    // rewrite + parseNormalize), so DuckDB-dialect forms Catalyst
    // cannot parse raw (UNION BY NAME, leading FROM, …) still yield
    // their refs instead of an empty dep set
    val deps = DepExtractor.modelRefsInModel(producing.head,
      node.prevs)
    val givenNames = utst.given.map(_._1.toLowerCase).toSet
    val missing = (deps -- givenNames).toSeq.sorted
    if (missing.nonEmpty)
      broken(s"inputs not mocked: ${missing.mkString(", ")} — every " +
        "model input the SELECT reads needs a `given` entry (the test " +
        "runs in an isolated session with no upstream state)")
    val extra = (givenNames -- deps).toSeq.sorted
    if (extra.nonEmpty)
      broken(s"given mocks inputs the model never reads: " +
        extra.mkString(", "))
    val ut = spark.newSession()
    utst.given.foreach { case (in, rows) =>
      if (rows.isEmpty)
        broken(s"given.$in has no rows — an empty mock carries no " +
          "schema; give at least one row (the SELECT may filter it out)")
      unitMockDf(ut, rows, err => broken(s"given.$in: $err"))
        .createOrReplaceTempView(in)
    }
    val adf =
      try ut.sql(DialectShim.rewrite(producing.head, ut))
      catch {
        case e: GraftError => throw e
        case e: Exception => broken(e.getMessage)
      }
    val expectCols = utst.expect.foldLeft(Vector.empty[String]) {
      (acc, r) => acc ++ r.keys.filterNot(k =>
        acc.exists(_.equalsIgnoreCase(k)))
    }
    val resolved = expectCols.map { c =>
      adf.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        broken(s"expect column `$c` not in the model output " +
          s"(columns: ${adf.columns.mkString(", ")})"))
    }
    val actualRows =
      try {
        (if (resolved.isEmpty) adf
         else adf.select(resolved.map(org.apache.spark.sql.functions.col): _*))
          .collect()
      } catch {
        case e: GraftError => throw e
        case e: Exception => broken(e.getMessage)
      }
    def rowKey(cells: Seq[Any]): String =
      cells.map(PipelineSession.canonCell).mkString("\u0001")
    val got = actualRows.toSeq.map(r => rowKey(r.toSeq))
    // value lookup matches the dedupe above: case-insensitive, so a row
    // spelling a column `Bucket` after another spelled it `bucket`
    // contributes its value instead of a silent NULL
    val want = utst.expect.map(r => rowKey(expectCols.map(c =>
      r.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v }.orNull)))
    if (got.sorted != want.sorted) {
      def fmt(keys: Seq[String]): String = keys.take(5)
        .map(_.replace("\u0001", ", ").replace("\u0000N", "NULL")
          .replace("\u0000S", ""))
        .map(k => s"($k)").mkString("; ")
      val missingRows = diffMultiset(want, got)
      val unexpected = diffMultiset(got, want)
      throw DataTestViolation(
        s"unit test `${utst.name}` failed on " +
          s"(${expectCols.mkString(", ")}): ${utst.expect.size} row(s) " +
          s"expected, ${got.size} produced" +
          (if (missingRows.nonEmpty)
            s"; missing: ${fmt(missingRows)}" else "") +
          (if (unexpected.nonEmpty)
            s"; unexpected: ${fmt(unexpected)}" else ""),
        node.renderedSrc, node.path)
    }
  }

  /** Multiset difference a − b (duplicates counted). */
  private def diffMultiset(a: Seq[String], b: Seq[String]): Seq[String] = {
    val counts = mutable.Map.empty[String, Int]
    b.foreach(k => counts(k) = counts.getOrElse(k, 0) + 1)
    a.filter { k =>
      val c = counts.getOrElse(k, 0)
      if (c > 0) { counts(k) = c - 1; false } else true
    }
  }

  /** A mock input DataFrame from YAML rows: column order is first
    * appearance, each column's Spark type comes from its first non-null
    * scalar (int → bigint, float/decimal → double, bool, else string —
    * an all-null column is string), a key omitted from a row is NULL
    * (dbt's partial-row convention), and a later row mixing types in a
    * column fails NAMED.
    */
  private def unitMockDf(ut: SparkSession, rows: Seq[Map[String, Any]],
                         broken: String => Nothing)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val cols = rows.foldLeft(Vector.empty[String]) { (acc, r) =>
      acc ++ r.keys.filterNot(acc.contains)
    }
    if (cols.isEmpty) broken("rows carry no columns")
    // type inference scans EVERY value of the column (not just the
    // first non-null): a column mixing ints and floats widens to
    // double instead of silently truncating the later float to a Long
    val types: Seq[DataType] = cols.map { c =>
      val vs = rows.flatMap(_.get(c)).filter(_ != null)
      if (vs.isEmpty) StringType
      else if (vs.exists(v => v.isInstanceOf[java.lang.Double] ||
          v.isInstanceOf[java.lang.Float] ||
          v.isInstanceOf[java.math.BigDecimal])) DoubleType
      else if (vs.forall(v => v.isInstanceOf[java.lang.Integer] ||
          v.isInstanceOf[java.lang.Long])) LongType
      else if (vs.forall(_.isInstanceOf[java.lang.Boolean])) BooleanType
      else {
        // an unquoted YAML date/timestamp parses to java.util.Date and
        // would stringify as 'Thu Jan 01 ...' — never matching a
        // model's DATE output; fail NAMED instead (ADVICE r18)
        vs.find(_.isInstanceOf[java.util.Date]).foreach { d =>
          broken(s"column `$c` contains an unquoted YAML " +
            s"date/timestamp ($d); quote the scalar (e.g. " +
            "'2026-01-01') so it compares as the model renders it")
        }
        // ints+strings (or bools+ints) must not silently stringify —
        // heterogeneous columns fail NAMED too (ADVICE r18); only a
        // genuinely all-string column types as string
        if (vs.forall(_.isInstanceOf[String])) StringType
        else broken(s"column `$c` mixes incompatible scalar types (" +
          vs.map(_.getClass.getSimpleName).distinct.sorted
            .mkString(", ") + "); use one type per column or quote " +
          "every value to compare as strings")
      }
    }
    val schema = StructType(cols.zip(types).map { case (c, t) =>
      StructField(c, t, nullable = true) })
    val data: Seq[Row] = rows.map { r =>
      Row(cols.zip(types).map { case (c, t) =>
        r.get(c).orNull match {
          case null => null
          case v => (t, v) match {
            case (LongType, n @ (_: java.lang.Integer |
                                 _: java.lang.Long)) =>
              n.asInstanceOf[java.lang.Number].longValue()
            case (DoubleType, n: java.lang.Number) => n.doubleValue()
            case (BooleanType, b: java.lang.Boolean) => b.booleanValue()
            case (StringType, x) => String.valueOf(x)
            case (_, x) => broken(s"column `$c` mixes types " +
              s"(${x.getClass.getSimpleName} vs ${t.simpleString})")
          }
        }
      }: _*)
    }
    ut.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava, schema)
  }

  /** dbt model contracts: the declared columns checked against the
    * schema the SELECT actually produces — analysis-only (no job runs)
    * and BEFORE the materialization publishes, so a drifted model never
    * replaces a conforming table. Names compare case-insensitively
    * (Spark's resolution default), types by Spark's own parse of the
    * declared data_type (so `bigint`/`long` and `string`/`varchar`
    * spellings agree); declaration order is not enforced (dbt
    * semantics). Missing, extra, and type-drifted columns all report
    * together, NAMED.
    */
  private def checkContract(node: ModelNode, select: String): Unit = {
    val actual =
      try spark.sql(select).schema
      catch {
        case e: GraftError => throw e
        case e: Exception =>
          throw StatementExecutionError(e.getMessage, select, node.path)
      }
    def norm(c: ContractColumn): String =
      // char/varchar declarations normalize to string — Spark itself
      // stores them as string, so a varchar(25) contract must accept
      // the string column the engine actually materializes
      try org.apache.spark.sql.catalyst.util.CharVarcharUtils
        .replaceCharVarcharWithString(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(c.dataType)).simpleString
      catch {
        case e: Exception => throw ContractViolation(
          s"contract column `${c.name}`: unparseable data_type " +
            s"`${c.dataType}`: ${e.getMessage}", select, node.path)
      }
    val actualByName = actual.fields
      .map(f => f.name.toLowerCase -> f).toMap
    val declaredNames = node.cfg.contractColumns.map(_.name.toLowerCase)
    val missing = declaredNames.filterNot(actualByName.contains)
    val extra = actual.fields.map(_.name.toLowerCase)
      .filterNot(declaredNames.contains)
    val drift = node.cfg.contractColumns.flatMap { c =>
      actualByName.get(c.name.toLowerCase).flatMap { f =>
        val want = norm(c)
        val got = f.dataType.simpleString
        if (want != got) Some(s"`${c.name}` declared $want, got $got")
        else None
      }
    }
    if (missing.nonEmpty || extra.nonEmpty || drift.nonEmpty)
      throw ContractViolation(
        s"model `${node.id}` violates its enforced contract:" +
          (if (missing.nonEmpty)
            s" missing declared column(s) ${missing.mkString(", ")};"
          else "") +
          (if (extra.nonEmpty)
            s" undeclared column(s) ${extra.mkString(", ")};"
          else "") +
          (if (drift.nonEmpty)
            s" type drift: ${drift.mkString("; ")};"
          else ""),
        select, node.path)
  }

  /** dbt `test`: every declared data test run against the EXISTING
    * materializations (typically restored from db_path) WITHOUT
    * executing any model — the standalone verification pass over
    * yesterday's build. Respects `--select`/`--exclude`; returns one
    * row per test (model id, test description, failure, warn-only).
    * The CLI `test` subcommand prints these and exits non-zero on any
    * ERROR-severity failure — warn-level violations report but don't
    * flip the exit code (dbt's warn semantics).
    */
  def runTestsOnly(): Seq[TestRow] = {
    val _ = spark
    applySettings()
    val (order, nodeMap) = buildGraph()
    val selected = selectionSet(order, nodeMap)
    val runOrder = selected.fold(order)(s => order.filter(s))
    runOrder.flatMap { id =>
      val n = nodeMap(id)
      // unit tests run here too (dbt 1.8: `dbt test` includes them) —
      // they need no materialized state, only their mocks
      n.cfg.unitTests.map(unitTestRow(n, _)) ++ n.cfg.tests.map(dataTestRow(n, _))
    }
  }

  /** A filesystem/view-name-safe slug for a test's failure store —
    * UNIQUE per distinct test on a model, stable across runs:
    * accepted_values folds a short hash of its value list (two lists on
    * one column are two different tests and must not share a store);
    * custom SQL slugs from its config-relative id, not the basename
    * (tests/a/x.sql vs tests/b/x.sql), so the store survives relocating
    * the project. The remaining shapes are fully keyed by their
    * column/target — declaring one twice is the same test twice.
    */
  private def testSlug(t: ModelTest): String = (t match {
    case ModelTest.NotNull(c) => s"not_null_$c"
    case ModelTest.Unique(c) => s"unique_$c"
    case ModelTest.AcceptedValues(c, vs) =>
      // NUL-joined so ["a b"] and ["a","b"] hash differently
      s"accepted_values_${c}_${md5Hex8(vs.mkString("\u0000"))}"
    case ModelTest.Relationships(c, to, f) => s"relationships_${c}_${to}_$f"
    case ModelTest.CustomSql(_, id) => s"sql_${id.stripSuffix(".sql")}"
    // a configured (where/threshold) variant is a DIFFERENT test from
    // its unscoped sibling — fold the config into the slug
    case c @ ModelTest.Configured(i, _, _, _) =>
      s"${testSlug(i)}_${md5Hex8(c.describe)}"
    case w => testSlug(ModelTest.base(w)) // severity/store never reach here
  }).replaceAll("[^A-Za-z0-9_]", "_")

  /** Shared slug-hash fragment: one definition, or stores and
    * fingerprints silently diverge when the hashing ever changes.
    */
  private def md5Hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)

  private def runModelTest(node: ModelNode, t0: ModelTest,
                           warnSeverity: Boolean = false): Unit =
    locally {
      import org.apache.spark.sql.functions.{col, count, lit}
      // store_failures rides inside the severity wrapper, which
      // [[dataTestRow]] strips; unwrap it here so the failures persist
      val (store, t1) = t0 match {
        case ModelTest.StoreFailures(inner) => (true, inner)
        case x => (false, x)
      }
      // where/threshold config sits innermost; the slug keys on the
      // CONFIGURED test so a scoped variant never shares a store with
      // its unscoped sibling
      val (cfg, t) = t1 match {
        case c @ ModelTest.Configured(inner, _, _, _) => (Some(c), inner)
        case x => (None, x)
      }
      val slug = testSlug(t1)
      val df0 =
        try spark.table(node.id)
        catch { case e: Exception =>
          throw StatementExecutionError(
            s"test ${t.describe}: cannot read model output: ${e.getMessage}",
            node.renderedSrc, node.path) }
      // dbt's `where` config: scope the tested relation BEFORE the test
      // (custom SQL rejects `where` at config load — its query owns its
      // own predicate). A broken predicate is a broken test: loud.
      val df = cfg.flatMap(_.where) match {
        case Some(w) =>
          try {
            val filtered = df0.filter(org.apache.spark.sql.functions.expr(w))
            filtered.queryExecution.analyzed // surface a bad predicate NOW
            filtered
          } catch {
            case e: Exception => throw StatementExecutionError(
              s"test ${t1.describe}: `where` predicate failed: " +
                e.getMessage, node.renderedSrc, node.path)
          }
        case None => df0
      }
      // each shape yields its VIOLATING ROWS as a DataFrame; the count
      // (and optional failure store) runs it exactly once below
      val badDf: org.apache.spark.sql.DataFrame = t match {
        case ModelTest.NotNull(c) => df.filter(col(c).isNull)
        case ModelTest.Unique(c) =>
          df.groupBy(col(c)).agg(count(lit(1)).as("n_records"))
            .filter(col("n_records") > 1)
        case ModelTest.AcceptedValues(c, vs) =>
          df.filter(col(c).isNotNull && !col(c).isin(vs: _*))
        case ModelTest.Relationships(c, to, field) =>
          // referential integrity = one anti-join against the target's
          // materialization (which the DAG edge guarantees ran first);
          // nulls are not violations — declare not_null alongside
          val target =
            try spark.table(to)
            catch { case e: Exception =>
              throw StatementExecutionError(
                s"test ${t.describe}: cannot read relationships target " +
                  s"`$to`: ${e.getMessage}", node.renderedSrc, node.path) }
          df.filter(col(c).isNotNull)
            .join(target.select(col(field).as(c)), Seq(c), "left_anti")
        case tc @ ModelTest.CustomSql(p, _) =>
          val sql = tc.content.getOrElse(throw StatementExecutionError(
            s"test ${t.describe}: cannot read test file $p",
            node.renderedSrc, node.path))
          val rendered = PipelineSession.renderIncrementalContext(
            PipelineSession.renderVars(SqlText.stripComments(sql),
              effectiveVars, node.id),
            node.id, incremental = false)
          try spark.sql(DialectShim.rewrite(rendered, spark))
          catch {
            case e: GraftError => throw e
            case e: Exception => throw StatementExecutionError(
              s"test ${t.describe} failed to execute: ${e.getMessage}",
              sql, node.path)
          }
      }
      // store_failures: persist the violating rows (even zero of them —
      // the table must exist for an engineer to query), then count the
      // WRITTEN parquet: one execution of the test query, a metadata-only
      // count, and the stored rows can never disagree with the verdict.
      // repartition(1) guarantees at least one part file so the empty
      // store reads back with its schema intact.
      val storeDir: Option[String] =
        if (!store) None
        else {
          val db = config.dbPath.getOrElse(throw GenericError(
            s"models.${node.id}.tests: store_failures requires db_path " +
              "in config.yaml (the failure store persists under it)"))
          val dir = java.nio.file.Paths.get(db, "test_failures", node.id,
            slug).toString
          Some(dir)
        }
      val bad: Long = storeDir match {
        case Some(dir) =>
          try {
            badDf.repartition(1).write.mode("overwrite").parquet(dir)
            val back = spark.read.parquet(dir)
            back.createOrReplaceTempView(
              s"${node.id}__failures__$slug")
            back.count()
          } catch {
            case e: GraftError => throw e
            case e: Exception => throw StatementExecutionError(
              s"test ${t.describe}: store_failures write to $dir " +
                s"failed: ${e.getMessage}", node.renderedSrc, node.path)
          }
        case None =>
          try badDf.count()
          catch {
            case e: GraftError => throw e
            case e: Exception => throw StatementExecutionError(
              s"test ${t.describe} failed to execute: ${e.getMessage}",
              node.renderedSrc, node.path)
          }
      }
      // dbt's threshold semantics (defaults `!= 0`): error_if decides
      // failure; otherwise warn_if decides a non-failing warning. With
      // no thresholds configured, error_if's default reproduces the
      // plain `bad > 0 -> fail` behavior exactly. Under severity: warn
      // dbt skips error_if entirely and consults warn_if only (ADVICE
      // r16) — a count below a configured warn_if passes SILENTLY
      // instead of tripping the default error_if and warning spuriously.
      val errorIfHolds = cfg.flatMap(_.errorIf)
        .map(ModelTest.parseCondition(node.id, "error_if", _))
        .getOrElse((n: Long) => n != 0L)
      val warnIfHolds = cfg.flatMap(_.warnIf)
        .map(ModelTest.parseCondition(node.id, "warn_if", _))
        .getOrElse((n: Long) => n != 0L)
      val what = s"$bad violating " +
        (t match { case _: ModelTest.Unique => "duplicated values"
                   case _ => "rows" }) +
        storeDir.map(d => s" (failures stored: $d)").getOrElse("")
      if (warnSeverity) {
        // thrown as a Violation: [[dataTestRow]] downgrades a
        // warn-severity violation to warn-only
        if (warnIfHolds(bad))
          throw DataTestViolation(
            s"data test ${t1.describe} failed: $what",
            node.renderedSrc, node.path)
      } else if (errorIfHolds(bad))
        throw DataTestViolation(
          s"data test ${t1.describe} failed: $what",
          node.renderedSrc, node.path)
      else if (warnIfHolds(bad))
        throw DataTestWarning(
          s"data test ${t1.describe} warning: $what",
          node.renderedSrc, node.path)
    }

  /** Materialize the producing SELECT per the node's materialization
    * mode; returns the status string ("SELECT" defers the row-count
    * postlude to the caller so post-SELECT side statements run first).
    */
  private def materializeSelect(node: ModelNode, select: String,
                                rawSelect: String): String = node.mat match {
    case "view" =>
      try {
        spark.sql(select).createOrReplaceTempView(node.id)
        // persist the rendered definition so later sessions over the
        // same db_path see the view (reference node.rs:157-165 parity)
        ViewStore.saveView(config.dbPath, node.id, select, Some(rawSelect))
        "CREATE VIEW"
      } catch { case e: Exception =>
        throw StatementExecutionError(e.getMessage, select, node.path) }
    case mat @ ("table" | "incremental" | "snapshot") =>
      try {
        // a restored view with this name (e.g. the model switched from
        // view to table materialization) would otherwise SHADOW the new
        // table — temp views win single-part name resolution
        spark.catalog.dropTempView(node.id)
        // --full-refresh: rebuild from scratch — the escape hatch when
        // the guard predicate or the model's shape changed and the
        // accumulated table would be wrong to merge into (dbt parity);
        // is_incremental() rendered false for the same reason
        lazy val exists = !fullRefresh && targetTableExists(node.id)
        if (mat == "snapshot") materializeSnapshot(node, select, exists)
        else if (mat == "table" || !exists)
          // a table build, or an incremental bootstrap (is_incremental()
          // rendered false, so the SELECT covers the full history);
          // partition_by lays the table out for the insert_overwrite
          // strategy and for partition-pruned consumers
          replaceTable(node.id, spark.sql(select), node.cfg.partitionBy)
        else node.cfg.incrementalStrategy.map(_.toLowerCase) match {
          case Some("insert_overwrite") =>
            // Spark's native big-data incremental: DYNAMIC partition
            // overwrite — partitions present in the fresh slice are
            // replaced wholesale, untouched partitions never move, no
            // key join and no history rewrite at all. The right
            // strategy when the model is late-arriving-data-by-
            // partition (recompute the last N days) rather than
            // row-keyed.
            val partCol = node.cfg.partitionBy.getOrElse(throw GenericError(
              s"incremental_strategy: insert_overwrite for " +
                s"`${node.id}` requires models.${node.id}.partition_by"))
            require(spark.table(node.id).columns.contains(partCol),
              s"partition_by `$partCol` is not a column of `${node.id}`")
            val fresh = spark.sql(select)
            overwritePartitions(node.id, "insert_overwrite", fresh)(
              write => write(fresh))
          case Some("microbatch") =>
            microbatchRun(node, select)
          case None | Some("merge") | Some("delete+insert") =>
            // merge run: is_incremental() rendered true, so the SELECT
            // is the user-restricted fresh slice (typically `WHERE ts >
            // (SELECT max(ts) FROM {{ this }})`) — the full-history
            // scan never happens again. Delete+insert by unique_key:
            // existing rows whose key reappears are replaced; no key =
            // append-only (the dbt default). The merged snapshot is
            // written to a staging table first (Spark cannot overwrite
            // a table it is reading), then swapped in by rename.
            val existing = spark.table(node.id)
            val (fresh, widen) =
              alignIncrementalSchema(node, spark.sql(select), existing)
            val merged = node.cfg.uniqueKey match {
              case Some(k) =>
                existing.join(fresh.select(fresh.col(k)).distinct(),
                    Seq(k), "left_anti")
                  .unionByName(fresh, allowMissingColumns = widen)
              case None =>
                existing.unionByName(fresh, allowMissingColumns = widen)
            }
            overwriteViaStaging(node.id, merged, node.cfg.partitionBy)
          case Some(other) =>
            throw GenericError(s"Unknown incremental_strategy for " +
              s"`${node.id}`: $other (supported: merge, " +
              "insert_overwrite, microbatch)")
        }
        ViewStore.saveTable(spark, config.dbPath, node.id)
        "SELECT" // row-count postlude runs after the tail statements
      } catch {
        case e: GraftError => throw e
        case e: Exception =>
          throw StatementExecutionError(e.getMessage, select, node.path)
      }
    case other =>
      throw GenericError(s"Unknown materialization type: $other")
  }

  /** Drop table `id` and clear its leftover warehouse dir (a restored
    * table is external; see ViewStore.dropTableClearingLocation), then
    * save `df` as `id`, partitioned by `partitionBy` when declared: the
    * table build and the incremental/snapshot bootstrap. `df` is built
    * after the drop.
    */
  private def replaceTable(id: String, df: => org.apache.spark.sql.DataFrame,
                           partitionBy: Option[String]): Unit = {
    ViewStore.dropTableClearingLocation(spark, id)
    val w = df.write.mode("overwrite")
    partitionBy.fold(w)(c => w.partitionBy(c)).saveAsTable(id)
  }

  /** `materialize: snapshot` — SCD2 history under the dbt `check` or
    * `timestamp` strategy: the first run (or --full-refresh) opens every
    * fresh row, later runs merge through [[overwriteViaStaging]].
    */
  private def materializeSnapshot(node: ModelNode, select: String,
                                  exists: Boolean): Unit = {
    val key = node.cfg.uniqueKey.getOrElse(throw GenericError(
      s"materialize: snapshot for `${node.id}` requires " +
        s"models.${node.id}.unique_key"))
    val fresh = spark.sql(select)
    require(fresh.columns.contains(key),
      s"snapshot `${node.id}`: unique_key `$key` is not a column " +
        s"of the SELECT (${fresh.columns.mkString(", ")})")
    val ts = java.sql.Timestamp.from(java.time.Instant.now())
    val strategy = node.cfg.snapshotStrategy.map(_.toLowerCase)
      .getOrElse("check")
    val updatedAt = strategy match {
      case "check" => None
      case "timestamp" => Some(node.cfg.updatedAt.getOrElse(
        throw GenericError(s"snapshot `${node.id}` with " +
          s"strategy: timestamp requires models.${node.id}" +
          ".updated_at")))
      case other => throw GenericError(s"Unknown snapshot strategy " +
        s"for `${node.id}`: $other (supported: check, timestamp)")
    }
    updatedAt.foreach { ua =>
      require(fresh.columns.contains(ua),
        s"snapshot `${node.id}`: updated_at `$ua` is not a column " +
          s"of the SELECT (${fresh.columns.mkString(", ")})")
    }
    if (!exists) {
      import org.apache.spark.sql.functions.{col, lit}
      requireUniqueFreshKeys(node.id, fresh, key)
      // check-strategy bootstrap opens at the RUN clock; the
      // timestamp strategy opens each row at its own source-system
      // update time (dbt semantics) — and a NULL there can never be
      // versioned, so it fails loudly up front
      val validFrom = updatedAt match {
        case None => lit(ts)
        case Some(ua) =>
          val nNull = fresh.filter(col(ua).isNull).count()
          if (nNull > 0)
            throw GenericError(s"snapshot `${node.id}` (strategy: " +
              s"timestamp): $nNull fresh rows have NULL `$ua` — a " +
              "null update time cannot be versioned")
          col(ua).cast("timestamp")
      }
      replaceTable(node.id, fresh.withColumn("valid_from", validFrom)
        .withColumn("valid_to", lit(null).cast("timestamp")),
        node.cfg.partitionBy)
    } else {
      val merged = updatedAt match {
        case None => snapshotMerge(node.id, fresh, key, ts,
          node.cfg.invalidateHardDeletes)
        case Some(ua) =>
          snapshotMergeByTimestamp(node.id, fresh, key, ua, ts,
            node.cfg.invalidateHardDeletes)
      }
      overwriteViaStaging(node.id, merged, node.cfg.partitionBy)
    }
  }

  /** Engine settings pass-through, fail-fast (src/main.rs:134-155). */
  def applySettings(): Unit =
    config.settings.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case e: Exception =>
        throw GenericError(s"Cannot set setting `$k` to `$v`: ${e.getMessage}") }
    }

  /** h/m/s/ms wall-time format (src/session.rs:294-316). */
  def formatElapsed(ms: Long): String = {
    val h = ms / 3600000; val m = (ms % 3600000) / 60000
    val s = (ms % 60000) / 1000; val rem = ms % 1000
    val parts = Seq.newBuilder[String]
    if (h > 0) parts += s"${h}h"
    if (m > 0) parts += s"${m}m"
    if (s > 0) parts += s"${s}s"
    parts += s"${rem}ms"
    parts.result().mkString(" ")
  }
}

object PipelineSession {
  /** `path:` selector matching: glob-translate the pattern (`*` within a
    * segment, `**` across segments, `?` one char) and match it against
    * any whole run of `/`-separated segments of the model's source path —
    * so `path:models/staging` selects every model under that directory
    * and `path:stg_*.sql` selects by filename, without the user spelling
    * the absolute discovery root.
    */
  private[pipeline] def pathSelectorMatches(pattern: String,
                                            path: String): Boolean = {
    val norm = path.replace('\\', '/')
    val pat = pattern.replace('\\', '/').stripSuffix("/")
    if (pat.isEmpty) return false
    val sb = new StringBuilder
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '*' if i + 1 < pat.length && pat.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 2
        case '*' => sb.append("[^/]*"); i += 1
        case '?' => sb.append("[^/]"); i += 1
        case c =>
          sb.append(java.util.regex.Pattern.quote(c.toString)); i += 1
      }
    }
    ("(^|.*/)" + sb + "(/.*|$)").r.matches(norm)
  }

  /** Pre-render substitution of the dbt incremental context, applied
    * BEFORE macro expansion so the jinja subset sees plain booleans:
    * `is_incremental()` → `true`/`false` (true only when the model is
    * `materialize: incremental` AND its target table already exists, so
    * `{% if is_incremental() %}` guards the fresh-slice predicate exactly
    * like dbt), and `{{ this }}` → the model's own id (the target
    * relation, usable inside that guard as `SELECT max(ts) FROM
    * {{ this }}`). The rendered text differs between bootstrap and
    * incremental runs BY DESIGN: the closure fingerprint then
    * re-executes the model after a bootstrap and skips it only once an
    * incremental render has itself run clean.
    */
  private[pipeline] def renderIncrementalContext(sql: String, id: String,
      incremental: Boolean): String =
    """(?i)\bis_incremental\s*\(\s*\)""".r
      .replaceAllIn(sql, incremental.toString)
      .replaceAll("""\{\{\s*this\s*\}\}""",
        java.util.regex.Matcher.quoteReplacement(id))

  /** dbt `{{ var('name') }}` / `{{ var('name', default) }}` rendering —
    * a pre-macro substitution like [[renderIncrementalContext]]: the
    * value (config `vars:` overlaid by `--vars`) drops in as RAW TEXT
    * (the user supplies SQL quoting: `'{{ var("lang") }}'`), so values
    * work as literals, identifiers, or expression fragments alike. A
    * quoted default unquotes; an unknown var with no default fails
    * LOUDLY naming the model and the known vars — dbt's behavior, and a
    * silently-empty substitution would execute the wrong query.
    */
  private[pipeline] def renderVars(sql: String,
                                   vars: Map[String, String],
                                   where: String): String = {
    val rx =
      """\{\{\s*var\s*\(\s*['"]([^'"]+)['"]\s*(?:,\s*(.*?)\s*)?\)\s*\}\}""".r
    rx.replaceAllIn(sql, m => {
      val name = m.group(1)
      val default = Option(m.group(2)).map { d =>
        if (d.length >= 2 &&
            ((d.head == '\'' && d.last == '\'') ||
             (d.head == '"' && d.last == '"')))
          d.substring(1, d.length - 1)
        else d
      }
      val value = vars.get(name).orElse(default).getOrElse(
        throw GenericError(s"$where: {{ var('$name') }} has no value — " +
          s"declare it under `vars:` or pass --vars $name=… " +
          (if (vars.isEmpty) "(no vars are set)"
           else s"(known vars: ${vars.keys.toSeq.sorted.mkString(", ")})")))
      java.util.regex.Matcher.quoteReplacement(value)
    })
  }

  /** First message line for one-line reports — null-safe (a raw NPE
    * from Spark wraps with getMessage == null) and empty-safe, falling
    * back to the error's class name.
    */
  private[pipeline] def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getSimpleName)

  private[pipeline] def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Canonical cell value for unit-test row comparison: numerics
    * normalize through BigDecimal (so a YAML `1` matches a DOUBLE 1.0
    * and a BIGINT 1 alike), everything else is its string form.
    * NaN/Infinity keep their Double spelling (BigDecimal cannot carry
    * them). The encoding is INJECTIVE on null-ness (ADVICE r18 — the
    * old bare "∅" sentinel collided with a real string "∅"): NULL maps
    * to "\u0000N", and any real string that itself starts with U+0000
    * is escaped behind "\u0000S", so no string value can forge the
    * null key. An unquoted YAML date/timestamp (java.util.Date, never
    * produced by Spark — model output arrives as java.sql.Date /
    * Timestamp, which render ISO) fails NAMED instead of stringifying
    * as 'Thu Jan 01 ...'.
    */
  private[pipeline] def canonCell(v: Any): String = v match {
    case null => "\u0000N"
    case s: String if s.startsWith("\u0000") => "\u0000S" + s
    case d: java.util.Date if !d.isInstanceOf[java.sql.Date] &&
        !d.isInstanceOf[java.sql.Timestamp] =>
      throw GenericError("unit-test rows contain an unquoted YAML " +
        s"date/timestamp ($d); quote the scalar (e.g. '2026-01-01') " +
        "so it compares as the model renders it")
    case b: java.lang.Boolean => b.toString
    case d: java.lang.Double if d.isNaN || d.isInfinite => d.toString
    case f: java.lang.Float if f.isNaN || f.isInfinite => f.toString
    case n @ (_: java.lang.Byte | _: java.lang.Short |
              _: java.lang.Integer | _: java.lang.Long) =>
      canonNum(new java.math.BigDecimal(n.toString))
    case f: java.lang.Float =>
      canonNum(java.math.BigDecimal.valueOf(f.doubleValue()))
    case d: java.lang.Double => canonNum(java.math.BigDecimal.valueOf(d))
    case bd: java.math.BigDecimal => canonNum(bd)
    case bd: scala.math.BigDecimal => canonNum(bd.bigDecimal)
    case other => String.valueOf(other)
  }

  private def canonNum(bd: java.math.BigDecimal): String =
    if (bd.compareTo(java.math.BigDecimal.ZERO) == 0) "0"
    else bd.stripTrailingZeros.toPlainString

  // shared across sessions (a long-lived driver may build many): daemon
  // threads, so JVM exit is never held up. They only wait on Spark jobs,
  // so a few keep the scheduler busy; a wide pipeline queues its models.
  private val poolSlots = math.max(4, Runtime.getRuntime.availableProcessors / 2)
  private lazy val wavePool = java.util.concurrent.Executors.newFixedThreadPool(
    poolSlots,
    (r: Runnable) => {
      val t = new Thread(r, "graft-wave"); t.setDaemon(true); t
    })
}
