package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pipeline configuration, the analog of the reference's `config.yaml`
  * (/root/reference/src/session.rs:22-40, examples/basic/config.yaml).
  *
  * Keys (reference name kept; Spark-flavored alias also accepted):
  *   models_dir       — root scanned recursively for *.sql models
  *   db_path          — reference: DuckDB file. Ours: warehouse directory
  *                      for `table` materializations; absent → in-memory
  *                      (temp views only), mirroring DuckDB's in-memory mode
  *   macro_path       — directory of macro files
  *   seeds_dir        — directory of *.csv seed files (dbt seeds): each
  *                      becomes a TABLE node named by its filename stem,
  *                      participating in the DAG/selection/changed-only
  *                      machinery like any model
  *   duckdb_settings / spark_settings — engine key/value pass-through
  *   models.<id>.materialize — "view" (default) | "table" | "incremental"
  */
final case class PipelineConfig(
    modelsDir: String = ".",
    dbPath: Option[String] = None,
    macroPath: Option[String] = None,
    seedsDir: Option[String] = None,
    settings: Map[String, String] = Map.empty,
    models: Map[String, ModelConfig] = Map.empty,
    vars: Map[String, String] = Map.empty,
    exposures: Seq[Exposure] = Nil,
    // the config file's directory (set by `load`) — the anchor for
    // machine-independent identities like the custom-SQL test slug
    // (ADVICE r16: an absolute-path slug embeds the mount point, so
    // relocating the project orphans failure stores and renames views)
    baseDir: Option[String] = None)

/** A dbt exposure: a named DOWNSTREAM consumer of models (a dashboard,
  * an ML job, an application) declared in config so the dependency is
  * visible in the graph even though no SQL file exists for it. Exposures
  * never execute; they give `viz`/`docs` their real leaf nodes and
  * `--select +exposure:<name>` the "rebuild everything this dashboard
  * reads" selection dbt teams run before a publish.
  */
final case class Exposure(name: String,
                          exposureType: String,
                          owner: Option[String],
                          url: Option[String],
                          dependsOn: Seq[String])

final case class ModelConfig(materialize: Option[String] = None,
                             uniqueKey: Option[String] = None,
                             tests: Seq[ModelTest] = Nil,
                             tags: Seq[String] = Nil,
                             incrementalStrategy: Option[String] = None,
                             partitionBy: Option[String] = None,
                             eventTime: Option[String] = None,
                             batchSize: Option[String] = None,
                             lookback: Option[Int] = None,
                             snapshotStrategy: Option[String] = None,
                             updatedAt: Option[String] = None,
                             onSchemaChange: Option[String] = None,
                             preHooks: Seq[String] = Nil,
                             postHooks: Seq[String] = Nil,
                             freshness: Option[Freshness] = None,
                             invalidateHardDeletes: Boolean = false,
                             enabled: Boolean = true,
                             unitTests: Seq[UnitTest] = Nil,
                             contract: Boolean = false,
                             contractColumns: Seq[ContractColumn] = Nil)

/** One dbt 1.8-style unit test (`models.<id>.unit_tests:`): mock rows
  * for every model input the SELECT reads, and the exact rows the logic
  * must produce from them. Runs BEFORE the model materializes (`graft
  * build` / `graft test`) in an isolated session — the model's SELECT
  * over the mocks, diffed against `expect` on the expect columns — so
  * broken transform logic is caught before it publishes anything.
  * Row values keep their YAML scalar types; a column omitted from a row
  * is NULL (dbt's partial-row convention).
  */
final case class UnitTest(name: String,
                          given: Seq[(String, Seq[Map[String, Any]])],
                          expect: Seq[Map[String, Any]]) {
  /** Folds into the closure fingerprint: editing a unit test's rows
    * must re-execute the model under `--changed-only`, exactly like
    * editing a data test.
    */
  def describe: String = {
    def rowsStr(rows: Seq[Map[String, Any]]): String =
      rows.map(_.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(",")).mkString(";")
    val body = given.map { case (in, rows) => s"$in:${rowsStr(rows)}" }
      .mkString("|") + "=>" + rowsStr(expect)
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"unit_test($name#$fp)"
  }
}

/** One declared column of an enforced model contract
  * (`models.<id>.columns:` under `contract: enforced`): the name and
  * the Spark SQL data_type the materialized model must expose.
  */
final case class ContractColumn(name: String, dataType: String)

/** dbt source freshness declared on a file-reading model: how old may
  * the newest backing file be before the run warns / fails. Checked
  * against the `read_*` targets' modification times right before the
  * node executes.
  */
final case class Freshness(warnAfterSeconds: Option[Long],
                           errorAfterSeconds: Option[Long])

/** A dbt-style data test declared on a model (`models.<id>.tests:`) and
  * run against the materialized result right after the model executes —
  * a violating row count > 0 fails the model like any SQL error would.
  */
sealed trait ModelTest { def describe: String }
object ModelTest {
  final case class NotNull(column: String) extends ModelTest {
    def describe = s"not_null($column)"
  }
  final case class Unique(column: String) extends ModelTest {
    def describe = s"unique($column)"
  }
  final case class AcceptedValues(column: String, values: Seq[String])
      extends ModelTest {
    def describe = s"accepted_values($column in ${values.mkString("[", ", ", "]")})"
  }
  /** dbt's referential-integrity test: every non-null value of `column`
    * must exist in `to`.`field`. Declaring it also WIRES a DAG edge from
    * `to` to the tested model (the test can only run once its target is
    * materialized — order matters, and the dependency belongs in the
    * graph, visible in `viz`).
    */
  final case class Relationships(column: String, to: String, field: String)
      extends ModelTest {
    def describe = s"relationships($column -> $to.$field)"
  }
  /** A custom-SQL data test (dbt's singular test): a SQL file whose
    * SELECT returns VIOLATING rows — any row fails the model. `{{ this }}`
    * in the file refers to the tested model. The file's content folds
    * into [[describe]] (and therefore the model's closure fingerprint),
    * so editing the test re-executes the model under `--changed-only`;
    * a missing file describes as such and fails loudly at run time.
    */
  final case class CustomSql(path: String) extends ModelTest {
    def content: Option[String] =
      try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      catch { case _: Exception => None }
    def describe: String = {
      val fp = content match {
        case Some(c) => java.security.MessageDigest.getInstance("MD5")
          .digest(c.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        case None => "missing"
      }
      s"sql($path#$fp)"
    }
  }
  /** dbt's `severity: warn`: the wrapped test runs identically, but a
    * violation REPORTS without failing the node (the standard migration
    * path for a new constraint on old data — declare it, watch it, then
    * promote it to error). The `warn:` describe prefix folds the
    * severity into the model's closure fingerprint, so flipping a
    * test's severity re-executes the model under `--changed-only`.
    */
  final case class Warn(inner: ModelTest) extends ModelTest {
    def describe = s"warn:${inner.describe}"
  }

  /** dbt's `store_failures: true`: the wrapped test's VIOLATING ROWS are
    * persisted under `<db_path>/test_failures/<model>/<test-slug>` (and
    * registered as a `<model>__failures__<slug>` temp view) every time
    * the test runs — the debugging table an engineer queries instead of
    * re-deriving the failures by hand. The violation count is computed
    * FROM the stored table (one execution of the test query, a
    * metadata-only count on the written parquet), so the stored rows and
    * the reported count can never disagree. The describe prefix folds
    * the flag into the closure fingerprint like `severity` does.
    * Nesting is always Warn(StoreFailures(test)) — severity outermost.
    */
  final case class StoreFailures(inner: ModelTest) extends ModelTest {
    def describe = s"store_failures:${inner.describe}"
  }

  /** dbt's per-test `where` / `warn_if` / `error_if` configs, carried as
    * one wrapper (innermost — severity and store_failures stack outside):
    * `where` scopes the tested relation with a SQL predicate before the
    * test runs (the "only recent partitions" migration scoping; rejected
    * on custom-SQL tests, whose query already owns its own WHERE);
    * `error_if`/`warn_if` are conditions on the VIOLATION COUNT
    * (`"> 10"`, `">= 5"`, `"!= 0"`): error_if failing throws, else
    * warn_if failing reports a warning without failing the node, else
    * the test passes — dbt's threshold semantics, with dbt's `"!= 0"`
    * defaults. All three fold into describe (and therefore the closure
    * fingerprint), so editing a threshold re-executes under
    * `--changed-only`.
    */
  final case class Configured(inner: ModelTest, where: Option[String],
                              warnIf: Option[String],
                              errorIf: Option[String]) extends ModelTest {
    def describe: String = {
      val parts = where.map(w => s"where($w)").toSeq ++
        warnIf.map(w => s"warn_if($w)") ++
        errorIf.map(e => s"error_if($e)")
      s"${parts.mkString(":")}:${inner.describe}"
    }
  }

  /** A parsed threshold condition over the violation count. */
  def parseCondition(modelId: String, knob: String,
                     raw: String): Long => Boolean = {
    val m = "^\\s*(>=|<=|!=|=|>|<)\\s*(\\d+)\\s*$".r
    raw match {
      case m(op, n) =>
        val v =
          try n.toLong
          catch { case _: NumberFormatException => throw GenericError(
            s"models.$modelId.tests: $knob threshold `$n` exceeds the " +
              "64-bit integer range") }
        op match {
          case ">"  => _ > v
          case ">=" => _ >= v
          case "<"  => _ < v
          case "<=" => _ <= v
          case "!=" => _ != v
          case "="  => _ == v
        }
      case other => throw GenericError(
        s"models.$modelId.tests: $knob must be like `> 10`, `>= 5`, " +
          s"`!= 0`; got `$other`")
    }
  }

  /** The wrapper-stripped test (what actually executes). */
  @annotation.tailrec
  def base(t: ModelTest): ModelTest = t match {
    case Warn(i) => base(i)
    case StoreFailures(i) => base(i)
    case Configured(i, _, _, _) => base(i)
    case x => x
  }

  /** Strip only the severity wrapper, keeping StoreFailures — the
    * standalone `graft test` path runs this so warn-downgrading is the
    * caller's decision while the failure store still writes.
    */
  @annotation.tailrec
  def stripWarn(t: ModelTest): ModelTest = t match {
    case Warn(i) => stripWarn(i)
    case x => x
  }
}

object PipelineConfig {

  /** Load config.yaml; a missing file yields defaults with a notice, like
    * the reference (src/main.rs:110-120). Relative models_dir / macro_path
    * resolve against the CONFIG FILE's directory, not the process cwd —
    * `run --config examples/basic/config.yaml` must work from anywhere,
    * and a silently-empty model discovery is the failure mode otherwise.
    */
  def load(path: Path): PipelineConfig = {
    // a missing file still rebases the defaults (models_dir ".") against
    // the config's directory, so `run --config some/dir/config.yaml`
    // scans some/dir either way instead of silently scanning the cwd
    val loaded =
      if (!Files.exists(path)) {
        println(s"Config file not found at $path, using defaults")
        PipelineConfig()
      } else fromYaml(Files.readString(path))
    val baseDir = Option(path.toAbsolutePath.getParent)
    def rebase(p: String): String = {
      val pp = Paths.get(p)
      if (pp.isAbsolute) p
      else baseDir.map(_.resolve(pp).toString).getOrElse(p)
    }
    // custom-SQL test files resolve against the config file too —
    // `run --config some/dir/config.yaml` must find `tests/foo.sql`
    // under some/dir from any cwd, like the model files themselves.
    // The rebase RECURSES through every wrapper (severity, store,
    // where/thresholds) — enumerating shapes here missed
    // StoreFailures(CustomSql) and Configured(CustomSql) combinations,
    // leaving cwd-relative paths that fingerprint as `#missing`
    def rebaseTest(t: ModelTest): ModelTest = t match {
      case ModelTest.CustomSql(p) => ModelTest.CustomSql(rebase(p))
      case ModelTest.Warn(i) => ModelTest.Warn(rebaseTest(i))
      case ModelTest.StoreFailures(i) =>
        ModelTest.StoreFailures(rebaseTest(i))
      case ModelTest.Configured(i, w, wi, ei) =>
        ModelTest.Configured(rebaseTest(i), w, wi, ei)
      case x => x
    }
    loaded.copy(
      modelsDir = rebase(loaded.modelsDir),
      macroPath = loaded.macroPath.map(rebase),
      seedsDir = loaded.seedsDir.map(rebase),
      // db_path too: a config-relative database must not silently land in
      // a cwd-dependent location (a second session launched elsewhere
      // would "lose" every persisted view). A CLI --db-path flag is
      // applied after load and stays cwd-relative, as flags should.
      dbPath = loaded.dbPath.map(rebase),
      models = loaded.models.view.mapValues { mc =>
        mc.copy(tests = mc.tests.map(rebaseTest))
      }.toMap,
      baseDir = baseDir.map(_.toString))
  }

  def fromYaml(text: String): PipelineConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    // malformed YAML names the file instead of escaping as a raw snakeyaml
    // exception; a non-mapping document (stray scalar, top-level list)
    // must name the problem, not surface as a ClassCastException downstream
    val doc =
      try yaml.load[Object](text)
      catch { case e: org.yaml.snakeyaml.error.YAMLException =>
        throw GenericError(s"config.yaml: ${e.getMessage}") }
    val root = Option(doc) match {
      case None => Map.empty[String, Object]
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => String.valueOf(k) -> v }.toMap
      case Some(other) => throw GenericError(
        s"config.yaml: expected a key: value mapping at the top level, " +
          s"got ${other.getClass.getSimpleName}")
    }

    // a key left blank while editing (`db_path:`) parses as null — treat
    // it as absent instead of NPE-ing on toString
    def str(k: String): Option[String] =
      root.get(k).flatMap(Option(_)).map(_.toString)
    val settings = root.get("duckdb_settings").orElse(root.get("spark_settings"))
      .flatMap(Option(_))
      .collect { case m: java.util.Map[_, _] =>
        m.asScala.collect { case (k, v) if v != null =>
          String.valueOf(k) -> v.toString }.toMap }
      .getOrElse(Map.empty[String, String])
    val models = root.get("models").flatMap(Option(_))
      .collect { case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) =>
          val id = String.valueOf(k)
          def field(name: String): Option[String] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv) if String.valueOf(mk) == name &&
                  mv != null => mv.toString }
            case _ => None
          }
          def bool(name: String): Option[Boolean] =
            field(name).map(v => v.toLowerCase match {
              case "true" => true
              case "false" => false
              case _ => throw GenericError(
                s"models.$id.$name: expected true|false, got `$v`")
            })
          def list(name: String): Seq[String] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv: java.util.List[_])
                    if String.valueOf(mk) == name =>
                  mv.asScala.toSeq.map(String.valueOf(_))
              }.getOrElse(Nil)
            case _ => Nil
          }
          val tests: Seq[ModelTest] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv: java.util.List[_])
                    if String.valueOf(mk) == "tests" =>
                  mv.asScala.toSeq.map(parseTest(id, _))
              }.getOrElse(Nil)
            case _ => Nil
          }
          // hooks accept a single string or a list; both dbt spellings
          // (pre-hook / pre_hook) are read
          def hookList(names: String*): Seq[String] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv) if names.contains(String.valueOf(mk)) &&
                  mv != null => mv
              } match {
                case Some(l: java.util.List[_]) =>
                  l.asScala.toSeq.map(String.valueOf(_))
                case Some(s) => Seq(s.toString)
                case None => Nil
              }
            case _ => Nil
          }
          // freshness: { warn_after_seconds: N, error_after_seconds: M }
          // — either bound optional, but an empty mapping is a loud
          // error (a freshness block that checks nothing is a typo)
          val freshness: Option[Freshness] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, fm: java.util.Map[_, _])
                    if String.valueOf(mk) == "freshness" =>
                  val fields = fm.asScala.map { case (fk, fv) =>
                    String.valueOf(fk) -> fv }.toMap
                  def sec(name: String): Option[Long] =
                    fields.get(name).flatMap(Option(_))
                      .map(x => try x.toString.toLong
                        catch { case _: NumberFormatException =>
                          throw GenericError(s"models.$id.freshness." +
                            s"$name: expected seconds, got `$x`") })
                  val f = Freshness(sec("warn_after_seconds"),
                    sec("error_after_seconds"))
                  if (f.warnAfterSeconds.isEmpty &&
                      f.errorAfterSeconds.isEmpty)
                    throw GenericError(s"models.$id.freshness: declare " +
                      "warn_after_seconds and/or error_after_seconds")
                  f
              }
            case _ => None
          }
          // dbt 1.8 unit tests: name + given (input/rows) + expect rows
          val unitTests: Seq[UnitTest] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv) if String.valueOf(mk) == "unit_tests" &&
                    mv != null =>
                  mv match {
                    case l: java.util.List[_] =>
                      l.asScala.toSeq.map(parseUnitTest(id, _))
                    case other => throw GenericError(
                      s"models.$id.unit_tests: must be a list, got " +
                        other.getClass.getSimpleName)
                  }
              }.getOrElse(Nil)
            case _ => Nil
          }
          locally {
            val dup = unitTests.groupBy(_.name).filter(_._2.size > 1).keys
            if (dup.nonEmpty) throw GenericError(
              s"models.$id.unit_tests: duplicate names " +
                dup.toSeq.sorted.mkString(", "))
          }
          // dbt model contracts: `contract: enforced` (also the dbt
          // mapping spelling `contract: {enforced: true}`) + declared
          // columns with data types
          val contract: Boolean = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv) if String.valueOf(mk) == "contract" &&
                    mv != null =>
                  mv match {
                    case s: String if s == "enforced" => true
                    case cm: java.util.Map[_, _] =>
                      cm.asScala.collectFirst {
                        case (ck, cv) if String.valueOf(ck) == "enforced" =>
                          cv match {
                            case b: java.lang.Boolean => b.booleanValue()
                            case s: String if s == "true" => true
                            case s: String if s == "false" => false
                            case other => throw GenericError(
                              s"models.$id.contract.enforced: expected " +
                                s"true|false, got `$other`")
                          }
                      }.getOrElse(throw GenericError(
                        s"models.$id.contract: mapping form needs " +
                          "`enforced: true|false`"))
                    case other => throw GenericError(
                      s"models.$id.contract: expected `enforced` or " +
                        s"`{enforced: true}`, got `$other`")
                  }
              }.getOrElse(false)
            case _ => false
          }
          val contractColumns: Seq[ContractColumn] = v match {
            case vm: java.util.Map[_, _] =>
              vm.asScala.collectFirst {
                case (mk, mv) if String.valueOf(mk) == "columns" &&
                    mv != null =>
                  mv match {
                    case l: java.util.List[_] => l.asScala.toSeq.flatMap {
                      case cm: java.util.Map[_, _] =>
                        val fs = cm.asScala.map { case (k2, v2) =>
                          String.valueOf(k2) -> v2 }.toMap
                        def opt2(k2: String): Option[String] =
                          fs.get(k2).flatMap(Option(_)).map(_.toString)
                        val name = opt2("name").getOrElse(
                          throw GenericError(
                            s"models.$id.columns: each entry needs " +
                              "`name`"))
                        opt2("data_type") match {
                          case Some(dt) => Some(ContractColumn(name, dt))
                          // a documentation-only column (dbt's common
                          // `- name: x` + description blocks) carries
                          // no contract obligation UNLESS the contract
                          // is enforced, where every column must be
                          // typed (dbt's own rule)
                          case None if contract => throw GenericError(
                            s"models.$id.columns: `$name` needs a " +
                              "data_type under contract: enforced")
                          case None => None
                        }
                      case other => throw GenericError(
                        s"models.$id.columns: each entry must be a " +
                          s"mapping, got ${String.valueOf(other)}")
                    }
                    case other => throw GenericError(
                      s"models.$id.columns: must be a list, got " +
                        other.getClass.getSimpleName)
                  }
              }.getOrElse(Nil)
            case _ => Nil
          }
          locally {
            val dup = contractColumns.groupBy(_.name.toLowerCase)
              .filter(_._2.size > 1).keys
            if (dup.nonEmpty) throw GenericError(
              s"models.$id.columns: duplicate column names " +
                dup.toSeq.sorted.mkString(", "))
            if (contract && contractColumns.isEmpty) throw GenericError(
              s"models.$id: contract: enforced requires a non-empty " +
                "`columns:` list (a contract that declares nothing " +
                "enforces nothing)")
          }
          id -> ModelConfig(field("materialize"), field("unique_key"),
            tests, tags = list("tags"),
            incrementalStrategy = field("incremental_strategy"),
            partitionBy = field("partition_by"),
            eventTime = field("event_time"),
            batchSize = field("batch_size"),
            lookback = field("lookback").map { v =>
              try v.toInt catch { case _: NumberFormatException =>
                throw GenericError(s"models.$id.lookback: expected an " +
                  s"integer batch count, got `$v`") }
            },
            snapshotStrategy = field("strategy"),
            updatedAt = field("updated_at"),
            onSchemaChange = field("on_schema_change"),
            preHooks = hookList("pre_hook", "pre-hook"),
            postHooks = hookList("post_hook", "post-hook"),
            freshness = freshness,
            invalidateHardDeletes =
              bool("invalidate_hard_deletes").getOrElse(false),
            enabled = bool("enabled").getOrElse(true),
            unitTests = unitTests,
            contract = contract,
            contractColumns = contractColumns)
        }.toMap }
      .getOrElse(Map.empty[String, ModelConfig])

    // dbt vars: a top-level `vars:` mapping of project-wide values the
    // models reference as {{ var('name') }}; the CLI --vars overlay is
    // applied by the session, not here
    val vars = root.get("vars").flatMap(Option(_))
      .collect { case m: java.util.Map[_, _] =>
        m.asScala.collect { case (k, v) if v != null =>
          String.valueOf(k) -> v.toString }.toMap }
      .getOrElse(Map.empty[String, String])

    // dbt exposures: named downstream consumers with declared model
    // dependencies — validated structurally here (name/type/depends_on),
    // against the actual model set at graph build
    val exposureTypes =
      Set("dashboard", "notebook", "analysis", "ml", "application")
    // ADVICE r16: a present-but-not-a-list `exposures:` (mapping,
    // scalar) must fail loudly like every other malformed shape, not
    // silently parse as zero exposures
    root.get("exposures").flatMap(Option(_)).foreach {
      case _: java.util.List[_] => ()
      case other => throw GenericError(
        "exposures: must be a list of mappings, got " +
          other.getClass.getSimpleName)
    }
    val exposures: Seq[Exposure] = root.get("exposures").flatMap(Option(_))
      .collect { case l: java.util.List[_] =>
        l.asScala.toSeq.map {
          case m: java.util.Map[_, _] =>
            val fields = m.asScala.map { case (k, v) =>
              String.valueOf(k) -> v }.toMap
            def opt(k: String): Option[String] =
              fields.get(k).flatMap(Option(_)).map(_.toString)
            val name = opt("name").getOrElse(throw GenericError(
              "exposures: each entry needs a `name`"))
            val tpe = opt("type").getOrElse(throw GenericError(
              s"exposures.$name: needs a `type` (one of " +
                s"${exposureTypes.toSeq.sorted.mkString(", ")})"))
            if (!exposureTypes(tpe)) throw GenericError(
              s"exposures.$name: unknown type `$tpe` (one of " +
                s"${exposureTypes.toSeq.sorted.mkString(", ")})")
            val deps = fields.get("depends_on").flatMap(Option(_)) match {
              case Some(dl: java.util.List[_]) =>
                dl.asScala.toSeq.map(String.valueOf(_))
              case _ => Nil
            }
            if (deps.isEmpty) throw GenericError(
              s"exposures.$name: needs a non-empty `depends_on` model " +
                "list (an exposure that reads nothing is a typo)")
            Exposure(name, tpe, opt("owner"), opt("url"), deps)
          case other => throw GenericError(
            s"exposures: each entry must be a mapping, got " +
              String.valueOf(other))
        }
      }.getOrElse(Nil)
    locally {
      val dup = exposures.groupBy(_.name).filter(_._2.size > 1).keys
      if (dup.nonEmpty) throw GenericError(
        s"exposures: duplicate names ${dup.toSeq.sorted.mkString(", ")}")
    }

    PipelineConfig(
      modelsDir = str("models_dir").getOrElse("."),
      dbPath = str("db_path"),
      macroPath = str("macro_path"),
      seedsDir = str("seeds_dir"),
      settings = settings,
      models = models,
      vars = vars,
      exposures = exposures)
  }

  /** One `tests:` list element. Accepted shapes (dbt's common forms):
    *   - not_null: col
    *   - unique: col
    *   - accepted_values: { column: col, values: [a, b, …] }
    *   - relationships: { column: col, to: model, field: col }
    *   - sql: path/to/test.sql   (a SELECT returning violating rows)
    * Any shape may carry `severity: warn` alongside the test key
    * (dbt's config): the test runs but a violation reports without
    * failing the node. An unknown test name or severity fails NAMED at
    * config load — a typo'd test silently testing nothing would defeat
    * the point of declaring it.
    */
  /** One `unit_tests:` list element (dbt 1.8's shape):
    *   - name: distinct_ids
    *     given:
    *       - input: upstream_model
    *         rows:
    *           - {id: 1, x: a}
    *     expect:
    *       rows:
    *         - {id: 1}
    * `given` mocks MODEL inputs (every model ref the SELECT reads must
    * be mocked — enforced at run, where the dependency set is known);
    * `expect.rows` are compared on exactly the columns they declare.
    * Malformed shapes fail NAMED at config load.
    */
  private def parseUnitTest(modelId: String, raw: Any): UnitTest = {
    def rows(where: String, v: Any): Seq[Map[String, Any]] = v match {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case rm: java.util.Map[_, _] =>
          rm.asScala.map { case (k, rv) => String.valueOf(k) -> rv }.toMap
        case other => throw GenericError(
          s"models.$modelId.unit_tests: $where rows must be mappings, " +
            s"got ${String.valueOf(other)}")
      }
      case other => throw GenericError(
        s"models.$modelId.unit_tests: $where needs a `rows:` list, " +
          s"got ${if (other == null) "nothing" else other.getClass.getSimpleName}")
    }
    raw match {
      case m: java.util.Map[_, _] =>
        val fields = m.asScala.map { case (k, v) =>
          String.valueOf(k) -> v }.toMap
        val name = fields.get("name").flatMap(Option(_)).map(_.toString)
          .getOrElse(throw GenericError(
            s"models.$modelId.unit_tests: each entry needs a `name`"))
        val given: Seq[(String, Seq[Map[String, Any]])] =
          fields.get("given").flatMap(Option(_)) match {
            case Some(l: java.util.List[_]) => l.asScala.toSeq.map {
              case gm: java.util.Map[_, _] =>
                val gf = gm.asScala.map { case (k, v) =>
                  String.valueOf(k) -> v }.toMap
                val input = gf.get("input").flatMap(Option(_))
                  .map(_.toString).getOrElse(throw GenericError(
                    s"models.$modelId.unit_tests.$name: each given " +
                      "entry needs an `input` model name"))
                input -> rows(s"given.$input", gf.get("rows").orNull)
              case other => throw GenericError(
                s"models.$modelId.unit_tests.$name: given entries must " +
                  s"be mappings, got ${String.valueOf(other)}")
            }
            case Some(other) => throw GenericError(
              s"models.$modelId.unit_tests.$name: given must be a " +
                s"list, got ${other.getClass.getSimpleName}")
            case None => Nil
          }
        locally {
          val dup = given.groupBy(_._1).filter(_._2.size > 1).keys
          if (dup.nonEmpty) throw GenericError(
            s"models.$modelId.unit_tests.$name: duplicate given " +
              s"inputs ${dup.toSeq.sorted.mkString(", ")}")
        }
        val expect = fields.get("expect").flatMap(Option(_)) match {
          case Some(em: java.util.Map[_, _]) =>
            val ef = em.asScala.map { case (k, v) =>
              String.valueOf(k) -> v }.toMap
            rows("expect", ef.get("rows").orNull)
          case _ => throw GenericError(
            s"models.$modelId.unit_tests.$name: needs an `expect:` " +
              "mapping with a `rows:` list")
        }
        // an explicit `rows: []` is a legitimate expectation (the
        // logic must produce NOTHING from these inputs); only a
        // missing `rows:` key errors (in rows() above)
        UnitTest(name, given, expect)
      case other => throw GenericError(
        s"models.$modelId.unit_tests: each entry must be a mapping, " +
          s"got ${String.valueOf(other)}")
    }
  }

  private def parseTest(modelId: String, raw: Any): ModelTest = raw match {
    case m0: java.util.Map[_, _] if m0.size >= 1 =>
      val fields = m0.asScala.map { case (fk, fv) =>
        String.valueOf(fk) -> fv }.toMap
      val severity = fields.get("severity").map(s =>
        String.valueOf(s).toLowerCase)
      severity.foreach { s =>
        if (s != "warn" && s != "error") throw GenericError(
          s"models.$modelId.tests: severity must be `warn` or `error`, " +
            s"got `$s`")
      }
      val storeFailures = fields.get("store_failures").map { s =>
        String.valueOf(s).toLowerCase match {
          case "true" => true
          case "false" => false
          case other => throw GenericError(
            s"models.$modelId.tests: store_failures must be true or " +
              s"false, got `$other`")
        }
      }.getOrElse(false)
      def opt(k: String): Option[String] =
        fields.get(k).flatMap(Option(_)).map(_.toString)
      val where = opt("where")
      val warnIf = opt("warn_if")
      val errorIf = opt("error_if")
      // validate condition syntax at LOAD, not first execution
      warnIf.foreach(ModelTest.parseCondition(modelId, "warn_if", _))
      errorIf.foreach(ModelTest.parseCondition(modelId, "error_if", _))
      val rest = fields -- Seq("severity", "store_failures", "where",
        "warn_if", "error_if")
      if (rest.size != 1) throw GenericError(
        s"models.$modelId.tests: each entry must be one test key plus " +
          s"optional `severity`/`store_failures`/`where`/`warn_if`/" +
          s"`error_if`, got keys " +
          s"${fields.keys.toSeq.sorted.mkString("[", ", ", "]")}")
      val (k, v) = rest.head
      val parsed = (k, v) match {
        case ("not_null", c) if c != null =>
          ModelTest.NotNull(c.toString)
        case ("unique", c) if c != null =>
          ModelTest.Unique(c.toString)
        case ("accepted_values", av: java.util.Map[_, _]) =>
          val fields = av.asScala.map { case (ak, avv) =>
            String.valueOf(ak) -> avv }.toMap
          val colName = fields.get("column").flatMap(Option(_)).map(_.toString)
            .getOrElse(throw GenericError(
              s"models.$modelId.tests: accepted_values needs a `column`"))
          val values = fields.get("values").flatMap(Option(_)) match {
            case Some(l: java.util.List[_]) =>
              l.asScala.toSeq.map(String.valueOf(_))
            case _ => throw GenericError(
              s"models.$modelId.tests: accepted_values needs a `values` list")
          }
          ModelTest.AcceptedValues(colName, values)
        case ("relationships", rm: java.util.Map[_, _]) =>
          val fields = rm.asScala.map { case (rk, rv) =>
            String.valueOf(rk) -> rv }.toMap
          def req(name: String): String =
            fields.get(name).flatMap(Option(_)).map(_.toString)
              .getOrElse(throw GenericError(
                s"models.$modelId.tests: relationships needs `$name` " +
                  "(column, to, field)"))
          ModelTest.Relationships(req("column"), req("to"), req("field"))
        case ("sql", p) if p != null =>
          ModelTest.CustomSql(p.toString)
        case (other, _) => throw GenericError(
          s"models.$modelId.tests: unknown test `$other` " +
            "(supported: not_null, unique, accepted_values, " +
            "relationships, sql)")
      }
      if (where.isDefined && parsed.isInstanceOf[ModelTest.CustomSql])
        throw GenericError(
          s"models.$modelId.tests: `where` does not apply to a custom " +
            "SQL test — its query already owns its own WHERE clause")
      val configured =
        if (where.isDefined || warnIf.isDefined || errorIf.isDefined)
          ModelTest.Configured(parsed, where, warnIf, errorIf)
        else parsed
      val stored =
        if (storeFailures) ModelTest.StoreFailures(configured)
        else configured
      if (severity.contains("warn")) ModelTest.Warn(stored) else stored
    case other => throw GenericError(
      s"models.$modelId.tests: each entry must be a single-key mapping, " +
        s"got ${String.valueOf(other)}")
  }
}
