package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pipeline configuration: the typed form of `config.yaml`, the analog
  * of the reference's config struct (`src/session.rs:22-40`). This
  * header is the one key reference. A blank value (`db_path:`) means the key is absent; a
  * value of the wrong shape, or an unknown key under `models.<id>`, fails
  * the load with a [[GenericError]] naming its key path, for example
  * models.m1.tags: expected a list, got `nightly`.
  *
  * Top level (relative paths resolve against the config file's directory):
  *   models_dir        scalar, default `.` — scanned recursively for *.sql
  *                     models, each named by its file stem
  *   db_path           scalar, default absent — warehouse directory of the
  *                     persisted materializations (the reference's DuckDB
  *                     file); absent → in-memory, temp views only
  *   macro_path        scalar, default absent — directory of macro files
  *   seeds_dir         scalar, default absent — *.csv seeds, each a TABLE
  *                     node named by its file stem
  *   duckdb_settings   mapping of scalars, default empty — settings applied
  *     (or spark_settings)  to the Spark session
  *   vars              mapping of scalars, default empty — `{{ var('k') }}`
  *                     values; the CLI's `--vars` overlays them
  *   models            mapping of model id → the model keys below
  *   exposures         list of mappings, default empty — downstream
  *                     consumers: `name`, `type` (dashboard | notebook |
  *                     analysis | ml | application), optional `owner`
  *                     and `url`, `depends_on` (non-empty list of models)
  *
  * `models.<id>` (a blank `<id>:` is all defaults):
  *   materialize             view (default) | table | incremental | snapshot
  *   unique_key              scalar, default none — the incremental merge
  *                           key / the snapshot row key
  *   incremental_strategy    merge (default) | delete+insert |
  *                           insert_overwrite | microbatch
  *   partition_by            scalar column, default none — table layout;
  *                           required by insert_overwrite and microbatch
  *   on_schema_change        fail (default) | append_new_columns | ignore
  *   event_time              scalar column — microbatch's event clock
  *   batch_size              hour | day (default) | month | year
  *   lookback                integer ≥ 1, default 1 — how many of the latest
  *                           materialized batches microbatch reprocesses
  *   strategy                check (default) | timestamp — snapshot
  *   updated_at              scalar column — the timestamp snapshot's clock
  *   invalidate_hard_deletes true|false, default false — a snapshot closes
  *                           rows whose key left the source
  *   pre_hook / pre-hook     string or list of strings, default none
  *   post_hook / post-hook   string or list of strings, default none
  *   tags                    list of scalars, default none
  *   tests                   list of data tests (shapes: `parseTest`)
  *   unit_tests              list of unit tests (shape: `parseUnitTest`)
  *   freshness               mapping `warn_after_seconds` and/or
  *                           `error_after_seconds` (integers), default none
  *   enabled                 true|false, default true
  *   contract                `enforced` or `{enforced: true|false}`,
  *                           default not enforced
  *   columns                 list of mappings `name`, `data_type` (required
  *                           under an enforced contract), default none
  */
final case class PipelineConfig(
    modelsDir: String = ".",
    dbPath: Option[String] = None,
    macroPath: Option[String] = None,
    seedsDir: Option[String] = None,
    settings: Map[String, String] = Map.empty,
    models: Map[String, ModelConfig] = Map.empty,
    vars: Map[String, String] = Map.empty,
    exposures: Seq[Exposure] = Nil)

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
    * `id` names the test in [[describe]] and in its failure-store slug:
    * the path relative to the config file's directory (absolute when
    * the file lies outside it), so relocating the project changes
    * neither the closure fingerprint nor the store's name.
    */
  final case class CustomSql(path: String, id: String) extends ModelTest {
    def content: Option[String] =
      try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      catch { case _: Exception => None }
    def describe: String = {
      val fp = content match {
        case Some(c) => java.security.MessageDigest.getInstance("MD5")
          .digest(c.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        case None => "missing"
      }
      s"sql($id#$fp)"
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
      case ModelTest.CustomSql(p, _) =>
        val path = rebase(p)
        val abs = Paths.get(path)
        // the identity is config-relative, so it survives relocating or
        // re-cloning the project; a file outside it keeps its absolute
        // path (unique either way, and honest about it)
        val id = baseDir.filter(b => abs.startsWith(b))
          .fold(path)(_.relativize(abs).toString)
        ModelTest.CustomSql(path, id)
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
      }.toMap)
  }

  /** One YAML mapping of config.yaml, read by key path: `path` is the
    * prefix its keys print under (`models.m1.`). Its values are converted
    * once, on construction. Every accessor treats a missing or blank
    * (null) value as absent, and fails a value of the wrong shape with
    * `<path><key>: expected <shape>, got <value>`.
    */
  private final class YamlMap(path: String, raw: Map[String, Any]) {
    private val fields = raw.map { case (k, v) => k -> YamlMap.plain(v) }
    def keys: Iterable[String] = fields.keys
    /** The entries as they are, values YAML scalars (unit-test rows). */
    def toMap: Map[String, Any] = fields

    def fail(key: String, shape: String, got: Any): Nothing =
      throw GenericError(
        s"$path$key: expected $shape, got ${YamlMap.show(got)}")

    def get(key: String): Option[Any] = fields.get(key).flatMap(Option(_))

    def scalar(key: String): Option[String] = get(key).map {
      case v @ (_: Map[_, _] | _: Seq[_]) => fail(key, "a scalar", v)
      case v => v.toString
    }

    def bool(key: String): Option[Boolean] = get(key).map { v =>
      String.valueOf(v).toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => fail(key, "true|false", v)
      }
    }

    def int(key: String, shape: String): Option[Int] =
      number(key, shape)(_.toInt)
    def long(key: String, shape: String): Option[Long] =
      number(key, shape)(_.toLong)
    private def number[T](key: String, shape: String)(
        parse: String => T): Option[T] =
      get(key).map { v =>
        try parse(String.valueOf(v))
        catch { case _: NumberFormatException => fail(key, shape, v) }
      }

    def list(key: String): Seq[Any] = get(key) match {
      case None => Nil
      case Some(l: Seq[_]) => l.map(YamlMap.plain)
      case Some(v) => fail(key, "a list", v)
    }

    def strings(key: String): Seq[String] = list(key).zipWithIndex.map {
      case (v @ (null | _: Map[_, _] | _: Seq[_]), i) =>
        fail(s"$key[$i]", "a scalar", v)
      case (v, _) => v.toString
    }

    /** A hook: one statement or a list of them. */
    def stringOrList(key: String): Seq[String] = get(key) match {
      case None => Nil
      case Some(_: Seq[_]) => strings(key)
      case Some(v: Map[_, _]) => fail(key, "a string or a list", v)
      case Some(v) => Seq(v.toString)
    }

    def map(key: String): Option[YamlMap] =
      get(key).map(YamlMap.of(s"$path$key", _))

    def maps(key: String): Seq[YamlMap] = list(key).zipWithIndex.map {
      case (v, i) => YamlMap.of(s"$path$key[$i]", v)
    }

    /** Every value a scalar, blank values dropped (settings, vars). */
    def scalars: Map[String, String] =
      fields.keys.flatMap(k => scalar(k).map(k -> _)).toMap

    def requireKnown(known: Set[String]): Unit = {
      val unknown = fields.keys.filterNot(known).toSeq.sorted
      if (unknown.nonEmpty) throw GenericError(
        s"${path.stripSuffix(".")}: unknown key " +
          unknown.mkString("`", "`, `", "`") +
          s" (known: ${known.toSeq.sorted.mkString(", ")})")
    }
  }

  private object YamlMap {
    /** The one conversion from snakeyaml's `java.util` shapes, one level
      * deep (so a recursive alias is never walked): a mapping becomes a
      * Map with string keys, a list a Seq.
      */
    def plain(v: Any): Any = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, x) => String.valueOf(k) -> x }.toMap
      case l: java.util.List[_] => l.asScala.toSeq
      case x => x
    }

    def show(v: Any): String = v match {
      case null => "nothing"
      case _: Map[_, _] => "a mapping"
      case _: Seq[_] => "a list"
      case x => s"`$x`"
    }

    /** `v`, already [[plain]], as the mapping at key path `at`. */
    def of(at: String, v: Any): YamlMap = v match {
      case m: Map[_, _] =>
        new YamlMap(s"$at.", m.asInstanceOf[Map[String, Any]])
      case other => throw GenericError(
        s"$at: expected a mapping, got ${show(other)}")
    }
  }

  def fromYaml(text: String): PipelineConfig = {
    // malformed YAML names the file instead of escaping as a raw snakeyaml
    // exception; a non-mapping document (stray scalar, top-level list)
    // must name the problem, not surface as a ClassCastException downstream
    val doc =
      try new org.yaml.snakeyaml.Yaml().load[Object](text)
      catch { case e: org.yaml.snakeyaml.error.YAMLException =>
        throw GenericError(s"config.yaml: ${e.getMessage}") }
    val root = YamlMap.plain(doc) match {
      case null => new YamlMap("", Map.empty)
      case m: Map[_, _] =>
        new YamlMap("", m.asInstanceOf[Map[String, Any]])
      case other => throw GenericError(
        "config.yaml: expected a key: value mapping at the top level, " +
          s"got ${YamlMap.show(other)}")
    }
    // a blank `<id>:` is a model with every default
    val models = root.map("models").fold(Map.empty[String, ModelConfig]) {
      ms => ms.keys.map { id =>
        id -> parseModel(id,
          ms.map(id).getOrElse(new YamlMap(s"models.$id.", Map.empty)))
      }.toMap
    }
    // dbt exposures: named downstream consumers with declared model
    // dependencies — validated structurally here (name/type/depends_on),
    // against the actual model set at graph build
    val exposureTypes =
      Set("dashboard", "notebook", "analysis", "ml", "application")
    val exposures: Seq[Exposure] = root.get("exposures") match {
      case None => Nil
      case Some(_: Seq[_]) => root.maps("exposures").map { e =>
        val name = e.scalar("name").getOrElse(throw GenericError(
          "exposures: each entry needs a `name`"))
        val tpe = e.scalar("type").getOrElse(throw GenericError(
          s"exposures.$name: needs a `type` (one of " +
            s"${exposureTypes.toSeq.sorted.mkString(", ")})"))
        if (!exposureTypes(tpe)) throw GenericError(
          s"exposures.$name: unknown type `$tpe` (one of " +
            s"${exposureTypes.toSeq.sorted.mkString(", ")})")
        val deps = e.strings("depends_on")
        if (deps.isEmpty) throw GenericError(
          s"exposures.$name: needs a non-empty `depends_on` model " +
            "list (an exposure that reads nothing is a typo)")
        Exposure(name, tpe, e.scalar("owner"), e.scalar("url"), deps)
      }
      case Some(other) => throw GenericError(
        s"exposures: must be a list of mappings, got ${YamlMap.show(other)}")
    }
    locally {
      val dup = exposures.groupBy(_.name).filter(_._2.size > 1).keys
      if (dup.nonEmpty) throw GenericError(
        s"exposures: duplicate names ${dup.toSeq.sorted.mkString(", ")}")
    }

    PipelineConfig(
      modelsDir = root.scalar("models_dir").getOrElse("."),
      dbPath = root.scalar("db_path"),
      macroPath = root.scalar("macro_path"),
      seedsDir = root.scalar("seeds_dir"),
      settings = root.map("duckdb_settings")
        .orElse(root.map("spark_settings"))
        .fold(Map.empty[String, String])(_.scalars),
      models = models,
      // dbt vars: project-wide values the models reference as
      // {{ var('name') }}; the CLI --vars overlay is applied by the
      // session, not here
      vars = root.map("vars").fold(Map.empty[String, String])(_.scalars),
      exposures = exposures)
  }

  /** Every key `models.<id>` may hold (the header lists each one's shape). */
  private val modelKeys = Set("materialize", "unique_key",
    "incremental_strategy", "partition_by", "on_schema_change",
    "event_time", "batch_size", "lookback", "strategy", "updated_at",
    "invalidate_hard_deletes", "pre_hook", "pre-hook", "post_hook",
    "post-hook", "tags", "tests", "unit_tests", "freshness", "enabled",
    "contract", "columns")

  private def parseModel(id: String, m: YamlMap): ModelConfig = {
    m.requireKnown(modelKeys)
    // freshness: either bound optional, but an empty mapping is a loud
    // error (a freshness block that checks nothing is a typo)
    val freshness = m.map("freshness").map { f =>
      val fr = Freshness(f.long("warn_after_seconds", "seconds"),
        f.long("error_after_seconds", "seconds"))
      if (fr.warnAfterSeconds.isEmpty && fr.errorAfterSeconds.isEmpty)
        throw GenericError(s"models.$id.freshness: declare " +
          "warn_after_seconds and/or error_after_seconds")
      fr
    }
    val unitTests = m.maps("unit_tests").map(parseUnitTest(id, _))
    locally {
      val dup = unitTests.groupBy(_.name).filter(_._2.size > 1).keys
      if (dup.nonEmpty) throw GenericError(
        s"models.$id.unit_tests: duplicate names " +
          dup.toSeq.sorted.mkString(", "))
    }
    // dbt model contracts: `contract: enforced` (also the dbt mapping
    // spelling `contract: {enforced: true}`) + declared columns with
    // data types
    val contract = m.get("contract") match {
      case None => false
      case Some("enforced") => true
      case Some(_: Map[_, _]) =>
        m.map("contract").flatMap(_.bool("enforced")).getOrElse(
          throw GenericError(s"models.$id.contract: mapping form needs " +
            "`enforced: true|false`"))
      case Some(other) =>
        m.fail("contract", "`enforced` or `{enforced: true}`", other)
    }
    val contractColumns = m.maps("columns").flatMap { c =>
      val name = c.scalar("name").getOrElse(throw GenericError(
        s"models.$id.columns: each entry needs `name`"))
      c.scalar("data_type") match {
        case Some(dt) => Some(ContractColumn(name, dt))
        // a documentation-only column (dbt's common `- name: x` +
        // description blocks) carries no contract obligation UNLESS the
        // contract is enforced, where every column must be typed (dbt's
        // own rule)
        case None if contract => throw GenericError(
          s"models.$id.columns: `$name` needs a data_type under " +
            "contract: enforced")
        case None => None
      }
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
    ModelConfig(
      materialize = m.scalar("materialize"),
      uniqueKey = m.scalar("unique_key"),
      tests = m.maps("tests").map(parseTest(id, _)),
      tags = m.strings("tags"),
      incrementalStrategy = m.scalar("incremental_strategy"),
      partitionBy = m.scalar("partition_by"),
      eventTime = m.scalar("event_time"),
      batchSize = m.scalar("batch_size"),
      lookback = m.int("lookback", "an integer batch count"),
      snapshotStrategy = m.scalar("strategy"),
      updatedAt = m.scalar("updated_at"),
      onSchemaChange = m.scalar("on_schema_change"),
      // both dbt spellings (pre_hook / pre-hook) are read
      preHooks = m.stringOrList("pre_hook") ++ m.stringOrList("pre-hook"),
      postHooks = m.stringOrList("post_hook") ++ m.stringOrList("post-hook"),
      freshness = freshness,
      invalidateHardDeletes =
        m.bool("invalidate_hard_deletes").getOrElse(false),
      enabled = m.bool("enabled").getOrElse(true),
      unitTests = unitTests,
      contract = contract,
      contractColumns = contractColumns)
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
  private def parseTest(modelId: String, t: YamlMap): ModelTest = {
    val severity = t.scalar("severity").map(_.toLowerCase)
    severity.foreach { s =>
      if (s != "warn" && s != "error") throw GenericError(
        s"models.$modelId.tests: severity must be `warn` or `error`, " +
          s"got `$s`")
    }
    val storeFailures = t.scalar("store_failures").exists {
      _.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw GenericError(
          s"models.$modelId.tests: store_failures must be true or " +
            s"false, got `$other`")
      }
    }
    val where = t.scalar("where")
    val warnIf = t.scalar("warn_if")
    val errorIf = t.scalar("error_if")
    // validate condition syntax at LOAD, not first execution
    warnIf.foreach(ModelTest.parseCondition(modelId, "warn_if", _))
    errorIf.foreach(ModelTest.parseCondition(modelId, "error_if", _))
    val rest = t.keys.toSet -- Seq("severity", "store_failures", "where",
      "warn_if", "error_if")
    if (rest.size != 1) throw GenericError(
      s"models.$modelId.tests: each entry must be one test key plus " +
        s"optional `severity`/`store_failures`/`where`/`warn_if`/" +
        s"`error_if`, got keys " +
        s"${t.keys.toSeq.sorted.mkString("[", ", ", "]")}")
    val k = rest.head
    def arg: String = t.scalar(k).getOrElse(t.fail(k, "a scalar", null))
    def args: YamlMap = t.map(k).getOrElse(t.fail(k, "a mapping", null))
    val parsed = k match {
      case "not_null" => ModelTest.NotNull(arg)
      case "unique" => ModelTest.Unique(arg)
      case "accepted_values" =>
        val av = args
        val colName = av.scalar("column").getOrElse(throw GenericError(
          s"models.$modelId.tests: accepted_values needs a `column`"))
        if (av.get("values").isEmpty) throw GenericError(
          s"models.$modelId.tests: accepted_values needs a `values` list")
        ModelTest.AcceptedValues(colName, av.strings("values"))
      case "relationships" =>
        val rm = args
        def req(name: String): String =
          rm.scalar(name).getOrElse(throw GenericError(
            s"models.$modelId.tests: relationships needs `$name` " +
              "(column, to, field)"))
        ModelTest.Relationships(req("column"), req("to"), req("field"))
      case "sql" => val p = arg; ModelTest.CustomSql(p, p)
      case other => throw GenericError(
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
  }

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
  private def parseUnitTest(modelId: String, u: YamlMap): UnitTest = {
    // an explicit `rows: []` is a legitimate expectation (the logic must
    // produce NOTHING from these inputs); only a missing `rows:` errors
    def rows(where: String, m: YamlMap): Seq[Map[String, Any]] = {
      if (m.get("rows").isEmpty) throw GenericError(
        s"models.$modelId.unit_tests: $where needs a `rows:` list, " +
          "got nothing")
      m.maps("rows").map(_.toMap)
    }
    val name = u.scalar("name").getOrElse(throw GenericError(
      s"models.$modelId.unit_tests: each entry needs a `name`"))
    val given = u.maps("given").map { g =>
      val input = g.scalar("input").getOrElse(throw GenericError(
        s"models.$modelId.unit_tests.$name: each given entry needs an " +
          "`input` model name"))
      input -> rows(s"given.$input", g)
    }
    locally {
      val dup = given.groupBy(_._1).filter(_._2.size > 1).keys
      if (dup.nonEmpty) throw GenericError(
        s"models.$modelId.unit_tests.$name: duplicate given " +
          s"inputs ${dup.toSeq.sorted.mkString(", ")}")
    }
    val expect = u.map("expect").getOrElse(throw GenericError(
      s"models.$modelId.unit_tests.$name: needs an `expect:` mapping " +
        "with a `rows:` list"))
    UnitTest(name, given, rows("expect", expect))
  }
}
