package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.SparkEntry
import graft.functions.GraftExtensions
import graft.pipeline.{Dag, DepExtractor, DialectShim, MacroRenderer, PipelineConfig,
  PipelineSession, SqlText, ViewStore}
import graft.queries.RelationalQueries

/** One benchmark run in one JVM: set up, measure one workload for a fixed
  * time in a closed loop with a single driver thread, write a result file.
  * Reaches graft only through public members.
  *
  * Usage: Main <workload> <work dir> <seconds> <trace 0|1> <cores>
  * The work dir holds the inputs the Python side generated (data/,
  * project/, queries.txt, setup.json); the result goes to work/result.json
  * and, when tracing, spans and per-operation rows to work/trace.jsonl.
  */
object Main {
  final case class Args(workload: String, work: Path, seconds: Double, trace: Boolean,
                        cores: Int)

  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val rows: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty // trace rows (JSON)
  var attempted = 0L
  var failed = 0L

  def fail(msg: String): Unit = { failed += 1; if (errors.size < 50) errors += msg }
  def firstLine(e: Throwable): String =
    String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), Paths.get(argv(1)).toAbsolutePath, argv(2).toDouble,
      argv(3) == "1", argv(4).toInt)
    val tracer = new Tracer(a.trace, s"${a.workload}-${System.currentTimeMillis()}")
    val setupJson = new ObjectMapper().readTree(a.work.resolve("setup.json").toFile)
    var spark: SparkSession = null
    val sparkStart = timed(tracer("spark_start") { spark = startSpark(a) })
    val obs = new Obs
    val generate = setupJson.get("generate_s").asDouble
    val work: Workload = a.workload match {
      case "query_suite" => new QuerySuite(spark, a, tracer, obs)
      case _ => new Pipeline(spark, a, tracer, obs)
    }
    val warmup = timed(tracer("warmup")(work.warmup()))
    metrics("setup_s") = sparkStart + generate + warmup
    tracer("measure")(work.measure())
    if (a.trace) {
      metrics("setup.spark_start_s") = sparkStart
      metrics("setup.generate_s") = generate
      metrics("setup.warmup_s") = warmup
      metrics("env.calibration_shuffle_s") = calibrationShuffle(spark, a.cores)
    }
    writeResult(a, tracer)
    spark.stop()
  }

  def startSpark(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Exact quantile: the nearest-rank order statistic. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Heap the live session still holds after one measured pass, past an
    * explicit GC; taken outside the timed window, at the same point of
    * every run however many passes fit in it.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The pinned shuffle job from the repository's query bench, unchanged:
    * a drift witness for the machine, not a property of graft.
    */
  def calibrationShuffle(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 32000000L, 1L, cpus)
        .selectExpr("pmod(xxhash64(id), 2000000) as k", "xxhash64(id + 7) as v")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(v) as h"))
        .selectExpr("bit_xor(h) as hh")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 2).map(_ => once()).min
  }

  def writeResult(a: Args, tracer: Tracer): Unit = {
    val sb = new StringBuilder("{\"metrics\": {")
    sb.append(metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", "))
    sb.append(s"}, \"attempted\": $attempted, \"failed\": $failed, \"errors\": [")
    sb.append(errors.map(Json.str).mkString(", ")).append("]}")
    Files.writeString(a.work.resolve("result.json"), sb.toString)
    if (a.trace) {
      val self = tracer.selfNs
      val spans = tracer.spans.map { s =>
        s"""{"kind": "span", "run": ${Json.str(tracer.runId)}, "id": ${s.id}, """ +
          s""""parent": ${s.parent}, "name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, """ +
          s""""end_ns": ${s.endNs}, "self_ns": ${self(s.id)}}"""
      }
      Files.write(a.work.resolve("trace.jsonl"), (spans ++ rows).asJava)
    }
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** A workload: untimed warm-up (part of set-up), then the measured loop. */
trait Workload {
  def warmup(): Unit
  def measure(): Unit
}

/** The pipeline workload: build a generated project from an empty db_path
  * with parallel waves, change its inputs, rebuild with --changed-only.
  */
final class Pipeline(spark: SparkSession, a: Main.Args, trace: Tracer, obs: Obs)
    extends Workload {
  import Main._
  private val proj = a.work.resolve("project")
  private val meta: JsonNode = new ObjectMapper().readTree(proj.resolve("project.json").toFile)
  private val cfg0 = PipelineConfig.load(proj.resolve("config.yaml"))
  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private def strMap(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val materialize = strMap(meta.get("materialize"))
  private val expectedRendered = strMap(meta.get("rendered"))
  private val closure = strs(meta.get("closure")).toSet
  /** Puts every edited input in its "base" or "next" version. */
  private def swapIn(which: String): Unit = meta.get("edits").elements().asScala.foreach { e =>
    // relative paths are in the project; absolute ones stay as they are
    Files.copy(proj.resolve(e.get(which).asText), proj.resolve(e.get("target").asText),
      StandardCopyOption.REPLACE_EXISTING)
  }
  private var iteration = 0

  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    if (obs.attached) s.listenerManager.register(obs)
    s
  }

  /** Drops every table an earlier iteration left, so each build starts
    * from an empty warehouse as well as an empty db_path.
    */
  private def resetCatalog(): Unit =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).foreach { t =>
      ViewStore.dropTableClearingLocation(spark, t.name)
    }

  private def norm(s: String): String = s.replaceAll("\\s+", " ").trim

  private val untraced = new Tracer(false, trace.runId)

  /** Two untimed builds: the first runs 2-3x slower than later ones, the
    * second still ~15% slower.
    */
  def warmup(): Unit = (1 to 2).foreach(_ => untimed(build(untraced)))

  /** Builds from scratch for the run's seconds, then runs the edit loop
    * once on the last build: inputs change, a fresh session rebuilds
    * changed-only. The output check reads that final state.
    */
  def measure(): Unit = {
    if (a.trace) obs.attach(spark)
    val t0 = System.nanoTime()
    val builds, graphs = mutable.ArrayBuffer[Double]()
    var last = 0.0
    var db: Path = null
    while (builds.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= a.seconds) {
      val i0 = System.nanoTime()
      val (g, b, d) = trace("iteration")(build(trace))
      graphs += g; builds += b; db = d
      if (builds.size == 1) metrics("heap_retained_mb") = retainedHeapMb()
      last = (System.nanoTime() - i0) / 1e9
    }
    metrics("pass_s") = median(builds.toSeq)
    if (a.trace) {
      metrics("pipeline.build_s") = median(builds.toSeq)
      metrics("pipeline.graph_s") = median(graphs.toSeq)
      layerMetrics(builds.size)
      obs.detach(spark) // one build without spans or listeners prices the tracing
      val (_, plain, d) = untimed(build(untraced))
      db = d
      metrics("trace_overhead_frac") = median(builds.toSeq) / plain - 1
      obs.attach(spark)
    }
    val rerunS = rerun(db, trace)
    if (a.trace) {
      metrics("pipeline.rerun_s") = rerunS
      Seq("nodes_executed", "nodes_skipped", "rerun_exec_ratio")
        .foreach(k => metrics(s"pipeline.$k") = ph(k))
    }
  }

  private val phase = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private def addPhase(k: String, v: Double): Unit =
    phase.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  private def ph(k: String): Double = median(phase.getOrElse(k, mutable.ArrayBuffer()).toSeq)

  /** Work outside the measurement: its operations do not count. */
  private def untimed[T](body: => T): T = {
    val saved = (attempted, failed)
    try body finally { attempted = saved._1; failed = saved._2 }
  }

  /** One `graft build` from an empty db_path and warehouse over the base
    * inputs; returns (graph_s, build_s, db_path).
    */
  private def build(tr: Tracer): (Double, Double, Path) = {
    iteration += 1
    resetCatalog()
    swapIn("base")
    val db = a.work.resolve("db").resolve(iteration.toString)
    val cfg = cfg0.copy(dbPath = Some(db.toString))
    val s1 = freshSession()
    // graph: what viz, docs and --dry-run pay
    var graph: (Seq[String], Map[String, graft.pipeline.ModelNode]) = null
    val graphS = timed(tr("graph") { graph = new PipelineSession(s1, cfg).buildGraph() })
    graph._2.foreach { case (id, n) =>
      attempted += 1
      if (norm(n.renderedSrc) != norm(expectedRendered.getOrElse(id, "")))
        fail(s"render $id: graft gave [${norm(n.renderedSrc)}], expected " +
          s"[${norm(expectedRendered.getOrElse(id, ""))}]")
    }
    if (tr.enabled) tr("phases")(phases(s1, cfg, tr))
    val io0 = wchar()
    val buildSession = new PipelineSession(s1, cfg, parallel = true, buildMode = true)
    var report: buildSession.RunReport = null
    val buildS = timed(tr("build") { report = buildSession.runNodes() })
    val io1 = wchar()
    report.results.foreach { r =>
      attempted += 1
      r.error.foreach(e => fail(s"build ${r.id}: ${firstLine(e)}"))
    }
    buildSession.collectedTests.foreach { case (id, desc, err, warnOnly) =>
      attempted += 1
      if (err.nonEmpty && !warnOnly) fail(s"test $id $desc failed")
    }
    if (tr.enabled) buildLayer(report.results.map(r => (r.id, r.millis)), report.totalMillis,
      buildS, io1 - io0, db, s1, graph._2)
    (graphS, buildS, db)
  }

  /** The edit loop over a built db_path: the inputs change, a fresh
    * session restores the db_path and rebuilds with --changed-only, which
    * must re-execute at least the generator's closure; returns rerun_s.
    */
  private def rerun(db: Path, tr: Tracer): Double = {
    swapIn("next")
    val cfg = cfg0.copy(dbPath = Some(db.toString))
    val s2 = freshSession()
    var results: Seq[(String, String)] = Nil
    val rerunS = timed(tr("rerun") {
      ViewStore.restore(s2, db.toString)
      val sess = new PipelineSession(s2, cfg, parallel = true, changedOnly = true,
        buildMode = true)
      val rep = sess.runNodes()
      rep.results.foreach(r => r.error.foreach(e =>
        fail(s"rerun ${r.id}: ${firstLine(e)}")))
      results = rep.results.map(r => r.id -> r.status)
    })
    val executed = results.collect { case (id, st) if !st.startsWith("SKIP") => id }.toSet
    attempted += closure.size
    (closure -- executed).toSeq.sorted.foreach(id => fail(s"rerun skipped changed model $id"))
    if (tr.enabled) {
      addPhase("nodes_executed", executed.size.toDouble)
      addPhase("nodes_skipped", (results.size - executed.size).toDouble)
      addPhase("rerun_exec_ratio", executed.size.toDouble / math.max(1, closure.size))
      rows += s"""{"kind": "rerun", "executed": ${executed.size}, """ +
        s""""skipped": ${results.size - executed.size}, "closure": ${closure.size}}"""
    }
    rerunS
  }

  /** buildGraph's phases, each through its public function, in its order. */
  private def phases(s: SparkSession, cfg: PipelineConfig, trace: Tracer): Unit = {
    val sess = new PipelineSession(s, cfg)
    var paths: Seq[Path] = Nil
    var raws: Seq[(String, String)] = Nil
    addPhase("discover_s", timed(trace("discover") {
      paths = sess.discoverModelPaths()
      raws = paths.map { p =>
        val fn = p.getFileName.toString
        fn.substring(0, fn.lastIndexOf('.')) -> Files.readString(p)
      }
    }))
    var rendered: Seq[(String, String)] = Nil
    addPhase("render_s", timed(trace("render") {
      val fm = MacroRenderer.parseMacros(sess.loadMacros().values.mkString("\n"))
      rendered = raws.map { case (id, raw) =>
        id -> MacroRenderer.render(SqlText.stripComments(raw), fm) }
    }))
    val ids = rendered.map(_._1).toSet
    var prevs: Map[String, Set[String]] = Map.empty
    addPhase("deps_s", timed(trace("deps") {
      prevs = rendered.map { case (id, r) => id -> (DepExtractor.modelRefsInModel(r, ids) - id) }
        .toMap
    }))
    addPhase("topo_s", timed(trace("topo")(Dag.topoSort(Dag.Graph(prevs)))))
    val waves = Dag.waves(Dag.Graph(prevs))
    addPhase("waves", waves.size.toDouble)
    addPhase("wave_width_max", waves.map(_.size).max.toDouble)
  }

  private def buildLayer(nodes: Seq[(String, Long)], execMillis: Long, buildS: Double,
                         wcharBytes: Long, db: Path, s: SparkSession,
                         nodeMap: Map[String, graft.pipeline.ModelNode]): Unit = {
    val sumMs = nodes.map(_._2).sum.toDouble
    addPhase("run_overhead_s", buildS - execMillis / 1e3)
    addPhase("parallelism", sumMs / math.max(1L, execMillis))
    nodes.foreach { case (id, ms) =>
      val kind = materialize.getOrElse(id, "view")
      phase.getOrElseUpdate(s"node_${kind}_ms", mutable.ArrayBuffer()) += ms.toDouble
      rows += s"""{"kind": "node", "iteration": $iteration, "id": ${Json.str(id)}, """ +
        s""""materialize": ${Json.str(kind)}, "ms": $ms}"""
    }
    // the dialect shim over every rendered statement (views exist now)
    addPhase("shim_s", timed(trace("shim") {
      nodeMap.values.foreach(n => SqlText.splitStatements(n.renderedSrc)
        .foreach(st => DialectShim.rewrite(st, s)))
    }))
    val store = du(db) + du(a.work.resolve("warehouse"))
    addPhase("wchar_bytes", wcharBytes.toDouble)
    addPhase("store_bytes", store.toDouble)
    addPhase("write_amp", wcharBytes.toDouble / math.max(1L, store))
  }

  private def layerMetrics(iterations: Int): Unit = {
    Seq("discover_s", "render_s", "deps_s", "topo_s", "shim_s", "run_overhead_s",
      "parallelism", "waves", "wave_width_max", "wchar_bytes", "store_bytes", "write_amp")
      .foreach(k => metrics(s"pipeline.$k") = ph(k))
    metrics("pipeline.graph_other_s") = metrics("pipeline.graph_s") -
      Seq("discover_s", "render_s", "deps_s", "topo_s").map(ph).sum
    for (kind <- Seq("view", "table", "incremental"); (q, n) <- Seq(0.5 -> "p50", 0.99 -> "p99")) {
      metrics(s"pipeline.node_${kind}_ms.$n") =
        quantile(phase.getOrElse(s"node_${kind}_ms", mutable.ArrayBuffer()).toSeq, q)
    }
    obs.quiesce() // Spark work per build
    Seq("jobs", "tasks", "task_cpu_s", "gc_s", "output_bytes", "shuffle_write_bytes")
      .foreach(k => metrics(s"pipeline.exec.$k") = obs.total(k) / iterations)
  }

  private def wchar(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong }
      .getOrElse(0L)

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** query_suite: the drawn SparkEntry.queries entries, sorted by name, each
  * written to a noop sink; row counts come from an observation on the
  * written frame and are checked against DuckDB afterwards.
  */
final class QuerySuite(spark: SparkSession, a: Main.Args, trace: Tracer, obs: Obs)
    extends Workload {
  import Main._
  private val names = Files.readAllLines(a.work.resolve("queries.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq.sorted
  private val all = SparkEntry.queries
  private val relational = RelationalQueries.queries.keySet
  private val planted = "planted_failure"
  private def fn(n: String): (SparkSession, String) => DataFrame =
    if (n == planted) (_, _) => throw new IllegalStateException("planted failing query")
    else all(n)
  private val dir = a.work.resolve("data").toString

  /** Three untimed passes over the same tables: the first persists the
    * stores some operators cache in the warehouse, and passes keep getting
    * faster until about the third as the JIT warms up.
    */
  def warmup(): Unit = (1 to 3).foreach(_ => plainPass())

  private def plainPass(): Unit = names.foreach { n =>
    try fn(n)(spark, dir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
  }

  def measure(): Unit = {
    val lat = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Double]()
    val part = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = part.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val counts = mutable.LinkedHashMap[String, Option[Long]]()
    var windowMs = 0.0
    var driverS = 0.0
    if (a.trace) obs.attach(spark)
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + passes.last <= a.seconds) {
      var buildDf, write, rel, ext = 0.0
      val passStartMs = System.currentTimeMillis()
      val pass = timed(trace("pass") {
        names.foreach { n =>
          spark.sparkContext.setLocalProperty("graftbench.op", n)
          val q0 = System.nanoTime()
          var built = 0.0
          val res = trace(s"query:$n") {
            try {
              val df = trace("build_df")(fn(n)(spark, dir))
              built = (System.nanoTime() - q0) / 1e9
              val o = Observation("rows")
              trace("write")(df.observe(o, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save())
              val observed = o.get
              Right(observed("n").asInstanceOf[Long])
            } catch { case e: Throwable => Left(e) }
          }
          val s = (System.nanoTime() - q0) / 1e9
          attempted += 1
          res match {
            case Right(c) =>
              lat += s // a failed query never enters the latencies
              if (counts.get(n).flatten.exists(_ != c)) fail(s"$n: row count changed across passes")
              counts(n) = Some(c)
              if (relational(n)) rel += s else ext += s
            case Left(e) =>
              fail(s"$n: ${e.getClass.getSimpleName}: ${firstLine(e)}")
              counts(n) = None
          }
          buildDf += built; write += s - built
          if (a.trace) rows += s"""{"kind": "query", "pass": ${passes.size}, "name": ${Json.str(n)}, """ +
            s""""s": $s, "build_df_s": $built, "ok": ${res.isRight}}"""
        }
      })
      spark.sparkContext.setLocalProperty("graftbench.op", null)
      passes += pass
      if (passes.size == 1) metrics("heap_retained_mb") = retainedHeapMb()
      add("build_df_s", buildDf); add("write_s", write)
      add("relational_s", rel); add("extension_s", ext)
      windowMs += pass * 1e3
      if (a.trace) {
        obs.quiesce()
        driverS += pass - obs.jobCoverage(passStartMs, passStartMs + (pass * 1e3).toLong)
      }
    }
    metrics("pass_s") = median(passes.toSeq)
    if (a.trace) {
      val n = passes.size.toDouble
      metrics("queries.suite_s") = median(passes.toSeq)
      metrics("queries.query_p50_s") = quantile(lat.toSeq, 0.5)
      metrics("queries.query_p90_s") = quantile(lat.toSeq, 0.9)
      Seq("build_df_s", "write_s", "relational_s", "extension_s")
        .foreach(k => metrics(s"queries.$k") = median(part(k).toSeq))
      obs.quiesce()
      Seq("parse_s", "analyze_s", "optimize_s", "plan_s")
        .foreach(k => metrics(s"queries.compile.$k") = obs.total(k) / n)
      metrics("queries.exec.driver_s") = driverS / n
      Seq("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
        .foreach(k => metrics(s"queries.exec.$k") = obs.total(k) / n)
      metrics("queries.slots_busy") = obs.total("task_run_s") / (windowMs / 1e3 * a.cores)
      Seq("scans", "exchanges", "reused_exchanges", "bnlj", "cartesian")
        .foreach(k => metrics(s"queries.plan.$k") = obs.total(k) / n)
      obs.byOp.foreach { case (op, t) =>
        rows += s"""{"kind": "query_exec", "name": ${Json.str(op)}, """ +
          t.v.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v / n)}" }.mkString(", ") + "}"
      }
      obs.detach(spark) // one pass without spans or listeners prices the tracing
      val untracedPass = timed(plainPass())
      metrics("trace_overhead_frac") = median(passes.toSeq) / untracedPass - 1
    }
    val out = new StringBuilder("{")
    out.append(counts.map { case (q, c) =>
      s"${Json.str(q)}: ${c.map(_.toString).getOrElse("null")}" }.mkString(", "))
    out.append("}")
    Files.writeString(a.work.resolve("rows.json"), out.toString)
    val oracle = SparkEntry.oracleSql
    Files.writeString(a.work.resolve("oracle.json"), names.filter(oracle.contains)
      .map(q => s"${Json.str(q)}: ${Json.str(oracle(q))}").mkString("{", ", ", "}"))
  }
}
