package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
/** The per-query suite bench: times every `SparkEntry.queries` entry over
  * `SPARK_GRAFT_SF_DIR` and writes one record line (see [[record]]) to
  * stdout and to `SPARK_GRAFT_BENCH_OUT`. Comparing two records is
  * `tools/bench_diff.py`'s job.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty, "usage: graft.Bench takes no arguments (settings: " +
      "SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY, SPARK_GRAFT_REPS, " +
      s"SPARK_GRAFT_BENCH_OUT); got '${args.mkString(" ")}'")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JIT the scheduler/parquet/codegen machinery and read
    // every table's footer once, so the first timed query doesn't absorb
    // ~5s of session start-up cost. sf0.01 (not the smallest SF) so AQE
    // picks the same plan shapes the timed pass will compile.
    // Dev-only knobs (driver sets neither): ONLY=comma-list to subset,
    // REPS=n to repeat each query and keep the fastest run. Default is
    // min-of-3: single-run times on this workload swing up to 3.5× between
    // identical-code runs (r2 vs r3: q44 3.78→1.07 s), so one run cannot
    // distinguish a regression from scheduler noise.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    val warmDir = "/root/testdata/sf0.01"
    if (new java.io.File(warmDir).isDirectory)
      // warm only the SELECTED queries: with SPARK_GRAFT_ONLY set, warming
      // the full suite costs minutes per dev iteration for nothing
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    // Calibration: a fixed, parquet-free, data-independent CPU workload
    // (codegen'd xxhash64 over an in-memory range) timed alongside the real
    // queries. Same-code bench totals have swung ~1.9× round-to-round on
    // machine drift alone (r6 vs r7 adjudication); recording this pinned
    // workload in the durable JSON lets tools/bench_diff.py divide drift
    // out and label "machine drift" instead of burning a triage cycle on
    // it. Sized ~1-2 s on 32 threads: long enough to dominate scheduler
    // jitter, short enough to not stretch the bench.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing the hashes overflows long under ANSI.
      // DO NOT change the workload or the row count: a drift ratio is only
      // meaningful between records that ran the IDENTICAL calibration —
      // which includes the CORE COUNT: the fixed workload splits over
      // `cpus` partitions, so a CPUS=8 run reads ~2.5× a 32-core run by
      // construction (the r17 adjudication). The record carries "cpus"
      // so a mismatch is visible instead of masquerading as drift.
      spark.range(0L, 8000000000L, 1L, cpus.toInt)
        .selectExpr("bit_xor(xxhash64(id)) as h")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calOnce() // untimed JIT warm, like the query warmup
    val calibration = (1 to 3).map(_ => calOnce()).min
    // Second calibration in the EXECUTION REGIME the suite actually runs
    // in: a pinned synthetic shuffle+aggregate job (generated data, no
    // repo operators — it never changes with the code). The scalar CPU
    // loop above moved <2% between r11 and r12 while untouched shuffle-
    // bound queries moved 30-50% (r12 adjudication had to re-run by
    // hand): a multi-core exchange + hash-aggregate workload tracks
    // memory-bandwidth/GC/scheduler drift the way a register-resident
    // hash loop cannot. DO NOT change the workload or sizes: drift ratios
    // only mean something between records running the IDENTICAL job.
    def calShuffleOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 32000000L, 1L, cpus.toInt)
        .selectExpr("pmod(xxhash64(id), 2000000) as k", "xxhash64(id + 7) as v")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(v) as h"))
        .selectExpr("bit_xor(h) as hh")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calShuffleOnce() // untimed JIT warm
    val calibrationShuffle = (1 to 3).map(_ => calShuffleOnce()).min
    // A failed query must NOT bench as a fast one: record the error instead
    // of a time and keep it out of the total, so a regression that breaks a
    // query can only make the bench look worse, never better.
    // CC round instrumentation (VERDICT r9 #5): iterative-operator variance
    // is indistinguishable from a frontier regression without the round
    // structure in the durable record.
    val ccStats = scala.collection.mutable.LinkedHashMap
      .empty[String, graft.ext.DedupOps.CcRunStats]
    def timeQuery(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      // noop sink materializes every output column (count() would let
      // Catalyst prune the projections and under-measure scalar-heavy
      // queries) without paying parquet-encode or local-disk cost.
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable => Left(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(120))
      }
    }
    val results: Seq[(String, Either[String, Double])] = selected.toSeq.map {
      case (name, fn) =>
        graft.ext.DedupOps.resetCcStats()
        def runOnce(): Either[String, Double] = timeQuery(fn)
        val runs = (1 to reps).map(_ => runOnce())
        // Sub-second queries are dominated by scheduler jitter: a contended
        // min-of-3 measured q24 at 2.95s where a quiet run gives 0.53s. Two
        // extra reps shrink that lottery without stretching the bench for
        // the multi-second queries where 3 reps already converge.
        val extra =
          if (runs.exists(r => r.exists(_ < 1.0)) && reps < 5)
            (reps until 5).map(_ => runOnce())
          else Seq.empty
        val oks = (runs ++ extra).collect { case Right(t) => t }
        // Bench is single-threaded, so a thread-local CC record present
        // here belongs to THIS query's last rep; clear-before/read-after
        // attributes it safely even so.
        graft.ext.DedupOps.lastCcStats.foreach(s => ccStats(name) = s)
        name -> (if (oks.nonEmpty) Right(oks.min)
                 else Left(runs.collectFirst { case Left(m) => m }.getOrElse("?")))
    }
    val line = record(results, calibration, calibrationShuffle, cpus,
      ccStats.toSeq, sfDir)
    spark.stop()
    println(line)
    // APPEND one line per run: a second or partial run must not clobber an
    // earlier record. A write failure throws (non-zero exit naming the path)
    // after the line is already on stdout.
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_records/bench_full.jsonl"))
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, line + "\n", StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)
  }

  /** The bench record, one JSON line: `value` is the total over the queries
    * that ran, `queries` maps each query to its min-of-reps seconds or to
    * `"err: <message>"`, `errors` (present only when some query failed)
    * lists the failed names, and `cc` holds the CC round stats per query
    * that ran connected components.
    */
  def record(results: Seq[(String, Either[String, Double])],
             calibration: Double, calibrationShuffle: Double, cpus: String,
             cc: Seq[(String, graft.ext.DedupOps.CcRunStats)],
             sfDir: String): String = {
    // Verify's escaper handles control chars too: a tab or newline in an
    // error message must not corrupt the record
    def jstr(s: String) = Verify.jsonStr(s)
    val qs = results.map {
      case (k, Right(t)) => jstr(k) + ":" + t
      case (k, Left(m))  => jstr(k) + ":" + jstr("err: " + m)
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(_)) => k }
    val total = results.collect { case (_, Right(t)) => t }.sum
    val errField =
      if (errs.isEmpty) "" else s""","errors":${errs.map(jstr).mkString("[", ",", "]")}"""
    val ccField =
      if (cc.isEmpty) ""
      else cc.map { case (q, s) =>
        jstr(q) + s""":{"rounds":${s.rounds},"changed":${
          s.changedPerRound.mkString("[", ",", "]")}}"""
      }.mkString(""","cc":{""", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"calibration_shuffle":$calibrationShuffle,"cpus":$cpus,"queries":$qs$errField$ccField,"sf":${jstr(sfDir)}}"""
  }
}
