package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same SQL function surface the CLI session gets (shim-based queries
    // may reference any registered native fn, e.g. date_diff_boundary)
    graft.functions.GraftExtensions.register(spark)
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
    // Self-adjudication (three rounds running, the record carried a
    // phantom regression that cost the verdict a manual re-run: r9→r10
    // contention, r10 q27, r11 q55): any query whose min-of-reps time
    // exceeds 3× its entry in the PREVIOUS round's record — drift-
    // normalized by the calibration ratio — is re-timed ONCE at the
    // quiet end of the run, and BOTH numbers go into the durable record
    // so a transient scheduler lottery is adjudicable without re-running
    // the bench. Previous record: explicit --prev flag, else
    // SPARK_GRAFT_PREV_BENCH, else the newest BENCH_r*.json in the
    // working directory. A stray positional arg is REJECTED loudly (it
    // used to be silently consumed as the record path, and a garbage file
    // silently disabled adjudication), and an explicitly supplied record
    // that cannot be read or parsed warns to stderr instead of degrading
    // to "no adjudication" without a trace.
    val prevExplicit: Option[String] = {
      val i = args.indexOf("--prev")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1))
      else {
        if (i >= 0)
          System.err.println("bench: --prev requires a path; ignoring")
        else if (args.nonEmpty)
          System.err.println(s"bench: unrecognized args '${args.mkString(" ")}'" +
            " ignored (previous record is passed via --prev <path>)")
        sys.env.get("SPARK_GRAFT_PREV_BENCH")
      }
    }
    val prevPath: Option[String] = prevExplicit
      .orElse {
        val fs = Option(new java.io.File(".").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        if (fs.isEmpty) None
        else Some(fs.maxBy(_.getName.replaceAll("\\D", "").toInt).getPath)
      }
    def parsePrev(raw: String)
        : (Map[String, Double], Option[Double], Option[Double]) = {
      // The round driver's BENCH_rN.json wraps the stdout inside a JSON
      // string field ("tail"), escaping every quote and TRUNCATING the
      // front of the queries map — r12's record held 100+ per-query times
      // that no marker-based parse could see (which is why n_retimed was
      // silently 0 all round). Unescape first so the markers match, and
      // fall back to a global q-key scan when the map's opening brace did
      // not survive the truncation.
      val text = if (raw.contains("\\\"")) raw.replace("\\\"", "\"") else raw
      // brace-match the LAST "queries" object (a captured-stdout record
      // can hold several lines; err-string values and the cc field make
      // naive regex-over-the-file wrong)
      val qIdx = text.lastIndexOf("\"queries\":{")
      val times = if (qIdx < 0) Map.empty[String, Double] else {
        val start = qIdx + "\"queries\":".length
        var i = start; var depth = 0; var inStr = false; var esc = false
        var end = -1
        while (i < text.length && end < 0) {
          val c = text(i)
          if (esc) esc = false
          else if (inStr) { if (c == '\\') esc = true
            else if (c == '"') inStr = false }
          else c match {
            case '"' => inStr = true
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ => ()
          }
          i += 1
        }
        if (end < 0) Map.empty[String, Double]
        else "\"((?:[^\"\\\\]|\\\\.)+)\":([0-9][0-9.eE+-]*)".r
          .findAllMatchIn(text.substring(start, end + 1))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      // truncation fallback: per-query keys are globally distinctive
      // ("q<digits>_<name>": a bare number), and the retimes/cc fields
      // nest their values in objects so they cannot false-match. Later
      // occurrences win — the newest appended line of a multi-run file.
      val times2 =
        if (times.nonEmpty) times
        else "\"(q\\d+_[A-Za-z0-9_]+)\":([0-9][0-9.eE+-]*)".r
          .findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val cal = "\"calibration\":([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(text).toSeq.lastOption.map(_.group(1).toDouble)
      val calSh = "\"calibration_shuffle\":([0-9][0-9.eE+-]*)".r
        .findAllMatchIn(text).toSeq.lastOption.map(_.group(1).toDouble)
      (times2, cal, calSh)
    }
    val (prevTimes, prevCal, prevCalShuffle) = prevPath.flatMap { p =>
      try {
        val parsed = parsePrev(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))
        if (parsed._1.isEmpty && prevExplicit.contains(p))
          System.err.println(s"bench: --prev record $p parsed to zero " +
            "query times — adjudication runs without a baseline")
        Some(parsed)
      } catch { case e: Throwable =>
        if (prevExplicit.contains(p))
          System.err.println(s"bench: cannot read --prev record $p " +
            s"(${e.getMessage}) — adjudication runs without a baseline")
        None
      }
    }.getOrElse((Map.empty[String, Double], None, None))
    // drift ratio: how much slower THIS machine/run is on the pinned
    // calibration than the previous record's — an outlier threshold that
    // ignored it would flag the whole suite on a slow box. The SHUFFLE
    // calibration is preferred when both records carry it (it tracks the
    // suite's own execution regime); the scalar loop is the fallback for
    // records predating it.
    val drift = prevCalShuffle.filter(_ > 0)
      .map(calibrationShuffle / _)
      .orElse(prevCal.filter(_ > 0).map(calibration / _))
      .getOrElse(1.0)
    val retimes: Seq[(String, (Double, Double, Double))] =
      results.flatMap {
        case (name, Right(t)) => prevTimes.get(name).collect {
          case p if t > 3.0 * p * drift =>
            val r = selected.get(name)
              .flatMap(fn => timeQuery(fn).toOption).getOrElse(t)
            name -> (p, t, r)
        }
        case _ => None
      }
    // Verify's escaper handles control chars too — a tab/CR inside an
    // error message must not corrupt the round's only durable bench record
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
      if (ccStats.isEmpty) ""
      else ccStats.map { case (q, s) =>
        jstr(q) + s""":{"rounds":${s.rounds},"changed":${
          s.changedPerRound.mkString("[", ",", "]")}}"""
      }.mkString(""","cc":{""", ",", "}")
    // retimes AFTER queries: a truncated stdout capture keeps the line's
    // tail (BENCH_r10 did), and the adjudication data must survive that
    val retimeField =
      if (retimes.isEmpty) ""
      else retimes.map { case (q, (p, t, r)) =>
        jstr(q) + s""":{"prev":$p,"time":$t,"retime":$r}"""
      }.mkString(s""","drift":$drift,"retimes":{""", ",", "}")
    // Suite-level drift adjudication: per-query retimes only fire on >=3x
    // spikes, so UNIFORM drift (every query 1.3-1.5x, the r11->r12 shape)
    // sailed through un-adjudicated and cost the verdict a manual re-run
    // four rounds running. Record the shared-query ratio vs the previous
    // record, raw AND normalized by the shuffle-regime drift; flag
    // drift_suspect when the raw total moved >1.3x with no per-query
    // outlier to blame — the signature of machine drift, adjudicable from
    // the record alone.
    val shared = results.collect {
      case (n, Right(t)) if prevTimes.get(n).exists(_ > 0) =>
        (t, prevTimes(n))
    }
    val suiteField =
      if (shared.size < 10) ""
      else {
        val ratio = shared.map(_._1).sum / shared.map(_._2).sum
        val norm = ratio / drift
        val suspect = (ratio > 1.3 || ratio < 1.0 / 1.3) && retimes.isEmpty
        s""","shared_n":${shared.size},"shared_ratio":${f"$ratio%.4f"}""" +
          s""","shared_ratio_norm":${f"$norm%.4f"},"drift_suspect":$suspect"""
      }
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"calibration_shuffle":$calibrationShuffle,"cpus":$cpus,"queries":$qs$errField$ccField$retimeField$suiteField,"sf":"$sfDir"}"""
    println(fullLine)
    // Stdout capture has truncated the long per-query record two rounds in a
    // row (r4 lost the total, r5 lost 21/81 per-query times), so the complete
    // record also goes to a file — the durable copy regression triage reads.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    def appendLine(path: String): Boolean =
      try {
        // APPEND one JSON line per run: a second run in the same round (or a
        // partial one) must not clobber the only durable copy of the previous
        // per-query record. Consumers (tools/bench_diff.py) take the last
        // parseable line.
        Option(new java.io.File(path).getParentFile).foreach(_.mkdirs())
        val w = new java.io.PrintWriter(new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(
            new java.io.FileOutputStream(path, true), "UTF-8")))
        try w.println(fullLine) finally w.close()
        true
      } catch { case e: Throwable =>
        System.err.println(s"bench: could not write $path: ${e.getMessage}")
        false
      }
    appendLine(outPath)
    // The round driver's BENCH_rN.json keeps only a ~2000-char TAIL of
    // stdout, so the canonical record loses most of the 142 per-query times
    // (r13 verdict: only 26-43 survived). The full record therefore ALSO
    // appends to a repo-tracked file, and the short tail line below names
    // it — a verdict can read every per-query time from repo artifacts
    // without builder-side local copies.
    val repoRecord = "bench_records/bench_full.jsonl"
    val repoRecordOk = appendLine(repoRecord)
    val recordField =
      if (repoRecordOk) s""","full_record":${jstr(repoRecord)}""" else ""
    // The driver's BENCH_rN.json captures only a ~2000-char stdout TAIL
    // and its perf adjudication has parsed NULL every round since r1:
    // the full record line (with the 197-entry queries map) never fits
    // inside the tail, and the old short tail line carried no "queries"
    // key at all — so PERF_r*.json's per_query map has been empty for
    // five rounds (VERDICT r19 item 2). Fix, measurement-plumbing only
    // (no timing change): (a) write the COMPLETE contract record —
    // {"metric","value","unit","queries"(all),"sf",calibrations} — to
    // BENCH_SUMMARY.json / BENCH_SUMMARY_c<cpus>.json at fixed repo
    // paths (overwrite per run: it is a summary, the append-only
    // history stays in bench_records/bench_full.jsonl), and (b) make
    // the final stdout line a contract-shaped JSON whose "queries" map
    // holds the TOP-N slowest queries, sized to survive a 2000-char
    // tail capture, with "queries_full" naming the summary file.
    // Keyed "total_tail" so a consumer filtering on metric=="total"
    // never double-counts it against the full line above.
    val summaryLine =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"calibration_shuffle":$calibrationShuffle,"cpus":$cpus,"n_queries":${results.size},"n_errors":${errs.size},"queries":$qs$errField,"sf":"$sfDir"}"""
    def writeSummary(path: String): Boolean =
      try {
        val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
        try w.println(summaryLine) finally w.close()
        true
      } catch { case e: Throwable =>
        System.err.println(s"bench: could not write $path: ${e.getMessage}")
        false
      }
    val summaryOk = writeSummary("BENCH_SUMMARY.json") &
      writeSummary(s"BENCH_SUMMARY_c$cpus.json")
    val summaryField =
      if (summaryOk) s""","queries_full":"BENCH_SUMMARY.json"""" else ""
    // top-N slowest queries, trimmed so the whole line stays < 1900
    // chars: names are the contract keys (never shortened), values at
    // 3 decimals (a tail-line convenience copy; full precision lives in
    // the summary file and the jsonl record)
    val topQs = {
      val entries = results.collect { case (k, Right(t)) => (k, t) }
        .sortBy(-_._2).map { case (k, t) => jstr(k) + ":" + f"$t%.3f" }
      // an honest top-N: the slowest entries up to the first one that
      // overflows the 1300-char budget — never a shorter, faster entry
      // from further down in its place. Running sums of length + 1 are
      // each prefix's joined length plus one.
      val fit = entries.scanLeft(0)(_ + _.length + 1).tail
        .takeWhile(_ - 1 <= 1300).size
      s"{${entries.take(fit).mkString(",")}}"
    }
    println(s"""{"metric":"total_tail","value":$total,"unit":"sec","calibration":$calibration,"calibration_shuffle":$calibrationShuffle,"cpus":$cpus,"n_queries":${results.size},"n_errors":${errs.size},"n_retimed":${retimes.size},"queries":$topQs$summaryField$suiteField$recordField,"sf":"$sfDir"}""")
    spark.stop()
  }
}
