package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AggOps, DedupOps, JoinOps, MultimodalOps, PackOps, ProfileOps, RetrievalOps, SimilarityOps, SinkOps, TextOps}
import org.apache.spark.sql.graft.VectorFunctions

/** Layer-C extension queries (SURVEY.md §2.C): training-data-pipeline
  * operators over the `documents` / `embeddings` / `events` tables — dedup
  * (exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity search (brute
  * force + IVF), text analysis (tokens, quality, language-ID, fingerprints),
  * multimodal plumbing, and sessionization.
  *
  * EVERY query carries a DuckDB oracle — including q46, whose registered
  * result is the engine-independent sketch-vs-exact decision layer (raw
  * estimates bounded in ApproxSketchSpec; exact twins in q61). q27/q28 use
  * the portable md5-derived hash families; q52/q60 share their literal
  * hyperplanes with the generated oracle, and q31 shares its committed
  * prefit centroids (graft.ext.IvfCentroids) the same way.
  */
object ExtensionQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** THE portable near-dup parameterization, used by every MinHash query
    * (q27, q56, q59, q72). The oracle side ([[minHashPairCtes]]) hard-codes
    * the matching literals — 16 md5-derived coefficients, 8 bands × 2 rows,
    * 3-gram shingles, 0.8 threshold — so a retune must change both HERE and
    * there, never one call site.
    */
  private[graft] def portableMinHashPairs(docs: DataFrame): DataFrame =
    DedupOps.minHashLshPairs(docs,
      k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.8,
      portable = true)

  /** Warehouse-rooted materialization path for fixture-derived state,
    * versioned by a content fingerprint of the fixture's file listing
    * (name:length:mtime of every data file — a driver-side listing, no
    * Spark job; regenerated fixtures under the same dir can never serve
    * stale state, ADVICE r8) and by the caller's parameter suffix (a
    * retune invalidates by construction). Rooted under the session's
    * warehouse dir (the [[graft.pipeline.ViewStore]] pattern), NOT
    * `java.io.tmpdir` (VERDICT r8 #1): on a cluster the warehouse is
    * shared storage every executor and every later job can reach, while
    * tmpdir is one machine's local disk.
    */
  private def fixturePath(s: SparkSession, dir: String, table: String,
                          leafPrefix: String, params: String): String = {
    import org.apache.hadoop.fs.Path
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val conf = s.sparkContext.hadoopConfiguration
    val src = new Path(dir, s"$table.parquet")
    val dfs = src.getFileSystem(conf)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = dfs.listFiles(src, true)
    while (it.hasNext) {
      val st = it.next()
      entries += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
    }
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    val wh = new Path(s.conf.get("spark.sql.warehouse.dir"))
    // leaf must not start with `_` or `.` — Spark's file index treats
    // such names as hidden (the sanitized key starts with `_root_...`)
    new Path(wh, s"_graft_pairs/${leafPrefix}_${key}_${fp}_$params").toString
  }

  /** The pay-LSH-once entry point (VERDICT r7 #5): q27's pair set,
    * materialized at a [[fixturePath]] and read back — the first caller
    * in a JVM computes it, every later caller (q86, specs, any
    * production chain) gets a bare FileScan. Results are byte-identical
    * to recomputing because the pair set is deterministic.
    */
  private[graft] def persistedMinHashPairs(s: SparkSession,
                                           dir: String): DataFrame =
    DedupOps.materializedPairs(s,
      fixturePath(s, dir, "documents", "pairs", "k3_b8_r2_j080"))(
      portableMinHashPairs(t(s, dir, "documents")))

  /** The argmax of a [[org.apache.spark.sql.graft.HashedGramScoreVec]]
    * column as a (sc, l) struct: per-class scores ROUND AT 6 before the
    * comparison (so both engines order identically) and ties break to
    * the lexicographically smallest language — `langs` is sorted and the
    * fold keeps the earlier entry on equality. Shared by q154/q157/q159
    * and spec-tested on synthetic weights (tie + all-below-threshold
    * cases, QualityLrSpec).
    */
  /** Rounded argmax over the per-language score vector as (sc, l) —
    * ties break to the FIRST (lexicographically smallest, since `langs`
    * is sorted) language, exactly like the oracle's row_number over
    * (score DESC, lang). Linear array expressions, NOT the former
    * fold of nested when(struct) branches: that shape re-inlines the
    * whole accumulated subtree at every getField, growing the generated
    * code exponentially in |langs| — with q174's extra pricing
    * reference the fused stage blew Janino's 64 KB method limit and
    * de-JITted to interpreted execution.
    */
  private[graft] def langIdBest(langs: Seq[String],
                                scoresCol: Column): Column = {
    val r = transform(scoresCol, s => round(s, 6))
    struct(array_max(r).as("sc"),
      element_at(typedLit(langs),
        array_position(r, array_max(r)).cast("int")).as("l"))
  }

  /** q161's per-PREDICTED-language budgets — the selection the `und`
    * threshold exists to protect (out-of-family text must not spend a
    * real language's budget). Regimes mirror q148's: en partial at both
    * SFs (8k of 44.6k sf0.01 subword tokens), de all-fits, zh and und
    * partial (und rate-limited — kept, but capped), ja absent from the
    * data, fr/es untargeted (excluded). Subword masses measured by q159.
    */
  private[graft] val LangBudgets: Map[String, Long] = Map(
    "en" -> 8000L, "de" -> 10000000L, "zh" -> 900L, "und" -> 1000L,
    "ja" -> 10L)

  /** The shared language-ID scoring prelude (q154/q157/q159/q161 —
    * extracted after the review flagged four hand-synced copies): the
    * committed weights through the fused one-pass scorer, null-text
    * docs excluded by contract on both engines (the argmax would
    * otherwise fabricate predicted=langs.head with a NULL score —
    * ADVICE r15), and the rounded argmax as `__best`. Callers project
    * what they need and drop the working columns.
    */
  private[graft] def langIdScored(df: DataFrame): DataFrame = {
    import graft.ext.LangIdWeights
    val scores = org.apache.spark.sql.graft.SubwordFunctions
      .hashedGramScoreVec(col("text"),
        LangIdWeights.weights.map(_.toIndexedSeq), LangIdWeights.biases)
    df.filter(col("text").isNotNull)
      .withColumn("__s", scores)
      .withColumn("__best", langIdBest(LangIdWeights.langs, col("__s")))
      .withColumn("__cal", calMicro(col("__best").getField("sc"),
        graft.ext.CalibrationMaps.langIdCalMicro))
  }

  /** The deterministic train/eval document split every fitted artifact
    * is now fit and judged under (VERDICT r18 task 1): md5 parity of
    * the namespaced doc id — `true` = the HELD-OUT evaluation half,
    * `false` = the fit half. Both engines compute the same parity
    * byte-identically (the signFlipPermutationTest hash discipline), no
    * RNG, stable under corpus growth (a new doc lands in one half
    * forever). Fit tools train on `!holdoutEval`; q192/q193 report
    * generalization on `holdoutEval` — the numbers a user should trust
    * at corpus scale, vs the train-half numbers the committed-artifact
    * comments record.
    */
  private[graft] def holdoutEval(idCol: Column): Column =
    conv(substring(md5(concat(lit("split:"), idCol.cast("string"))),
      1, 8), 16, 10).cast("long") % 2 === 1

  /** The committed per-bucket calibration lookup ([[graft.ext
    * .CalibrationMaps]]): raw rounded score → calibrated P in Long
    * micro-units. One clamped-floor bucket (q175/q183's exact formula)
    * + one array index — linear, codegen-friendly (NOT a when-chain:
    * the langIdBest lesson), and the downstream threshold compare stays
    * pure-integer so no float literal ever meets a boundary.
    */
  private[graft] def calMicro(scoreCol: Column,
                              valuesMicro: Seq[Long]): Column = {
    val nb = graft.ext.CalibrationMaps.nBuckets
    val b = least(lit((nb - 1).toLong),
      greatest(lit(0L), floor(scoreCol * nb))).cast("int")
    element_at(typedLit(valuesMicro), b + lit(1))
  }

  /** `predicted` with the reject option: 'und' when the CALIBRATED
    * P(argmax correct) is below 1/2 — the prediction is more likely
    * wrong than right ([[graft.ext.CalibrationMaps.undCalCutMicro]]).
    * Replaces the raw 0.30 cut of rounds 15–17: q183 proved the raw
    * scores under-confident in every bucket (ECE 0.144; the 0.2–0.4
    * buckets only 38–41% correct), so a cut sized on raw scores was
    * rejecting on a scale that didn't mean probability. On the fitted
    * buckets the calibrated rule lands at raw < 0.4 (buckets 0–3 sit
    * below calibrated 0.5; bucket 4 reaches 0.652).
    */
  private[graft] def langIdPredictedOrUnd(bestCol: Column): Column =
    when(calMicro(bestCol.getField("sc"),
        graft.ext.CalibrationMaps.langIdCalMicro) <
        graft.ext.CalibrationMaps.undCalCutMicro, lit("und"))
      .otherwise(bestCol.getField("l"))

  /** The PER-LANGUAGE quality score (VERDICT r17 task 5): the committed
    * [[graft.ext.QualityLrWeightsByLang]] gate for the row's predicted
    * language. 'und' uses its own committed gate when the fit tool
    * found one that generalizes on the held-out und half (r19 — the
    * slice grew to a third of the corpus under the calibrated reject);
    * the global [[graft.ext.QualityLrWeights]] remains the appended
    * fallback class for any dispatch value without an artifact. ONE
    * fused [[org.apache.spark.sql.graft.HashedGramScoreVec]] call
    * scores all classes — the gram hashing (the real cost) is shared,
    * so serving k gates costs one tokenize + k multiply-adds per gram,
    * and the dispatch is a linear array_position + element_at (NOT a
    * when-chain — the langIdBest codegen lesson).
    */
  private[graft] def qualityLrScoreByLang(textCol: Column,
                                          predLangCol: Column): Column = {
    import graft.ext.{QualityLrWeights, QualityLrWeightsByLang => W}
    val all = W.langs.map(l => W.weights(l).toIndexedSeq) :+
      QualityLrWeights.weights.toIndexedSeq
    val biases = W.langs.map(W.biases) :+ QualityLrWeights.bias
    val vec = org.apache.spark.sql.graft.SubwordFunctions
      .hashedGramScoreVec(textCol, all, biases)
    val idx = array_position(typedLit(W.langs), predLangCol).cast("int")
    element_at(vec,
      when(idx === 0, lit(all.size)).otherwise(idx))
  }

  /** q59's full decision chain (quality gate → exact dedup → MinHash-LSH
    * cluster dedup → per-language stratified sample), unordered. Defined
    * HERE only — the registered query appends its orderBy and
    * [[graft.tools.ScaleCurve]] times this same chain, so a retune of any
    * stage changes both the oracle-checked query and the SCALING.md
    * measurement together (a hand-copied chain in the tool silently kept
    * measuring the old pipeline).
    */
  private[graft] def cleanCorpusChain(docs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE scoring pass (r19): quality, the dedup fingerprint, and the
    // carried lang compute in a single scan, and the exact-dedup
    // decision is the fp-window min — provably the old groupBy+join's
    // keep set (doc_id is unique, so "doc_id ∈ {min doc_id per fp}" ≡
    // "doc_id = min over the fp partition"). Only the narrow keep
    // manifest (ids + decision columns, no text) crosses the fp
    // exchange and materializes; the LSH stage re-attaches raw text by
    // id instead of re-running the scorer for every downstream branch
    // (guide §8: decide with small rows, move heavy bytes once — the
    // old form re-evaluated the gate in each of its ~4 consumers). The
    // barrier keeps the keep set single-computed: runtime exchange reuse
    // does not cover its consumers, and without it q59 scans the corpus
    // 3 times instead of 2 (plans/r22).
    val keep = docs0
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
      .withColumn("__fp", TextOps.docFingerprint(col("text")))
      .withColumn("__minq",
        min(col("doc_id")).over(Window.partitionBy(col("__fp"))))
      .filter(col("doc_id") === col("__minq"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .localCheckpoint(true)
    val keptDocs = docs0.join(keep.select("doc_id"), Seq("doc_id"))
    val nearKept = DedupOps.clusterDedup(keep, "doc_id",
      portableMinHashPairs(keptDocs))
    DedupOps.stratifiedHashSample(nearKept, "doc_id", "lang",
        sixteenths = Map("en" -> 8, "de" -> 16, "fr" -> 16),
        defaultSixteenths = 4)
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  /** q129's full pretraining recipe (quality gate → exact dedup →
    * MinHash-LSH cluster dedup → benchmark decontamination → token-budget
    * selection), unordered — [[cleanCorpusChain]] extended with the two
    * stages a real recipe ends on: drop anything sharing a 3-gram with
    * the eval suite, then keep the best documents until the token budget
    * is spent. Single definition for the registered query (the
    * oracle-checked artifact); every stage is individually oracled
    * (q59/q63/q127), so the composed oracle is their CTEs chained.
    * Decontamination sees the RAW eval set (hygiene is unconditional —
    * an eval doc that fails the quality gate still bans its grams).
    */
  private[graft] val RecipeBudget: Long = 5000L

  /** The chain is PARAMETERIZED over its score and pricing columns
    * (VERDICT r15 task 2): q129 runs it with the heuristic
    * [[TextOps.qualityScore]] and whitespace counts; q155 runs the SAME
    * stages with the LEARNED artifacts — q151's committed classifier as
    * the gate score and q150's committed subword vocabulary as the
    * pricing — so the recipe a training run actually consumes is the
    * proven learned stack end-to-end, not a parallel re-implementation.
    */
  private[graft] def pretrainRecipeChain(docs0: DataFrame,
      evalDocs: DataFrame,
      scoreCol: Column = TextOps.qualityScore(col("text")),
      nTokCol: Column = size(TextOps.tokens(col("text"))).cast("long"),
      budget: Long = RecipeBudget,
      gateLo: Double = 0.5): DataFrame = {
    // (r19 note: a "score once into a narrow checkpointed manifest"
    // restructure of this chain was built, oracle-verified, and
    // REJECTED by a controlled A/B bench — 1.2–1.4× at 32 cores and
    // 1.4–2.0× at 8: the checkpointed id side loses size statistics,
    // degrading the text-side re-attach joins, and the fp window's
    // sort costs more than the hash-agg dedup it replaced. The win
    // here came from clusterDedup's driver-side contraction instead.)
    val docs = docs0.withColumn("quality", scoreCol)
    val qual = docs.filter(col("quality") >= gateLo)
    val keepExact = qual
      .groupBy(TextOps.docFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exactKept = qual.join(keepExact, Seq("doc_id"))
    val nearKept = DedupOps.clusterDedup(exactKept, "doc_id",
      portableMinHashPairs(exactKept))
    val clean = nearKept.join(
      TextOps.contaminationFlags(nearKept, evalDocs, "doc_id", "text", k = 3)
        .filter(!col("contaminated")).select("doc_id"),
      Seq("doc_id"))
    DedupOps.tokenBudgetSelect(
      clean.withColumn("__nt", nTokCol),
      "doc_id", col("quality"), col("__nt"), budget)
  }

  /** q132: the q129 recipe's survivorship funnel as ONE wide aggregate —
    * the per-stage doc/token counts a data engineer actually monitors
    * ("where did my corpus go?"). Rather than re-running each stage
    * prefix per count (stages × chain cost), every per-doc stage flag is
    * derived in a single annotated pass: the exact-dedup canonical via
    * one fp-window (min qual doc_id per fingerprint — provably the
    * recipe's groupBy+join decision), contamination as the q63 left-join
    * flag computed once on the exact-kept superset (per-doc, population-
    * independent, so flagging early changes nothing), CC drops and the
    * budget manifest as id-joins from their own (inherently iterative /
    * two-pass) lineages. One corpus-wide aggregate emits all 12 counters;
    * integer-only output, so the oracle comparison has zero FP surface.
    */
  private[graft] def recipeFunnelReport(docs0: DataFrame,
      evalDocs: DataFrame,
      scoreCol: Column = TextOps.qualityScore(col("text")),
      nTokCol: Column = size(TextOps.tokens(col("text"))).cast("long"),
      budget: Long = RecipeBudget,
      gateLo: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (r19 note: checkpointing a narrow flags manifest here was built,
    // oracle-verified, and REJECTED by the same controlled A/B as the
    // chain above — the id-side re-attach joins lose size statistics
    // and degrade; the funnel keeps its lazy one-window form.)
    val base = docs0
      .withColumn("quality", scoreCol)
      .withColumn("__nt", nTokCol)
      .withColumn("__fp", TextOps.docFingerprint(col("text")))
    val flags = base
      .withColumn("__gate", col("quality") >= gateLo)
      .withColumn("__minq", min(when(col("__gate"), col("doc_id")))
        .over(Window.partitionBy(col("__fp"))))
      .withColumn("__exact", col("__gate") && col("doc_id") === col("__minq"))
    val exactKept = flags.filter(col("__exact"))
    val ccDrop = DedupOps.connectedComponents(
        exactKept.select(col("doc_id")), "doc_id",
        portableMinHashPairs(exactKept))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"), lit(true).as("__ccdrop"))
    val contam = TextOps.contaminationFlags(exactKept, evalDocs,
        "doc_id", "text", k = 3)
      .select(col("doc_id"), col("contaminated"))
    val ann = flags
      .join(ccDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("__near", col("__exact") && col("__ccdrop").isNull)
      .withColumn("__clean",
        col("__near") && !coalesce(col("contaminated"), lit(false)))
    val kept = DedupOps.tokenBudgetSelect(ann.filter(col("__clean")),
        "doc_id", col("quality"), col("__nt"), budget)
      .select(col("doc_id"), lit(true).as("__kept"))
    def n(c: Column) = count(when(c, 1))
    def tk(c: Column) = coalesce(sum(when(c, col("__nt"))), lit(0L))
    ann.join(kept, Seq("doc_id"), "left")
      .agg(
        n(lit(true)).as("n_input"), tk(lit(true)).as("t_input"),
        n(col("__gate")).as("n_gate"), tk(col("__gate")).as("t_gate"),
        n(col("__exact")).as("n_exact"), tk(col("__exact")).as("t_exact"),
        n(col("__near")).as("n_near"), tk(col("__near")).as("t_near"),
        n(col("__clean")).as("n_clean"), tk(col("__clean")).as("t_clean"),
        n(col("__kept") === true).as("n_budget"),
        tk(col("__kept") === true).as("t_budget"))
  }

  /** q64's quality-banded deterministic sample (band thresholds + keep
    * rates), pre-aggregation — shared with [[graft.tools.ScaleCurve]] for
    * the same single-definition reason as [[cleanCorpusChain]].
    */
  private[graft] def qualityBandedSample(docs0: DataFrame): DataFrame = {
    val docs = docs0
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("band",
        when(col("quality") >= 0.55, "high")
          .when(col("quality") >= 0.45, "mid")
          .otherwise("low"))
    DedupOps.stratifiedHashSample(docs, "doc_id", "band",
      sixteenths = Map("high" -> 16, "mid" -> 8, "low" -> 2))
  }

  /** The two q163 hybrid-retrieval legs — q118's BM25 per-query top-5
    * (lexical) and a q30-style exact-cosine top-5 (vector), both as
    * (query_id, id, rank). One definition feeds the single-config
    * fusion (q163), the quality judgment over it (q172), and the
    * tuning grid (q176), so "the ranking being judged" and "the
    * ranking being served" can never drift apart.
    */
  private def hybridLegs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val probe = fusionProbesDf(s)
    val lex = RetrievalOps.bm25PerQuery(t(s, dir, "documents"), probe,
        "query_id", "term", "doc_id", "text", k = 5)
      .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    val e = t(s, dir, "embeddings").drop("label")
    val vec = SimilarityOps.bruteForceTopK(
        e.filter(col("vec_id").isin(fusionVecProbeIds: _*)), e, k = 5)
      .select(col("probe_id").as("query_id"), col("cand_id").as("id"),
        col("rk").as("rank"))
    (lex, vec)
  }

  /** The shared hybrid-retrieval probe fixture (q118/q144/q163/q166/
    * q168/q169/q172/q176 — r19: ONE committed sequence replaces seven
    * hand-synced inline copies, grown 3 → 20 queries so the fusion
    * tuning stops resting on a pool its own significance test calls
    * underpowered). Queries 1–3 are the r14 originals and keep their
    * edge roles (1 and 2 share a term — idf sharing exercised; 3's
    * terms are corpus-absent — the one-modality-miss case). Queries
    * 4–20 pair terms from the sf0.01 corpus's top-26 df-ranked
    * non-stopword tokens (length > 2, join/merge/scan excluded as
    * already used) in df order, wrapping after query 16 — so queries
    * 17–20 repeat earlier term PAIRS while their vector probes differ,
    * exercising identical-lex-leg fusion. Every query id doubles as
    * its vector probe id ([[fusionVecProbeIds]]).
    */
  private[graft] val fusionProbes: Seq[(Int, String)] = {
    val pool = Seq("batch", "small", "agg", "data", "big", "customer",
      "hash", "slow", "filter", "row", "table", "stream", "sort",
      "window", "order", "group", "part", "query", "spark", "column",
      "value", "vector", "line", "fast", "key", "dup")
    Seq((1, "join"), (1, "merge"), (2, "scan"), (2, "join"),
      (3, "zzzabsent"), (3, "qqqmissing")) ++
      (4 to 20).flatMap { q =>
        val i = 2 * (q - 4)
        Seq((q, pool(i % pool.length)), (q, pool((i + 1) % pool.length)))
      }
  }

  private[graft] def fusionProbesDf(s: SparkSession)
      : DataFrame = {
    import s.implicits._
    fusionProbes.toDF("query_id", "term")
  }

  /** The hybrid tier's vector probes — one embedding probe per lexical
    * query id (the fused id space is shared).
    */
  private[graft] val fusionVecProbeIds: Seq[Long] = (1L to 20L)

  /** q147's eval-suite probe fixture — the r14 6-row set, now distinct
    * from the GROWN fusion probes (r19): decontamination audits a
    * fixed eval suite, not the retrieval tuning pool.
    */
  private[graft] val decontamEvalProbes: Seq[(Int, String)] = Seq(
    (1, "join"), (1, "merge"), (2, "scan"), (2, "join"),
    (3, "zzzabsent"), (3, "qqqmissing"))
  private lazy val decontamEvalProbesValuesSql: String =
    decontamEvalProbes.map { case (q, t) => s"($q, '$t')" }
      .mkString(",\n    ")

  private lazy val fusionProbesValuesSql: String =
    fusionProbes.map { case (q, t) => s"($q, '$t')" }.mkString(",\n    ")
  private lazy val fusionVecIdsSql: String =
    fusionVecProbeIds.mkString(", ")

  /** Committed qrels fixture for the hybrid tier's quality evaluation
    * (q172/q176) — graded relevance labels over the q163 query ids in
    * the trec_eval shape (query_id, id, rel).
    *
    * Queries 1–3 keep the r14 HAND labels that exercise every judgment
    * kind at sf0.01: hits at several fused ranks with mixed grades,
    * judged-relevant ids the run misses (999/888, and 777 carrying the
    * query's HIGHEST grade so its nDCG < 1 even with hits), an
    * explicit rel = 0 irrelevance judgment on a retrieved id (1, 62).
    * Query 25 is judged but never answered (the old query-4 role — 4
    * is now inside the probe set).
    *
    * Queries 4–20 carry SYNTHESIZED grades from the documented
    * LEG-BALANCED rule in [[graft.tools.SynthFusionQrels]]: each leg's
    * own exact ideal contributes equally — the exact-BM25 top-3 (3/2/1)
    * ∪ the exact-cosine top-3 (3/2/1), max-merged on overlap, plus an
    * explicit rel 0 on the BM25 rank-5 id. Neither leg's ranking is
    * favored by construction, so the q176 weight tuning measures how
    * the legs COMBINE rather than echoing one leg's ordering back.
    */
  /** The queries-4–20 grades (pasted from the SynthFusionQrels
    * printout; regenerate with
    * `sbt "runMain graft.tools.SynthFusionQrels"`).
    */
  private[graft] val synthFusionQrels: Seq[(Int, Long, Int)] = Seq(
    (4, 114L, 3), (4, 418L, 3), (4, 85L, 2), (4, 496L, 2), (4, 316L, 1), (4, 408L, 1), (4, 13L, 0),
    (5, 335L, 3), (5, 404L, 3), (5, 250L, 2), (5, 419L, 2), (5, 157L, 1), (5, 467L, 1), (5, 252L, 0),
    (6, 350L, 3), (6, 489L, 3), (6, 255L, 2), (6, 430L, 2), (6, 145L, 1), (6, 385L, 1), (6, 322L, 0),
    (7, 209L, 3), (7, 340L, 3), (7, 269L, 2), (7, 425L, 2), (7, 203L, 1), (7, 114L, 0),
    (8, 17L, 3), (8, 39L, 3), (8, 138L, 2), (8, 381L, 2), (8, 352L, 1), (8, 403L, 1), (8, 449L, 0),
    (9, 49L, 3), (9, 98L, 3), (9, 290L, 2), (9, 489L, 2), (9, 414L, 1), (9, 454L, 1), (9, 114L, 0),
    (10, 233L, 3), (10, 317L, 3), (10, 174L, 2), (10, 272L, 2), (10, 42L, 1), (10, 44L, 1), (10, 55L, 0),
    (11, 30L, 3), (11, 37L, 3), (11, 245L, 2), (11, 399L, 2), (11, 8L, 1), (11, 277L, 1), (11, 436L, 0),
    (12, 127L, 3), (12, 214L, 3), (12, 402L, 2), (12, 472L, 2), (12, 159L, 1), (12, 297L, 1), (12, 143L, 0),
    (13, 370L, 3), (13, 440L, 3), (13, 427L, 2), (13, 479L, 2), (13, 337L, 1), (13, 349L, 1), (13, 395L, 0),
    (14, 146L, 3), (14, 342L, 3), (14, 147L, 2), (14, 169L, 2), (14, 46L, 1), (14, 298L, 1), (14, 496L, 0),
    (15, 33L, 3), (15, 424L, 3), (15, 400L, 2), (15, 436L, 2), (15, 59L, 1), (15, 441L, 1), (15, 297L, 0),
    (16, 26L, 3), (16, 402L, 3), (16, 236L, 2), (16, 421L, 2), (16, 134L, 1), (16, 216L, 1), (16, 295L, 0),
    (17, 135L, 3), (17, 418L, 3), (17, 85L, 2), (17, 115L, 2), (17, 197L, 1), (17, 316L, 1), (17, 13L, 0),
    (18, 120L, 3), (18, 335L, 3), (18, 181L, 2), (18, 250L, 2), (18, 112L, 1), (18, 467L, 1), (18, 252L, 0),
    (19, 87L, 3), (19, 489L, 3), (19, 255L, 2), (19, 317L, 2), (19, 54L, 1), (19, 385L, 1), (19, 322L, 0),
    (20, 117L, 3), (20, 209L, 3), (20, 11L, 2), (20, 269L, 2), (20, 203L, 1), (20, 354L, 1), (20, 114L, 0))

  private[graft] val fusionQrels: Seq[(Int, Long, Int)] = Seq(
    (1, 103L, 3), (1, 27L, 2), (1, 359L, 1), (1, 999L, 2), (1, 62L, 0),
    (2, 117L, 3), (2, 7L, 1), (2, 888L, 1),
    (3, 130L, 2), (3, 343L, 2), (3, 777L, 3),
    (25, 103L, 1)) ++ synthFusionQrels


  /** The q164/q178/q182/q185 probe set: embeddings with vec_id below
    * this bound. Grown 6 → 22 in r19 (VERDICT r18 task 3) so the
    * judged pool carries real statistical power — q185's verdict at 5
    * probes was honest but underpowered (p=0.237 could not separate
    * "no effect" from "no data").
    */
  private[graft] val MmrProbeCount: Int = 22

  /** Committed qrels fixture for the MMR quality delta (q178) — graded
    * labels over the q164 probe/candidate space. 23 judged probes
    * (VERDICT r18 task 3):
    *
    *   - probes 0–3 keep the r15 HAND labels that exercise every
    *     judgment edge kind: ids each ranking retrieves exclusively
    *     (334/423 plain-only, 7/207 MMR-only), shared ids at different
    *     ranks (450), an explicit rel = 0 on a plain-retrieved id
    *     (423), a miss for both (999);
    *   - probes 4–21 carry SYNTHESIZED grades from the documented
    *     deterministic rule in [[graft.tools.SynthMmrQrels]]: the
    *     graded ideal is the exact-cosine ranking the stack
    *     approximates (rank 1 → 3, ranks 2–3 → 2, ranks 4–6 → 1, an
    *     explicit rel 0 at rank 8) — the same
    *     ground-truth-by-exhaustive-scan discipline the ANN recall
    *     monitors use, so the plain ranking is near-ideal by
    *     construction and the MMR delta prices diversity's real
    *     relevance cost;
    *   - probe 25 is judged but never answered (outside the probe
    *     set — the old probe-9 role; 9 now sits inside the pool with
    *     synthesized grades).
    */
  private[graft] val mmrQrels: Seq[(Long, Long, Int)] = Seq(
    (0L, 365L, 3), (0L, 334L, 2), (0L, 7L, 1), (0L, 423L, 0),
    (1L, 386L, 2), (1L, 27L, 2), (1L, 999L, 1),
    (2L, 117L, 2), (2L, 450L, 1),
    (3L, 130L, 3), (3L, 207L, 1), (3L, 174L, 1),
    (4L, 114L, 3), (4L, 496L, 2), (4L, 408L, 2), (4L, 482L, 1),
    (4L, 280L, 1), (4L, 249L, 1), (4L, 89L, 0),
    (5L, 404L, 3), (5L, 419L, 2), (5L, 157L, 2), (5L, 33L, 1),
    (5L, 359L, 1), (5L, 316L, 1), (5L, 464L, 0),
    (6L, 350L, 3), (6L, 430L, 2), (6L, 145L, 2), (6L, 437L, 1),
    (6L, 386L, 1), (6L, 268L, 1), (6L, 214L, 0),
    (7L, 340L, 3), (7L, 425L, 2), (7L, 209L, 2), (7L, 334L, 1),
    (7L, 381L, 1), (7L, 445L, 1), (7L, 302L, 0),
    (8L, 39L, 3), (8L, 138L, 2), (8L, 403L, 2), (8L, 497L, 1),
    (8L, 380L, 1), (8L, 173L, 1), (8L, 494L, 0),
    (9L, 49L, 3), (9L, 489L, 2), (9L, 414L, 2), (9L, 386L, 1),
    (9L, 107L, 1), (9L, 256L, 1), (9L, 259L, 0),
    (10L, 233L, 3), (10L, 272L, 2), (10L, 44L, 2), (10L, 313L, 1),
    (10L, 123L, 1), (10L, 390L, 1), (10L, 484L, 0),
    (11L, 30L, 3), (11L, 399L, 2), (11L, 277L, 2), (11L, 20L, 1),
    (11L, 252L, 1), (11L, 130L, 1), (11L, 78L, 0),
    (12L, 127L, 3), (12L, 402L, 2), (12L, 297L, 2), (12L, 281L, 1),
    (12L, 161L, 1), (12L, 173L, 1), (12L, 16L, 0),
    (13L, 440L, 3), (13L, 479L, 2), (13L, 337L, 2), (13L, 430L, 1),
    (13L, 55L, 1), (13L, 395L, 1), (13L, 398L, 0),
    (14L, 146L, 3), (14L, 147L, 2), (14L, 298L, 2), (14L, 271L, 1),
    (14L, 479L, 1), (14L, 156L, 1), (14L, 59L, 0),
    (15L, 424L, 3), (15L, 436L, 2), (15L, 59L, 2), (15L, 284L, 1),
    (15L, 452L, 1), (15L, 365L, 1), (15L, 396L, 0),
    (16L, 402L, 3), (16L, 421L, 2), (16L, 216L, 2), (16L, 35L, 1),
    (16L, 222L, 1), (16L, 124L, 1), (16L, 88L, 0),
    (17L, 135L, 3), (17L, 115L, 2), (17L, 197L, 2), (17L, 416L, 1),
    (17L, 385L, 1), (17L, 70L, 1), (17L, 446L, 0),
    (18L, 120L, 3), (18L, 181L, 2), (18L, 112L, 2), (18L, 263L, 1),
    (18L, 495L, 1), (18L, 228L, 1), (18L, 468L, 0),
    (19L, 87L, 3), (19L, 317L, 2), (19L, 54L, 2), (19L, 276L, 1),
    (19L, 52L, 1), (19L, 191L, 1), (19L, 495L, 0),
    (20L, 117L, 3), (20L, 11L, 2), (20L, 354L, 2), (20L, 302L, 1),
    (20L, 252L, 1), (20L, 166L, 1), (20L, 54L, 0),
    (21L, 331L, 3), (21L, 94L, 2), (21L, 24L, 2), (21L, 54L, 1),
    (21L, 155L, 1), (21L, 136L, 1), (21L, 85L, 0),
    (25L, 114L, 1))

  /** The shared paired sign-flip permutation test (q185/q190): given
    * per-item integer deltas, the observed statistic is the exact
    * integer sum; the null is [[MmrPermCount]] seeded draws whose
    * per-item signs are md5 parities both engines compute
    * byte-identically (no RNG); p = (1 + #as-extreme)/(1 + n_perms)
    * with ONE final division. Cost: n_perms × |deltas| rows — callers
    * keep |deltas| bounded (q185: judged probes; q190: discordant
    * docs). The observed statistic rides the draw table as the
    * identity draw (exact mode's draw 0; a sentinel draw −1 in MC
    * mode), so the caller's measurement lineage executes exactly once
    * with no materialization barrier.
    */
  private[graft] def signFlipPermutationTest(deltas: DataFrame,
      idCol: String, dCol: String,
      nLabel: String = "n_deltas",
      sumLabel: String = "delta_sum",
      nPerms: Int = MmrPermCount,
      enumerateN: Option[Int] = None): DataFrame = {
    // the deltas are BOUNDED by contract (judged probes / discordant
    // docs) but their lineage is the caller's whole measurement chain.
    // ONE lineage, no materialization barrier (r19 localCheckpoint'ed
    // the delta table because the observed-statistic branch and the
    // draw table each re-executed that chain; the eager barrier then
    // cost more than the duplicate compute it saved on idle cores —
    // VERDICT r19 item 2). Instead the observed statistic IS a draw:
    // exact mode's draw 0 already has every sign +1 (bit j of 0 = 0),
    // and MC mode adds sentinel draw −1 with all signs +1. The deltas
    // lineage is referenced exactly once; t_obs is attached back with
    // a single-partition window over the ≤ 4097-row draw table.
    val exact = enumerateN.filter(_ <= MaxEnumExponent)
    val draws = exact match {
      case Some(n) =>
        // EXACT enumeration (ADVICE r18 / VERDICT task 3): when the
        // caller can statically bound the item count at ≤ 2^12, the
        // full 2^n sign-pattern null is cheaper AND tighter than
        // Monte-Carlo draws that resample 2^n patterns with
        // repetition. Item j's sign in draw i is bit j of i (j = the
        // item's dense rank by id — a single-partition window, fine by
        // contract: the caller promised ≤ MaxEnumExponent rows). If
        // fewer than n items exist, unused bits repeat each distinct
        // pattern uniformly, leaving p unchanged.
        val total = 1 << n
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
        deltas.withColumn("__j", row_number().over(w) - 1)
          .withColumn("__i",
            explode(sequence(lit(0), lit(total - 1))))
          .withColumn("sign",
            when(expr("(__i & shiftleft(1, __j)) = 0"), lit(1L))
              .otherwise(lit(-1L)))
          .groupBy(col("__i").as("i"))
          .agg(sum(col("sign") * col(dCol)).as("t_i"),
            count(lit(1)).as("__n"))
      case None =>
        deltas.withColumn("i",
            explode(sequence(lit(-1), lit(nPerms - 1))))
          .withColumn("sign", when(col("i") === -1, lit(1L)).otherwise(
            when(
              conv(substring(md5(concat(lit("perm"), col("i").cast("string"),
                lit(":"), col(idCol).cast("string"))), 1, 8), 16, 10)
                .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))))
          .groupBy(col("i"))
          .agg(sum(col("sign") * col(dCol)).as("t_i"),
            count(lit(1)).as("__n"))
    }
    val nDraws = exact.map(1 << _).getOrElse(nPerms)
    // the identity draw's statistic is the observed one; broadcast it to
    // every draw row with an unpartitioned whole-frame window (bounded:
    // nDraws + 1 rows), then fold the extreme count in one aggregate
    val obsI = if (exact.isDefined) 0 else -1
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val base = draws
      .withColumn("__t_obs",
        max(when(col("i") === obsI, col("t_i"))).over(wAll))
      .filter(if (exact.isDefined) lit(true) else col("i") >= 0)
      .agg(max(col("__n")).as(nLabel),
        lit(nDraws.toLong).as("n_perms"),
        max(col("__t_obs")).as(sumLabel),
        sum(when(abs(col("t_i")) >= abs(col("__t_obs")), 1L)
          .otherwise(0L)).as("n_as_extreme"))
    // exact mode: the enumerated null contains the identity draw, so
    // p = extreme/2^n is already ≥ 1/2^n and needs no +1 smoothing;
    // MC mode keeps the standard (1 + extreme)/(1 + draws)
    val withP = exact match {
      case Some(_) => base.withColumn("p_value",
        col("n_as_extreme").cast("double") / lit(nDraws.toDouble))
      case None => base.withColumn("p_value",
        (col("n_as_extreme") + lit(1L)).cast("double") /
          lit((nDraws + 1).toDouble))
    }
    // EMPTY deltas (q190 on a corpus where the gates fully agree):
    // there is nothing to test — emit ZERO rows rather than one
    // all-NULL row, matching the oracle's GROUP BY over an empty draw
    // table (the global agg above always emits a row; its NULL count
    // marks the vacuous case)
    withP.filter(col(nLabel).isNotNull)
  }

  /** Enumeration cutoff: 2^12 = 4096 draws — above this the seeded
    * Monte-Carlo null is cheaper; below it the exact null is free and
    * has no sampling error.
    */
  private[graft] val MaxEnumExponent: Int = 12

  /** The default Monte-Carlo permutation count — BOUNDED by
    * construction: the sign-flip draws are seeded md5 parities, so the
    * test costs nPerms × |items| rows at ANY corpus scale. 256 draws
    * resolve p to ±1/257 — q190's per-doc discordant set uses this.
    * Callers whose item count is statically ≤ [[MaxEnumExponent]]
    * should enumerate exactly instead (q195).
    */
  private[graft] val MmrPermCount: Int = 256

  /** q185's permutation count: the 23-judged-probe pool (2²³ patterns)
    * stays Monte-Carlo, but the headline significance number deserves
    * finer resolution than ±1/257 — 1024 draws cost 1024 × 23 rows
    * (trivial) and resolve p to ±1/1025.
    */
  private[graft] val MmrPermCountWide: Int = 1024

  /** The committed q176 tuning grid: kRrf at 10/60/240 (sharp → flat
    * rank discounting) at equal weights, then the weight axis at the
    * standard kRrf=60 (lexical-heavy, vector-heavy, and a mixed
    * half/double point). All weights are exact binary doubles.
    */
  private[graft] val fusionGrid: Seq[(Int, Double, Double)] = Seq(
    (10, 1.0, 1.0), (60, 1.0, 1.0), (240, 1.0, 1.0),
    (60, 2.0, 1.0), (60, 1.0, 2.0), (60, 0.5, 2.0))

  /** q166's full store-served hybrid chain, PARAMETERIZED over the
    * fusion knobs (VERDICT r17 task 3): the registered query passes the
    * committed [[graft.ext.ServingConfig]]; ServingConfigSpec passes
    * the same values explicitly and pins the two equal, so the config
    * object provably changes nothing but where the knobs live.
    */
  private[graft] def hybridFromStoresChain(s: SparkSession, dir: String,
      kRrf: Int, weights: Seq[Double], nprobe: Int,
      refineFactor: Int): DataFrame = {
    import s.implicits._
    val probe = fusionProbesDf(s)
    val stats = RetrievalOps.lexicalStatsStore(s, t(s, dir, "documents"),
      fixturePath(s, dir, "documents", "lexstats", "ws_b64v2"),
      "doc_id", "text", nBuckets = 64)
    val lex = RetrievalOps.bm25PerQueryFromStore(stats, probe,
        "query_id", "term", "doc_id", k = 5)
      .select(col("query_id"), col("doc_id").as("id"), col("rank"))
    val e = t(s, dir, "embeddings").drop("label")
    val cents = graft.ext.IvfCentroids.centroids
    val cbs = graft.ext.PqCodebooks.codebooks
    val index = SimilarityOps.annIndexStore(s, e,
      fixturePath(s, dir, "embeddings", "annidx",
        s"cells${cents.length}_m${cbs.length}"), cents, cbs)
    val vecs = SimilarityOps.vectorStore(s, e,
      fixturePath(s, dir, "embeddings", "vecstore", "b64"), nBuckets = 64)
    val vec = SimilarityOps.ivfPqTopKFromStores(
        e.filter(col("vec_id").isin(fusionVecProbeIds: _*)), index, vecs, 64,
        cents, cbs, k = 5, nprobe = nprobe,
        refineFactor = refineFactor)
      .select(col("probe_id").as("query_id"), col("cand_id").as("id"),
        col("rk").as("rank"))
    RetrievalOps.rrfFuse(Seq(lex, vec), "query_id", "id", "rank", k = 5,
        kRrf = kRrf, weights = weights)
      .orderBy(col("query_id"), col("fused_rank"))
  }

  /** q167's store-served MMR chain, PARAMETERIZED over λ — same
    * config-vs-explicit contract as [[hybridFromStoresChain]].
    */
  private[graft] def mmrFromStoreChain(s: SparkSession, dir: String,
      lambda: Double, nprobe: Int, refineFactor: Int): DataFrame = {
    val e = t(s, dir, "embeddings").drop("label")
    val cents = graft.ext.IvfCentroids.centroids
    val cbs = graft.ext.PqCodebooks.codebooks
    val index = SimilarityOps.annIndexStore(s, e,
      fixturePath(s, dir, "embeddings", "annidx",
        s"cells${cents.length}_m${cbs.length}"), cents, cbs)
    val vecs = SimilarityOps.vectorStore(s, e,
      fixturePath(s, dir, "embeddings", "vecstore", "b64"), nBuckets = 64)
    val pool = SimilarityOps.ivfPqTopKFromStores(
        e.filter(col("vec_id") < 10), index, vecs, 64, cents, cbs,
        k = 8, nprobe = nprobe, refineFactor = refineFactor)
      .select(col("probe_id"), col("cand_id"), col("sim").as("rel"))
    SimilarityOps.mmrRerankPool(pool, e, k = 4, lambda = lambda)
      .orderBy(col("probe_id"), col("mmr_rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- Text analysis -------------------------------------------------
    "q21_token_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(TextOps.bpeTokens(col("text"))).as("n_bpe"),
          size(array_distinct(toks)).as("n_distinct"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 4)
            .as("ttr"))
        .orderBy(col("doc_id"))
    }),

    "q22_quality_score" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).cast("bigint").as("len_chars"),
          TextOps.stopwordRatio(toks).as("stop_ratio"),
          TextOps.punctRatio(col("text")).as("punct_ratio"),
          TextOps.avgTokenLen(col("text"), toks).as("avg_tok_len"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q23_lang_id" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          TextOps.langId(toks).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "q24_fingerprint" -> ((s, dir) => {
      // toks materialized first — see DedupOps.ngramJaccardPairs note
      val d = t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
      val fp = d.select(col("doc_id"),
        TextOps.docFingerprintFromToks(col("toks")).as("fp"))
      fp.join(
          TextOps.minShingleFingerprints(d, "doc_id", col("toks"), 5),
          Seq("doc_id"))
        .select(col("doc_id"), col("fp"), col("min_shingle_fp"))
        .orderBy(col("doc_id"))
    }),

    // -- Repetition metrics + Gopher-style gate (thresholds sit at the
    // corpus's p90 so the flag splits meaningfully; real pipelines tune
    // them per corpus) ---------------------------------------------------
    "q62_repetition" -> ((s, dir) =>
      TextOps.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // -- DSIR importance weights: target = the 'en' slice, features =
    // hashed unigrams∪bigrams (256 buckets), weight = Σ log(p̂/q̂) with
    // add-one smoothing. Histograms are ≤256 rows by construction; the
    // log-ratio table broadcasts -----------------------------------------
    "q113_dsir_weights" -> ((s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"), col("lang") === "en",
          "doc_id", "text", nBuckets = 256)
        .orderBy(col("doc_id"))),

    // -- Trained language ID (q154): one-vs-rest hashed-n-gram logistic
    // regressions (the committed LangIdWeights), argmax-served by ONE
    // fused map-only expression (grams hash once, dot k weight vectors)
    // — the LEARNED counterpart of the n-gram-heuristic language ID.
    // Ties on the rounded score break to the lexicographically smallest
    // language on both engines ----------------------------------------
    "q154_language_id" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          col("__best").getField("l").as("predicted"),
          col("__best").getField("sc").as("score"),
          (col("__best").getField("l") === col("lang")).as("correct"))
        .orderBy(col("doc_id"))),

    // -- Language ID with a REJECT option (q157): q154's argmax, but a
    // best score below the committed `und` threshold abstains — the
    // guard that keeps out-of-family text from polluting per-language
    // budgets and mixtures. Same tie discipline (rounded score DESC,
    // lexicographically smallest lang); correct is false for 'und' on
    // this fixture (no und labels exist) --------------------------------
    "q157_language_id_reject" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .select(col("doc_id"), col("lang"), col("predicted"),
          col("__best").getField("sc").as("score"),
          (col("predicted") === col("lang")).as("correct"))
        .orderBy(col("doc_id"))),

    // -- Per-predicted-language token budgets (q161): the selection the
    // `und` threshold protects — q148's stratified exact budgets keyed
    // by q157's predicted language (und capped, not dropped), scored by
    // the committed classifier and priced by the committed tokenizer:
    // all FOUR learned/committed artifacts composed into one operator
    // call. Oracle = langid CTEs + reject CASE + classifier dot product
    // + merges rebuild + the naive per-language window ------------------
    "q161_budget_by_predicted_lang" -> ((s, dir) => {
      val scored = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("quality",
          round(TextOps.qualityLrScore(col("text")), 6))
        .withColumn("n_tok", TextOps.subwordTokenCount(col("text")))
      DedupOps.tokenBudgetSelectBySource(scored, "doc_id", "pred_lang",
          col("quality"), col("n_tok"), LangBudgets)
        .orderBy(col("doc_id"))
    }),

    // -- Per-language-PRICED budgets (q174): q161 with the misprice
    // q159 reports actually corrected — each document priced by its
    // PREDICTED language's committed vocabulary (BpeMergesByLang;
    // 'und' keeps the global merges: an unidentifiable document has no
    // language artifact to claim). Still map-only pricing: ONE native
    // expression holds every per-lang encoder and dispatches per row,
    // no join — and no five-branch when-chain, which blew Janino's
    // method limit and de-JITted the stage.
    // Oracle rebuilds ALL FIVE per-lang merge chains + the global one
    // and carries each through the naive per-language window -----------
    "q174_budget_per_lang_priced" -> ((s, dir) => {
      val scored = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("quality",
          round(TextOps.qualityLrScore(col("text")), 6))
        .withColumn("n_tok",
          TextOps.subwordTokenCountByLang(col("text"), col("pred_lang")))
      DedupOps.tokenBudgetSelectBySource(scored, "doc_id", "pred_lang",
          col("quality"), col("n_tok"), LangBudgets)
        .orderBy(col("doc_id"))
    }),

    // -- Per-language ALLOCATED selection (q181): the round's two
    // threads composed — per-language pricing (q174) × global budget
    // allocation (q179/q180), keyed by predicted language: the 20k
    // budget water-fills over (pred_lang, score-bucket) cells and the
    // per-language enforcement reads its budget FROM the allocation.
    // The full multilingual mixture pipeline, one call, one oracle ------
    "q181_per_lang_allocated" -> ((s, dir) => {
      val scored = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("quality",
          round(TextOps.qualityLrScore(col("text")), 6))
        .withColumn("n_tok",
          TextOps.subwordTokenCountByLang(col("text"), col("pred_lang")))
      DedupOps.selectWithAllocatedBudgets(scored, "doc_id", "pred_lang",
          col("quality"), col("n_tok"), totalBudget = 20000L,
          nBuckets = 10)
        .orderBy(col("doc_id"))
    }),

    // -- Fertility by PREDICTED language (q159): the q152 × q157
    // composition — per predicted language (including 'und'), whitespace
    // vs learned-subword token mass and their ratio. The per-language
    // mispricing report a mixture run reads before committing per-lang
    // budgets; one scan, map-only scoring + encode, ≤|langs|+1 rows ----
    "q159_fertility_by_lang" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("ws_tokens"),
          sum(TextOps.subwordTokenCount(col("text")))
            .as("subword_tokens"))
        .withColumn("fertility",
          round(col("subword_tokens").cast("double") / col("ws_tokens"),
            4))
        .orderBy(col("predicted"))),

    // -- Fertility under per-language pricing (q177): q159's report
    // with each language priced by ITS committed vocabulary — the
    // after-picture of the misprice q159 measures (the per-lang
    // fertilities converge toward en's; SCALING.md records the shrink).
    // Same one-scan map-only shape; 'und' keeps global pricing --------
    "q177_fertility_per_lang_priced" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("ws_tokens"),
          sum(TextOps.subwordTokenCountByLang(col("text"),
            col("predicted"))).as("subword_tokens"))
        .withColumn("fertility",
          round(col("subword_tokens").cast("double") / col("ws_tokens"),
            4))
        .orderBy(col("predicted"))),

    // -- Fertility under the REALISTIC-SCALE vocabulary (q197): q159's
    // per-language rollup priced by the committed 1536-merge
    // [[graft.ext.BpeMergesLarge]] artifact — the registered consumer
    // the large artifact lacked (VERDICT r18 task 6 completed: fit
    // tool → committed artifact → spec → ORACLED query). Same map-only
    // one-scan shape as q159/q177; the served path is the same
    // pair-indexed native expression, just 32× the merge table. The
    // oracle rebuilds the encode at FULL 1536 depth (the fixture
    // vocabulary is bounded, so |vocab| × 1536 recursive rows stay
    // cheap in DuckDB — the reason the per-round gate can afford the
    // real regime here while q150/q152 keep the 48-merge vocabulary) --
    "q197_fertility_large_vocab" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("ws_tokens"),
          sum(TextOps.subwordTokenCount(col("text"),
            graft.ext.BpeMergesLarge.merges)).as("subword_tokens"))
        .withColumn("fertility",
          round(col("subword_tokens").cast("double") / col("ws_tokens"),
            4))
        .orderBy(col("predicted"))),

    // -- Trained quality classifier (q151): the committed hashed-n-gram
    // logistic regression scores the corpus map-only — the fastText-
    // style seed-labeled gate beside q22's heuristic and q113's DSIR
    // weights. The oracle recomputes the score as a SQL dot product
    // over the SAME committed weights (the shared md5 feature map) ----
    "q151_quality_classifier" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextOps.qualityLrScore(col("text")), 6).as("score"))
        .withColumn("is_quality",
          col("score") >= graft.ext.CalibrationMaps.gateRawCut)
        .orderBy(col("doc_id"))),

    // -- Calibration report (q175): is q151's predicted 0.7 a real 0.7?
    // Reliability buckets + ECE over the labeled slice (the lang='en'
    // positive seed the classifier was FIT against) — exact integer
    // micro-sums, integer-rounded ratios, the q170 bucket discipline.
    // The summary row (bucket -1) carries ECE in abs_gap ---------------
    "q175_calibration_report" -> ((s, dir) =>
      ProfileOps.calibrationReport(
          t(s, dir, "documents").filter(col("text").isNotNull),
          round(TextOps.qualityLrScore(col("text")), 6),
          col("lang") === "en", nBuckets = 10)
        .orderBy(col("bucket"))),

    // -- Language-ID calibration (q183): q175's reliability machinery
    // pointed at the OTHER committed classifier — per best-score bucket,
    // how often the argmax is actually right. This is the empirical
    // basis the 0.30 und threshold claims ("wrong predictions average
    // 0.42"): the low buckets should show low pos_rate, and the summary
    // ECE says whether the one-vs-rest sigmoid means anything. Label =
    // argmax == true lang (BEFORE the reject — the threshold is what's
    // being judged, so it must not filter the evidence) -----------------
    "q183_langid_calibration" -> ((s, dir) =>
      ProfileOps.calibrationReport(
          langIdScored(t(s, dir, "documents"))
            .filter(col("lang").isNotNull),
          col("__best").getField("sc"),
          col("__best").getField("l") === col("lang"),
          nBuckets = 10)
        .orderBy(col("bucket"))),

    // -- Per-language quality-gated selection (q186): the EN-fitted
    // gate asymmetry closed — each document is gated by ITS predicted
    // language's committed arm where the held-out measurement kept one
    // (r19: en + und at this SF; slices whose fitted gate loses to the
    // global EN gate out-of-sample fall back to it, by measurement).
    // One scan, map-only: fused six-class scorer + linear dispatch ------
    "q186_per_lang_gated_selection" -> ((s, dir) => {
      val scored = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("score",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6))
      scored.filter(col("score") >=
          graft.ext.CalibrationMaps.perLangGateRawCut)
        .select(col("doc_id"), col("pred_lang"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // -- Gate accuracy by language (q187): the measurement behind q186 —
    // per predicted language, how often each gate (per-lang vs the
    // EN-only baseline) agrees with the heuristic quality seed both
    // were judged against. Integer counts only (no float surface); the
    // row a gate migration reads before trusting q186 over q153 --------
    "q187_gate_accuracy_by_lang" -> ((s, dir) => {
      val label = TextOps.qualityScore(col("text")) >= 0.5
      langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("__lab", label)
        .withColumn("__pl",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6)
            >= graft.ext.CalibrationMaps.perLangGateRawCut)
        .withColumn("__en",
          round(TextOps.qualityLrScore(col("text")), 6) >=
            graft.ext.CalibrationMaps.gateRawCut)
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__pl") === col("__lab"), 1L).otherwise(0L))
            .as("n_correct_perlang"),
          sum(when(col("__en") === col("__lab"), 1L).otherwise(0L))
            .as("n_correct_en"))
        .orderBy(col("pred_lang"))
    }),

    // -- HELD-OUT calibration report (q192): every fitted-artifact ECE
    // in the repo, measured on the md5-parity eval half the fits never
    // saw (VERDICT r18 task 1 — the train-half "ECE → 0.000000" rows in
    // the artifact comments are tautological; THESE are the numbers a
    // user should trust at corpus scale). Three reliability reports over
    // CALIBRATED scores — quality vs the en seed, langid vs the true
    // lang, per-lang gate vs the heuristic seed — stacked with a
    // classifier tag; each summary row's abs_gap is that artifact's
    // held-out residual ECE. One scan per classifier into ≤11 rows -----
    "q192_heldout_calibration" -> ((s, dir) => {
      import graft.ext.CalibrationMaps
      val ev = holdoutEval(col("doc_id"))
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val quality = ProfileOps.calibrationReport(
          docs.filter(ev),
          calMicro(round(TextOps.qualityLrScore(col("text")), 6),
            CalibrationMaps.qualityCalMicro).cast("double") / 1000000.0,
          col("lang") === "en", nBuckets = 10)
        .withColumn("classifier", lit("quality"))
      val scored = langIdScored(t(s, dir, "documents")).filter(ev)
      val langid = ProfileOps.calibrationReport(
          scored.filter(col("lang").isNotNull),
          col("__cal").cast("double") / 1000000.0,
          col("__best").getField("l") === col("lang"), nBuckets = 10)
        .withColumn("classifier", lit("langid"))
      val disp = scored.withColumn("pred_lang",
        langIdPredictedOrUnd(col("__best")))
      val gate = ProfileOps.calibrationReport(
          disp,
          calMicro(round(qualityLrScoreByLang(col("text"),
              col("pred_lang")), 6),
            CalibrationMaps.perLangGateCalMicro).cast("double")
            / 1000000.0,
          TextOps.qualityScore(col("text")) >= 0.5, nBuckets = 10)
        .withColumn("classifier", lit("perlang_gate"))
      quality.unionAll(langid).unionAll(gate)
        .select(col("classifier"), col("bucket"), col("n"),
          col("n_pos"), col("pos_rate"), col("mean_pred"),
          col("abs_gap"))
        .orderBy(col("classifier"), col("bucket"))
    }),

    // -- HELD-OUT gate accuracy by language (q193): q187's exact shape
    // on the eval half only — the generalization row behind the per-lang
    // gate migration (q187's full-population numbers include the very
    // docs each gate was fit on; these don't) ---------------------------
    "q193_heldout_gate_accuracy" -> ((s, dir) => {
      val label = TextOps.qualityScore(col("text")) >= 0.5
      langIdScored(t(s, dir, "documents"))
        .filter(holdoutEval(col("doc_id")))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("__lab", label)
        .withColumn("__pl",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6)
            >= graft.ext.CalibrationMaps.perLangGateRawCut)
        .withColumn("__en",
          round(TextOps.qualityLrScore(col("text")), 6) >=
            graft.ext.CalibrationMaps.gateRawCut)
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__pl") === col("__lab"), 1L).otherwise(0L))
            .as("n_correct_perlang"),
          sum(when(col("__en") === col("__lab"), 1L).otherwise(0L))
            .as("n_correct_en"))
        .orderBy(col("pred_lang"))
    }),

    // -- Und-gated selection (q194): the corpus's largest gated-blind
    // segment closed (VERDICT r18 task 2) — every document the
    // calibrated reject sends to 'und' (a third of the fixture), with
    // the score and keep decision of whichever und arm the fit tool
    // committed BY MEASUREMENT (its own und-fit gate if that beat the
    // global EN fallback on the held-out und half, else the fallback).
    // q193's und row carries the held-out agreement evidence ------------
    "q194_und_gated_selection" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .filter(col("pred_lang") === "und")
        .withColumn("score",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6))
        .select(col("doc_id"), col("score"),
          (col("score") >= graft.ext.CalibrationMaps.perLangGateRawCut)
            .as("keep"))
        .orderBy(col("doc_id"))),

    // -- Fertility-delta significance (q195): is the per-language
    // pricing win (q159 → q177) real, or a few languages' noise? Per
    // predicted language, the exact ten-thousandths fertility delta
    // (global-vocabulary pricing − per-language pricing — positive
    // means the per-lang vocabulary genuinely compresses that slice);
    // the item count is STATICALLY |langs|+1 = 6, so the null is the
    // EXACT 2⁶ = 64-pattern sign-flip enumeration (the ADVICE r18
    // fix: below 2^12 patterns, enumerating beats Monte-Carlo draws
    // that resample the same patterns with repetition) — p has zero
    // sampling error and needs no +1 smoothing ---------------------------
    "q195_fertility_delta_significance" -> ((s, dir) => {
      val deltas = langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .groupBy(col("predicted"))
        .agg(sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("ws"),
          sum(TextOps.subwordTokenCount(col("text"))).as("tg"),
          sum(TextOps.subwordTokenCountByLang(col("text"),
            col("predicted"))).as("tp"))
        .select(col("predicted"),
          (expr("(2 * 10000 * tg + ws) div (2 * ws)") -
            expr("(2 * 10000 * tp + ws) div (2 * ws)")).as("d"))
      signFlipPermutationTest(deltas, "predicted", "d",
        nLabel = "n_langs", sumLabel = "delta_sum_u4",
        enumerateN = Some(graft.ext.LangIdWeights.langs.length + 1))
    }),

    // -- Calibration staleness (q191): the q138→q143 monitor discipline
    // pointed at the calibration artifact — the COMMITTED langid map
    // applied to the current corpus and re-bucketed by the same
    // reliability arithmetic: the summary row's abs_gap IS the residual
    // ECE of the committed calibration on today's data (≈0 right after
    // a fit; rises as the score distribution drifts under the frozen
    // map → rerun FitCalibration, the q143 remediation analog). One
    // map-side pass into ≤11 rows, like q183 ----------------------------
    "q191_calibration_staleness" -> ((s, dir) =>
      ProfileOps.calibrationReport(
          langIdScored(t(s, dir, "documents"))
            .filter(col("lang").isNotNull),
          col("__cal").cast("double") / 1000000.0,
          col("__best").getField("l") === col("lang"),
          nBuckets = 10)
        .orderBy(col("bucket"))),

    // -- Calibrated language-ID selection (q184): the calibration loop
    // CLOSED — q183 measured the miscalibration, FitCalibration
    // committed the isotonic per-bucket correction, and this query
    // SERVES it: each doc's raw best score, its calibrated P(argmax
    // correct) (one committed array lookup, micro/10⁶), and the reject
    // decision taken ON the calibrated value ('und' when the prediction
    // is more likely wrong than right). The oracle carries the same
    // calibration literals as CASE arms through the shared langid CTEs --
    "q184_calibrated_selection" -> ((s, dir) =>
      langIdScored(t(s, dir, "documents"))
        .withColumn("predicted", langIdPredictedOrUnd(col("__best")))
        .select(col("doc_id"), col("lang"),
          col("__best").getField("sc").as("score"),
          (col("__cal").cast("double") / 1000000.0).as("cal_score"),
          col("predicted"),
          (col("predicted") === col("lang")).as("correct"))
        .orderBy(col("doc_id"))),

    // -- Run collapse: q62's execution counterpart — adjacent identical
    // tokens collapse to the first occurrence; the fixture's "batch batch
    // batch" stutter actually shrinks -----------------------------------
    "q112_run_collapse" -> ((s, dir) =>
      TextOps.collapseTokenRuns(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // -- Span-editor composition (q119): the three span editors chained
    // the way a real curation pipeline runs them — collapse stutter runs
    // FIRST (stutter would misalign everything downstream), then cut
    // corpus-shared spans, then chunk-dedup the remainder. Each stage's
    // clean_text feeds the next tokenizer, proving the shared Reassemble
    // contract survives chaining; each stage pays its own doc-keyed
    // exchange and no more (plan-asserted) -------------------------------
    "q119_span_pipeline" -> ((s, dir) => {
      val s1 = TextOps.collapseTokenRuns(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("clean_text").as("text"))
      val s2 = TextOps.cutSharedSpans(s1, "doc_id", "text",
          n = 5, minDocs = 2L)
        .select(col("doc_id"), col("clean_text").as("text"))
      DedupOps.chunkDedup(s2, "doc_id", "text", chunkTokens = 8)
        .orderBy(col("doc_id"))
    }),

    // -- Benchmark decontamination: train docs sharing any 3-gram with the
    // eval subset (doc_id % 50 == 0 stands in for a benchmark suite) ------
    "q63_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.contaminationFlags(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id"))
    }),

    // -- The EVAL-SIDE contamination view (q162): per eval doc, the
    // fraction of its distinct 3-grams found ANYWHERE in the train
    // corpus — the overlap table a hygiene writeup cites (q63 is the
    // train-side view). Same broadcast-before-shuffle scale shape -----
    "q162_eval_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.evalOverlapReport(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id"))
    }),

    // -- Same decontamination contract, Bloom-prefilter formulation: the
    // scale path for banned sets beyond the broadcast ceiling. Same
    // DuckDB oracle as q63 — identical output is the operator's claim
    // (no false negatives + exact confirm join), so the oracle proves it.
    "q92_bloom_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.contaminationFlagsBloom(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id"))
    }),

    // -- Incremental ingest dedup: a new batch (doc_id % 3 == 0) flags
    // its near-dups against the EXISTING corpus via a persisted signature
    // store — no corpus re-tokenize/re-shingle/re-sign per ingest. The
    // oracle recomputes both sides from raw text, so a stale or unfaithful
    // store fails the diff (the q86 proof pattern) -----------------------
    "q93_incremental_ingest" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val store = DedupOps.signatureStore(s,
        d.filter(col("doc_id") % 3 =!= 0),
        fixturePath(s, dir, "documents", "sigs", "corpusMod3_k3_b8_r2"),
        k = 3, numBands = 8, rowsPerBand = 2)
      DedupOps.incrementalNearDupFlags(
          d.filter(col("doc_id") % 3 === 0), store,
          k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.8)
        .orderBy(col("doc_id"))
    }),

    // -- Incremental SemDeDup at ingest (q93's embedding flavor): the
    // accepted corpus (vec_id % 3 != 0) persists as a cell-PARTITIONED
    // unit-vector store (atomic publish, committed centroids); the batch
    // (vec_id % 3 == 0) broadcasts into it, scoring only within matching
    // cells — the broadcast feeds dynamic partition pruning, so untouched
    // cell directories are never read (plan-asserted). The oracle
    // recomputes BOTH sides from raw embeddings, so the persisted store's
    // faithfulness is what the diff proves -------------------------------
    "q106_incremental_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val store = SimilarityOps.embeddingStore(s,
        e.filter(col("vec_id") % 3 =!= 0),
        fixturePath(s, dir, "embeddings", "embstore", "corpusMod3_cells10"),
        graft.ext.IvfCentroids.centroids)
      SimilarityOps.incrementalSemanticDupFlags(
          e.filter(col("vec_id") % 3 === 0), store,
          graft.ext.IvfCentroids.centroids, minSim = 0.3)
        .orderBy(col("vec_id"))
    }),

    // -- Zone-map pruned scan: orders range-clustered on o_orderkey into 8
    // files + a per-file min/max sidecar (one small read replaces opening
    // every footer); a key-range scan prunes at the FILE-LIST level, then
    // filters in-file. The oracle is the plain full-scan filter — pruning
    // must be result-invisible (the q100 pattern); SinkOpsSpec asserts the
    // pruned scan actually reads fewer files --------------------------------
    "q108_pruned_scan" -> ((s, dir) => {
      // _v2: r11 changed the sidecar's file key (absolute URI → basename)
      val path = fixturePath(s, dir, "orders", "zonemap", "bykey_f8_v2")
      SinkOps.writeWithFileStats(s, path, Seq("o_orderkey"), nFiles = 8)(
        t(s, dir, "orders"))
      SinkOps.readPrunedRange(s, path, "o_orderkey", 3000L, 6000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // -- Exactly-k uniform sample (k=40, seed 3): smallest md5 coins win;
    // plans as TakeOrderedAndProject, and the selected ID SET is what the
    // oracle pins ---------------------------------------------------------
    "q97_exact_sample" -> ((s, dir) =>
      DedupOps.exactSample(t(s, dir, "documents")
          .select(col("doc_id"), col("source")), "doc_id", k = 40, seed = 3L)
        .orderBy(col("doc_id"))),

    // -- Join-key skew report over the skewed events.user_id: the
    // decide-to-salt measurement (integer outputs only — ratios are the
    // consumer's division) ----------------------------------------------
    "q96_key_skew" -> ((s, dir) =>
      graft.ext.ProfileOps.keySkew(t(s, dir, "events"), "user_id", topN = 10)
        .orderBy(col("n").desc, col("user_id").asc_nulls_last)),

    // -- Skew-aware auto-salted join: the q96 measurement feeding the
    // q73 mechanism. A deterministic hot key (every user_id < 100 folds
    // to 0 — a single key carrying a large fraction of events at any SF)
    // trips the measured max/mean threshold, so the salted path runs;
    // the oracle is the PLAIN join (the q73 pattern: salting must be
    // invisible in the result). JoinOpsSpec asserts the plan side: no
    // salt exchange on uniform keys, salt present on skewed ones ------
    "q100_skew_aware_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          when(col("user_id") < 100, 0L).otherwise(col("user_id")).as("uid"),
          col("value"))
      val dim = ev.select(col("uid")).distinct()
        .withColumn("cohort", pmod(col("uid"), lit(7)))
      JoinOps.skewAwareJoin(ev, dim, Seq("uid"))
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("cohort"))
    }),

    // -- Multimodal unified dedup flagship: a mixed-media corpus where
    // every id owns an image, an audio clip, AND a video; near-dup
    // evidence from all three modalities (dHash Hamming, envelope
    // Hamming, frame-set MinHash) unions into ONE edge set, and
    // connected-components cluster dedup keeps one canonical doc per
    // cross-modal cluster — the decision a real training-data pipeline
    // makes ("these records duplicate each other in ANY modality").
    // Image/audio groups (id % 50) and video groups (id % 40) overlap,
    // so components genuinely merge ACROSS modalities. Oracle: the three
    // pair pipelines rebuilt in SQL (the parameterized q99/q101/q102
    // builders at the shared id bound) + recursive transitive closure
    // (the q56 CC-oracle pattern) ---------------------------------------
    "q103_multimodal_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
      val img = MultimodalOps.imageNearDupPairs(s,
        MultimodalOps.syntheticPpmImages(s, ids).toDF(), maxHamming = 4)
      val aud = MultimodalOps.audioNearDupPairs(s,
        MultimodalOps.syntheticWavs(s, ids).toDF(), maxHamming = 4)
      val vid = MultimodalOps.videoFrameNearDupPairs(s,
        MultimodalOps.syntheticVideos(s, ids).toDF(), everyN = 2)
      val pairs = img.select(col("id_a"), col("id_b"))
        .union(aud.select(col("id_a"), col("id_b")))
        .union(vid.select(col("id_a"), col("id_b")))
      DedupOps.clusterDedup(
          ids.select(col("doc_id"), col("source")), "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // -- Video near-dup via frame-fingerprint SET similarity: synthetic
    // 24-frame clips (pure string formula per frame) → sampleFrames
    // (every 2nd frame) → md5 fingerprint per frame →
    // DedupOps.setNearDupPairs (the text MinHash-LSH chain minus its
    // tokenizer — one code path for shingles, frames, any element set).
    // The oracle rebuilds frame strings → md5 → portable MinHash →
    // bands → score-once in SQL; frame strings are pure ASCII so byte
    // md5 (Spark, over the payload slice) ≡ string md5 (DuckDB) -------
    "q102_video_neardup" -> ((s, dir) =>
      MultimodalOps.videoFrameNearDupPairs(s,
          MultimodalOps.syntheticVideos(s,
            t(s, dir, "documents").filter(col("doc_id") < 200)).toDF(),
          everyN = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // -- Perceptual audio near-dup: the q99 pattern for the audio
    // modality. Synthetic mono 16-bit WAVs from a pure integer sample
    // formula → real RIFF/PCM decode → energy-envelope difference hash
    // (volume-scale + upsample invariant, AudioHashSpec) → the shared
    // Hamming banding. The oracle rebuilds sample → envelope → hash →
    // bands → pairs in SQL; DuckDB never parses a WAV ------------------
    "q101_audio_neardup" -> ((s, dir) =>
      MultimodalOps.audioNearDupPairs(s,
          MultimodalOps.syntheticWavs(s,
            t(s, dir, "documents").filter(col("doc_id") < 300)).toDF(),
          maxHamming = 10)
        .orderBy(col("id_a"), col("id_b"))),

    // -- Perceptual image near-dup: deterministic synthetic PPM corpus →
    // dHash through the REAL decode path → the shared Hamming banding
    // (DedupOps.bandedHammingPairs). The pixel formula is pure integer
    // arithmetic on (doc_id, x, y), so the oracle rebuilds the ENTIRE
    // chain — luma grid, 64-bit hash, bands, pairs — in SQL even though
    // DuckDB cannot decode images; ImageDHashSpec pins the decode leg
    // (PNG re-encode + 2x resize collide) the oracle can't see ----------
    "q99_image_neardup" -> ((s, dir) =>
      MultimodalOps.imageNearDupPairs(s,
          MultimodalOps.syntheticPpmImages(s,
            t(s, dir, "documents").filter(col("doc_id") < 300)).toDF(),
          maxHamming = 10)
        .orderBy(col("id_a"), col("id_b"))),

    // -- Epoch reshuffle: deterministic per-epoch ordering (seed 7, 8
    // shards). The oracle recomputes the md5 coin + row_number in DuckDB,
    // so shard assignment AND within-shard order are both engine-pinned --
    "q94_epoch_shuffle" -> ((s, dir) =>
      graft.ext.PackOps.epochShuffle(t(s, dir, "documents")
          .select(col("doc_id")), "doc_id", EpochSeed, EpochShards)
        .orderBy(col("doc_id"))),

    // -- Target domain mix: per-source sampling rates derived from target
    // shares of a token budget; rates and coins both md5-deterministic,
    // so the kept set is exactly reproducible in DuckDB -----------------
    "q95_target_mix" -> ((s, dir) =>
      DedupOps.targetMixSample(t(s, dir, "documents"), "doc_id", "source",
          size(TextOps.tokens(col("text"))), MixTargets, MixBudget)
        .orderBy(col("doc_id"))),

    // -- Corpus-level boilerplate (RefinedWeb's duplicated-line fraction
    // over shingles): per-doc fraction of distinct 3-grams whose corpus df
    // exceeds 3 — thresholds sit where the fixture corpus actually splits
    // (mean common_frac ~0.10, a handful of docs over 0.5) ----------------
    "q90_boilerplate" -> ((s, dir) =>
      TextOps.boilerplateMetrics(t(s, dir, "documents"), "doc_id", "text",
          k = 3, maxDf = 3, maxCommonFrac = 0.5)
        .orderBy(col("doc_id"))),

    // -- Cross-document duplicated-span coverage (Lee et al. 2022's
    // exact-substring signal, position-weighted): fraction of each doc's
    // 5-gram positions whose gram occurs in >= 2 distinct docs. The
    // fixture splits hard at 0.5 (429 docs at 0.0, the near-dup block at
    // 0.88-1.0), so the flag is the span-level dedup candidate list -------
    "q105_dup_span_coverage" -> ((s, dir) =>
      TextOps.crossDocSpanStats(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minDocs = 2L, maxFrac = 0.5)
        .orderBy(col("doc_id"))),

    // -- Span-level dedup EXECUTION (Lee et al. 2022 ExactSubstr): cut the
    // cross-doc duplicated spans q105 flags, keep the corpus-wide first
    // occurrence intact, reassemble the novel remainder per document -----
    "q109_span_dedup" -> ((s, dir) =>
      TextOps.cutSharedSpans(t(s, dir, "documents"), "doc_id", "text",
          n = 5, minDocs = 2L)
        .orderBy(col("doc_id"))),

    // -- PII scrub + audit: the fixtures carry no PII, so the query plants
    // one email, one phone, and one IPv4 per doc (derived deterministically
    // from fixture columns), then emits the scrubbed text next to the
    // pre-scrub counts — redaction and audit must agree marker-for-marker.
    // Map-only end-to-end (the orderBy serves the oracle compare only).
    "q91_pii_redaction" -> ((s, dir) => {
      val raw = concat_ws(" ", col("text"),
        lit("contact"),
        concat(lit("user"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".example.com")),
        lit("or"),
        concat(lit("+1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")),
        lit("from"),
        concat(lit("10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string")))
      val counts = TextOps.piiCounts(raw)
      t(s, dir, "documents")
        .select(Seq(col("doc_id"), TextOps.redactPii(raw).as("redacted")) ++
          counts.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // -- Quality-weighted sampling: band by quality score, keep high
    // quality at 16/16, mid at 8/16, low at 2/16 — the q57 deterministic
    // coin keyed on a DERIVED stratum instead of a stored column ----------
    "q64_quality_sample" -> ((s, dir) => {
      qualityBandedSample(t(s, dir, "documents"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("quality")).as("min_q"), max(col("quality")).as("max_q"))
        .orderBy(col("band"))
    }),

    // -- Dedup ---------------------------------------------------------
    "q25_exact_dedup" -> ((s, dir) =>
      DedupOps.exactDedup(t(s, dir, "documents"))
        .orderBy(col("keep_id"))),

    "q26_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 40), k = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // The synthetic corpus shares one small vocabulary, so token-set Jaccard
    // is adversarially dense (most pairs are "near-dups") and LSH candidate
    // pruning cannot help — cap the scope so the exercised path stays the
    // LSH one, not an accidental cross product. Real web corpora have
    // ~1e-6 pair density and this cap would not exist.
    // 3-gram shingles × (8 bands of 2): the standard near-dup operating
    // point — P[candidate] = 1-(1-s²)⁸ ≈ 1.0 at s=0.8 but ≈ 0.08 at
    // s=0.1, so buckets stay near cluster-sized. Unigram shingles (k=1)
    // saturate on a shared vocabulary: every signature collapses to the
    // corpus-wide min-hash tokens and LSH prunes nothing.
    // portable=true: the md5-derived permutation family is reproducible in
    // DuckDB SQL, so this graduates from rows-only to a full hash-match
    // oracle (the oracle below is generated from the same coefficients).
    "q27_minhash_neardup" -> ((s, dir) =>
      portableMinHashPairs(t(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b"))),

    // portable=true (60-bit md5-derived token hashes) → full DuckDB oracle,
    // like q27; the 64-bit xxhash64 form stays the cluster-throughput path.
    // The end-to-end near-dup dedup a training-data pipeline actually runs:
    // portable MinHash-LSH candidates → signature-agreement verification →
    // hash-min connected components → keep each cluster's min doc_id
    // (plus every unclustered doc). Fully oracle-checked: portable pairs +
    // DuckDB recursive closure + anti-join reproduce the decision exactly.
    "q56_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = portableMinHashPairs(docs)
      DedupOps.clusterDedup(docs, "doc_id", pairs)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // The scale-safe cluster-resolution composition (VERDICT r7 #4): LSH
    // band buckets bound pair generation at Σ(bucket²) — no quadratic
    // all-pairs stage anywhere — then hash-min connected components label
    // every document (singletons included). This is the form SCALING.md
    // measures at 1×→10×; q53 keeps the deliberately scope-bounded ngram
    // variant as the closure-cheap oracle of the SAME CC operator.
    "q85_lsh_cc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.connectedComponents(
          docs.select(col("doc_id")), "doc_id", portableMinHashPairs(docs))
        .select(col("id"), col("comp"))
        .orderBy(col("id"))
    }),

    // Consumes the MATERIALIZED pair set (pay LSH once — see
    // persistedMinHashPairs): cluster-size histogram of the near-dup
    // graph, the curation dashboard number that tells you whether dedup
    // is removing twins (size 2) or mass-produced boilerplate (size 50).
    // The oracle recomputes the pairs from raw tables, so correctness
    // also proves the cache is faithful to recomputation.
    "q86_cached_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.connectedComponents(
          docs.select(col("doc_id")), "doc_id", persistedMinHashPairs(s, dir))
        .groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
        .groupBy(col("comp_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("comp_size"))
    }),

    // The unified-model demonstration: the STREAMING operator
    // (EventStreams.windowedCounts — the exact code runWindowedPipeline
    // deploys behind a watermark) run over the batch table and oracled by
    // DuckDB. Adapters at the edges only: ts casts NTZ→TIMESTAMP going in
    // (the streaming watermark contract, DIALECT.md "Timestamps") and
    // w_start casts back to NTZ coming out (the oracle contract) — both
    // wall-clock-preserving under the pinned UTC session. Batch here +
    // StreamBatchParitySpec's stream≡batch equality = the streaming path
    // is transitively DuckDB-checked.
    "q87_unified_windows" -> ((s, dir) =>
      graft.streaming.EventStreams.windowedCounts(
          t(s, dir, "events").withColumn("ts", col("ts").cast("timestamp")),
          watermark = "1 hour", windowLen = "1 day")
        .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
        .orderBy(col("w_start"), col("event_type"))),

    // The sessionizer's q87 treatment (VERDICT r8 #6): q88 registers the
    // batch twin the streaming sessionize is parity-proven against
    // (StreamBatchParitySpec shares THIS definition), in sessionize's
    // exact emit shape — so the custom flatMapGroupsWithState operator is
    // transitively DuckDB-checked: DuckDB ⊨ q88, parity ⊨ sessionize ≡ q88.
    "q88_sessionize_batch" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionizeBatch(
          t(s, dir, "events"), gapMinutes = 30)
        .orderBy(col("user_id"), col("sess_start"))),

    "q28_simhash_neardup" -> ((s, dir) =>
      DedupOps.simHashNearDupPairs(
          t(s, dir, "documents").filter(col("doc_id") < 2000),
          maxHamming = 6, portable = true)
        .orderBy(col("id_a"), col("id_b"))),

    // -- Similarity search ----------------------------------------------
    "q29_embedding_neardup" -> ((s, dir) =>
      SimilarityOps.blockedNearDupPairs(
          t(s, dir, "embeddings"), blockCol = "label", minSim = 0.3)
        .orderBy(col("blk"), col("id_a"), col("id_b"))),

    "q30_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Int8-quantized retrieval (q89): the 4×-smaller-corpus counterpart
    // of q30 — fixed-scale-127 quantization is engine-reproducible, so
    // the oracle rebuilds the quantized vectors from raw floats in SQL
    // and the integer ranking must match bitwise (the Int8UnitQuantize +
    // Int8Dot kernels' full-oracle check, not just their specs).
    "q89_int8_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.int8BruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Steady-state IVF: the quantizer is PREFIT and committed
    // (graft.ext.IvfCentroids, built once by graft.tools.FitIvfCentroids) —
    // the query pays only the map-only cell assignment + pruned scan, zero
    // fit jobs, no corpus cache. The oracle embeds the same centroid
    // literals, so this carries a full hash-match oracle like q52.
    "q31_ann_ivf" -> ((s, dir) => {
      // label column deliberately unused: cells come from the quantizer
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.ivfTopKWithCentroids(e.filter(col("vec_id") < 10), e,
          graft.ext.IvfCentroids.centroids, k = 5, nprobe = 3)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // The opt-in TWO-STAGE int8 IVF path (VERDICT r9 #6): int8 coarse
    // scoring with a provably-sufficient survivor margin, exact re-rank.
    // Same parameters and centroids as q31 — and the SAME oracle, because
    // the margin proof says the two-stage result is bit-identical to
    // single-stage exact scoring on ANY input. SimilarityOpsSpec asserts
    // the coarse stage actually runs Int8Dot (a silent fallback to exact
    // scoring would also pass this oracle).
    "q98_ann_ivf_int8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.ivfTopKWithCentroidsInt8(e.filter(col("vec_id") < 10), e,
          graft.ext.IvfCentroids.centroids, k = 5, nprobe = 3)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // -- Product-quantization ANN (Jégou et al. 2011): corpus encoded to
    // m=16 byte codes (32× smaller than the raw doubles) against the
    // committed PqCodebooks literals (L2 argmin via the NearestCell
    // appended-coordinate trick), asymmetric-distance scoring, exact
    // re-rank of the per-probe top-40 shortlist. The oracle rebuilds
    // codes + ADC + both ranks from the same literals; PqAnnSpec owns the
    // recall measurement (the random fixture is PQ's worst case —
    // SCALING.md has the m sweep)
    "q114_pq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.pqTopKWithCodebooks(e.filter(col("vec_id") < 10), e,
          graft.ext.PqCodebooks.codebooks, k = 5, refineFactor = 8)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // IVF-PQ (q115): the composed, scan-pruned index — q31's committed
    // centroids prune the scan to nprobe cells, q114's committed codebooks
    // score the within-cell codes via ADC, exact re-rank decides. The
    // oracle rebuilds the full chain from the SAME literals, so every
    // stage hash-matches (the q98 shared-literal pattern) ---------------
    "q115_ivf_pq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.ivfPqTopK(e.filter(col("vec_id") < 10), e,
          graft.ext.IvfCentroids.centroids, graft.ext.PqCodebooks.codebooks,
          k = 5, nprobe = 3, refineFactor = 8)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Persisted ANN index (q117): q115's BUILD pass materialized once as
    // the cell-partitioned (cand_id, codes, cell) store — the shape a
    // 100 TB corpus actually deploys (build once, append per ingest,
    // query scans only probed cell directories via dynamic partition
    // pruning; plan-asserted in SimilarityOpsSpec). The oracle IS q115's:
    // the store must answer exactly what the inline encode answers —
    // store faithfulness is result identity -----------------------------
    "q117_ann_index_store" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.ivfPqTopKFromStore(e.filter(col("vec_id") < 10), index,
          e, cents, cbs, k = 5, nprobe = 3, refineFactor = 8)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Fully store-backed ANN (q120): q117's cell-pruned code scan PLUS an
    // id-bucketed raw-vector store for the exact re-rank — the shortlist
    // broadcast prunes BOTH scans (dynamic partition pruning,
    // plan-asserted), so no stage touches the un-probed corpus. Same
    // oracle again: three implementations, one answer ------------------
    "q120_ann_store_fetch" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      val vecs = SimilarityOps.vectorStore(s, e,
        fixturePath(s, dir, "embeddings", "vecstore", "b64"), nBuckets = 64)
      SimilarityOps.ivfPqTopKFromStores(e.filter(col("vec_id") < 10),
          index, vecs, 64, cents, cbs, k = 5, nprobe = 3, refineFactor = 8)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Fuzzy decontamination (q123): train docs that are NEAR-duplicates
    // of any eval doc (here the %5 id split) — the contamination exact
    // k-grams miss. Eval banded signatures broadcast, corpus bands
    // map-side; q27's portable MinHash knobs so the estimate is
    // engine-reproducible --------------------------------------------
    "q123_fuzzy_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.fuzzyContaminationFlags(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0),
          k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.8)
        .orderBy(col("doc_id"))
    }),

    // Hard-negative mining (q121): the contrastive-training data-prep
    // loop — per anchor, top-k corpus vectors inside the similarity band
    // [0.15, 0.6): above the floor so the negative is informative, below
    // the ceiling so probable positives/near-dups are excluded as false
    // negatives. Exact broadcast-anchor form: one map-side corpus scan
    // per mining round ----------------------------------------------
    "q121_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.hardNegatives(e.filter(col("vec_id") < 10), e,
          k = 5, simLo = 0.15, simHi = 0.6)
        .orderBy(col("anchor_id"), col("rk"))
    }),

    // Store-backed hard negatives (q122): the same band semantics mined
    // from the persisted IVF-PQ index — over-fetch top-40 (cell-pruned
    // ADC + exact re-rank, so sims are exact), band-filter, keep 5. The
    // shape that mines negatives for millions of anchors without a
    // per-batch corpus scan; the oracle rebuilds the identical chain
    // (q115's literals) plus the band CTEs ---------------------------
    "q122_hard_negatives_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.hardNegativesFromStore(e.filter(col("vec_id") < 10),
          index, e, cents, cbs, k = 5, kFetch = 40,
          simLo = 0.15, simHi = 0.6, nprobe = 3, refineFactor = 4)
        .orderBy(col("anchor_id"), col("rk"))
    }),

    // Contrastive triples flagship (q124): the composition a retriever-
    // training pipeline runs — per anchor, the global top-1 as positive
    // (when ≥ posMin) and the q121 band top-3 as negatives, in ONE
    // corpus scan + ONE anchor-keyed exchange (the positive rides as a
    // window value; plan-asserted in QueryPlanSpec) ------------------
    "q124_contrastive_triples" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.contrastiveTriples(e.filter(col("vec_id") < 10), e,
          posMin = 0.35, negLo = 0.15, negHi = 0.3, nNeg = 3)
        .orderBy(col("anchor_id"), col("rk"))
    }),

    // Store-backed contrastive triples (q126): q124's composition mined
    // from the persisted IVF-PQ index — over-fetch top-40 per anchor
    // (cell-pruned ADC + exact re-rank), then the same shared triple
    // tail: fetched rank-1 is the positive candidate, band top-3 the
    // negatives. The shape that prepares retriever training data for
    // millions of anchors without a per-batch corpus scan; the oracle
    // reuses the q115/q122 chain plus q124's pos/neg CTEs over the
    // fetched set --------------------------------------------------
    "q126_contrastive_triples_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.contrastiveTriplesFromStore(e.filter(col("vec_id") < 10),
          index, e, cents, cbs, posMin = 0.35, negLo = 0.15, negHi = 0.3,
          nNeg = 3, kFetch = 40, nprobe = 3, refineFactor = 4)
        .orderBy(col("anchor_id"), col("rk"))
    }),

    // Token-budget selection (q127): "the best documents until the budget
    // is spent" — the greedy prefix of the (quality DESC, doc_id) order
    // whose running token total stays within the budget. The plan never
    // builds that global order: a bucket histogram thresholds map-side
    // and the exact window touches only the boundary bucket (the
    // q107/q110 histogram discipline applied to selection); the oracle IS
    // the naive global-order window, so the green row is a differential
    // proof of the scale-shaped algorithm -------------------------------
    // Quality-calibration audit (q149): is the quality score PREDICTIVE
    // — where do near-dups and contamination concentrate along it? Per
    // score decile over the train slice: doc count, docs touched by any
    // MinHash near-dup pair (q27's committed banding), docs sharing a
    // 3-gram with the eval split (q63). The report a curation engineer
    // reads before committing gate/dedup thresholds: a flat dup rate
    // says the score is orthogonal to duplication; dup/contamination
    // piling into low deciles says the gate already absorbs them.
    // Integer-only output; oracle composes the q27 + q63 + q64 CTEs ----
    "q149_quality_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val train = d.filter(col("doc_id") % 50 =!= 0)
      val evalDocs = d.filter(col("doc_id") % 50 === 0)
      val pairs = portableMinHashPairs(train)
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
        .withColumn("__dup", lit(true))
      val contam = TextOps.contaminationFlags(train, evalDocs,
          "doc_id", "text", k = 3)
        .filter(col("contaminated")).select(col("doc_id"))
        .withColumn("__ct", lit(true))
      train
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .join(dupIds, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .groupBy(least(lit(9), floor(col("quality") * 10)).cast("int")
          .as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("__dup")).as("n_neardup"),
          count(col("__ct")).as("n_contaminated"))
        .orderBy(col("decile"))
    }),

    // Per-source token budgets (q148): the mixture recipe's exact
    // selection — best-first prefix per source within its own budget
    // (src0 partial, src1 all-fits, src2 partial, srcX absent); one
    // (source, bucket) histogram probe + one boundary-bucket window.
    // Oracle = the NAIVE per-source global window — the q127
    // differential proof of the scale shape, stratified ---------------
    "q148_budget_by_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      DedupOps.tokenBudgetSelectBySource(scored, "doc_id", "source",
          col("quality"), col("n_tok"), SourceBudgets)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer fertility audit (q152): per source — whitespace vs
    // learned-subword token mass and their ratio (fertility), the
    // report that QUANTIFIES the whitespace mispricing per corpus
    // slice before a budget/mixture run commits to either pricing.
    // Map-only over one scan + one small rollup ---------------------
    "q152_tokenizer_fertility" -> ((s, dir) => {
      // null-text docs excluded by contract on both engines (ADVICE r15)
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("ws_tokens"),
          sum(TextOps.subwordTokenCount(col("text")))
            .as("subword_tokens"))
        .withColumn("fertility",
          round(col("subword_tokens").cast("double") / col("ws_tokens"),
            4))
        .orderBy(col("source"))
    }),

    // Fully-learned curation gate (q153): the committed classifier
    // scores (q151's weights), the committed tokenizer prices (q150's
    // merges), and the exact budget selector keeps the best-first
    // prefix — all three learned/committed artifacts composed into the
    // one selection a production curation run executes. Oracle chains
    // both artifact rebuilds under the naive global window ----------
    "q153_learned_gate_budget" -> ((s, dir) => {
      // null-text docs excluded by contract on both engines (ADVICE r15)
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val scored = d
        .withColumn("quality",
          round(TextOps.qualityLrScore(col("text")), 6))
        .withColumn("n_tok", TextOps.subwordTokenCount(col("text")))
      DedupOps.tokenBudgetSelect(scored, "doc_id", col("quality"),
          col("n_tok"), budgetTokens = LearnedGateBudget)
        .orderBy(col("doc_id"))
    }),

    // Learned-subword budget selection (q150): q127's exact best-first
    // prefix, priced in LEARNED subword tokens — the committed BpeMerges
    // vocabulary applied by the native map-only encoder — instead of
    // whitespace tokens, closing the 1.3–1.6× whitespace mispricing of
    // what a trainer actually pays. The oracle REBUILDS the encoding
    // from the committed merges in SQL (recursive-CTE replace chain) and
    // runs the naive global window over it — a differential proof of
    // BOTH the scale-shaped selection and the cross-engine tokenizer --
    "q150_subword_budget" -> ((s, dir) => {
      // null-text docs excluded by contract on both engines (ADVICE r15)
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val scored = d
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("n_tok", TextOps.subwordTokenCount(col("text")))
      DedupOps.tokenBudgetSelect(scored, "doc_id", col("quality"),
          col("n_tok"), budgetTokens = SubwordBudget)
        .orderBy(col("doc_id"))
    }),

    "q127_token_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      DedupOps.tokenBudgetSelect(scored, "doc_id", col("quality"),
          col("n_tok"), budgetTokens = TokenBudget)
        .orderBy(col("doc_id"))
    }),

    // Recipe survivorship funnel (q132): q129's per-stage doc/token
    // counters as one wide integer row — the "where did my corpus go"
    // monitoring surface; flags derived in a single annotated pass -----
    "q132_recipe_funnel" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      recipeFunnelReport(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0))
    }),

    // LEARNED pretraining recipe (q155): the SAME gate→exact→near-dup→
    // decontam→budget chain as q129, but gated by the committed q151
    // classifier and priced by the committed q150 subword vocabulary —
    // the recipe a production run consumes once the learned stack is
    // trusted. Oracle chains the proven CTE families (classifier dot
    // product + merges rebuild + q129's stage CTEs). Null-text docs
    // excluded by contract on both engines; scores round at 6 BEFORE
    // the gate and the ordering (q153's discipline) ------------------
    "q155_learned_recipe" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      pretrainRecipeChain(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          scoreCol = round(TextOps.qualityLrScore(col("text")), 6),
          nTokCol = TextOps.subwordTokenCount(col("text")),
          budget = LearnedRecipeBudget,
          gateLo = graft.ext.CalibrationMaps.gateRawCut)
        .orderBy(col("doc_id"))
    }),

    // Learned-recipe survivorship funnel (q158): q132's 12-counter
    // monitoring row over the LEARNED chain — where the corpus goes
    // when the trained gate and subword pricing drive the recipe ------
    "q158_learned_funnel" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      recipeFunnelReport(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0),
        scoreCol = round(TextOps.qualityLrScore(col("text")), 6),
        nTokCol = TextOps.subwordTokenCount(col("text")),
        budget = LearnedRecipeBudget,
        gateLo = graft.ext.CalibrationMaps.gateRawCut)
    }),

    // Repetition schedule (q133): data-constrained repeat-epochs — src0
    // needs multiple full passes + a remainder prefix at sf0.01 (target
    // 3500 over ~1.4k supply), src1/src3 partial prefixes, src2 target 0
    // schedules nothing; untargeted sources are absent -----------------
    "q133_repetition_schedule" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.repetitionSchedule(
          d.withColumn("n_tok",
            size(TextOps.tokens(col("text"))).cast("long")),
          "doc_id", "source", col("n_tok"), RepTargets)
        .orderBy(col("doc_id"))
    }),

    // Near-dup threshold sweep (q135): per candidate threshold, surviving
    // pairs + distinct docs touched — the "what does moving the dedup
    // threshold cost" diagnostic, swept over the committed LSH config's
    // candidates generated once at the lowest point --------------------
    "q135_threshold_sweep" -> ((s, dir) => {
      val pairs = DedupOps.minHashLshPairs(t(s, dir, "documents"),
        k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.5,
        portable = true)
      DedupOps.neardupThresholdSweep(pairs, "jaccard", SweepThresholds)
        .orderBy(col("threshold"))
    }),

    // ANN recall monitor (q136): per sampled probe, recall@5 of the
    // persisted IVF-PQ index's answer vs the exact brute-force top-5 —
    // the post-ingest health check of the q117 store at its committed
    // serving config. The oracle rebuilds BOTH sides (the q115 chain and
    // an exact-rank CTE) from the same literals ------------------------
    "q136_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.annRecallReport(e.filter(col("vec_id") < 10), index,
          e, cents, cbs, k = 5, nprobe = 3, refineFactor = 8)
        .orderBy(col("probe_id"))
    }),

    // nprobe operating-point sweep (q137): q136's recall measured at
    // several nprobe values in ONE index pass — cells ranked once at the
    // widest point, ADC join runs once, each point re-slices by cell
    // rank (the q135 sweep discipline); the tuning surface that picks
    // nprobe for a target recall before committing a serving config ----
    "q137_ann_recall_sweep" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.annRecallSweep(e.filter(col("vec_id") < 10), index,
          e, cents, cbs, k = 5, nprobes = Seq(1, 3, 10), refineFactor = 8)
        .orderBy(col("nprobe"), col("probe_id"))
    }),

    // Retrieval-based decontamination (q147): the ranked third leg of
    // the decontamination family — q63 flags exact k-gram overlap, q123
    // fuzzy MinHash overlap; this ranks corpus docs by BM25 proximity to
    // the eval queries (survives paraphrase past shared shingles, gives
    // the audit a review queue). Serves tokenize-free from the q144
    // store; oracle = q118's CTEs + the per-doc candidate rollup -------
    "q147_bm25_decontam" -> ((s, dir) => {
      import s.implicits._
      val evalProbe = decontamEvalProbes.toDF("query_id", "term")
      val stats = RetrievalOps.lexicalStatsStore(s, t(s, dir, "documents"),
        fixturePath(s, dir, "documents", "lexstats", "ws_b64v2"),
        "doc_id", "text", nBuckets = 64)
      RetrievalOps.bm25ContaminationCandidates(stats, evalProbe,
          "query_id", "term", "doc_id", k = 5)
        .orderBy(col("doc_id"))
    }),

    // BM25 top-k from the store (q145): q116's fixed-term query on the
    // same tokenize-free serving core — global top-k stays
    // TakeOrderedAndProject. Oracle IS q116's: store ≡ inline ---------
    "q145_bm25_topk_store" -> ((s, dir) => {
      val stats = RetrievalOps.lexicalStatsStore(s, t(s, dir, "documents"),
        fixturePath(s, dir, "documents", "lexstats", "ws_b64v2"),
        "doc_id", "text", nBuckets = 64)
      RetrievalOps.bm25TopKFromStore(stats,
        Seq("join", "merge", "scan", "zzzabsent"), "doc_id", k = 15)
    }),

    // Embedding-store reassignment (q146): the q143 monitor→remediate
    // loop for the SEMANTIC store — built under a deliberately different
    // prior fit, reassigned map-only to the committed centroids (the
    // store holds unit vectors, so no corpus scan and no re-encode),
    // then q106's ingest runs against it. Oracle IS q106's: a correct
    // reassignment is indistinguishable from a fresh build ------------
    "q146_embstore_reassign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val path = fixturePath(s, dir, "embeddings", "embreassign",
        "corpusMod3_cells10")
      SimilarityOps.embeddingStore(s, e.filter(col("vec_id") % 3 =!= 0),
        path, cents.map(_.map(-_)))
      SimilarityOps.reassignEmbeddingStore(s, path, cents)
      SimilarityOps.incrementalSemanticDupFlags(
          e.filter(col("vec_id") % 3 === 0),
          SimilarityOps.readEmbeddingStore(s, path), cents, minSim = 0.3)
        .orderBy(col("vec_id"))
    }),

    // BM25 from the persisted lexical-stats store (q144): q118's probe
    // served WITHOUT a tokenize pass — the store pays the corpus scan
    // once (the q117 move for lexical retrieval); serving reads only the
    // probe terms' tb buckets (DPP, plan-asserted zero Generate) plus
    // the narrow docs side for N/avgdl. Oracle IS q118's: store ≡ inline
    "q144_bm25_from_store" -> ((s, dir) => {
      import s.implicits._
      val probe = fusionProbesDf(s)
      val stats = RetrievalOps.lexicalStatsStore(s, t(s, dir, "documents"),
        fixturePath(s, dir, "documents", "lexstats", "ws_b64v2"),
        "doc_id", "text", nBuckets = 64)
      RetrievalOps.bm25PerQueryFromStore(stats, probe, "query_id", "term",
          "doc_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN index migration (q143): the monitor→remediate loop closed —
    // the store is built under a deliberately DIFFERENT prior fit
    // (negated centroids re-shuffle every cell, reversed codebooks re-map
    // every code; q138 would report 100% cell mismatch), then
    // reencodeAnnIndex migrates it to the committed literals via
    // StoreSwap. The oracle IS q115's inline chain under the committed
    // literals: a correct migration is indistinguishable from a fresh
    // build, so result identity pins the whole re-encode + swap.
    // Post-migration staleness-clean is spec-pinned in SimilarityOpsSpec.
    "q143_ann_reencode" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val oldCents = cents.map(_.map(-_))
      val oldCbs = cbs.map(_.reverse)
      val path = fixturePath(s, dir, "embeddings", "annreenc",
        s"cells${cents.length}_m${cbs.length}")
      SimilarityOps.annIndexStore(s, e, path, oldCents, oldCbs)
      SimilarityOps.reencodeAnnIndex(s, e, path, cents, cbs)
      SimilarityOps.ivfPqTopKFromStore(e.filter(col("vec_id") < 10),
          SimilarityOps.readAnnIndexStore(s, path), e, cents, cbs,
          k = 5, nprobe = 3, refineFactor = 8)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Stratified weighted exactly-k (q142): q141 PER SOURCE — exactly 3
    // docs from every source, selection ∝ n_chars within each; one
    // stratum exchange + per-group top-k window ------------------------
    "q142_weighted_stratified" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.weightedStratifiedSample(d, "doc_id", "source", "n_chars",
          kPerStratum = 3, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Weighted exactly-k sample (q141): Efraimidis–Spirakis exponential
    // keys over the deterministic coin — selection ∝ n_chars, exactly
    // 50 rows, top-k plan (never a global sort), monotone in k ---------
    "q141_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.weightedExactSample(d, "doc_id", "n_chars", k = 50,
          seed = 7L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Signature-store staleness (q140): the q138 reconcile for the
    // MinHash ingest loop — store signed over the %5≠3 slice, current
    // corpus is the %7≠0 view; per SOURCE, how many docs the store
    // covers / never signed / signed-but-departed (orphans under the
    // '[gone]' bucket — a departed doc carries no current source) ------
    "q140_signature_staleness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val store = DedupOps.signatureStore(s,
        d.filter(col("doc_id") % 5 =!= 3),
        fixturePath(s, dir, "documents", "sigstale", "mod5ne3_k3_b8_r2"),
        k = 3, numBands = 8, rowsPerBand = 2)
      DedupOps.signatureStaleness(d.filter(col("doc_id") % 7 =!= 0),
          store, groupCol = "source")
        .orderBy(col("source"))
    }),

    // Recall tuning grid (q139): BOTH serving knobs — nprobe ×
    // refineFactor — measured in one index pass; rf only moves the
    // shortlist cutoff over already-scored rows, so its axis is
    // near-free (ranked once at max rf, re-sliced per point). The sf0.1
    // q137 curve (flat at nprobe=10) showed the shortlist binds at this
    // scale; the grid is the surface that says which knob to turn ------
    "q139_ann_recall_grid" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s, e,
        fixturePath(s, dir, "embeddings", "annidx",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.annRecallGrid(e.filter(col("vec_id") < 10), index,
          e, cents, cbs, k = 5, nprobes = Seq(3, 10),
          refineFactors = Seq(2, 8, 32))
        .orderBy(col("nprobe"), col("refine_factor"), col("probe_id"))
    }),

    // ANN index staleness (q138): reconcile a STALE index (built over
    // the %5≠3 slice) against the CURRENT corpus view (%7≠0) — missing
    // = never-appended %5==3 rows counted under their expected cell,
    // orphaned = indexed %7==0 rows whose id left the corpus; the
    // per-cell report names the directories the next append/compaction
    // touches; cell_mismatch stays 0 while the quantizer is unchanged --
    "q138_ann_index_staleness" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      val cents = graft.ext.IvfCentroids.centroids
      val cbs = graft.ext.PqCodebooks.codebooks
      val index = SimilarityOps.annIndexStore(s,
        e.filter(col("vec_id") % 5 =!= 3),
        fixturePath(s, dir, "embeddings", "annidxstale",
          s"cells${cents.length}_m${cbs.length}"), cents, cbs)
      SimilarityOps.annIndexStaleness(e.filter(col("vec_id") % 7 =!= 0),
          index, cents)
        .orderBy(col("cell"))
    }),

    // Epoch-expanded packing (q134): q133's schedule expanded into
    // per-repeat instances (manifest-only — the text never explodes) and
    // packed into 512-token bins across 8 shards; each (doc, rep) draws
    // its own coin so repeated copies scatter instead of training
    // back-to-back -----------------------------------------------------
    "q134_epoch_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      PackOps.epochPack(
          d.withColumn("n_tok",
            size(TextOps.tokens(col("text"))).cast("long")),
          "doc_id", "source", col("n_tok"), RepTargets,
          seed = 12L, budget = 512, nShards = 8)
        .orderBy(col("doc_id"), col("rep_idx"))
    }),

    // Best-of-cluster canonical selection (q131): clusterDedup keeps the
    // min id; curation keeps the BEST copy — per near-dup component, the
    // highest-quality member (ties → lowest id), annotated with the
    // component label and size -----------------------------------------
    "q131_best_of_cluster" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("quality", TextOps.qualityScore(col("text")))
      DedupOps.clusterDedupBest(d, "doc_id", portableMinHashPairs(d),
          col("quality"))
        .select(col("doc_id"), col("quality"), col("comp"),
          col("n_members"))
        .orderBy(col("doc_id"))
    }),

    // Temperature mixture sampling (q130): the p^α upsampling knob — at
    // α=0.5 low-supply sources keep a larger share of the budget than
    // their natural proportion. Rates are driver-computed in sorted
    // source order from the supply aggregate (bounded probe) and pushed
    // as literals; the corpus never shuffles --------------------------
    "q130_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.temperatureMixSample(
          d.withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long")),
          "doc_id", "source", col("n_tok"), alpha = 0.5,
          budgetTokens = TempMixBudget)
        .orderBy(col("doc_id"))
    }),

    // Pretraining recipe flagship (q129): the complete data-prep chain a
    // training run actually consumes — quality gate → exact dedup →
    // MinHash-LSH cluster dedup → benchmark decontamination (raw %50
    // eval split) → token-budget selection. Every stage individually
    // oracled (q59/q63/q127); the composed oracle chains their CTEs ----
    "q129_pretrain_recipe" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      pretrainRecipeChain(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0))
        .orderBy(col("doc_id"))
    }),

    // Embedding-distribution drift (q128): the embedding-side companion
    // of q111's content snapshotDiff — per-IVF-cell counts, corpus
    // shares, share deltas, and cohesion sums for a before/after
    // snapshot pair (the %8 id split models an ingest batch landing).
    // One fused map-only cell assign + nCells-row partial agg per side;
    // the corpus never shuffles ----------------------------------------
    "q128_embedding_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.embeddingDriftReport(
          e.filter(col("vec_id") % 8 =!= 0), e, "embedding",
          graft.ext.IvfCentroids.centroids)
        .orderBy(col("cell"))
    }),

    // BM25 retrieval (q116): Okapi scoring of the corpus against a fixed
    // term query — one collapsed-count aggregate over the token stream,
    // window doc-length, broadcast idf/scalars, global top-k. The query
    // deliberately includes a term absent from the corpus (contributes
    // nothing on both engines) -----------------------------------------
    "q116_bm25" -> ((s, dir) =>
      RetrievalOps.bm25TopK(t(s, dir, "documents"),
        Seq("join", "merge", "scan", "zzzabsent"), "doc_id", "text",
        k = 15)),

    // BM25 per-query (q118): the probe-TABLE retrieval surface — one
    // ranked top-k per (query_id, terms) row set, the decontamination/
    // seed-expansion loop's ranked cousin. One tokenize pass serves ALL
    // queries (the union of probe terms drives q116's collapsed-count
    // aggregate; plan-asserted tokenize-once); idf is query-independent,
    // computed once. Query 3's terms are entirely absent from the corpus
    // — it returns no rows on both engines; queries 1 and 2 share a term
    // so the idf sharing is exercised, not just allowed ------------------
    "q118_bm25_per_query" -> ((s, dir) => {
      import s.implicits._
      val probe = fusionProbesDf(s)
      RetrievalOps.bm25PerQuery(t(s, dir, "documents"), probe,
          "query_id", "term", "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid retrieval (q163): reciprocal-rank fusion of q118's lexical
    // BM25 ranking and a q30-style exact cosine ranking probed at the
    // same query ids — the production hybrid-search combiner. Both legs
    // are bounded top-k outputs, so the fusion never sees corpus-sized
    // rows; query 3's lexical terms are corpus-absent, so its fused list
    // is vector-only (the one-modality-misses robustness case) ----------
    "q163_hybrid_rrf" -> ((s, dir) => {
      val (lex, vec) = hybridLegs(s, dir)
      RetrievalOps.rrfFuse(Seq(lex, vec), "query_id", "id", "rank", k = 5)
        .orderBy(col("query_id"), col("fused_rank"))
    }),

    // -- Fusion-weight significance (q196): is q176's "equal weights
    // beat every skew" conclusion real, or 21-query noise? The q185
    // discipline pointed at the tuning knob ServingConfig commits: per
    // judged query, the exact micro nDCG@5 delta between the committed
    // equal-weights config and the grid's best SKEWED config (kRrf 60,
    // weights 1/2); 1024 seeded sign-flip draws. On the grown
    // leg-balanced pool the delta is decisive — the number that makes
    // the committed legWeights a measurement, not a default -------------
    "q196_fusion_delta_significance" -> ((s, dir) => {
      import s.implicits._
      // both compared configs fuse the SAME two legs — pay each leg's
      // corpus-touching retrieval once (r19): without this each config
      // and permutation branch referenced the BM25 and exact-cosine legs
      // again (r19's 28-scan reading came from a plan that never
      // executed; plans/r21 holds the executed census). hybridLegs returns
      // both legs lazily (top-5-bounded); only the vec leg is
      // materialized, by the one eager localCheckpoint below.
      val (lex0, vec) = hybridLegs(s, dir)
      // Both configs fused and judged in ONE pass (r20, the q176 grid
      // discipline): composite query key qid·2+cfg makes the two
      // configs DISJOINT query groups, so one rrfFuse and one
      // rankingQuality compute per-(cfg, qid) values bit-identical to
      // the r19 two-branch form — each composite group sums the same
      // two contributions, ranks the same window, prices the same
      // integer micro-nDCG. The per-query delta then needs no join:
      // d(qid) = u(cfg 0) − u(cfg 1) is one conditional-sign aggregate.
      // The lex leg's weight is 1.0 under BOTH configs, so its rows
      // EXPLODE into the two composite key spaces — one reference, no
      // materialization barrier (r19 eagerly checkpointed it). The vec
      // leg's weight differs per config (1.0 vs 2.0), so it enters as
      // two rrfFuse legs and keeps the r19 checkpoint to stay
      // single-computed — one barrier job instead of two serialized
      // ones; without it the query scans 6 times instead of 4
      // (plans/r22). (8-core A/B, cal-normalized: one-pass 1.016 vs
      // two-branch 1.092; the lazy-checkpoint variant was rejected at
      // 4.28 s vs eager 3.38 s — consumer stages race on block locks.)
      val lexBoth = lex0.select(explode(array(
          (col("query_id") * 2).as("k0"),
          (col("query_id") * 2 + 1).as("k1"))).as("query_id"),
        col("id"), col("rank"))
      def keyed(leg: DataFrame, cfg: Int) =
        leg.select((col("query_id") * 2 + cfg).as("query_id"), col("id"),
          col("rank"))
      val vecCp = vec.localCheckpoint(true)
      val qrels2 = fusionQrels.flatMap { case (q, i, r) =>
        Seq((q * 2, i, r), (q * 2 + 1, i, r))
      }.toDF("query_id", "id", "rel")
      val fused = RetrievalOps.rrfFuse(
        Seq(lexBoth, keyed(vecCp, 0), keyed(vecCp, 1)),
        "query_id", "id", "rank", k = 5, kRrf = 60,
        weights = Seq(1.0, 1.0, 2.0))
      val d = RetrievalOps.rankingQuality(
          fused.select(col("query_id"), col("id"), col("fused_rank")),
          qrels2, "query_id", "id", "fused_rank", "rel", k = 5)
        .filter(col("query_id") >= 0)
        .select(expr("query_id div 2").as("query_id"),
          (when(col("query_id") % 2 === 0, lit(1L)).otherwise(lit(-1L)) *
            round(col("ndcg_at_k") * 1000000).cast("long")).as("du"))
        .groupBy(col("query_id"))
        .agg(sum(col("du")).as("d"))
      signFlipPermutationTest(d, "query_id", "d", nLabel = "n_queries",
        sumLabel = "delta_sum_u", nPerms = MmrPermCountWide)
    }),

    // Ranking-quality evaluation (q172): q163's fused ranking judged
    // against the committed qrels fixture — per-query nDCG@5, recall@5,
    // and reciprocal rank, plus the mean row (query_id −1) a tuning
    // loop compares. The fixture exercises every trec_eval convention:
    // graded hits at several ranks, judged-relevant ids the run misses,
    // an explicit rel=0 judgment that must gate nothing, and a judged
    // query the run never answers (all-zero row, still in the mean) ----
    "q172_ranking_quality" -> ((s, dir) => {
      import s.implicits._
      val (lex, vec) = hybridLegs(s, dir)
      val fused = RetrievalOps.rrfFuse(Seq(lex, vec),
        "query_id", "id", "rank", k = 5)
      RetrievalOps.rankingQuality(fused,
          fusionQrels.toDF("query_id", "id", "rel"),
          "query_id", "id", "fused_rank", "rel", k = 5)
        .orderBy(col("query_id"))
    }),

    // Fusion tuning grid (q176): RRF quality across (kRrf × weights)
    // configurations in ONE pass — the q139 re-slice discipline: the
    // two corpus-touching legs are computed once, each leg row explodes
    // across the six committed grid points, and every configuration is
    // judged by q172's exact-integer quality arithmetic. The output is
    // the table a serving config is picked FROM — the step that makes
    // kRrf/weight tuning measured instead of blind -----------------------
    "q176_fusion_quality_grid" -> ((s, dir) => {
      import s.implicits._
      val (lex, vec) = hybridLegs(s, dir)
      RetrievalOps.rrfQualityGrid(lex, vec,
          fusionQrels.toDF("query_id", "id", "rel"),
          "query_id", "id", "rank", "rel", k = 5, grid = fusionGrid)
        .orderBy(col("config_id"))
    }),

    // Hybrid retrieval from PERSISTED stores (q166): q163's fusion with
    // both legs served from their stores — lexical scores from the q144
    // stats store (tokenize-free), vector ranks from the q120 IVF-PQ
    // index + vector stores (encode-free). The oracle is the INLINE
    // truth (q118 chain fused with the q115 chain), so one fused diff
    // proves both serving paths faithful at once. The vector leg is the
    // approximate IVF-PQ ranking — the honest production trade the
    // exact-cosine q163 doesn't make -----------------------------------
    "q166_hybrid_from_stores" -> ((s, dir) =>
      hybridFromStoresChain(s, dir,
        kRrf = graft.ext.ServingConfig.kRrf,
        weights = graft.ext.ServingConfig.legWeights,
        nprobe = graft.ext.ServingConfig.annNprobe,
        refineFactor = graft.ext.ServingConfig.annRefineFactor)),

    // Min-max score fusion (q169): the comb-family combiner — per-query
    // min-max-normalized scores, weighted sum — for when score
    // MAGNITUDES carry signal (q163's RRF is the rank-only sibling).
    // Same legs, same modality-miss robustness -------------------------
    "q169_score_fusion" -> ((s, dir) => {
      import s.implicits._
      val probe = fusionProbesDf(s)
      val lex = RetrievalOps.bm25PerQuery(t(s, dir, "documents"), probe,
          "query_id", "term", "doc_id", "text", k = 5)
        .select(col("query_id"), col("doc_id").as("id"), col("score"))
      val e = t(s, dir, "embeddings").drop("label")
      val vec = SimilarityOps.bruteForceTopK(
          e.filter(col("vec_id").isin(fusionVecProbeIds: _*)), e, k = 5)
        .select(col("probe_id").as("query_id"), col("cand_id").as("id"),
          col("sim").as("score"))
      RetrievalOps.scoreFuse(Seq(lex -> 1.0, vec -> 1.0),
          "query_id", "id", "score", k = 5)
        .orderBy(col("query_id"), col("fused_rank"))
    }),

    // Fusion diagnostics (q168): per-query agreement between q163's two
    // legs — the report read before tuning kRrf/weights (legs that
    // already agree make fusion a no-op; disagreement is where the
    // weights matter). Query 3 is the modality-miss row: lexical-empty,
    // jaccard 0 ---------------------------------------------------------
    "q168_leg_agreement" -> ((s, dir) => {
      import s.implicits._
      val probe = fusionProbesDf(s)
      val lex = RetrievalOps.bm25PerQuery(t(s, dir, "documents"), probe,
          "query_id", "term", "doc_id", "text", k = 5)
        .select(col("query_id"), col("doc_id").as("id"))
      val e = t(s, dir, "embeddings").drop("label")
      val vec = SimilarityOps.bruteForceTopK(
          e.filter(col("vec_id").isin(fusionVecProbeIds: _*)), e, k = 5)
        .select(col("probe_id").as("query_id"), col("cand_id").as("id"))
      RetrievalOps.legAgreement(lex, vec, "query_id", "id")
        .orderBy(col("query_id"))
    }),

    // MMR over the store-served ANN shortlist (q167): the production
    // diversity re-rank — the pool is the IVF-PQ index/vector stores'
    // top-8 (paid once, encode-free), the walk is q164's greedy over it.
    // One oracle diff proves the store-served pool, the refine
    // arithmetic, and the walk composed -------------------------------
    "q167_mmr_from_store" -> ((s, dir) =>
      mmrFromStoreChain(s, dir,
        lambda = graft.ext.ServingConfig.mmrLambda,
        nprobe = graft.ext.ServingConfig.annNprobe,
        refineFactor = graft.ext.ServingConfig.annRefineFactor)),

    // MMR diversity re-ranking (q164): greedy λ·rel − (1−λ)·max-sim walk
    // over each probe's exact top-8 pool — the serving-side re-ranker
    // that keeps k results from being k paraphrases. Pool and pairwise
    // sims are distributed (bounded by poolK², never corpus-sized); the
    // inherently sequential walk runs per probe in flatMapGroups --------
    "q164_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      SimilarityOps.mmrRerank(e.filter(col("vec_id") < MmrProbeCount), e,
          poolK = 8, k = 4)
        .orderBy(col("probe_id"), col("mmr_rank"))
    }),

    // -- MMR quality delta (q178): what diversity COSTS in relevance —
    // q164's MMR walk and the plain top-k it re-ranked, both judged by
    // q172's exact quality arithmetic against one committed qrels
    // fixture. The per-ranking mean rows are the number a λ decision
    // reads (diversity trades nDCG for de-redundancy; this prices the
    // trade instead of asserting it). Oracle composes the shared
    // unrolled-greedy CTEs with the quality CTEs, the plain run ranked
    // from the SAME pool relevance ---------------------------------------
    "q178_mmr_quality_delta" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings").drop("label")
      val probes = e.filter(col("vec_id") < MmrProbeCount)
      val qrels = mmrQrels.toDF("probe_id", "cand_id", "rel")
      // ONE exact top-8 pool serves both rankings (r19): the MMR walk
      // re-ranks it, and the "plain" arm is its rk ≤ 4 prefix — by the
      // top-k prefix property (same (sim DESC, cand_id) window order),
      // bruteForceTopK(k=4) ≡ bruteForceTopK(k=8).filter(rk ≤ 4), so
      // the corpus-wide exact scoring pass runs once, not twice.
      // Materialized per invocation (bounded: probes × 8 rows): without
      // the barrier exchange reuse does not cover the second arm, and
      // the query scans 4 times instead of 3 (plans/r22).
      val pool = SimilarityOps.bruteForceTopK(probes, e, k = 8)
        .localCheckpoint(true)
      val mmr = SimilarityOps.mmrRerankPool(
          pool.select(col("probe_id"), col("cand_id"),
            col("sim").as("rel")), e, k = 4)
        .select(col("probe_id"), col("cand_id"), col("mmr_rank"))
      val plain = pool.filter(col("rk") <= 4)
        .select(col("probe_id"), col("cand_id"), col("rk"))
      RetrievalOps.rankingQuality(mmr, qrels, "probe_id", "cand_id",
          "mmr_rank", "rel", k = 4)
        .withColumn("ranking", lit("mmr"))
        .unionAll(RetrievalOps.rankingQuality(plain, qrels, "probe_id",
            "cand_id", "rk", "rel", k = 4)
          .withColumn("ranking", lit("plain")))
        .orderBy(col("ranking"), col("probe_id"))
    }),

    // -- MMR λ sweep (q182): the diversity knob MEASURED — the pool is
    // paid ONCE (the serving shape: mmrRerankPool over the brute-force
    // top-8), the walk runs at λ 0.25/0.5/0.75, and each λ's ranking is
    // judged by q172's arithmetic against the q178 qrels; output is the
    // three mean rows a λ decision compares. Oracle: three unrolled
    // walks (tagged CTEs, exact-binary λ literals) + the quality CTEs
    // with λ carried through the group keys -----------------------------
    "q182_mmr_lambda_sweep" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings").drop("label")
      val probes = e.filter(col("vec_id") < MmrProbeCount)
      val pool = SimilarityOps.bruteForceTopK(probes, e, k = 8)
        .select(col("probe_id"), col("cand_id"), col("sim").as("rel"))
      val qrels = mmrQrels.toDF("probe_id", "cand_id", "rel")
      val sweep = SimilarityOps.mmrRerankPoolSweep(pool, e, k = 4,
          lambdas = Seq(0.25, 0.5, 0.75))
      Seq(0.25, 0.5, 0.75).map { lam =>
        RetrievalOps.rankingQuality(
            sweep.filter(col("lambda") === lam)
              .select(col("probe_id"), col("cand_id"), col("mmr_rank")),
            qrels, "probe_id", "cand_id", "mmr_rank", "rel", k = 4)
          .filter(col("probe_id") === -1) // the mean row
          .withColumn("lambda", lit(lam))
      }.reduce(_ unionAll _)
        .select(col("lambda"), col("n_rel"), col("n_rel_at_k"),
          col("recall_at_k"), col("ndcg_at_k"), col("rr"))
        .orderBy(col("lambda"))
    }),

    // -- Mixture pipeline scored per-language (q188): q181 with the
    // round's gate asymmetry closed — the allocation/enforcement score
    // is each document's OWN language's committed quality LR (q186's
    // dispatch) instead of the EN-only classifier, composing all SIX
    // committed artifact families (langid weights, calibration, per-lang
    // gates + global fallback, per-lang merges + global fallback) into
    // one selection. Same bounded shapes as q181: one corpus scan, the
    // ≤|langs|·10-cell allocation histogram, per-language enforcement ---
    "q188_mixture_per_lang_scored" -> ((s, dir) => {
      val scored = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("quality",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6))
        .withColumn("n_tok",
          TextOps.subwordTokenCountByLang(col("text"), col("pred_lang")))
      DedupOps.selectWithAllocatedBudgets(scored, "doc_id", "pred_lang",
          col("quality"), col("n_tok"), totalBudget = 20000L,
          nBuckets = 10)
        .orderBy(col("doc_id"))
    }),

    // -- Per-language gate calibration (q189): the round's own
    // discipline applied to the round's own artifact — q175's
    // reliability machinery over the per-language dispatch's score,
    // labeled by the heuristic seed the gates were fit against. The
    // report a future FitCalibration run for these gates reads ---------
    "q189_per_lang_gate_calibration" -> ((s, dir) =>
      ProfileOps.calibrationReport(
          langIdScored(t(s, dir, "documents"))
            .withColumn("pred_lang", langIdPredictedOrUnd(col("__best"))),
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6),
          TextOps.qualityScore(col("text")) >= 0.5,
          nBuckets = 10)
        .orderBy(col("bucket"))),

    // -- Gate-delta significance (q190): is q187's per-lang win real?
    // The q185 discipline pointed at the round's own measurement: per
    // doc, the agreement delta d = [per-lang gate agrees with the seed]
    // − [EN gate agrees] ∈ {−1,0,1}; CONCORDANT docs drop first
    // (flipping a zero is the identity — McNemar's reduction, and what
    // keeps the draw table |discordant| × n_perms instead of
    // corpus × n_perms), then the shared seeded sign-flip test. Slices
    // whose per-lang arm was not committed share the global WEIGHTS on
    // both sides (only the calibrated cuts differ), so most of their
    // docs are concordant and drop ---------------------------------------
    "q190_gate_delta_significance" -> ((s, dir) => {
      val deltas = langIdScored(t(s, dir, "documents"))
        .withColumn("pred_lang", langIdPredictedOrUnd(col("__best")))
        .withColumn("__lab", TextOps.qualityScore(col("text")) >= 0.5)
        .withColumn("__pl",
          round(qualityLrScoreByLang(col("text"), col("pred_lang")), 6)
            >= graft.ext.CalibrationMaps.perLangGateRawCut)
        .withColumn("__en",
          round(TextOps.qualityLrScore(col("text")), 6) >=
            graft.ext.CalibrationMaps.gateRawCut)
        .select(col("doc_id"),
          (when(col("__pl") === col("__lab"), 1L).otherwise(0L) -
            when(col("__en") === col("__lab"), 1L).otherwise(0L)).as("d"))
        .filter(col("d") =!= 0L)
      signFlipPermutationTest(deltas, "doc_id", "d",
        nLabel = "n_discordant")
    }),

    // -- Paired permutation test for the MMR quality delta (q185): the
    // q178 mean hides sign-flipping probes — this prices the
    // SIGNIFICANCE of the delta instead of just its size. Per judged
    // probe (23 after the r19 qrels growth — the r18 fixture's 5 were
    // honest but underpowered), the exact micro nDCG@4 delta (mmr −
    // plain, the q178 numbers); the statistic is the integer delta
    // sum; the null is 1024 seeded sign-flip draws whose per-probe
    // signs are md5 parities both engines compute byte-identically (no
    // RNG anywhere); p is the standard (1 + #as-extreme)/(1 + n_perms)
    // with ONE final division. Under the cosine-ideal synthesized
    // grades the plain ranking is near-ideal by construction, so the
    // test now measures diversity's real relevance cost with power ------
    "q185_mmr_delta_significance" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings").drop("label")
      val probes = e.filter(col("vec_id") < MmrProbeCount)
      val qrels = mmrQrels.toDF("probe_id", "cand_id", "rel")
      // same one-pool discipline as q178 (r19): the plain arm is the
      // top-8 pool's rk ≤ 4 prefix — one exact scoring pass, not two
      // (5 scans instead of 3 without the barrier, plans/r22)
      val pool = SimilarityOps.bruteForceTopK(probes, e, k = 8)
        .localCheckpoint(true)
      val mmr = SimilarityOps.mmrRerankPool(
          pool.select(col("probe_id"), col("cand_id"),
            col("sim").as("rel")), e, k = 4)
        .select(col("probe_id"), col("cand_id"), col("mmr_rank"))
      val plain = pool.filter(col("rk") <= 4)
        .select(col("probe_id"), col("cand_id"), col("rk"))
      def microNdcg(ranked: DataFrame, rankCol: String) =
        RetrievalOps.rankingQuality(ranked, qrels, "probe_id", "cand_id",
            rankCol, "rel", k = 4)
          .filter(col("probe_id") >= 0)
          .select(col("probe_id"),
            round(col("ndcg_at_k") * 1000000).cast("long").as("u"))
      val d = microNdcg(mmr, "mmr_rank").as("m")
        .join(microNdcg(plain, "rk").as("p"), Seq("probe_id"))
        .select(col("probe_id"),
          (col("m.u") - col("p.u")).as("d"))
      signFlipPermutationTest(d, "probe_id", "d", nLabel = "n_probes",
        sumLabel = "delta_sum_u", nPerms = MmrPermCountWide)
    }),

    // -- SemDeDup (Abbas et al. 2023): nearest-cell assignment against the
    // SAME committed centroids as q31 (map-only NearestCell kernel), exact
    // cosine over within-cell pairs only, frontier-delta CC over the dup
    // edges, keep = the member LEAST similar to its centroid (the paper's
    // keep-the-atypical rule, ties by id). The oracle rebuilds assignment,
    // pair scoring, and a recursive transitive closure from the same
    // centroid literals, so the full decision chain hash-matches ---------
    "q104_semantic_dedup" -> ((s, dir) =>
      SimilarityOps.semanticDedup(t(s, dir, "embeddings").drop("label"),
          graft.ext.IvfCentroids.centroids, minSim = 0.3)
        .orderBy(col("vec_id"))),

    // Full oracle via shared literal planes; recall vs q30's exact top-k
    // is bounded in SimilarityOpsSpec (0.74 @ the default 8x4 banding,
    // fixed seed).
    "q52_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.hyperplaneLshTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Corpus-wide k-NN graph: every vector's top-3 bucket-mates (shared
    // literal planes → full oracle, like q52/q60)
    "q74_knn_graph" -> ((s, dir) =>
      SimilarityOps.knnGraph(t(s, dir, "embeddings").drop("label"), k = 3)
        .orderBy(col("src"), col("rk"))),

    // Label-free embedding near-dup: LSH buckets as the blocking key, so
    // it runs on any corpus (q29's label blocking needs curated labels).
    // Shares q52's literal planes → full oracle.
    "q60_lsh_neardup" -> ((s, dir) =>
      SimilarityOps.lshNearDupPairs(t(s, dir, "embeddings").drop("label"),
          minSim = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // -- Leakage-safe split: near-dup clusters assigned to train/val as
    // units (13/16 ≈ 81% of clusters to train), so no near-duplicate pair
    // ever straddles the split --------------------------------------------
    "q72_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = portableMinHashPairs(docs)
      DedupOps.leakageSafeSplit(docs, "doc_id", pairs, trainSixteenths = 13)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("comp")).as("n_clusters"))
        .orderBy(col("split"))
    }),

    // -- Source-precedence merge: near-dup key (1-perm MinHash), lowest
    // source name wins, doc id breaks ties; short docs fall back to the
    // exact fingerprint so the key is total ------------------------------
    "q71_priority_merge" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
      val msf = TextOps.minShingleFingerprints(d, "doc_id", col("toks"), 5)
      val keyed = d.join(msf, Seq("doc_id"))
        .withColumn("key", coalesce(col("min_shingle_fp"),
          TextOps.docFingerprintFromToks(col("toks"))))
      DedupOps.priorityMerge(keyed, "doc_id", "source", col("key"))
        .orderBy(col("keep_id"))
    }),

    // -- Unigram-LM perplexity filter: corpus-trained token logprobs ----
    "q70_lm_score" -> ((s, dir) =>
      TextOps.lmScore(t(s, dir, "documents"), "doc_id", "text",
          minAvgLogp = -3.43)
        .orderBy(col("doc_id"))),

    // -- Bigram stupid-backoff LM (Brants et al. 2007), HELD-OUT scoring:
    // trained on doc_id % 3 != 0, scoring the % 3 == 0 split, so unseen
    // continuations actually back off (q70 trains on what it scores —
    // nothing is ever unseen there). Threshold -3.5 sits where the score
    // split breaks (12 outliers / 155 clean) ------------------------------
    "q107_lm_backoff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.lmScoreBackoff(
          d.filter(col("doc_id") % 3 === 0),
          d.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", minAvgLogp = -3.5)
        .orderBy(col("doc_id"))
    }),

    // -- CCNet perplexity bucketing: reference LM from the %3!=0 slice
    // scores EVERYTHING (train slice included, like CCNet), corpus splits
    // into head/middle/tail thirds by disc-quantile thresholds from the
    // avg_logp value histogram — no global sort, no ntile ----------------
    "q110_ppl_buckets" -> ((s, dir) =>
      TextOps.perplexityBuckets(t(s, dir, "documents"),
          col("doc_id") % 3 =!= 0, "doc_id", "text")
        .orderBy(col("doc_id"))),

    // -- Tokenizer-vocab coverage: top-25 corpus vocab → per-doc OOV ----
    "q69_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 25)
        .orderBy(col("doc_id"))),

    // -- Chunk-level (sub-document) dedup: corpus-wide first occurrence --
    "q67_chunk_dedup" -> ((s, dir) =>
      DedupOps.chunkDedup(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 8)
        .orderBy(col("doc_id"))),

    // -- Sliding-window chunking (q125): the RAG/embedding-prep splitter —
    // 32-token chunks every 24 (8-token overlap), map-only explode ----
    "q125_sliding_chunks" -> ((s, dir) =>
      TextOps.slidingChunks(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, strideTokens = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // -- Domain-mixture report: exact token counts → temperature-flattened
    // (α=0.5) sampling boost relative to the largest domain. All the
    // cross-domain math is over exact BIGINT sums, so the doubles appear
    // only in the final per-row division — order-free, oracle-exact ------
    "q68_domain_mix" -> ((s, dir) => {
      val stats = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"))
      val tot = stats.agg(sum(col("n_tokens")).as("tot_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      stats.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("tot_tokens"), 6)
            .as("tok_frac"),
          round(sqrt(col("n_tokens").cast("double") / col("max_tokens")), 6)
            .as("samp_boost"))
        .orderBy(col("source"))
    }),

    // -- Sequence packing: documents → fixed token-budget bins ----------
    "q65_seq_packing" -> ((s, dir) =>
      PackOps.packSummary(t(s, dir, "documents"), "doc_id",
          size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)
        .orderBy(col("shard"), col("bin"))),

    // -- Token-STREAM packing (q156): q65's bins, but carrying the real
    // learned-subword piece sequences a trainer loads — per bin, the
    // concatenated streams with <|doc|> boundaries, priced in the SAME
    // units the stream carries. Oracle rebuilds every word's pieces from
    // the committed merges (the shared recursive CTEs), reassembles the
    // per-doc streams positionally, and re-bins with the naive window.
    // Null-text docs excluded by contract on both engines ---------------
    "q156_token_stream_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      PackOps.packTokenStreams(d, "doc_id",
          TextOps.subwordPieces(col("text")), budget = 512, nShards = 8)
        .orderBy(col("shard"), col("bin"))
    }),

    // -- Attention-boundary manifest (q173): q156's bins with the
    // per-document (id, offset, length) sidecar a trainer builds
    // attention masks / position-id resets from, exploded to one row
    // per document so positions diff relationally. The oracle rebuilds
    // every offset positionally from the same piece CTEs (cumulative
    // (len+1) window per bin); the arrays ride q156's single aggregate
    // — no new shuffle, plan-asserted in PackOpsSpec --------------------
    "q173_pack_boundaries" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      PackOps.packTokenStreams(d, "doc_id",
          TextOps.subwordPieces(col("text")), budget = 512, nShards = 8,
          withBoundaries = true)
        .select(col("shard"), col("bin"),
          posexplode(arrays_zip(col("doc_ids"), col("doc_offsets"),
            col("doc_lengths"))).as(Seq("__p", "__z")))
        .select(col("shard"), col("bin"),
          (col("__p") + 1).cast("int").as("seq"),
          col("__z").getField("doc_ids").as("doc_id"),
          col("__z").getField("doc_offsets").as("doc_offset"),
          col("__z").getField("doc_lengths").as("doc_len"))
        .orderBy(col("shard"), col("bin"), col("seq"))
    }),

    // -- Budget-quality curve (q170): token mass per learned-score
    // bucket, cumulated best-first — the report that SETS the budget
    // literal q127/q150/q153 then enforce. Fixed-width buckets (never
    // ntile: a tie at an ntile boundary is engine-specific), exact
    // integer sums, one division per share --------------------------------
    "q170_budget_curve" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      DedupOps.budgetCurve(d,
          round(TextOps.qualityLrScore(col("text")), 6),
          TextOps.subwordTokenCount(col("text")))
        .orderBy(col("bucket").desc)
    }),

    // -- Budget allocation (q179): q170's curve turned into the
    // per-source budget literals q148/q161/q174 consume — a 20k global
    // token budget water-filled globally best-bucket-first over the
    // (source, learned-score-bucket) histogram, so no source's mediocre
    // bucket displaces another's good one. Histogram-scale: the corpus
    // collapses to ≤|sources|·10 cells before any windowing ------------
    "q179_budget_allocation" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      DedupOps.allocateBudgets(d, "source",
          round(TextOps.qualityLrScore(col("text")), 6),
          TextOps.subwordTokenCount(col("text")),
          totalBudget = 20000L, nBuckets = 10)
        .orderBy(col("source"))
    }),

    // -- Allocated selection (q180): the mixture loop CLOSED — q179's
    // allocation feeds tokenBudgetSelectBySource directly, so curve →
    // allocation → enforcement runs as one call with no hand-carried
    // budget literals. The allocation is a ≤|sources|-row driver probe;
    // the oracle computes the allocation AND the per-source naive
    // window selection in one chain, budgets read from the takes CTE --
    "q180_allocated_selection" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      DedupOps.selectWithAllocatedBudgets(d, "doc_id", "source",
          round(TextOps.qualityLrScore(col("text")), 6),
          TextOps.subwordTokenCount(col("text")),
          totalBudget = 20000L, nBuckets = 10)
        .orderBy(col("doc_id"))
    }),

    // -- Packing-efficiency report (q171): per shard, how full q65's
    // layout is — fill ratio vs capacity and the straddler count, the
    // padding-waste diagnostic read before committing a context length --
    "q171_pack_efficiency" -> ((s, dir) =>
      PackOps.packEfficiency(t(s, dir, "documents"), "doc_id",
          size(TextOps.tokens(col("text"))).cast("long"),
          budget = 512, nShards = 8)
        .orderBy(col("shard"))),

    // -- Curriculum pack ordering (q165): the all-learned composition of
    // the packing and quality families — bins packed in LEARNED subword
    // tokens (committed BpeMerges pricing), each bin keyed by the mean
    // LEARNED classifier score (exact integer micro-score sums, ONE
    // double division — never a float avg), and the global consumption
    // order a curriculum-scheduled trainer reads. The plan is two-phase
    // (score-bucket histogram + per-bucket row_number, a bounded driver
    // probe); the oracle runs the naive global window over the same
    // rebuilt artifacts ---------------------------------------------------
    "q165_curriculum_pack" -> ((s, dir) => {
      // null-text docs excluded by contract on both engines
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      PackOps.curriculumOrder(d, "doc_id",
          TextOps.subwordTokenCount(col("text")),
          round(TextOps.qualityLrScore(col("text")), 6),
          budget = 512, nShards = 8)
        .orderBy(col("curriculum_pos"))
    }),

    // -- Token-ID packing (q160): q156's bins carrying INTEGER token-id
    // streams — the exact artifact a trainer memory-maps. Ids are a pure
    // function of the committed artifact (Bpe.vocabulary: sorted base
    // alphabet, then merge outputs in rank order); out-of-vocabulary
    // pieces — always single codepoints (Bpe.tokenId) — fall back to
    // vocabSize + codepoint, so NO text maps to -1 and decode(encode)
    // round-trips (ADVICE/VERDICT r16 task 7). The id map rides a map
    // literal inside whole-stage codegen, the fallback is ascii() (the
    // full-codepoint Spark expression) — no join, no broadcast, no new
    // expression. Oracle rebuilds the SAME (piece, id) table as VALUES
    // and applies the same unicode(piece) fallback rule ------------------
    "q160_token_id_pack" -> ((s, dir) => {
      import graft.ext.{Bpe, BpeMerges}
      val vocab = Bpe.vocabulary(BpeMerges.alphabet, BpeMerges.merges)
      val idMap = typedLit(vocab.zipWithIndex.toMap)
      val ids = transform(TextOps.subwordPieces(col("text")),
        p => coalesce(element_at(idMap, p),
          lit(vocab.size) + ascii(p)).cast("string"))
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      PackOps.packTokenStreams(d, "doc_id", ids, budget = 512,
          nShards = 8)
        .orderBy(col("shard"), col("bin"))
    }),

    // -- Int8 embedding quantization audit (native fused kernel) --------
    "q66_int8_quant" -> ((s, dir) => {
      val st = VectorFunctions.int8QuantStats(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), st.as("st"))
        .select(col("vec_id"),
          round(col("st").getItem(0), 8).as("scale"),
          round(col("st").getItem(1), 8).as("max_abs_err"),
          round(col("st").getItem(2), 8).as("rmse"))
        .orderBy(col("vec_id"))
    }),

    // -- Embedding-curation flagship (the q59 analog for vectors): LSH
    // near-dup prune (drop the higher id of each >=0.45 pair) → bucket
    // neighborhood density over the survivors → int8 storage audit, the
    // whole decision chain under ONE oracle. Every stage is an operator
    // registered above; composition adds no driver sync or extra pass ----
    "q75_embed_curation" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").drop("label")
      // dim probed ONCE on the base scan; passing it down keeps the
      // second stage's plan from executing the whole prune chain just to
      // infer the vector width
      val dim = SimilarityOps.inferDim(e, "embedding")
      val dropIds = SimilarityOps.lshNearDupPairs(e, minSim = 0.45, dim = dim)
        .select(col("id_b").as("vec_id")).distinct()
      val survivors = e.join(dropIds, Seq("vec_id"), "left_anti")
      val prs = SimilarityOps.lshNearDupPairs(survivors, minSim = 0.3,
        dim = dim)
      // both endpoints via ONE explode, not a self-union: the union form
      // referenced the whole pair lineage (banded self-join over the
      // anti-joined survivors) twice, and only the exchanges runtime
      // reuse shares between the copies run once
      val deg = prs.select(explode(array(col("id_a"), col("id_b")))
          .as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("density"))
      val st = VectorFunctions.int8QuantStats(col("embedding"))
      survivors.select(col("vec_id"), st.as("st"))
        .join(deg, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("density"), lit(0L)).as("density"),
          round(col("st").getItem(0), 8).as("scale"),
          round(col("st").getItem(2), 8).as("rmse"))
        .orderBy(col("vec_id"))
    }),

    // -- Multimodal plumbing ---------------------------------------------
    "q32_multimodal" -> ((s, dir) =>
      MultimodalOps.extractFeatures(
          s, MultimodalOps.packDocuments(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("mime"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"))
        .orderBy(col("media_id"))),

    // -- As-of join: click → latest prior purchase per user -----------------
    "q34_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      JoinOps.asofJoin(clicks, purchases, keys = Seq("user_id"), ts = "ts",
          leftKeep = Seq("event_id"), rightKeep = Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ts_r").as("purch_ts"), round(col("value_r"), 2).as("purch_value"))
        .orderBy(col("event_id"))
    }),

    // -- Range join: clicks within 1h after each signup, per user -----------
    "q35_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      JoinOps.rangeJoin(signups, clicks, keys = Seq("user_id"), ts = "ts",
          windowSeconds = 3600)
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("value")), 2).as("click_value"))
        .orderBy(col("signup_id"))
    }),

    // -- Salted equi-join: skew-spread join, result identical to a plain
    // join — the oracle IS the plain join, proving salting is invisible --
    "q73_salted_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val customer = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"),
          col("c_nationkey"))
      JoinOps.saltedEquiJoin(orders, customer, Seq("o_custkey"),
          saltFactor = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("c_nationkey"))
    }),

    // -- Salted aggregation: identical result to a direct groupBy -----------
    "q36_salted_agg" -> ((s, dir) =>
      AggOps.saltedSumCount(
          t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity")),
          keys = Seq("l_returnflag"), valueCol = "l_quantity")
        .select(col("l_returnflag"), round(col("sum_v"), 2).as("sum_qty"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // -- Cube (rollup covered by q9) ----------------------------------------
    "q37_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // -- String similarity join (SURVEY §2.C): blocking + levenshtein -------
    // The equi-join key is the blocking pair (2-char prefix, length band of
    // 8): Σ(block²) stays bounded as the corpus grows — a 1-char prefix
    // alone gives 26 skew-prone blocks whose squared sizes grow
    // quadratically at 100×. The probe side explodes to its own and the
    // two adjacent bands, so the ±2-length filter can never straddle a
    // band boundary (band width 8 > 2) and no qualifying pair is lost to
    // banding; each pair matches in exactly one band, so no dedup pass is
    // needed. The cheap length filter still prunes before the O(len²)
    // edit distance runs.
    "q38_string_simjoin" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") <= 300)
      val a = p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"),
        substring(col("p_name"), 1, 2).as("pfx"),
        floor(length(col("p_name")) / 8).as("band"))
      val b = p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"),
          substring(col("p_name"), 1, 2).as("pfx"),
          floor(length(col("p_name")) / 8).as("band0"))
        .withColumn("band", explode(array(col("band0") - 1, col("band0"),
          col("band0") + 1)))
      a.join(b, Seq("pfx", "band"))
        .filter(col("id_a") < col("id_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 2)
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 4)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("dist"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // -- Exploded token frequencies per language (corpus stats) -------------
    "q39_token_freq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
        .orderBy(col("lang"), col("tok"))),

    // -- TF-IDF top terms per document ------------------------------------
    "q55_tfidf" -> ((s, dir) =>
      TextOps.tfIdfTopK(
          t(s, dir, "documents").filter(col("doc_id") < 100), k = 3)
        .orderBy(col("doc_id"), col("rk"))),

    // -- Deterministic hash sampling (2/16 ≈ 12.5% per-id stable sample) --
    "q54_hash_sample" -> ((s, dir) =>
      DedupOps.hashSample(t(s, dir, "documents"), "doc_id", Seq("0", "1"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))),

    // -- Flagship composition: the full corpus-cleaning pipeline ---------
    // quality filter → exact dedup (min-id keep) → portable-MinHash
    // near-dup dedup → per-language stratified sample. Every stage is one
    // of the operators above, and the whole decision chain is
    // oracle-checked end to end. At 100 TB each stage is shuffle-bounded
    // exactly as its standalone operator: nothing about composition adds
    // a driver sync or an extra pass over dropped rows.
    "q59_clean_corpus" -> ((s, dir) =>
      cleanCorpusChain(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // -- Corpus snapshot diff: two derived versions of the documents table
    // (old = %7!=0 rows; new = %5!=0 rows with %3==0 texts edited), every
    // doc_id classified added/removed/changed/unchanged. Fingerprints are
    // computed map-side (unhex(md5(...)), 16 bytes), so only (key, fp)
    // rows meet at the full-outer join --------------------------------
    "q111_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, upper(col("text")))
            .otherwise(col("text")))
      ProfileOps.snapshotDiff(oldSnap, newSnap, "doc_id",
          Seq("text", "lang", "source"))
        .orderBy(col("doc_id"))
    }),

    // -- Column profiling (the reference idiom is DuckDB SUMMARIZE) ------
    // Mixed-type: numeric, string, and timestamp columns in one profile,
    // SUMMARIZE-style uniform schema.
    "q58_profile" -> ((s, dir) =>
      ProfileOps.profile(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"))
        .orderBy(col("col_name"))),

    // -- Stratified sampling: per-language mixing rates ------------------
    "q57_stratified_sample" -> ((s, dir) =>
      DedupOps.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "lang",
          sixteenths = Map("en" -> 4, "de" -> 8, "fr" -> 16),
          defaultSixteenths = 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))),

    // -- Near-dup cluster resolution: pairs → connected components --------
    // Oracle: DuckDB recursive transitive closure (min reachable id ==
    // hash-min fixpoint). Bounded scope (200 docs) keeps the closure cheap
    // oracle-side; the quadratic ngram pair scan here is an oracle
    // convenience only — the scale-safe composition (LSH-bounded pairs →
    // the same CC operator, full table) is registered as q85_lsh_cc.
    "q53_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      // k = 3 like q26/q27 — and like this query's oracle, whose
      // toks[i:i+2] slices are 3-token shingles (DuckDB slices are
      // 1-based INCLUSIVE); k = 2 computed Jaccard over different
      // shingle sets and only agreed on the fixture by luck
      val pairs = DedupOps.ngramJaccardPairs(docs, k = 3)
        .filter(col("jaccard") >= 0.5)
      DedupOps.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("id"), col("comp"))
        .orderBy(col("id"))
    }),

    // -- Multimodal frame sampling + resize (oracle via byte arithmetic) --
    "q51_frame_sample" -> ((s, dir) => {
      val media = MultimodalOps.packDocuments(t(s, dir, "documents"))
      val frames = MultimodalOps.sampleFrames(s, media, everyN = 4)
      val dims = MultimodalOps.resizeFit(
        MultimodalOps.extractFeatures(s, media).toDF(), 320, 240)
      frames.groupBy(col("media_id"))
        .agg(count(lit(1)).cast("long").as("n_sampled"),
          sum(octet_length(col("frame_bytes"))).cast("long").as("sample_bytes"))
        .join(dims.select(col("media_id"), col("out_w"), col("out_h")),
          Seq("media_id"))
        .orderBy(col("media_id"))
    }),

    // -- Sessionization (batch analog of streaming state) ------------------
    "q33_session_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
        .select(col("user_id"), col("sw.start").as("sess_start"),
          col("n_events"), col("total"))
        .orderBy(col("user_id"), col("sess_start"))),

    // -- DuckDB PIVOT statement through the dialect shim -------------------
    // Dynamic ON (no IN list): the shim probes the distinct return flags
    // exactly as DuckDB enumerates them, then emits Spark's PIVOT clause;
    // GROUP BY prunes the pivot input to the three referenced columns.
    // sum(l_quantity) is integer-valued, so both engines sum exactly.
    "q76_pivot_stmt" -> ((s, dir) => {
      val stmt =
        s"""PIVOT (SELECT l_linestatus, l_returnflag, l_quantity
           |       FROM read_parquet('$dir/lineitem.parquet'))
           |ON l_returnflag
           |USING sum(l_quantity) AS qty
           |GROUP BY l_linestatus""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
        .orderBy(col("l_linestatus"))
    }),

    // -- DuckDB UNION ALL BY NAME through the dialect shim -----------------
    // Name-aligned union of two differently-shaped tables: the shim probes
    // each arm's schema, orders columns left-arm-first (DuckDB order), and
    // fills the arms' missing columns with NULL. DuckDB runs the SAME
    // statement natively as the oracle.
    "q77_union_by_name" -> ((s, dir) => {
      val stmt =
        s"""SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
           |FROM read_parquet('$dir/customer.parquet') WHERE c_acctbal > 9000
           |UNION ALL BY NAME
           |SELECT s_suppkey AS id, s_acctbal AS bal, s_name AS name,
           |       s_nationkey AS nation
           |FROM read_parquet('$dir/supplier.parquet') WHERE s_acctbal > 9000
           |ORDER BY id, name""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB lateral unnest through the dialect shim --------------------
    // The token-explosion idiom exactly as a DuckDB user writes it:
    // comma-lateral `rel, unnest(x) AS z(tok)` → LATERAL VIEW explode.
    // DuckDB runs the same statement natively as the oracle.
    "q79_lateral_unnest" -> ((s, dir) => {
      val stmt =
        s"""SELECT z.tok AS tok, count() AS n
           |FROM (SELECT lower(text) AS lt
           |      FROM read_parquet('$dir/documents.parquet')
           |      WHERE doc_id < 200) d, unnest(string_split(d.lt, ' ')) AS z(tok)
           |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB generate_series table function through the dialect shim ----
    // Cross join against a generated rowset (threshold ladder): inclusive
    // bounds map 1:1 onto explode(sequence(…)).
    "q80_generate_series" -> ((s, dir) => {
      val stmt =
        s"""SELECT g.k AS k, count() AS n
           |FROM read_parquet('$dir/orders.parquet') o, generate_series(1, 3) AS g(k)
           |WHERE o.o_totalprice > k * 100000
           |GROUP BY k ORDER BY k""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB bracket expressions through the dialect shim ---------------
    // 1-based subscripts (a silent off-by-one through Spark's native
    // 0-based subscript), inclusive slices, and a struct literal — the
    // same statement runs natively in DuckDB as the oracle.
    "q81_bracket_exprs" -> ((s, dir) => {
      val stmt =
        s"""SELECT doc_id, toks[1] AS first_tok,
           |       array_to_string(toks[2:3], ' ') AS mid,
           |       ({'n': n_chars}).n AS nc
           |FROM (SELECT doc_id, string_split(text, ' ') AS toks, n_chars
           |      FROM read_parquet('$dir/documents.parquet') WHERE doc_id < 100)
           |ORDER BY doc_id""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB table macro (CREATE MACRO … AS TABLE) through the shim -----
    // The definition registers (a no-op statement, reference-style
    // pass-through) and the call site inlines as a parenthesized subquery;
    // DuckDB runs the SAME two statements natively as the oracle.
    "q82_table_macro" -> ((s, dir) => {
      graft.pipeline.SqlExec.run(s,
        s"""CREATE OR REPLACE MACRO pricey_orders(lim) AS TABLE
           |SELECT o_custkey, o_totalprice
           |FROM read_parquet('$dir/orders.parquet')
           |WHERE o_totalprice > lim""".stripMargin)
      val stmt =
        """SELECT o.o_custkey AS custkey, count() AS n,
          |       round(sum(o.o_totalprice), 2) AS total
          |FROM pricey_orders(400000) AS o
          |GROUP BY o.o_custkey ORDER BY total DESC, custkey LIMIT 25""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB multi-unnest zip through the dialect shim ------------------
    // Two select-list unnests over different-length slices of the same
    // token list: DuckDB zips them positionally and NULL-pads the shorter.
    // The shim drives both from ONE generated index (try_element_at +
    // LATERAL VIEW) — DuckDB runs the same statement natively as the
    // oracle, so the padding semantics are cross-checked row for row.
    "q83_unnest_zip" -> ((s, dir) => {
      val stmt =
        s"""SELECT doc_id, unnest(toks[1:6]) AS tok, unnest(toks[1:3]) AS tok3
           |FROM (SELECT doc_id, string_split(text, ' ') AS toks
           |      FROM read_parquet('$dir/documents.parquet') WHERE doc_id < 50)
           |ORDER BY doc_id, tok, tok3""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB COLUMNS() star expression through the dialect shim ---------
    // min/max over a regex-selected column family: the shim expands the
    // COLUMNS set from the probed source schema and — DuckDB behavior —
    // each wrapped result keeps its source column name. Sums stay off:
    // min/max of doubles are exact in both engines.
    "q78_columns_expr" -> ((s, dir) => {
      val stmt =
        s"""SELECT l_returnflag, min(COLUMNS('^l_(quantity|extendedprice|discount)$$'))
           |FROM read_parquet('$dir/lineitem.parquet')
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    }),

    // -- DuckDB 3-arg date_diff through the dialect shim -------------------
    // Boundary-crossing semantics (NOT timestampdiff's complete units): the
    // mid-day/mid-quarter anchor makes the two disagree on most rows, so a
    // complete-units implementation cannot pass. DuckDB runs the same
    // statement natively as the oracle; every unit family is covered and
    // orders before the anchor exercise the negative direction.
    "q84_date_diff" -> ((s, dir) => {
      val stmt =
        s"""SELECT o_orderkey,
           |  date_diff('year',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dy,
           |  date_diff('quarter', TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dq,
           |  date_diff('month',   TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dmo,
           |  date_diff('week',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dw,
           |  date_diff('day',     TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dd,
           |  date_diff('hour',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dh,
           |  date_diff('minute',  TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dmi,
           |  date_diff('second',  TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS ds
           |FROM read_parquet('$dir/orders.parquet')
           |WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin
      s.sql(graft.pipeline.DialectShim.rewrite(stmt, s))
    })
  )

  /** q27's oracle, generated from the SAME coefficient family the portable
    * Spark operator uses ([[graft.ext.DedupOps.minHashCoeffs]]) — the two
    * sides can only agree because the permutation constants are shared.
    */
  /** The signature half of [[minHashPairCtes]], CTE names prefixed so two
    * instances (train/eval) can coexist in one WITH — ends at
    * `${pfx}bands`.
    */
  private def minHashSigCtes(pfx: String, source: String): String = {
    val p = DedupOps.MinHashPrime
    val coeffs = DedupOps.minHashCoeffs(16)
      .map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]")
    s"""${pfx}d AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM $source),
       |${pfx}shg AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
       |    for i in generate_series(1, len(toks) - 2)]) AS sh
       |  FROM ${pfx}d WHERE len(toks) >= 3),
       |${pfx}xs AS (SELECT doc_id,
       |    [CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % $p for s in sh] AS xs
       |  FROM ${pfx}shg),
       |${pfx}sig AS (SELECT doc_id,
       |    [list_aggregate([(c[1] * x + c[2]) % $p for x in xs], 'min')
       |      for c in $coeffs] AS sig
       |  FROM ${pfx}xs),
       |${pfx}bands AS (SELECT doc_id, sig, t.b AS b, sig[t.b*2+1 : t.b*2+2] AS key
       |  FROM ${pfx}sig, generate_series(0, 7) AS t(b))""".stripMargin
  }

  private def minHashPairCtes(source: String = "documents"): String =
    minHashSigCtes("", source) + s""",
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |scored AS (SELECT id_a, id_b,
       |    round(len([i for i in generate_series(1, 16)
       |      if sig_a[i] = sig_b[i]]) / 16.0, 4) AS jaccard
       |  FROM cand)""".stripMargin

  /** q123: the q27 signature machinery instantiated TWICE (train/eval
    * sides of the %5 split), cross-banded candidates (no `<` — the sides
    * are disjoint by construction), the same 16-position agreement
    * estimate, then per-train-doc match aggregation with a left join so
    * clean docs keep n_eval_matches = 0 — mirroring
    * [[graft.ext.DedupOps.fuzzyContaminationFlags]] stage for stage.
    */
  private lazy val fuzzyDecontamOracleSql: String =
    s"""WITH ${minHashSigCtes("t",
          "(SELECT * FROM documents WHERE doc_id % 5 <> 0) s")},
       |${minHashSigCtes("e",
          "(SELECT * FROM documents WHERE doc_id % 5 = 0) s")},
       |cand AS (SELECT DISTINCT a.doc_id AS tid, b.doc_id AS eid,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM tbands a JOIN ebands b ON a.b = b.b AND a.key = b.key),
       |sc AS (SELECT tid, eid,
       |    round(len([i for i in generate_series(1, 16)
       |      if sig_a[i] = sig_b[i]]) / 16.0, 4) AS jaccard
       |  FROM cand),
       |m AS (SELECT tid, count(DISTINCT eid) AS n_eval_matches,
       |    max(jaccard) AS max_jaccard
       |  FROM sc WHERE jaccard >= 0.8 GROUP BY tid)
       |SELECT d.doc_id,
       |  CAST(coalesce(m.n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
       |  m.max_jaccard,
       |  (coalesce(m.n_eval_matches, 0) > 0) AS fuzzy_contaminated
       |FROM documents d LEFT JOIN m ON d.doc_id = m.tid
       |WHERE d.doc_id % 5 <> 0 ORDER BY d.doc_id""".stripMargin

  /** q99's oracle, parameterized by the id bound so q103's multimodal
    * composition can reuse the exact pipeline over its own corpus slice.
    * Mirrors syntheticPixel + dhash64 + bandedHammingPairs exactly:
    * 18×16 grayscale (luma = v), 2×2 box averages into the 9×8 grid,
    * bit (gy·8+gx) = grid(gx) > grid(gx+1); bit 63 lands as BIGINT min
    * (two's complement — DuckDB refuses 1<<63), bands are arithmetic
    * shiftright + mask in BOTH engines.
    */
  private def imagePairSql(idBound: Int, maxHamming: Int = 10): String =
    s"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < $idBound),
       |pix AS (
       |  SELECT id, sx.x AS x, sy.y AS y,
       |    LEAST(255, ((id % 50) * 37 + sx.x * 11 + sy.y * 23) * 17 % 256 +
       |      CASE WHEN (id * 131 + sx.x * 7 + sy.y * 3) % 997 < 30
       |        THEN 40 ELSE 0 END) AS v
       |  FROM ids, generate_series(0, 17) sx(x), generate_series(0, 15) sy(y)),
       |grid AS (
       |  SELECT id, x // 2 AS gx, y // 2 AS gy, avg(v) AS gv
       |  FROM pix GROUP BY id, x // 2, y // 2),
       |bits AS (
       |  SELECT l.id, l.gy * 8 + l.gx AS bit,
       |    CASE WHEN l.gv > r.gv THEN 1 ELSE 0 END AS b
       |  FROM grid l JOIN grid r
       |    ON l.id = r.id AND l.gy = r.gy AND r.gx = l.gx + 1
       |  WHERE l.gx < 8),
       |$hammingBandCtes
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** q101's oracle, parameterized like [[imagePairSql]]. Mirrors
    * syntheticSample + audioEnvHash64 + bandedHammingPairs: period-3
    * carrier × group-keyed per-window amplitude × volume class + sparse
    * bump; 32-frame windows (t // 32) are exactly the hash's 65 box
    * slots on the 2080-frame clip; same bit-63 / band treatment.
    */
  private def audioPairSql(idBound: Int, maxHamming: Int = 10): String =
    s"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < $idBound),
       |smp AS (
       |  SELECT id, st.t AS t,
       |    ((st.t * 7 % 21) - 10) *
       |      (100 + (((id % 50) * 37 + (st.t // 32) * (11 + (id % 50) % 13))
       |        * 17 % 900)) *
       |      (1 + (id // 50) % 3) +
       |    CASE WHEN (id * 131 + st.t * 17) % 997 < 20
       |      THEN 500 ELSE 0 END AS s
       |  FROM ids, generate_series(0, 2079) st(t)),
       |env AS (SELECT id, t // 32 AS w, avg(abs(s)) AS e
       |  FROM smp GROUP BY id, t // 32),
       |bits AS (SELECT l.id, l.w AS bit,
       |    CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS b
       |  FROM env l JOIN env r ON l.id = r.id AND r.w = l.w + 1
       |  WHERE l.w < 64),
       |$hammingBandCtes
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** Re-indent a full WITH…SELECT statement for embedding as a
    * parenthesized subquery inside another statement's margin.
    */
  private def indent(sql: String): String =
    sql.linesIterator.mkString("\n    ")

  /** The shared tail of both Hamming oracles: 64-bit signature assembly
    * from (id, bit, b) rows (bit 63 as BIGINT min — two's complement),
    * 4×16-bit arithmetic-shift bands, candidate self-join.
    */
  private val hammingBandCtes: String =
    """sig AS (SELECT id, CAST(sum(
      |    CASE WHEN b = 1 AND bit = 63
      |           THEN CAST(-9223372036854775808 AS HUGEINT)
      |         WHEN b = 1 THEN CAST((CAST(1 AS BIGINT)
      |           << CAST(bit AS INTEGER)) AS HUGEINT)
      |         ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS sig
      |  FROM bits GROUP BY id),
      |bands AS (SELECT id, sig, gi.i AS i,
      |    (sig >> CAST(gi.i * 16 AS INTEGER)) & 65535 AS bv
      |  FROM sig, generate_series(0, 3) gi(i)),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |    a.sig AS sa, b.sig AS sb
      |  FROM bands a JOIN bands b
      |    ON a.i = b.i AND a.bv = b.bv AND a.id < b.id)""".stripMargin

  /** q102: frame strings → md5 fingerprints → the SAME portable MinHash
    * family/banding the text oracles use, over per-element rows (list()
    * aggregation instead of a shingle comprehension). Frame sampling
    * (every 2nd of 24) is the generate_series step; minJaccard 0.4.
    */
  private lazy val videoNearDupOracleSql: String = videoPairSql(200)

  private def videoPairSql(idBound: Int): String = {
    val p = DedupOps.MinHashPrime
    val coeffs = DedupOps.minHashCoeffs(16)
      .map { case (a, b) => s"[$a, $b]" }.mkString("[", ", ", "]")
    s"""WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < $idBound),
       |fr AS (SELECT id, gs.f AS f,
       |    md5(rpad(CASE WHEN (id * 31 + gs.f) % 8 = 0
       |      THEN 'id' || CAST(id AS VARCHAR) || '-f' || CAST(gs.f AS VARCHAR)
       |      ELSE 'g' || CAST(id % 40 AS VARCHAR) || '-f' || CAST(gs.f AS VARCHAR)
       |      END, 100, 'x')) AS s
       |  FROM ids, generate_series(0, 22, 2) gs(f)),
       |el AS (SELECT DISTINCT id AS doc_id, s FROM fr),
       |xs AS (SELECT doc_id,
       |    list(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % $p) AS xs
       |  FROM el GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |    [list_aggregate([(c[1] * x + c[2]) % $p for x in xs], 'min')
       |      for c in $coeffs] AS sig
       |  FROM xs),
       |bands AS (SELECT doc_id, sig, t.b AS b, sig[t.b*2+1 : t.b*2+2] AS key
       |  FROM sig, generate_series(0, 7) AS t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |scored AS (SELECT id_a, id_b,
       |    round(len([i for i in generate_series(1, 16)
       |      if sig_a[i] = sig_b[i]]) / 16.0, 4) AS jaccard
       |  FROM cand)
       |SELECT id_a, id_b, jaccard FROM scored
       |WHERE jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  private lazy val minHashOracleSql: String =
    s"""WITH ${minHashPairCtes()}
       |SELECT id_a, id_b, jaccard FROM scored
       |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** q56: the pair CTEs above + a recursive transitive closure (the oracle
    * twin of hash-min connected components, as in q53) + the anti-join
    * keep decision.
    */
  private lazy val nearDupDedupOracleSql: String =
    s"""WITH RECURSIVE ${minHashPairCtes()},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |dropids AS (SELECT a AS id FROM rr GROUP BY a HAVING min(b) < a)
       |SELECT doc.doc_id, doc.lang FROM documents doc
       |LEFT JOIN dropids ON doc.doc_id = dropids.id
       |WHERE dropids.id IS NULL
       |ORDER BY doc.doc_id""".stripMargin

  /** q85: the pair CTEs + self-edges for every document + the recursive
    * transitive closure — min reachable id ≡ the hash-min fixpoint label,
    * so DuckDB checks the LSH-fed components exactly (cheap oracle-side:
    * the edge set is the Σ(bucket²)-bounded LSH pairs, not all pairs).
    */
  private lazy val lshCcOracleSql: String =
    s"""WITH RECURSIVE ${minHashPairCtes()},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |  UNION SELECT doc_id, doc_id FROM documents),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a)
       |SELECT a AS id, min(b) AS comp FROM rr GROUP BY a ORDER BY id""".stripMargin

  /** q86: same closure as q85, then the cluster-size histogram. */
  private lazy val cachedPairsOracleSql: String =
    s"""WITH RECURSIVE ${minHashPairCtes()},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |  UNION SELECT doc_id, doc_id FROM documents),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |comp AS (SELECT a AS id, min(b) AS comp FROM rr GROUP BY a),
       |sz AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)
       |SELECT comp_size, count(*) AS n_clusters FROM sz
       |GROUP BY comp_size ORDER BY comp_size""".stripMargin

  /** q52's oracle: the hyperplanes are seed-derived constants, so the SAME
    * planes embed as SQL literals (Double.toString round-trips exactly
    * through DuckDB's parser), and DuckDB's list_dot_product matches the
    * native kernel bitwise (both sum ascending in double precision —
    * verified empirically over the fixture), so even the sign bits agree.
    * Dim 64 is fixture-specific, like every oracle here.
    */
  private lazy val lshBandCtes: String = {
    val planes = SimilarityOps.lshPlanes(nBands = 8, bitsPerBand = 4,
      dim = 64, seed = 42L)
    def planeLit(p: Array[Double]) = p.mkString("[", ", ", "]")
    val bandExprs = (0 until 8).map { b =>
      (0 until 4).map { i =>
        s"CASE WHEN list_dot_product(u, ${planeLit(planes(b * 4 + i))}) > 0" +
          s" THEN ${1 << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
    }.mkString("[", ",\n    ", "]")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u FROM e),
       |sigs AS (SELECT vec_id, u, $bandExprs AS bands FROM n),
       |bd AS (SELECT vec_id, u, gi.i AS i, bands[gi.i + 1] AS bv
       |  FROM sigs, generate_series(0, 7) AS gi(i))""".stripMargin
  }

  private lazy val lshOracleSql: String =
    s"""WITH $lshBandCtes,
       |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    p.u AS pu, c.u AS cu
       |  FROM bd p JOIN bd c ON p.i = c.i AND p.bv = c.bv
       |  WHERE p.vec_id < 10 AND p.vec_id <> c.vec_id),
       |sc AS (SELECT DISTINCT probe_id, cand_id,
       |    round(list_dot_product(pu, cu), 6) AS sim FROM cand),
       |rk AS (SELECT probe_id, cand_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk FROM sc)
       |SELECT probe_id, rk, cand_id, sim FROM rk WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin

  /** q31's oracle: the committed centroids ([[graft.ext.IvfCentroids]])
    * embed as SQL literals exactly like q52's hyperplanes. Candidate cell
    * assignment (argmax dot, ties → lowest cell, mirroring
    * [[SimilarityOps.cellOf]]) and probe cell ranking (top-nprobe by dot)
    * are both plain `row_number` over `list_dot_product`, which DuckDB
    * evaluates bitwise-identically to the native kernel.
    */
  private lazy val ivfOracleSql: String = {
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u FROM e),
       |cents(cell, c) AS (VALUES $centRows),
       |pcand AS (SELECT n.vec_id AS probe_id, n.u AS pu, cents.cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell) AS crk
       |  FROM n, cents WHERE n.vec_id < 10),
       |probes AS (SELECT probe_id, pu, cell FROM pcand WHERE crk <= 3),
       |ccand AS (SELECT n.vec_id AS cand_id, n.u AS cu, cents.cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell) AS rn
       |  FROM n, cents),
       |cands AS (SELECT cand_id, cu, cell FROM ccand WHERE rn = 1),
       |sc AS (SELECT p.probe_id, c.cand_id,
       |    round(list_dot_product(p.pu, c.cu), 6) AS sim
       |  FROM cands c JOIN probes p USING (cell)
       |  WHERE p.probe_id <> c.cand_id),
       |rk AS (SELECT probe_id, cand_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk FROM sc)
       |SELECT probe_id, rk, cand_id, sim FROM rk WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }

  /** q114: the committed PQ codebooks as VALUES literals, twice per
    * subspace — EXTENDED (bias coordinate appended) for code assignment,
    * so the oracle's `list_dot_product(sub || [1.0], c_ext)` is the
    * identical operation sequence to the Spark kernel's argmax-dot, and
    * PLAIN for the ADC lookup. Shortlist and final rank both order by
    * (rounded sim DESC, cand_id), mirroring topKPerGroup.
    */
  private lazy val pqAnnOracleSql: String = {
    val cbs = graft.ext.PqCodebooks.codebooks
    val m = cbs.length
    val dsub = cbs(0).head.length
    def values(cb: Array[Array[Double]]): String = cb.zipWithIndex
      .map { case (c, j) => s"($j, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    val cbCtes = (0 until m).map { mi =>
      s"""cbe$mi(j, c) AS (VALUES ${values(
           graft.ext.SimilarityOps.extendForL2(cbs(mi)))}),
         |cb$mi(j, c) AS (VALUES ${values(cbs(mi))})""".stripMargin
    }.mkString(",\n")
    val assignCtes = (0 until m).map { mi =>
      val lo = mi * dsub + 1; val hi = (mi + 1) * dsub
      s"""a$mi AS (SELECT n.vec_id, j, row_number() OVER (
         |    PARTITION BY n.vec_id ORDER BY
         |      list_dot_product(n.u[$lo:$hi] || [CAST(1.0 AS DOUBLE)],
         |        cbe.c) DESC, j) AS rn
         |  FROM n, cbe$mi cbe),
         |c$mi AS (SELECT vec_id, j AS code$mi FROM a$mi WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    val encJoin = (0 until m).map(mi => s"JOIN c$mi USING (vec_id)")
      .mkString(" ")
    val codeCols = (0 until m).map(mi => s"code$mi").mkString(", ")
    val adcSum = (0 until m).map { mi =>
      val lo = mi * dsub + 1; val hi = (mi + 1) * dsub
      s"list_dot_product(p.pu[$lo:$hi], cb$mi.c)"
    }.mkString(" +\n      ")
    val adcJoins = (0 until m)
      .map(mi => s"JOIN cb$mi ON cb$mi.j = e.code$mi").mkString("\n    ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u
       |  FROM e0),
       |$cbCtes,
       |$assignCtes,
       |enc AS (SELECT n.vec_id, n.u, $codeCols FROM n $encJoin),
       |p AS (SELECT vec_id AS probe_id, u AS pu FROM n WHERE vec_id < 10),
       |sc AS (SELECT p.probe_id, e.vec_id AS cand_id,
       |    round($adcSum, 6) AS sim
       |  FROM enc e CROSS JOIN p
       |    $adcJoins
       |  WHERE p.probe_id <> e.vec_id),
       |sl AS (SELECT probe_id, cand_id FROM (
       |    SELECT probe_id, cand_id, row_number() OVER (
       |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
       |    FROM sc) WHERE rn <= 40),
       |ex AS (SELECT sl.probe_id, sl.cand_id,
       |    round(list_dot_product(p.pu, cn.u), 6) AS sim
       |  FROM sl JOIN p USING (probe_id)
       |    JOIN n cn ON cn.vec_id = sl.cand_id),
       |rk AS (SELECT probe_id, cand_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk FROM ex)
       |SELECT probe_id, rk, cand_id, sim FROM rk WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }

  /** q115: IVF-PQ — the q31 centroid literals AND the q114 codebook
    * literals in one chain. Candidate cell assignment and probe cell
    * ranking mirror q31 (argmax dot, ties → lowest cell); code assignment,
    * ADC lookup, shortlist, and exact re-rank mirror q114 — except the
    * ADC scan joins the probed-cell set (`USING (cell)`) instead of
    * cross-joining the full corpus. A candidate holds exactly one cell,
    * so the equi-join can't duplicate a (probe, cand) pair.
    *
    * Parameterized as a CTE CHAIN ending at the exact-rank `rk` so q122
    * can reuse the identical machinery with its own (k, refineFactor)
    * and append band-filter CTEs — callers supply the final SELECT.
    */
  private def ivfPqChainSql(k: Int, refineFactor: Int,
                            nprobe: Int = 3,
                            probeBound: Int = 10): String =
    ivfPqChainParts(k, refineFactor, nprobe, probeBound)._1

  /** The chain plus its ADC building blocks (`adcSum` scoring expression
    * over `p`/`e` aliases, `adcJoins` codebook joins) so the q137 sweep
    * oracle can rebuild the scoring CTE with an extra sweep dimension
    * without forking the 60-line chain body.
    */
  private def ivfPqChainParts(k: Int, refineFactor: Int,
                              nprobe: Int = 3,
                              probeBound: Int = 10)
      : (String, String, String) = {
    val cbs = graft.ext.PqCodebooks.codebooks
    val m = cbs.length
    val dsub = cbs(0).head.length
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    def values(cb: Array[Array[Double]]): String = cb.zipWithIndex
      .map { case (c, j) => s"($j, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    val cbCtes = (0 until m).map { mi =>
      s"""cbe$mi(j, c) AS (VALUES ${values(
           graft.ext.SimilarityOps.extendForL2(cbs(mi)))}),
         |cb$mi(j, c) AS (VALUES ${values(cbs(mi))})""".stripMargin
    }.mkString(",\n")
    val assignCtes = (0 until m).map { mi =>
      val lo = mi * dsub + 1; val hi = (mi + 1) * dsub
      s"""a$mi AS (SELECT n.vec_id, j, row_number() OVER (
         |    PARTITION BY n.vec_id ORDER BY
         |      list_dot_product(n.u[$lo:$hi] || [CAST(1.0 AS DOUBLE)],
         |        cbe.c) DESC, j) AS rn
         |  FROM n, cbe$mi cbe),
         |c$mi AS (SELECT vec_id, j AS code$mi FROM a$mi WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    val encJoin = (0 until m).map(mi => s"JOIN c$mi USING (vec_id)")
      .mkString(" ")
    val codeCols = (0 until m).map(mi => s"code$mi").mkString(", ")
    val adcSum = (0 until m).map { mi =>
      val lo = mi * dsub + 1; val hi = (mi + 1) * dsub
      s"list_dot_product(p.pu[$lo:$hi], cb$mi.c)"
    }.mkString(" +\n      ")
    val adcJoins = (0 until m)
      .map(mi => s"JOIN cb$mi ON cb$mi.j = e.code$mi").mkString("\n    ")
    val chain = s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u
       |  FROM e0),
       |cents(cell, c) AS (VALUES $centRows),
       |$cbCtes,
       |$assignCtes,
       |ccell AS (SELECT n.vec_id, cents.cell, row_number() OVER (
       |    PARTITION BY n.vec_id
       |    ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell) AS rn
       |  FROM n, cents),
       |cc AS (SELECT vec_id, cell FROM ccell WHERE rn = 1),
       |enc AS (SELECT n.vec_id, cc.cell, $codeCols
       |  FROM n JOIN cc USING (vec_id) $encJoin),
       |pcand AS (SELECT n.vec_id AS probe_id, n.u AS pu, cents.cell,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell)
       |      AS crk
       |  FROM n, cents WHERE n.vec_id < $probeBound),
       |p AS (SELECT probe_id, pu, cell FROM pcand WHERE crk <= $nprobe),
       |pv AS (SELECT vec_id AS probe_id, u AS pu FROM n
       |  WHERE vec_id < $probeBound),
       |sc AS (SELECT p.probe_id, e.vec_id AS cand_id,
       |    round($adcSum, 6) AS sim
       |  FROM enc e JOIN p USING (cell)
       |    $adcJoins
       |  WHERE p.probe_id <> e.vec_id),
       |sl AS (SELECT probe_id, cand_id FROM (
       |    SELECT probe_id, cand_id, row_number() OVER (
       |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
       |    FROM sc) WHERE rn <= ${k * refineFactor}),
       |ex AS (SELECT sl.probe_id, sl.cand_id,
       |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
       |  FROM sl JOIN pv USING (probe_id)
       |    JOIN n cn ON cn.vec_id = sl.cand_id),
       |rk AS (SELECT probe_id, cand_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk FROM ex)""".stripMargin
    (chain, adcSum, adcJoins)
  }

  private lazy val ivfPqOracleSql: String =
    ivfPqChainSql(k = 5, refineFactor = 8) +
      "\nSELECT probe_id, rk, cand_id, sim FROM rk WHERE rk <= 5" +
      "\nORDER BY probe_id, rk"

  /** q116's Okapi arithmetic — the 1.2 literal casts to DOUBLE before
    * the +1 so both engines add in binary; 0.25/0.75 are exact in
    * binary. The collapsed null-bucket count row mirrors the Spark
    * aggregate; the absent query term simply produces no df row on
    * either engine. Shared verbatim by q145 (store ≡ inline).
    */
  private lazy val bm25TopKOracleSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(text), '\s+')) AS t
      |  FROM documents),
      |cnt AS (SELECT doc_id,
      |    CASE WHEN t IN ('join', 'merge', 'scan', 'zzzabsent')
      |      THEN t END AS qt,
      |    count(*) AS n
      |  FROM tok GROUP BY 1, 2),
      |wd AS (SELECT doc_id, qt, n, sum(n) OVER (PARTITION BY doc_id)
      |    AS dl FROM cnt),
      |tf AS (SELECT * FROM wd WHERE qt IS NOT NULL),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |sca AS (SELECT nd, CAST(tl AS DOUBLE) / nd AS avgdl
      |  FROM (SELECT sum(n) AS tl FROM cnt) CROSS JOIN nd),
      |idf AS (SELECT qt, ln((nd - df + 0.5) / (df + 0.5) + 1) AS idf
      |  FROM (SELECT qt, count(*) AS df FROM tf GROUP BY qt)
      |  CROSS JOIN nd),
      |s AS (SELECT doc_id, round(sum(
      |    idf * (n * (CAST(1.2 AS DOUBLE) + 1)) /
      |    (n + CAST(1.2 AS DOUBLE) *
      |      (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl / avgdl))), 6) AS score
      |  FROM tf JOIN idf USING (qt) CROSS JOIN sca GROUP BY doc_id)
      |SELECT doc_id, score FROM s
      |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** q118's Okapi arithmetic with the probe table inlined as a VALUES
    * CTE; shared verbatim by q144 (the persisted-stats serving path must
    * answer exactly what the per-call tokenize answers) and as q163's
    * lexical leg. Query 3's terms are corpus-absent → no rows for it,
    * on both engines.
    */
  private def bm25PerQueryChainSqlFor(probeValues: String): String =
    "WITH probe(query_id, term) AS (VALUES\n    " +
      probeValues + "),\n" +
    """tok AS (SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(text), '\s+')) AS t
      |  FROM documents),
      |cnt AS (SELECT doc_id,
      |    CASE WHEN t IN (SELECT term FROM probe) THEN t END AS qt,
      |    count(*) AS n
      |  FROM tok GROUP BY 1, 2),
      |wd AS (SELECT doc_id, qt, n, sum(n) OVER (PARTITION BY doc_id)
      |    AS dl FROM cnt),
      |tf AS (SELECT * FROM wd WHERE qt IS NOT NULL),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |sca AS (SELECT nd, CAST(tl AS DOUBLE) / nd AS avgdl
      |  FROM (SELECT sum(n) AS tl FROM cnt) CROSS JOIN nd),
      |idf AS (SELECT qt, ln((nd - df + 0.5) / (df + 0.5) + 1) AS idf
      |  FROM (SELECT qt, count(*) AS df FROM tf GROUP BY qt)
      |  CROSS JOIN nd),
      |contrib AS (SELECT doc_id, qt,
      |    idf * (n * (CAST(1.2 AS DOUBLE) + 1)) /
      |    (n + CAST(1.2 AS DOUBLE) *
      |      (CAST(0.25 AS DOUBLE) +
      |        CAST(0.75 AS DOUBLE) * dl / avgdl)) AS c
      |  FROM tf JOIN idf USING (qt) CROSS JOIN sca),
      |s AS (SELECT p.query_id, c.doc_id, round(sum(c.c), 6) AS score
      |  FROM contrib c JOIN probe p ON c.qt = p.term GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS INT) AS "rank" FROM s)""".stripMargin

  private lazy val bm25PerQueryChainSql: String =
    bm25PerQueryChainSqlFor(fusionProbesValuesSql)

  private lazy val bm25PerQueryOracleSql: String =
    bm25PerQueryChainSql +
      "\nSELECT query_id, doc_id, score, \"rank\" FROM r" +
      "\nWHERE \"rank\" <= 5 ORDER BY query_id, \"rank\""

  /** q163: reciprocal-rank fusion of the q118 lexical ranking and a
    * q30-style cosine ranking probed at the SAME query ids — both legs
    * are the proven CTE families, so the only new arithmetic under test
    * is the fusion itself: weight/(60+rank) per leg, summed per
    * (query, id), rounded at 6 (two doubles — order-insensitive),
    * re-ranked (score DESC, id). Query 3's lexical terms are
    * corpus-absent, so its fusion is vector-only — the one-modality-
    * misses robustness case, exercised not just allowed.
    */
  /** The two q163 legs as CTEs (lex: BM25 top-5 per query; vec: exact
    * cosine top-5) — shared by the single-config fusion (q163), the
    * quality evaluation over it (q172), and the tuning grid (q176).
    */
  private lazy val hybridLegsCtesSql: String =
    bm25PerQueryChainSql + s""",
      |lex AS (SELECT query_id, doc_id AS id, "rank" AS lrank FROM r
      |  WHERE "rank" <= 5),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |vsc AS (SELECT p.vec_id AS query_id, c.vec_id AS id,
      |    round(list_cosine_similarity(p.emb, c.emb), 6) AS sim
      |  FROM e p JOIN e c ON p.vec_id IN ($fusionVecIdsSql)
      |    AND p.vec_id <> c.vec_id),
      |vec AS (SELECT query_id, id, vrank FROM (
      |    SELECT query_id, id, CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY sim DESC, id) AS INT) AS vrank
      |    FROM vsc) t
      |  WHERE vrank <= 5)""".stripMargin

  private lazy val hybridRrfChainSql: String =
    hybridLegsCtesSql + """,
      |uni AS (SELECT query_id, id,
      |    CAST(1 AS DOUBLE) / (60 + CAST(lrank AS DOUBLE)) AS c FROM lex
      |  UNION ALL SELECT query_id, id,
      |    CAST(1 AS DOUBLE) / (60 + CAST(vrank AS DOUBLE)) AS c FROM vec),
      |fus AS (SELECT query_id, id, round(sum(c), 6) AS rrf_score
      |  FROM uni GROUP BY 1, 2),
      |frk AS (SELECT query_id, id, rrf_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, id) AS INT) AS fused_rank FROM fus)""".stripMargin

  private lazy val hybridRrfOracleSql: String =
    hybridRrfChainSql + """
      |SELECT query_id, id, rrf_score, fused_rank FROM frk
      |WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin

  /** The [[fusionQrels]] fixture and the fixed nDCG discount table as
    * VALUES literals — generated from the SAME Scala values the Spark
    * operator uses, so literal parity is by construction, not by hand.
    */
  private lazy val fusionQrelsValuesSql: String =
    fusionQrels.map { case (q, id, rel) => s"($q, $id, $rel)" }
      .mkString(", ")

  private def ndcgDiscValuesSql(k: Int): String =
    RetrievalOps.ndcgDiscountsMicro(k).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, CAST($d AS BIGINT))" }
      .mkString(", ")

  /** q172: quality CTEs over the q163 fused chain — DCG/IDCG as exact
    * integer sums of gain·disc (the committed micro-discount table),
    * per-query metrics as ONE double division each, and the mean row
    * re-quantized with pure integer round-half-up division (DuckDB `//`
    * ≡ Spark `div` on positive integers) before its single division.
    */
  private lazy val rankingQualityOracleSql: String =
    hybridRrfChainSql + s""",
      |qrels(query_id, id, rel) AS (VALUES $fusionQrelsValuesSql),
      |disc(r, d) AS (VALUES ${ndcgDiscValuesSql(5)}),
      |relq AS (SELECT query_id, CAST(id AS BIGINT) AS id,
      |    CAST(rel AS BIGINT) AS rel FROM qrels WHERE rel > 0),
      |ideal AS (SELECT query_id, rel, CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY rel DESC, id) AS INT) AS irank
      |  FROM relq),
      |qa AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel,
      |    CAST(sum(CASE WHEN irank <= 5 THEN rel * d ELSE 0 END)
      |      AS BIGINT) AS idcg
      |  FROM ideal LEFT JOIN disc ON disc.r = ideal.irank GROUP BY 1),
      |top AS (SELECT f.query_id, f.id, f.fused_rank AS rk, q.rel
      |  FROM (SELECT query_id, id, fused_rank FROM frk
      |    WHERE fused_rank <= 5) f
      |  LEFT JOIN relq q USING (query_id, id)),
      |ra AS (SELECT query_id,
      |    CAST(sum(CASE WHEN rel IS NOT NULL THEN rel * d ELSE 0 END)
      |      AS BIGINT) AS dcg,
      |    CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rel_at_k,
      |    min(CASE WHEN rel IS NOT NULL THEN rk END) AS frk
      |  FROM top JOIN disc ON disc.r = top.rk GROUP BY 1),
      |met AS (SELECT qa.query_id, qa.n_rel,
      |    coalesce(ra.n_rel_at_k, 0) AS n_rel_at_k,
      |    coalesce(ra.dcg, 0) AS dcg, qa.idcg, ra.frk
      |  FROM qa LEFT JOIN ra USING (query_id)),
      |mq AS (SELECT query_id, n_rel, n_rel_at_k,
      |    round(CAST(n_rel_at_k AS DOUBLE) / n_rel, 6) AS recall_at_k,
      |    round(CAST(dcg AS DOUBLE) / idcg, 6) AS ndcg_at_k,
      |    CASE WHEN frk IS NULL THEN CAST(0 AS DOUBLE)
      |      ELSE round(CAST(1 AS DOUBLE) / frk, 6) END AS rr,
      |    (2000000 * n_rel_at_k + n_rel) // (2 * n_rel) AS rec_u,
      |    (2000000 * dcg + idcg) // (2 * idcg) AS ndcg_u,
      |    CASE WHEN frk IS NULL THEN 0
      |      ELSE (2000000 + frk) // (2 * frk) END AS rr_u
      |  FROM met)
      |SELECT query_id, n_rel, n_rel_at_k, recall_at_k, ndcg_at_k, rr
      |FROM mq
      |UNION ALL
      |SELECT -1, CAST(sum(n_rel) AS BIGINT),
      |  CAST(sum(n_rel_at_k) AS BIGINT),
      |  CAST((2 * sum(rec_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE),
      |  CAST((2 * sum(ndcg_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE),
      |  CAST((2 * sum(rr_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE)
      |FROM mq
      |ORDER BY query_id""".stripMargin

  private lazy val fusionGridValuesSql: String =
    fusionGrid.zipWithIndex.map { case ((kr, wa, wb), i) =>
      s"($i, $kr, CAST($wa AS DOUBLE), CAST($wb AS DOUBLE))"
    }.mkString(", ")

  /** q176: the q163 legs cross-joined with the committed config grid,
    * re-priced and re-ranked per configuration, judged by q172's
    * integer quality arithmetic per (config, query), then averaged per
    * config with the same micro-unit discipline.
    */
  /** The grid chain's CTE prefix through `mu` (per-(config, query)
    * exact micro metrics) — shared by the q176 grid report and the
    * q196 significance test so both judge IDENTICAL per-query numbers.
    */
  private lazy val fusionGridMuCtes: String =
    hybridLegsCtesSql + s""",
      |cfg(config_id, k_rrf, w_a, w_b) AS (VALUES $fusionGridValuesSql),
      |qrels(query_id, id, rel) AS (VALUES $fusionQrelsValuesSql),
      |disc(r, d) AS (VALUES ${ndcgDiscValuesSql(5)}),
      |cuni AS (SELECT config_id, k_rrf, w_a, w_b, query_id, id,
      |    w_a / (k_rrf + CAST(lrank AS DOUBLE)) AS c
      |  FROM lex CROSS JOIN cfg
      |  UNION ALL SELECT config_id, k_rrf, w_a, w_b, query_id, id,
      |    w_b / (k_rrf + CAST(vrank AS DOUBLE)) AS c
      |  FROM vec CROSS JOIN cfg),
      |cfus AS (SELECT config_id, k_rrf, w_a, w_b, query_id, id,
      |    round(sum(c), 6) AS rrf_score
      |  FROM cuni GROUP BY 1, 2, 3, 4, 5, 6),
      |cfrk AS (SELECT config_id, k_rrf, w_a, w_b, query_id, id,
      |    CAST(row_number() OVER (PARTITION BY config_id, query_id
      |      ORDER BY rrf_score DESC, id) AS INT) AS rk FROM cfus),
      |relq AS (SELECT query_id, CAST(id AS BIGINT) AS id,
      |    CAST(rel AS BIGINT) AS rel FROM qrels WHERE rel > 0),
      |qa AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel,
      |    CAST(sum(CASE WHEN irank <= 5 THEN rel * d ELSE 0 END)
      |      AS BIGINT) AS idcg
      |  FROM (SELECT query_id, rel, CAST(row_number() OVER (
      |        PARTITION BY query_id ORDER BY rel DESC, id) AS INT)
      |        AS irank FROM relq) i
      |  LEFT JOIN disc ON disc.r = i.irank GROUP BY 1),
      |ra AS (SELECT config_id, k_rrf, w_a, w_b, f.query_id,
      |    CAST(sum(CASE WHEN rel IS NOT NULL THEN rel * d ELSE 0 END)
      |      AS BIGINT) AS dcg,
      |    CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rel_at_k,
      |    min(CASE WHEN rel IS NOT NULL THEN f.rk END) AS frk
      |  FROM (SELECT * FROM cfrk WHERE rk <= 5) f
      |  JOIN disc ON disc.r = f.rk
      |  LEFT JOIN relq q ON q.query_id = f.query_id AND q.id = f.id
      |  GROUP BY 1, 2, 3, 4, 5),
      |shell AS (SELECT config_id, k_rrf, w_a, w_b, query_id, n_rel,
      |    idcg FROM cfg CROSS JOIN qa),
      |met AS (SELECT s.config_id, s.k_rrf, s.w_a, s.w_b, s.query_id,
      |    s.n_rel, s.idcg, coalesce(ra.n_rel_at_k, 0) AS n_rel_at_k,
      |    coalesce(ra.dcg, 0) AS dcg, ra.frk
      |  FROM shell s LEFT JOIN ra ON ra.config_id = s.config_id
      |    AND ra.query_id = s.query_id),
      |mu AS (SELECT config_id, k_rrf, w_a, w_b, query_id,
      |    (2000000 * n_rel_at_k + n_rel) // (2 * n_rel) AS rec_u,
      |    (2000000 * dcg + idcg) // (2 * idcg) AS ndcg_u,
      |    CASE WHEN frk IS NULL THEN 0
      |      ELSE (2000000 + frk) // (2 * frk) END AS rr_u
      |  FROM met)""".stripMargin

  private lazy val fusionQualityGridOracleSql: String =
    fusionGridMuCtes + """
      |SELECT config_id, k_rrf, w_a, w_b,
      |  CAST((2 * sum(ndcg_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS ndcg_at_k,
      |  CAST((2 * sum(rec_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS recall_at_k,
      |  CAST((2 * sum(rr_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS mrr
      |FROM mu GROUP BY 1, 2, 3, 4 ORDER BY config_id""".stripMargin

  /** q196's oracle: the shared per-(config, query) micro metrics,
    * paired into per-query nDCG deltas between the EQUAL-WEIGHTS
    * config (id 1: kRrf 60, 1/1) and the best SKEWED config by the
    * q176 grid (id 4: kRrf 60, 1/2), then the seeded sign-flip null —
    * the q185 discipline pointed at the fusion-weight conclusion.
    */
  private lazy val fusionDeltaSignificanceOracleSql: String =
    fusionGridMuCtes + s""",
      |dlt AS (SELECT a.query_id, CAST(a.ndcg_u - b.ndcg_u AS BIGINT) AS d
      |  FROM mu a JOIN mu b ON a.query_id = b.query_id
      |  WHERE a.config_id = 1 AND b.config_id = 4),
      |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
      |    CAST(count(*) AS BIGINT) AS n_queries FROM dlt),
      |prm AS (SELECT i FROM generate_series(0, ${MmrPermCountWide - 1})
      |  t(i)),
      |ti AS (SELECT i, CAST(sum(CASE WHEN
      |      CAST(('0x' || substr(md5('perm' || i || ':' || query_id),
      |        1, 8)) AS BIGINT) % 2 = 0
      |      THEN d ELSE -d END) AS BIGINT) AS t_i
      |  FROM prm CROSS JOIN dlt GROUP BY i)
      |SELECT obs.n_queries,
      |  CAST($MmrPermCountWide AS BIGINT) AS n_perms,
      |  obs.t_obs AS delta_sum_u,
      |  CAST(sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
      |  CAST(1 + sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(${MmrPermCountWide + 1} AS DOUBLE) AS p_value
      |FROM ti CROSS JOIN obs
      |GROUP BY obs.n_queries, obs.t_obs""".stripMargin

  /** q166: the hybrid fusion served entirely from PERSISTED stores —
    * lexical scores from the q144 stats store, vector ranks from the
    * q120 IVF-PQ index+vector stores. The oracle is the inline truth
    * both serving paths claim to equal: the q118 BM25 CTE chain fused
    * with the q115/q120 IVF-PQ chain (the SAME rank arithmetic the
    * store-backed operators must reproduce), so a stale or unfaithful
    * store on EITHER leg fails the one fused diff.
    */
  private lazy val hybridFromStoresOracleSql: String =
    ivfPqChainSql(k = 5,
        refineFactor = graft.ext.ServingConfig.annRefineFactor,
        nprobe = graft.ext.ServingConfig.annNprobe,
        probeBound = fusionVecProbeIds.max.toInt + 1) + ",\n" +
      bm25PerQueryChainSql.stripPrefix("WITH ") + s""",
      |lex AS (SELECT query_id, doc_id AS id, "rank" AS lrank FROM r
      |  WHERE "rank" <= 5),
      |vec AS (SELECT probe_id AS query_id, cand_id AS id, rk AS vrank
      |  FROM rk WHERE rk <= 5 AND probe_id IN ($fusionVecIdsSql)),
      |uni AS (SELECT query_id, id,
      |    CAST(${graft.ext.ServingConfig.legWeights(0)} AS DOUBLE) /
      |      (${graft.ext.ServingConfig.kRrf} + CAST(lrank AS DOUBLE))
      |      AS c FROM lex
      |  UNION ALL SELECT query_id, id,
      |    CAST(${graft.ext.ServingConfig.legWeights(1)} AS DOUBLE) /
      |      (${graft.ext.ServingConfig.kRrf} + CAST(vrank AS DOUBLE))
      |      AS c FROM vec),
      |fus AS (SELECT query_id, id, round(sum(c), 6) AS rrf_score
      |  FROM uni GROUP BY 1, 2),
      |frk AS (SELECT query_id, id, rrf_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, id) AS INT) AS fused_rank FROM fus)
      |SELECT query_id, id, rrf_score, fused_rank FROM frk
      |WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin

  /** q170: the shared classifier + merges CTEs bucketed fixed-width,
    * best-first cumulative sums over the ≤10 aggregate rows, one
    * division per share.
    */
  private lazy val budgetCurveOracleSql: String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |m2 AS (SELECT qz.doc_id,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz.score * 10) AS INT)))
       |      AS INT) AS bucket,
       |    dtok.n_tokens
       |  FROM qz JOIN dtok USING (doc_id)),
       |bb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM m2 GROUP BY bucket),
       |cc2 AS (SELECT bucket, n_docs, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(sum(n_tokens) OVER () AS BIGINT) AS tot FROM bb)
       |SELECT bucket, n_docs, n_tokens, cum_tokens,
       |  round(CAST(cum_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6)
       |    AS cum_share
       |FROM cc2 ORDER BY bucket DESC""".stripMargin

  /** q179: the shared classifier + merges CTEs bucketed per source,
    * the global best-first allocation as a window cum over the cell
    * histogram (full cells take mass, the crossing cell takes the
    * remainder, later cells 0 — pure integers), shares integer-rounded.
    */
  private lazy val budgetAllocationOracleSql: String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |cells AS (SELECT d.source AS src,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz.score * 10) AS INT)))
       |      AS INT) AS b,
       |    CAST(sum(dtok.n_tokens) AS BIGINT) AS mass
       |  FROM qz JOIN dtok USING (doc_id)
       |  JOIN documents d ON d.doc_id = qz.doc_id
       |  WHERE d.source IS NOT NULL
       |  GROUP BY 1, 2),
       |alloc AS (SELECT src, b, mass,
       |    sum(mass) OVER (ORDER BY b DESC, src
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM cells),
       |takes AS (SELECT src, b, mass,
       |    CASE WHEN cum <= 20000 THEN mass
       |         WHEN cum - mass < 20000 THEN 20000 - (cum - mass)
       |         ELSE 0 END AS take
       |  FROM alloc)
       |SELECT src AS source,
       |  CAST(sum(mass) AS BIGINT) AS avail_tokens,
       |  CAST(sum(take) AS BIGINT) AS alloc_tokens,
       |  CASE WHEN sum(mass) > 0 THEN
       |    CAST((2000000 * sum(take) + sum(mass)) // (2 * sum(mass))
       |      AS DOUBLE) / CAST(1000000 AS DOUBLE) END AS alloc_share,
       |  min(CASE WHEN take > 0 THEN b END) AS cut_bucket
       |FROM takes GROUP BY src ORDER BY src""".stripMargin

  /** q180: q179's allocation CTEs rolled up per source, then q161's
    * naive per-source window selection with the budget read FROM the
    * allocation — one chain proves allocation and enforcement composed.
    */
  private lazy val allocatedSelectionOracleSql: String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |cells AS (SELECT d.source AS src,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz.score * 10) AS INT)))
       |      AS INT) AS b,
       |    CAST(sum(dtok.n_tokens) AS BIGINT) AS mass
       |  FROM qz JOIN dtok USING (doc_id)
       |  JOIN documents d ON d.doc_id = qz.doc_id
       |  WHERE d.source IS NOT NULL
       |  GROUP BY 1, 2),
       |alloc AS (SELECT src, b, mass,
       |    sum(mass) OVER (ORDER BY b DESC, src
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM cells),
       |takes AS (SELECT src, b, mass,
       |    CASE WHEN cum <= 20000 THEN mass
       |         WHEN cum - mass < 20000 THEN 20000 - (cum - mass)
       |         ELSE 0 END AS take
       |  FROM alloc),
       |ab AS (SELECT src, CAST(sum(take) AS BIGINT) AS alloc
       |  FROM takes GROUP BY src),
       |m AS (SELECT qz.doc_id, d.source AS src, qz.score, dtok.n_tokens
       |  FROM qz JOIN dtok USING (doc_id)
       |  JOIN documents d ON d.doc_id = qz.doc_id
       |  WHERE d.source IS NOT NULL),
       |c AS (SELECT doc_id, src, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY src
       |    ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT c.doc_id, c.src AS source, c.score, c.n_tokens
       |FROM c JOIN ab ON ab.src = c.src AND ab.alloc > 0
       |WHERE c.cum <= ab.alloc
       |ORDER BY c.doc_id""".stripMargin

  /** q171: q65's pack CTEs rolled up per shard — exact integer fill
    * accounting, one division per ratio.
    */
  private lazy val packEfficiencyOracleSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |c AS (SELECT doc_id, shard, n_tok,
      |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum FROM d),
      |b AS (SELECT shard, doc_id, n_tok,
      |    CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512) AS INTEGER) AS bin
      |  FROM c),
      |bins AS (SELECT shard, bin, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(n_tok) AS BIGINT) AS nt
      |  FROM b GROUP BY shard, bin)
      |SELECT CAST(shard AS INTEGER) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_bins,
      |  CAST(sum(nd) AS BIGINT) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) * 512 AS BIGINT) AS capacity,
      |  round(CAST(sum(nt) AS DOUBLE) / CAST(count(*) * 512 AS DOUBLE), 6)
      |    AS fill_ratio,
      |  CAST(count(*) FILTER (WHERE nt > 512) AS BIGINT) AS overflow_bins
      |FROM bins GROUP BY shard ORDER BY shard""".stripMargin

  /** q168: the two q163 legs aggregated into the per-query agreement
    * report — exact integer counts, jaccard = one double division.
    */
  private lazy val legAgreementOracleSql: String =
    bm25PerQueryChainSql + s""",
      |lexm AS (SELECT query_id, doc_id AS id FROM r WHERE "rank" <= 5),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |vsc AS (SELECT p.vec_id AS query_id, c.vec_id AS id,
      |    round(list_cosine_similarity(p.emb, c.emb), 6) AS sim
      |  FROM e p JOIN e c ON p.vec_id IN ($fusionVecIdsSql)
      |    AND p.vec_id <> c.vec_id),
      |vecm AS (SELECT query_id, id FROM (
      |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, id) AS vrank FROM vsc) t
      |  WHERE vrank <= 5),
      |uni AS (SELECT query_id, id, 1 AS ia, 0 AS ib FROM lexm
      |  UNION ALL SELECT query_id, id, 0, 1 FROM vecm),
      |mrk AS (SELECT query_id, id, max(ia) AS ia, max(ib) AS ib
      |  FROM uni GROUP BY 1, 2)
      |SELECT query_id, CAST(sum(ia) AS BIGINT) AS n_a,
      |  CAST(sum(ib) AS BIGINT) AS n_b,
      |  CAST(sum(ia * ib) AS BIGINT) AS n_both,
      |  round(CAST(sum(ia * ib) AS DOUBLE) /
      |    CAST(sum(ia) + sum(ib) - sum(ia * ib) AS DOUBLE), 6) AS jaccard
      |FROM mrk GROUP BY query_id ORDER BY query_id""".stripMargin

  /** q169: both legs min-max-normalized per query, summed, re-ranked —
    * the q163 CTE families with the comb-family normalization instead
    * of rank reciprocals. Weight-1.0 multiplications are omitted (1·x
    * is bitwise x on both engines).
    */
  private lazy val scoreFusionOracleSql: String =
    bm25PerQueryChainSql + s""",
      |lexs AS (SELECT query_id, doc_id AS id, score FROM r
      |  WHERE "rank" <= 5),
      |lnorm AS (SELECT query_id, id, CASE WHEN mx = mn
      |    THEN CAST(1 AS DOUBLE) ELSE (score - mn) / (mx - mn) END AS c
      |  FROM (SELECT query_id, id, score,
      |      min(score) OVER (PARTITION BY query_id) AS mn,
      |      max(score) OVER (PARTITION BY query_id) AS mx FROM lexs) t),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |vsc AS (SELECT p.vec_id AS query_id, c.vec_id AS id,
      |    round(list_cosine_similarity(p.emb, c.emb), 6) AS sim
      |  FROM e p JOIN e c ON p.vec_id IN ($fusionVecIdsSql)
      |    AND p.vec_id <> c.vec_id),
      |vecs AS (SELECT query_id, id, sim AS score FROM (
      |    SELECT query_id, id, sim, row_number() OVER (
      |      PARTITION BY query_id ORDER BY sim DESC, id) AS vrank
      |    FROM vsc) t
      |  WHERE vrank <= 5),
      |vnorm AS (SELECT query_id, id, CASE WHEN mx = mn
      |    THEN CAST(1 AS DOUBLE) ELSE (score - mn) / (mx - mn) END AS c
      |  FROM (SELECT query_id, id, score,
      |      min(score) OVER (PARTITION BY query_id) AS mn,
      |      max(score) OVER (PARTITION BY query_id) AS mx FROM vecs) t),
      |uni AS (SELECT * FROM lnorm UNION ALL SELECT * FROM vnorm),
      |fus AS (SELECT query_id, id, round(sum(c), 6) AS fused_score
      |  FROM uni GROUP BY 1, 2),
      |frk AS (SELECT query_id, id, fused_score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY fused_score DESC, id) AS INT) AS fused_rank FROM fus)
      |SELECT query_id, id, fused_score, fused_rank FROM frk
      |WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin

  /** q164: the MMR greedy walk UNROLLED into one CTE per selection step
    * (k is a small literal, so the sequential dependence that makes MMR
    * imperative on the Spark side is just k chained CTEs here — no
    * recursive aggregate needed). Pool relevance and pairwise sims are
    * the q30 cosine arithmetic; each step joins the remaining candidates
    * to their max-sim-over-selected and picks the (score DESC, cand_id)
    * head. Decisions use the UNROUNDED score on both engines; output
    * rounds at 6 — mirroring [[graft.ext.SimilarityOps.mmrRerank]].
    */
  /** The unrolled MMR greedy walk, generic over its inputs: expects a
    * `rel` CTE (probe_id, cand_id, rel) and a `pp` CTE (probe_id, a, b,
    * psim) to already exist in the chain. Shared by q164 (exact-cosine
    * pool) and q167 (store-served IVF-PQ pool) — one arithmetic, two
    * pool providers.
    */
  private def mmrGreedySql(k: Int, lambda: Double = 0.5): String =
    mmrGreedyCtes(k, lambda) +
      s"\nSELECT probe_id, cand_id, round(score, 6) AS mmr_score," +
      s" mmr_rank FROM selu$k ORDER BY probe_id, mmr_rank"

  /** The walk's CTE chain alone (ending at `selu<k><tag>`), for oracles
    * that compose the walk into a LARGER chain (q178 judges it against
    * qrels; q182 runs THREE walks at different λ — `tag` keeps their
    * CTE names distinct, `lambda` must be exact-binary so both engines
    * carry the identical literal). Each step reads the previous
    * `selu` twice, so every `selu` but the last is `AS MATERIALIZED`:
    * DuckDB would otherwise inline the chain and re-expand it per
    * reference (q167's oracle ran out of memory that way).
    */
  private def mmrGreedyCtes(k: Int, lambda: Double = 0.5,
                            tag: String = ""): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val inv = s"CAST(${1.0 - lambda} AS DOUBLE)"
    def selu(i: Int) = s"selu$i$tag AS${if (i < k) " MATERIALIZED" else ""}"
    val head =
      s"""sel1$tag AS (SELECT probe_id, cand_id,
         |    $lam * rel AS score, 1 AS mmr_rank FROM (
         |    SELECT probe_id, cand_id, rel, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS rn
         |    FROM rel) t
         |  WHERE rn = 1),
         |${selu(1)} (SELECT * FROM sel1$tag)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""cand$i$tag AS (SELECT c.probe_id, c.cand_id,
         |    $lam * c.rel - $inv * m.mx
         |      AS score
         |  FROM rel c JOIN (
         |    SELECT pp.probe_id, pp.a AS cand_id, max(pp.psim) AS mx
         |    FROM pp JOIN selu${i - 1}$tag s
         |      ON pp.probe_id = s.probe_id AND pp.b = s.cand_id
         |    GROUP BY 1, 2) m
         |    ON c.probe_id = m.probe_id AND c.cand_id = m.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1}$tag s2
         |    WHERE s2.probe_id = c.probe_id
         |      AND s2.cand_id = c.cand_id)),
         |sel$i$tag AS (SELECT probe_id, cand_id, score, $i AS mmr_rank
         |  FROM (
         |    SELECT probe_id, cand_id, score, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY score DESC, cand_id) AS rn
         |    FROM cand$i$tag) t
         |  WHERE rn = 1),
         |${selu(i)} (SELECT * FROM selu${i - 1}$tag
         |  UNION ALL SELECT * FROM sel$i$tag)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def mmrPoolCtes(poolK: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |sc AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    round(list_cosine_similarity(p.emb, c.emb), 6) AS sim
       |  FROM e p JOIN e c ON p.vec_id < $MmrProbeCount AND p.vec_id <> c.vec_id),
       |rel AS (SELECT probe_id, cand_id, sim AS rel FROM (
       |    SELECT probe_id, cand_id, sim, row_number() OVER (
       |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rk
       |    FROM sc) t
       |  WHERE rk <= $poolK),
       |pp AS (SELECT r1.probe_id, r1.cand_id AS a, r2.cand_id AS b,
       |    round(list_cosine_similarity(ea.emb, eb.emb), 6) AS psim
       |  FROM rel r1 JOIN rel r2 ON r1.probe_id = r2.probe_id
       |    AND r1.cand_id <> r2.cand_id
       |  JOIN e ea ON ea.vec_id = r1.cand_id
       |  JOIN e eb ON eb.vec_id = r2.cand_id)""".stripMargin

  private def mmrOracleSql(poolK: Int, k: Int): String =
    mmrPoolCtes(poolK) + ",\n" + mmrGreedySql(k)

  private lazy val mmrRerankOracleSql: String = mmrOracleSql(poolK = 8, k = 4)

  /** q178: the shared pool + unrolled-greedy CTEs produce the MMR run,
    * the plain run re-ranks the SAME pool relevance, and both are
    * judged by q172's integer quality arithmetic with `ranking` carried
    * through the group keys (the q176 config-dimension pattern).
    */
  private lazy val mmrQualityDeltaOracleSql: String =
    mmrQualityMqCtes + s"""
      |SELECT probe_id, n_rel, n_rel_at_k, recall_at_k, ndcg_at_k, rr,
      |  ranking FROM mq
      |UNION ALL
      |SELECT -1, CAST(sum(n_rel) AS BIGINT),
      |  CAST(sum(n_rel_at_k) AS BIGINT),
      |  CAST((2 * sum(rec_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE),
      |  CAST((2 * sum(ndcg_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE),
      |  CAST((2 * sum(rr_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE),
      |  ranking
      |FROM mq GROUP BY ranking
      |ORDER BY ranking, probe_id""".stripMargin

  /** The q178 chain's CTE prefix through `mq` (per-(ranking, probe)
    * exact metrics) — shared by the q178 delta report and the q185
    * significance test so both judge the IDENTICAL per-probe numbers.
    */
  private lazy val mmrQualityMqCtes: String = {
    val qrelsVals = mmrQrels
      .map { case (p, c, r) => s"($p, $c, $r)" }.mkString(", ")
    mmrPoolCtes(8) + ",\n" + mmrGreedyCtes(4) + s""",
      |run_m AS (SELECT 'mmr' AS ranking, probe_id, cand_id,
      |    mmr_rank AS rk2 FROM selu4),
      |run_p AS (SELECT 'plain' AS ranking, probe_id, cand_id, rk2 FROM (
      |    SELECT probe_id, cand_id, CAST(row_number() OVER (
      |      PARTITION BY probe_id ORDER BY rel DESC, cand_id) AS INT)
      |      AS rk2 FROM rel) t
      |  WHERE rk2 <= 4),
      |runs AS (SELECT * FROM run_m UNION ALL SELECT * FROM run_p),
      |qrels(probe_id, cand_id, rel0) AS (VALUES $qrelsVals),
      |disc(r, d) AS (VALUES ${ndcgDiscValuesSql(4)}),
      |relq AS (SELECT CAST(probe_id AS BIGINT) AS probe_id,
      |    CAST(cand_id AS BIGINT) AS cand_id,
      |    CAST(rel0 AS BIGINT) AS rel0 FROM qrels WHERE rel0 > 0),
      |qa AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_rel,
      |    CAST(sum(CASE WHEN irank <= 4 THEN rel0 * d ELSE 0 END)
      |      AS BIGINT) AS idcg
      |  FROM (SELECT probe_id, rel0, CAST(row_number() OVER (
      |      PARTITION BY probe_id ORDER BY rel0 DESC, cand_id) AS INT)
      |      AS irank FROM relq) i
      |  LEFT JOIN disc ON disc.r = i.irank GROUP BY 1),
      |ra AS (SELECT ranking, rr2.probe_id,
      |    CAST(sum(CASE WHEN q.rel0 IS NOT NULL THEN q.rel0 * d
      |      ELSE 0 END) AS BIGINT) AS dcg,
      |    CAST(sum(CASE WHEN q.rel0 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rel_at_k,
      |    min(CASE WHEN q.rel0 IS NOT NULL THEN rr2.rk2 END) AS frk
      |  FROM runs rr2 JOIN disc ON disc.r = rr2.rk2
      |  LEFT JOIN relq q ON q.probe_id = rr2.probe_id
      |    AND q.cand_id = rr2.cand_id
      |  GROUP BY 1, 2),
      |shell AS (SELECT rnk.ranking, qa.* FROM
      |  (SELECT DISTINCT ranking FROM runs) rnk CROSS JOIN qa),
      |met AS (SELECT s.ranking, s.probe_id, s.n_rel, s.idcg,
      |    coalesce(ra.n_rel_at_k, 0) AS n_rel_at_k,
      |    coalesce(ra.dcg, 0) AS dcg, ra.frk
      |  FROM shell s LEFT JOIN ra ON ra.ranking = s.ranking
      |    AND ra.probe_id = s.probe_id),
      |mq AS (SELECT ranking, probe_id, n_rel, n_rel_at_k,
      |    round(CAST(n_rel_at_k AS DOUBLE) / n_rel, 6) AS recall_at_k,
      |    round(CAST(dcg AS DOUBLE) / idcg, 6) AS ndcg_at_k,
      |    CASE WHEN frk IS NULL THEN CAST(0 AS DOUBLE)
      |      ELSE round(CAST(1 AS DOUBLE) / frk, 6) END AS rr,
      |    (2000000 * n_rel_at_k + n_rel) // (2 * n_rel) AS rec_u,
      |    (2000000 * dcg + idcg) // (2 * idcg) AS ndcg_u,
      |    CASE WHEN frk IS NULL THEN 0
      |      ELSE (2000000 + frk) // (2 * frk) END AS rr_u
      |  FROM met)""".stripMargin
  }

  /** q185's oracle: the shared per-probe metric CTEs (`mq`), paired
    * into per-probe micro deltas, then the seeded sign-flip permutation
    * set as a bounded generate_series — each draw's sign per probe is
    * the md5 parity BOTH engines compute byte-identically (the langid
    * feature-hash discipline), the statistic is an exact integer sum,
    * and the p-value is the one final division.
    */
  private lazy val mmrDeltaSignificanceOracleSql: String =
    mmrQualityMqCtes + s""",
      |dlt AS (SELECT m.probe_id,
      |    CAST(round(m.ndcg_at_k * 1000000) AS BIGINT) -
      |      CAST(round(p.ndcg_at_k * 1000000) AS BIGINT) AS d
      |  FROM mq m JOIN mq p ON m.probe_id = p.probe_id
      |    AND m.ranking = 'mmr' AND p.ranking = 'plain'),
      |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
      |    CAST(count(*) AS BIGINT) AS n_probes FROM dlt),
      |prm AS (SELECT i FROM generate_series(0, ${MmrPermCountWide - 1})
      |  t(i)),
      |ti AS (SELECT i, CAST(sum(CASE WHEN
      |      CAST(('0x' || substr(md5('perm' || i || ':' || probe_id),
      |        1, 8)) AS BIGINT) % 2 = 0
      |      THEN d ELSE -d END) AS BIGINT) AS t_i
      |  FROM prm CROSS JOIN dlt GROUP BY i)
      |SELECT obs.n_probes,
      |  CAST($MmrPermCountWide AS BIGINT) AS n_perms,
      |  obs.t_obs AS delta_sum_u,
      |  CAST(sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
      |  CAST(1 + sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(${MmrPermCountWide + 1} AS DOUBLE) AS p_value
      |FROM ti CROSS JOIN obs
      |GROUP BY obs.n_probes, obs.t_obs""".stripMargin

  /** q167: the MMR walk over the STORE-SERVED IVF-PQ shortlist — the
    * chain's refined exact sims are the pool relevance (`rk <= poolK`),
    * pairwise diversity sims come from the raw embeddings, and the
    * greedy steps are the shared q164 unroll at the COMMITTED serving
    * λ ([[graft.ext.ServingConfig.mmrLambda]] — the q182 sweep winner,
    * carried here as the same exact-binary literal the query serves).
    * `rel` and `pp` are `AS MATERIALIZED` for the reason the walk's
    * `selu` steps are: each is read by every step.
    */
  private lazy val mmrFromStoreOracleSql: String =
    ivfPqChainSql(k = 8,
        refineFactor = graft.ext.ServingConfig.annRefineFactor,
        nprobe = graft.ext.ServingConfig.annNprobe) + s""",
      |me AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |rel AS MATERIALIZED (SELECT probe_id, cand_id, sim AS rel
      |  FROM rk WHERE rk <= 8),
      |pp AS MATERIALIZED (SELECT r1.probe_id, r1.cand_id AS a,
      |    r2.cand_id AS b,
      |    round(list_cosine_similarity(ea.emb, eb.emb), 6) AS psim
      |  FROM rel r1 JOIN rel r2 ON r1.probe_id = r2.probe_id
      |    AND r1.cand_id <> r2.cand_id
      |  JOIN me ea ON ea.vec_id = r1.cand_id
      |  JOIN me eb ON eb.vec_id = r2.cand_id)""".stripMargin +
      ",\n" + mmrGreedySql(4, graft.ext.ServingConfig.mmrLambda)

  /** q182: three tagged greedy walks at exact-binary λ over the SHARED
    * pool CTEs, each judged by q172's integer arithmetic with λ carried
    * through the group keys; only the per-λ mean rows survive.
    */
  private lazy val mmrLambdaSweepOracleSql: String = {
    val qrelsVals = mmrQrels
      .map { case (p, c, r) => s"($p, $c, $r)" }.mkString(", ")
    val lams = Seq((0.25, "_l25"), (0.5, "_l50"), (0.75, "_l75"))
    val chains = lams
      .map { case (l, t) => mmrGreedyCtes(4, l, t) }.mkString(",\n")
    val runUnion = lams.map { case (l, t) =>
      s"""SELECT CAST($l AS DOUBLE) AS lambda, probe_id, cand_id,
         |    mmr_rank AS rk2 FROM selu4$t""".stripMargin
    }.mkString("\n  UNION ALL ")
    mmrPoolCtes(8) + ",\n" + chains + s""",
      |runs AS ($runUnion),
      |qrels(probe_id, cand_id, rel0) AS (VALUES $qrelsVals),
      |disc(r, d) AS (VALUES ${ndcgDiscValuesSql(4)}),
      |relq AS (SELECT CAST(probe_id AS BIGINT) AS probe_id,
      |    CAST(cand_id AS BIGINT) AS cand_id,
      |    CAST(rel0 AS BIGINT) AS rel0 FROM qrels WHERE rel0 > 0),
      |qa AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_rel,
      |    CAST(sum(CASE WHEN irank <= 4 THEN rel0 * d ELSE 0 END)
      |      AS BIGINT) AS idcg
      |  FROM (SELECT probe_id, rel0, CAST(row_number() OVER (
      |      PARTITION BY probe_id ORDER BY rel0 DESC, cand_id) AS INT)
      |      AS irank FROM relq) i
      |  LEFT JOIN disc ON disc.r = i.irank GROUP BY 1),
      |ra AS (SELECT lambda, rr2.probe_id,
      |    CAST(sum(CASE WHEN q.rel0 IS NOT NULL THEN q.rel0 * d
      |      ELSE 0 END) AS BIGINT) AS dcg,
      |    CAST(sum(CASE WHEN q.rel0 IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rel_at_k,
      |    min(CASE WHEN q.rel0 IS NOT NULL THEN rr2.rk2 END) AS frk
      |  FROM runs rr2 JOIN disc ON disc.r = rr2.rk2
      |  LEFT JOIN relq q ON q.probe_id = rr2.probe_id
      |    AND q.cand_id = rr2.cand_id
      |  GROUP BY 1, 2),
      |shell AS (SELECT lams.lambda, qa.* FROM
      |  (SELECT DISTINCT lambda FROM runs) lams CROSS JOIN qa),
      |met AS (SELECT s.lambda, s.probe_id, s.n_rel, s.idcg,
      |    coalesce(ra.n_rel_at_k, 0) AS n_rel_at_k,
      |    coalesce(ra.dcg, 0) AS dcg, ra.frk
      |  FROM shell s LEFT JOIN ra ON ra.lambda = s.lambda
      |    AND ra.probe_id = s.probe_id),
      |mu AS (SELECT lambda, probe_id, n_rel, n_rel_at_k,
      |    (2000000 * n_rel_at_k + n_rel) // (2 * n_rel) AS rec_u,
      |    (2000000 * dcg + idcg) // (2 * idcg) AS ndcg_u,
      |    CASE WHEN frk IS NULL THEN 0
      |      ELSE (2000000 + frk) // (2 * frk) END AS rr_u
      |  FROM met)
      |SELECT lambda, CAST(sum(n_rel) AS BIGINT) AS n_rel,
      |  CAST(sum(n_rel_at_k) AS BIGINT) AS n_rel_at_k,
      |  CAST((2 * sum(rec_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS recall_at_k,
      |  CAST((2 * sum(ndcg_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS ndcg_at_k,
      |  CAST((2 * sum(rr_u) + count(*)) // (2 * count(*)) AS DOUBLE) /
      |    CAST(1000000 AS DOUBLE) AS rr
      |FROM mu GROUP BY lambda ORDER BY lambda""".stripMargin
  }

  /** q136: recall@5 of the q115/q117 approximate answer against the
    * exact brute-force top-5 — the chain's `rk` CTE is the approximate
    * side, `bfr` ranks every (probe, candidate) pair exactly with the
    * same rounded-sim/(sim DESC, cand_id) discipline, and the left join
    * counts overlaps. Both rankings are deterministic, so the per-probe
    * hit counts hash-match.
    */
  private lazy val annRecallOracleSql: String =
    ivfPqChainSql(k = 5, refineFactor = 8) +
      s""",
         |bf AS (SELECT pv.probe_id, cn.vec_id AS cand_id,
         |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
         |  FROM pv, n cn WHERE cn.vec_id <> pv.probe_id),
         |bfr AS (SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
         |    FROM bf) t WHERE rn <= 5),
         |ap AS (SELECT probe_id, cand_id FROM rk WHERE rk <= 5)
         |SELECT b.probe_id, CAST(count(a.cand_id) AS INTEGER) AS n_hit,
         |  round(count(a.cand_id) / 5.0, 6) AS recall_at_k
         |FROM bfr b LEFT JOIN ap a
         |  ON a.probe_id = b.probe_id AND a.cand_id = b.cand_id
         |GROUP BY b.probe_id
         |ORDER BY b.probe_id""".stripMargin

  /** q137: the q136 recall comparison swept over nprobe — the chain's
    * `pcand` CTE already ranks EVERY cell per probe, so the sweep
    * re-scores with the sweep axis joined on `crk <= np` (the scoring
    * CTE is rebuilt from the exposed adcSum/adcJoins parts with the
    * extra dimension), shortlists and re-ranks per (np, probe), and
    * counts overlaps against the single exact baseline.
    */
  private lazy val annRecallSweepOracleSql: String = {
    val (chain, adcSum, adcJoins) = ivfPqChainParts(k = 5, refineFactor = 8)
    chain +
      s""",
         |sw(np) AS (VALUES (1), (3), (10)),
         |ssc AS (SELECT sw.np, p.probe_id, e.vec_id AS cand_id,
         |    round($adcSum, 6) AS sim
         |  FROM enc e JOIN pcand p USING (cell)
         |    JOIN sw ON p.crk <= sw.np
         |    $adcJoins
         |  WHERE p.probe_id <> e.vec_id),
         |ssl AS (SELECT np, probe_id, cand_id FROM (
         |    SELECT np, probe_id, cand_id, row_number() OVER (
         |      PARTITION BY np, probe_id ORDER BY sim DESC, cand_id) AS rn
         |    FROM ssc) t WHERE rn <= 40),
         |sex AS (SELECT ssl.np, ssl.probe_id, ssl.cand_id,
         |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
         |  FROM ssl JOIN pv USING (probe_id)
         |    JOIN n cn ON cn.vec_id = ssl.cand_id),
         |srk AS (SELECT np, probe_id, cand_id, row_number() OVER (
         |    PARTITION BY np, probe_id ORDER BY sim DESC, cand_id) AS rk
         |  FROM sex),
         |bf AS (SELECT pv.probe_id, cn.vec_id AS cand_id,
         |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
         |  FROM pv, n cn WHERE cn.vec_id <> pv.probe_id),
         |bfr AS (SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
         |    FROM bf) t WHERE rn <= 5),
         |ap AS (SELECT np, probe_id, cand_id FROM srk WHERE rk <= 5)
         |SELECT CAST(sw.np AS INTEGER) AS nprobe, b.probe_id,
         |  CAST(count(a.cand_id) AS INTEGER) AS n_hit,
         |  round(count(a.cand_id) / 5.0, 6) AS recall_at_k
         |FROM sw CROSS JOIN bfr b LEFT JOIN ap a
         |  ON a.np = sw.np AND a.probe_id = b.probe_id
         |    AND a.cand_id = b.cand_id
         |GROUP BY sw.np, b.probe_id
         |ORDER BY nprobe, b.probe_id""".stripMargin
  }

  /** q139: the q137 sweep machinery with the refine-factor axis — the
    * shortlist CTE ranks once at max rf carrying `rn`, each rf point
    * slices `rn <= 5·rf` before the per-(np, rf, probe) exact re-rank;
    * the exact baseline crosses both axes.
    */
  private lazy val annRecallGridOracleSql: String = {
    val (chain, adcSum, adcJoins) = ivfPqChainParts(k = 5, refineFactor = 8)
    chain +
      s""",
         |sw(np) AS (VALUES (3), (10)),
         |rfs(rf) AS (VALUES (2), (8), (32)),
         |ssc AS (SELECT sw.np, p.probe_id, e.vec_id AS cand_id,
         |    round($adcSum, 6) AS sim
         |  FROM enc e JOIN pcand p USING (cell)
         |    JOIN sw ON p.crk <= sw.np
         |    $adcJoins
         |  WHERE p.probe_id <> e.vec_id),
         |ssl AS (SELECT np, probe_id, cand_id, rn FROM (
         |    SELECT np, probe_id, cand_id, row_number() OVER (
         |      PARTITION BY np, probe_id ORDER BY sim DESC, cand_id) AS rn
         |    FROM ssc) t WHERE rn <= ${5 * 32}),
         |sex AS (SELECT ssl.np, ssl.probe_id, ssl.cand_id, ssl.rn,
         |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
         |  FROM ssl JOIN pv USING (probe_id)
         |    JOIN n cn ON cn.vec_id = ssl.cand_id),
         |srk AS (SELECT np, rf, probe_id, cand_id, row_number() OVER (
         |    PARTITION BY np, rf, probe_id ORDER BY sim DESC, cand_id)
         |      AS rk
         |  FROM sex JOIN rfs ON sex.rn <= rfs.rf * 5),
         |bf AS (SELECT pv.probe_id, cn.vec_id AS cand_id,
         |    round(list_dot_product(pv.pu, cn.u), 6) AS sim
         |  FROM pv, n cn WHERE cn.vec_id <> pv.probe_id),
         |bfr AS (SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id, row_number() OVER (
         |      PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
         |    FROM bf) t WHERE rn <= 5),
         |ap AS (SELECT np, rf, probe_id, cand_id FROM srk WHERE rk <= 5)
         |SELECT CAST(sw.np AS INTEGER) AS nprobe,
         |  CAST(rfs.rf AS INTEGER) AS refine_factor, b.probe_id,
         |  CAST(count(a.cand_id) AS INTEGER) AS n_hit,
         |  round(count(a.cand_id) / 5.0, 6) AS recall_at_k
         |FROM sw CROSS JOIN rfs CROSS JOIN bfr b LEFT JOIN ap a
         |  ON a.np = sw.np AND a.rf = rfs.rf AND a.probe_id = b.probe_id
         |    AND a.cand_id = b.cand_id
         |GROUP BY sw.np, rfs.rf, b.probe_id
         |ORDER BY nprobe, refine_factor, b.probe_id""".stripMargin
  }

  /** q138: one centroid-literal assignment (the q104 argmax CTE, ties →
    * lowest cell) serves BOTH sides — the index slice (%5≠3) carries its
    * build-time cell, the current corpus view (%7≠0) its expected cell —
    * then the full-outer reconciliation counts per cell exactly like the
    * operator.
    */
  private lazy val annStalenessOracleSql: String = {
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u FROM e),
       |cents(cell, c) AS (VALUES $centRows),
       |asg AS (SELECT vec_id, cell FROM (
       |  SELECT n.vec_id, cents.cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell)
       |        AS rn
       |    FROM n, cents) t WHERE rn = 1),
       |idx AS (SELECT vec_id, cell AS indexed_cell FROM asg
       |  WHERE vec_id % 5 <> 3),
       |cur AS (SELECT vec_id, cell AS expected_cell FROM asg
       |  WHERE vec_id % 7 <> 0),
       |j AS (SELECT coalesce(i.indexed_cell, c.expected_cell) AS cell,
       |    i.indexed_cell, c.expected_cell
       |  FROM cur c FULL OUTER JOIN idx i USING (vec_id))
       |SELECT cell,
       |  CAST(sum(CASE WHEN indexed_cell IS NOT NULL
       |      AND expected_cell IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_indexed,
       |  CAST(sum(CASE WHEN indexed_cell IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_missing,
       |  CAST(sum(CASE WHEN expected_cell IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_orphaned,
       |  CAST(sum(CASE WHEN indexed_cell IS NOT NULL
       |      AND expected_cell IS NOT NULL
       |      AND indexed_cell <> expected_cell THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_cell_mismatch
       |FROM j GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** q122: the q121 band semantics over the ivfPqChainSql fetch — the
    * chain runs at (kFetch=40, rf=4), then the band filter and the final
    * re-rank mirror [[graft.ext.SimilarityOps.hardNegativesFromStore]]
    * exactly (filter on the rounded exact sim, rank by sim DESC with
    * neg_id tiebreak).
    */
  private lazy val hardNegAnnOracleSql: String =
    ivfPqChainSql(k = 40, refineFactor = 4) +
      s""",
         |band AS (SELECT probe_id AS anchor_id, cand_id AS neg_id, sim
         |  FROM rk WHERE rk <= 40 AND sim >= 0.15 AND sim < 0.6),
         |hr AS (SELECT anchor_id, neg_id, sim,
         |    CAST(row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY sim DESC, neg_id) AS INTEGER) AS rk FROM band)
         |SELECT anchor_id, rk, neg_id, sim FROM hr WHERE rk <= 5
         |ORDER BY anchor_id, rk""".stripMargin

  /** q126: the q124 triple derivation over the ivfPqChainSql fetch —
    * the chain runs at (kFetch=40, rf=4) exactly like q122, then the
    * pos/neg CTEs mirror q124's, restricted to the fetched top-40 set
    * (survivors of the negLo floor): positive = rn 1 of the fetched
    * survivors when ≥ posMin, negatives = band top-3.
    */
  private lazy val contrastiveTriplesAnnOracleSql: String =
    ivfPqChainSql(k = 40, refineFactor = 4) +
      s""",
         |surv AS (SELECT probe_id AS anchor_id, cand_id, sim
         |  FROM rk WHERE rk <= 40 AND sim >= 0.15),
         |pos AS (SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim
         |  FROM (SELECT anchor_id, cand_id, sim,
         |      row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY sim DESC, cand_id) AS rn FROM surv) t
         |  WHERE rn = 1 AND sim >= 0.35),
         |neg AS (SELECT anchor_id, rk, cand_id AS neg_id, sim AS neg_sim
         |  FROM (SELECT anchor_id, cand_id, sim,
         |      CAST(row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY sim DESC, cand_id) AS INTEGER) AS rk
         |    FROM surv WHERE sim < 0.3) t
         |  WHERE rk <= 3)
         |SELECT p.anchor_id, p.pos_id, p.pos_sim, g.rk, g.neg_id, g.neg_sim
         |FROM pos p JOIN neg g USING (anchor_id)
         |ORDER BY p.anchor_id, g.rk""".stripMargin

  /** q104: the committed centroid literals again — nearest-cell argmax
    * (ties to the lowest cell, like q31's `rn = 1`), rounded own-centroid
    * sim, within-cell pair scoring, recursive transitive closure (the q85
    * hash-min twin), then the SemDeDup keep rule: per component,
    * row_number over (csim ASC, vec_id ASC) = 1. All ordering inputs are
    * rounded to 6 digits on BOTH sides before they feed a rank.
    */
  private lazy val semanticDedupOracleSql: String = {
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u FROM e),
       |cents(cell, c) AS (VALUES $centRows),
       |asg AS (SELECT vec_id, u, cell, csim FROM (
       |  SELECT n.vec_id, n.u, cents.cell,
       |      round(list_dot_product(n.u, cents.c), 6) AS csim,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell) AS rn
       |    FROM n, cents) WHERE rn = 1),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.u, b.u), 6) >= 0.3),
       |ed AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |  UNION SELECT vec_id, vec_id FROM asg),
       |rr(a, b) AS (
       |  SELECT a, b FROM ed
       |  UNION
       |  SELECT rr.a, ed.b FROM rr JOIN ed ON rr.b = ed.a),
       |cmp AS (SELECT a AS vec_id, min(b) AS comp FROM rr GROUP BY a),
       |ranked AS (SELECT cmp.vec_id, asg.cell, asg.csim, cmp.comp,
       |    row_number() OVER (PARTITION BY cmp.comp
       |      ORDER BY asg.csim ASC, cmp.vec_id ASC) AS rk
       |  FROM cmp JOIN asg USING (vec_id))
       |SELECT vec_id, cell, csim, comp, rk = 1 AS keep FROM ranked
       |ORDER BY vec_id""".stripMargin
  }

  /** q106: assignment from the same centroid literals on BOTH the batch
    * and corpus sides (recomputed from raw — the persisted cell-partitioned
    * store's faithfulness is exactly what the diff proves), cell equi-join,
    * rounded cosine gate, per-batch-row neighbor count.
    */
  private lazy val incrementalSemanticOracleSql: String = {
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u FROM e),
       |cents(cell, c) AS (VALUES $centRows),
       |asg AS (SELECT vec_id, u, cell FROM (
       |  SELECT n.vec_id, n.u, cents.cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell) AS rn
       |    FROM n, cents) WHERE rn = 1),
       |b AS (SELECT * FROM asg WHERE vec_id % 3 = 0),
       |s AS (SELECT * FROM asg WHERE vec_id % 3 <> 0),
       |sc AS (SELECT b.vec_id, count(*) AS n_dups
       |  FROM b JOIN s ON b.cell = s.cell
       |  WHERE round(list_dot_product(b.u, s.u), 6) >= 0.3
       |  GROUP BY b.vec_id)
       |SELECT b.vec_id, coalesce(sc.n_dups, 0) AS n_dups,
       |  coalesce(sc.n_dups, 0) > 0 AS dup
       |FROM b LEFT JOIN sc USING (vec_id)
       |ORDER BY b.vec_id""".stripMargin
  }

  /** q74: same literal planes, directed bucket self-join + per-source
    * top-k rank (ties on the rounded sim break by dst in both engines).
    */
  private lazy val knnGraphOracleSql: String =
    s"""WITH $lshBandCtes,
       |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    a.u AS ua, b.u AS ub
       |  FROM bd a JOIN bd b ON a.i = b.i AND a.bv = b.bv
       |    AND a.vec_id <> b.vec_id),
       |sc AS (SELECT DISTINCT src, dst,
       |    round(list_dot_product(ua, ub), 6) AS sim FROM cand),
       |rk AS (SELECT src, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst) AS INTEGER) AS rk FROM sc)
       |SELECT src, rk, dst, sim FROM rk WHERE rk <= 3
       |ORDER BY src, rk""".stripMargin

  /** q75: the full embedding-curation chain under one statement — the
    * shared-plane band CTEs, the >=0.45 prune, survivor-only density, and
    * the q66 int8 fragments, all over the SAME literals the Spark
    * operators use.
    */
  private lazy val embedCurationOracleSql: String =
    s"""WITH $lshBandCtes,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.u AS ua, b.u AS ub
       |  FROM bd a JOIN bd b ON a.i = b.i AND a.bv = b.bv
       |    AND a.vec_id < b.vec_id),
       |sc AS (SELECT DISTINCT id_a, id_b,
       |    round(list_dot_product(ua, ub), 6) AS sim FROM cand),
       |dropids AS (SELECT DISTINCT id_b AS vec_id FROM sc WHERE sim >= 0.45),
       |surv AS (SELECT n.vec_id, n.u FROM n LEFT JOIN dropids USING (vec_id)
       |  WHERE dropids.vec_id IS NULL),
       |bd2 AS (SELECT bd.* FROM bd JOIN surv USING (vec_id)),
       |cand2 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.u AS ua, b.u AS ub
       |  FROM bd2 a JOIN bd2 b ON a.i = b.i AND a.bv = b.bv
       |    AND a.vec_id < b.vec_id),
       |sc2 AS (SELECT DISTINCT id_a, id_b,
       |    round(list_dot_product(ua, ub), 6) AS sim FROM cand2),
       |pr AS (SELECT id_a, id_b FROM sc2 WHERE sim >= 0.3),
       |deg AS (SELECT vec_id, count(*) AS density FROM (
       |    SELECT id_a AS vec_id FROM pr
       |    UNION ALL SELECT id_b FROM pr) GROUP BY vec_id),
       |qs AS (SELECT e.vec_id,
       |    coalesce(list_max([abs(x) for x in e.emb]), 0) / 127 AS scale,
       |    e.emb AS emb FROM e JOIN surv ON e.vec_id = surv.vec_id),
       |qerr AS (SELECT vec_id, scale, len(emb) AS nn,
       |    CASE WHEN scale > 0 THEN
       |      [abs(floor(x / scale + 0.5) * scale - x) for x in emb]
       |    END AS er FROM qs)
       |SELECT q.vec_id,
       |  CAST(coalesce(deg.density, 0) AS BIGINT) AS density,
       |  round(q.scale, 8) AS scale,
       |  CASE WHEN q.scale > 0
       |    THEN round(sqrt(list_dot_product(q.er, q.er) / q.nn), 8)
       |    ELSE 0.0 END AS rmse
       |FROM qerr q LEFT JOIN deg USING (vec_id)
       |ORDER BY q.vec_id""".stripMargin

  /** q60: same literal planes, bucket self-join instead of probe top-k. */
  private lazy val lshNearDupOracleSql: String =
    s"""WITH $lshBandCtes,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.u AS ua, b.u AS ub
       |  FROM bd a JOIN bd b ON a.i = b.i AND a.bv = b.bv
       |    AND a.vec_id < b.vec_id),
       |sc AS (SELECT DISTINCT id_a, id_b,
       |    round(list_dot_product(ua, ub), 6) AS sim FROM cand)
       |SELECT id_a, id_b, sim FROM sc WHERE sim >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** q59: quality formula (mirroring q22's double-rounding exactly), exact
    * dedup keep set, the MinHash pair CTEs scoped to the kept subset,
    * recursive closure, and the stratified-sample coin — all in one
    * statement.
    */
  private lazy val cleanCorpusOracleSql: String =
    s"""WITH RECURSIVE
       |q0 AS (SELECT doc_id, lang, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |q1 AS (SELECT doc_id, lang, text, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM q0),
       |q2 AS (SELECT doc_id, lang, text, toks,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality
       |  FROM q1),
       |qual AS (SELECT * FROM q2 WHERE quality >= 0.5),
       |keepx AS (SELECT min(doc_id) AS doc_id FROM qual
       |  GROUP BY md5(array_to_string(toks, ' '))),
       |base AS (SELECT q.* FROM qual q JOIN keepx USING (doc_id)),
       |${minHashPairCtes(source = "base")},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |dropids AS (SELECT a AS id FROM rr GROUP BY a HAVING min(b) < a)
       |SELECT b.doc_id, b.lang, b.quality FROM base b
       |LEFT JOIN dropids ON b.doc_id = dropids.id
       |WHERE dropids.id IS NULL
       |  AND CAST(('0x' || substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 1))
       |    AS INTEGER) <
       |  CASE b.lang WHEN 'en' THEN 8 WHEN 'de' THEN 16 WHEN 'fr' THEN 16
       |    ELSE 4 END
       |ORDER BY b.doc_id""".stripMargin

  /** q95's recipe, shared by the Spark query and the oracle generator so
    * the two can't drift: share·budget is multiplied ONCE here in driver
    * Scala and interpolated into both sides as a literal — the engines
    * then perform the identical IEEE division literal/avail, giving
    * bitwise-equal rates (cross-engine float-op ORDERING is the hazard,
    * not float math itself).
    */
  /** q127's budget — a LITERAL (not a fraction of the corpus), so the
    * selection is the same spec at any SF: ≈44% of sf0.01's tokens, ≈4%
    * of sf0.1's, exercising a mid-corpus boundary bucket either way.
    */
  private[graft] val TokenBudget: Long = 12000L

  /** q150's budget, priced in LEARNED subword tokens (≥ the whitespace
    * count: fused words cost 1, rarer words split) — interior at both
    * SFs like [[TokenBudget]].
    */
  private[graft] val SubwordBudget: Long = 14000L

  /** q153's budget — interior under the classifier-scored subword
    * pricing at both SFs.
    */
  private[graft] val LearnedGateBudget: Long = 8000L

  /** q155/q158's budget — interior to the LEARNED chain's surviving
    * token mass at BOTH SFs (measured: the decontaminated survivors
    * carry 8,485 subword tokens at sf0.01 but only 1,148 at sf0.1 —
    * the 10× eval slice bans far more 3-grams — so the budget sits
    * below the smaller mass and exercises a boundary bucket either way).
    */
  private[graft] val LearnedRecipeBudget: Long = 800L

  /** q133's per-source token targets: src0 = several full epochs + a
    * remainder prefix at sf0.01, src1/src3 = sub-epoch prefixes, src2 = 0
    * (scheduled but unused). Literals, so the regimes shift with SF —
    * at sf0.1 src0 becomes a sub-epoch prefix too, all still exact.
    */
  private[graft] val RepTargets: Map[String, Long] =
    Map("src0" -> 3500L, "src1" -> 800L, "src2" -> 0L, "src3" -> 1400L)

  /** q130's token budget — interior at sf0.01 (27k total tokens) so the
    * big sources are genuinely rate-limited while the α=0.5 boost can
    * push a small source toward (or into) the keep-all clamp.
    */
  private[graft] val TempMixBudget: Long = 6000L

  private[graft] val MixTargets: Map[String, Double] =
    Map("src0" -> 0.25, "src1" -> 0.15, "src2" -> 0.10, "src3" -> 0.50)
  private[graft] val MixBudget: Long = 3000L

  // q94's epoch parameters — shared with ScaleCurve (the registered-chain
  // rule: a retune changes the oracle-checked query and the measurement
  // together)
  private[graft] val EpochSeed: Long = 7L
  private[graft] val EpochShards: Int = 8

  /** q127's oracle is deliberately the NAIVE spec — one window over the
    * global (score DESC, doc_id) order — while the Spark side runs the
    * bucket-histogram threshold + boundary-only window: a green row is a
    * differential proof the scale-shaped plan computes the same prefix.
    * Quality/token CTEs are q59's verbatim.
    */
  /** q148's per-source budgets: src0/src2 partial prefixes, src1 fits
    * entirely, srcX absent from the data — every branch of the operator
    * exercised. Shared by the query and the oracle CASE.
    */
  private[graft] val SourceBudgets: Map[String, Long] =
    Map("src0" -> 800L, "src1" -> 500000L, "src2" -> 300L, "srcX" -> 10L)

  private lazy val budgetBySourceOracleSql: String = {
    val inList = SourceBudgets.keys.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    val caseArms = SourceBudgets.toSeq.sortBy(_._1)
      .map { case (s, b) => s"WHEN '$s' THEN $b" }.mkString(" ")
    s"""WITH q0 AS (SELECT doc_id, source, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE source IN ($inList)),
       |q1 AS (SELECT doc_id, source, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM q0),
       |q2 AS (SELECT doc_id, source,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS score,
       |  CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM q1),
       |c AS (SELECT doc_id, source, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM q2)
       |SELECT doc_id, source, score, n_tokens FROM c
       |WHERE cum <= CASE source $caseArms END
       |ORDER BY doc_id""".stripMargin
  }

  private lazy val tokenBudgetOracleSql: String =
    s"""WITH q0 AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |q1 AS (SELECT doc_id, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM q0),
       |q2 AS (SELECT doc_id,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS score,
       |  CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM q1),
       |c AS (SELECT doc_id, score, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM q2)
       |SELECT doc_id, score, n_tokens FROM c WHERE cum <= $TokenBudget
       |ORDER BY doc_id""".stripMargin

  /** q151's oracle: the committed classifier as a SQL dot product — see
    * the oracle-map comment at the registration site.
    */
  private lazy val qualityLrOracleSql: String = {
    val wRows = graft.ext.QualityLrWeights.weights.zipWithIndex
      .map { case (v, i) => s"($i, $v)" }.mkString(",\n    ")
    val bias = graft.ext.QualityLrWeights.bias
    val nb = graft.ext.QualityLrWeights.nBuckets
    s"""WITH w(b, wt) AS (VALUES
       |    $wRows),
       |d AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(toks ||
       |    [array_to_string(toks[i:i+1], ' ')
       |     for i in generate_series(1, len(toks) - 1)]) AS g
       |  FROM d),
       |db AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $nb AS b,
       |    count(*) AS n
       |  FROM g GROUP BY 1, 2),
       |z AS (SELECT doc_id, sum(n * wt) / sum(n) AS zz
       |  FROM db JOIN w USING (b) GROUP BY doc_id)
       |SELECT dd.doc_id,
       |  CASE WHEN dd.text IS NOT NULL THEN
       |    round(1.0 / (1.0 + exp(-(coalesce(zz, 0.0) + $bias))), 6)
       |  END AS score,
       |  CASE WHEN dd.text IS NOT NULL THEN
       |    round(1.0 / (1.0 + exp(-(coalesce(zz, 0.0) + $bias))), 6)
       |      >= ${graft.ext.CalibrationMaps.gateRawCut}
       |  END AS is_quality
       |FROM documents dd LEFT JOIN z USING (doc_id)
       |ORDER BY dd.doc_id""".stripMargin
  }

  /** q175: q151's score chain bucketed fixed-width over the labeled
    * slice — integer micro-sums per bucket, the exact integer gap
    * numerator |Σmicro − 10⁶·n_pos|, integer-rounded ratios (`//` ≡
    * Spark `div`), and ECE as the plain integer gap sum over 10⁶·N.
    */
  private lazy val calibrationReportOracleSql: String = {
    val wRows = graft.ext.QualityLrWeights.weights.zipWithIndex
      .map { case (v, i) => s"($i, $v)" }.mkString(",\n    ")
    val bias = graft.ext.QualityLrWeights.bias
    val nb = graft.ext.QualityLrWeights.nBuckets
    s"""WITH w(b, wt) AS (VALUES
       |    $wRows),
       |d AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, unnest(toks ||
       |    [array_to_string(toks[i:i+1], ' ')
       |     for i in generate_series(1, len(toks) - 1)]) AS g
       |  FROM d),
       |db AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $nb AS b,
       |    count(*) AS n
       |  FROM g GROUP BY 1, 2),
       |z AS (SELECT doc_id, sum(n * wt) / sum(n) AS zz
       |  FROM db JOIN w USING (b) GROUP BY doc_id),
       |sc AS (SELECT d.doc_id,
       |    round(1.0 / (1.0 + exp(-(coalesce(zz, 0.0) + $bias))), 6)
       |      AS score, dd.lang
       |  FROM d LEFT JOIN z USING (doc_id)
       |  JOIN documents dd ON dd.doc_id = d.doc_id),
       |lab AS (SELECT doc_id,
       |    CAST(round(score * 1000000) AS BIGINT) AS su,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(score * 10) AS BIGINT)))
       |      AS INTEGER) AS bucket,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM sc WHERE lang IS NOT NULL),
       |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(su) AS BIGINT) AS su
       |  FROM lab GROUP BY bucket),
       |pm AS (SELECT bucket, n, n_pos, su,
       |    abs(su - 1000000 * n_pos) AS gap_u FROM pb)
       |SELECT bucket, n, n_pos,
       |  CAST((2 * 1000000 * n_pos + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS pos_rate,
       |  CAST((2 * su + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS mean_pred,
       |  CAST((2 * gap_u + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS abs_gap
       |FROM pm
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT),
       |  CAST((2 * 1000000 * sum(n_pos) + sum(n)) // (2 * sum(n))
       |    AS DOUBLE) / CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(su) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(gap_u) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE)
       |FROM pm ORDER BY bucket""".stripMargin
  }

  /** q183: the langid CTEs' argmax judged against the true lang, rolled
    * up by q175's bucket/ECE arithmetic (integer micro-sums, exact gap
    * numerators, integer-rounded ratios).
    */
  private lazy val langIdCalibrationOracleSql: String =
    s"""WITH $langIdCtes,
       |sc183 AS (SELECT b.doc_id, b.score,
       |    CASE WHEN b.lang = d.lang THEN 1 ELSE 0 END AS pos
       |  FROM best b JOIN documents d ON d.doc_id = b.doc_id
       |  WHERE b.rn = 1 AND d.lang IS NOT NULL),
       |lab AS (SELECT doc_id,
       |    CAST(round(score * 1000000) AS BIGINT) AS su,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(score * 10) AS BIGINT)))
       |      AS INTEGER) AS bucket,
       |    pos
       |  FROM sc183),
       |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(su) AS BIGINT) AS su
       |  FROM lab GROUP BY bucket),
       |pm AS (SELECT bucket, n, n_pos, su,
       |    abs(su - 1000000 * n_pos) AS gap_u FROM pb)
       |SELECT bucket, n, n_pos,
       |  CAST((2 * 1000000 * n_pos + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS pos_rate,
       |  CAST((2 * su + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS mean_pred,
       |  CAST((2 * gap_u + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS abs_gap
       |FROM pm
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT),
       |  CAST((2 * 1000000 * sum(n_pos) + sum(n)) // (2 * sum(n))
       |    AS DOUBLE) / CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(su) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(gap_u) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE)
       |FROM pm ORDER BY bucket""".stripMargin

  /** The committed language-ID scorer REBUILT in SQL, shared by the
    * q154/q157/q159 oracles: every class score as a dot product over the
    * committed weight matrices (q151's CTEs stacked per language),
    * argmax via row_number over (rounded score DESC, lang).
    */
  private lazy val langIdCtes: String = {
    import graft.ext.LangIdWeights
    val wRows = LangIdWeights.langs.zip(LangIdWeights.weights)
      .flatMap { case (l, w) =>
        w.zipWithIndex.map { case (v, i) => s"('$l', $i, $v)" }
      }.mkString(",\n    ")
    val bRows = LangIdWeights.langs.zip(LangIdWeights.biases)
      .map { case (l, b) => s"('$l', $b)" }.mkString(", ")
    val nb = LangIdWeights.nBuckets
    s"""w154(lang, b, wt) AS (VALUES
       |    $wRows),
       |b154(lang, bias) AS (VALUES $bRows),
       |d154 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |g154 AS (SELECT doc_id, unnest(toks ||
       |    [array_to_string(toks[i:i+1], ' ')
       |     for i in generate_series(1, len(toks) - 1)]) AS g
       |  FROM d154),
       |db154 AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $nb AS b,
       |    count(*) AS n
       |  FROM g154 GROUP BY 1, 2),
       |z154 AS (SELECT db154.doc_id, w154.lang, sum(n * wt) / sum(n) AS zz
       |  FROM db154 JOIN w154 USING (b) GROUP BY 1, 2),
       |sc154 AS (SELECT z154.doc_id, z154.lang,
       |    round(1.0 / (1.0 + exp(-(z154.zz + b154.bias))), 6) AS score
       |  FROM z154 JOIN b154 USING (lang)),
       |best AS (SELECT doc_id, lang, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM sc154)"""
      .stripMargin
  }

  /** The committed calibration lookup rebuilt in SQL (the Spark side's
    * [[calMicro]]): clamped-floor bucket (q175/q183's exact formula) →
    * the committed micro value as CASE arms. Yields a BIGINT expression
    * so the reject compare below stays pure-integer.
    */
  private def calMicroSql(scoreExpr: String,
                          valuesMicro: Seq[Long]): String = {
    val nb = graft.ext.CalibrationMaps.nBuckets
    val arms = valuesMicro.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN $v" }.mkString(" ")
    s"(CASE CAST(LEAST(${nb - 1}, GREATEST(0, " +
      s"CAST(floor(($scoreExpr) * $nb) AS BIGINT))) AS INTEGER) " +
      s"$arms END)"
  }

  /** SQL twin of [[holdoutEval]] — the eval-half predicate as a DuckDB
    * expression over a doc-id column (same md5 parity, same namespace).
    */
  private[graft] def holdoutEvalSql(idExpr: String): String =
    s"(CAST(('0x' || substr(md5('split:' || $idExpr), 1, 8)) " +
      "AS BIGINT) % 2 = 1)"

  /** The calibrated reject CASE shared by every oracle that derives
    * `pred_lang`/`predicted`: 'und' when the calibrated P(argmax
    * correct) sits below the committed cut — the SQL twin of
    * [[langIdPredictedOrUnd]], rebuilt from the SAME
    * [[graft.ext.CalibrationMaps]] literals.
    */
  private def undCaseSql(scoreExpr: String, langExpr: String): String =
    s"CASE WHEN ${calMicroSql(scoreExpr,
        graft.ext.CalibrationMaps.langIdCalMicro)} < " +
      s"${graft.ext.CalibrationMaps.undCalCutMicro} THEN 'und' " +
      s"ELSE $langExpr END"

  /** q154's oracle: the shared scorer + the plain argmax. */
  private lazy val langIdOracleSql: String =
    s"""WITH $langIdCtes
       |SELECT dd.doc_id, dd.lang, best.lang AS predicted, best.score,
       |  (best.lang = dd.lang) AS correct
       |FROM documents dd JOIN best
       |  ON best.doc_id = dd.doc_id AND best.rn = 1
       |ORDER BY dd.doc_id""".stripMargin

  /** q157's oracle: the shared scorer with the committed CALIBRATED
    * reject rule carried as literals (the [[undCaseSql]] CASE arms).
    */
  private lazy val langIdRejectOracleSql: String =
    s"""WITH $langIdCtes
       |SELECT dd.doc_id, dd.lang,
       |  ${undCaseSql("best.score", "best.lang")} AS predicted,
       |  best.score,
       |  ((${undCaseSql("best.score", "best.lang")}) = dd.lang)
       |    AS correct
       |FROM documents dd JOIN best
       |  ON best.doc_id = dd.doc_id AND best.rn = 1
       |ORDER BY dd.doc_id""".stripMargin

  /** The per-language quality scorer rebuilt in SQL (q186/q187): the
    * committed per-slice arms (+ the global gate for slices without
    * one) as
    * one (lang, b, wt) table, joined on the SAME md5-bucket gram rows
    * the langid CTEs already compute (db154 — both classifiers share
    * nBuckets=256 and the feature map), dispatched by the calibrated
    * pred_lang. Yields `pr186` (doc_id, pred_lang) and `qz186`
    * (doc_id, pred_lang, score).
    */
  private lazy val perLangQualityCtes: String = {
    import graft.ext.{LangIdWeights, QualityLrWeights,
      QualityLrWeightsByLang => W}
    // every dispatch value (the five langid classes + 'und') resolves
    // to its COMMITTED per-slice gate when the fit tool's held-out
    // measurement kept one, and to the global EN-fitted gate otherwise
    // (r19: arms are committed per-slice by measurement, so any slice
    // may be on the fallback at a given SF)
    val dispatch = (LangIdWeights.langs :+ "und").map { l =>
      if (W.langs.contains(l)) (l, W.weights(l), W.biases(l))
      else (l, QualityLrWeights.weights, QualityLrWeights.bias)
    }
    val wRows = dispatch
      .flatMap { case (l, w, _) =>
        w.zipWithIndex.map { case (v, i) => s"('$l', $i, $v)" }
      }.mkString(",\n    ")
    val bRows = dispatch
      .map { case (l, _, b) => s"('$l', $b)" }.mkString(", ")
    s"""pr186 AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS pred_lang
       |  FROM best WHERE rn = 1),
       |wpl(lang, b, wt) AS (VALUES
       |    $wRows),
       |bpl(lang, bias) AS (VALUES $bRows),
       |z186 AS (SELECT db154.doc_id, pr186.pred_lang,
       |    sum(n * wt) / sum(n) AS zz
       |  FROM db154 JOIN pr186 USING (doc_id)
       |  JOIN wpl ON wpl.b = db154.b AND wpl.lang = pr186.pred_lang
       |  GROUP BY 1, 2),
       |qz186 AS (SELECT z186.doc_id, z186.pred_lang,
       |    round(1.0 / (1.0 + exp(-(z186.zz + bpl.bias))), 6) AS score
       |  FROM z186 JOIN bpl ON bpl.lang = z186.pred_lang)""".stripMargin
  }

  /** q186's oracle: calibrated pred_lang → that language's committed
    * dot product → the 0.5 gate, all from literals.
    */
  private lazy val perLangGatedSelectionOracleSql: String =
    s"""WITH $langIdCtes,
       |$perLangQualityCtes
       |SELECT doc_id, pred_lang, score FROM qz186
       |WHERE score >= ${graft.ext.CalibrationMaps.perLangGateRawCut}
       |ORDER BY doc_id""".stripMargin

  /** q187's oracle (and, restricted to the held-out half, q193's): the
    * heuristic quality seed (q22's exact arithmetic), the EN-only gate
    * (shared qz CTEs at the committed calibrated cut), and the per-lang
    * gate — agreement counts per predicted language, integers only.
    */
  private def gateAccuracyByLangSql(where: String): String =
    s"""WITH $langIdCtes,
       |$perLangQualityCtes,
       |${qualityLrScoreCtes("d154")},
       |$heuristicLabelCtes
       |SELECT pr186.pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN (qz186.score >=
       |    ${graft.ext.CalibrationMaps.perLangGateRawCut}) = hq.lab
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_perlang,
       |  CAST(sum(CASE WHEN
       |    (qz.score >= ${graft.ext.CalibrationMaps.gateRawCut}) = hq.lab
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_en
       |FROM pr186 JOIN qz186 USING (doc_id) JOIN qz USING (doc_id)
       |JOIN hq USING (doc_id)
       |WHERE $where
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val gateAccuracyByLangOracleSql: String =
    gateAccuracyByLangSql("TRUE")

  /** q193's oracle: q187's exact arithmetic over the md5-parity
    * held-out half only — the committed gates' generalization rows.
    */
  private lazy val heldoutGateAccuracyOracleSql: String =
    gateAccuracyByLangSql(holdoutEvalSql("pr186.doc_id"))

  /** q194's oracle: the und slice of the shared per-lang dispatch
    * (whatever arm [[graft.ext.QualityLrWeightsByLang]] committed for
    * 'und'), with the keep decision at the committed cut.
    */
  private lazy val undGatedSelectionOracleSql: String =
    s"""WITH $langIdCtes,
       |$perLangQualityCtes
       |SELECT doc_id, score,
       |  (score >= ${graft.ext.CalibrationMaps.perLangGateRawCut})
       |    AS keep
       |FROM qz186 WHERE pred_lang = 'und'
       |ORDER BY doc_id""".stripMargin

  /** One reliability-report block (q175's exact integer arithmetic)
    * over a CTE yielding (doc_id, score, pos), with suffixed CTE names
    * and a classifier tag — q192 stacks three. Emits `rep$sfx`.
    */
  private def calibReportBlockSql(srcCte: String, tag: String,
                                  sfx: String): String =
    s"""lab$sfx AS (SELECT doc_id,
       |    CAST(round(score * 1000000) AS BIGINT) AS su,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(score * 10) AS BIGINT)))
       |      AS INTEGER) AS bucket, pos
       |  FROM $srcCte),
       |pb$sfx AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(su) AS BIGINT) AS su
       |  FROM lab$sfx GROUP BY bucket),
       |pm$sfx AS (SELECT bucket, n, n_pos, su,
       |    abs(su - 1000000 * n_pos) AS gap_u FROM pb$sfx),
       |rep$sfx AS (
       |  SELECT '$tag' AS classifier, bucket, n, n_pos,
       |    CAST((2 * 1000000 * n_pos + n) // (2 * n) AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS pos_rate,
       |    CAST((2 * su + n) // (2 * n) AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS mean_pred,
       |    CAST((2 * gap_u + n) // (2 * n) AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS abs_gap
       |  FROM pm$sfx
       |  UNION ALL
       |  SELECT '$tag', -1, CAST(sum(n) AS BIGINT),
       |    CAST(sum(n_pos) AS BIGINT),
       |    CAST((2 * 1000000 * sum(n_pos) + sum(n)) // (2 * sum(n))
       |      AS DOUBLE) / CAST(1000000 AS DOUBLE),
       |    CAST((2 * sum(su) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE),
       |    CAST((2 * sum(gap_u) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE)
       |  FROM pm$sfx)""".stripMargin

  /** q192's oracle: the three fitted artifacts' CALIBRATED scores (the
    * committed CASE arms) on the md5-parity held-out half, each rolled
    * up by the shared reliability block and stacked under a classifier
    * tag — every summary row's abs_gap is a held-out residual ECE.
    */
  private lazy val heldoutCalibrationOracleSql: String = {
    import graft.ext.CalibrationMaps
    s"""WITH $langIdCtes,
       |$perLangQualityCtes,
       |${qualityLrScoreCtes("d154")},
       |$heuristicLabelCtes,
       |src_q AS (SELECT qz.doc_id,
       |    CAST(${calMicroSql("qz.score",
              CalibrationMaps.qualityCalMicro)} AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS score,
       |    CASE WHEN dd.lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM qz JOIN documents dd ON dd.doc_id = qz.doc_id
       |  WHERE dd.lang IS NOT NULL
       |    AND ${holdoutEvalSql("qz.doc_id")}),
       |src_l AS (SELECT b.doc_id,
       |    CAST(${calMicroSql("b.score",
              CalibrationMaps.langIdCalMicro)} AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS score,
       |    CASE WHEN b.lang = d.lang THEN 1 ELSE 0 END AS pos
       |  FROM best b JOIN documents d ON d.doc_id = b.doc_id
       |  WHERE b.rn = 1 AND d.lang IS NOT NULL
       |    AND ${holdoutEvalSql("b.doc_id")}),
       |src_g AS (SELECT qz186.doc_id,
       |    CAST(${calMicroSql("qz186.score",
              CalibrationMaps.perLangGateCalMicro)} AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS score,
       |    CASE WHEN hq.lab THEN 1 ELSE 0 END AS pos
       |  FROM qz186 JOIN hq USING (doc_id)
       |  WHERE ${holdoutEvalSql("qz186.doc_id")}),
       |${calibReportBlockSql("src_q", "quality", "_q")},
       |${calibReportBlockSql("src_l", "langid", "_l")},
       |${calibReportBlockSql("src_g", "perlang_gate", "_g")}
       |SELECT * FROM rep_q
       |UNION ALL SELECT * FROM rep_l
       |UNION ALL SELECT * FROM rep_g
       |ORDER BY classifier, bucket""".stripMargin
  }

  /** q191's oracle: the committed calibration applied (the same CASE
    * arms), then q183's exact bucket/ECE arithmetic over the CALIBRATED
    * score — the staleness monitor's residual-ECE row.
    */
  private lazy val calibrationStalenessOracleSql: String =
    s"""WITH $langIdCtes,
       |cs AS (SELECT b.doc_id,
       |    CAST(${calMicroSql("b.score",
              graft.ext.CalibrationMaps.langIdCalMicro)} AS DOUBLE) /
       |      CAST(1000000 AS DOUBLE) AS score,
       |    CASE WHEN b.lang = d.lang THEN 1 ELSE 0 END AS pos
       |  FROM best b JOIN documents d ON d.doc_id = b.doc_id
       |  WHERE b.rn = 1 AND d.lang IS NOT NULL),
       |lab AS (SELECT doc_id,
       |    CAST(round(score * 1000000) AS BIGINT) AS su,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(score * 10) AS BIGINT)))
       |      AS INTEGER) AS bucket,
       |    pos
       |  FROM cs),
       |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(su) AS BIGINT) AS su
       |  FROM lab GROUP BY bucket),
       |pm AS (SELECT bucket, n, n_pos, su,
       |    abs(su - 1000000 * n_pos) AS gap_u FROM pb)
       |SELECT bucket, n, n_pos,
       |  CAST((2 * 1000000 * n_pos + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS pos_rate,
       |  CAST((2 * su + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS mean_pred,
       |  CAST((2 * gap_u + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS abs_gap
       |FROM pm
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT),
       |  CAST((2 * 1000000 * sum(n_pos) + sum(n)) // (2 * sum(n))
       |    AS DOUBLE) / CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(su) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(gap_u) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE)
       |FROM pm ORDER BY bucket""".stripMargin

  /** q184's oracle: the shared scorer + the committed calibration as
    * CASE arms — calibrated probability AND the reject decided on it,
    * both rebuilt from the [[graft.ext.CalibrationMaps]] literals.
    */
  private lazy val calibratedSelectionOracleSql: String =
    s"""WITH $langIdCtes
       |SELECT dd.doc_id, dd.lang, best.score,
       |  CAST(${calMicroSql("best.score",
              graft.ext.CalibrationMaps.langIdCalMicro)} AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS cal_score,
       |  ${undCaseSql("best.score", "best.lang")} AS predicted,
       |  ((${undCaseSql("best.score", "best.lang")}) = dd.lang)
       |    AS correct
       |FROM documents dd JOIN best
       |  ON best.doc_id = dd.doc_id AND best.rn = 1
       |ORDER BY dd.doc_id""".stripMargin

  /** q161's oracle: all four committed artifacts rebuilt in SQL — the
    * language scorer (+ reject CASE), the quality classifier's dot
    * product, and the merges-rebuilt pricing — under the naive
    * per-predicted-language window with the budget CASE (q148's
    * differential shape, stratified by a LEARNED key).
    */
  private lazy val budgetByPredictedLangOracleSql: String = {
    val inList = LangBudgets.keys.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    val caseArms = LangBudgets.toSeq.sortBy(_._1)
      .map { case (s, b) => s"WHEN '$s' THEN $b" }.mkString(" ")
    s"""WITH RECURSIVE $subwordEncCtes,
       |$langIdCtes,
       |${qualityLrScoreCtes("d154")},
       |pr AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS pred_lang
       |  FROM best WHERE rn = 1),
       |m AS (SELECT pr.doc_id, pr.pred_lang, qz.score, dtok.n_tokens
       |  FROM pr JOIN qz USING (doc_id) JOIN dtok USING (doc_id)
       |  WHERE pr.pred_lang IN ($inList)),
       |c AS (SELECT doc_id, pred_lang, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY pred_lang
       |    ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT doc_id, pred_lang, score, n_tokens FROM c
       |WHERE cum <= CASE pred_lang $caseArms END
       |ORDER BY doc_id""".stripMargin
  }

  /** One per-language recursive encode chain (q174): the
    * [[subwordEncCtes]] scaffold parameterized by a tag, that
    * language's committed merges, and the word slice of documents
    * PREDICTED as that language (requires the `pr` CTE in scope).
    * Yields `dtok_<tag>` — per-doc subword counts for that slice under
    * that vocabulary.
    */
  private def perLangEncChainSql(tag: String,
                                 merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val mergeRows = merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, '${esc(l)}', '${esc(r)}')" }
      .mkString(",\n    ")
    s"""merges_$tag(rank, l, r) AS (VALUES
       |    $mergeRows),
       |w0_$tag AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
       |    AS state
       |  FROM (SELECT DISTINCT unnest(regexp_split_to_array(
       |      lower(d.text), '\\s+')) AS w
       |    FROM documents d JOIN pr ON pr.doc_id = d.doc_id
       |    WHERE pr.pred_lang = '$tag' AND d.text IS NOT NULL) t
       |  WHERE length(w) > 0),
       |enc_$tag AS (
       |  SELECT w, state, 1 AS nxt FROM w0_$tag
       |  UNION ALL
       |  SELECT e.w, replace(e.state, ' ' || m.l || ' ' || m.r || ' ',
       |      ' ' || m.l || m.r || ' '), e.nxt + 1
       |  FROM enc_$tag e JOIN merges_$tag m ON m.rank = e.nxt
       |),
       |wc_$tag AS (SELECT w,
       |    length(state) - length(replace(state, ' ', '')) - 1 AS np
       |  FROM enc_$tag
       |  WHERE nxt = (SELECT max(rank) FROM merges_$tag) + 1),
       |dtok_$tag AS (SELECT d.doc_id,
       |    CAST(coalesce(sum(wc_$tag.np), 0) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN pr ON pr.doc_id = d.doc_id
       |  LEFT JOIN doc_toks ON doc_toks.doc_id = d.doc_id
       |  LEFT JOIN wc_$tag ON wc_$tag.w = doc_toks.w
       |  WHERE pr.pred_lang = '$tag' AND d.text IS NOT NULL
       |  GROUP BY d.doc_id)""".stripMargin
  }

  /** q174's oracle: q161's chain with the pricing REBUILT per predicted
    * language — five per-language recursive merge chains (each over
    * only ITS slice's words) plus the global chain for 'und', unioned
    * into the per-doc token table the naive per-language window then
    * selects from.
    */
  /** The shared q174/q181 prelude: langid + reject + classifier + the
    * five per-language merge chains + the global chain, unioned into
    * `dtokp` (per-doc tokens under per-language pricing), with `pr`
    * (predicted language) and `qz` (classifier score) in scope.
    */
  private lazy val perLangPricedPreludeSql: String = {
    import graft.ext.BpeMergesByLang
    val chains = BpeMergesByLang.langs
      .map(l => perLangEncChainSql(l, BpeMergesByLang.merges(l)))
      .mkString(",\n")
    val unions = BpeMergesByLang.langs
      .map(l => s"SELECT doc_id, n_tokens FROM dtok_$l")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $subwordEncCtes,
       |$langIdCtes,
       |${qualityLrScoreCtes("d154")},
       |pr AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS pred_lang
       |  FROM best WHERE rn = 1),
       |$chains,
       |dtokp AS ($unions
       |  UNION ALL SELECT dtok.doc_id, dtok.n_tokens
       |  FROM dtok JOIN pr USING (doc_id) WHERE pr.pred_lang = 'und')"""
      .stripMargin
  }

  private lazy val budgetPerLangPricedOracleSql: String = {
    val inList = LangBudgets.keys.toSeq.sorted
      .map(s => s"'$s'").mkString(", ")
    val caseArms = LangBudgets.toSeq.sortBy(_._1)
      .map { case (s, b) => s"WHEN '$s' THEN $b" }.mkString(" ")
    perLangPricedPreludeSql + s""",
       |m AS (SELECT pr.doc_id, pr.pred_lang, qz.score, dtokp.n_tokens
       |  FROM pr JOIN qz USING (doc_id) JOIN dtokp USING (doc_id)
       |  WHERE pr.pred_lang IN ($inList)),
       |c AS (SELECT doc_id, pred_lang, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY pred_lang
       |    ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT doc_id, pred_lang, score, n_tokens FROM c
       |WHERE cum <= CASE pred_lang $caseArms END
       |ORDER BY doc_id""".stripMargin
  }

  /** q181: the full multilingual mixture pipeline in one chain —
    * per-language pricing (q174's prelude), the global best-first
    * allocation over (predicted language, score bucket) cells (q179's
    * arithmetic), and the per-language enforcement window with budgets
    * read FROM the allocation (q180's composition).
    */
  private lazy val perLangAllocatedOracleSql: String =
    perLangPricedPreludeSql + s""",
       |cells AS (SELECT pr.pred_lang AS src,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz.score * 10) AS INT)))
       |      AS INT) AS b,
       |    CAST(sum(dtokp.n_tokens) AS BIGINT) AS mass
       |  FROM pr JOIN qz USING (doc_id) JOIN dtokp USING (doc_id)
       |  GROUP BY 1, 2),
       |alloc AS (SELECT src, b, mass,
       |    sum(mass) OVER (ORDER BY b DESC, src
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM cells),
       |takes AS (SELECT src, b, mass,
       |    CASE WHEN cum <= 20000 THEN mass
       |         WHEN cum - mass < 20000 THEN 20000 - (cum - mass)
       |         ELSE 0 END AS take
       |  FROM alloc),
       |ab AS (SELECT src, CAST(sum(take) AS BIGINT) AS alloc
       |  FROM takes GROUP BY src),
       |m AS (SELECT pr.doc_id, pr.pred_lang AS src, qz.score,
       |    dtokp.n_tokens
       |  FROM pr JOIN qz USING (doc_id) JOIN dtokp USING (doc_id)),
       |c AS (SELECT doc_id, src, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY src
       |    ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT c.doc_id, c.src AS pred_lang, c.score, c.n_tokens
       |FROM c JOIN ab ON ab.src = c.src AND ab.alloc > 0
       |WHERE c.cum <= ab.alloc
       |ORDER BY c.doc_id""".stripMargin

  /** q188's oracle: q181's allocation/enforcement chain with the score
    * source swapped from the EN-only classifier (`qz`) to the
    * per-language gates (`qz186`) — the same committed-literal rebuild
    * of every artifact in the composition.
    */
  private lazy val mixturePerLangScoredOracleSql: String =
    perLangPricedPreludeSql + s""",
       |$perLangQualityCtes,
       |cells AS (SELECT pr.pred_lang AS src,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz186.score * 10)
       |      AS INT))) AS INT) AS b,
       |    CAST(sum(dtokp.n_tokens) AS BIGINT) AS mass
       |  FROM pr JOIN qz186 USING (doc_id) JOIN dtokp USING (doc_id)
       |  GROUP BY 1, 2),
       |alloc AS (SELECT src, b, mass,
       |    sum(mass) OVER (ORDER BY b DESC, src
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM cells),
       |takes AS (SELECT src, b, mass,
       |    CASE WHEN cum <= 20000 THEN mass
       |         WHEN cum - mass < 20000 THEN 20000 - (cum - mass)
       |         ELSE 0 END AS take
       |  FROM alloc),
       |ab AS (SELECT src, CAST(sum(take) AS BIGINT) AS alloc
       |  FROM takes GROUP BY src),
       |m AS (SELECT pr.doc_id, pr.pred_lang AS src, qz186.score,
       |    dtokp.n_tokens
       |  FROM pr JOIN qz186 USING (doc_id) JOIN dtokp USING (doc_id)),
       |c AS (SELECT doc_id, src, score, n_tokens,
       |  sum(n_tokens) OVER (PARTITION BY src
       |    ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m)
       |SELECT c.doc_id, c.src AS pred_lang, c.score, c.n_tokens
       |FROM c JOIN ab ON ab.src = c.src AND ab.alloc > 0
       |WHERE c.cum <= ab.alloc
       |ORDER BY c.doc_id""".stripMargin

  /** q189's oracle: the per-language dispatch's score (qz186) bucketed
    * by the q175 reliability arithmetic, labeled by the heuristic seed.
    */
  private lazy val perLangGateCalibrationOracleSql: String =
    s"""WITH $langIdCtes,
       |$perLangQualityCtes,
       |$heuristicLabelCtes,
       |lab AS (SELECT qz186.doc_id,
       |    CAST(round(qz186.score * 1000000) AS BIGINT) AS su,
       |    CAST(LEAST(9, GREATEST(0, CAST(floor(qz186.score * 10)
       |      AS BIGINT))) AS INTEGER) AS bucket,
       |    CASE WHEN hq.lab THEN 1 ELSE 0 END AS pos
       |  FROM qz186 JOIN hq USING (doc_id)),
       |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(sum(su) AS BIGINT) AS su
       |  FROM lab GROUP BY bucket),
       |pm AS (SELECT bucket, n, n_pos, su,
       |    abs(su - 1000000 * n_pos) AS gap_u FROM pb)
       |SELECT bucket, n, n_pos,
       |  CAST((2 * 1000000 * n_pos + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS pos_rate,
       |  CAST((2 * su + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS mean_pred,
       |  CAST((2 * gap_u + n) // (2 * n) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE) AS abs_gap
       |FROM pm
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT),
       |  CAST((2 * 1000000 * sum(n_pos) + sum(n)) // (2 * sum(n))
       |    AS DOUBLE) / CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(su) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE),
       |  CAST((2 * sum(gap_u) + sum(n)) // (2 * sum(n)) AS DOUBLE) /
       |    CAST(1000000 AS DOUBLE)
       |FROM pm ORDER BY bucket""".stripMargin

  /** q190's oracle: the per-doc agreement deltas (per-lang gate vs the
    * EN-only gate, both against the heuristic seed), discordant docs
    * only, under the SHARED seeded sign-flip draw arithmetic.
    */
  private lazy val gateDeltaSignificanceOracleSql: String =
    s"""WITH $langIdCtes,
       |$perLangQualityCtes,
       |${qualityLrScoreCtes("d154")},
       |$heuristicLabelCtes,
       |dlt AS (SELECT qz186.doc_id,
       |    (CASE WHEN (qz186.score >=
       |      ${graft.ext.CalibrationMaps.perLangGateRawCut}) = hq.lab
       |      THEN 1 ELSE 0 END) -
       |    (CASE WHEN
       |      (qz.score >= ${graft.ext.CalibrationMaps.gateRawCut}) =
       |        hq.lab THEN 1 ELSE 0 END) AS d
       |  FROM qz186 JOIN qz USING (doc_id) JOIN hq USING (doc_id)),
       |dd AS (SELECT doc_id, CAST(d AS BIGINT) AS d FROM dlt
       |  WHERE d <> 0),
       |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
       |    CAST(count(*) AS BIGINT) AS n_discordant FROM dd),
       |prm AS (SELECT i FROM generate_series(0, ${MmrPermCount - 1}) t(i)),
       |ti AS (SELECT i, CAST(sum(CASE WHEN
       |      CAST(('0x' || substr(md5('perm' || i || ':' || doc_id),
       |        1, 8)) AS BIGINT) % 2 = 0
       |      THEN d ELSE -d END) AS BIGINT) AS t_i
       |  FROM prm CROSS JOIN dd GROUP BY i)
       |SELECT obs.n_discordant,
       |  CAST($MmrPermCount AS BIGINT) AS n_perms,
       |  obs.t_obs AS delta_sum,
       |  CAST(sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
       |  CAST(1 + sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
       |    THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(${MmrPermCount + 1} AS DOUBLE) AS p_value
       |FROM ti CROSS JOIN obs
       |GROUP BY obs.n_discordant, obs.t_obs""".stripMargin

  /** The heuristic quality seed as a per-doc boolean (q187/q189/q190 —
    * q22's exact arithmetic, over the non-null-text population).
    */
  private lazy val heuristicLabelCtes: String =
    s"""hd AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |hq1 AS (SELECT doc_id,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on')))
       |    AS DOUBLE) / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
       |    'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
       |  len(toks) AS n_toks
       |  FROM hd),
       |hq AS (SELECT doc_id,
       |  (round(stop_ratio * 0.4 +
       |    least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) * 0.3 +
       |    (1.0 - punct_ratio) * 0.3, 4) >= 0.5) AS lab
       |  FROM hq1)""".stripMargin

  /** q177's oracle: q159's fertility rollup with the per-doc token sums
    * swapped for the per-language chains' union (the q174 `dtokp`).
    */
  private lazy val fertilityPerLangPricedOracleSql: String = {
    import graft.ext.BpeMergesByLang
    val chains = BpeMergesByLang.langs
      .map(l => perLangEncChainSql(l, BpeMergesByLang.merges(l)))
      .mkString(",\n")
    val unions = BpeMergesByLang.langs
      .map(l => s"SELECT doc_id, n_tokens FROM dtok_$l")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $subwordEncCtes,
       |$langIdCtes,
       |pr AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS pred_lang
       |  FROM best WHERE rn = 1),
       |$chains,
       |dtokp AS ($unions
       |  UNION ALL SELECT dtok.doc_id, dtok.n_tokens
       |  FROM dtok JOIN pr USING (doc_id) WHERE pr.pred_lang = 'und'),
       |ws177 AS (SELECT doc_id,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS wt
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT pr.pred_lang AS predicted,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws177.wt) AS BIGINT) AS ws_tokens,
       |  CAST(sum(dtokp.n_tokens) AS BIGINT) AS subword_tokens,
       |  round(CAST(sum(dtokp.n_tokens) AS DOUBLE) / sum(ws177.wt), 4)
       |    AS fertility
       |FROM pr JOIN ws177 USING (doc_id) JOIN dtokp USING (doc_id)
       |GROUP BY pr.pred_lang
       |ORDER BY pr.pred_lang""".stripMargin
  }

  /** q159's oracle: the shared scorer (with the reject CASE) composed
    * with the shared merges rebuild — fertility per PREDICTED language.
    */
  private lazy val fertilityByLangOracleSql: String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |$langIdCtes,
       |pr AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS predicted
       |  FROM best WHERE rn = 1),
       |ws159 AS (SELECT doc_id,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS wt
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT pr.predicted, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws159.wt) AS BIGINT) AS ws_tokens,
       |  CAST(sum(dtok.n_tokens) AS BIGINT) AS subword_tokens,
       |  round(CAST(sum(dtok.n_tokens) AS DOUBLE) / sum(ws159.wt), 4)
       |    AS fertility
       |FROM pr JOIN ws159 USING (doc_id) JOIN dtok USING (doc_id)
       |GROUP BY pr.predicted
       |ORDER BY pr.predicted""".stripMargin

  /** q197's oracle: q159's shape with the encode rebuilt from the
    * LARGE committed artifact ([[graft.ext.BpeMergesLarge]], 1536
    * merges) at full depth — the `_lv`-suffixed twin of the shared
    * chain, same replace-semantics contract.
    */
  private lazy val fertilityLargeVocabOracleSql: String =
    s"""WITH RECURSIVE ${subwordEncCtesFor(
        graft.ext.BpeMergesLarge.merges, "_lv")},
       |$langIdCtes,
       |pr AS (SELECT doc_id,
       |    ${undCaseSql("score", "lang")} AS predicted
       |  FROM best WHERE rn = 1),
       |ws197 AS (SELECT doc_id,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS wt
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT pr.predicted, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws197.wt) AS BIGINT) AS ws_tokens,
       |  CAST(sum(dtok_lv.n_tokens) AS BIGINT) AS subword_tokens,
       |  round(CAST(sum(dtok_lv.n_tokens) AS DOUBLE) / sum(ws197.wt), 4)
       |    AS fertility
       |FROM pr JOIN ws197 USING (doc_id) JOIN dtok_lv USING (doc_id)
       |GROUP BY pr.predicted
       |ORDER BY pr.predicted""".stripMargin

  /** q195's oracle: both pricing chains (the global `dtok` and the
    * per-language `dtokp`) aggregated into one exact ten-thousandths
    * fertility delta per predicted language, then the EXACT 2⁶
    * sign-flip enumeration — draw i flips item j (dense rank by
    * language) when bit j of i is set; p is the exact fraction of
    * as-extreme patterns (the identity draw included, so no +1
    * smoothing).
    */
  private lazy val fertilityDeltaSignificanceOracleSql: String = {
    val total = 1 << (graft.ext.LangIdWeights.langs.length + 1)
    perLangPricedPreludeSql + s""",
       |ws195 AS (SELECT doc_id,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS wt
       |  FROM documents WHERE text IS NOT NULL),
       |fz AS (SELECT pr.pred_lang AS predicted,
       |    CAST(sum(ws195.wt) AS BIGINT) AS ws,
       |    CAST(sum(dtok.n_tokens) AS BIGINT) AS tg,
       |    CAST(sum(dtokp.n_tokens) AS BIGINT) AS tp
       |  FROM pr JOIN ws195 USING (doc_id) JOIN dtok USING (doc_id)
       |  JOIN dtokp USING (doc_id)
       |  GROUP BY 1),
       |dlt AS (SELECT predicted,
       |    ((2 * 10000 * tg + ws) // (2 * ws)) -
       |      ((2 * 10000 * tp + ws) // (2 * ws)) AS d
       |  FROM fz),
       |idx AS (SELECT predicted, CAST(d AS BIGINT) AS d,
       |    CAST(row_number() OVER (ORDER BY predicted) AS INT) - 1 AS j
       |  FROM dlt),
       |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
       |    CAST(count(*) AS BIGINT) AS n_langs FROM dlt),
       |prm AS (SELECT i FROM generate_series(0, ${total - 1}) t(i)),
       |ti AS (SELECT i, CAST(sum(CASE WHEN (i & (1 << j)) = 0
       |      THEN d ELSE -d END) AS BIGINT) AS t_i
       |  FROM prm CROSS JOIN idx GROUP BY i)
       |SELECT obs.n_langs, CAST($total AS BIGINT) AS n_perms,
       |  obs.t_obs AS delta_sum_u4,
       |  CAST(sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
       |  CAST(sum(CASE WHEN abs(ti.t_i) >= abs(obs.t_obs)
       |    THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST($total AS DOUBLE) AS p_value
       |FROM ti CROSS JOIN obs
       |GROUP BY obs.n_langs, obs.t_obs""".stripMargin
  }

  /** q150's oracle: q127's naive global-window selection, with n_tokens
    * REBUILT from the committed [[graft.ext.BpeMerges]] literals — the
    * per-word encode is a recursive CTE applying each merge in rank
    * order via `replace` on the space-delimited state (byte-identical
    * semantics to the Scala encoder's String.replace; see
    * [[graft.ext.Bpe]]). Distinct words encode once (the corpus has a
    * bounded vocabulary; the CTE is |vocab| × |merges| rows), then join
    * back onto the exploded tokens.
    */
  /** The committed-merges encode REBUILT in SQL, shared by the
    * q150/q152/q153 oracles: per distinct word, a recursive CTE applies
    * each merge in rank order via `replace` on the space-delimited
    * state (byte-identical semantics to the Scala encoder — see
    * [[graft.ext.Bpe]]); `dtok` is the per-doc subword token sum over
    * every NON-NULL-text document — a LEFT join defaulting to 0, so a
    * whitespace-only doc prices 0 rather than vanishing, and null-text
    * docs are excluded by the same explicit contract the Spark side
    * applies (the q151-style null defense — ADVICE r15).
    */
  private def subwordEncCtesFor(ms: Seq[(String, String)],
                                sfx: String): String = {
    val mergeRows = ms.zipWithIndex
      .map { case ((l, r), i) =>
        def esc(s: String) = s.replace("'", "''")
        s"(${i + 1}, '${esc(l)}', '${esc(r)}')"
      }.mkString(",\n    ")
    s"""merges$sfx(rank, l, r) AS (VALUES
       |    $mergeRows),
       |words$sfx AS (SELECT DISTINCT unnest(regexp_split_to_array(lower(text),
       |    '\\s+')) AS w FROM documents WHERE text IS NOT NULL),
       |w0$sfx AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
       |    AS state FROM words$sfx WHERE length(w) > 0),
       |enc$sfx AS (
       |  SELECT w, state, 1 AS nxt FROM w0$sfx
       |  UNION ALL
       |  SELECT e.w, replace(e.state, ' ' || m.l || ' ' || m.r || ' ',
       |      ' ' || m.l || m.r || ' '), e.nxt + 1
       |  FROM enc$sfx e JOIN merges$sfx m ON m.rank = e.nxt
       |),
       |wc$sfx AS (SELECT w,
       |    length(state) - length(replace(state, ' ', '')) - 1 AS np
       |  FROM enc$sfx WHERE nxt = (SELECT max(rank) FROM merges$sfx) + 1),
       |doc_toks$sfx AS (SELECT doc_id, unnest(regexp_split_to_array(
       |    lower(text), '\\s+')) AS w FROM documents
       |  WHERE text IS NOT NULL),
       |dtok$sfx AS (SELECT d.doc_id,
       |    CAST(coalesce(sum(wc$sfx.np), 0) AS BIGINT) AS n_tokens
       |  FROM documents d
       |  LEFT JOIN doc_toks$sfx ON doc_toks$sfx.doc_id = d.doc_id
       |  LEFT JOIN wc$sfx ON wc$sfx.w = doc_toks$sfx.w
       |  WHERE d.text IS NOT NULL
       |  GROUP BY d.doc_id)""".stripMargin
  }

  private lazy val subwordEncCtes: String =
    subwordEncCtesFor(graft.ext.BpeMerges.merges, "")

  private lazy val subwordBudgetOracleSql: String = {
    s"""WITH RECURSIVE $subwordEncCtes,
       |q0 AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |q1 AS (SELECT doc_id, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM q0),
       |q2 AS (SELECT q1.doc_id,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS score,
       |  dtok.n_tokens
       |  FROM q1 JOIN dtok ON dtok.doc_id = q1.doc_id),
       |c AS (SELECT doc_id, score, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM q2)
       |SELECT doc_id, score, n_tokens FROM c WHERE cum <= $SubwordBudget
       |ORDER BY doc_id""".stripMargin
  }

  /** q152's oracle: the shared encode rebuild + a per-source rollup of
    * whitespace vs subword token mass.
    */
  private lazy val tokenizerFertilityOracleSql: String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |ws AS (SELECT doc_id, source,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS wt
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT ws.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws.wt) AS BIGINT) AS ws_tokens,
       |  CAST(sum(dtok.n_tokens) AS BIGINT) AS subword_tokens,
       |  round(CAST(sum(dtok.n_tokens) AS DOUBLE) / sum(ws.wt), 4)
       |    AS fertility
       |FROM ws JOIN dtok USING (doc_id)
       |GROUP BY ws.source
       |ORDER BY ws.source""".stripMargin

  /** The committed quality classifier's ROUNDED score rebuilt in SQL,
    * shared by the q153/q155/q161 oracles (extracted after the review
    * caught three drifting copies — the langIdCtes lesson): the weights
    * VALUES (`lw`) + gram unnest + md5 bucket + the rounded-at-6
    * sigmoid, over a source CTE providing (doc_id, toks). Emits CTEs
    * `lw`/`qg`/`qdb`/`qz` (qz: doc_id, score). q151's OWN oracle keeps
    * its distinct shape (LEFT JOIN + gramless coalesce over ALL docs —
    * the null-defense the others inherit by filtering upstream).
    */
  private def qualityLrScoreCtes(src: String): String = {
    val wRows = graft.ext.QualityLrWeights.weights.zipWithIndex
      .map { case (v, i) => s"($i, $v)" }.mkString(",\n    ")
    val bias = graft.ext.QualityLrWeights.bias
    val nb = graft.ext.QualityLrWeights.nBuckets
    s"""lw(b, wt) AS (VALUES
       |    $wRows),
       |qg AS (SELECT doc_id, unnest(toks ||
       |    [array_to_string(toks[i:i+1], ' ')
       |     for i in generate_series(1, len(toks) - 1)]) AS g
       |  FROM $src),
       |qdb AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % $nb AS b,
       |    count(*) AS n
       |  FROM qg GROUP BY 1, 2),
       |qz AS (SELECT doc_id,
       |    round(1.0 / (1.0 + exp(-(sum(n * wt) / sum(n) + $bias))), 6)
       |      AS score
       |  FROM qdb JOIN lw USING (b) GROUP BY doc_id)""".stripMargin
  }

  /** q153's oracle: BOTH committed artifacts rebuilt in SQL — the
    * classifier score as the weights dot product (the shared
    * [[qualityLrScoreCtes]]) and the subword pricing from the merges
    * (the shared encode) — under q127's naive global-window selection.
    */
  private lazy val learnedGateBudgetOracleSql: String = {
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |m2 AS (SELECT qz.doc_id, qz.score, dtok.n_tokens
       |  FROM qz JOIN dtok USING (doc_id)),
       |c AS (SELECT doc_id, score, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM m2)
       |SELECT doc_id, score, n_tokens FROM c
       |WHERE cum <= $LearnedGateBudget
       |ORDER BY doc_id""".stripMargin
  }

  /** q165's oracle: both committed artifacts rebuilt (the shared encode
    * + classifier CTEs), q65's running-window pack over the LEARNED
    * token counts, per-bin integer micro-score sums (mean = ONE double
    * division — never a float avg; mirrors
    * [[graft.ext.PackOps.curriculumOrder]]'s determinism contract), and
    * the naive global row_number the two-phase Spark plan must equal.
    */
  private lazy val curriculumPackOracleSql: String = {
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |m2 AS (SELECT qz.doc_id, qz.doc_id % 8 AS shard, dtok.n_tokens,
       |    CAST(round(qz.score * 1000000) AS BIGINT) AS sm
       |  FROM qz JOIN dtok USING (doc_id)),
       |c AS (SELECT doc_id, shard, n_tokens, sm,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum FROM m2),
       |b AS (SELECT shard, doc_id, n_tokens, sm,
       |    CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512) AS INTEGER)
       |      AS bin
       |  FROM c),
       |bins AS (SELECT CAST(shard AS INTEGER) AS shard, bin,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    round(CAST(sum(sm) AS DOUBLE) /
       |      (CAST(count(sm) AS DOUBLE) * 1000000), 6) AS bin_score
       |  FROM b GROUP BY shard, bin)
       |SELECT shard, bin, n_docs, n_tokens, bin_score,
       |  CAST(row_number() OVER (ORDER BY bin_score DESC, shard, bin)
       |    AS BIGINT) AS curriculum_pos
       |FROM bins ORDER BY curriculum_pos""".stripMargin
  }

  /** q128: cell assignment mirrors the q31/q115 centroid-literal chain
    * (argmax dot, ties → lowest cell; rn=1 keeps the max dot itself as
    * the cohesion contribution); per-side group-by + full-outer on cell.
    * Shares divide by the side total in one IEEE op on both engines;
    * cohesion sums round at 4 (fold-order jitter ~1e-12 « 5e-5).
    */
  private lazy val embeddingDriftOracleSql: String = {
    val centRows = graft.ext.IvfCentroids.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})" }
      .mkString(",\n    ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id,
       |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u
       |  FROM e0),
       |cents(cell, c) AS (VALUES $centRows),
       |asg AS (SELECT n.vec_id, cents.cell,
       |    list_dot_product(n.u, cents.c) AS d,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.u, cents.c) DESC, cents.cell)
       |      AS rn
       |  FROM n, cents),
       |cc AS (SELECT vec_id, cell, d FROM asg WHERE rn = 1),
       |b AS (SELECT cell, count(*) AS n_before,
       |    round(sum(d), 4) AS coh_before
       |  FROM cc WHERE vec_id % 8 != 0 GROUP BY cell),
       |a AS (SELECT cell, count(*) AS n_after,
       |    round(sum(d), 4) AS coh_after
       |  FROM cc GROUP BY cell),
       |tb AS (SELECT sum(n_before) AS t FROM b),
       |ta AS (SELECT sum(n_after) AS t FROM a)
       |SELECT cell, n_before, n_after,
       |  round(CAST(n_before AS DOUBLE) / tb.t, 6) AS share_before,
       |  round(CAST(n_after AS DOUBLE) / ta.t, 6) AS share_after,
       |  round(COALESCE(CAST(n_after AS DOUBLE) / ta.t, 0) -
       |        COALESCE(CAST(n_before AS DOUBLE) / tb.t, 0), 6)
       |    AS share_delta,
       |  coh_before, coh_after
       |FROM b FULL OUTER JOIN a USING (cell), tb, ta
       |ORDER BY cell""".stripMargin
  }

  /** q129: q59's quality/exact-dedup/near-dup CTEs (verbatim, restricted
    * to the %50≠0 train split) + q63's gram CTEs (eval grams from the RAW
    * %50 split) + q127's naive budget window — each stage's oracle
    * machinery chained exactly as the Spark chain composes the operators.
    */
  private lazy val pretrainRecipeOracleSql: String =
    s"""$recipeCtes
       |SELECT doc_id, quality AS score, n_tokens FROM c
       |WHERE cum <= $RecipeBudget
       |ORDER BY doc_id""".stripMargin

  /** The q129 CTE chain through the budget window, shared with q132's
    * funnel SELECT so the two oracles can never drift.
    */
  private lazy val recipeCtes: String =
    s"""WITH RECURSIVE
       |q0 AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
       |  WHERE doc_id % 50 <> 0),
       |q1 AS (SELECT doc_id, text, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM q0),
       |q2 AS (SELECT doc_id, text, toks,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality
       |  FROM q1),
       |qual AS (SELECT * FROM q2 WHERE quality >= 0.5),
       |keepx AS (SELECT min(doc_id) AS doc_id FROM qual
       |  GROUP BY md5(array_to_string(toks, ' '))),
       |base AS (SELECT q.* FROM qual q JOIN keepx USING (doc_id)),
       |${minHashPairCtes(source = "base")},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |dropids AS (SELECT a AS id FROM rr GROUP BY a HAVING min(b) < a),
       |nk AS (SELECT b.* FROM base b
       |  LEFT JOIN dropids ON b.doc_id = dropids.id
       |  WHERE dropids.id IS NULL),
       |evd AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
       |  WHERE doc_id % 50 = 0),
       |evg AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+2], ' ')
       |    for i in generate_series(1, len(toks) - 2)]) AS g FROM evd),
       |ng AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
       |    for i in generate_series(1, len(toks) - 2)]) AS g FROM nk),
       |hit AS (SELECT DISTINCT ng.doc_id FROM ng JOIN evg USING (g)),
       |surv AS (SELECT nk.doc_id, nk.quality,
       |    CAST(len(nk.toks) AS BIGINT) AS n_tokens
       |  FROM nk LEFT JOIN hit ON nk.doc_id = hit.doc_id
       |  WHERE hit.doc_id IS NULL),
       |c AS (SELECT doc_id, quality, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM surv)""".stripMargin

  /** q132: the same CTE chain, aggregated — 12 integer scalars, zero FP
    * comparison surface.
    */
  private lazy val recipeFunnelOracleSql: String =
    s"""$recipeCtes
       |SELECT
       |  (SELECT count(*) FROM q0) AS n_input,
       |  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM q0)
       |    AS t_input,
       |  (SELECT count(*) FROM qual) AS n_gate,
       |  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM qual)
       |    AS t_gate,
       |  (SELECT count(*) FROM base) AS n_exact,
       |  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM base)
       |    AS t_exact,
       |  (SELECT count(*) FROM nk) AS n_near,
       |  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM nk)
       |    AS t_near,
       |  (SELECT count(*) FROM surv) AS n_clean,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv)
       |    AS t_clean,
       |  (SELECT count(*) FROM c WHERE cum <= $RecipeBudget) AS n_budget,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM c
       |    WHERE cum <= $RecipeBudget) AS t_budget""".stripMargin

  /** q155's oracle: the q129 stage CTEs with the quality gate REBUILT
    * from the committed classifier weights (q151's dot-product CTEs,
    * rounded at 6 before the gate and the ordering) and the pricing
    * REBUILT from the committed merges (the shared [[subwordEncCtes]]) —
    * one green row differentially proves the whole learned stack
    * COMPOSED through gate→exact→near-dup→decontam→budget. Shared with
    * q158's funnel SELECT so the two oracles can never drift.
    */
  private lazy val learnedRecipeCtes: String = {
    s"""WITH RECURSIVE $subwordEncCtes,
       |d2 AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |${qualityLrScoreCtes("d2")},
       |q0 AS (SELECT d.doc_id, d.text,
       |    regexp_split_to_array(lower(d.text), '\\s+') AS toks,
       |    qz.score AS quality, dtok.n_tokens
       |  FROM documents d JOIN qz USING (doc_id) JOIN dtok USING (doc_id)
       |  WHERE d.doc_id % 50 <> 0),
       |qual AS (SELECT * FROM q0
       |  WHERE quality >= ${graft.ext.CalibrationMaps.gateRawCut}),
       |keepx AS (SELECT min(doc_id) AS doc_id FROM qual
       |  GROUP BY md5(array_to_string(toks, ' '))),
       |base AS (SELECT q.* FROM qual q JOIN keepx USING (doc_id)),
       |${minHashPairCtes(source = "base")},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |dropids AS (SELECT a AS id FROM rr GROUP BY a HAVING min(b) < a),
       |nk AS (SELECT b.* FROM base b
       |  LEFT JOIN dropids ON b.doc_id = dropids.id
       |  WHERE dropids.id IS NULL),
       |evd AS (SELECT doc_id,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
       |  WHERE doc_id % 50 = 0 AND text IS NOT NULL),
       |evg AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+2], ' ')
       |    for i in generate_series(1, len(toks) - 2)]) AS g FROM evd),
       |ng AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
       |    for i in generate_series(1, len(toks) - 2)]) AS g FROM nk),
       |hit AS (SELECT DISTINCT ng.doc_id FROM ng JOIN evg USING (g)),
       |surv AS (SELECT nk.doc_id, nk.quality, nk.n_tokens
       |  FROM nk LEFT JOIN hit ON nk.doc_id = hit.doc_id
       |  WHERE hit.doc_id IS NULL),
       |c AS (SELECT doc_id, quality, n_tokens,
       |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM surv)""".stripMargin
  }

  /** The shared packed-stream oracle scaffolding (q156/q160 — extracted
    * after the review flagged two drifting copies, the langIdCtes
    * lesson): per-doc streams reassembled positionally from a per-WORD
    * stream table (a struct comprehension carries the word index
    * through the unnest, since DuckDB's generate_series can't
    * lateral-join a column), then the naive shard/bin window and an
    * ordered per-bin string_agg. The per-word table — `wordTable`
    * providing (w, `wordCol`) — is the ONLY thing the two oracles
    * differ on: piece strings (q156) vs id strings (q160).
    */
  private def packedStreamCtes(wordCtes: String, wordTable: String,
                               wordCol: String): String =
    s"""WITH RECURSIVE $subwordEncCtes,
       |$wordCtes,
       |dw AS (SELECT doc_id, unnest([{'i': i, 'w': toks[i]}
       |      for i in generate_series(1, len(toks))]) AS s
       |  FROM (SELECT doc_id,
       |      regexp_split_to_array(lower(text), '\\s+') AS toks
       |    FROM documents WHERE text IS NOT NULL)),
       |dstr0 AS (SELECT dw.doc_id,
       |    string_agg($wordTable.$wordCol, ' ' ORDER BY dw.s.i) AS ps
       |  FROM dw JOIN $wordTable ON $wordTable.w = dw.s.w
       |  WHERE dw.s.w <> ''
       |  GROUP BY dw.doc_id),
       |dstr AS (SELECT d.doc_id, coalesce(dstr0.ps, '') AS ps,
       |    dtok.n_tokens
       |  FROM documents d
       |  LEFT JOIN dstr0 ON dstr0.doc_id = d.doc_id
       |  JOIN dtok ON dtok.doc_id = d.doc_id
       |  WHERE d.text IS NOT NULL),
       |b AS (SELECT doc_id, ps, n_tokens,
       |  CAST(doc_id % 8 AS INTEGER) AS shard,
       |  CAST(floor((sum(n_tokens) OVER (PARTITION BY doc_id % 8
       |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
       |    / 512.0) AS INTEGER) AS bin
       |  FROM dstr)""".stripMargin

  private def packedStreamOracleSql(wordCtes: String, wordTable: String,
                                    wordCol: String): String =
    packedStreamCtes(wordCtes, wordTable, wordCol) + """
       |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_id, max(doc_id) AS last_id,
       |  string_agg(ps, ' <|doc|> ' ORDER BY doc_id) AS token_stream
       |FROM b GROUP BY shard, bin
       |ORDER BY shard, bin""".stripMargin

  /** q156's oracle: the scaffolding over each word's piece STRING
    * (`trim(state)` — pieces joined by single spaces).
    */
  private lazy val tokenStreamPackOracleSql: String =
    packedStreamOracleSql(
      """wcs AS (SELECT w, trim(state) AS ps FROM enc
        |  WHERE nxt = (SELECT max(rank) FROM merges) + 1)""".stripMargin,
      "wcs", "ps")

  /** q173: q156's per-doc binning CTEs with every offset rebuilt
    * POSITIONALLY — the cumulative (length + 1) window per (shard, bin)
    * in doc_id order, the +1 being the separator token; lengths are the
    * same per-doc piece counts the stream carries.
    */
  private lazy val packBoundariesOracleSql: String =
    packedStreamCtes(
      """wcs AS (SELECT w, trim(state) AS ps FROM enc
        |  WHERE nxt = (SELECT max(rank) FROM merges) + 1)""".stripMargin,
      "wcs", "ps") + """
       |SELECT shard, bin,
       |  CAST(row_number() OVER (PARTITION BY shard, bin
       |    ORDER BY doc_id) AS INT) AS seq,
       |  doc_id,
       |  CAST(sum(n_tokens + 1) OVER (PARTITION BY shard, bin
       |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |    - (n_tokens + 1) AS INT) AS doc_offset,
       |  CAST(n_tokens AS INT) AS doc_len
       |FROM b ORDER BY shard, bin, seq""".stripMargin

  /** q160's oracle: q156's stream reassembly with every piece mapped
    * through the (piece, id) table REBUILT from the committed artifact —
    * the same `Bpe.vocabulary` order as VALUES literals; unknown pieces
    * (always single codepoints — see Bpe.tokenId) fall back to the SAME
    * vocabSize + unicode(piece) rule the Spark side applies, so NO text
    * maps to −1 on either engine.
    */
  private lazy val tokenIdPackOracleSql: String = {
    val vocab = graft.ext.Bpe.vocabulary(graft.ext.BpeMerges.alphabet,
      graft.ext.BpeMerges.merges)
    def esc(s: String) = s.replace("'", "''")
    val vRows = vocab.zipWithIndex
      .map { case (p, i) => s"('${esc(p)}', $i)" }
      .grouped(8).map(g => "    " + g.mkString(", ")).mkString(",\n")
    packedStreamOracleSql(
      s"""v160(piece, id) AS (VALUES
         |$vRows),
         |wp AS (SELECT w, regexp_split_to_array(trim(state), ' ') AS pcs
         |  FROM enc WHERE nxt = (SELECT max(rank) FROM merges) + 1),
         |wpi AS (SELECT w, unnest([{'i': i, 'p': pcs[i]}
         |    for i in generate_series(1, len(pcs))]) AS s FROM wp),
         |wids AS (SELECT w,
         |    string_agg(CAST(coalesce(v160.id,
         |      ${vocab.size} + unicode(wpi.s.p)) AS VARCHAR), ' '
         |      ORDER BY s.i) AS ids
         |  FROM wpi LEFT JOIN v160 ON v160.piece = wpi.s.p
         |  GROUP BY w)""".stripMargin,
      "wids", "ids")
  }

  private lazy val learnedRecipeOracleSql: String =
    s"""$learnedRecipeCtes
       |SELECT doc_id, quality AS score, n_tokens FROM c
       |WHERE cum <= $LearnedRecipeBudget
       |ORDER BY doc_id""".stripMargin

  /** q158: the learned chain's funnel — token mass at every stage in
    * LEARNED subword tokens (the pricing the budget actually spends).
    */
  private lazy val learnedFunnelOracleSql: String =
    s"""$learnedRecipeCtes
       |SELECT
       |  (SELECT count(*) FROM q0) AS n_input,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM q0)
       |    AS t_input,
       |  (SELECT count(*) FROM qual) AS n_gate,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM qual)
       |    AS t_gate,
       |  (SELECT count(*) FROM base) AS n_exact,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM base)
       |    AS t_exact,
       |  (SELECT count(*) FROM nk) AS n_near,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM nk)
       |    AS t_near,
       |  (SELECT count(*) FROM surv) AS n_clean,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM surv)
       |    AS t_clean,
       |  (SELECT count(*) FROM c WHERE cum <= $LearnedRecipeBudget)
       |    AS n_budget,
       |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM c
       |    WHERE cum <= $LearnedRecipeBudget) AS t_budget""".stripMargin

  private lazy val targetMixOracleSql: String = {
    val values = MixTargets.toSeq.sorted
      .map { case (s, t) => s"('$s', ${t * MixBudget})" }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, source,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS n_tok
       |  FROM documents),
       |tw(source, want) AS (VALUES $values),
       |av AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS avail
       |  FROM tok GROUP BY source),
       |r AS (SELECT tw.source, least(1.0, want / avail) AS rate
       |  FROM tw JOIN av ON tw.source = av.source)
       |SELECT doc_id, t.source, CAST(n_tok AS BIGINT) AS n_tok
       |FROM tok t JOIN r ON t.source = r.source
       |WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS STRING)),
       |    1, 8)) AS BIGINT) / 4294967296.0 < rate
       |ORDER BY doc_id""".stripMargin
  }

  /** q130: the oracle re-derives the temperature rates IN SQL — sqrt is
    * correctly rounded on both engines and the normalizer uses an
    * ORDER BY source aggregate, matching the operator's sorted-source
    * left fold bitwise; the rate expression mirrors the Scala op order
    * (((sqrt/den)·budget)/avail) left-associatively.
    */
  private lazy val temperatureMixOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS n_tok
       |  FROM documents),
       |av AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS avail
       |  FROM tok GROUP BY source),
       |den AS (SELECT sum(sqrt(avail) ORDER BY source) AS d FROM av),
       |r AS (SELECT source, CASE WHEN avail = 0 THEN 0.0
       |    ELSE least(1.0,
       |      sqrt(avail) / d * ${TempMixBudget.toDouble} / avail) END AS rate
       |  FROM av, den)
       |SELECT doc_id, t.source, CAST(n_tok AS BIGINT) AS n_tok
       |FROM tok t JOIN r USING (source)
       |WHERE CAST(('0x' || substr(md5('tmix:' || CAST(doc_id AS STRING)),
       |    1, 8)) AS BIGINT) / 4294967296.0 < rate
       |ORDER BY doc_id""".stripMargin

  /** q131: the q27 signature machinery over the full corpus + the q53/q59
    * recursive closure (self-edges give singletons their own label) + the
    * priorityMerge-style two-phase argmax in SQL. Quality equality joins
    * compare 4-dp-rounded doubles — exact on both engines (q59-proven).
    */
  private lazy val bestOfClusterOracleSql: String =
    s"""WITH RECURSIVE
       |t0 AS (SELECT doc_id, text,
       |    regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |t1 AS (SELECT doc_id, toks,
       |  round(CAST(len(list_filter(toks, t -> t IN
       |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
       |    / len(toks), 4) AS stop_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |    AS DOUBLE) / length(text), 4) AS punct_ratio
       |  FROM t0),
       |qx AS (SELECT doc_id,
       |  round(stop_ratio * 0.4 + least(CAST(len(toks) AS DOUBLE) / 100.0,
       |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality
       |  FROM t1),
       |${minHashPairCtes()},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |  UNION SELECT doc_id, doc_id FROM d),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |cmp AS (SELECT a AS doc_id, min(b) AS comp FROM rr GROUP BY a),
       |m AS (SELECT c.comp, q.doc_id, q.quality FROM cmp c
       |  JOIN qx q USING (doc_id)),
       |b AS (SELECT comp, max(quality) AS best, count(*) AS n_members
       |  FROM m GROUP BY comp),
       |k AS (SELECT m.comp, b.n_members, min(m.doc_id) AS doc_id
       |  FROM m JOIN b ON m.comp = b.comp AND m.quality = b.best
       |  GROUP BY m.comp, b.n_members)
       |SELECT k.doc_id, q.quality, k.comp, k.n_members
       |FROM k JOIN qx q USING (doc_id)
       |ORDER BY k.doc_id""".stripMargin

  /** q133/q134 shared schedule CTEs: base/remainder split in exact
    * integer arithmetic (`//`), the remainder prefix via the naive
    * per-source window over (coin, id) order — the operator's coin-bucket
    * histogram path must land on the identical schedule (bucket = coin
    * prefix, so bucket-then-coin order IS coin order). Zero float surface.
    */
  private lazy val repScheduleCtes: String = {
    val values = RepTargets.toSeq.sorted
      .map { case (s2, t2) => s"('$s2', $t2)" }.mkString(", ")
    s"""tok AS (SELECT doc_id, source,
       |    len(regexp_split_to_array(lower(text), '\\s+')) AS n_tok,
       |    md5('rep:' || CAST(doc_id AS STRING)) AS coin
       |  FROM documents),
       |tv(source, target) AS (VALUES $values),
       |av AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS supply
       |  FROM tok GROUP BY source),
       |sp AS (SELECT tv.source, target, supply,
       |    CASE WHEN supply = 0 THEN 0 ELSE target // supply END AS base
       |  FROM tv JOIN av USING (source)),
       |sp2 AS (SELECT source, base, target - base * supply AS rem FROM sp),
       |c AS (SELECT t.doc_id, t.source, t.n_tok,
       |    sum(t.n_tok) OVER (PARTITION BY t.source
       |      ORDER BY t.coin, t.doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM tok t JOIN tv USING (source)),
       |sched AS (SELECT c.doc_id, c.source, c.n_tok,
       |    sp2.base + CASE WHEN c.cum <= sp2.rem THEN 1 ELSE 0 END
       |      AS n_repeats
       |  FROM c JOIN sp2 USING (source))""".stripMargin
  }

  private lazy val repetitionOracleSql: String =
    s"""WITH $repScheduleCtes
       |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
       |  CAST(n_repeats AS BIGINT) AS n_repeats
       |FROM sched ORDER BY doc_id""".stripMargin

  /** q135's swept thresholds — 0.5 is the candidate floor (pairs are
    * generated once there), 1.0 exercises the exact-agreement tail, and
    * any point nothing survives must still emit a zero row.
    */
  private[graft] val SweepThresholds: Seq[Double] =
    Seq(0.5, 0.7, 0.8, 0.9, 1.0)

  /** q135: the q27 pair CTEs (NO floor — `scored` carries every banded
    * candidate), a VALUES threshold axis, and the naive per-threshold
    * join — pair counts and UNION-distinct doc counts; left joins keep
    * empty thresholds at 0.
    */
  private lazy val thresholdSweepOracleSql: String = {
    val values = SweepThresholds
      .map(t2 => s"(CAST($t2 AS DOUBLE))").mkString(", ")
    s"""WITH ${minHashPairCtes()},
       |th(threshold) AS (VALUES $values),
       |f AS (SELECT th.threshold, s.id_a, s.id_b FROM th
       |  JOIN scored s ON s.jaccard >= th.threshold),
       |pc AS (SELECT threshold, count(*) AS n_pairs FROM f
       |  GROUP BY threshold),
       |u AS (SELECT threshold, id_a AS id FROM f
       |  UNION SELECT threshold, id_b FROM f),
       |dc AS (SELECT threshold, count(*) AS n_docs FROM u
       |  GROUP BY threshold)
       |SELECT th.threshold,
       |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(dc.n_docs, 0) AS BIGINT) AS n_docs
       |FROM th LEFT JOIN pc USING (threshold)
       |LEFT JOIN dc USING (threshold)
       |ORDER BY th.threshold""".stripMargin
  }

  /** q134: the schedule expanded instance-per-repeat (generate_series),
    * per-instance epoch coin, q94's hex-prefix shard, q65's running-window
    * bin — every stage the naive global-window way; the operator's
    * manifest-only expansion must land on the identical layout.
    */
  private lazy val epochPackOracleSql: String =
    s"""WITH $repScheduleCtes,
       |inst AS (SELECT doc_id, source, n_tok,
       |    unnest(generate_series(1, CAST(n_repeats AS BIGINT)))
       |      AS rep_idx
       |  FROM sched WHERE n_repeats > 0),
       |ic AS (SELECT doc_id, source, n_tok, rep_idx,
       |    md5('12:' || CAST(doc_id AS STRING) || ':' ||
       |      CAST(rep_idx AS STRING)) AS ec
       |  FROM inst),
       |sh AS (SELECT doc_id, source, n_tok, rep_idx, ec,
       |    CAST(CAST(('0x' || substr(ec, 1, 8)) AS BIGINT) % 8 AS INT)
       |      AS shard
       |  FROM ic),
       |p AS (SELECT doc_id, source, n_tok, rep_idx, shard,
       |    sum(n_tok) OVER (PARTITION BY shard
       |      ORDER BY ec, doc_id, rep_idx ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sh)
       |SELECT doc_id, source, CAST(rep_idx AS BIGINT) AS rep_idx,
       |  CAST(n_tok AS BIGINT) AS n_tok, shard,
       |  CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512) AS INTEGER) AS bin
       |FROM p ORDER BY doc_id, rep_idx""".stripMargin

  /** q63 AND q92 verbatim: both decontamination formulations (exact
    * broadcast join; Bloom prefilter + exact confirm) claim the same
    * output, so sharing one oracle text IS the identity proof the
    * driver checks.
    */
  private lazy val decontamOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
      |    for i in generate_series(1, len(toks) - 2)]) AS g FROM d),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
      |tg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 50 <> 0),
      |h AS (SELECT doc_id, count(*) AS nh FROM tg JOIN ev USING (g)
      |  GROUP BY doc_id)
      |SELECT t.doc_id, CAST(coalesce(nh, 0) AS BIGINT) AS n_hit_grams,
      |  coalesce(nh, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM d WHERE doc_id % 50 <> 0) t
      |LEFT JOIN h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q162's oracle: the q63 gram CTEs viewed from the EVAL side — per
    * eval doc, distinct grams vs grams present in the train gram set;
    * gramless eval docs (fewer than k tokens, or null text) keep
    * n_grams = 0 with a NULL fraction on both engines.
    */
  private lazy val evalOverlapOracleSql: String =
    """WITH d AS (SELECT doc_id,
      |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
      |    for i in generate_series(1, len(toks) - 2)]) AS g FROM d),
      |evg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 50 = 0),
      |trg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 <> 0),
      |hit AS (SELECT DISTINCT evg.g FROM evg JOIN trg USING (g)),
      |per AS (SELECT evg.doc_id, count(*) AS n_grams,
      |    count(hit.g) AS n_hit
      |  FROM evg LEFT JOIN hit ON hit.g = evg.g
      |  GROUP BY evg.doc_id)
      |SELECT e.doc_id,
      |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(per.n_hit, 0) AS BIGINT) AS n_hit,
      |  CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
      |    round(CAST(per.n_hit AS DOUBLE) / per.n_grams, 4)
      |  END AS overlap_frac
      |FROM (SELECT doc_id FROM d WHERE doc_id % 50 = 0) e
      |LEFT JOIN per USING (doc_id)
      |ORDER BY e.doc_id""".stripMargin

  /** q72: the minhash pair CTEs + recursive closure give each doc its
    * min-reachable component label (the hash-min fixpoint, as in q53/q56);
    * the split coin is the q57 md5-nibble applied to that label.
    */
  private lazy val leakageSplitOracleSql: String =
    s"""WITH RECURSIVE ${minHashPairCtes()},
       |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |  UNION SELECT id_b, id_a FROM p
       |  UNION SELECT doc_id, doc_id FROM d),
       |rr(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       |comp AS (SELECT a AS doc_id, min(b) AS comp FROM rr GROUP BY a),
       |sp AS (SELECT doc_id, comp,
       |  CASE WHEN CAST(('0x' || substring(md5(CAST(comp AS VARCHAR)), 1, 1))
       |      AS INTEGER) < 13
       |    THEN 'train' ELSE 'val' END AS split FROM comp)
       |SELECT split, count(*) AS n_docs, count(DISTINCT comp) AS n_clusters
       |FROM sp GROUP BY split ORDER BY split""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q72_leakage_split" -> leakageSplitOracleSql,
    "q59_clean_corpus" -> cleanCorpusOracleSql,
    "q21_token_stats" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS bpe
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(bpe) AS INTEGER) AS n_bpe,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr
        |FROM d ORDER BY doc_id""".stripMargin,
    "q22_quality_score" ->
      """WITH d AS (SELECT doc_id, text,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  round(CAST(len(list_filter(toks, t -> t IN
        |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |    / len(toks), 4) AS stop_ratio,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |    AS DOUBLE) / length(text), 4) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(toks), 4) AS avg_tok_len,
        |  len(toks) AS n_toks
        |  FROM d)
        |SELECT doc_id, len_chars, stop_ratio, punct_ratio, avg_tok_len,
        |  round(stop_ratio * 0.4 + least(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
        |    * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "q23_lang_id" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_distinct(regexp_split_to_array(lower(text), '\s+')) AS dt
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_intersect(dt, ['der','die','und','ist','das','nicht','ein'])) AS c_de,
        |  len(list_intersect(dt, ['the','a','of','and','is','to','in'])) AS c_en,
        |  len(list_intersect(dt, ['el','la','de','que','y','es','un'])) AS c_es,
        |  len(list_intersect(dt, ['le','la','et','les','des','est','un'])) AS c_fr,
        |  len(list_intersect(dt, ['的','是','了','在','我','有','不'])) AS c_zh
        |  FROM d)
        |SELECT doc_id, lang,
        |  CASE WHEN c_de = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'de'
        |       WHEN c_en = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'en'
        |       WHEN c_es = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'es'
        |       WHEN c_fr = greatest(c_de,c_en,c_es,c_fr,c_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q24_fingerprint" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  md5(array_to_string(toks, ' ')) AS fp,
        |  list_aggregate([md5(array_to_string(toks[i:i+4], ' '))
        |    for i in generate_series(1, len(toks) - 4)], 'min')
        |    AS min_shingle_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    "q25_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  md5(array_to_string(regexp_split_to_array(lower(text), '\s+'), ' '))
        |    AS fp
        |FROM documents
        |GROUP BY fp
        |ORDER BY keep_id""".stripMargin,
    "q26_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 40),
        |s AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in generate_series(1, len(toks) - 2)]) AS sh
        |  FROM d WHERE len(toks) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        |    AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    // q113: same feature family (unigrams ∪ bigrams), same md5-hex-prefix
    // bucket hash (% 256 == pmod: the 8-hex-char value is nonnegative),
    // IDENTICAL smoothing arithmetic order: ln((ct+1)/(tt+256)) -
    // ln((cr+1)/(rt+256)). Mirrors the operator's collapsed-count shape:
    // per-(doc, bucket) occurrence counts feed one shared histogram
    // (conditional target count) and the per-doc weight is sum(n·lr) —
    // the identical multiply, not an occurrence-wise re-sum. Anchored on
    // documents with LEFT JOINs throughout so null-text docs keep their
    // (0, NULL) row exactly like the Spark operator; tt coalesces to 0
    // so an empty target slice stays finite on both engines.
    "q113_dsir_weights" ->
      """WITH d AS (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, lang, unnest(toks ||
        |    [array_to_string(toks[i:i+1], ' ')
        |     for i in generate_series(1, len(toks) - 1)]) AS g
        |  FROM d),
        |db AS (SELECT doc_id, lang = 'en' AS tgt,
        |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b,
        |    count(*) AS n
        |  FROM g GROUP BY 1, 2, 3),
        |cnt AS (SELECT b, sum(n) AS cr,
        |    sum(CASE WHEN tgt THEN n ELSE 0 END) AS ct
        |  FROM db GROUP BY b),
        |tots AS (SELECT coalesce(CAST(sum(cr) AS DOUBLE), 0.0) AS rt,
        |    coalesce(CAST(sum(ct) AS DOUBLE), 0.0) AS tt FROM cnt),
        |lr AS (SELECT b,
        |    ln((ct + 1) / (tt + 256)) - ln((cr + 1) / (rt + 256)) AS lr
        |  FROM cnt CROSS JOIN tots),
        |agg AS (SELECT doc_id, sum(n) AS n_feats,
        |    round(sum(n * lr), 4) AS log_w
        |  FROM db LEFT JOIN lr USING (b) GROUP BY doc_id)
        |SELECT dd.doc_id, CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
        |  log_w
        |FROM documents dd LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q151: the committed weights as a VALUES table (Double.toString
    // round-trips exactly through both parsers — the q31 centroid
    // trick); feature map and bucket hash are q113's verbatim; the
    // score is sum(n·w)/sum(n) + bias through the same σ, rounded at 6
    // (fold-order and libm-exp jitter ~1e-15 « 5e-7). A null-text doc
    // keeps a NULL score like the Spark expression.
    "q151_quality_classifier" -> qualityLrOracleSql,
    "q175_calibration_report" -> calibrationReportOracleSql,
    "q183_langid_calibration" -> langIdCalibrationOracleSql,
    "q184_calibrated_selection" -> calibratedSelectionOracleSql,
    "q186_per_lang_gated_selection" -> perLangGatedSelectionOracleSql,
    "q187_gate_accuracy_by_lang" -> gateAccuracyByLangOracleSql,
    "q188_mixture_per_lang_scored" -> mixturePerLangScoredOracleSql,
    "q189_per_lang_gate_calibration" -> perLangGateCalibrationOracleSql,
    "q190_gate_delta_significance" -> gateDeltaSignificanceOracleSql,
    "q191_calibration_staleness" -> calibrationStalenessOracleSql,
    "q192_heldout_calibration" -> heldoutCalibrationOracleSql,
    "q193_heldout_gate_accuracy" -> heldoutGateAccuracyOracleSql,
    "q194_und_gated_selection" -> undGatedSelectionOracleSql,
    "q195_fertility_delta_significance" ->
      fertilityDeltaSignificanceOracleSql,
    "q196_fusion_delta_significance" ->
      fusionDeltaSignificanceOracleSql,
    "q154_language_id" -> langIdOracleSql,
    "q157_language_id_reject" -> langIdRejectOracleSql,
    "q159_fertility_by_lang" -> fertilityByLangOracleSql,
    "q161_budget_by_predicted_lang" -> budgetByPredictedLangOracleSql,
    "q174_budget_per_lang_priced" -> budgetPerLangPricedOracleSql,
    "q177_fertility_per_lang_priced" -> fertilityPerLangPricedOracleSql,
    "q197_fertility_large_vocab" -> fertilityLargeVocabOracleSql,
    "q181_per_lang_allocated" -> perLangAllocatedOracleSql,
    // q112: keep rule = first token of every run (prev IS NULL OR w <>
    // prev, with prev read straight from the token array — no window);
    // string_agg's ORDER BY i skips the CASE's NULLs like the Spark
    // side's collect_list does. Anchored on documents with a LEFT JOIN:
    // a null-text doc has no token rows (unnest over a NULL array) but
    // the Spark posexplode_outer keeps its row as (0, 0, NULL).
    "q112_run_collapse" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, toks[i] AS w, i,
        |    CASE WHEN i > 1 THEN toks[i-1] END AS prev
        |  FROM d, unnest(generate_series(1, len(toks))) AS s(i)),
        |agg AS (SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN prev IS NULL OR w <> prev THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  string_agg(CASE WHEN prev IS NULL OR w <> prev THEN w END, ' '
        |    ORDER BY i) AS clean_text
        |FROM tok GROUP BY doc_id)
        |SELECT dd.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |  coalesce(n_kept, 0) AS n_kept, clean_text
        |FROM documents dd LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q62_repetition" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |top AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4)
        |    AS top_tok_frac
        |  FROM (SELECT doc_id, t, count(*) AS c
        |        FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        |        GROUP BY doc_id, t)
        |  GROUP BY doc_id),
        |m AS (SELECT d.doc_id,
        |  CASE WHEN len(toks) - 1 > 0 THEN round(1.0 -
        |    CAST(len(list_distinct([array_to_string(toks[i:i+1], ' ')
        |      for i in generate_series(1, len(toks) - 1)])) AS DOUBLE)
        |    / (len(toks) - 1), 4) END AS dup_2gram_frac,
        |  CASE WHEN len(toks) - 2 > 0 THEN round(1.0 -
        |    CAST(len(list_distinct([array_to_string(toks[i:i+2], ' ')
        |      for i in generate_series(1, len(toks) - 2)])) AS DOUBLE)
        |    / (len(toks) - 2), 4) END AS dup_3gram_frac,
        |  top_tok_frac
        |  FROM d JOIN top USING (doc_id))
        |SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_tok_frac,
        |  (top_tok_frac > 0.14 OR dup_2gram_frac > 0.07
        |    OR dup_3gram_frac > 0.02) AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin,
    // q93: the shared signature CTEs (d…bands — DuckDB ignores the
    // unreferenced all-pairs cand/scored), then batch×corpus collisions
    // only; recomputed from raw on BOTH sides, so the persisted store's
    // faithfulness is what the diff proves
    "q93_incremental_ingest" ->
      s"""WITH ${minHashPairCtes()},
         |icand AS (SELECT DISTINCT a.doc_id AS doc_id,
         |    b.doc_id AS corpus_id, a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
         |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
         |iscored AS (SELECT doc_id, corpus_id,
         |    round(len([i for i in generate_series(1, 16)
         |      if sig_a[i] = sig_b[i]]) / 16.0, 4) AS jaccard
         |  FROM icand),
         |ih AS (SELECT doc_id, count(*) AS n_dups FROM iscored
         |  WHERE jaccard >= 0.8 GROUP BY doc_id)
         |SELECT t.doc_id, CAST(coalesce(n_dups, 0) AS BIGINT) AS n_dups,
         |  coalesce(n_dups, 0) > 0 AS dup
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) t
         |LEFT JOIN ih USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q97_exact_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    md5('3:' || CAST(doc_id AS STRING)) AS c
        |  FROM documents ORDER BY c, doc_id LIMIT 40)
        |ORDER BY doc_id""".stripMargin,
    // n_keys counts the grouped rows (NULL is a key — a null join key is
    // a classic skew bucket and must show up in the diagnostic), so the
    // oracle derives it from pk, NOT count(DISTINCT) which drops NULLs
    // NULLS LAST spelled out (DuckDB's asc default, Spark's is FIRST —
    // the topN cut must slice identically when a NULL key ties on n)
    "q96_key_skew" ->
      """WITH pk AS (SELECT user_id, count(*) AS n FROM events
        |  GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
        |    count(*) AS n_keys FROM pk)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  CAST(total_rows AS BIGINT) AS total_rows,
        |  CAST(n_keys AS BIGINT) AS n_keys
        |FROM pk, t ORDER BY n DESC, user_id NULLS LAST LIMIT 10""".stripMargin,
    // the plain join IS the oracle: a correct salt is result-invisible
    "q100_skew_aware_join" ->
      """WITH ev AS (SELECT event_id,
        |    CASE WHEN user_id < 100 THEN 0 ELSE user_id END AS uid, value
        |  FROM events),
        |dim AS (SELECT DISTINCT uid, uid % 7 AS cohort FROM ev)
        |SELECT d.cohort, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(e.value), 2) AS sum_value
        |FROM ev e JOIN dim d ON e.uid = d.uid
        |GROUP BY d.cohort ORDER BY d.cohort""".stripMargin,
    "q102_video_neardup" -> videoNearDupOracleSql,
    // three modality pair pipelines at one id bound, unioned into edges,
    // closed transitively (the q56 oracle pattern), min-reachable drop
    "q103_multimodal_dedup" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT id_a, id_b FROM (${indent(imagePairSql(200, maxHamming = 4))})
         |  UNION SELECT id_a, id_b FROM (${indent(audioPairSql(200, maxHamming = 4))})
         |  UNION SELECT id_a, id_b FROM (${indent(videoPairSql(200))})
         |),
         |e AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |rr(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
         |dropids AS (SELECT a AS id FROM rr GROUP BY a HAVING min(b) < a)
         |SELECT d.doc_id, d.source FROM documents d
         |LEFT JOIN dropids ON d.doc_id = dropids.id
         |WHERE dropids.id IS NULL AND d.doc_id < 200
         |ORDER BY d.doc_id""".stripMargin,
    // mirrors syntheticSample + audioEnvHash64 + bandedHammingPairs:
    // period-3 carrier × group-keyed per-window amplitude × volume
    // class + sparse bump; 32-frame windows (t // 32) are exactly the
    // hash's 65 box slots on the 2080-frame clip; same bit-63 / band
    // treatment as q99
    "q101_audio_neardup" -> audioPairSql(300),
    // mirrors syntheticPixel + dhash64 + bandedHammingPairs exactly:
    // 18×16 grayscale (luma = v), 2×2 box averages into the 9×8 grid,
    // bit (gy·8+gx) = grid(gx) > grid(gx+1); bit 63 lands as BIGINT min
    // (two's complement — DuckDB refuses 1<<63), bands are arithmetic
    // shiftright + mask in BOTH engines
    "q99_image_neardup" -> imagePairSql(300),
    "q94_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |    md5('7:' || CAST(doc_id AS STRING)) AS c FROM documents),
        |s AS (SELECT doc_id, c,
        |    CAST(CAST(('0x' || substr(c, 1, 8)) AS BIGINT) % 8 AS INT)
        |      AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY c, doc_id)
        |    AS INT) AS ord
        |FROM s ORDER BY doc_id""".stripMargin,
    "q95_target_mix" -> targetMixOracleSql,
    "q63_decontam" -> decontamOracleSql,
    "q162_eval_overlap" -> evalOverlapOracleSql,
    // q92 claims OUTPUT-identity with q63 (Bloom prefilter + exact
    // confirm ≡ exact join), so it shares the oracle verbatim
    "q92_bloom_decontam" -> decontamOracleSql,
    "q64_quality_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |  round(CAST(len(list_filter(toks, t -> t IN
        |    ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |    / len(toks), 4) AS stop_ratio,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        |    AS DOUBLE) / length(text), 4) AS punct_ratio,
        |  len(toks) AS n_toks
        |  FROM d),
        |q AS (SELECT doc_id,
        |  round(stop_ratio * 0.4 + least(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
        |    * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality FROM r),
        |b AS (SELECT doc_id, quality,
        |  CASE WHEN quality >= 0.55 THEN 'high'
        |       WHEN quality >= 0.45 THEN 'mid' ELSE 'low' END AS band FROM q)
        |SELECT band, count(*) AS n_kept,
        |  min(quality) AS min_q, max(quality) AS max_q
        |FROM b
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |    AS INTEGER) <
        |  CASE band WHEN 'high' THEN 16 WHEN 'mid' THEN 8 ELSE 2 END
        |GROUP BY band ORDER BY band""".stripMargin,
    "q27_minhash_neardup" -> minHashOracleSql,
    "q56_neardup_dedup" -> nearDupDedupOracleSql,
    "q85_lsh_cc" -> lshCcOracleSql,
    "q86_cached_pairs" -> cachedPairsOracleSql,
    "q87_unified_windows" ->
      """SELECT time_bucket(INTERVAL '1 day', ts) AS w_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin,
    "q65_seq_packing" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |b AS (SELECT shard, doc_id, n_tok,
        |    CAST(floor(CAST(cum - n_tok AS DOUBLE) / 512) AS INTEGER) AS bin
        |  FROM c)
        |SELECT CAST(shard AS INTEGER) AS shard, bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    "q73_salted_join" ->
      """SELECT c.c_nationkey, count(*) AS n_orders,
        |  round(sum(o.o_totalprice), 2) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_nationkey
        |ORDER BY c.c_nationkey""".stripMargin,
    "q71_priority_merge" ->
      """WITH d AS (SELECT doc_id, source,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |kf AS (SELECT doc_id, source,
        |    coalesce(list_aggregate([md5(array_to_string(toks[i:i+4], ' '))
        |      for i in generate_series(1, len(toks) - 4)], 'min'),
        |      md5(array_to_string(toks, ' '))) AS fp FROM d),
        |b AS (SELECT fp, min(source) AS src, count(*) AS n_copies
        |  FROM kf GROUP BY fp),
        |k AS (SELECT kf.fp, b.src AS source, b.n_copies,
        |    min(kf.doc_id) AS keep_id
        |  FROM kf JOIN b ON kf.fp = b.fp
        |    AND kf.source IS NOT DISTINCT FROM b.src
        |  GROUP BY kf.fp, b.src, b.n_copies)
        |SELECT keep_id, source, CAST(n_copies AS BIGINT) AS n_copies, fp
        |FROM k ORDER BY keep_id""".stripMargin,
    // q107: train counts from the %3!=0 split, held-out scoring of %3==0;
    // score arithmetic is written with IDENTICAL operation order on both
    // sides ((c+1)/(T+V), c2/c1, 0.4*(…)) so the doubles agree before the
    // single 4-digit rounding
    "q107_lm_backoff" ->
      """WITH tr AS (SELECT regexp_split_to_array(lower(text), '\s+') AS toks
        |    FROM documents WHERE doc_id % 3 <> 0),
        |trt AS (SELECT unnest(toks) AS t FROM tr),
        |uni AS (SELECT t, count(*) AS c1 FROM trt GROUP BY t),
        |st AS (SELECT CAST(sum(c1) AS DOUBLE) AS total,
        |    CAST(count(*) AS DOUBLE) AS vocab FROM uni),
        |bg AS (SELECT b, count(*) AS c2 FROM (
        |    SELECT array_to_string(toks[i:i+1], ' ') AS b
        |    FROM tr, unnest(generate_series(1, len(toks) - 1)) AS s(i))
        |  GROUP BY b),
        |sd AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |    FROM documents WHERE doc_id % 3 = 0),
        |tok AS (SELECT doc_id, toks[i] AS w,
        |    CASE WHEN i > 1 THEN toks[i-1] END AS p
        |  FROM sd, unnest(generate_series(1, len(toks))) AS s(i)),
        |j AS (SELECT tok.doc_id, tok.w, tok.p, u1.c1 AS cw, u2.c1 AS cp,
        |    bg.c2 AS c2, st.total, st.vocab
        |  FROM tok LEFT JOIN uni u1 ON tok.w = u1.t
        |    LEFT JOIN uni u2 ON tok.p = u2.t
        |    LEFT JOIN bg ON tok.p || ' ' || tok.w = bg.b
        |    CROSS JOIN st),
        |sc AS (SELECT doc_id, CASE
        |    WHEN p IS NULL THEN (coalesce(cw, 0) + 1) / (total + vocab)
        |    WHEN c2 IS NOT NULL THEN c2 / cp
        |    ELSE 0.4 * ((coalesce(cw, 0) + 1) / (total + vocab)) END AS s
        |  FROM j),
        |per AS (SELECT doc_id, count(*) AS n_toks,
        |    round(sum(ln(s)) / count(*), 4) AS avg_logp
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_toks, avg_logp, avg_logp < -3.5 AS lm_outlier
        |FROM per ORDER BY doc_id""".stripMargin,
    // q110: q107's LM chain with train = %3!=0 and score = ALL docs, then
    // disc-quantile thirds from the avg_logp histogram. The cum window
    // runs over DISTINCT avg_logp values (GROUP BY), so rows-vs-range
    // frame semantics can't diverge; floor((n+2)/3) is ceil(n/3) and both
    // engines divide integers to double before the floor. Null-score docs
    // are excluded from the histogram and the count (NULLS FIRST here vs
    // NULLS LAST in Spark's window would otherwise shift the thresholds),
    // get an explicit 'null' bucket, and the final select anchors on
    // documents so they keep their row like the Spark operator.
    "q110_ppl_buckets" ->
      """WITH tr AS (SELECT regexp_split_to_array(lower(text), '\s+') AS toks
        |    FROM documents WHERE doc_id % 3 <> 0),
        |trt AS (SELECT unnest(toks) AS t FROM tr),
        |uni AS (SELECT t, count(*) AS c1 FROM trt GROUP BY t),
        |st AS (SELECT CAST(sum(c1) AS DOUBLE) AS total,
        |    CAST(count(*) AS DOUBLE) AS vocab FROM uni),
        |bg AS (SELECT b, count(*) AS c2 FROM (
        |    SELECT array_to_string(toks[i:i+1], ' ') AS b
        |    FROM tr, unnest(generate_series(1, len(toks) - 1)) AS s(i))
        |  GROUP BY b),
        |sd AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |    FROM documents),
        |tok AS (SELECT doc_id, toks[i] AS w,
        |    CASE WHEN i > 1 THEN toks[i-1] END AS p
        |  FROM sd, unnest(generate_series(1, len(toks))) AS s(i)),
        |j AS (SELECT tok.doc_id, tok.w, tok.p, u1.c1 AS cw, u2.c1 AS cp,
        |    bg.c2 AS c2, st.total, st.vocab
        |  FROM tok LEFT JOIN uni u1 ON tok.w = u1.t
        |    LEFT JOIN uni u2 ON tok.p = u2.t
        |    LEFT JOIN bg ON tok.p || ' ' || tok.w = bg.b
        |    CROSS JOIN st),
        |sc AS (SELECT doc_id, CASE
        |    WHEN p IS NULL THEN (coalesce(cw, 0) + 1) / (total + vocab)
        |    WHEN c2 IS NOT NULL THEN c2 / cp
        |    ELSE 0.4 * ((coalesce(cw, 0) + 1) / (total + vocab)) END AS s
        |  FROM j),
        |per AS (SELECT doc_id, count(*) AS n_toks,
        |    round(sum(ln(s)) / count(*), 4) AS avg_logp
        |  FROM sc GROUP BY doc_id),
        |hist AS (SELECT avg_logp, count(*) AS c FROM per
        |  WHERE avg_logp IS NOT NULL GROUP BY avg_logp),
        |cum AS (SELECT avg_logp, sum(c) OVER (ORDER BY avg_logp) AS cm
        |  FROM hist),
        |nn AS (SELECT count(avg_logp) AS n FROM per),
        |thr AS (SELECT
        |    min(CASE WHEN cm >= floor((n + 2) / 3) THEN avg_logp END) AS t1,
        |    min(CASE WHEN cm >= floor((n * 2 + 2) / 3) THEN avg_logp END)
        |      AS t2
        |  FROM cum CROSS JOIN nn)
        |SELECT dd.doc_id, coalesce(n_toks, 0) AS n_toks, avg_logp,
        |  CASE WHEN avg_logp IS NULL THEN 'null'
        |       WHEN avg_logp <= t1 THEN 'tail'
        |       WHEN avg_logp <= t2 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM documents dd LEFT JOIN per USING (doc_id) CROSS JOIN thr
        |ORDER BY doc_id""".stripMargin,
    "q70_lm_score" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
        |f AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |sc AS (SELECT doc_id, count(*) AS n_toks,
        |    round(sum(ln(c / total)) / count(*), 4) AS avg_logp
        |  FROM tok JOIN f USING (t) CROSS JOIN n GROUP BY doc_id)
        |SELECT doc_id, n_toks, avg_logp, avg_logp < -3.43 AS lm_outlier
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q69_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        |  FROM documents),
        |v AS (SELECT t FROM (SELECT t, count(*) AS n FROM tok GROUP BY t
        |  ORDER BY n DESC, t LIMIT 25)),
        |a AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oov
        |  FROM tok LEFT JOIN v USING (t) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  round(CAST(n_oov AS DOUBLE) / n_tokens, 4) AS oov_rate
        |FROM a ORDER BY doc_id""".stripMargin,
    "q67_chunk_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |ch0 AS (SELECT doc_id, unnest([{'pos': j - 1,
        |      'chunk': array_to_string(toks[(j-1)*8+1 : least(j*8, len(toks))],
        |        ' ')}
        |    for j in generate_series(1,
        |      CAST(ceil(len(toks) / 8.0) AS INTEGER))]) AS c
        |  FROM d),
        |ch AS (SELECT doc_id, c.pos AS pos, c.chunk AS chunk,
        |    md5(c.chunk) AS fp FROM ch0),
        |f AS (SELECT fp, min(doc_id*1000000 + pos) AS fk FROM ch GROUP BY fp),
        |kept AS (SELECT ch.doc_id, ch.pos, ch.chunk FROM ch JOIN f
        |  ON ch.fp = f.fp AND ch.doc_id*1000000 + ch.pos = f.fk),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |nc AS (SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS BIGINT)
        |    AS n_chunks FROM d)
        |SELECT nc.doc_id, nc.n_chunks,
        |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept, agg.clean_text
        |FROM nc LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q68_domain_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(lower(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
        |    max(n_tokens) AS mx FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / tot, 6) AS tok_frac,
        |  round(sqrt(CAST(n_tokens AS DOUBLE) / mx), 6) AS samp_boost
        |FROM s, t ORDER BY source""".stripMargin,
    "q66_int8_quant" ->
      // the scale > 0 guards mirror the kernel's zero/empty-vector branch
      // ([0,0,0]); without them DuckDB's 0.0/0.0 → NULL poisons the error
      // list and list_dot_product rejects NULL elements
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |s AS (SELECT vec_id, emb,
        |    coalesce(list_max([abs(x) for x in emb]), 0) / 127 AS scale
        |  FROM e),
        |err AS (SELECT vec_id, scale, len(emb) AS n,
        |    CASE WHEN scale > 0 THEN
        |      [abs(floor(x / scale + 0.5) * scale - x) for x in emb]
        |    END AS er
        |  FROM s)
        |SELECT vec_id, round(scale, 8) AS scale,
        |  CASE WHEN scale > 0 THEN round(list_aggregate(er, 'max'), 8)
        |       ELSE 0.0 END AS max_abs_err,
        |  CASE WHEN scale > 0 THEN round(sqrt(list_dot_product(er, er) / n), 8)
        |       ELSE 0.0 END AS rmse
        |FROM err ORDER BY vec_id""".stripMargin,
    "q52_ann_lsh" -> lshOracleSql,
    "q31_ann_ivf" -> ivfOracleSql,
    "q104_semantic_dedup" -> semanticDedupOracleSql,
    "q114_pq_ann" -> pqAnnOracleSql,
    "q115_ivf_pq_ann" -> ivfPqOracleSql,
    // q117 persisted-index ≡ q115 inline encode ≡ q120 fully-store-backed,
    // provably (shared query tail) — one oracle serves all three, the q98
    // pattern
    "q117_ann_index_store" -> ivfPqOracleSql,
    // q143: a correct migration is indistinguishable from a fresh build
    // under the new literals — q115's oracle pins the re-encode + swap
    "q143_ann_reencode" -> ivfPqOracleSql,
    "q120_ann_store_fetch" -> ivfPqOracleSql,
    "q136_ann_recall" -> annRecallOracleSql,
    "q137_ann_recall_sweep" -> annRecallSweepOracleSql,
    "q138_ann_index_staleness" -> annStalenessOracleSql,
    "q139_ann_recall_grid" -> annRecallGridOracleSql,
    // q141: the A-ES key rebuilt verbatim — first 12 coin hex chars to
    // u = (n+1)/16^12 (exact in a double), key = round(ln(u)/w, 6),
    // rank (key DESC, doc_id) — 16^12 = 281474976710656
    "q141_weighted_sample" ->
      """WITH w AS (SELECT doc_id, source, n_chars,
        |    (CAST(('0x' || substr(md5('wes:7:' || CAST(doc_id AS STRING)),
        |      1, 12)) AS BIGINT) + 1) / 281474976710656.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0),
        |kye AS (SELECT doc_id, source, n_chars,
        |    round(ln(u) / CAST(n_chars AS DOUBLE), 6) AS key FROM w),
        |r AS (SELECT doc_id, source, n_chars, row_number() OVER (
        |    ORDER BY key DESC, doc_id) AS rn FROM kye)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 50
        |ORDER BY doc_id""".stripMargin,
    // q142: q141's key arithmetic with the rank partitioned by source
    "q142_weighted_stratified" ->
      """WITH w AS (SELECT doc_id, source, n_chars,
        |    (CAST(('0x' || substr(md5('wes:7:' || CAST(doc_id AS STRING)),
        |      1, 12)) AS BIGINT) + 1) / 281474976710656.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0),
        |kye AS (SELECT doc_id, source, n_chars,
        |    round(ln(u) / CAST(n_chars AS DOUBLE), 6) AS key FROM w),
        |r AS (SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY key DESC, doc_id) AS rn FROM kye)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 3
        |ORDER BY doc_id""".stripMargin,
    // q140: membership-only reconcile — the signatures themselves never
    // matter, so the oracle re-derives store membership from the build
    // predicate (%5≠3) and the corpus view (%7≠0) and counts per source
    // with orphans under '[gone]'
    "q140_signature_staleness" ->
      """WITH idx AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 3),
        |cur AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0),
        |j AS (SELECT coalesce(c.source, '[gone]') AS source,
        |    c.doc_id AS cur_id, i.doc_id AS idx_id
        |  FROM cur c FULL OUTER JOIN idx i USING (doc_id))
        |SELECT source,
        |  CAST(sum(CASE WHEN cur_id IS NOT NULL AND idx_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_signed,
        |  CAST(sum(CASE WHEN idx_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing,
        |  CAST(sum(CASE WHEN cur_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphaned
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // q121: exact hard negatives — brute pairwise cosine restricted to
    // the band, rank by (sim DESC, neg_id). The band filter applies to
    // the ROUNDED sim on both engines (the rank's input), so boundary
    // vectors cannot diverge on the 6th decimal.
    // q125: chunk starts are the stride multiples below len(toks); both
    // engines slice inclusively-truncating, so the tail chunk agrees
    "q125_sliding_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, CAST(s.i AS INTEGER) AS chunk_idx,
        |    CAST(s.i * 24 AS INTEGER) AS start_tok,
        |    toks[s.i*24+1 : s.i*24+32] AS chunk
        |  FROM d, unnest(generate_series(0,
        |    CAST(floor((len(toks) - 1.0) / 24) AS BIGINT))) AS s(i)
        |  WHERE len(toks) > 0)
        |SELECT doc_id, chunk_idx, start_tok,
        |  CAST(len(chunk) AS INTEGER) AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q123_fuzzy_decontam" -> fuzzyDecontamOracleSql,
    // q124: survivors (sim >= negLo) feed BOTH the per-anchor top-1
    // positive and the band-ranked negatives, mirroring the single-pass
    // operator; an anchor whose top-1 misses posMin emits nothing.
    "q124_contrastive_triples" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id,
        |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u
        |  FROM e),
        |sc AS (SELECT p.vec_id AS anchor_id, c.vec_id AS cand_id,
        |    round(list_dot_product(p.u, c.u), 6) AS sim
        |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
        |surv AS (SELECT * FROM sc WHERE sim >= 0.15),
        |pos AS (SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim
        |  FROM (SELECT anchor_id, cand_id, sim,
        |      row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY sim DESC, cand_id) AS rn FROM surv) t
        |  WHERE rn = 1 AND sim >= 0.35),
        |neg AS (SELECT anchor_id, rk, cand_id AS neg_id, sim AS neg_sim
        |  FROM (SELECT anchor_id, cand_id, sim,
        |      CAST(row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY sim DESC, cand_id) AS INTEGER) AS rk
        |    FROM surv WHERE sim < 0.3) t
        |  WHERE rk <= 3)
        |SELECT p.anchor_id, p.pos_id, p.pos_sim, g.rk, g.neg_id, g.neg_sim
        |FROM pos p JOIN neg g USING (anchor_id)
        |ORDER BY p.anchor_id, g.rk""".stripMargin,
    "q121_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id,
        |    [x / sqrt(list_dot_product(emb, emb)) for x in emb] AS u
        |  FROM e),
        |sc AS (SELECT p.vec_id AS anchor_id, c.vec_id AS neg_id,
        |    round(list_dot_product(p.u, c.u), 6) AS sim
        |  FROM n p JOIN n c ON p.vec_id < 10 AND p.vec_id <> c.vec_id),
        |b AS (SELECT * FROM sc WHERE sim >= 0.15 AND sim < 0.6)
        |SELECT anchor_id, rk, neg_id, sim FROM (
        |  SELECT anchor_id, neg_id, sim,
        |    CAST(row_number() OVER (PARTITION BY anchor_id
        |      ORDER BY sim DESC, neg_id) AS INTEGER) AS rk
        |  FROM b) t
        |WHERE rk <= 5 ORDER BY anchor_id, rk""".stripMargin,
    "q122_hard_negatives_ann" -> hardNegAnnOracleSql,
    "q126_contrastive_triples_ann" -> contrastiveTriplesAnnOracleSql,
    "q127_token_budget" -> tokenBudgetOracleSql,
    "q150_subword_budget" -> subwordBudgetOracleSql,
    "q152_tokenizer_fertility" -> tokenizerFertilityOracleSql,
    "q153_learned_gate_budget" -> learnedGateBudgetOracleSql,
    "q165_curriculum_pack" -> curriculumPackOracleSql,
    "q170_budget_curve" -> budgetCurveOracleSql,
    "q171_pack_efficiency" -> packEfficiencyOracleSql,
    "q179_budget_allocation" -> budgetAllocationOracleSql,
    "q180_allocated_selection" -> allocatedSelectionOracleSql,
    "q148_budget_by_source" -> budgetBySourceOracleSql,
    // q149: q27's pair CTEs over the train slice + q63's gram CTEs +
    // q64's quality arithmetic, rolled up per score decile
    "q149_quality_calibration" ->
      s"""WITH ${minHashPairCtes(
            "(SELECT * FROM documents WHERE doc_id % 50 <> 0) s")},
         |p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
         |dup AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p)),
         |d2 AS (SELECT doc_id,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
         |    for i in generate_series(1, len(toks) - 2)]) AS g FROM d2),
         |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
         |tg AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 50 <> 0),
         |ct AS (SELECT DISTINCT doc_id FROM tg JOIN ev USING (g)),
         |tr AS (SELECT doc_id, text,
         |    regexp_split_to_array(lower(text), '\\s+') AS toks
         |  FROM documents WHERE doc_id % 50 <> 0),
         |r AS (SELECT doc_id,
         |  round(CAST(len(list_filter(toks, t -> t IN
         |    ('the','a','of','and','to','in','is','it','for','on')))
         |    AS DOUBLE) / len(toks), 4) AS stop_ratio,
         |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
         |    'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
         |  len(toks) AS n_toks
         |  FROM tr),
         |q AS (SELECT doc_id,
         |  round(stop_ratio * 0.4 + least(CAST(n_toks AS DOUBLE) / 100.0,
         |    1.0) * 0.3 + (1.0 - punct_ratio) * 0.3, 4) AS quality FROM r),
         |dd AS (SELECT q.doc_id,
         |  CAST(least(9, floor(quality * 10)) AS INT) AS decile,
         |  q.doc_id IN (SELECT id FROM dup) AS is_dup,
         |  q.doc_id IN (SELECT doc_id FROM ct) AS is_ct
         |  FROM q)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_neardup,
         |  CAST(count(CASE WHEN is_ct THEN 1 END) AS BIGINT)
         |    AS n_contaminated
         |FROM dd GROUP BY decile ORDER BY decile""".stripMargin,
    "q128_embedding_drift" -> embeddingDriftOracleSql,
    "q129_pretrain_recipe" -> pretrainRecipeOracleSql,
    "q155_learned_recipe" -> learnedRecipeOracleSql,
    "q156_token_stream_pack" -> tokenStreamPackOracleSql,
    "q173_pack_boundaries" -> packBoundariesOracleSql,
    "q160_token_id_pack" -> tokenIdPackOracleSql,
    "q158_learned_funnel" -> learnedFunnelOracleSql,
    "q130_temperature_mix" -> temperatureMixOracleSql,
    "q131_best_of_cluster" -> bestOfClusterOracleSql,
    "q132_recipe_funnel" -> recipeFunnelOracleSql,
    "q133_repetition_schedule" -> repetitionOracleSql,
    "q134_epoch_pack" -> epochPackOracleSql,
    "q135_threshold_sweep" -> thresholdSweepOracleSql,
    "q116_bm25" -> bm25TopKOracleSql,
    // q145: the store must answer exactly what the per-call tokenize
    // answers on the single-query surface too
    "q145_bm25_topk_store" -> bm25TopKOracleSql,
    // q146: a correct reassignment is indistinguishable from a fresh
    // store build under the committed centroids — q106's oracle pins it
    "q146_embstore_reassign" -> incrementalSemanticOracleSql,
    "q106_incremental_semantic" -> incrementalSemanticOracleSql,
    // q118: q116's Okapi arithmetic with the probe table inlined as a
    // VALUES CTE; the collapsed bucket keys on the UNION of probe terms,
    // scores fan out per query through the probe join. Query 3's terms
    // are corpus-absent → no rows for it, on both engines.
    "q118_bm25_per_query" -> bm25PerQueryOracleSql,
    "q163_hybrid_rrf" -> hybridRrfOracleSql,
    "q172_ranking_quality" -> rankingQualityOracleSql,
    "q176_fusion_quality_grid" -> fusionQualityGridOracleSql,
    "q164_mmr_rerank" -> mmrRerankOracleSql,
    "q178_mmr_quality_delta" -> mmrQualityDeltaOracleSql,
    "q182_mmr_lambda_sweep" -> mmrLambdaSweepOracleSql,
    "q185_mmr_delta_significance" -> mmrDeltaSignificanceOracleSql,
    "q166_hybrid_from_stores" -> hybridFromStoresOracleSql,
    "q167_mmr_from_store" -> mmrFromStoreOracleSql,
    "q168_leg_agreement" -> legAgreementOracleSql,
    "q169_score_fusion" -> scoreFusionOracleSql,
    // q144: the store must answer exactly what the per-call tokenize
    // answers — q118's oracle pins the whole build + serving path
    "q144_bm25_from_store" -> bm25PerQueryOracleSql,
    // q147: q118's ranked retrieval rolled up per candidate doc — the
    // oracle wraps the shared CTE chain in the same rollup
    "q147_bm25_decontam" -> (
      "WITH base AS (" +
        (bm25PerQueryChainSqlFor(decontamEvalProbesValuesSql) +
          "\nSELECT query_id, doc_id, score, \"rank\" FROM r" +
          "\nWHERE \"rank\" <= 5 ") +
        """)
          |SELECT doc_id, CAST(count(*) AS INT) AS n_queries,
          |  min("rank") AS best_rank, max(score) AS best_score
          |FROM base GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // q108: the plain filter over the SOURCE table — the written layout,
    // sidecar, and file pruning must all be invisible in the result
    "q108_pruned_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey BETWEEN 3000 AND 6000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // two-stage int8 ≡ single-stage exact, provably — one oracle serves both
    "q98_ann_ivf_int8" -> ivfOracleSql,
    "q60_lsh_neardup" -> lshNearDupOracleSql,
    "q74_knn_graph" -> knnGraphOracleSql,
    "q75_embed_curation" -> embedCurationOracleSql,
    // the oracle IS the native DuckDB statement the shim translates —
    // the strongest cross-engine check for the PIVOT rewrite
    "q76_pivot_stmt" ->
      """SELECT * FROM (PIVOT lineitem ON l_returnflag
        |  USING sum(l_quantity) AS qty GROUP BY l_linestatus)
        |ORDER BY l_linestatus""".stripMargin,
    // DuckDB runs UNION BY NAME / COLUMNS natively — the oracle IS the
    // unshimmed statement the Spark side rewrites
    "q77_union_by_name" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        |FROM customer WHERE c_acctbal > 9000
        |UNION ALL BY NAME
        |SELECT s_suppkey AS id, s_acctbal AS bal, s_name AS name,
        |       s_nationkey AS nation
        |FROM supplier WHERE s_acctbal > 9000
        |ORDER BY id, name""".stripMargin,
    // the oracle IS the same definition + call pair run natively by DuckDB
    // (its Python client executes multi-statement SQL, returning the last)
    "q82_table_macro" ->
      """CREATE OR REPLACE MACRO pricey_orders(lim) AS TABLE
        |SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > lim;
        |SELECT o.o_custkey AS custkey, count(*) AS n,
        |       round(sum(o.o_totalprice), 2) AS total
        |FROM pricey_orders(400000) AS o
        |GROUP BY o.o_custkey ORDER BY total DESC, custkey LIMIT 25""".stripMargin,
    "q84_date_diff" ->
      """SELECT o_orderkey,
        |  date_diff('year',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dy,
        |  date_diff('quarter', TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dq,
        |  date_diff('month',   TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dmo,
        |  date_diff('week',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dw,
        |  date_diff('day',     TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dd,
        |  date_diff('hour',    TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dh,
        |  date_diff('minute',  TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS dmi,
        |  date_diff('second',  TIMESTAMP '1997-03-15 13:30:00', o_orderdate) AS ds
        |FROM orders
        |WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "q83_unnest_zip" ->
      """SELECT doc_id, unnest(toks[1:6]) AS tok, unnest(toks[1:3]) AS tok3
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id, tok, tok3""".stripMargin,
    "q78_columns_expr" ->
      """SELECT l_returnflag, min(COLUMNS('^l_(quantity|extendedprice|discount)$'))
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q81_bracket_exprs" ->
      """SELECT doc_id, toks[1] AS first_tok,
        |       array_to_string(toks[2:3], ' ') AS mid,
        |       ({'n': n_chars}).n AS nc
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks, n_chars
        |      FROM documents WHERE doc_id < 100)
        |ORDER BY doc_id""".stripMargin,
    "q79_lateral_unnest" ->
      """SELECT z.tok AS tok, count(*) AS n
        |FROM (SELECT lower(text) AS lt
        |      FROM documents WHERE doc_id < 200) d, unnest(string_split(d.lt, ' ')) AS z(tok)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    // CAST k: DuckDB's generate_series emits BIGINT, Spark's sequence INT
    "q80_generate_series" ->
      """SELECT CAST(g.k AS INT) AS k, CAST(count(*) AS BIGINT) AS n
        |FROM orders o, generate_series(1, 3) AS g(k)
        |WHERE o.o_totalprice > k * 100000
        |GROUP BY k ORDER BY k""".stripMargin,
    "q28_simhash_neardup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 2000),
        |tok AS (SELECT DISTINCT doc_id, t
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)),
        |hx AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |cnt AS (SELECT doc_id, g.b AS b,
        |    sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM hx, generate_series(0, 59) AS g(b) GROUP BY doc_id, g.b),
        |sig AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
        |        ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        |  FROM cnt GROUP BY doc_id),
        |bands AS (SELECT doc_id, sig, gi.i AS i, (sig >> (gi.i*15)) & 32767 AS bv
        |  FROM sig, generate_series(0, 3) AS gi(i)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bands a JOIN bands b
        |    ON a.i = b.i AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |h AS (SELECT id_a, id_b,
        |    CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming FROM cand)
        |SELECT id_a, id_b, hamming FROM h
        |WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin,
    "q29_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings)
        |SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.3
        |ORDER BY blk, id_a, id_b""".stripMargin,
    "q30_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |sc AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(list_cosine_similarity(p.emb, c.emb), 6) AS sim
        |  FROM e p JOIN e c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, rk, cand_id, sim FROM (
        |  SELECT probe_id, cand_id, sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk
        |  FROM sc) t
        |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // unit-normalize (ascending-order list_dot_product reproduces the
    // kernel's norm bitwise — the q52/Int8QuantStats property), then
    // fixed-scale half-up quantization, then exact integer ranking
    "q89_int8_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |u AS (SELECT vec_id,
        |    list_transform(emb,
        |      x -> x / sqrt(list_dot_product(emb, emb))) AS uv
        |  FROM e),
        |q AS (SELECT vec_id,
        |    list_transform(uv, x -> CAST(GREATEST(-127.0,
        |      LEAST(127.0, FLOOR(x * 127 + 0.5))) AS BIGINT)) AS qv
        |  FROM u),
        |sc AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    CAST(list_dot_product(p.qv, c.qv) AS BIGINT) AS sim
        |  FROM q p JOIN q c ON p.vec_id < 10 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, rk, cand_id, sim FROM (
        |  SELECT probe_id, cand_id, sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY sim DESC, cand_id) AS INTEGER) AS rk
        |  FROM sc) t
        |WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    "q32_multimodal" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) % 480 AS INTEGER) AS height,
        |  CAST(octet_length(encode(text)) // 100 AS INTEGER) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    "q37_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q38_string_simjoin" ->
      // same (2-char prefix, length-band) blocking as the Spark side; the
      // |band delta| <= 1 predicate is the oracle's view of the Spark
      // probe-side band explosion
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 300)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM p a JOIN p b
        |  ON substring(a.p_name, 1, 2) = substring(b.p_name, 1, 2)
        |  AND abs(floor(length(a.p_name) / 8) - floor(length(b.p_name) / 8)) <= 1
        |  AND a.p_partkey < b.p_partkey
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY id_a, id_b""".stripMargin,
    "q39_token_freq" ->
      """SELECT lang, u.tok, count(*) AS n
        |FROM documents,
        |  unnest(regexp_split_to_array(lower(text), '\s+')) AS u(tok)
        |GROUP BY lang, u.tok
        |HAVING count(*) >= 20
        |ORDER BY lang, tok""".stripMargin,
    "q55_tfidf" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |toks AS (SELECT doc_id, u.term
        |  FROM docs, unnest(regexp_split_to_array(lower(text), '\s+'))
        |    AS u(term)),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, tf, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf, tfidf
        |FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "q54_hash_sample" ->
      """SELECT lang, count(*) AS n_sampled
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // q111: same derived snapshots, same chr(1)-joined md5 fingerprint;
    // the status CASE runs over a FULL OUTER join exactly like the Spark
    // side (concat_ws skips NULLs identically on both engines)
    "q111_snapshot_diff" ->
      """WITH oldv AS (SELECT doc_id,
        |    md5(concat_ws(chr(1), text, lang, source)) AS h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |newv AS (SELECT doc_id,
        |    md5(concat_ws(chr(1),
        |      CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
        |      lang, source)) AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(oldv.doc_id, newv.doc_id) AS doc_id,
        |  CASE WHEN oldv.h IS NULL THEN 'added'
        |       WHEN newv.h IS NULL THEN 'removed'
        |       WHEN oldv.h <> newv.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldv FULL OUTER JOIN newv ON oldv.doc_id = newv.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q58_profile" -> {
      // one UNION-ALL branch per column, shaped by its type — mirrors the
      // uniform SUMMARIZE-style schema of ProfileOps.profile
      def branch(c: String, kind: String): String = {
        val common =
          s"""SELECT '$c' AS col_name, '$kind' AS col_type,
             |  count(*) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  count(DISTINCT $c) AS n_distinct,""".stripMargin
        val typed = kind match {
          case "numeric" =>
            s"""  min(CAST($c AS DOUBLE)) AS min_num,
               |  max(CAST($c AS DOUBLE)) AS max_num,
               |  round(avg(CAST($c AS DOUBLE)), 4) AS mean_v,
               |  CAST(NULL AS VARCHAR) AS min_str,
               |  CAST(NULL AS VARCHAR) AS max_str""".stripMargin
          case "string" =>
            s"""  CAST(NULL AS DOUBLE) AS min_num,
               |  CAST(NULL AS DOUBLE) AS max_num,
               |  CAST(NULL AS DOUBLE) AS mean_v,
               |  min($c) AS min_str,
               |  max($c) AS max_str""".stripMargin
          case _ => // timestamp
            s"""  CAST(NULL AS DOUBLE) AS min_num,
               |  CAST(NULL AS DOUBLE) AS max_num,
               |  CAST(NULL AS DOUBLE) AS mean_v,
               |  strftime(min($c), '%Y-%m-%d %H:%M:%S') AS min_str,
               |  strftime(max($c), '%Y-%m-%d %H:%M:%S') AS max_str""".stripMargin
        }
        s"$common\n$typed\nFROM lineitem"
      }
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(branch(_, "numeric")) ++
        Seq("l_returnflag", "l_linestatus").map(branch(_, "string")) ++
        Seq(branch("l_shipdate", "timestamp")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q57_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |    AS INTEGER) <
        |  CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 8 WHEN 'fr' THEN 16
        |    ELSE 2 END
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q53_dedup_clusters" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT doc_id,
        |  list_distinct([array_to_string(toks[i:i+2], ' ')
        |    for i in generate_series(1, len(toks) - 2)]) AS sh FROM d),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
        |    >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |  UNION SELECT id_b, id_a FROM p
        |  UNION SELECT doc_id, doc_id FROM d),
        |r AS (
        |  WITH RECURSIVE rr(a, b) AS (
        |    SELECT a, b FROM e
        |    UNION
        |    SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a)
        |  SELECT * FROM rr)
        |SELECT a AS id, min(b) AS comp FROM r GROUP BY a ORDER BY id""".stripMargin,
    "q51_frame_sample" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT media_id, nb // 100 AS n_frames,
        |    CAST(nb % 640 AS INTEGER) AS width,
        |    CAST(nb % 480 AS INTEGER) AS height
        |  FROM d WHERE nb >= 100)
        |SELECT media_id,
        |  CAST((n_frames + 3) // 4 AS BIGINT) AS n_sampled,
        |  CAST(100 * ((n_frames + 3) // 4) AS BIGINT) AS sample_bytes,
        |  CAST(floor(width * least(320.0 / greatest(width, 1),
        |    240.0 / greatest(height, 1), 1.0)) AS INTEGER) AS out_w,
        |  CAST(floor(height * least(320.0 / greatest(width, 1),
        |    240.0 / greatest(height, 1), 1.0)) AS INTEGER) AS out_h
        |FROM f ORDER BY media_id""".stripMargin,
    // the CTEs CAST ts to TIMESTAMP (µs) BEFORE the join predicates so the
    // oracle compares at the same granularity as the Spark side (Tables.load
    // floors TIMESTAMP_NS→µs at scan); p pre-dedupes tied (user_id, ts)
    // purchases to max(value), matching asofJoin's deterministic
    // largest-(value, ts)-payload tiebreak — DuckDB ASOF's own pick among
    // tied rows is unspecified
    "q34_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             max(value) AS value
        |           FROM events WHERE event_type = 'purchase'
        |           GROUP BY user_id, CAST(ts AS TIMESTAMP))
        |SELECT c.event_id, c.user_id, c.ts, p.ts AS purch_ts,
        |  round(p.value, 2) AS purch_value
        |FROM c ASOF JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "q35_range_join" ->
      """WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup'),
        |     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'click')
        |SELECT s.event_id AS signup_id, count(*) AS n_clicks,
        |  round(sum(c.value), 2) AS click_value
        |FROM s JOIN c
        |  ON s.user_id = c.user_id
        |  AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 1 HOUR
        |GROUP BY s.event_id
        |ORDER BY signup_id""".stripMargin,
    "q36_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q33_session_windows" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m)
        |SELECT user_id, min(ts) AS sess_start, count(*) AS n_events,
        |  round(sum(value), 2) AS total
        |FROM g GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin,
    // q33's gap-sessionization shape, extended with sess_end = max(ts) —
    // the sessionize emit contract q88 pins
    "q88_sessionize_batch" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts, value,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m)
        |SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total
        |FROM g GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin,
    // same distinct-shingle → df → common-set → per-doc rollup as the
    // Spark plan; n_common is count(matched) so both engines emit BIGINT
    "q90_boilerplate" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |      for i in generate_series(1, len(toks) - 2)]) AS s FROM d)),
        |common AS (SELECT s FROM (
        |    SELECT s, count(*) AS df FROM g GROUP BY s) WHERE df > 3),
        |per AS (SELECT g.doc_id, count(*) AS n_shingles,
        |    count(c.s) AS n_common
        |  FROM g LEFT JOIN common c ON g.s = c.s GROUP BY g.doc_id)
        |SELECT d0.doc_id,
        |  coalesce(per.n_shingles, 0) AS n_shingles,
        |  coalesce(per.n_common, 0) AS n_common,
        |  CASE WHEN per.n_shingles > 0 THEN
        |    round(CAST(per.n_common AS DOUBLE) / per.n_shingles, 4)
        |  END AS common_frac,
        |  coalesce(round(CAST(per.n_common AS DOUBLE) / per.n_shingles, 4)
        |    > 0.5, false) AS boilerplate
        |FROM documents d0 LEFT JOIN per ON d0.doc_id = per.doc_id
        |ORDER BY d0.doc_id""".stripMargin,
    // q105: positions fingerprinted with md5 in BOTH engines (the gram
    // string itself never rides a shuffle on either side); shared = fp in
    // >= 2 distinct docs; per-doc rollup counts POSITIONS (multiplicity
    // kept — no DISTINCT on g, unlike q90)
    "q105_dup_span_coverage" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, md5(array_to_string(toks[i:i+4], ' ')) AS fp
        |  FROM d, unnest(generate_series(1, len(toks) - 4)) AS t(i)),
        |sh AS (SELECT fp FROM (
        |    SELECT fp, count(DISTINCT doc_id) AS nd FROM g GROUP BY fp)
        |  WHERE nd >= 2),
        |per AS (SELECT doc_id, count(*) AS n_grams,
        |    count(sh.fp) AS n_shared
        |  FROM g LEFT JOIN sh USING (fp) GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  coalesce(per.n_grams, 0) AS n_grams,
        |  coalesce(per.n_shared, 0) AS n_shared,
        |  CASE WHEN per.n_grams > 0 THEN
        |    round(CAST(per.n_shared AS DOUBLE) / per.n_grams, 4)
        |  END AS shared_frac,
        |  coalesce(round(CAST(per.n_shared AS DOUBLE) / per.n_grams, 4)
        |    > 0.5, false) AS flagged
        |FROM documents d0 LEFT JOIN per ON d0.doc_id = per.doc_id
        |ORDER BY d0.doc_id""".stripMargin,
    // q109: the whole transform rebuilt in SQL — same md5 position
    // fingerprints as q105, first occurrence = min (doc_id, pos)
    // lexicographic (the window's ORDER BY doc_id, mp mirrors Spark's
    // min-over-struct), token coverage via the same 4-PRECEDING window,
    // keep rule: cut only tokens covered SOLELY by non-keeper shared grams
    // q119: the q112 → q109 → q67 oracle chains composed verbatim, each
    // stage's string_agg output re-split by the next stage's tokenizer
    // (exactly what the Spark chain does). Docs dropped at a stage
    // boundary (nothing survived) re-join at the end with (0, 0, null).
    "q119_span_pipeline" ->
      """WITH d1 AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |t1 AS (SELECT doc_id, toks[i] AS w, i,
        |    CASE WHEN i > 1 THEN toks[i-1] END AS prev
        |  FROM d1, unnest(generate_series(1, len(toks))) AS s(i)),
        |s1 AS (SELECT doc_id,
        |    string_agg(CASE WHEN prev IS NULL OR w <> prev THEN w END, ' '
        |      ORDER BY i) AS ct
        |  FROM t1 GROUP BY doc_id),
        |d2 AS (SELECT doc_id, regexp_split_to_array(lower(ct), '\s+')
        |    AS toks FROM s1 WHERE ct IS NOT NULL),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM d2, unnest(generate_series(1, len(toks))) AS t(i)),
        |g AS (SELECT doc_id, i AS gpos,
        |    md5(array_to_string(toks[i:i+4], ' ')) AS fp
        |  FROM d2, unnest(generate_series(1, len(toks) - 4)) AS t(i)),
        |byDoc AS (SELECT fp, doc_id, min(gpos) AS mp
        |  FROM g GROUP BY fp, doc_id),
        |firsts AS (SELECT fp, doc_id AS fdoc, mp AS fpos FROM (
        |    SELECT fp, doc_id, mp,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, mp) AS rn,
        |      count(*) OVER (PARTITION BY fp) AS nd
        |    FROM byDoc) WHERE rn = 1 AND nd >= 2),
        |gm AS (SELECT g.doc_id, g.gpos,
        |    CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END AS gsh,
        |    CASE WHEN f.fp IS NOT NULL AND g.doc_id = f.fdoc
        |      AND g.gpos = f.fpos THEN 1 ELSE 0 END AS gkp
        |  FROM g LEFT JOIN firsts f ON g.fp = f.fp),
        |cov AS (SELECT t.doc_id, t.pos, t.tok,
        |    max(coalesce(gm.gsh, 0)) OVER wnd AS csh,
        |    max(coalesce(gm.gkp, 0)) OVER wnd AS ckp
        |  FROM tok t LEFT JOIN gm
        |    ON t.doc_id = gm.doc_id AND t.pos = gm.gpos
        |  WINDOW wnd AS (PARTITION BY t.doc_id ORDER BY t.pos
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT doc_id,
        |    string_agg(CASE WHEN NOT (csh = 1 AND ckp = 0) THEN tok END,
        |      ' ' ORDER BY pos) AS ct
        |  FROM cov GROUP BY doc_id),
        |d3 AS (SELECT doc_id, regexp_split_to_array(lower(ct), '\s+')
        |    AS toks FROM s2 WHERE ct IS NOT NULL),
        |ch0 AS (SELECT doc_id, unnest([{'pos': j - 1,
        |      'chunk': array_to_string(toks[(j-1)*8+1 : least(j*8, len(toks))],
        |        ' ')}
        |    for j in generate_series(1,
        |      CAST(ceil(len(toks) / 8.0) AS INTEGER))]) AS c
        |  FROM d3),
        |ch AS (SELECT doc_id, c.pos AS pos, c.chunk AS chunk,
        |    md5(c.chunk) AS fp FROM ch0),
        |f3 AS (SELECT fp, min(doc_id*1000000 + pos) AS fk
        |  FROM ch GROUP BY fp),
        |kept AS (SELECT ch.doc_id, ch.pos, ch.chunk FROM ch JOIN f3
        |  ON ch.fp = f3.fp AND ch.doc_id*1000000 + ch.pos = f3.fk),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |nc AS (SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS BIGINT)
        |    AS n_chunks FROM d3)
        |SELECT d0.doc_id, coalesce(nc.n_chunks, 0) AS n_chunks,
        |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept, agg.clean_text
        |FROM documents d0 LEFT JOIN nc USING (doc_id)
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY d0.doc_id""".stripMargin,
    "q109_span_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok
        |  FROM d, unnest(generate_series(1, len(toks))) AS t(i)),
        |g AS (SELECT doc_id, i AS gpos,
        |    md5(array_to_string(toks[i:i+4], ' ')) AS fp
        |  FROM d, unnest(generate_series(1, len(toks) - 4)) AS t(i)),
        |byDoc AS (SELECT fp, doc_id, min(gpos) AS mp
        |  FROM g GROUP BY fp, doc_id),
        |firsts AS (SELECT fp, doc_id AS fdoc, mp AS fpos FROM (
        |    SELECT fp, doc_id, mp,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, mp) AS rn,
        |      count(*) OVER (PARTITION BY fp) AS nd
        |    FROM byDoc) WHERE rn = 1 AND nd >= 2),
        |gm AS (SELECT g.doc_id, g.gpos,
        |    CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END AS gsh,
        |    CASE WHEN f.fp IS NOT NULL AND g.doc_id = f.fdoc
        |      AND g.gpos = f.fpos THEN 1 ELSE 0 END AS gkp
        |  FROM g LEFT JOIN firsts f ON g.fp = f.fp),
        |cov AS (SELECT t.doc_id, t.pos, t.tok,
        |    max(coalesce(gm.gsh, 0)) OVER wnd AS csh,
        |    max(coalesce(gm.gkp, 0)) OVER wnd AS ckp
        |  FROM tok t LEFT JOIN gm
        |    ON t.doc_id = gm.doc_id AND t.pos = gm.gpos
        |  WINDOW wnd AS (PARTITION BY t.doc_id ORDER BY t.pos
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |per AS (SELECT doc_id, count(*) AS n_toks,
        |    CAST(sum(CASE WHEN csh = 1 AND ckp = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_kept,
        |    string_agg(CASE WHEN NOT (csh = 1 AND ckp = 0) THEN tok END,
        |      ' ' ORDER BY pos) AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  coalesce(per.n_toks, 0) AS n_toks,
        |  coalesce(per.n_kept, 0) AS n_kept,
        |  CASE WHEN per.n_kept > 0 THEN per.clean_text END AS clean_text
        |FROM documents d0 LEFT JOIN per ON d0.doc_id = per.doc_id
        |ORDER BY d0.doc_id""".stripMargin,
    // the regex strings are TextOps.{Email,Ipv4,Phone}Pattern verbatim
    // (RE2 and java.util.regex agree on this subset); counts audit each
    // stage the same way piiCounts does — ips counted after the email
    // pass, phones after both
    "q91_pii_redaction" ->
      """WITH p AS (SELECT doc_id, concat_ws(' ', text,
        |    'contact', 'user' || CAST(doc_id AS VARCHAR) || '@' || source
        |      || '.example.com',
        |    'or', '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    'from', '10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |      || CAST(doc_id % 100 AS VARCHAR)) AS raw
        |  FROM documents),
        |s AS (SELECT doc_id, raw,
        |    regexp_replace(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS after_email
        |  FROM p),
        |s2 AS (SELECT doc_id, raw, after_email,
        |    regexp_replace(after_email,
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |      '<IP>', 'g') AS after_ip
        |  FROM s)
        |SELECT doc_id,
        |  regexp_replace(after_ip,
        |    '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}\b',
        |    '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(after_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |    AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(after_ip,
        |    '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS INTEGER)
        |    AS n_phones
        |FROM s2 ORDER BY doc_id""".stripMargin
  )
}
