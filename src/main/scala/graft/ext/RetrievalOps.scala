package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-retrieval scoring over the document corpus (SURVEY.md §2.C) —
  * the ranking half of a data-curation search loop (find the corpus
  * documents most relevant to a probe query: quality forensics, targeted
  * decontamination, seed expansion).
  */
object RetrievalOps {

  /** Sentinel group for non-query tokens. Any real token that happens to
    * equal it folds into the same "other" bucket it belongs in anyway
    * (it is by construction not a query term), so a collision is
    * semantically harmless. What matters is that the key is statically
    * NON-NULLABLE (via coalesce below): a nullable key would let Catalyst
    * infer an `isnotnull` filter at the idf/score joins and push it below
    * the shared collapsed-count aggregate, breaking the subtree identity
    * that exchange reuse needs to run the tokenize pass ONCE — the exact
    * q113 dsirWeights hazard ([[TextOps.dsirWeights]], sentinel bucket -1).
    */
  private val Sent = "\u0000"

  /** The serving paths broadcast the probe-terms table; this caps it
    * (same figure as [[bm25PerQuery]]'s inline collect cap): 64Ki terms
    * of a few tens of bytes each is comfortably inside any broadcast
    * budget, and anything bigger is a corpus wearing a probe's clothes.
    */
  private val MaxProbeTerms = 65536

  /** BM25 top-k retrieval (Robertson & Zaragoza 2009, "The Probabilistic
    * Relevance Framework: BM25 and Beyond", FnTIR 3(4) — the Okapi
    * formulation with the +1'd idf DuckDB/Lucene use, so the log never
    * goes negative for common terms):
    *
    *   score(d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln( (N − df + 0.5)/(df + 0.5) + 1 )
    *
    * Plan shape at 100 TB: ONE explode of the corpus feeds ONE
    * (doc, term-or-sentinel) aggregate — query terms keep their identity,
    * every other token collapses into a single sentinel row per document,
    * so the shuffled stream is ≤ |docs|·(|q|+1) rows carrying counts, not
    * tokens. Document length is a window sum over those per-doc rows
    * (≤ |q|+1 rows per partition — no skew), NOT a second aggregate
    * lineage. Crucially NOTHING filters the collapsed counts below the
    * shared aggregate: the sentinel group rides every consumer (its idf
    * is forced to 0 in a projection ABOVE the df aggregate, so its rows
    * contribute exactly 0.0 to every score) and documents with no query
    * term are dropped POST-aggregation by a count of their query-term
    * rows — an aggregate-side condition Catalyst cannot push down. That
    * keeps every consumer of the collapsed counts a canonically identical
    * subtree, so exchange reuse runs the tokenize pass once (pinned in
    * QueryPlanSpec). df/idf (≤ |q|+1 rows) and the scalar N/avgdl
    * broadcast back; the final ranking is a global top-k
    * (TakeOrderedAndProject — no full sort). Query terms absent from the
    * corpus contribute nothing on both engines (no df row → no score
    * row).
    *
    * Returns the top `k` rows (idCol, score) by (score DESC, id) —
    * deterministic at ties; score rounded to 6 for cross-engine parity.
    * Documents containing no query term never appear (their score is an
    * empty sum, not 0.0 — BM25 has no notion of them).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], idCol: String,
               textCol: String, k: Int, k1: Double = 1.2,
               b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(k > 0, "bm25TopK: k must be positive")
    val terms = queryTerms.map(_.toLowerCase).distinct
    contributions(docs, terms, idCol, textCol, k1, b)
      .groupBy(col(idCol))
      .agg(round(sum(col("__c")), 6).as("score"),
        // aggregate-side drop condition for no-query-term docs: counted
        // HERE (not filtered below) so the shared subtree stays intact
        count(when(col("__qt") =!= Sent, lit(1))).as("__nq"))
      .filter(col("__nq") > 0)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** BM25 retrieval against a probe TABLE of (queryIdCol, termCol) rows —
    * the user-shaped surface: one ranked top-k per probe query, the way a
    * decontamination/seed-expansion loop actually runs (find the corpus
    * docs nearest EACH eval-set entry). Same collapsed-count discipline
    * as [[bm25TopK]]: the union of all probe terms (collected once —
    * probe tables are eval queries, bounded by construction and capped
    * here) drives one tokenize pass and one shared aggregate; per-term
    * idf is query-independent so it is computed once and broadcast; the
    * probe table broadcasts onto the per-(doc, term) contributions to
    * fan them out per query; ranking is a per-query window top-k.
    *
    * Sentinel rows die at the probe join (no probe term equals the
    * sentinel), so no post-aggregation zero-score handling is needed:
    * a query whose terms are all absent from the corpus simply returns
    * no rows, on both engines.
    *
    * Returns (queryIdCol, idCol, score, rank) with rank 1..≤k per query,
    * ordered (score DESC, id) within each query — deterministic at ties.
    */
  def bm25PerQuery(docs: DataFrame, probe: DataFrame, queryIdCol: String,
                   termCol: String, idCol: String, textCol: String, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "bm25PerQuery: k must be positive")
    // a query is a SET of terms here (the +1'd-idf Okapi form without
    // query-term frequency): duplicate (query, term) rows must not
    // double-count, so the probe dedupes — it is tiny by contract
    val probeNorm = probe.select(col(queryIdCol),
      lower(col(termCol)).as("__term")).distinct()
    val terms = probeNorm.select(col("__term")).distinct()
      .limit(65536 + 1).collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "bm25PerQuery: empty probe table")
    require(terms.size <= 65536,
      "bm25PerQuery: probe vocabulary exceeds 65536 distinct terms — " +
        "a probe table is an eval set, not a corpus")
    contributions(docs, terms, idCol, textCol, k1, b)
      .join(broadcast(probeNorm), col("__qt") === col("__term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__c")), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("score").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** The persisted lexical statistics of a corpus: everything BM25 needs,
    * paid once. [[bm25TopK]]/[[bm25PerQuery]] re-tokenize the full corpus
    * per call — at 100 TB that pass is the dominant cost of every
    * retrieval call, and it re-runs for every decontamination or
    * seed-expansion loop iteration. This is the lexical analog of the
    * [[SimilarityOps.annIndexStore]] move (pay the encode once):
    *
    *   `terms/` — one row per (doc, term): term frequency `tf` AND the
    *     document length `dl` denormalized onto the row, term-bucket-
    *     partitioned (`tb` = hash(term) mod nBuckets) so a query's probe
    *     terms prune to their buckets via dynamic partition pruning and
    *     the serving path never exchanges anything corpus-sized;
    *   `docs/` — one row per corpus document (`dl` = 0 for token-less
    *     ones): the N/avgdl scalars and the staleness reconcile read this
    *     narrow side only.
    *
    * Both parts publish atomically ([[DedupOps.materializedPairs]] —
    * first-writer-wins, `_SUCCESS`-gated). Callers version `path` with
    * the tokenizer and `nBuckets` (the [[SimilarityOps.vectorStore]]
    * contract): stats read back under a different tokenization are
    * silently wrong. Lifecycle: [[appendToLexicalStats]] per ingest
    * batch, [[lexicalStatsStaleness]] to reconcile, and
    * [[compactLexicalStats]] to bound small-file growth.
    */
  final case class LexicalStats(terms: DataFrame, docs: DataFrame)

  /** One bucket definition shared by build, append, and the query-side
    * probe join so the layouts cannot drift ([[SimilarityOps]]'s
    * vecBucket discipline).
    */
  private def termBucket(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  def lexicalStatsStore(spark: org.apache.spark.sql.SparkSession,
                        corpus: DataFrame, path: String, idCol: String,
                        textCol: String, nBuckets: Int = 64): LexicalStats = {
    require(nBuckets > 0, "lexicalStatsStore: nBuckets must be positive")
    val idType = corpus.schema(idCol).dataType.sql
    val terms = DedupOps.materializedPairs(spark, s"$path/terms",
      partitionBy = Seq("tb"),
      readSchema = Some(s"doc $idType, term STRING, tf BIGINT, " +
        "dl BIGINT, tb INT"))(
      termRows(corpus, idCol, textCol, nBuckets))
    val docs = DedupOps.materializedPairs(spark, s"$path/docs",
      readSchema = Some(s"doc $idType, dl BIGINT, fp STRING"))(
      docRows(corpus, idCol, textCol))
    LexicalStats(terms, docs)
  }

  /** Read a published store back without its build input — schema stated
    * (the empty-store rationale of [[SimilarityOps.readAnnIndexStore]]);
    * `idType` is the id column's SQL type the store was built with.
    */
  def readLexicalStats(spark: org.apache.spark.sql.SparkSession,
                       path: String, idType: String = "BIGINT")
      : LexicalStats =
    LexicalStats(
      spark.read.schema(s"doc $idType, term STRING, tf BIGINT, dl BIGINT," +
        " tb INT").parquet(s"$path/terms"),
      spark.read.schema(s"doc $idType, dl BIGINT, fp STRING")
        .parquet(s"$path/docs"))

  private def termRows(corpus: DataFrame, idCol: String, textCol: String,
                       nBuckets: Int): DataFrame =
    corpus.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc"))))
      .withColumn("tb", termBucket(col("term"), nBuckets))

  private def docRows(corpus: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val dls = corpus.select(col(idCol).as("doc"),
        explode(TextOps.tokens(col(textCol))).as("__t"))
      .groupBy(col("doc")).agg(count(lit(1)).as("__dl"))
    // EVERY corpus doc keeps a row (null-text docs are real corpus
    // members with dl 0 — they weigh into N exactly like the inline
    // form). The content fingerprint rides along so the staleness
    // reconcile can detect a doc whose TEXT changed under the same id —
    // the annIndexStaleness n_cell_mismatch analog; null text
    // fingerprints as NULL (distinct from any real fp).
    corpus.select(col(idCol).as("doc"),
        TextOps.docFingerprint(col(textCol)).as("fp"))
      .join(dls, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("__dl"), lit(0L)).as("dl"),
        col("fp"))
  }

  /** Append an ingest batch's statistics to the store — batch-bound, the
    * [[SimilarityOps.appendToAnnIndex]] contract: refuses an unpublished
    * path, single-ingest-at-a-time writer, returns the appended doc
    * count. `nBuckets` and the tokenizer must match the build (version
    * them into the path).
    */
  def appendToLexicalStats(spark: org.apache.spark.sql.SparkSession,
                           newDocs: DataFrame, path: String, idCol: String,
                           textCol: String, nBuckets: Int = 64): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("terms", "docs").foreach { part =>
      require(fs.exists(new Path(new Path(path, part), "_SUCCESS")),
        s"appendToLexicalStats: no published lexical stats at $path — " +
          "build them with lexicalStatsStore first")
    }
    val docs = docRows(newDocs, idCol, textCol).persist()
    try {
      val n = docs.count()
      if (n > 0) {
        termRows(newDocs, idCol, textCol, nBuckets)
          .write.mode("append").partitionBy("tb").parquet(s"$path/terms")
        docs.write.mode("append").parquet(s"$path/docs")
      }
      n
    } finally { docs.unpersist(); () }
  }

  /** Reconcile the store against the CURRENT corpus — the
    * [[SimilarityOps.annIndexStaleness]] shape on the narrow docs side:
    * one row (n_indexed, n_missing, n_orphaned). `n_missing` > 0 means
    * appends are pending; `n_orphaned` > 0 means deleted docs still weigh
    * into df/avgdl and the next [[compactLexicalStats]]-era rebuild
    * should drop them. Cost: one id-keyed exchange of two narrow id
    * projections; text never moves.
    */
  def lexicalStatsStaleness(corpus: DataFrame, stats: LexicalStats,
                            idCol: String, textCol: String): DataFrame = {
    val cur = corpus.select(col(idCol).as("doc"),
      TextOps.docFingerprint(col(textCol)).as("__cfp"), lit(1).as("__c"))
    val idx = stats.docs.select(col("doc"), col("fp").as("__sfp"),
      lit(1).as("__i"))
    val both = col("__c").isNotNull && col("__i").isNotNull
    cur.join(idx, Seq("doc"), "full_outer")
      .agg(
        sum(when(both, 1L).otherwise(0L)).as("n_indexed"),
        sum(when(col("__i").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_orphaned"),
        // in both sides but the TEXT moved (null-safe: a null-text doc
        // differs from any real fingerprint, equals another null) — the
        // stats still describe yesterday's text; remediation is a
        // rebuild (or compact-era re-append), not appendToLexicalStats
        sum(when(both && !(col("__cfp") <=> col("__sfp")), 1L)
          .otherwise(0L)).as("n_changed"))
  }

  /** Bound the term store's small-file growth: one file per term bucket.
    * Crash-safe via [[StoreSwap]], the [[SimilarityOps.compactAnnIndex]]
    * contract. The narrow docs side compacts (and dedupes) too: its
    * full-row duplicates can only be stream-replay residue — legitimate
    * rows are unique per doc — and they are the one thing the serving
    * path does NOT shed itself (the N/avgdl scalars read the docs side
    * raw), so "compact after an unclean stream restart" fully heals the
    * store. Returns (files before, files after) summed over both sides.
    */
  def compactLexicalStats(spark: org.apache.spark.sql.SparkSession,
                          path: String): (Int, Int) = {
    val (tb, ta) = SimilarityOps.compactCellStore(spark, s"$path/terms",
      "compactLexicalStats", partCol = "tb")
    val (db, da) = compactDocsSide(spark, s"$path/docs")
    (tb + db, ta + da)
  }

  /** [[compactLexicalStats]]'s docs half: unpartitioned, so the
    * cell-store compactor (which repartitions BY the partition column)
    * does not fit — rewrite the directory as one deduped file set under
    * the same [[StoreSwap]] write-new + atomic-swap discipline.
    */
  private def compactDocsSide(spark: org.apache.spark.sql.SparkSession,
                              path: String): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.recoverIfInterrupted(fs, dst)
    require(fs.exists(new Path(dst, "_SUCCESS")),
      s"compactLexicalStats: no published docs store at $path")
    def parquetFiles(): Int = {
      val it = fs.listFiles(dst, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = parquetFiles()
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.compact-${java.util.UUID.randomUUID()}")
    try {
      spark.read.parquet(path).dropDuplicates()
        .coalesce(math.max(1, before / 8))
        .write.mode("overwrite").parquet(tmp.toString)
      StoreSwap.swapIn(fs, dst, tmp, "compactLexicalStats")
      (before, parquetFiles())
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  /** [[bm25PerQuery]] served from the PERSISTED store: no tokenize pass,
    * no corpus scan — the serving plan reads ONLY the probe terms' term
    * buckets, plus the narrow docs side for the N/avgdl scalars. The
    * bucket pruning is STATIC: the probe's distinct bucket ids (≤
    * nBuckets ints — a bounded driver probe like the IVF centroid fit)
    * become an IN-list partition filter on the terms scan, so unprobed
    * bucket directories are provably never listed — sturdier than
    * leaning on dynamic partition pruning, whose selectivity heuristic
    * declines local-relation probe tables. Plan-asserted: zero Generate
    * nodes anywhere, the IN-list on `tb` present. df/idf are computed
    * from the pruned rows (≤ Σ df(term) rows), every join below them
    * broadcasts, and the final ranking is the same per-query window.
    * Identical Okapi arithmetic to [[bm25PerQuery]] — q144 is pinned by
    * q118's oracle. The bounded-probe cap applies to this store-served
    * path too: the (tb) collect behind the static IN-list is limited to
    * [[MaxProbeTerms]]+1 rows (≤ 65,536 distinct probe terms, ~256 KB),
    * and a corpus-sized probe fails with a named error rather than
    * OOMing the broadcast below. Returns
    * (queryIdCol, idCol, score, rank), rank 1..≤k per query,
    * (score DESC, id) tie-break.
    */
  def bm25PerQueryFromStore(stats: LexicalStats, probe: DataFrame,
                            queryIdCol: String, termCol: String,
                            idCol: String, k: Int, k1: Double = 1.2,
                            b: Double = 0.75,
                            nBuckets: Int = 64): DataFrame = {
    require(k > 0, "bm25PerQueryFromStore: k must be positive")
    val probeNorm = probe.select(col(queryIdCol),
      lower(col(termCol)).as("__term")).distinct()
    val probeTerms = probeNorm.select(col("__term").as("term")).distinct()
      .withColumn("tb", termBucket(col("term"), nBuckets))
    storedContributions(stats, probeTerms, "bm25PerQueryFromStore", k1, b)
      .join(broadcast(probeNorm), col("term") === col("__term"))
      .groupBy(col(queryIdCol), col("doc"))
      .agg(round(sum(col("__c")), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("score").desc, col("doc"))))
      .filter(col("rank") <= k)
      .withColumnRenamed("doc", idCol)
  }

  /** [[bm25TopK]] served from the PERSISTED store: the single-query
    * surface on the same tokenize-free, bucket-pruned serving core as
    * [[bm25PerQueryFromStore]] — one global top-k
    * (TakeOrderedAndProject, never a full sort), identical Okapi
    * arithmetic. q145 is pinned by q116's oracle (store ≡ inline).
    */
  def bm25TopKFromStore(stats: LexicalStats, queryTerms: Seq[String],
                        idCol: String, k: Int, k1: Double = 1.2,
                        b: Double = 0.75, nBuckets: Int = 64): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKFromStore: empty query")
    require(k > 0, "bm25TopKFromStore: k must be positive")
    val spark = stats.terms.sparkSession
    import spark.implicits._
    val probeTerms = queryTerms.map(_.toLowerCase).distinct.toDF("term")
      .withColumn("tb", termBucket(col("term"), nBuckets))
    storedContributions(stats, probeTerms, "bm25TopKFromStore", k1, b)
      .groupBy(col("doc"))
      .agg(round(sum(col("__c")), 6).as("score"))
      .withColumnRenamed("doc", idCol)
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** Retrieval-based decontamination candidates: the corpus documents
    * LEXICALLY CLOSEST to any eval query — the ranked third leg of the
    * decontamination family. Exact k-grams ([[TextOps.contaminationFlags]],
    * q63) and fuzzy MinHash ([[DedupOps.fuzzyContaminationFlags]], q123)
    * flag OVERLAP; this flags BM25 proximity, which survives paraphrase
    * beyond shared shingles and hands the audit a RANKED review queue
    * instead of a binary wall. Serves from the persisted stats
    * (tokenize-free, bucket-pruned — the loop shape: one store, one call
    * per eval-set release). Per candidate doc: `n_queries` (how many
    * eval queries retrieved it in their top-k), `best_rank`,
    * `best_score`. Cost is the [[bm25PerQueryFromStore]] serving plan
    * plus one ≤ |queries|·k-row aggregate.
    */
  def bm25ContaminationCandidates(stats: LexicalStats, evalProbe: DataFrame,
                                  queryIdCol: String, termCol: String,
                                  idCol: String, k: Int, k1: Double = 1.2,
                                  b: Double = 0.75,
                                  nBuckets: Int = 64): DataFrame =
    bm25PerQueryFromStore(stats, evalProbe, queryIdCol, termCol, idCol, k,
        k1, b, nBuckets)
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_queries"),
        min(col("rank")).as("best_rank"),
        max(col("score")).as("best_score"))

  /** The shared serving core: per-(term, doc) Okapi contributions from
    * the store's pruned term buckets — the exact arithmetic of
    * [[contributions]] with (tf, dl) read instead of recomputed. The
    * probe's distinct bucket ids (≤ nBuckets ints, a bounded driver
    * probe) become a static IN-list partition filter on the terms scan;
    * df/idf come from the pruned rows; N/avgdl from the narrow docs
    * side; every join broadcasts. Returns (term, doc, __c).
    */
  private def storedContributions(stats: LexicalStats,
                                  probeTerms: DataFrame, what: String,
                                  k1: Double, b: Double): DataFrame = {
    // ONE bounded driver probe serves two needs: the bucket IN-list for
    // the static partition filter, and the bounded-probe CONTRACT
    // stated loudly (the inline form's cap, moved to the broadcast
    // seam): a probe is an eval set, not a corpus, and a corpus-sized
    // one must fail named here rather than OOM the broadcast below.
    // The limit bounds the collect at ≤ cap+1 ints (~256 KB) whatever
    // the caller feeds — and keeps the serving path at the same job
    // count it had before the cap existed (a separate count() job
    // measurably regressed q144/q145/q147 by ~0.1 s each).
    val tbRows = probeTerms.select(col("tb"))
      .limit(MaxProbeTerms + 1).collect()
    require(tbRows.length <= MaxProbeTerms,
      s"$what: probe vocabulary exceeds $MaxProbeTerms distinct terms — " +
        "a probe table is an eval set, not a corpus; split the probe " +
        "into batches if it is genuinely this large")
    val buckets = tbRows.map(_.getInt(0)).distinct.sorted
    require(buckets.nonEmpty, s"$what: empty probe")
    val pruned = stats.terms
      .filter(col("tb").isin(buckets.map(Int.box).toIndexedSeq: _*))
      .join(broadcast(probeTerms), Seq("tb", "term"))
      // replay residue: a stream ingest crash between append and its
      // batch marker re-appends the batch on restart, duplicating its
      // (doc, term, tf, dl) rows EXACTLY — without this, tf and df
      // double and the scores are wrong until a compact. Deduping the
      // PRUNED set keeps serving robust at bounded cost (≤ Σ df(probe
      // terms) rows — never corpus-sized). The narrow docs side has the
      // same residue in its N/avgdl scalars; that drift is bounded by
      // one batch / corpus and heals at [[compactLexicalStats]], which
      // dedupes both sides.
      .dropDuplicates("doc", "term")
    val scalars = stats.docs.agg(
        count(lit(1)).cast("double").as("__nd"),
        sum(col("dl")).cast("double").as("__tl"))
      .select(col("__nd"), (col("__tl") / col("__nd")).as("__avgdl"))
    val idf = pruned.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(scalars.select(col("__nd"))))
      .select(col("term"),
        log((col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5) + 1)
          .as("__idf"))
    pruned
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(scalars))
      .select(col("term"), col("doc"),
        (col("__idf") * (col("tf") * (k1 + 1)) /
          (col("tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
          .as("__c"))
  }

  /** The shared core: per-(doc, query-term-or-sentinel) score
    * contributions (idCol, __qt, __c). One explode, one collapsed-count
    * aggregate, every consumer (document-length window, token total,
    * df) a canonically identical subtree over it — so the planner's
    * exchange reuse tokenizes the corpus exactly once. Every consumer
    * also references the count column `__n`, so column pruning cannot
    * rewrite the shared aggregate's expression list differently per
    * branch (which would break subtree identity just as surely as a
    * pushed filter).
    */
  private def contributions(docs: DataFrame, terms: Seq[String],
                            idCol: String, textCol: String,
                            k1: Double, b: Double): DataFrame = {
    // one aggregate over the token stream: query terms survive with their
    // identity, everything else folds into the sentinel row — term
    // frequency AND (via the window below) document length from the same
    // shuffled counts. coalesce keeps the key statically non-nullable.
    val counts = docs.select(col(idCol),
        explode(TextOps.tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol),
        coalesce(when(col("__t").isin(terms: _*), col("__t")), lit(Sent))
          .as("__qt"))
      .agg(count(lit(1)).as("__n"))
    val withDl = counts
      .withColumn("__dl", sum(col("__n")).over(
        Window.partitionBy(col(idCol))))
    // corpus scalars: N counts EVERY document (null-text docs included —
    // they are real corpus members with dl 0; they add no token mass),
    // avgdl = Σ tokens / N. N is a column-pruned count scan, no tokenize.
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__nd"))
    val scalars = counts.agg(sum(col("__n")).cast("double").as("__tl"))
      .crossJoin(broadcast(nDocs))
      .select(col("__nd"), (col("__tl") / col("__nd")).as("__avgdl"))
    // df over ALL keys including the sentinel — no filter on the grouping
    // key may appear below the shared aggregate. The sentinel's idf is
    // forced to 0 ABOVE the aggregate so its rows score exactly 0.0.
    // count(when(__n > 0, 1)) ≡ count(*) (counts are ≥ 1) but keeps __n
    // referenced on this branch — see the pruning note in the Scaladoc.
    val idf = counts.groupBy(col("__qt"))
      .agg(count(when(col("__n") > 0, lit(1))).as("__df"))
      .crossJoin(broadcast(nDocs))
      .select(col("__qt"),
        when(col("__qt") === Sent, lit(0.0)).otherwise(
          log((col("__nd") - col("__df") + 0.5) / (col("__df") + 0.5) + 1))
          .as("__idf"))
    withDl.join(broadcast(idf), Seq("__qt"))
      .crossJoin(broadcast(scalars))
      .select(col(idCol), col("__qt"),
        (col("__idf") * (col("__n") * (k1 + 1)) /
          (col("__n") +
            lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__c"))
  }

  /** Weighted min-max score fusion (CombSUM with per-query min-max
    * normalization — Fox & Shaw 1994's comb family, the OTHER standard
    * hybrid combiner): each leg's scores normalize to [0, 1] WITHIN the
    * query ((s − min)/(max − min); a degenerate single-score leg
    * normalizes to 1), then the fused score is the weighted sum. Use
    * this over [[rrfFuse]] when score MAGNITUDES carry signal (a 0.99
    * cosine should beat a 0.51 by more than one rank step); use RRF
    * when the leg scales are incomparable garbage.
    *
    * Legs are (DataFrame, weight) with columns (queryCol, idCol,
    * scoreCol), scores pre-rounded at 6. An id in only some legs fuses
    * from those legs alone. Determinism: per-query min/max are exact
    * selections of identical doubles, the normalization is two
    * subtractions + one division of them, and the default two legs sum
    * order-insensitively; rounded at 6 after the sum. Ties by id.
    *
    * Scale shape mirrors [[rrfFuse]]: legs are top-k outputs, the
    * min/max window partitions on the query key over ≤ k rows each, and
    * nothing corpus-sized reaches the fusion.
    *
    * Returns (queryCol, idCol, fused_score, fused_rank).
    */
  def scoreFuse(legs: Seq[(DataFrame, Double)], queryCol: String,
                idCol: String, scoreCol: String, k: Int): DataFrame = {
    require(legs.nonEmpty, "scoreFuse: no legs")
    require(k > 0, "scoreFuse: k must be positive")
    require(legs.forall(_._2 > 0.0), "scoreFuse: weights must be positive")
    val contribs = legs.map { case (leg, wt) =>
      val w = Window.partitionBy(col(queryCol))
      val mn = min(col(scoreCol)).over(w)
      val mx = max(col(scoreCol)).over(w)
      leg.select(col(queryCol), col(idCol), col(scoreCol))
        .withColumn("__c", lit(wt) *
          when(mx === mn, lit(1.0))
            .otherwise((col(scoreCol) - mn) / (mx - mn)))
        .select(col(queryCol), col(idCol), col("__c"))
    }.reduce(_ unionAll _)
    contribs.groupBy(col(queryCol), col(idCol))
      .agg(round(sum(col("__c")), 6).as("fused_score"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("fused_score").desc, col(idCol))))
      .filter(col("fused_rank") <= k)
  }

  /** Per-query agreement between two ranked legs — the diagnostic read
    * BEFORE tuning [[rrfFuse]]'s kRrf/weights: when the legs already
    * agree (high jaccard), fusion adds nothing; when they disagree,
    * fusion is doing the work and the weights matter. Counts are exact
    * integers; jaccard is ONE double division of them (deterministic on
    * any engine, any aggregation order). A query present in only one
    * leg still reports (n_other = 0, jaccard 0) — the modality-miss
    * rows are exactly the ones a tuning pass must see.
    *
    * Returns (queryCol, n_a, n_b, n_both, jaccard). Same bounded scale
    * shape as the fusion: every row here is a leg top-k output.
    */
  def legAgreement(legA: DataFrame, legB: DataFrame, queryCol: String,
                   idCol: String): DataFrame = {
    val a = legA.select(col(queryCol), col(idCol),
      lit(1).as("__a"), lit(0).as("__b"))
    val b = legB.select(col(queryCol), col(idCol),
      lit(0).as("__a"), lit(1).as("__b"))
    a.unionAll(b)
      .groupBy(col(queryCol), col(idCol))
      .agg(max(col("__a")).as("__ia"), max(col("__b")).as("__ib"))
      .groupBy(col(queryCol))
      .agg(sum(col("__ia")).as("n_a"), sum(col("__ib")).as("n_b"),
        sum(col("__ia") * col("__ib")).as("n_both"))
      .withColumn("jaccard",
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, "Reciprocal
    * Rank Fusion outperforms Condorcet and individual Rank Learning
    * Methods", SIGIR) — the standard hybrid-retrieval combiner: given N
    * independently-ranked legs over the same (query, id) space (a lexical
    * BM25 ranking and a vector cosine ranking being THE production pair),
    * each leg contributes weight/(kRrf + rank) and the fused ranking is
    * by the summed contribution. Rank-based fusion deliberately ignores
    * the legs' incomparable score scales — that is the point.
    *
    * Each leg is a DataFrame of (queryCol, idCol, rankCol) — the output
    * shape of [[bm25PerQuery]] and [[SimilarityOps.bruteForceTopK]] /
    * the ANN serving paths after a rename. An id present in only SOME
    * legs still fuses (the absent legs contribute nothing) — standard
    * RRF, and exactly what makes it robust when one modality misses.
    *
    * Plan shape at 100 TB: the legs are already top-k outputs, so every
    * row here is bounded by Σ_leg k_leg·|queries| — corpus size never
    * appears. The fusion is one union (no join tree growing with leg
    * count), one (query, id) aggregate, one per-query window top-k.
    *
    * Cross-engine determinism: contributions are exact binary rationals'
    * quotients computed identically on both engines; the fused score is
    * rounded at 6 AFTER the sum, and with the default two legs the sum
    * of two doubles is order-insensitive. Ties break by id ascending.
    *
    * Returns (queryCol, idCol, rrf_score, fused_rank) with fused_rank
    * 1..≤k per query.
    */
  def rrfFuse(legs: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, k: Int, kRrf: Int = 60,
              weights: Seq[Double] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuse: no legs")
    require(k > 0, "rrfFuse: k must be positive")
    require(kRrf > 0, "rrfFuse: kRrf must be positive")
    val w = if (weights.isEmpty) Seq.fill(legs.size)(1.0) else weights
    require(w.size == legs.size,
      s"rrfFuse: ${legs.size} legs but ${w.size} weights")
    require(w.forall(_ > 0.0), "rrfFuse: weights must be positive")
    val contribs = legs.zip(w).map { case (leg, wt) =>
      leg.select(col(queryCol), col(idCol),
        (lit(wt) / (lit(kRrf) + col(rankCol).cast("double"))).as("__rrf"))
    }.reduce(_ unionAll _)
    contribs.groupBy(col(queryCol), col(idCol))
      .agg(round(sum(col("__rrf")), 6).as("rrf_score"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("rrf_score").desc, col(idCol))))
      .filter(col("fused_rank") <= k)
  }

  /** The fixed nDCG discount table in integer micro-units:
    * disc(r) = round(10⁶ / log₂(r+1)) for r = 1..k. A COMMITTED literal
    * table — not a per-engine log computed at eval time — so the Spark
    * side and a SQL oracle price rank positions from the same integers
    * and every DCG is an EXACT integer sum (gain · disc summed in
    * longs, order-insensitive), with one double division at the end.
    * The 10⁶ quantization error (< 5·10⁻⁷ per position) is orders of
    * magnitude below any decision a tuning pass makes on these metrics.
    */
  def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** The qrels' positive judgments, deduped: a (query, id) judged more
    * than once keeps its HIGHEST grade — duplicate judgments exist in
    * real pooled assessments (two assessors, two rounds), and without
    * the dedupe a duplicated row would silently double-count in both
    * DCG and IDCG and take two slots in the ideal ranking. Deterministic
    * (max is order-free), no action triggered — the qrels stay lazy.
    */
  private def dedupedRels(qrels: DataFrame, queryCol: String,
                          idCol: String, relCol: String): DataFrame =
    qrels.filter(col(relCol) > 0)
      .groupBy(col(queryCol), col(idCol))
      .agg(max(col(relCol).cast("long")).as("__rel"))

  /** Ranking-quality evaluation against labeled relevance — the judge
    * the hybrid tier ([[rrfFuse]]/[[scoreFuse]]/MMR) was missing: given
    * a `run` (queryCol, idCol, rankCol — any top-k-bounded ranking) and
    * a `qrels` table (queryCol, idCol, relCol with integer gains ≥ 0,
    * the trec_eval shape), reports per query:
    *
    *   n_rel        — judged-relevant ids (rel > 0) for the query
    *   n_rel_at_k   — of those, how many the run retrieved in its top-k
    *   recall_at_k  — n_rel_at_k / n_rel
    *   ndcg_at_k    — Σ gain·disc(rank) / ideal Σ (linear gains; the
    *                  fixed [[ndcgDiscountsMicro]] table)
    *   rr           — 1/rank of the first relevant retrieved id (0 if
    *                  none in the top-k); its mean across queries is MRR
    *
    * plus ONE mean row (queryCol = −1, counts summed) — the number a
    * weights/λ tuning loop actually compares. trec_eval conventions:
    * the qrels define the query universe (a run-only query is not
    * evaluable and is ignored; a qrels query missing from the run
    * scores zeros), rel = 0 rows are explicit irrelevance judgments
    * (they gate nothing and never count as hits), a (query, id) judged
    * MORE THAN ONCE keeps its highest grade (pooled assessments
    * duplicate; double-counting would corrupt both DCG and the ideal),
    * and a query whose judgments are ALL rel = 0 has no definable
    * ideal and is excluded.
    *
    * Cross-engine determinism (the q170 discipline): every numerator
    * and denominator is an exact integer — DCG/IDCG are long sums of
    * gain·disc products, hits and n_rel are counts, and the per-query
    * metrics are ONE double division each of identical integers. The
    * mean row re-quantizes each per-query metric to an integer
    * micro-value with pure long arithmetic ((2·10⁶·num + den) div
    * (2·den) — round-half-up without ever touching a float), sums
    * those exactly, averages STILL in integers (round-half-up by the
    * query count), and only then divides the resulting micro-int by
    * 10⁶ — so no float round() ever meets a .5 decimal boundary.
    *
    * Scale shape: the run is top-k-bounded by construction and qrels
    * are human-budget-bounded (labels are expensive) — both sides are
    * tiny relative to any corpus; the whole evaluation is two
    * per-query aggregates and one join on the query key. k ≤ 1000
    * keeps the discount-table literal a literal.
    */
  def rankingQuality(run: DataFrame, qrels: DataFrame, queryCol: String,
                     idCol: String, rankCol: String, relCol: String,
                     k: Int): DataFrame = {
    require(k > 0 && k <= 1000, s"rankingQuality: k=$k not in 1..1000")
    val disc = typedLit(ndcgDiscountsMicro(k))
    val rel = dedupedRels(qrels, queryCol, idCol, relCol)
    val ideal = rel.withColumn("__irank", row_number().over(
      Window.partitionBy(col(queryCol))
        .orderBy(col("__rel").desc, col(idCol))))
    val qAgg = ideal.groupBy(col(queryCol)).agg(
      count(lit(1)).as("n_rel"),
      sum(when(col("__irank") <= k,
        col("__rel") * element_at(disc, col("__irank")))
        .otherwise(0L)).as("__idcg"))
    val topk = run.filter(col(rankCol) <= k)
      .select(col(queryCol), col(idCol), col(rankCol).cast("int").as("__rk"))
      .join(rel, Seq(queryCol, idCol), "left")
    val rAgg = topk.groupBy(col(queryCol)).agg(
      sum(when(col("__rel").isNotNull,
        col("__rel") * element_at(disc, col("__rk"))).otherwise(0L))
        .as("__dcg"),
      sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("n_rel_at_k"),
      min(when(col("__rel").isNotNull, col("__rk"))).as("__frk"))
    val per = qAgg.join(rAgg, Seq(queryCol), "left")
      .na.fill(0L, Seq("__dcg", "n_rel_at_k"))
      .withColumn("recall_at_k",
        round(col("n_rel_at_k").cast("double") / col("n_rel"), 6))
      .withColumn("ndcg_at_k",
        round(col("__dcg").cast("double") / col("__idcg"), 6))
      .withColumn("rr", when(col("__frk").isNull, lit(0.0))
        .otherwise(round(lit(1.0) / col("__frk").cast("double"), 6)))
      // exact integer micro-metrics for the mean: round-half-up via
      // long division, no float ever enters the sum
      .withColumn("__rec_u",
        expr("(2000000 * n_rel_at_k + n_rel) div (2 * n_rel)"))
      .withColumn("__ndcg_u", expr("(2000000 * __dcg + __idcg) div (2 * __idcg)"))
      .withColumn("__rr_u", expr(
        "CASE WHEN __frk IS NULL THEN 0L " +
          "ELSE (2000000 + CAST(__frk AS BIGINT)) div " +
          "(2 * CAST(__frk AS BIGINT)) END"))
    val qType = per.schema(queryCol).dataType
    // queryCol = −1 is reserved for the mean row: a genuine query id of
    // −1 would be indistinguishable from it downstream, so it fails
    // NAMED. Evaluated per per-query row (qrels-bounded).
    val qGuarded = when(col(queryCol) <=> lit(-1).cast(qType),
        raise_error(lit("rankingQuality: query id -1 is reserved for " +
          "the mean row — re-key the offending run/qrels query"))
          .cast(qType))
      .otherwise(col(queryCol).cast(qType))
    // the mean's 6-dp rounding happens in INTEGER space (round-half-up
    // long division), then ONE exact division by 10⁶ — a float round()
    // here can land exactly on a .5 decimal boundary and split engines.
    // An evaluation with no query emits no mean row (an ungrouped
    // aggregate over nothing would be an all-NULL row).
    // per ∪ mean reads `per` twice; runtime exchange reuse serves the
    // second read (plans/r22).
    val mean = per.agg(
        count(lit(1)).as("__q"),
        sum(col("n_rel")).as("n_rel"),
        sum(col("n_rel_at_k")).as("n_rel_at_k"),
        sum(col("__rec_u")).as("__ru"),
        sum(col("__ndcg_u")).as("__nu"),
        sum(col("__rr_u")).as("__mu"))
      .filter(col("__q") > 0)
      .select(lit(-1).cast(qType).as(queryCol),
        col("n_rel"), col("n_rel_at_k"),
        (expr("(2 * __ru + __q) div (2 * __q)").cast("double") /
          1000000.0).as("recall_at_k"),
        (expr("(2 * __nu + __q) div (2 * __q)").cast("double") /
          1000000.0).as("ndcg_at_k"),
        (expr("(2 * __mu + __q) div (2 * __q)").cast("double") /
          1000000.0).as("rr"))
    per.select(qGuarded.as(queryCol), col("n_rel"), col("n_rel_at_k"),
        col("recall_at_k"), col("ndcg_at_k"), col("rr"))
      .unionAll(mean)
  }

  /** [[rrfFuse]] quality over a (kRrf × lexical-weight) tuning grid in
    * ONE pass — the q139 re-slice discipline applied to fusion tuning:
    * the two legs are computed ONCE by the caller (they are the
    * expensive part — corpus-touching retrieval); here each leg row
    * explodes across the |grid| configurations (bounded: leg rows are
    * top-k outputs, the grid is a handful of points), contributions are
    * re-priced per config with the config's kRrf and weight, fused with
    * one (config, query, id) aggregate, re-ranked per (config, query),
    * and judged by [[rankingQuality]]'s arithmetic per config. Output:
    * one MEAN quality row per configuration (config_id, k_rrf, w_a,
    * w_b, ndcg_at_k, recall_at_k, mrr) — the table a serving config is
    * picked from.
    */
  def rrfQualityGrid(legA: DataFrame, legB: DataFrame, qrels: DataFrame,
                     queryCol: String, idCol: String, rankCol: String,
                     relCol: String, k: Int,
                     grid: Seq[(Int, Double, Double)]): DataFrame = {
    require(grid.nonEmpty && grid.forall { case (kr, wa, wb) =>
      kr > 0 && wa > 0.0 && wb > 0.0 }, "rrfQualityGrid: bad grid")
    require(grid.distinct.size == grid.size, "rrfQualityGrid: dup configs")
    val spark = legA.sparkSession
    import spark.implicits._
    val cfg = grid.zipWithIndex.map { case ((kr, wa, wb), i) =>
      (i, kr, wa, wb) }.toDF("config_id", "k_rrf", "w_a", "w_b")
    def contribs(leg: DataFrame, wCol: String): DataFrame =
      leg.select(col(queryCol), col(idCol), col(rankCol))
        .crossJoin(broadcast(cfg))
        .select(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"),
          col(queryCol), col(idCol),
          (col(wCol) / (col("k_rrf") + col(rankCol).cast("double")))
            .as("__rrf"))
    val fused = contribs(legA, "w_a").unionAll(contribs(legB, "w_b"))
      .groupBy(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"),
        col(queryCol), col(idCol))
      .agg(round(sum(col("__rrf")), 6).as("rrf_score"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("config_id"), col(queryCol))
          .orderBy(col("rrf_score").desc, col(idCol))))
      .filter(col("fused_rank") <= k)
    // rankingQuality's arithmetic with config_id carried through the
    // group keys; only the mean row per config survives
    val disc = typedLit(ndcgDiscountsMicro(k))
    val rel = dedupedRels(qrels, queryCol, idCol, relCol)
    val qAgg = rel.withColumn("__irank", row_number().over(
        Window.partitionBy(col(queryCol))
          .orderBy(col("__rel").desc, col(idCol))))
      .groupBy(col(queryCol)).agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("__irank") <= k,
          col("__rel") * element_at(disc, col("__irank")))
          .otherwise(0L)).as("__idcg"))
    val rAgg = fused
      .select(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"),
        col(queryCol), col(idCol), col("fused_rank").cast("int").as("__rk"))
      .join(rel, Seq(queryCol, idCol), "left")
      .groupBy(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"),
        col(queryCol))
      .agg(
        sum(when(col("__rel").isNotNull,
          col("__rel") * element_at(disc, col("__rk"))).otherwise(0L))
          .as("__dcg"),
        sum(when(col("__rel").isNotNull, 1L).otherwise(0L))
          .as("n_rel_at_k"),
        min(when(col("__rel").isNotNull, col("__rk"))).as("__frk"))
    // every (config, qrels-query) pair must score — a config whose
    // fused list misses a judged query entirely scores zeros there,
    // not a shrunken mean
    val shell = cfg.crossJoin(qAgg)
    shell.join(rAgg,
        Seq("config_id", "k_rrf", "w_a", "w_b", queryCol), "left")
      .na.fill(0L, Seq("__dcg", "n_rel_at_k"))
      .withColumn("__rec_u",
        expr("(2000000 * n_rel_at_k + n_rel) div (2 * n_rel)"))
      .withColumn("__ndcg_u",
        expr("(2000000 * __dcg + __idcg) div (2 * __idcg)"))
      .withColumn("__rr_u", expr(
        "CASE WHEN __frk IS NULL THEN 0L " +
          "ELSE (2000000 + CAST(__frk AS BIGINT)) div " +
          "(2 * CAST(__frk AS BIGINT)) END"))
      .groupBy(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"))
      .agg(count(lit(1)).as("__q"),
        sum(col("__ndcg_u")).as("__nu"),
        sum(col("__rec_u")).as("__ru"),
        sum(col("__rr_u")).as("__mu"))
      // integer round-half-up, then one exact /10⁶ (see rankingQuality)
      .select(col("config_id"), col("k_rrf"), col("w_a"), col("w_b"),
        (expr("(2 * __nu + __q) div (2 * __q)").cast("double") /
          1000000.0).as("ndcg_at_k"),
        (expr("(2 * __ru + __q) div (2 * __q)").cast("double") /
          1000000.0).as("recall_at_k"),
        (expr("(2 * __mu + __q) div (2 * __q)").cast("double") /
          1000000.0).as("mrr"))
  }
}
