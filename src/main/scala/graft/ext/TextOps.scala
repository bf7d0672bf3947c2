package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for a large-scale training-data pipeline
  * (SURVEY.md §2.C). Everything here is a pure Column expression — no UDFs,
  * no driver-side state — so the whole operator stays inside whole-stage
  * codegen and scales linearly with input splits: at 100 TB each of these is
  * a map-only pass over the parquet scan (no shuffle at all until a
  * downstream groupBy).
  */
object TextOps {

  /** Whitespace tokens, lowercased.
    *
    * Deliberately the EXACT semantics of the DuckDB oracles'
    * `regexp_split_to_array(lower(text), '\s+')`, including the empty
    * token split() emits for leading whitespace — both engines agree
    * token-for-token, which the differential harness depends on. Callers
    * feeding untrimmed text should trim() first (the fixtures are
    * pre-trimmed); "fixing" this on one side alone would silently break
    * every token-derived oracle (counts, fingerprints, MinHash).
    */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** BPE-ish subword segmentation: letter runs, digit runs, single
    * punctuation marks. A real BPE vocab lookup would be a broadcast-map
    * join against a merges table; the regex keeps the token *count*
    * deterministic and cheap (the common use: cost estimation / filtering
    * by token budget). For LEARNED subword pricing use
    * [[subwordTokenCount]].
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** LEARNED subword token count under the committed [[BpeMerges]]
    * vocabulary — the pricing scalar the budget/packing/mixture family
    * should feed as its `nTokCol` when whitespace counts would misprice
    * (q150 wires it into [[DedupOps.tokenBudgetSelect]]). Map-only: a
    * native codegen'd expression over the text column, no fit job, no
    * join — see [[Bpe]] for the algorithm and its cross-engine-exact
    * oracle contract. NULL text → NULL; a whitespace-only text → 0.
    */
  def subwordTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.SubwordFunctions
      .subwordTokenCount(text, BpeMerges.merges)

  /** [[subwordTokenCount]] under an explicit merges table (differential
    * specs; custom vocabularies fit with [[Bpe.fit]]).
    */
  def subwordTokenCount(text: Column,
                        merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.SubwordFunctions
      .subwordTokenCount(text, merges)

  /** The text's full learned-subword PIECE SEQUENCE (array<string>, all
    * words' pieces concatenated in document order) under the committed
    * [[BpeMerges]] vocabulary — the token stream a trainer loads, before
    * id assignment; `size(subwordPieces(t)) ≡ subwordTokenCount(t)`.
    * [[PackOps.packTokenStreams]] (q156) consumes it to emit per-bin
    * concatenated sequences with document boundaries. NULL → NULL;
    * whitespace-only → empty array.
    */
  def subwordPieces(text: Column): Column =
    org.apache.spark.sql.graft.SubwordFunctions
      .subwordPieces(text, BpeMerges.merges)

  /** [[subwordPieces]] under an explicit merges table (specs). */
  def subwordPieces(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.SubwordFunctions.subwordPieces(text, merges)

  /** [[subwordTokenCount]] dispatched by a language column (q174): each
    * row prices with its language's committed [[BpeMergesByLang]]
    * vocabulary, falling back to the global [[BpeMerges]] for 'und' or
    * any language without an artifact. ONE native expression holding
    * all the encoders — a when-chain of five encode expressions blows
    * the generated method past Janino's limit and de-JITs the stage.
    * NULL text or NULL language → NULL.
    */
  def subwordTokenCountByLang(text: Column, lang: Column): Column =
    org.apache.spark.sql.graft.SubwordFunctions.subwordTokenCountByLang(
      text, lang, BpeMergesByLang.merges, BpeMerges.merges)

  /** TRAINED quality score under the committed [[QualityLrWeights]]
    * classifier (hashed-n-gram logistic regression — the fastText-style
    * seed-labeled gate; see [[QualityLr]]): σ of the mean hashed-gram
    * weight plus bias, served by one native map-only expression. The
    * learned counterpart of the heuristic [[qualityScore]] — q151 scores
    * the corpus with it, and it slots into [[DedupOps.tokenBudgetSelect]]
    * (q127's shape) or the q64 banded sampling as the score column (E2E in
    * QualityLrSpec). NULL text → NULL. Unrounded; callers round for
    * cross-engine comparison (q151 rounds at 6).
    */
  def qualityLrScore(text: Column): Column =
    org.apache.spark.sql.graft.SubwordFunctions.hashedGramScore(text,
      QualityLrWeights.weights.toIndexedSeq, QualityLrWeights.bias)

  /** [[qualityLrScore]] under explicit weights (specs; custom gates fit
    * with [[QualityLr.fit]]).
    */
  def qualityLrScore(text: Column, weights: Seq[Double],
                     bias: Double): Column =
    org.apache.spark.sql.graft.SubwordFunctions
      .hashedGramScore(text, weights, bias)

  /** Token k-gram shingles: ["a b c", "b c d", ...]; empty when fewer than
    * k tokens. Delegates to the native codegen'd
    * [[org.apache.spark.sql.graft.Shingles]] expression.
    */
  def shingles(toks: Column, k: Int): Column =
    org.apache.spark.sql.graft.VectorFunctions.shingles(toks, k)

  /** Stable whole-document fingerprint: md5 of the single-space-rejoined,
    * lowercased tokens. Cross-engine reproducible (md5 is md5 everywhere),
    * unlike xxhash64/murmur whose implementations differ per engine.
    * Inherits [[tokens]]' oracle-shared split semantics: internal
    * whitespace RUNS normalize, but leading/trailing whitespace
    * contributes an empty token and changes the fingerprint — trim first
    * when surrounding whitespace must not distinguish documents.
    */
  def docFingerprint(text: Column): Column =
    docFingerprintFromToks(tokens(text))

  /** [[docFingerprint]] over pre-materialized tokens — same definition,
    * for callers that already carry a `toks` column (q24/q71). The exact
    * md5(space-joined-tokens) form is the corpus-wide dedup key; keep it
    * defined HERE only, or keep decisions silently diverge between
    * queries.
    */
  def docFingerprintFromToks(toks: Column): Column =
    md5(concat_ws(" ", toks))

  /** Min-shingle fingerprint (1-permutation MinHash): the lexicographic
    * minimum of md5(shingle). Two documents sharing any low-hashing shingle
    * collide — the classic single-band LSH signal. At scale: groupBy this
    * column is one shuffle whose key space is uniform (md5), so no skew.
    */
  def minShingleFingerprint(toks: Column, k: Int): Column =
    array_min(transform(shingles(toks, k), s => md5(s)))

  /** [[minShingleFingerprint]] as a whole-stage-codegen DataFrame op:
    * explode the shingles and take a min(md5) partial aggregate — the
    * scalar form's `transform(_, md5)` is CodegenFallback (interpreted
    * lambda per shingle). Map-side combine reduces the shuffle to one
    * 32-byte row per doc per partition. Docs with fewer than k tokens get
    * a null fingerprint (the scalar form's array_min(empty) does too).
    */
  def minShingleFingerprints(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, toks: Column, k: Int)
      : org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode_outer(shingles(toks, k)).as("__s"))
      .groupBy(col(idCol))
      .agg(min(md5(col("__s"))).as("min_shingle_fp"))

  private val Stopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Stopword-token ratio — a standard quality signal (C4/Gopher rules).
    * Counted by the native [[org.apache.spark.sql.graft.ArrayCountIn]]
    * (duplicates counted, matching the oracle's list_filter); the
    * higher-order `filter` it replaces was interpreted per token.
    */
  def stopwordRatio(toks: Column): Column =
    round(org.apache.spark.sql.graft.VectorFunctions
      .arrayCountIn(toks, Stopwords).cast("double") / size(toks), 4)

  /** Punctuation-character ratio over the raw text. Empty text yields
    * NULL, and therefore a NULL qualityScore — matching the DuckDB
    * oracle's NULL division-by-zero; gate predicates must treat NULL as
    * reject. The explicit guard is required: a bare 0.0/0 raises under
    * ANSI mode (Spark 4 default) rather than yielding null.
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      round(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
        length(text), 4))

  /** Mean token length (chars per token, whitespace removed). */
  def avgTokenLen(text: Column, toks: Column): Column =
    round(length(regexp_replace(text, "\\s", "")).cast("double") / size(toks), 4)

  /** Composite quality score in [0,1]: documents with natural stopword
    * density, enough tokens, and little punctuation score high. The exact
    * weights are illustrative; the shape (pure arithmetic over per-row
    * signals) is what matters for scale.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    round(
      stopwordRatio(toks) * 0.4 +
        least(size(toks).cast("double") / 100.0, lit(1.0)) * 0.3 +
        (lit(1.0) - punctRatio(text)) * 0.3, 4)
  }

  /** Language profiles: the distinct-token overlap with each profile is the
    * language score. Real language ID would use char-n-gram profiles over a
    * trained table (a broadcast join); the mechanism — array_intersect
    * against a tiny in-plan constant list, argmax with a deterministic
    * alphabetical tie-break — is identical.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "不"))

  /** Per-language overlap scores as columns (name -> score). Distinct
    * tokens first, so each profile word counts once (= the oracle's
    * len(list_intersect)); the count itself is the native ArrayCountIn.
    */
  def langScores(toks: Column): Seq[(String, Column)] = {
    val dt = array_distinct(toks)
    LangProfiles.map { case (lang, words) =>
      lang -> org.apache.spark.sql.graft.VectorFunctions.arrayCountIn(dt, words)
    }
  }

  /** TF-IDF top-k terms per document. Stages, each shuffle-friendly:
    *   1. explode tokens → term frequency per (doc, term) — partial agg
    *      combines map-side, the shuffle key (doc, term) is uniform;
    *   2. document frequency per term — second partial agg over the tf
    *      table (already deduped per doc, so count(*) IS the doc count);
    *   3. idf = ln(N/df) via a 1-row broadcast of N; the tf⋈df join keys
    *      on term — Catalyst/AQE picks broadcast vs shuffle by vocab size
    *      (a 100 TB vocabulary shuffles; don't force broadcast);
    *   4. per-doc top-k by (score desc, term) — WindowGroupLimit pushes k
    *      into the sort.
    * Scores round to 6 decimals BEFORE ranking so rank ties (equal tf and
    * df) break on the term, deterministically, in any engine.
    */
  def tfIdfTopK(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf").cast("long").as("tf"),
        col("tfidf"))
  }

  /** Duplicate k-gram fraction: 1 - distinct/total over the document's
    * token k-grams — the Gopher-style repetition signal. Map-only: the
    * shingle expression is the native codegen kernel and
    * `array_distinct`/`size` are built-ins, so this runs entirely inside
    * the scan's whole-stage codegen. Fewer than k tokens → null (no
    * k-grams to measure).
    */
  def dupNgramFrac(toks: Column, k: Int): Column = {
    val sh = shingles(toks, k)
    when(size(sh) > 0,
      round(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh), 4))
  }

  /** Per-document repetition metrics + a Gopher-style repetition gate:
    *   - top_tok_frac: frequency of the most common token / token count;
    *   - dup_2gram_frac / dup_3gram_frac: duplicate k-gram fractions;
    *   - repetitive: true when any signal crosses its threshold.
    * The duplicate fractions are map-only (see [[dupNgramFrac]]); the top
    * token needs real counting, done as explode → two partial aggregates
    * (both combine map-side; the (doc, token) shuffle key is uniform), then
    * a join back on the doc id — at 100 TB that's two well-shaped shuffles
    * and nothing driver-side.
    */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String,
                        maxTopTokFrac: Double = 0.14,
                        maxDup2Frac: Double = 0.07,
                        maxDup3Frac: Double = 0.02)
      : org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val topTok = docs
      .select(col(idCol), explode(toks).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__top"), sum(col("__c")).as("__n"))
      .select(col(idCol),
        round(col("__top").cast("double") / col("__n"), 4).as("top_tok_frac"))
    docs
      .select(col(idCol),
        dupNgramFrac(toks, 2).as("dup_2gram_frac"),
        dupNgramFrac(toks, 3).as("dup_3gram_frac"))
      // left join: a null-text doc has no exploded tokens and so no topTok
      // row — it must still come out (with null metrics), a gate operator
      // never drops input rows
      .join(topTok, Seq(idCol), "left")
      .withColumn("repetitive",
        col("top_tok_frac") > maxTopTokFrac ||
          col("dup_2gram_frac") > maxDup2Frac ||
          col("dup_3gram_frac") > maxDup3Frac)
  }

  /** Sliding-window chunking with overlap — the retrieval/embedding prep
    * step (RAG corpora, long-doc embedding): each document becomes
    * chunks of `chunkTokens` tokens starting every `strideTokens`
    * (overlap = chunkTokens − strideTokens), the final chunk truncating
    * at the tail. Chunk starts are 0, stride, …, the largest multiple of
    * stride < nTokens, so every token lands in ≥1 chunk and a short doc
    * emits exactly one. Map-only: tokenize + one bounded explode per
    * doc, no shuffle, no state — at 100 TB this is a pure scan transform
    * whose output feeds [[graft.ext.DedupOps.chunkDedup]] or the
    * embedding encoder downstream.
    * Output: (idCol, chunk_idx, start_tok, n_tokens, chunk_text).
    */
  def slidingChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, chunkTokens: Int, strideTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0,
      s"chunkTokens=$chunkTokens and strideTokens=$strideTokens must be positive")
    require(strideTokens <= chunkTokens,
      s"strideTokens=$strideTokens > chunkTokens=$chunkTokens would drop tokens")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0),
          floor((size(col("__toks")) - 1) / lit(strideTokens)).cast("int")))
          .as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * lit(strideTokens))
      .withColumn("__chunk",
        slice(col("__toks"), col("start_tok") + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Benchmark decontamination: flag training documents sharing any token
    * k-gram with an evaluation set — the standard pre-training hygiene
    * pass. Eval k-grams are distinct-collected and BROADCAST (benchmark
    * suites are tiny next to a training corpus), and the broadcast filter
    * runs BEFORE any corpus-side shuffle: the exploded (doc, gram) stream
    * is cut down to the contaminated subset map-side, so the only corpus
    * shuffle carries hits — near-empty for a clean corpus — not every
    * distinct gram. Per-doc distinct semantics come from countDistinct
    * AFTER the filter (a gram repeated within a doc counts once). The hit
    * count left-joins back so clean documents keep n_hit_grams=0.
    * Output: (idCol, n_hit_grams, contaminated).
    */
  def contaminationFlags(train: org.apache.spark.sql.DataFrame,
                         evalDocs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val banned = evalDocs
      .select(explode(shingles(tokens(col(textCol)), k)).as("__g"))
      .distinct()
    val hits = train
      .select(col(idCol), explode(shingles(tokens(col(textCol)), k)).as("__g"))
      .join(broadcast(banned), Seq("__g"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__g")).as("__hits"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hits"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0)
  }

  /** The EVAL-SIDE contamination view (q162): per evaluation document,
    * what fraction of its distinct token k-grams appears ANYWHERE in the
    * training corpus — the overlap table a benchmark-hygiene writeup
    * actually cites ("eval doc X is N% covered by train"), where
    * [[contaminationFlags]] is the train-side view (which training docs
    * to drop). Scale shape mirrors it: the eval gram set broadcasts (an
    * eval suite is tiny by definition) and the TRAIN side is ONE scan
    * whose exploded gram stream is cut map-side by that broadcast
    * BEFORE any shuffle — the only shuffled rows are matched grams,
    * bounded by the EVAL vocabulary, never corpus-sized. Eval docs with
    * fewer than k tokens have no grams: kept with n_grams = 0 and a
    * NULL fraction (0/0 is unmeasurable, not "clean").
    * Output: (idCol, n_grams, n_hit, overlap_frac).
    */
  def evalOverlapReport(train: org.apache.spark.sql.DataFrame,
                        evalDocs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val evGrams = evalDocs
      .select(col(idCol), explode(shingles(tokens(col(textCol)), k)).as("__g"))
      .distinct()
    val evGramSet = evGrams.select(col("__g")).distinct()
    val hitGrams = train
      .select(explode(shingles(tokens(col(textCol)), k)).as("__g"))
      .join(broadcast(evGramSet), Seq("__g"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1))
    val per = evGrams.join(hitGrams, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
    evalDocs.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          round(col("n_hit").cast("double") / col("n_grams"), 4)))
  }

  /** [[contaminationFlags]] with a Bloom prefilter — the formulation for
    * banned sets too large to broadcast-hash-join. Identical output by
    * construction (the Bloom pass has no false negatives, and an exact
    * confirm join kills its false positives), verified by the q92 oracle
    * — the SAME DuckDB SQL as q63.
    *
    * Why this exists: [[contaminationFlags]] broadcasts the banned-gram
    * set, which is the right plan while that set fits an exact hash
    * relation (~8 GB ceiling). A 100 TB-era benchmark suite can carry
    * 10⁹+ distinct n-grams — beyond broadcast, at which point the
    * broadcast form degrades to shuffling the ENTIRE exploded corpus
    * gram stream against the banned set. Here the corpus side instead
    * probes a fixed-size Bloom filter inside one fused map-side kernel
    * ([[org.apache.spark.sql.graft.BloomRetain]]): clean documents (the
    * overwhelming majority) produce zero candidate rows and never
    * explode, never shuffle. Only Bloom survivors (true hits + fpp
    * false positives) reach the exact confirm join, whose stream side
    * is now tiny — so that join is cheap under ANY strategy and the
    * banned set never needs to fit in executor memory. Filter size is
    * set by the banned cardinality alone (~1.2 GB per 10⁹ grams at 1%
    * fpp), shipped once per executor as a broadcast variable.
    *
    * The eval side is scanned three times (cardinality count, filter
    * build, confirm join) — it is the small side by definition, and
    * sizing the filter from the exact count keeps fpp honest.
    */
  /** Build the banned-gram Bloom filter from an eval corpus, sized from
    * the exact distinct-gram count. The broadcast handle feeds
    * [[contaminationFlagsBloom]] and [[contaminationGate]]; build once,
    * gate many inputs (batch shards or a stream).
    */
  /** THE banned-gram set: single definition shared by the filter build
    * and the confirm join — any divergence between the two would break
    * the no-false-negative invariant the Bloom formulation rests on.
    */
  private def bannedGrams(evalDocs: org.apache.spark.sql.DataFrame,
                          textCol: String, k: Int)
      : org.apache.spark.sql.DataFrame =
    evalDocs
      .select(explode(shingles(tokens(col(textCol)), k)).as("__g"))
      .distinct()

  def bannedGramBloom(evalDocs: org.apache.spark.sql.DataFrame,
                      textCol: String, k: Int, fpp: Double = 0.01)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] = {
    val banned = bannedGrams(evalDocs, textCol, k)
    val nBanned = math.max(1L, banned.count())
    evalDocs.sparkSession.sparkContext.broadcast(
      org.apache.spark.sql.graft.BloomFunctions.serialize(
        banned.stat.bloomFilter("__g", nBanned, fpp)))
  }

  /** Map-only contamination gate: appends `n_candidate_grams` (Bloom
    * survivors among the doc's k-grams) and `flagged`. No aggregate, no
    * join, no state — the SAME Column expressions run unchanged on a
    * batch OR STREAMING DataFrame (`StreamBatchParitySpec` pins the
    * equivalence), which is the realistic streaming-ingest shape at
    * 100 TB: every truly contaminated document is flagged (the filter
    * has no false negatives), the fpp-rate of clean docs over-flagged
    * is the price of exactness deferred to the batch confirm
    * ([[contaminationFlagsBloom]]'s join) over the flagged slice only.
    */
  def contaminationGate(docs: org.apache.spark.sql.DataFrame,
                        textCol: String, k: Int,
                        bloom: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("n_candidate_grams",
        size(org.apache.spark.sql.graft.BloomFunctions
          .bloomRetain(shingles(tokens(col(textCol)), k), bloom)))
      .withColumn("flagged", col("n_candidate_grams") > 0)

  def contaminationFlagsBloom(train: org.apache.spark.sql.DataFrame,
                              evalDocs: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String, k: Int,
                              fpp: Double = 0.01)
      : org.apache.spark.sql.DataFrame = {
    val banned = bannedGrams(evalDocs, textCol, k)
    val bloomB = bannedGramBloom(evalDocs, textCol, k, fpp)
    val hits = train
      .select(col(idCol),
        org.apache.spark.sql.graft.BloomFunctions
          .bloomRetain(shingles(tokens(col(textCol)), k), bloomB)
          .as("__cand"))
      .filter(size(col("__cand")) > 0) // clean docs stop here, map-side
      // distinct map-side: the confirm join and hit count only need each
      // surviving gram once per doc
      .select(col(idCol), explode(array_distinct(col("__cand"))).as("__g"))
      // deliberately UNHINTED: candidates are few, so AQE broadcasts the
      // small side at test scale and sort-merges at banned-set scales
      // where no side fits memory — both correct
      .join(banned, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__hits"))
    train.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hits"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0)
  }

  /** Tokenizer-vocabulary coverage audit: derive the top-`vocabSize`
    * corpus vocabulary (by frequency, ties broken alphabetically — a
    * strict total order, so the cutoff is deterministic) and report each
    * document's token count, out-of-vocabulary count, and OOV rate — the
    * signal that decides whether a tokenizer's vocab fits a corpus before
    * an expensive training run.
    *
    * Plan shape: the vocab derivation is a partial-agg token count +
    * TakeOrderedAndProject (top-N never sorts the full vocabulary), and
    * the coverage pass left-joins the BROADCAST vocab (vocabSize rows) so
    * the corpus-side token stream only shuffles once, on the doc id, for
    * the per-doc rollup. A production pipeline would persist the vocab
    * and skip the derivation scan; deriving inline keeps the operator
    * self-contained.
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, vocabSize: Int)
      : org.apache.spark.sql.DataFrame = {
    // explode_outer: a NULL-text doc keeps one null-token row, so every
    // input doc appears in the per-doc output (0 tokens, null oov_rate) —
    // a plain explode would silently drop it from the metric table
    val tokStream = docs.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("__t"))
    val vocab = tokStream.filter(col("__t").isNotNull).groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__t"))
      .limit(vocabSize)
      .select(col("__t"), lit(1).as("__in"))
    tokStream
      .join(broadcast(vocab), Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__t")).as("n_tokens"),
        sum(when(col("__t").isNotNull && col("__in").isNull, 1L)
          .otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        // explicit guard: a 0-token (null-text) doc gets a null rate —
        // 0.0/0 would raise under ANSI mode rather than yield null
        when(col("n_tokens") > 0,
          round(col("n_oov").cast("double") / col("n_tokens"), 4)))
  }

  /** Unigram language-model quality score — the KenLM-style perplexity
    * filter reduced to its distributed skeleton: train the LM on the
    * corpus itself (token frequencies), score each document by its average
    * per-token log-probability, and flag outliers below `minAvgLogp`
    * (gibberish and vocabulary-foreign documents sit in the low tail).
    * A real pipeline swaps the in-plan frequency table for a pretrained
    * LM table; the plan shape — frequency join + per-doc rollup — is
    * identical.
    *
    * Plan shape: one token-count partial agg over the corpus, the tf⋈freq
    * join keyed on the token (AQE picks broadcast vs shuffle by vocab
    * size — a 100 TB corpus's vocabulary may not fit a broadcast, so it
    * is not forced), a 1-row total broadcast, and one per-doc rollup
    * shuffle. The scalar total is summed from the ALREADY-AGGREGATED
    * vocab-sized freq table, not by a third scan of the corpus.
    */
  def lmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, minAvgLogp: Double)
      : org.apache.spark.sql.DataFrame = {
    // explode_outer + left freq join: NULL-text docs stay in the output
    // (0 tokens, null score) instead of vanishing from the metric table
    val tok = docs.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("__t"))
    val freq = tok.filter(col("__t").isNotNull)
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val total = freq.agg(sum(col("__c")).cast("double").as("__total"))
    tok.join(freq, Seq("__t"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(col("__t")).as("n_toks"),
        round(sum(log(col("__c") / col("__total"))) / count(col("__t")), 4)
          .as("avg_logp"))
      .withColumn("lm_outlier", col("avg_logp") < minAvgLogp)
  }

  /** Predicted language: argmax of profile overlap, ties resolved
    * alphabetically (profiles are already alphabetical).
    */
  def langId(toks: Column): Column = {
    val scores = langScores(toks)
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast("string")) { case (acc, (lang, s)) =>
      when(acc.isNotNull, acc).when(s === best, lit(lang)).otherwise(acc)
    }
  }

  // -- PII redaction ---------------------------------------------------

  /** The three redaction patterns, shared verbatim with the DuckDB
    * oracle (q91 embeds the same strings). Deliberately restricted to
    * syntax Java regex and RE2 interpret identically: no backreferences,
    * no lookaround, ASCII `\b` word boundaries, explicit `[0-9]` classes.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern: String = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** PII redaction — the scrub every released training corpus runs
    * (C4 and The Pile both strip emails/IPs). Emails → `<EMAIL>`,
    * IPv4 addresses → `<IP>`, simple international phone shapes
    * (`+1-555-0199`, `212 555 0123`) → `<PHONE>`. Order matters and is
    * fixed: emails first (an address can embed digit runs a later pass
    * would half-eat), then IPs (four octets — disjoint from the 1-3-4
    * phone shape, so the two never race), then phones. Pure
    * `regexp_replace` composition: map-only, whole-stage codegen, zero
    * shuffles at any scale. False-negative-leaning by design — a scrub
    * must never corrupt non-PII text; recall comes from corpus audits
    * ([[piiCounts]] is the audit side).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Per-document PII hit counts (emails, ipv4s, phones) — the audit
    * metric: run BEFORE redaction to size the problem, AFTER to prove
    * the scrub converged to zero. Same shared patterns as [[redactPii]];
    * counts overlap-free left-to-right matches like the replacement
    * does, so n_emails + n_ips + n_phones is exactly the number of
    * `<...>` markers redaction would emit. NULL text counts NULL
    * (the gate-must-see-null contract [[punctRatio]] documents).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    // size(NULL) is -1 or NULL depending on the session's ANSI flag — the
    // explicit guard pins NULL-in → NULL-out independent of session config
    def n(c: Column) = when(text.isNotNull, size(c))
    Seq(
      "n_emails" -> n(regexp_extract_all(text, lit(EmailPattern), lit(0))),
      "n_ips" -> n(regexp_extract_all(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(Ipv4Pattern), lit(0))),
      "n_phones" -> n(regexp_extract_all(
        regexp_replace(
          regexp_replace(text, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        lit(PhonePattern), lit(0))))
  }

  // -- Corpus-level boilerplate ---------------------------------------

  /** Corpus-level boilerplate metrics — RefinedWeb/CCNet's
    * "duplicated-line fraction" adapted to shingles: for each document,
    * the fraction of its DISTINCT token k-gram shingles whose corpus
    * document frequency exceeds `maxDf` (shared navigation chrome,
    * licence blurbs, templated headers — text that is common *across*
    * documents, which the within-document [[repetitionMetrics]] cannot
    * see). Documents whose common fraction exceeds `maxCommonFrac` are
    * flagged. Newline-delimited corpora can pass lines where this uses
    * shingles; the df/fraction machinery is identical.
    *
    * Output: (idCol, n_shingles, n_common, common_frac, boilerplate).
    * Documents with fewer than k tokens have no shingles: n_shingles=0,
    * common_frac NULL, boilerplate false (nothing to judge).
    *
    * Plan shape at 100 TB: one exploded (doc, shingle) stream,
    * de-duplicated per doc (shuffle 1, uniform key), re-aggregated to
    * corpus df (shuffle 2, with map-side combine). The common set —
    * df > maxDf — usually stays tiny (commonness is the exception), and
    * when it is, AQE promotes the mark join to a runtime broadcast, so
    * the per-doc rollup (shuffle 3, doc-id key) never carries the
    * shingle strings of clean documents twice. The hint is deliberately
    * NOT forced: the set is unbounded (a stopword-flooded corpus can
    * push most frequent n-grams over maxDf), and AQE cannot demote a
    * forced broadcast — unhinted, an oversized common set degrades to a
    * shuffle join instead of an executor OOM. No driver-side collection
    * anywhere.
    */
  def boilerplateMetrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, k: Int = 3, maxDf: Long = 10,
                         maxCommonFrac: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    val docShingles = docs
      .select(col(idCol), explode(shingles(tokens(col(textCol)), k)).as("__s"))
      .distinct()
    val common = docShingles
      .groupBy(col("__s")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__s"))
    val perDoc = docShingles
      // NO forced broadcast hint (ADVICE r9): the df>maxDf set is
      // unbounded — a stopword-flooded natural-language corpus can push
      // most frequent n-grams over maxDf, and AQE cannot demote a forced
      // broadcast, so the hint would turn "common set grew" into an
      // executor OOM. Unhinted, AQE promotes the join to broadcast at
      // runtime when the set is actually small (the normal case — the
      // q90 plan spec asserts the FINAL adaptive plan broadcasts at test
      // scale) and falls back to a shuffle join when it isn't: slower,
      // never dead.
      .join(common.withColumn("__hit", lit(1)), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_common"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("common_frac",
        when(col("n_shingles") > 0,
          round(col("n_common").cast("double") / col("n_shingles"), 4)))
      .withColumn("boilerplate",
        coalesce(col("common_frac") > maxCommonFrac, lit(false)))
  }

  /** Bigram stupid-backoff LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the smoothing CCNet-style
    * perplexity filters actually use, because at corpus scale backoff
    * beats fancier smoothing that needs held-out tuning): train counts on
    * `trainDocs`, score `scoreDocs` per token as
    *
    *   - first token (no predecessor):  (c1(w)+1) / (T+V)   (add-one)
    *   - seen bigram (w_prev w):        c2(w_prev,w) / c1(w_prev)
    *   - unseen bigram:                 α · (c1(w)+1) / (T+V)
    *
    * where T = train token count, V = train vocab size; add-one keeps
    * unseen WORDS finite (ln 0 otherwise), and α = 0.4 is the paper's
    * constant. Train ≠ score is the point — [[lmScore]] (q70) trains on
    * the corpus it scores, so every n-gram is "seen" and only frequency
    * matters; held-out scoring is what makes unseen continuations (the
    * gibberish signal) actually score low.
    *
    * Output: (idCol, n_toks, avg_logp, lm_outlier). Null/empty-token docs
    * keep a row (0 tokens, null score, null flag — q70's contract).
    *
    * Plan shape at 100 TB: train-side counts are two map-side-combined
    * aggregations (words, bigram shingles); the 1-row (T, V) broadcast
    * crosses in. The score side pays ONE shuffle on the doc id — the lag
    * window that pairs each token with its predecessor — which the final
    * per-doc rollup then reuses (same key, no second exchange). The
    * unigram/bigram count joins are unhinted: vocabularies are unbounded,
    * AQE broadcasts them only when they actually fit.
    */
  def lmScoreBackoff(scoreDocs: org.apache.spark.sql.DataFrame,
                     trainDocs: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String, minAvgLogp: Double,
                     alpha: Double = 0.4)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trainToks = trainDocs
      .select(explode(tokens(col(textCol))).as("__t"))
    val uni = trainToks.groupBy(col("__t")).agg(count(lit(1)).as("__c1"))
    val stats = uni.agg(sum(col("__c1")).cast("double").as("__total"),
      count(lit(1)).cast("double").as("__vocab"))
    val big = trainDocs
      .select(explode(shingles(tokens(col(textCol)), 2)).as("__bg"))
      .groupBy(col("__bg")).agg(count(lit(1)).as("__c2"))
    val toks = scoreDocs.select(col(idCol),
      posexplode_outer(tokens(col(textCol))).as(Seq("__pos", "__w")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val paired = toks
      .withColumn("__p", lag(col("__w"), 1).over(wDoc))
      .withColumn("__bg",
        when(col("__p").isNotNull, concat_ws(" ", col("__p"), col("__w"))))
    val joined = paired
      .join(uni.select(col("__t").as("__w"), col("__c1").as("__cw")),
        Seq("__w"), "left")
      .join(uni.select(col("__t").as("__p"), col("__c1").as("__cp")),
        Seq("__p"), "left")
      .join(big, Seq("__bg"), "left")
      .crossJoin(broadcast(stats))
    val laplace = (coalesce(col("__cw"), lit(0L)) + 1) /
      (col("__total") + col("__vocab"))
    val score = when(col("__p").isNull, laplace)
      .when(col("__c2").isNotNull, col("__c2") / col("__cp"))
      .otherwise(lit(alpha) * laplace)
    joined
      .groupBy(col(idCol))
      .agg(count(col("__w")).as("n_toks"),
        round(sum(when(col("__w").isNotNull, log(score))) /
          count(col("__w")), 4).as("avg_logp"))
      .withColumn("lm_outlier", col("avg_logp") < minAvgLogp)
  }

  /** DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much it looks like a TARGET distribution
    * (the trusted slice `targetPred` selects — Wikipedia-like pages, a
    * vetted domain, a language), under hashed bag-of-n-grams language
    * models. Features are unigrams ∪ bigrams hashed into `nBuckets`
    * buckets (the paper's hashed n-gram trick — the model size is FIXED at
    * nBuckets regardless of corpus vocabulary); per-doc weight is
    * log w(x) = Σ_g [ log p̂(bucket(g)) − log q̂(bucket(g)) ], with
    * add-one smoothing over the bucket space on both distributions.
    * Selection is then resampling ∝ w — compose with the existing
    * samplers ([[DedupOps.exactSample]] / topKPerGroup) downstream;
    * this operator owns the statistic, not the coin.
    *
    * Scale shape: the gram stream is tokenized ONCE and collapsed
    * immediately into per-(doc, bucket) occurrence counts — a map-side-
    * combined aggregate bounded by docs × min(nBuckets, doc grams), the
    * only pass that ever sees raw text. Both bucket histograms then come
    * from ONE aggregate over that collapsed stream (the raw count and the
    * target count share a groupBy via a conditional count), whose output
    * is ≤ nBuckets rows BY CONSTRUCTION (the paper's design point, and
    * why this beats a vocabulary join at 100 TB); the log-ratio table
    * broadcasts (explicitly — it cannot exceed nBuckets rows), so scoring
    * is a broadcast join over the collapsed counts, not the gram stream.
    * Bucket totals ride a 1-row scalar cross join, the q107 (T, V) shape.
    *
    * Returns (idCol, n_feats, log_w); null-text docs keep their row with
    * (0, null). An EMPTY target slice (a misconfigured targetPred) is
    * handled explicitly: the target total coalesces to 0, so add-one
    * smoothing still yields finite log-ratios instead of silently
    * nulling every weight. Cross-engine: the bucket hash is the portable
    * md5-hex-prefix family every dedup oracle uses.
    */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, targetPred: Column,
                  idCol: String, textCol: String, nBuckets: Int = 256)
      : org.apache.spark.sql.DataFrame = {
    require(nBuckets > 0, s"dsirWeights: nBuckets must be positive")
    val b = lit(nBuckets)
    // one tokenize pass, collapsed to (doc, tgt?, bucket) → occurrences;
    // __tgt rides the group key (functionally dependent on the doc id).
    // A null-text doc keeps one 0-count row via explode_outer + count(__g),
    // parked in sentinel bucket -1 (outside [0, nBuckets)): a NULLABLE
    // bucket key would make Catalyst infer an isnotnull filter on the
    // ratio side of the scoring join, push it below the shared aggregate,
    // and break the subtree identity that lets exchange reuse run this
    // tokenize pass ONCE for all three consumers (pinned in QueryPlanSpec)
    val docBuckets = docs.select(col(idCol), targetPred.as("__tgt"),
        explode_outer(concat(tokens(col(textCol)),
          shingles(tokens(col(textCol)), 2))).as("__g"))
      .withColumn("__b", coalesce(pmod(
        conv(substring(md5(col("__g")), 1, 8), 16, 10).cast("long"), b),
        lit(-1L)))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(col("__g")).as("__n"))
    // one histogram aggregate over the collapsed counts: raw total and
    // target slice per bucket (targetPred null ⇒ not in the target, like
    // the predicate filter it replaces). Deliberately NOT filtered to
    // real buckets: the sentinel group carries __n = 0 so it perturbs no
    // count or total, and a filter on the grouping key would push below
    // the shared aggregate and break the exchange-reuse subtree identity
    val cnt = docBuckets
      .groupBy(col("__b"))
      .agg(sum(col("__n")).as("__cr"),
        sum(when(col("__tgt"), col("__n")).otherwise(0L)).as("__ct"))
    // empty-target guard: sum over zero target rows is 0 here (the
    // conditional count yields 0-valued rows), and an entirely empty
    // corpus coalesces to 0.0 — either way the ratios stay finite
    val tots = cnt.agg(
      coalesce(sum(col("__cr")).cast("double"), lit(0.0)).as("__rt"),
      coalesce(sum(col("__ct")).cast("double"), lit(0.0)).as("__tt"))
    val ratios = cnt.crossJoin(broadcast(tots))
      .select(col("__b"),
        (log((col("__ct") + 1) / (col("__tt") + b)) -
          log((col("__cr") + 1) / (col("__rt") + b))).as("__lr"))
    // a null-text doc's sentinel row DOES join the (0, 0)-count sentinel
    // ratio, so its weight is nulled explicitly: 0 features ⇒ null log_w,
    // the documented contract
    docBuckets.join(broadcast(ratios), Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_feats"),
        when(sum(col("__n")) > 0,
          round(sum(col("__n") * col("__lr")), 4)).as("log_w"))
  }

  /** Consecutive-duplicate-token collapse — the EXECUTION counterpart of
    * [[repetitionMetrics]] (q62 measures stutter; this removes it): every
    * run of identical adjacent tokens collapses to its first occurrence
    * ("batch batch batch" → "batch"), the classic cleanup for scraped
    * pagination chrome and generation loops. Periodicity beyond 1 is out
    * of scope by design — higher-period cuts depend on earlier cuts and so
    * serialize; for block-level (period-p) repeats COMPOSE with
    * [[DedupOps.chunkDedup]], whose first-occurrence rule is
    * position-independent: collapse first (stutter would misalign the
    * chunk grid), then chunk-dedup at the block size. The worked
    * pagination-chrome example is pinned in TextOpsSpec ("period-p
    * repeats via composition").
    *
    * One doc-keyed shuffle total: the lag window flags each token against
    * its predecessor, and the shared [[Reassemble.reassembleKept]]
    * aggregate rebuilds the survivors (sorted kept-struct collect — no
    * running-prefix arrays); the rollup rides the window's partitioning
    * (exchange reuse). Map-only before that; nothing global.
    *
    * Returns (idCol, n_tokens, n_kept, clean_text); a null-text doc keeps
    * its row with 0/0/null.
    */
  def collapseTokenRuns(docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      posexplode_outer(tokens(col(textCol))).as(Seq("__pos", "__w")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val flagged = toks
      .withColumn("__keep", col("__w").isNotNull &&
        coalesce(col("__w") =!= lag(col("__w"), 1).over(wDoc), lit(true)))
    Reassemble.reassembleKept(flagged, idCol, "__pos", "__w", "__keep",
      "n_tokens")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): every document is scored against a
    * reference LM trained on a TRUSTED slice (CCNet trains KenLM on
    * Wikipedia; here the [[lmScoreBackoff]] bigram stupid-backoff model
    * on the `trainPred` rows), then the corpus splits into equal-mass
    * `head` / `middle` / `tail` thirds by model score — head = the third
    * the reference model likes best (highest avg log-prob = lowest
    * perplexity), the slice CCNet keeps for LM pretraining.
    *
    * Bucket boundaries are DISCRETE quantiles computed from a value
    * histogram, not a global sort: `avg_logp` is rounded to 4 digits, so
    * `groupBy(avg_logp).count` is a map-side-combined aggregate whose
    * output is bounded by the score RANGE (a few thousand distinct
    * values), independent of corpus row count — the cumulative-sum window
    * over it is a single tiny partition by construction, the same
    * histogram trick CCNet itself uses for its percentile cut-offs. The
    * thresholds then broadcast back as a 1-row cross join (the same
    * scalar-broadcast shape as q107's (T, V) stats), so the whole bucket
    * assignment is map-side: no global sort, no ntile over one partition,
    * no driver collect. Ties at a boundary share a bucket (disc
    * quantiles compare against actual data values), which keeps the
    * decision deterministic on both engines with no order-dependence.
    *
    * Null-score docs (null text / zero tokens, which [[lmScoreBackoff]]'s
    * contract deliberately preserves with a null avg_logp) get an
    * explicit `"null"` bucket and are EXCLUDED from the histogram and the
    * total the thresholds divide: without that they would fall through
    * the `<=` comparisons into `head` — the slice CCNet KEEPS — putting
    * unscoreable garbage in the kept corpus, and their histogram group
    * would sort NULLS FIRST here but NULLS LAST in DuckDB, shifting the
    * disc-quantile thresholds cross-engine.
    *
    * Returns one row per input document: (idCol, n_toks, avg_logp,
    * bucket).
    */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame,
                        trainPred: Column, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lmScoreBackoff(docs, docs.filter(trainPred), idCol,
        textCol, minAvgLogp = 0.0)
      .drop("lm_outlier")
    val hist = scored.filter(col("avg_logp").isNotNull)
      .groupBy(col("avg_logp")).agg(count(lit(1)).as("__c"))
    // distinct rounded scores only — a tiny single-partition window, like
    // fitCentroids' nCells-row collect, not a corpus-sized sort
    val wCum = Window.orderBy(col("avg_logp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("avg_logp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the scored-row count the quantiles divide is the histogram's own
    // mass — a whole-frame sum over the SAME tiny single-partition
    // window, not a separate count branch: a third reference to the
    // LM-scoring lineage that would rely on runtime exchange reuse to
    // not run again (q110's executed census: plans/r21)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    // disc quantile: smallest score value whose cumulative count reaches
    // ceil(q*n); ceil(n/3) = floor((n+2)/3) in integer arithmetic, written
    // as floor(double-div) because both engines divide integers to double
    val thr = cum.agg(
      min(when(col("__cum") >= floor((col("__n") + 2) / 3),
        col("avg_logp"))).as("__t1"),
      min(when(col("__cum") >= floor((col("__n") * 2 + 2) / 3),
        col("avg_logp"))).as("__t2"))
    scored.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col("avg_logp").isNull, lit("null"))
          .when(col("avg_logp") <= col("__t1"), lit("tail"))
          .when(col("avg_logp") <= col("__t2"), lit("middle"))
          .otherwise(lit("head")))
      .select(col(idCol), col("n_toks"), col("avg_logp"), col("bucket"))
  }

  // -- Cross-document duplicated-span coverage --------------------------

  /** Exact-substring duplication coverage (the signal behind Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — their suffix-array pass, re-expressed as a
    * position-fingerprint sweep Spark can shuffle): every overlapping
    * token `n`-gram POSITION is fingerprinted, grams occurring in at
    * least `minDocs` DISTINCT documents are shared, and each document
    * reports the fraction of its positions covered by shared grams.
    *
    * Distinct from its two neighbors: [[repetitionMetrics]] sees only
    * WITHIN-document repeats, and [[boilerplateMetrics]] counts a
    * document's DISTINCT shingles that are corpus-common (df > maxDf ≫ 2)
    * — chrome, not duplication. This one is position-weighted (a document
    * that is 90% one shared paragraph scores 0.9 even though that's a
    * single distinct shingle) and triggers at `minDocs` = 2, which is the
    * dedup decision boundary, not the boilerplate one. Flagged documents
    * are the span-level dedup candidates exact/MinHash doc-level dedup
    * misses: mostly-copied documents with enough novel framing to dodge a
    * whole-document key.
    *
    * Output: (idCol, n_grams, n_shared, shared_frac, flagged). Documents
    * with fewer than `n` tokens have no grams: n_grams = 0, shared_frac
    * NULL, flagged false.
    *
    * Plan shape at 100 TB: the corpus is tokenized ONCE into a
    * (doc, md5-fingerprint) stream — positions travel as unhex'd
    * 16-byte binary hashes (not 32-char hex strings),
    * never as text. Shuffle 1 dedups (fp, doc) pairs (uniform key);
    * shuffle 2 aggregates distinct-doc counts per fp with map-side
    * combine; the mark join back to the position stream is unhinted —
    * the shared set is unbounded (a templated corpus can share most
    * grams), so AQE picks broadcast only when it actually fits — and
    * shuffle 3 rolls up per doc. No driver-side collection.
    */
  def crossDocSpanStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, n: Int, minDocs: Long = 2L,
                        maxFrac: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    // explode_outer: a doc with no grams keeps one null row, so it still
    // appears in the rollup (0 grams) without a second pass over `docs`
    val grams = docs
      .select(col(idCol),
        explode_outer(shingles(tokens(col(textCol)), n)).as("__g"))
      .withColumn("__fp", unhex(md5(col("__g"))))
      .select(col(idCol), col("__fp"))
    val shared = grams.filter(col("__fp").isNotNull)
      .distinct()
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fp"))
    grams
      .join(shared.withColumn("__hit", lit(1)), Seq("__fp"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__fp")).as("n_grams"),
        count(col("__hit")).as("n_shared"))
      .withColumn("shared_frac",
        when(col("n_grams") > 0,
          round(col("n_shared").cast("double") / col("n_grams"), 4)))
      .withColumn("flagged",
        coalesce(col("shared_frac") > maxFrac, lit(false)))
  }

  /** EXECUTE the span-level dedup [[crossDocSpanStats]] only recommends:
    * cut each document's cross-document duplicated spans and reassemble
    * the novel remainder — Lee et al. 2022's ExactSubstr transform
    * (arXiv:2107.06499 §4.2: remove the duplicated substring, keep ONE
    * occurrence corpus-wide), re-expressed as token-gram coverage so the
    * whole thing is windows + one mark join instead of a suffix array.
    *
    * Rules: a token `n`-gram is SHARED when it occurs in >= `minDocs`
    * distinct documents; its KEEPER occurrence is the corpus-wide first
    * (lexicographic min (id, pos) — also first-within-doc for a doc that
    * repeats its own span). A token survives unless it is covered ONLY by
    * non-keeper shared gram occurrences — so the first copy of a
    * duplicated paragraph stays intact (its tokens sit under keeper
    * grams), later copies are cut wholesale, and novel framing around a
    * copied span survives in place (its boundary grams mix novel tokens,
    * so they are not corpus-shared).
    *
    * Output: (idCol, n_toks, n_kept, clean_text); clean_text is the
    * kept tokens space-joined (lowercased, whitespace-normalized — the
    * [[DedupOps.chunkDedup]] contract), null when nothing survives.
    *
    * Plan shape at 100 TB: the corpus is tokenized ONCE; grams are built
    * on the token stream itself by `lead()` windows (no second explode,
    * no gram strings — only their md5 fingerprints exist). The token
    * stream pays exactly ONE hash exchange (doc-keyed) end-to-end: the
    * lead window, both coverage windows, and the final rollup all ride
    * it, and even the (fp, doc) aggregate runs shuffle-free because doc
    * partitioning already co-locates every (fp, doc) group — only its
    * (tiny, partial-aggregated) fp rollup exchanges, on a uniform
    * 128-bit key. The keeper-table mark join is unhinted: a templated
    * corpus can share most grams, so AQE broadcasts only when the table
    * actually fits. Pinned in QueryPlanSpec.
    */
  def cutSharedSpans(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, n: Int, minDocs: Long = 2L)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"cutSharedSpans: n must be >= 2, got $n")
    // posexplode_outer: a null-text doc keeps one (null, null) row, so it
    // still reports (0 toks, 0 kept, null text) without a second scan
    val toks = docs.select(col(idCol),
      posexplode_outer(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val leads = (1 until n).map(j => lead(col("__tok"), j).over(wDoc))
    val withFp = toks.withColumn("__fp",
      when(leads.map(_.isNotNull).reduce(_ && _),
        unhex(md5(concat_ws(" ", (col("__tok") +: leads): _*)))))
    // shared-first table: distinct-doc count and corpus-wide first
    // occurrence per fingerprint, via two stacked uniform-key aggregates
    // ((fp, doc) → fp) — no Expand, no distinct-agg rewrite
    val firsts = withFp.filter(col("__fp").isNotNull)
      .groupBy(col("__fp"), col(idCol)).agg(min(col("__pos")).as("__mp"))
      .groupBy(col("__fp"))
      .agg(count(lit(1)).as("__nd"),
        min(struct(col(idCol), col("__mp"))).as("__first"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fp"), col("__first").getField(idCol).as("__fdoc"),
        col("__first").getField("__mp").as("__fpos"))
    val marked = withFp.join(firsts, Seq("__fp"), "left")
      .withColumn("__gsh", when(col("__fdoc").isNotNull, 1).otherwise(0))
      .withColumn("__gkp",
        when(col("__fdoc") === col(idCol) && col("__fpos") === col("__pos"),
          1).otherwise(0))
    // a token at pos is covered by the grams STARTING at pos-n+1 .. pos —
    // exactly the trailing row frame, because every position has a row
    // (non-gram positions carry zero flags)
    val wCov = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(-(n - 1), Window.currentRow)
    val cov = marked
      .withColumn("__keep", col("__tok").isNotNull &&
        !(max(col("__gsh")).over(wCov) === 1 &&
          max(col("__gkp")).over(wCov) === 0))
    // rebuild via the shared [[Reassemble.reassembleKept]] aggregate
    // (sorted kept-struct collect), riding the coverage window's id
    // partitioning — no running-prefix arrays
    Reassemble.reassembleKept(cov, idCol, "__pos", "__tok", "__keep",
      "n_toks")
  }
}
