package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation (SURVEY.md §2.C):
  * exact, n-gram Jaccard, SimHash, and MinHash-LSH.
  * Shared design rule: the only shuffles are on uniformly-distributed hash
  * keys (md5 / xxhash64 / band values), so no operator has a skew problem at
  * 100 TB, and nothing unbounded ever collects to the driver (the bounded
  * probes — budget histograms, [[MaxDriverCcPairs]]-capped pair
  * contraction — carry named caps and distributed fallbacks).
  */
object DedupOps {

  /** Exact dedup by content hash. groupBy(md5) instead of groupBy(text):
    * the shuffle then carries a 32-byte key instead of whole documents, and
    * the key space is uniform. Keeps the lowest doc_id per group (stable
    * winner), reports group size.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextOps.docFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("fp"))

  /** n-gram Jaccard similarity for every pair of documents in scope.
    * Quadratic by construction — callers bound the scope (a blocking key or
    * an LSH candidate set) before calling; the testdata query caps doc_id.
    * Set semantics: distinct shingles, |A∩B| / (|A|+|B|-|A∩B|).
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int): DataFrame = {
    // tokens materialize as a column BEFORE shingling: higher-order fns are
    // interpreted (CodegenFallback), so a split() nested inside the shingle
    // lambda would re-run per shingle — O(tokens²) per document
    val withShingles = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("toks"), k)).as("sh"))
      // a doc with < k tokens has an empty shingle set: Jaccard with an
      // empty set is 0/0 — drop it (minHashLshPairs filters the same way)
      // instead of emitting phantom null-similarity pairs
      .filter(size(col("sh")) > 0)
    val a = withShingles.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withShingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(inter / (size(col("sh_a")) + size(col("sh_b")) -
          size(array_intersect(col("sh_a"), col("sh_b")))), 4).as("jaccard"))
  }

  /** 64-bit SimHash over distinct tokens: for each bit, sum +1/-1 according
    * to xxhash64(token)'s bit, then take the sign. Scalar higher-order
    * formulation — NOTE aggregate/zip_with are CodegenFallback (interpreted,
    * 64 lambda dispatches per token), so the pairwise operator below uses
    * the equivalent explode-based [[simHashSignatures]] instead; this form
    * is kept as the executable spec of the semantics.
    */
  def simHash(toks: Column): Column = {
    val hashes = transform(array_distinct(toks), t => xxhash64(t))
    val bitIdx = sequence(lit(0), lit(63))
    val counts = aggregate(
      hashes,
      transform(bitIdx, _ => lit(0L)),
      (acc, h) => zip_with(acc, bitIdx,
        (a, b) => a + when(
          shiftright_col(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counts, bitIdx,
        (c, b) => when(c > 0, shiftleft_col(lit(1L), b)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  // functions.shiftright/shiftleft only accept a literal Int shift; the
  // underlying Catalyst expressions accept any expression, so reach them
  // through the SQL function registry via expr-style Column composition.
  private def shiftright_col(v: Column, n: Column): Column =
    call_function("shiftright", v, n)
  private def shiftleft_col(v: Column, n: Column): Column =
    call_function("shiftleft", v, n)

  /** MinHash signature: numHashes independent permutations simulated as
    * xxhash64(i, shingle); signature[i] = min over shingles. Pure codegen'd
    * expression — contrast with Spark ML's MinHashLSH, which routes every
    * row through a ScalaUDF + VectorUDT (3× slower on the same corpus,
    * COVERAGE.md).
    */
  def minHashSignature(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(sh, s => xxhash64(lit(i), s)))): _*)

  /** Portable permutation family for `portable = true` MinHash: shingle →
    * x = first 8 hex chars of md5 (one digest per shingle, not one per
    * hash), then h_i(x) = (a_i·x + b_i) mod P — plain 64-bit arithmetic
    * that DuckDB evaluates identically, so the whole operator is
    * oracle-checkable. P = 2^31−1 keeps a_i·x < 2^62 (no overflow);
    * coefficients are fixed by seed so signatures are stable across runs,
    * engines and retries.
    */
  val MinHashPrime: Long = 2147483647L
  def minHashCoeffs(numHashes: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(numHashes)(
      (1L + r.nextInt((MinHashPrime - 1).toInt),
       r.nextInt(MinHashPrime.toInt).toLong))
  }

  /** Distinct token-k-gram shingle sets: (doc_id, sh); shingle-less docs
    * drop (they cannot near-dup anything by construction).
    */
  private def shingleSets(docs: DataFrame, k: Int): DataFrame = docs
    .withColumn("toks", TextOps.tokens(col("text"))) // see ngramJaccardPairs
    .select(col("doc_id"),
      array_distinct(TextOps.shingles(col("toks"), k)).as("sh"))
    .filter(size(col("sh")) > 0)

  /** MinHash signatures as a DataFrame: (doc_id, sig ARRAY<BIGINT>).
    *
    * Signature via explode + per-hash min aggregates rather than
    * [[minHashSignature]]'s nested transform/array_min: higher-order
    * functions are CodegenFallback (interpreted lambda per element ×
    * numHashes passes), while explode + min(hash) is whole-stage
    * codegen end-to-end with map-side partial mins — the shuffle carries
    * one numHashes-wide row per doc per partition, not the shingles.
    * Default: sig[i] = min over distinct shingles of xxhash64(i, s)
    * (fastest). portable=true: the md5-derived [[minHashCoeffs]] family —
    * same plan shape, DuckDB-reproducible signatures, stable across
    * engines AND runs — the property that makes signatures STORABLE
    * ([[signatureStore]]): a signature computed today joins correctly
    * against one computed last month.
    */
  def minHashSignaturesDf(docs: DataFrame, k: Int, numHashes: Int,
                          portable: Boolean): DataFrame =
    sigsFromShingles(shingleSets(docs, k), numHashes, portable)

  private def sigsFromShingles(sh: DataFrame, numHashes: Int,
                               portable: Boolean): DataFrame =
    sigsFromElements(sh.select(col("doc_id"), explode(col("sh")).as("s")),
      numHashes, portable)

  /** [[sigsFromShingles]] for PRE-exploded (doc_id, s) element rows —
    * lets set-valued operators ([[setNearDupPairs]]) skip a pointless
    * collect-then-re-explode round trip.
    */
  private def sigsFromElements(el: DataFrame, numHashes: Int,
                               portable: Boolean): DataFrame = {
    val sigCols =
      if (portable) minHashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
        min((lit(a) * col("x") + lit(b)) % lit(MinHashPrime)).as(s"__h$i")
      }
      else (0 until numHashes).map(i =>
        min(xxhash64(lit(i), col("s"))).as(s"__h$i"))
    val hashed =
      if (portable) el.withColumn("x",
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % lit(MinHashPrime))
      else el
    hashed
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** MinHash-LSH near-dup pairs over ARBITRARY element sets — the
    * [[minHashLshPairs]] chain minus the tokenize/shingle front end, for
    * callers whose rows already carry set elements (e.g. video frame
    * fingerprints, [[MultimodalOps.videoFrameNearDupPairs]]). Input is
    * PRE-exploded (id, element) rows; duplicates are collapsed first
    * (set semantics). Portable signatures only — elements md5-hash into
    * the same engine-reproducible family the text path uses, so the
    * chain stays oracle-able and store-stable. Plan shape is identical:
    * per-id distinct (shuffle 1, uniform key) → numHashes partial mins →
    * band self-join (shuffle on band key) → score-once estimate.
    */
  def setNearDupPairs(elems: DataFrame, idCol: String, elemCol: String,
                      numBands: Int, rowsPerBand: Int,
                      minJaccard: Double): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val el = elems
      .select(col(idCol).as("doc_id"), col(elemCol).cast("string").as("s"))
      .distinct()
    val sigs = sigsFromElements(el, numHashes, portable = true)
    val bands = bandedSignatures(sigs, numBands, rowsPerBand, portable = true)
    val agree = sigAgreement("sig_a", "sig_b", numHashes)
    bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      .join(bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("id_b"), col("sig").as("sig_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(agree / numHashes, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .distinct()
  }

  /** Signature-agreement count as an unrolled codegen expression — THE
    * estimated-Jaccard formula, shared by the batch LSH path and the
    * incremental ingest path so they can never diverge from each other
    * (or from the DuckDB oracles that encode the same unrolling).
    * E[matching positions / numHashes] = true Jaccard; the unroll keeps
    * it whole-stage codegen, unlike zip_with/filter (CodegenFallback),
    * which dominated runtime when weak LSH parameters let buckets grow.
    */
  private def sigAgreement(a: String, b: String, numHashes: Int): Column =
    (0 until numHashes).map(i =>
        when(element_at(col(a), i + 1) ===
          element_at(col(b), i + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double")

  /** Band rows for LSH blocking: one (doc_id, sig, band_idx, band_hash)
    * row per band per doc. Band key: in portable mode the raw signature
    * slice (a rowsPerBand-long array — exact equality, nothing
    * engine-specific); otherwise its xxhash64 (narrower shuffle key,
    * same collision semantics to ~2^-64).
    */
  def bandedSignatures(sigs: DataFrame, numBands: Int, rowsPerBand: Int,
                       portable: Boolean): DataFrame = {
    def bandKey(b: Column): Column = {
      val sl = slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
      if (portable) sl else xxhash64(sl)
    }
    sigs.select(col("doc_id"), col("sig"),
        explode(transform(sequence(lit(0), lit(numBands - 1)), b =>
          struct(b.as("band_idx"), bandKey(b).as("band_hash")))).as("b"))
      .withColumns(Map("band_idx" -> col("b.band_idx"),
        "band_hash" -> col("b.band_hash"))).drop("b")
  }

  /** MinHash-LSH near-dup pairs, banding scheme (numBands × rowsPerBand =
    * numHashes). Stages, each one shuffle on a uniform key:
    *   1. map: shingle set → 16-long signature → 4 band hashes
    *   2. candidate generation: self-join on (band_idx, band_hash)
    *   3. verification: threshold filter on the Jaccard similarity —
    *      `exact=false` (default, the 100 TB path) estimates it as the
    *      fraction of agreeing signature positions, joining only the
    *      16-long signatures back to candidates; `exact=true` re-joins the
    *      full shingle sets and computes true Jaccard (what the big web
    *      corpora pipelines skip, because the candidate payload is then the
    *      documents themselves, not fixed-width signatures).
    * In estimate mode the fixed-width signature (numHashes longs, ~128 B)
    * rides through the band explode, so candidate verification needs no
    * further join — numBands × 128 B of extra shuffle per doc is far
    * cheaper than re-scanning and re-hashing the corpus for a join-back.
    * Exact mode re-joins the (unbounded-size) shingle sets by id instead:
    * THAT payload through a ×numBands explode would dominate the shuffle.
    */
  def minHashLshPairs(docs: DataFrame, k: Int, numBands: Int,
                      rowsPerBand: Int, minJaccard: Double,
                      exact: Boolean = false,
                      portable: Boolean = false): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val sh = shingleSets(docs, k)
    val sigs = sigsFromShingles(sh, numHashes, portable)
    // unused columns (sig in the exact branch) prune away at planning
    def bandsOf(extra: Column*): DataFrame =
      bandedSignatures(sigs, numBands, rowsPerBand, portable)
        .select((Seq(col("doc_id")) ++ extra :+ col("band_idx") :+
          col("band_hash")): _*)
    if (exact) {
      val bands = bandsOf()
      val cands = bands.as("a")
        .join(bands.as("b"), Seq("band_idx", "band_hash"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      cands
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(inter / (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b")))), 4).as("jaccard"))
        .filter(col("jaccard") >= minJaccard)
    } else {
      // Signatures ride along; a band-collision pair verifies in place.
      // E[matching positions / numHashes] = true Jaccard. The agreement
      // count unrolls to numHashes element_at comparisons — whole-stage
      // codegen, unlike zip_with/filter (CodegenFallback), which dominated
      // the runtime when weak LSH parameters let bucket sizes grow.
      val bands = bandsOf(col("sig"))
      val agree = sigAgreement("sig_a", "sig_b", numHashes)
      bands.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("id_a"), col("sig").as("sig_a"))
        .join(bands.select(col("band_idx"), col("band_hash"),
          col("doc_id").as("id_b"), col("sig").as("sig_b")),
          Seq("band_idx", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(agree / numHashes, 4).as("jaccard"))
        .filter(col("jaccard") >= minJaccard)
        .distinct()
    }
  }

  /** FUZZY decontamination: flag training documents that are
    * near-duplicates of any eval document — the hygiene pass exact
    * k-gram decontamination ([[graft.ext.TextOps.contaminationFlags]])
    * misses: a lightly paraphrased or truncated eval answer shares few
    * exact 13-grams with its source but keeps high shingle-set Jaccard.
    * Both sides get portable MinHash signatures; the EVAL side's banded
    * signatures BROADCAST (benchmark suites are tiny next to a training
    * corpus), so the corpus side bands map-side, probes the broadcast,
    * and only banded collisions score — the corpus never shuffles for
    * candidate generation, exactly the q63 broadcast discipline applied
    * to fuzzy matching. Collisions verify in place via the shared
    * signature-agreement estimate ([[sigAgreement]]); a train doc is
    * flagged when its estimated Jaccard vs ANY eval doc ≥ `minJaccard`.
    * Output per train doc: (doc_id, n_eval_matches, max_jaccard NULL
    * when clean, fuzzy_contaminated).
    */
  def fuzzyContaminationFlags(train: DataFrame, evalDocs: DataFrame,
                              k: Int, numBands: Int, rowsPerBand: Int,
                              minJaccard: Double): DataFrame = {
    val numHashes = numBands * rowsPerBand
    def bandsOf(docs: DataFrame): DataFrame =
      bandedSignatures(
        minHashSignaturesDf(docs, k, numHashes, portable = true),
        numBands, rowsPerBand, portable = true)
    val agree = sigAgreement("sig", "eval_sig", numHashes)
    val matches = bandsOf(train)
      .join(broadcast(bandsOf(evalDocs)
          .select(col("band_idx"), col("band_hash"),
            col("doc_id").as("eval_id"), col("sig").as("eval_sig"))),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("eval_id"),
        round(agree / numHashes, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .distinct() // a (train, eval) pair can collide in several bands
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_matches"),
        max(col("jaccard")).as("max_jaccard"))
    // flags left-join back so clean documents keep n_eval_matches = 0;
    // the matched set is near-empty for a clean corpus, so AQE
    // broadcasts it and the corpus never shuffles here either
    train.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        col("max_jaccard"),
        (coalesce(col("n_eval_matches"), lit(0L)) > 0)
          .as("fuzzy_contaminated"))
  }

  /** [[simHash]] as a whole-stage-codegen DataFrame op: explode distinct
    * tokens, hash once, then 64 `sum(bit ? +1 : -1)` partial aggregates and
    * a sign→bit reassembly. Map-side combine collapses the shuffle to one
    * 64-long row per doc per partition; every expression is native, so the
    * per-token cost is 64 primitive ops, not 64 interpreted lambdas.
    * Bitwise-identical to [[simHash]] for docs with ≥1 token (tokenless
    * docs drop out here; the scalar form gives them sig 0).
    */
  def simHashSignatures(docs: DataFrame, idCol: String, toks: Column,
                        portable: Boolean = false): DataFrame = {
    // portable mode trades 4 signature bits for oracle-reproducibility:
    // the token hash is the first 15 hex chars of md5 (60 bits — a 16th
    // char would overflow BIGINT), which DuckDB derives identically via
    // CAST('0x'||substr(md5(t),1,15) AS BIGINT).
    val nBits = if (portable) 60 else 64
    val tokHash =
      if (portable) conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long")
      else xxhash64(col("__t"))
    val ex = docs.select(col(idCol), explode(array_distinct(toks)).as("__t"))
      .withColumn("__h", tokHash)
    val cnt = (0 until nBits).map(b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__c$b"))
    ex.groupBy(col(idCol)).agg(cnt.head, cnt.tail: _*)
      .select(col(idCol),
        (0 until nBits).map(b =>
            when(col(s"__c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** SimHash near-dup pairs via banding: split the 64-bit signature into
    * four 16-bit bands; candidate pairs must agree on at least one band.
    * RECALL CONTRACT (standard LSH banding): pigeonhole guarantees every
    * pair within Hamming distance 3 surfaces (4 differing bits can clear
    * no band only at distance ≥ 4); pairs at distance 4..maxHamming
    * surface only when their differing bits happen to spare one band —
    * candidate-generation recall, exactly like MinHash-LSH band recall,
    * and exactly what the q28 differential oracle models. Callers needing
    * guaranteed recall at larger distances need more/narrower bands.
    * The band join shuffles on (band_idx, band_value) — uniform keys — and
    * only candidate pairs pay the 64-bit Hamming check (bit_count(xor)).
    */
  def simHashNearDupPairs(docs: DataFrame, maxHamming: Int,
                          portable: Boolean = false): DataFrame = {
    val bandBits = if (portable) 15 else 16 // 4 bands either way
    val sigs = simHashSignatures(docs, "doc_id", TextOps.tokens(col("text")),
      portable)
    bandedHammingPairs(sigs, "doc_id", "sig", maxHamming, bandBits)
  }

  /** Hamming-banded candidate pairing over ANY 64-bit-signature column —
    * the SimHash banding machinery factored out so other fingerprints
    * (e.g. [[MultimodalOps]]' perceptual image dHash) reuse it verbatim.
    * Splits the signature into 4 `bandBits`-wide bands; candidates must
    * agree on at least one band (the standard LSH recall contract
    * documented on [[simHashNearDupPairs]]). The band join shuffles on
    * (band_idx, band_val) — uniform keys — and only candidate pairs pay
    * the 64-bit Hamming check (bit_count(xor)). Arithmetic shiftright +
    * mask keeps the top band correct for signatures with bit 63 set.
    */
  def bandedHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                         maxHamming: Int, bandBits: Int = 16): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = sigs.select(col(idCol).as("__bid"), col(sigCol).as("__bsig"))
      .select(col("__bid"), col("__bsig"),
        explode(transform(sequence(lit(0), lit(3)), i =>
          struct(i.as("band_idx"),
            shiftright_col(col("__bsig"), i * bandBits)
              .bitwiseAND(lit(mask)).as("band_val")))).as("band"))
      .select(col("__bid"), col("__bsig"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
    val a = banded.select(col("band_idx"), col("band_val"),
      col("__bid").as("id_a"), col("__bsig").as("sig_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col("__bid").as("id_b"), col("__bsig").as("sig_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // Hamming check BEFORE the pair dedup: the codegen'd filter runs on
      // every collision row either way, but the distinct then shuffles
      // only the surviving near-dup pairs, not the full collision set.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Deterministic hash sampling: keep rows whose md5(id) starts with one
    * of `keepHexPrefixes` — a `len/16` fraction per single-char prefix.
    * Unlike `df.sample()` (rand()-seeded, partition-order dependent), the
    * kept set is a pure function of the id: reproducible across engines,
    * retries, and cluster sizes, and downstream incremental runs see a
    * STABLE sample as the corpus grows. Map-only — no shuffle, prunes at
    * the scan's filter.
    */
  /** First hex character of md5(value rendered as a string) — THE shared
    * deterministic coin. Every sampler/splitter here derives from this one
    * expression so their kept sets stay mutually reproducible (and match
    * the generated oracles' `substring(md5(CAST(x AS VARCHAR)), 1, 1)`).
    */
  private def md5Hex1(c: Column): Column =
    substring(md5(c.cast("string").cast("binary")), 1, 1)

  /** The SEEDED variant of the shared coin: md5("<prefix>:" ++ id), used
    * by [[exactSample]], [[targetMixSample]], and
    * [[PackOps.epochShuffle]] — one expression, so the three samplers
    * (and their hand-written DuckDB oracles, which all spell it
    * `md5('<prefix>:' || CAST(id AS STRING))`) can never drift apart.
    * NULL ids NULL-propagate through concat (DuckDB `||` semantics):
    * callers treat a null coin as "drops out", each documenting how.
    */
  private[ext] def seededCoin(prefix: String, id: Column): Column =
    md5(concat(lit(s"$prefix:"), id.cast("string")))

  /** [[md5Hex1]] as an integer nibble in [0, 16) for rate comparisons. */
  private def md5Nibble(c: Column): Column =
    conv(md5Hex1(c), 16, 10).cast("int")

  /** Keep rows whose md5(id) hex digest starts with one of
    * `keepHexPrefixes` — each 1-char prefix keeps ≈1/16, 2-char ≈1/256.
    * Prefixes must be lowercase hex (md5 renders lowercase; an uppercase
    * or non-hex prefix would silently select zero rows, so fail named).
    * Single-char prefixes match the generated oracles'
    * `substring(md5(CAST(x AS VARCHAR)), 1, 1) IN (…)` exactly.
    */
  def hashSample(df: DataFrame, idCol: String,
                 keepHexPrefixes: Seq[String]): DataFrame = {
    require(keepHexPrefixes.nonEmpty, "hashSample: no keep prefixes")
    keepHexPrefixes.foreach(p => require(p.matches("[0-9a-f]+"),
      s"hashSample: keep prefix must be non-empty lowercase hex, got '$p'"))
    val digest = md5(col(idCol).cast("string").cast("binary"))
    df.filter(keepHexPrefixes.map(p => digest.startsWith(p)).reduce(_ || _))
  }

  /** Stratified deterministic sampling — the dataset-mixing primitive:
    * per-stratum keep rates in sixteenths (4 → keep ids whose md5 nibble
    * < 4 ≈ 25%; 16 → keep all; absent strata use `defaultSixteenths`).
    * Same md5-of-id coin as [[hashSample]], so the kept set is a pure
    * function of (id, stratum rate): reproducible across engines/retries,
    * stable under corpus growth, and a stratum's sample only shrinks or
    * grows monotonically when its rate is tuned. Map-only: the rate lookup
    * compiles to a when-chain, the filter runs at the scan.
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           sixteenths: Map[String, Int],
                           defaultSixteenths: Int = 0): DataFrame = {
    val nibble = md5Nibble(col(idCol))
    val rate = sixteenths.toSeq.sortBy(_._1).foldLeft(lit(defaultSixteenths)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(nibble < rate)
  }

  /** Exactly-k uniform sample: the k documents with the smallest
    * md5(seed:id) coins — [[hashSample]]'s exact-COUNT counterpart for
    * "give me exactly 100k docs" requests where a rate can only hit the
    * size in expectation. Deterministic in (seed, k): stable across
    * engines, retries, and partitioning, and MONOTONE in k (the top-k
    * set is a prefix of the top-(k+1) set — growing a sample never
    * replaces already-selected documents, so downstream work on the
    * smaller sample is never wasted).
    *
    * Plans as TakeOrderedAndProject (per-partition top-k heaps + one
    * k-row driver merge), never a full sort — the same top-k machinery
    * q13 pins.
    *
    * Preconditions: `idCol` values must be UNIQUE — duplicate ids tie on
    * the full sort key, and a tie group straddling the k boundary is cut
    * arbitrarily by the top-k heap (run [[exactDedup]] first on dirty
    * ingests). NULL ids sort last (both engines' NULLS LAST), so they
    * only enter the sample once every real id is in — effectively
    * dropped, the family's null contract.
    */
  def exactSample(df: DataFrame, idCol: String, k: Int,
                  seed: Long = 0L): DataFrame = {
    require(k > 0, s"exactSample: k must be positive, got $k")
    df.withColumn("__coin", seededCoin(seed.toString, col(idCol)))
      // nulls LAST explicitly: Spark's asc default is NULLS FIRST, which
      // would let null-id rows fill the sample ahead of every real doc —
      // and diverge from the DuckDB oracle's default
      .orderBy(col("__coin").asc_nulls_last, col(idCol).asc_nulls_last)
      .limit(k)
      .drop("__coin")
  }

  /** Exactly-k WEIGHTED sample without replacement
    * (Efraimidis–Spirakis exponential keys): keep the k rows with the
    * largest `ln(u)/w`, where u is the deterministic md5 coin mapped
    * into (0, 1] — each row's selection probability is proportional to
    * its weight, and "sample 100k docs ∝ quality²" becomes one top-k.
    * [[exactSample]] is the w≡1 special case; like it, the result is a
    * pure function of (seed, id, weight), MONOTONE in k (the top-k set
    * is a prefix of the top-(k+1) set), and plans as
    * TakeOrderedAndProject — per-partition heaps, never a global sort.
    * The coin's first 12 hex chars map to u = (n+1)/16¹² (48 bits —
    * exact in a double; +1 keeps u > 0 so ln is finite); the key rounds
    * at 6 before ranking with the id tiebreak, the house discipline
    * that keeps the k-boundary engine-stable. Rows with NULL ids or
    * non-positive/NULL weights are dropped (can never be sampled) —
    * the family's null contract, made explicit here because a weight
    * of 0 would otherwise produce -inf keys that still beat nothing.
    */
  def weightedExactSample(df: DataFrame, idCol: String, weightCol: String,
                          k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, s"weightedExactSample: k must be positive, got $k")
    aesEligible(df, idCol, weightCol, seed)
      .orderBy(col("__wkey").desc, col(idCol).asc)
      .limit(k)
      .drop("__wkey")
  }

  /** The shared A-ES machinery: eligibility filter + the `__wkey`
    * column. ONE expression for both samplers (and their oracles'
    * spelled-out arithmetic), so the global and stratified forms can
    * never drift — which is also what makes their degeneracy provable
    * (one stratum ⇒ identical kept set, spec-pinned).
    */
  private def aesEligible(df: DataFrame, idCol: String,
                          weightCol: String, seed: Long): DataFrame = {
    val coin = seededCoin(s"wes:$seed", col(idCol))
    val n = conv(substring(coin, 1, 12), 16, 10).cast("double")
    val u = (n + lit(1.0)) / lit(math.pow(16.0, 12))
    df.filter(col(idCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .withColumn("__wkey",
        round(log(u) / col(weightCol).cast("double"), 6))
  }

  /** [[weightedExactSample]] PER STRATUM — "per language, the best 10k
    * docs sampled ∝ quality": exactly `kPerStratum` rows from every
    * stratum (fewer only when a stratum has fewer eligible rows),
    * selection ∝ weight within each. Same coin, same key, same seed
    * namespace as the global form, so a single-stratum frame degenerates
    * to [[weightedExactSample]] exactly. Cost: ONE hash exchange on the
    * stratum key + a per-group top-k window — the per-group exact-k
    * can't be map-only (that's [[stratifiedHashSample]]'s rate-based
    * trade); strata are the natural partition key and per-group state is
    * the k-row heap. A NULL stratum samples as its own group (both
    * engines group nulls together) — callers who want them gone filter
    * first.
    */
  def weightedStratifiedSample(df: DataFrame, idCol: String,
                               strataCol: String, weightCol: String,
                               kPerStratum: Int,
                               seed: Long = 0L): DataFrame = {
    require(kPerStratum > 0,
      s"weightedStratifiedSample: kPerStratum must be positive, got " +
        s"$kPerStratum")
    aesEligible(df, idCol, weightCol, seed)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(col("__wkey").desc, col(idCol).asc)))
      .filter(col("__rk") <= kPerStratum)
      .drop("__wkey", "__rk")
  }

  /** Deterministic target-mix sampling — the domain-reweighting step of
    * a training recipe: given per-source target SHARES of a token
    * budget, sample each source at rate
    * min(1, share·budget / availableTokens(source)) with the same
    * md5-uniform coin the other samplers use, so the kept set is
    * engine-/retry-/partitioning-independent. Sources absent from
    * `targetShares` are excluded (rate 0); a source whose target exceeds
    * its supply clamps to keep-everything (the caller sees the shortfall
    * in the output's per-source token sums).
    *
    * The caller pre-multiplies nothing: shares are fractions of
    * `budgetTokens`. share·budget is computed HERE in driver Scala and
    * pushed down as one literal per source, so an oracle re-deriving the
    * rate performs the identical IEEE division literal/avail — bitwise
    * rate equality, no cross-engine float-ordering hazard.
    *
    * Plan shape: one partial-agg pass for per-source token supply (tiny
    * result, broadcast back), then a map-only keep decision — no shuffle
    * of the corpus itself.
    */
  def targetMixSample(docs: DataFrame, idCol: String, sourceCol: String,
                      nTokCol: Column, targetShares: Map[String, Double],
                      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0,
      s"targetMixSample: budgetTokens must be positive, got $budgetTokens")
    require(targetShares.values.forall(s => s > 0 && s <= 1.0),
      "targetMixSample: every share must be in (0, 1]")
    val want: Map[String, Double] =
      targetShares.map { case (s, t) => s -> t * budgetTokens }
    // null token counts participate as 0 supply (sum would silently skip
    // them, and an ALL-null source would leave __avail NULL — which
    // least() then SKIPS, turning a 1% target into keep-all)
    val nTok = coalesce(nTokCol.cast("long"), lit(0L))
    val avail = docs.groupBy(col(sourceCol))
      .agg(sum(nTok).cast("double").as("__avail"))
      .withColumn("__want", element_at(typedLit(want), col(sourceCol)))
      // null-filter BEFORE least: Spark's least SKIPS nulls, so an
      // unlisted source would otherwise clamp to rate 1.0 (keep-all)
      // instead of dropping out
      .filter(col("__want").isNotNull)
      // a listed source with zero supply divides to +Infinity → clamps
      // to keep-all, the oversubscribed contract
      .withColumn("__rate", least(lit(1.0), col("__want") / col("__avail")))
    // a NULL id NULL-propagates into the coin (seededCoin contract),
    // dropping the row exactly as the oracle's '||' does
    val coin = conv(substring(seededCoin("mix", col(idCol)), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    docs
      .withColumn("n_tok", nTok)
      .join(broadcast(avail), Seq(sourceCol))
      .filter(coin < col("__rate"))
      .select(col(idCol), col(sourceCol), col("n_tok"))
  }

  /** Temperature-scaled mixture sampling — the multilingual/domain
    * UPSAMPLING step of a training recipe (the p^α reweighting of
    * Conneau & Lample's XLM): the kept token share of source i follows
    * w_i ∝ supply_i^α, so α=1 reproduces natural proportions, α→0
    * equalizes sources, and α∈(0,1) boosts low-resource sources without
    * flattening the mix — the knob [[targetMixSample]] lacks (explicit
    * per-source targets) expressed as one scalar. Per-source keep rate:
    * rate_i = min(1, w_i·budget / supply_i), applied with the family's
    * md5 coin — deterministic, engine-portable, map-only.
    *
    * The per-source supply aggregate collects (nSources rows — a bounded
    * probe) and ALL rate arithmetic runs once in driver Scala, in sorted
    * source order, then pushes down as a when-chain of literals: the
    * corpus itself never shuffles. Engine parity: at the committed
    * α = 0.5 the weight is `sqrt` — correctly rounded on every IEEE
    * engine — and the normalizer is a left fold in sorted-source order,
    * so an oracle re-deriving the rates with an ORDER BY source
    * aggregate lands on bitwise-identical doubles. Other α use pow(),
    * which carries a 1-ULP cross-engine slack: harmless for sampling
    * (it moves a keep decision only if a coin lands exactly on the
    * boundary), but not oracle-pinned — the registered query stays at
    * 0.5. NULL sources drop; NULL token counts count as 0 supply; a
    * zero-supply source keeps nothing (rate 0, never 0/0).
    */
  def temperatureMixSample(docs: DataFrame, idCol: String,
                           sourceCol: String, nTokCol: Column,
                           alpha: Double, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0,
      s"temperatureMixSample: budgetTokens must be positive, got $budgetTokens")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"temperatureMixSample: alpha=$alpha must be in [0, 1]")
    def w(a: Double): Double =
      if (alpha == 0.5) math.sqrt(a) else math.pow(a, alpha)
    val nTok = coalesce(nTokCol.cast("long"), lit(0L))
    val avail = docs.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol)).agg(sum(nTok).as("__a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    require(avail.nonEmpty, "temperatureMixSample: no non-null sources")
    val den = avail.map { case (_, a) => w(a.toDouble) }.sum
    val rates = avail.map { case (s2, a) =>
      s2 -> (if (a == 0L) 0.0
             else math.min(1.0, w(a.toDouble) / den * budgetTokens / a))
    }
    val rateCol = rates.foldLeft(lit(null).cast("double")) {
      case (acc, (s2, r)) => when(col(sourceCol) === s2, lit(r)).otherwise(acc)
    }
    val coin = conv(substring(seededCoin("tmix", col(idCol)), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    docs
      .withColumn("n_tok", nTok)
      .filter(coin < rateCol)
      .select(col(idCol), col(sourceCol), col("n_tok"))
  }

  /** Near-dup threshold sweep: for each candidate similarity threshold,
    * how many pairs survive and how many distinct documents they touch —
    * the one-pass diagnostic that answers "what does moving the dedup
    * threshold from 0.8 to 0.7 actually cost" BEFORE committing to a full
    * dedup run. Takes any (id_a, id_b, simCol) pair frame (MinHash,
    * SimHash, embedding cosine — every pair generator here produces the
    * shape), so one sweep implementation serves every family; feed it
    * pairs generated at `thresholds.min` so every swept point sees its
    * full candidate set. Estimate-mode MinHash pairs answer the tuning
    * question for the COMMITTED banding config (what that config would
    * flag at each t); re-tuning the banding itself is the recall-curve
    * tool's job (SCALING.md).
    *
    * Scale shape: the pair frame is the bounded Σ(bucket²) candidate set,
    * never the corpus; its (possibly expensive) lineage is cached narrow
    * (24 B/row, [[cachedManifest]] — bounded lifetime) because both the
    * pair count and the distinct-doc count read it — the
    * [[tokenBudgetSelect]] manifest discipline. The
    * per-threshold explode multiplies only that bounded set by
    * |thresholds|; output is |thresholds| rows. Every threshold requested
    * is present in the output even when nothing survives it.
    */
  def neardupThresholdSweep(pairs: DataFrame, simCol: String,
                            thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.distinct == thresholds,
      "neardupThresholdSweep: thresholds must be non-empty and distinct")
    val ss = pairs.sparkSession
    import ss.implicits._
    val p3 = cachedManifest(pairs.select(col("id_a"), col("id_b"),
      col(simCol).cast("double").as("__j")))
    val f = p3
      .select(explode(array(thresholds.map(lit(_)): _*)).as("threshold"),
        col("id_a"), col("id_b"), col("__j"))
      .filter(col("__j") >= col("threshold"))
    val pc = f.groupBy(col("threshold")).agg(count(lit(1)).as("__np"))
    val dc = f
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("__id"))
      .distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("__nd"))
    thresholds.toDF("threshold")
      .join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("__np"), lit(0L)).as("n_pairs"),
        coalesce(col("__nd"), lit(0L)).as("n_docs"))
  }

  /** Repetition schedule for data-constrained training (the
    * repeat-epochs recipe: when a source's supply is smaller than its
    * target token share, repeat it): for each targeted source, every doc
    * repeats base_s = target_s ÷ supply_s times (exact integer
    * arithmetic), and a deterministic coin-ordered prefix of the source's
    * docs — just enough to cover the remainder target_s mod-ish
    * (target_s − base_s·supply_s) — repeats once more. Output:
    * (idCol, sourceCol, n_tok, n_repeats) for every doc of a targeted
    * source (n_repeats = 0 means "unused this run"); Σ n_repeats·n_tok
    * lands within one document of target_s per source. Deterministic in
    * the data alone: same engine-portable md5 coin family as the
    * samplers, so the schedule reproduces across engines, retries, and
    * partitioning, and is STABLE under target growth (a larger target
    * only extends the remainder prefix — already-scheduled repeats never
    * reshuffle).
    *
    * Scale shape mirrors [[tokenBudgetSelect]], with a twist that
    * removes even its pathological case: the remainder prefix is ordered
    * by the COIN, which is uniform BY CONSTRUCTION, so the 256
    * first-byte coin buckets are always balanced — per (source, bucket)
    * histogram (≤ 256·|sources| rows to the driver), full buckets decide
    * map-side, and the exact window runs over each source's single
    * boundary bucket (≈1/256 of that source's manifest, guaranteed).
    * The manifest caches narrow like tokenBudgetSelect's
    * ([[cachedManifest]] — bounded lifetime). Supply is integer-exact on
    * both engines, so an oracle re-deriving base/remainder has zero
    * float surface.
    */
  def repetitionSchedule(docs: DataFrame, idCol: String, sourceCol: String,
                         nTokCol: Column,
                         targetTokens: Map[String, Long]): DataFrame = {
    require(targetTokens.nonEmpty && targetTokens.values.forall(_ >= 0),
      "repetitionSchedule: targets must be non-negative and non-empty")
    val nTok = coalesce(nTokCol.cast("long"), lit(0L))
    val m = cachedManifest(docs
      .filter(col(idCol).isNotNull && col(sourceCol).isNotNull &&
        col(sourceCol).isin(targetTokens.keys.toSeq.map(lit): _*))
      .select(col(idCol).as("__id"), col(sourceCol).as("__src"),
        nTok.as("__t"),
        seededCoin("rep", col(idCol)).as("__coin"))
      .withColumn("__b", conv(substring(col("__coin"), 1, 2), 16, 10)
        .cast("int")))
    val hist = m.groupBy(col("__src"), col("__b"))
      .agg(sum(col("__t")).as("__bt"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val supply: Map[String, Long] = hist.groupMapReduce(_._1._1)(_._2)(_ + _)
    // exact integer split per source: base repeats + remainder tokens
    val split: Map[String, (Long, Long)] = supply.map { case (s2, a) =>
      val t2 = targetTokens(s2)
      val base = if (a == 0) 0L else t2 / a
      s2 -> (base, t2 - base * a)
    }
    // walk each source's coin buckets ascending: buckets fully inside the
    // remainder select map-side, the crossing bucket resolves exactly
    val boundary: Map[String, (Int, Long)] = split.flatMap {
      case (s2, (_, rem0)) =>
        var rem = rem0
        var b = -1
        var r2 = 0L
        (0 until 256).foreach { bk =>
          val mass = hist.getOrElse((s2, bk), 0L)
          if (b < 0) {
            if (mass <= rem) rem -= mass else { b = bk; r2 = rem }
          }
        }
        if (b < 0) None else Some(s2 -> (b, r2))
    }
    def perSource[T](f: ((String, (Int, Long))) => Column): Column =
      boundary.toSeq.sortBy(_._1).foldLeft(lit(false)) {
        case (acc, kv) => when(col("__src") === kv._1, f(kv)).otherwise(acc)
      }
    val belowBoundary = perSource { case (_, (b, _)) => col("__b") < b }
    val atBoundary = perSource { case (_, (b, _)) => col("__b") === b }
    val remOf = boundary.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
      case (acc, (s2, (_, r2))) =>
        when(col("__src") === s2, lit(r2)).otherwise(acc)
    }
    // a source with NO boundary bucket selected its whole remainder… only
    // possible when every bucket fit, i.e. rem ≥ source mass — then every
    // doc gets the extra repeat
    val noBoundarySrcs = split.keySet -- boundary.keySet
    val allExtra = noBoundarySrcs.toSeq.sorted.foldLeft(lit(false)) {
      case (acc, s2) => when(col("__src") === s2, lit(true)).otherwise(acc)
    }
    val w = Window.partitionBy(col("__src"), col("__b"))
      .orderBy(col("__coin").asc, col("__id").asc)
    val full = m.filter(allExtra || belowBoundary)
      .withColumn("__extra", lit(1))
    val edge = m.filter(atBoundary)
      .withColumn("__extra",
        when(sum(col("__t")).over(w) <= remOf, 1).otherwise(0))
    val baseCol = split.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s2, (b2, _))) =>
        when(col("__src") === s2, lit(b2)).otherwise(acc)
    }
    val rest = m.filter(!(allExtra || belowBoundary || atBoundary))
      .withColumn("__extra", lit(0))
    full.unionByName(edge).unionByName(rest)
      .select(col("__id").as(idCol), col("__src").as(sourceCol),
        col("__t").as("n_tok"),
        (baseCol + col("__extra")).cast("long").as("n_repeats"))
  }

  /** Exact token-budget selection — "the best documents until the budget
    * is spent": keep precisely the rows whose running token total, in
    * (score DESC, id ASC) order, stays within `budgetTokens` — the greedy
    * prefix a training recipe means by "give me the top 1T tokens by
    * quality". Token counts are non-negative, so the running total is
    * monotone and the kept set is a PREFIX of the global quality order —
    * a pure function of (data, budget), monotone in the budget (growing
    * it only ADDS documents).
    *
    * The SPEC is one window over the global order; the PLAN never builds
    * that order (a global-order window is one task holding the corpus —
    * the q107/q110 histogram lesson). Instead: a B-bucket score histogram
    * over the (id, score, tokens) manifest — ONE partial-agg pass, tiny
    * rows, the text never moves — is cumulated best-first on the driver
    * (≤ `nBuckets` rows, a bounded probe like the IVF centroid fit).
    * Buckets that fit entirely inside the budget are kept by a map-side
    * literal comparison, buckets past the threshold are dropped the same
    * way, and the exact windowed cumsum runs over the BOUNDARY BUCKET
    * ONLY (≈1/B of the manifest, one bucket-keyed exchange of ~24-byte
    * rows). Correctness never depends on the bucketing: scores outside
    * [scoreLo, scoreHi) clamp into the edge buckets and ANY
    * score-monotone assignment (even one bucket) yields the same kept
    * set — coarser buckets just widen the slice the exact window must
    * resolve, which is the sizing knob: pick nBuckets so corpus/B fits
    * one task comfortably (the boundary slice can also be re-run through
    * this same function with tighter bounds if a pathological score
    * distribution concentrates mass in one bucket).
    *
    * Rows with a NULL id, NULL/NaN score, or NULL/negative token count
    * never qualify (the prefix spec cannot place them). Returns the
    * selection manifest (idCol, score, n_tokens) — semi-join it back to
    * the corpus; at 100 TB the manifest is the only thing that shuffles.
    */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, scoreCol: Column,
                        nTokCol: Column, budgetTokens: Long,
                        scoreLo: Double = 0.0, scoreHi: Double = 1.0,
                        nBuckets: Int = 4096): DataFrame = {
    require(budgetTokens > 0,
      s"tokenBudgetSelect: budgetTokens must be positive, got $budgetTokens")
    require(nBuckets > 0, s"tokenBudgetSelect: nBuckets must be positive")
    require(scoreHi > scoreLo,
      s"tokenBudgetSelect: score range [$scoreLo, $scoreHi) is empty")
    val width = scoreHi - scoreLo
    // the manifest is cached under the bounded-lifetime contract
    // ([[cachedManifest]]): score and token expressions may carry an
    // arbitrarily expensive lineage (q127 tokenizes+scores; q129 hangs
    // the whole recipe above), and the operator reads the manifest once
    // for the histogram and once for the selection — without the cache
    // each read re-runs that lineage (measured 3× the quality pass before
    // this, bench_records/BENCH_LOCAL_r13). Only the 4-column manifest is
    // cached (~24 B/row at any corpus size), the documents themselves never.
    val m = cachedManifest(docs
      .select(col(idCol).as("__id"), scoreCol.cast("double").as("__s"),
        nTokCol.cast("long").as("__t"))
      .filter(col("__id").isNotNull && col("__s").isNotNull &&
        !isnan(col("__s")) && col("__t").isNotNull && col("__t") >= 0L)
      .withColumn("__b", least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        floor((col("__s") - scoreLo) / width * nBuckets))).cast("int")))
    // pass 1: per-bucket token mass (map-side partial agg; ≤ nBuckets
    // rows reach the driver — a bounded probe that also materializes the
    // cached manifest for the selection pass)
    val hist = m.groupBy(col("__b")).agg(sum(col("__t")).as("__bt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(-_._1)
    var remaining = budgetTokens
    var boundary = -1 // bucket the exact window must resolve; -1 = all fit
    hist.foreach { case (b, bt) =>
      if (boundary < 0) {
        if (bt <= remaining) remaining -= bt else boundary = b
      }
    }
    val kept =
      if (boundary < 0) m // whole corpus fits — map-only, zero shuffles
      else {
        val full = m.filter(col("__b") > boundary)
        val w = Window.partitionBy(col("__b"))
          .orderBy(col("__s").desc, col("__id").asc)
        // global cum = (mass of the fully-kept buckets) + in-bucket cum,
        // so `cum ≤ budget` reduces to `in-bucket cum ≤ remaining`
        val edge = m.filter(col("__b") === boundary)
          .withColumn("__cum", sum(col("__t")).over(w))
          .filter(col("__cum") <= remaining)
          .drop("__cum")
        full.unionByName(edge)
      }
    kept.select(col("__id").as(idCol), col("__s").as("score"),
      col("__t").as("n_tokens"))
  }

  /** Per-source exact token budgets — [[tokenBudgetSelect]] stratified:
    * for every source in `budgets`, keep precisely the rows whose running
    * token total WITHIN THAT SOURCE, in (score DESC, id ASC) order, stays
    * within the source's budget — "the best 10B tokens of web, 2B of
    * code": the mixture recipe's exact SELECTION primitive
    * ([[temperatureMixSample]]/[[targetMixSample]] choose sampling RATES;
    * this selects best-first prefixes exactly). Untargeted sources select
    * nothing; a budget covering the whole source keeps it wholesale
    * (map-only for that source); a budgeted source absent from the data
    * contributes nothing.
    *
    * Plan: [[tokenBudgetSelect]]'s histogram discipline with
    * [[repetitionSchedule]]'s per-source resolution — ONE
    * (source, bucket) token histogram (≤ |sources|·nBuckets rows to the
    * driver, a bounded probe), per-source thresholds decided driver-side
    * and pushed as literal when-chains (map-side keep/drop for every
    * non-boundary bucket), and ONE exact window over all sources'
    * boundary buckets together (partitioned by (source, bucket) —
    * ≈1/nBuckets of each source's manifest, no skew). The manifest
    * caches under the [[cachedManifest]] bounded-lifetime contract.
    * Returns (idCol, sourceCol, score, n_tokens).
    */
  def tokenBudgetSelectBySource(docs: DataFrame, idCol: String,
                                sourceCol: String, scoreCol: Column,
                                nTokCol: Column, budgets: Map[String, Long],
                                scoreLo: Double = 0.0,
                                scoreHi: Double = 1.0,
                                nBuckets: Int = 4096): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ > 0),
      "tokenBudgetSelectBySource: budgets must be positive and non-empty")
    require(nBuckets > 0,
      "tokenBudgetSelectBySource: nBuckets must be positive")
    require(scoreHi > scoreLo,
      s"tokenBudgetSelectBySource: score range [$scoreLo, $scoreHi) is empty")
    val width = scoreHi - scoreLo
    // budgets are string-keyed by contract; casting the source column
    // (a no-op for the common string case) lets a numeric source
    // select through the same contract instead of CCE-ing at the
    // histogram probe (ADVICE r17)
    val srcStr = col(sourceCol).cast("string")
    val m = cachedManifest(docs
      .filter(col(idCol).isNotNull && srcStr.isNotNull &&
        srcStr.isin(budgets.keys.toSeq.map(lit): _*))
      .select(col(idCol).as("__id"), srcStr.as("__src"),
        scoreCol.cast("double").as("__s"), nTokCol.cast("long").as("__t"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) &&
        col("__t").isNotNull && col("__t") >= 0L)
      .withColumn("__b", least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        floor((col("__s") - scoreLo) / width * nBuckets))).cast("int")))
    val hist = m.groupBy(col("__src"), col("__b"))
      .agg(sum(col("__t")).as("__bt"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    // per source, walk buckets best-first (descending score bucket):
    // buckets that fit wholesale decide map-side; the crossing bucket is
    // this source's boundary with its remaining token allowance
    val boundary: Map[String, (Int, Long)] =
      budgets.keys.toSeq.sorted.flatMap { s2 =>
        var rem = budgets(s2)
        var bb = -1
        var r2 = 0L
        ((nBuckets - 1) to 0 by -1).foreach { bk =>
          val mass = hist.getOrElse((s2, bk), 0L)
          if (bb < 0) {
            if (mass <= rem) rem -= mass else { bb = bk; r2 = rem }
          }
        }
        if (bb < 0) None else Some(s2 -> (bb, r2))
      }.toMap
    def perSource(f: ((String, (Int, Long))) => Column): Column =
      boundary.toSeq.sortBy(_._1).foldLeft(lit(false)) {
        case (acc, kv) => when(col("__src") === kv._1, f(kv)).otherwise(acc)
      }
    // a source with NO boundary fit entirely inside its budget — its
    // whole manifest keeps, map-only
    val allFit = (budgets.keySet -- boundary.keySet).toSeq.sorted
      .foldLeft(lit(false)) { case (acc, s2) =>
        when(col("__src") === s2, lit(true)).otherwise(acc)
      }
    val aboveBoundary = perSource { case (_, (bb, _)) => col("__b") > bb }
    val atBoundary = perSource { case (_, (bb, _)) => col("__b") === bb }
    val remOf = boundary.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
      case (acc, (s2, (_, r2))) =>
        when(col("__src") === s2, lit(r2)).otherwise(acc)
    }
    val w = Window.partitionBy(col("__src"), col("__b"))
      .orderBy(col("__s").desc, col("__id").asc)
    val full = m.filter(allFit || aboveBoundary)
    val edge = m.filter(atBoundary)
      .withColumn("__cum", sum(col("__t")).over(w))
      .filter(col("__cum") <= remOf)
      .drop("__cum")
    full.unionByName(edge)
      .select(col("__id").as(idCol), col("__src").as(sourceCol),
        col("__s").as("score"), col("__t").as("n_tokens"))
  }

  /** Leakage-safe train/validation split: documents are assigned to
    * splits by their NEAR-DUP CLUSTER label, not their own id, so two
    * near-duplicates can never land on opposite sides of the split — the
    * eval-set leakage a doc-keyed split silently permits. Composition:
    * near-dup pairs → [[connectedComponents]] → the [[stratifiedHashSample]]
    * md5-nibble coin applied to the component label.
    * Returns per-doc (idCol, comp, split); `trainSixteenths`/16 of the
    * CLUSTERS go to "train", the rest to "val".
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       trainSixteenths: Int): DataFrame = {
    val comp = connectedComponents(docs.select(col(idCol)), idCol, pairs)
    comp.select(col("id").as(idCol), col("comp"),
      when(md5Nibble(col("comp")) < trainSixteenths, "train")
        .otherwise("val").as("split"))
  }

  /** Dataset merge with source precedence: when several datasets carry
    * copies of the same content (by any caller-supplied merge key — exact
    * fingerprint, min-shingle fingerprint, a cluster id), keep exactly one
    * copy, chosen by the LOWEST priority value first and the lowest id as
    * the tie-break. This is the union step of multi-source curation:
    * "prefer the curated dump's copy over the crawl's".
    *
    * The composite argmin runs as two fp-keyed aggregations (min priority,
    * then min id within the winning priority) instead of one min(struct) —
    * each phase is a plain partial-agg shuffle on the uniform key, and the
    * decision is reproducible in any engine. A row with a NULL key never
    * survives the self-join — supply a total key (coalesce a fallback).
    * NULL priorities lose to any non-null one (min skips them); a group
    * that is ALL-null still keeps one copy (the null-safe comparison
    * below — a plain === would silently drop the whole group).
    * Output: (keep_id, priorityCol, n_copies, fp).
    */
  def priorityMerge(docs: DataFrame, idCol: String, priorityCol: String,
                    key: Column): DataFrame = {
    val withFp = docs.withColumn("fp", key)
    val best = withFp.groupBy(col("fp"))
      .agg(min(col(priorityCol)).as("__p"), count(lit(1)).as("n_copies"))
    withFp.join(best, Seq("fp"))
      .filter(col(priorityCol) <=> col("__p"))
      .groupBy(col("fp"), col("__p"), col("n_copies"))
      .agg(min(col(idCol)).as("keep_id"))
      .select(col("keep_id"), col("__p").as(priorityCol),
        col("n_copies"), col("fp"))
  }

  /** Sub-document (chunk-level) dedup — the C4 idiom at passage
    * granularity: split every document into non-overlapping k-token chunks
    * (native [[org.apache.spark.sql.graft.TokenChunks]] kernel, trailing
    * partial included), fingerprint each chunk with md5, and keep only the
    * corpus-wide FIRST occurrence of each fingerprint (lowest (doc, pos)),
    * then reassemble each document from its surviving chunks in order.
    *
    * Output: (idCol, n_chunks, n_kept, clean_text) — clean_text is null
    * when every chunk of the document appeared earlier somewhere else.
    *
    * Composition note: for period-p repeats with adjacent stutter
    * (pagination chrome), run [[TextOps.collapseTokenRuns]] FIRST —
    * stutter misaligns the fixed chunk grid so raw repeats don't collide;
    * the worked example is TextOpsSpec's "period-p repeats via
    * composition" case.
    *
    * At 100 TB: the corpus is scanned and tokenized ONCE and moved
    * through exactly TWO shuffles. A window-min over fp partitions marks
    * each chunk kept/dropped in place (no separate firsts aggregate, no
    * join back, no second scan), then one doc-keyed pass computes
    * n_chunks, n_kept, and the rebuilt text together. Both shuffle keys
    * are uniform: fingerprints by construction; doc ids by assumption
    * (empty-doc rows are diverted off the NULL fp key below). The
    * first-occurrence argmin is min over a (doc, pos) STRUCT —
    * lexicographic, so the decision is identical to the SQL oracle's
    * doc*1e6+pos encoding for in-range ids but cannot overflow for
    * hash-derived 64-bit ids (the encoded long wrapped negative above
    * ~9.2e12 and silently picked an arbitrary "first"). The id must be
    * integral (enforced: a string id would cast to null and silently
    * mark the whole corpus duplicate).
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require({
        import org.apache.spark.sql.types._
        Seq(LongType, IntegerType, ShortType, ByteType)
          .contains(docs.schema(idCol).dataType)
      },
      s"chunkDedup needs an integral id column; '$idCol' is " +
        docs.schema(idCol).dataType.simpleString)
    def chunksOf(c: Column) =
      org.apache.spark.sql.graft.VectorFunctions.tokenChunks(
        TextOps.tokens(c), chunkTokens)
    // posexplode_outer: a null-text doc keeps one (null pos, null chunk)
    // row, so it still appears in the output (0 chunks, 0 kept)
    val chunks = docs
      .select(col(idCol),
        posexplode_outer(chunksOf(col(textCol))).as(Seq("pos", "chunk")))
      .withColumn("fp", md5(col("chunk")))
      .withColumn("__key", struct(col(idCol), col("pos")))
    // Null-fp rows (empty docs) get a per-doc partition key: putting them
    // all under the literal NULL fp would funnel every empty doc in the
    // corpus through ONE window partition. A leading space cannot collide
    // with an md5 hex fp.
    val wFp = Window.partitionBy(
      coalesce(col("fp"), concat(lit(" "), col(idCol).cast("string"))))
    val flagged = chunks.withColumn("__kept",
      col("fp").isNotNull && col("__key") === min(col("__key")).over(wFp))
    // One doc-keyed aggregate for counts AND rebuild ([[Reassemble]]):
    // collect the kept (pos, chunk) structs, sort_array restores order —
    // no running-prefix arrays, no per-doc sort pass.
    Reassemble.reassembleKept(flagged, idCol, "pos", "chunk", "__kept",
      "n_chunks")
  }

  /** Connected components over an undirected pair list — the cluster-
    * resolution step that turns near-dup PAIRS (minhash/simhash/cosine
    * candidates) into dedup DECISIONS: every member of a component keeps
    * exactly one canonical representative (the min id).
    *
    * Hash-min label propagation: each vertex repeatedly adopts the
    * minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds — near-dup clusters are shallow, so
    * this is 2-3 rounds in practice. Each round is one shuffle join on
    * vertex id plus a partial-min aggregate; labels are (id, comp) pairs
    * only, never payloads, and only last round's CHANGED vertices (the
    * frontier) push messages — after round 1 the join's label side is the
    * still-active residue, not the whole graph. The driver loop checks a single scalar
    * (#changed) per round — no data collects. Lineage is truncated every
    * round (GraphFrames does the same): by default with an eager
    * localCheckpoint (executor-memory, zero I/O); `durable = true` swaps
    * in reliable `checkpoint()` files under the session's checkpoint dir,
    * so losing an executor replays the round from storage instead of
    * recomputing the whole iteration history — the right trade at
    * petabyte scale where a 20-round replay is unaffordable. Durable mode
    * fails fast if no checkpoint dir is configured.
    *
    * `vertices` contributes isolated vertices (their component is
    * themselves); pass e.g. the full doc-id column so singletons appear
    * in the output.
    *
    * PRECONDITION: pair endpoints must be a subset of `vertices` (every
    * current caller derives pairs from the vertex set, so this holds by
    * construction). On inputs that violate it the two execution paths
    * legitimately differ: the distributed loop never propagates through
    * an unlabeled endpoint (such edges drop at the frontier/labels
    * joins), while the under-cap driver union-find would merge THROUGH a
    * non-vertex id — so the same input could label differently depending
    * on whether the pair count crosses `maxDriverPairs` (ADVICE r19).
    * Callers with externally-sourced pairs must semi-join them against
    * the vertex ids on BOTH endpoints first.
    *
    * Throws if labels still changed on the `maxIter`-th round: a silent
    * early exit would hand downstream decisions (cluster dedup keeps,
    * [[leakageSafeSplit]]'s no-straddle guarantee) labels that are NOT a
    * fixpoint — adjacent near-dups could carry different components.
    * A >maxIter-diameter chain is pathological for near-dup graphs but
    * must fail loudly, not corrupt the keep/split decision.
    */
  /** Per-run diagnostics of the last [[connectedComponents]] driver loop
    * COMPLETED ON THIS THREAD (the loop is driver-side, so the caller's
    * thread is where the rounds happen; thread-locality keeps parallel
    * test suites and concurrent jobs from clobbering each other's
    * reading). `changedPerRound` is the frontier size after each round —
    * the final entry is 0 (the fixpoint probe). VERDICT r9 #5: the
    * driver bench recorded q53 at 1.78× of the prior round while the
    * same-day local record said 0.97× — variance on the iterative
    * operator is indistinguishable from a frontier regression unless
    * the round structure is in the bench record, so Bench now emits
    * this per CC-running query and DedupOpsSpec pins the fixture
    * round counts.
    */
  final case class CcRunStats(rounds: Int, changedPerRound: Seq[Long])
  private val _lastCcStats =
    new ThreadLocal[Option[CcRunStats]] { override def initialValue = None }
  def lastCcStats: Option[CcRunStats] = _lastCcStats.get()
  /** Clear this thread's record — callers that ATTRIBUTE stats to a
    * specific operation (Bench) reset before running it, so a stale
    * record from an earlier CC never mislabels a CC-free query.
    */
  def resetCcStats(): Unit = _lastCcStats.remove()

  /** The most candidate pairs [[connectedComponents]] contracts on the
    * DRIVER instead of running the distributed label-propagation loop.
    * Dedup pair sets are sparse (ids only — the r19 measurement: every
    * fixture CC spent its wall-clock on per-round scheduling, not data),
    * and 1M (id, id) rows is ~16 MB of longs: collect, union-find, and
    * the broadcast label map are all tens of MB — comfortably inside any
    * driver. Beyond the cap (or for non-integral id types) the loop
    * below runs unchanged, so the operator still scales to pair sets
    * that do NOT fit a driver; the cap is the same bounded-probe
    * contract as [[tokenBudgetSelect]]'s histogram.
    */
  private[graft] val MaxDriverCcPairs: Long = 1000000L

  /** Union-find (min-representative) over a collected pair set: roots
    * only ever decrease (the larger root attaches under the smaller), so
    * by induction every set's root IS its minimum member — exactly the
    * fixpoint the hash-min propagation loop reaches WHEN every endpoint
    * is a labeled vertex (the [[connectedComponents]] precondition; on
    * endpoints outside the vertex set the loop drops the edge while this
    * merges through it). Returns (id, comp) for every pair endpoint
    * whose label differs from itself (identity rows are implicit;
    * singletons never appear in a pair).
    */
  private[graft] def unionFindMinLabels(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val ids = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (a, b) => ids(a) = (); ids(b) = () }
    ids.keysIterator.map(id => id -> find(id))
      .filter { case (id, c) => c != id }.toArray
  }

  /** The driver-side contraction both [[connectedComponents]] and
    * [[clusterDedup]] share: materialize the pair set once (the same
    * lineage cut the loop would pay for its edges), and when it is
    * integral-typed and within [[MaxDriverCcPairs]], collect and
    * union-find it. None → the caller must run the distributed loop on
    * the returned cut pair frame. Records CcRunStats(0, []) on the
    * driver path — zero propagation rounds ran.
    */
  private[graft] def driverCcLabels(pairs: DataFrame, durable: Boolean,
      maxDriverPairs: Long)
      : Either[DataFrame, Array[(Long, Long)]] = {
    def cut(df: DataFrame): DataFrame =
      if (durable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    // null-keyed pairs are dropped HERE so both paths agree: the loop's
    // equi-joins silently drop them anyway, but the collected array used
    // to hard-fail on a NULL id only under the cap (ADVICE r19) — a
    // cap-dependent behavior difference. For non-nullable id schemas
    // Catalyst elides the filter.
    val p = cut(pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull))
    val integral = Seq("id_a", "id_b").forall(c =>
      p.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType => true
        case _ => false
      })
    if (maxDriverPairs > 0 && integral && p.count() <= maxDriverPairs) {
      def toL(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
        case l: Long => l
        case n: Int => n.toLong
        case other => throw new IllegalStateException(
          s"driverCcLabels: unexpected id value $other")
      }
      val arr = p.collect().map(r => (toL(r, 0), toL(r, 1)))
      _lastCcStats.set(Some(CcRunStats(0, Seq.empty)))
      Right(unionFindMinLabels(arr))
    } else Left(p)
  }

  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame, maxIter: Int = 20,
                          durable: Boolean = false,
                          maxDriverPairs: Long = MaxDriverCcPairs)
      : DataFrame = {
    if (durable &&
        vertices.sparkSession.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "connectedComponents(durable = true) needs " +
          "spark.sparkContext.setCheckpointDir(<reliable storage path>)")
    driverCcLabels(pairs, durable, maxDriverPairs) match {
      case Right(map) =>
        val spark = vertices.sparkSession
        import spark.implicits._
        val vType = vertices.schema(idCol).dataType
        val mapDf = map.toSeq.toDF("id", "__mcomp")
          .select(col("id").cast(vType).as("id"),
            col("__mcomp").cast(vType).as("__mcomp"))
        vertices.select(col(idCol).as("id")).distinct()
          .join(broadcast(mapDf), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__mcomp"), col("id")).as("comp"))
      case Left(p) => ccLoop(vertices, idCol, p, maxIter, durable)
    }
  }

  /** The distributed frontier-delta label-propagation loop over an
    * ALREADY-CUT pair frame — the shared fallback [[connectedComponents]]
    * and [[clusterDedup]] run past [[MaxDriverCcPairs]] (taking the cut
    * frame directly avoids a second eager checkpoint + count of a >1M-row
    * pair set on every over-cap call — ADVICE r19).
    */
  private def ccLoop(vertices: DataFrame, idCol: String,
                     cutPairs: DataFrame, maxIter: Int,
                     durable: Boolean): DataFrame = {
    def cut(df: DataFrame): DataFrame =
      if (durable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    val edges = cut(cutPairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(cutPairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = cut(vertices.select(col(idCol).as("id"))
      .distinct().withColumn("comp", col("id")))
    // Frontier delta (VERDICT r8 #4): only vertices whose label CHANGED
    // last round push to their neighbors. A vertex whose label held has
    // already delivered it (labels only decrease, least() is idempotent,
    // so re-delivery is a no-op) — per-round labels are bit-identical to
    // the re-join-everything form, but the edges-side join shrinks with
    // the frontier instead of staying O(E) while the long tail of
    // already-converged components idles. Round 1 seeds the frontier
    // with every vertex (each initial label must be announced once).
    var frontier = labels
    var round = 0
    var changed = 1L
    val changedLog = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (changed > 0 && round < maxIter) {
      val neighborMin = edges
        .join(frontier.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      val next = cut(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (col("ncomp") < col("comp")).as("ch")))
      changed = next.filter(col("ch")).count()
      changedLog += changed
      frontier = next.filter(col("ch")).select(col("id"), col("comp"))
      labels = next.select(col("id"), col("comp"))
      round += 1
    }
    _lastCcStats.set(Some(CcRunStats(round, changedLog.toSeq)))
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          s"maxIter; raise maxIter rather than consume non-fixpoint labels")
    labels
  }

  /** Pay LSH once: materialize a candidate-pair set to parquet and hand
    * back a plain scan of it — the pair-set analog of the committed IVF
    * centroids ([[IvfCentroids]], fit once by a tool, consumed by every
    * query). q56/q59/q72-style chains each recompute
    * MinHash-LSH from the corpus because each must stand alone for its
    * oracle; a production pipeline instead computes the pair set in ONE
    * job and feeds every downstream decision (cluster dedup, leakage
    * split, priority merge) from this materialization. At 100 TB the pair
    * set is tiny next to the corpus (ids + a score), so the re-read is
    * O(pairs) while the avoided recompute is O(corpus) shuffles.
    *
    * `compute` is by-name: when the materialization already exists
    * (`_SUCCESS` present), the LSH pipeline is never even constructed —
    * the returned plan is a bare FileScan of `path` with zero Generate/
    * Aggregate nodes (asserted by PersistedPairsSpec). Callers version
    * the path with the LSH parameters so a retune can never read a stale
    * pair set.
    *
    * Existence is resolved through Hadoop's FileSystem (VERDICT r8 #1),
    * not `java.io.File` — on a cluster the path is HDFS/S3, where a local
    * File probe always answers "absent" and the cache would silently
    * degrade to recompute-every-call. Publication is atomic: the pair set
    * is written to a hidden sibling and `rename`d into place, so a crash
    * mid-write leaves no half-populated path that a `_SUCCESS`-less probe
    * would then have to distrust. Concurrent writers resolve to one
    * published set: `_SUCCESS` is re-probed AFTER the compute, so a racer
    * that published while we were computing wins and our attempt is
    * discarded; a `_SUCCESS`-less dst at publish time is a crashed
    * partial and is cleared. The crashed-partial delete is adjacent to
    * its probe (not separated by the whole compute), so the residual
    * probe→delete window is statement-width — the same accepted window
    * Hadoop's own rename-based commit protocols carry on stores without
    * atomic directory swap — and the post-publish verify turns a lost
    * race into a loud error instead of a silent gap.
    */
  /** Cache a narrow per-call manifest with a BOUNDED lifetime — the
    * contract [[tokenBudgetSelect]], [[repetitionSchedule]], and
    * [[neardupThresholdSweep]] hold their internal persists to. The
    * manifest must be cached (its lineage may be arbitrarily expensive —
    * q127 tokenizes+scores — and each operator reads it twice: once for
    * the driver-side histogram, once in the returned plan), and the
    * returned lazy frame still references it, so the operator cannot
    * unpersist before returning. A bare `.persist()` therefore leaked:
    * a long-lived pipeline session calling these operators repeatedly
    * accumulated MEMORY_AND_DISK blocks until the ContextCleaner
    * happened to GC the frames (VERDICT r13 defect 1). (An eager parquet
    * spill was tried first and REJECTED by the bench: the extra write
    * job + commit + re-read cost ~1 s per call at sf0.1 — q127
    * 0.23→1.31 s — against manifests that are kilobytes.)
    *
    * The contract instead: every live manifest registers here; the
    * registry holds at most [[ManifestCacheCap]] of them and unpersists
    * the OLDEST beyond that (eviction is safe — the lineage stays valid,
    * an evicted manifest consumed later just recomputes), and
    * [[releaseManifests]] drops them all — the explicit cleanup handle a
    * long-lived session calls between pipeline runs. Blocks from these
    * operators are therefore bounded by cap × manifest size at all
    * times, and zero after release (spec-asserted).
    */
  private[ext] def cachedManifest(df: DataFrame): DataFrame = {
    val m = df.persist()
    liveManifests.synchronized {
      liveManifests.addLast(m)
      while (liveManifests.size > ManifestCacheCap) {
        liveManifests.removeFirst().unpersist(false); ()
      }
    }
    m
  }

  /** The most manifests [[cachedManifest]] keeps cached at once. 8 covers
    * every composed chain in the repo (q129 holds one at a time) with
    * room for interleaved callers; beyond it the oldest recomputes on a
    * later read instead of holding blocks forever.
    */
  private val ManifestCacheCap = 8
  private val liveManifests = new java.util.ArrayDeque[DataFrame]()

  /** Drop every manifest cache [[cachedManifest]] is holding — the
    * explicit lifetime handle for long-lived sessions (call between
    * pipeline runs; results already consumed are unaffected, results not
    * yet consumed recompute their lineage).
    */
  def releaseManifests(): Unit = liveManifests.synchronized {
    while (!liveManifests.isEmpty) {
      liveManifests.removeFirst().unpersist(false); ()
    }
  }

  def materializedPairs(spark: org.apache.spark.sql.SparkSession,
                        path: String, partitionBy: Seq[String] = Nil,
                        readSchema: Option[String] = None)
                       (compute: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(dst, "_SUCCESS")
    if (!fs.exists(success)) {
      val tmp = new Path(dst.getParent,
        s".${dst.getName}.inprogress-${java.util.UUID.randomUUID()}")
      try {
        // partitionBy (q106's embedding store keys on `cell`): directory
        // layout is part of the published contract — downstream joins on
        // the partition column get dynamic partition pruning, so an
        // ingest batch touching 3 cells reads 3 directories, not the
        // store. _SUCCESS lands at the ROOT either way; the atomic
        // publish contract below is unchanged.
        compute.write.mode("overwrite")
          .partitionBy(partitionBy: _*).parquet(tmp.toString)
        // Publish loop (ADVICE r9): every attempt RE-probes _SUCCESS so a
        // racer's completed publication wins immediately, and a rename
        // failure (HDFS rename-to-existing) retries through a fresh probe
        // instead of assuming. The pre-delete targets only a _SUCCESS-less
        // crashed partial, probed adjacent to the delete each attempt —
        // the residual statement-width hazard is documented below.
        var done = false
        var attempt = 0
        while (!done) {
          if (fs.exists(success)) {
            // a concurrent writer published (during our compute or a
            // prior attempt): theirs is complete, ours is redundant —
            // never touch dst
            fs.delete(tmp, true); done = true
          } else {
            // a _SUCCESS-less dst here is a crashed partial write — clear
            // it so the rename lands AT dst instead of nesting inside.
            // RESIDUAL HAZARD (accepted, statement-width): a racer
            // completing publication between this probe and the delete
            // loses its dst and is immediately re-published by us with
            // bit-identical content; a concurrent READER of the path can
            // transiently miss _SUCCESS during that swap. Content never
            // diverges, and the post-publish verify turns a genuinely
            // lost state into a loud error.
            if (fs.exists(dst)) fs.delete(dst, true)
            if (fs.rename(tmp, dst)) done = true
            else {
              attempt += 1
              if (attempt >= 3) { fs.delete(tmp, true); done = true }
            }
          }
        }
        // local-FS rename CAN move INTO an existing dst (posix
        // semantics) when a racer re-created it between our delete and
        // rename — sweep the stray nested dir if so
        val nested = new Path(dst, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
        if (!fs.exists(success)) throw new IllegalStateException(
          s"failed to publish materialized pair set at $path")
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    // a stated schema lets an EMPTY partitioned publication (e.g. the
    // streaming bootstrap's zero-row embedding store, which has no data
    // files to infer from) read back as zero rows instead of failing
    readSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  /** Persisted corpus MinHash-signature store — the state that makes
    * ingest-time dedup INCREMENTAL. Same atomic-publish/first-writer-wins
    * contract as [[materializedPairs]] (it IS that materializer);
    * signatures are always `portable` (run-stable md5-derived hashes —
    * xxhash signatures would also work across runs of the same Spark
    * version, but portable ones are additionally engine-stable, which is
    * what lets DuckDB oracle the whole incremental path). Callers version
    * `path` with (k, numBands, rowsPerBand) — a retune must never join
    * new signatures against a store built under different parameters.
    *
    * At 100 TB the store is docs × numHashes longs — ~2 % of the text it
    * summarizes at the default 16 hashes — and an ingest reads THIS, not
    * the corpus: re-tokenizing/re-shingling/re-hashing the corpus per
    * batch is the O(corpus) cost this operator exists to avoid.
    */
  def signatureStore(spark: org.apache.spark.sql.SparkSession,
                     docs: DataFrame, path: String, k: Int,
                     numBands: Int, rowsPerBand: Int): DataFrame =
    materializedPairs(spark, path)(
      minHashSignaturesDf(docs, k, numBands * rowsPerBand, portable = true))

  /** Signature-store staleness: reconcile the persisted MinHash store
    * against the CURRENT corpus — the q138-style health check for the
    * incremental near-dup loop ([[incrementalNearDupFlags]] +
    * [[appendToSignatureStore]]). Per `groupCol` value (source, crawl,
    * shard — the dimension on which ingest lags): `n_signed` (docs the
    * store covers), `n_missing` (docs never signed — exactly the rows
    * the loop's gates dropped or a skipped ingest never delivered; a
    * nonzero count here means the NEXT batch dedups against an
    * incomplete corpus), `n_orphaned` (signed ids no longer in the
    * corpus — [[compactSignatureStore]]'s delete candidates), grouped
    * under the `goneLabel` bucket since a departed doc carries no
    * current group. Cost: the store contributes ONLY its id column
    * (signatures never move), one id-keyed full-outer of two narrow
    * sides, |groups|+1 output rows.
    */
  def signatureStaleness(docs: DataFrame, store: DataFrame,
                         groupCol: String,
                         goneLabel: String = "[gone]"): DataFrame = {
    val cur = docs.select(col("doc_id"), col(groupCol))
      .withColumn("__present", lit(true))
    val signed = store.select(col("doc_id"), lit(true).as("__signed"))
    cur.join(signed, Seq("doc_id"), "full_outer")
      .withColumn(groupCol, coalesce(col(groupCol), lit(goneLabel)))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("__present").isNotNull && col("__signed").isNotNull,
          1L).otherwise(0L)).as("n_signed"),
        sum(when(col("__signed").isNull, 1L).otherwise(0L))
          .as("n_missing"),
        sum(when(col("__present").isNull, 1L).otherwise(0L))
          .as("n_orphaned"))
  }

  /** Close the ingest loop: sign `acceptedDocs` (the batch rows that
    * survived [[incrementalNearDupFlags]] + whatever other gates) and
    * append their signatures to the store, so the NEXT batch dedups
    * against them too. Parquet append — atomic per file, but the
    * store's writer contract is single-ingest-at-a-time (the natural
    * crawl-pipeline shape); concurrent ingests should serialize on the
    * store, not race it. Returns the number of signatures appended —
    * counted on the (small) batch side; never a scan of the store, whose
    * size grows without bound.
    *
    * REFUSES a path with no published store: appending to a fresh path
    * would implicitly create one (the committer writes `_SUCCESS`), and
    * a later [[signatureStore]] call on that path would then skip
    * signing the corpus entirely — every subsequent ingest silently
    * dedup-ing against a "corpus" that is just earlier batches. Create
    * the store explicitly first (over the corpus, or over zero docs for
    * a fresh crawl, as [[graft.streaming.EventStreams.runIngestDedup]]
    * does).
    */
  def appendToSignatureStore(spark: org.apache.spark.sql.SparkSession,
                             acceptedDocs: DataFrame, path: String, k: Int,
                             numBands: Int, rowsPerBand: Int): Long = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(dst, "_SUCCESS")),
      s"appendToSignatureStore: no published signature store at $path — " +
        "build it with signatureStore first (an implicit create here " +
        "would later masquerade as a signed corpus)")
    val sigs = minHashSignaturesDf(acceptedDocs, k,
      numBands * rowsPerBand, portable = true).persist()
    try {
      val n = sigs.count()
      if (n > 0) sigs.write.mode("append").parquet(path)
      n
    } finally { sigs.unpersist(); () }
  }

  /** Rewrite the signature store as few large files (VERDICT r9 #3).
    * [[appendToSignatureStore]] adds one parquet file set per ingest
    * batch — a continuous crawl at ~100 batches/day accumulates tens of
    * thousands of small files in months, and file listing + task
    * planning on the store then degrade linearly, eroding exactly the
    * O(batch) ingest cost the store exists to provide. Periodic
    * compaction rewrites the store at `targetFileMB`-sized files and
    * swaps it in via [[StoreSwap]] (rename-old-aside → rename-new-in →
    * delete-aside: every crash point leaves an intact store directory,
    * and the next compaction call auto-recovers a parked one — no
    * destroy-first window); signatures are preserved bit-identically,
    * EXCEPT that exact-duplicate rows (same doc_id AND same signature)
    * collapse to one — those are replay artifacts (a crash between a
    * streaming ingest's store append and its replay marker re-appends
    * the same batch, [[graft.streaming.EventStreams.runIngestDedup]]),
    * and collapsing them also heals the inflated `n_dups` a duplicated
    * store row would feed [[incrementalNearDupFlags]]. Distinct
    * signatures are never merged: two different docs, or one doc
    * legitimately re-signed under different text, keep their rows.
    *
    * Same single-writer contract as append: compaction must serialize
    * with ingests on the store (the natural crawl-pipeline shape), not
    * race them. Returns (files before, files after).
    */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
                            path: String, targetFileMB: Int = 256): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    require(targetFileMB > 0, s"compactSignatureStore: targetFileMB must be > 0")
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(dst, "_SUCCESS")
    // heal a swap interrupted by a crashed earlier compaction first: the
    // old store may be parked under a .{name}.old-* aside (StoreSwap)
    StoreSwap.recoverIfInterrupted(fs, dst)
    require(fs.exists(success),
      s"compactSignatureStore: no published signature store at $path")
    def parquetFiles() = fs.listStatus(dst)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles()
    val targetFiles = math.max(1, math.ceil(
      before.map(_.getLen).sum.toDouble / (targetFileMB.toLong << 20)).toInt)
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.compact-${java.util.UUID.randomUUID()}")
    try {
      // the write is an action: tmp is fully materialized (and _SUCCESS
      // committed) before the old store is touched
      spark.read.parquet(path).dropDuplicates()
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      StoreSwap.swapIn(fs, dst, tmp, "compactSignatureStore")
      if (!fs.exists(success)) throw new IllegalStateException(
        s"compactSignatureStore: compacted store at $path has no _SUCCESS")
      (before.length, parquetFiles().length)
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  /** Flag which documents of an incoming batch near-duplicate the
    * EXISTING corpus, joining the batch's fresh signatures against a
    * [[signatureStore]] — the continuous-crawl ingest shape. Output: one
    * row per batch doc — (doc_id, n_dups, dup).
    *
    * Cost per ingest: O(batch) to sign the new docs + a band-key join
    * whose corpus side re-derives band rows map-only from the stored
    * signatures (numBands narrow rows per doc — no tokenize, no shingle,
    * no min-agg over the corpus). The store is scanned twice per action
    * (band derivation; sig fetch for scoring) — deliberate: carrying
    * the numHashes-wide signatures through the band join and pair
    * distinct would widen exactly the rows score-once keeps narrow, and
    * a second columnar scan of the id+sig store is the cheaper side of
    * that trade; the batch-side signature subplan also appears twice
    * pre-AQE, and AQE reuses its exchange at runtime (observed as
    * ReusedExchange). Pairs are scored ONCE per distinct
    * (batch, corpus) pair (the q74 score-once form): band collisions
    * dedup to id pairs first, signatures join back after. Batch-internal
    * duplicates are deliberately out of scope — that is
    * [[minHashLshPairs]] over the batch, a different (and
    * batch-size-bounded) question; composing both is the caller's
    * pipeline. A doc too short to shingle never collides, so it flags
    * clean — same contract as the batch operators.
    */
  def incrementalNearDupFlags(newDocs: DataFrame, corpusSigs: DataFrame,
                              k: Int, numBands: Int, rowsPerBand: Int,
                              minJaccard: Double): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val newSigs = minHashSignaturesDf(newDocs, k, numHashes, portable = true)
    def bandsOf(sigs: DataFrame) =
      bandedSignatures(sigs, numBands, rowsPerBand, portable = true)
        .select(col("doc_id"), col("band_idx"), col("band_hash"))
    val pairs = bandsOf(newSigs)
      .join(bandsOf(corpusSigs).withColumnRenamed("doc_id", "corpus_id"),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("corpus_id"))
      .distinct()
    val agree = sigAgreement("sig_a", "sig_b", numHashes)
    val scored = pairs
      .join(newSigs.select(col("doc_id"), col("sig").as("sig_a")), "doc_id")
      .join(corpusSigs.select(col("doc_id").as("corpus_id"),
        col("sig").as("sig_b")), "corpus_id")
      .select(col("doc_id"),
        round(agree / numHashes, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    val flags = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"))
    newDocs.select(col("doc_id"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .withColumn("dup", col("n_dups") > 0)
  }

  /** Cluster-level dedup: drop every document whose component canonical
    * (min id) is another document. Singletons survive untouched.
    */
  def clusterDedup(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // Driver-path shortcut (r19): the non-canonical ids are exactly the
    // union-find map's keys (a component member differing from its min
    // label), so the anti-join side is a LOCAL relation — the old
    // labels-based form re-derived `docs`' whole lineage a second time
    // for the vertices side of the CC. Falls back to the distributed
    // loop past [[MaxDriverCcPairs]] (same results, plan-shape only).
    driverCcLabels(pairs, durable = false, MaxDriverCcPairs) match {
      case Right(map) =>
        val spark = docs.sparkSession
        import spark.implicits._
        val vType = docs.schema(idCol).dataType
        val nc = map.map(_._1).toSeq.toDF(idCol)
          .select(col(idCol).cast(vType).as(idCol))
        docs.join(nc, Seq(idCol), "left_anti")
      case Left(p) =>
        // p is ALREADY cut and counted by driverCcLabels: enter the loop
        // directly rather than re-entering connectedComponents, whose
        // own driverCcLabels would eagerly checkpoint + count the >1M-row
        // pair set a second time (ADVICE r19)
        val nonCanonical =
          ccLoop(docs.select(col(idCol)), idCol, p, maxIter = 20,
              durable = false)
            .filter(col("id") =!= col("comp"))
            .select(col("id").as(idCol))
        docs.join(nonCanonical, Seq(idCol), "left_anti")
    }
  }

  /** Quality-aware canonical selection: [[clusterDedup]] keeps the LOWEST
    * id per near-dup cluster; real curation keeps the BEST copy (the
    * curated dump's clean text over the crawl's boilerplate-wrapped twin).
    * Per connected component of `pairs`, keep the member with the highest
    * `scoreCol` (ties → lowest id) and annotate it with the component
    * label and member count. Same two-phase argmax as [[priorityMerge]] —
    * max per component, then min id among the null-safe winners — so each
    * phase is a plain partial-agg shuffle on the uniform component key
    * and the decision reproduces in any engine; an all-null-score cluster
    * still keeps one member (the `<=>` below — a plain === would drop the
    * whole cluster). Output: the kept docs' rows + (comp, n_members).
    */
  def clusterDedupBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                       scoreCol: Column): DataFrame = {
    val comp = connectedComponents(docs.select(col(idCol)), idCol, pairs)
      .select(col("id").as(idCol), col("comp"))
    val withComp = docs.join(comp, Seq(idCol))
    val best = withComp.groupBy(col("comp"))
      .agg(max(scoreCol).as("__best"), count(lit(1)).as("n_members"))
    val keep = withComp.join(best, Seq("comp"))
      .filter(scoreCol <=> col("__best"))
      .groupBy(col("comp"), col("n_members"))
      .agg(min(col(idCol)).as(idCol))
    docs.join(keep, Seq(idCol))
  }

  /** The budget-quality curve: token mass per fixed-width score bucket,
    * cumulated BEST-FIRST — the report a recipe owner reads to SET the
    * budget literal [[tokenBudgetSelect]] then enforces ("the top bucket
    * alone holds 12% of the tokens; going one bucket deeper buys 31%
    * more at a 0.1 quality discount"). Fixed-width buckets, not ntile:
    * an ntile boundary depends on engine-specific tie placement, a
    * floor(score·n) bucket is a pure function of the rounded score.
    *
    * Determinism: per-bucket counts and token sums are exact integers,
    * the best-first cumulation is a window over ≤ nBuckets aggregate
    * rows (bounded — this is the one place a global window is free),
    * and `cum_share` is ONE double division of exact longs, rounded at
    * 6. NULL/NaN scores and NULL token counts are excluded (the curve
    * cannot place them — [[tokenBudgetSelect]]'s rule).
    *
    * Returns (bucket, n_docs, n_tokens, cum_tokens, cum_share) ordered
    * bucket DESC (best first); buckets with no documents are absent.
    */
  def budgetCurve(docs: DataFrame, scoreCol: Column, nTokCol: Column,
                  nBuckets: Int = 10, scoreLo: Double = 0.0,
                  scoreHi: Double = 1.0): DataFrame = {
    require(nBuckets > 0, s"budgetCurve: nBuckets must be positive")
    require(scoreHi > scoreLo,
      s"budgetCurve: score range [$scoreLo, $scoreHi) is empty")
    val s = scoreCol.cast("double")
    val t = nTokCol.cast("long")
    val bucketed = docs
      .filter(s.isNotNull && !isnan(s) && t.isNotNull && t >= 0L)
      // clamp on the LONG floor result BEFORE the int cast: a wild
      // out-of-range score would otherwise overflow the cast and wrap
      // into the wrong bucket instead of the documented edge clamp
      .withColumn("__b", least(lit((nBuckets - 1).toLong),
        greatest(lit(0L),
          floor((s - scoreLo) / (scoreHi - scoreLo) * nBuckets)))
        .cast("int"))
      .withColumn("__t", t)
    val byBucket = bucketed.groupBy(col("__b"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"))
    val w = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_share",
        round(col("cum_tokens").cast("double") /
          sum(col("n_tokens")).over(
            Window.orderBy(col("__b").desc).rowsBetween(
              Window.unboundedPreceding,
              Window.unboundedFollowing)).cast("double"), 6))
      .select(col("__b").as("bucket"), col("n_docs"), col("n_tokens"),
        col("cum_tokens"), col("cum_share"))
  }

  /** Budget ALLOCATION (q179): turn [[budgetCurve]]'s report into the
    * per-source budget literals [[tokenBudgetSelectBySource]] then
    * enforces — given a GLOBAL token budget, take (source, score-bucket)
    * cells globally best-bucket-first until the budget exhausts (ties
    * across sources at the same bucket break by source ascending; the
    * crossing cell gets the remaining allowance). Best-first greedy is
    * the exact optimum under any score-monotone preference — precisely
    * the objective the per-source selections optimize locally, now
    * solved globally so no source's mediocre bucket displaces another's
    * good one.
    *
    * Determinism and scale (the q170 discipline): the corpus collapses
    * to ONE (source, bucket) aggregate — ≤ |sources|·nBuckets rows, the
    * histogram-scale contract, which is why the global allocation
    * window over those cells is free (same bounded-window argument as
    * [[budgetCurve]]); every take is pure integer arithmetic
    * (full cells take their mass, the crossing cell takes
    * budget − cum_before, later cells take 0), and `alloc_share` is
    * integer-rounded half-up then divided once by 10⁶ (the q172 rule —
    * no float round at a .5 boundary). NULL/NaN scores, NULL sources
    * and NULL token counts are excluded, as in the selection ops.
    *
    * Returns per source: (source, avail_tokens, alloc_tokens,
    * alloc_share, cut_bucket) — cut_bucket the LOWEST score bucket the
    * source takes anything from (NULL when the budget exhausts before
    * reaching any of its cells).
    */
  def allocateBudgets(docs: DataFrame, sourceCol: String,
                      scoreCol: Column, nTokCol: Column,
                      totalBudget: Long, nBuckets: Int = 10,
                      scoreLo: Double = 0.0,
                      scoreHi: Double = 1.0): DataFrame = {
    require(totalBudget > 0,
      s"allocateBudgets: totalBudget=$totalBudget must be positive")
    // alloc_share's integer rounding computes 2000000 * alloc_tokens in
    // Long; alloc_tokens ≤ totalBudget, so bounding the budget keeps the
    // micro-share arithmetic overflow-free (ANSI would throw, non-ANSI
    // would silently wrap) at trillion-token scales and beyond the guard
    // fails NAMED instead
    require(totalBudget <= Long.MaxValue / 2000000L,
      s"allocateBudgets: totalBudget=$totalBudget exceeds " +
        s"${Long.MaxValue / 2000000L} — the micro-unit share arithmetic " +
        "(2000000 * alloc_tokens) would overflow Long")
    require(nBuckets > 0, "allocateBudgets: nBuckets must be positive")
    require(scoreHi > scoreLo,
      s"allocateBudgets: score range [$scoreLo, $scoreHi) is empty")
    val s = scoreCol.cast("double")
    val t = nTokCol.cast("long")
    val cells = docs
      .filter(col(sourceCol).isNotNull && s.isNotNull && !isnan(s) &&
        t.isNotNull && t >= 0L)
      .withColumn("__b", least(lit((nBuckets - 1).toLong),
        greatest(lit(0L),
          floor((s - scoreLo) / (scoreHi - scoreLo) * nBuckets)))
        .cast("int"))
      .groupBy(col(sourceCol).as("__src"), col("__b"))
      .agg(sum(t).as("__mass"))
    val w = Window.orderBy(col("__b").desc, col("__src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("__cum", sum(col("__mass")).over(w))
      .withColumn("__take",
        when(col("__cum") <= totalBudget, col("__mass"))
          .when(col("__cum") - col("__mass") < totalBudget,
            lit(totalBudget) - (col("__cum") - col("__mass")))
          .otherwise(0L))
      .groupBy(col("__src"))
      .agg(sum(col("__mass")).as("avail_tokens"),
        sum(col("__take")).as("alloc_tokens"),
        min(when(col("__take") > 0, col("__b"))).as("cut_bucket"))
      // a source whose every doc prices at 0 tokens has no definable
      // share (and DuckDB's `// 0` would error where Spark's div NULLs)
      .withColumn("alloc_share", when(col("avail_tokens") > 0,
        expr("(2000000 * alloc_tokens + avail_tokens) div " +
          "(2 * avail_tokens)").cast("double") / 1000000.0))
      .select(col("__src").as(sourceCol), col("avail_tokens"),
        col("alloc_tokens"), col("alloc_share"), col("cut_bucket"))
  }

  /** Allocation → enforcement in one call (q180): [[allocateBudgets]]
    * solves the per-source budgets for a GLOBAL token budget, then
    * [[tokenBudgetSelectBySource]] enforces them — curve (q170) →
    * allocation (q179) → selection, the whole mixture loop closed with
    * no hand-carried literals in between. The allocation collects as a
    * ≤ |sources|-row driver probe (the documented two-phase bounded-
    * probe pattern — sources are a catalog, not a corpus); sources
    * allocated ZERO tokens are excluded from the selection exactly like
    * sources with no declared budget.
    *
    * Granularity contract, stated honestly: the allocation is
    * BUCKET-granular (the crossing bucket's remainder goes to one
    * source) while the enforcement is DOC-granular best-first within
    * each source's allowance — so around the global crossing point the
    * selected set can differ from a pure doc-level global greedy by up
    * to one bucket's straddlers (the packBins straddler class). Every
    * per-source total still respects its allocation, so the global
    * budget is never exceeded.
    *
    * Returns [[tokenBudgetSelectBySource]]'s (idCol, sourceCol, score,
    * n_tokens).
    */
  def selectWithAllocatedBudgets(docs: DataFrame, idCol: String,
                                 sourceCol: String, scoreCol: Column,
                                 nTokCol: Column, totalBudget: Long,
                                 nBuckets: Int = 10,
                                 scoreLo: Double = 0.0,
                                 scoreHi: Double = 1.0): DataFrame = {
    val budgets: Map[String, Long] =
      allocateBudgets(docs, sourceCol, scoreCol, nTokCol, totalBudget,
          nBuckets, scoreLo, scoreHi)
        // tokenBudgetSelectBySource keys budgets by String — cast the
        // probe column so a non-string source surfaces as the selection's
        // usual string-keyed budgets, not an opaque driver-side
        // ClassCastException (ADVICE r17)
        .select(col(sourceCol).cast("string"), col("alloc_tokens"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .filter(_._2 > 0L)
        .toMap
    require(budgets.nonEmpty,
      "selectWithAllocatedBudgets: the allocation assigned zero tokens " +
        "everywhere — no source has any scored token mass to select")
    tokenBudgetSelectBySource(docs, idCol, sourceCol, scoreCol, nTokCol,
      budgets, scoreLo, scoreHi, nBuckets)
  }
}
