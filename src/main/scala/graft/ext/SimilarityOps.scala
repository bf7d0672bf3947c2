package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.VectorFunctions

/** Vector-similarity operators over an `array<float>` embedding column
  * (SURVEY.md §2.C). All arithmetic is built from codegen'd higher-order
  * functions (zip_with/aggregate) — no UDF, no driver collect — and every
  * float is cast to double *before* multiplication so results are bitwise
  * reproducible across engines (the DuckDB oracle does the same cast).
  */
object SimilarityOps {

  /** Dot product in double precision — delegates to the native codegen'd
    * [[graft.functions.DotProduct]] expression (the higher-order-function
    * formulation `aggregate(zip_with(...))` is CodegenFallback: interpreted
    * + boxed per element, ~10× slower in a pairwise join).
    */
  def dot(a: Column, b: Column): Column =
    VectorFunctions.dotProduct(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** NULL when either vector has zero norm (cosine is undefined there;
    * a bare divide would raise DIVIDE_BY_ZERO under ANSI mode), matching
    * the native [[VectorFunctions.cosineSim]] kernel's zero-norm→null.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Unit-normalize once per VECTOR so pairwise cosine becomes a bare dot
    * product: O(pairs·dim) instead of O(pairs·3·dim) — the norms are paid
    * |V| times, not |pairs| times. At near-dup scale (pairs ≫ vectors) this
    * is the dominant cost, so every pairwise operator below normalizes
    * before joining. Delegates to the fused codegen'd
    * [[org.apache.spark.sql.graft.VectorNormalize]] — the higher-order
    * `transform(e, x -> x / norm)` formulation it replaces dispatched an
    * interpreted lambda per element (~0.3 ms/row).
    */
  def withUnitVec(df: DataFrame, embCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, VectorFunctions.normalize(col(embCol)))

  /** Brute-force cosine top-k: every probe row scores against every
    * candidate. The candidate side is the big one; probes are broadcast, so
    * the plan is a map-side BroadcastNestedLoopJoin over the candidate scan —
    * no shuffle until the per-probe top-k (WindowGroupLimit pushes k into
    * the sort). This is the exact baseline ANN implementations are recalled
    * against; at 100 TB you run it only on a sampled slice, or switch to
    * [[ivfTopK]].
    */
  def bruteForceTopK(probes: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val p = withUnitVec(probes, "embedding", "probe_emb")
      .select(col("vec_id").as("probe_id"), col("probe_emb"))
    val c = withUnitVec(candidates, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(dot(col("probe_emb"), col("cand_emb")), 6))
    topKPerGroup(scored, "probe_id", "cand_id", k)
  }

  /** Brute-force top-k over int8-quantized unit vectors — the quantized
    * counterpart of [[bruteForceTopK]], ranking by the integer dot
    * (`sim` is the raw int8 dot; divide by 127² for the cosine
    * estimate). This is the 4× storage-reduction retrieval shape (int8
    * corpus on disk, no float vectors in the join), and its quantization
    * is engine-reproducible: fixed scale 127, half-up rounding — the q89
    * DuckDB oracle rebuilds the quantized vectors from raw floats and
    * must match the ranking bitwise.
    */
  def int8BruteForceTopK(probes: DataFrame, candidates: DataFrame,
                         k: Int): DataFrame = {
    val qc = withUnitVec(candidates, "embedding", "u")
      .select(col("vec_id").as("cand_id"),
        VectorFunctions.int8UnitQuantize(col("u")).as("cand_q"))
    val qp = withUnitVec(probes, "embedding", "u")
      .select(col("vec_id").as("probe_id"),
        VectorFunctions.int8UnitQuantize(col("u")).as("probe_q"))
    val scored = qc.join(broadcast(qp), col("probe_id") =!= col("cand_id"))
      .withColumn("sim", VectorFunctions.int8Dot(col("probe_q"), col("cand_q")))
    topKPerGroup(scored, "probe_id", "cand_id", k)
  }

  /** Hard-negative mining for contrastive training (the DPR/ANCE data-prep
    * loop — Karpukhin et al. 2020 §3.2; Xiong et al. 2021): per anchor,
    * the top-k most-similar corpus vectors INSIDE the band
    * `[simLo, simHi)`. The floor keeps the negative informative (an easy
    * random negative teaches nothing); the CEILING excludes probable
    * positives and near-duplicates — mining those as "negatives" poisons
    * the contrastive loss with false negatives. Anchors are a bounded
    * training batch and broadcast, so the plan is one map-side scan of
    * the corpus per mining round (the published regime: re-mine between
    * epochs). Returns (anchor_id, rk, neg_id, sim), rk 1..k by sim DESC
    * with neg_id as the deterministic tiebreaker ([[topKPerGroup]]).
    * For unbounded anchor counts, use [[hardNegativesFromStore]].
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    simLo: Double, simHi: Double): DataFrame = {
    require(simLo < simHi, s"empty band [$simLo, $simHi)")
    val p = withUnitVec(anchors, "embedding", "anchor_emb")
      .select(col("vec_id").as("anchor_id"), col("anchor_emb"))
    val c = withUnitVec(corpus, "embedding", "cand_emb")
      .select(col("vec_id").as("neg_id"), col("cand_emb"))
    val scored = c.join(broadcast(p), col("anchor_id") =!= col("neg_id"))
      .withColumn("sim", round(dot(col("anchor_emb"), col("cand_emb")), 6))
      .filter(col("sim") >= simLo && col("sim") < simHi)
    topKPerGroup(scored, "anchor_id", "neg_id", k)
  }

  /** Contrastive training triples (anchor, positive, negatives) in ONE
    * corpus scan — the full data-prep composition [[hardNegatives]]
    * feeds: per anchor, the positive is the global top-1 neighbor when
    * its sim ≥ `posMin` (anchors without one emit no triples), and the
    * negatives are the top-`nNeg` inside `[negLo, negHi)`. `negHi ≤
    * posMin` is required so a positive can never double as a negative.
    *
    * Plan shape: anchors broadcast over one corpus scan; the map-side
    * `sim ≥ negLo` cut drops the easy-negative mass BEFORE the shuffle
    * (legal because every output row — positive or negative — scores
    * above negLo by definition), then ONE anchor-keyed exchange carries
    * both rankings as two Window ops over the same partitioning. The
    * naive compose (bruteForceTopK + hardNegatives) scans the corpus
    * twice; this runs it once.
    * Output: (anchor_id, pos_id, pos_sim, rk, neg_id, neg_sim).
    */
  def contrastiveTriples(anchors: DataFrame, corpus: DataFrame,
                         posMin: Double, negLo: Double, negHi: Double,
                         nNeg: Int): DataFrame = {
    require(negLo < negHi, s"empty negative band [$negLo, $negHi)")
    require(negHi <= posMin,
      s"negHi=$negHi must be <= posMin=$posMin or a positive could be " +
        "mined as a negative")
    val p = withUnitVec(anchors, "embedding", "anchor_emb")
      .select(col("vec_id").as("anchor_id"), col("anchor_emb"))
    val c = withUnitVec(corpus, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"))
    val scored = c.join(broadcast(p), col("anchor_id") =!= col("cand_id"))
      .withColumn("sim", round(dot(col("anchor_emb"), col("cand_emb")), 6))
    triplesFromScored(scored, posMin, negLo, negHi, nNeg)
  }

  /** The triple-derivation tail shared by [[contrastiveTriples]] (exact
    * full-scan scoring) and [[contrastiveTriplesFromStore]] (IVF-PQ
    * over-fetch): from (anchor_id, cand_id, sim) rows, the per-anchor
    * positive and band negatives in ONE anchor-keyed exchange. The
    * `sim ≥ negLo` cut lives here and Catalyst pushes it below the
    * window to the map side of whichever scoring plan feeds it; the
    * positive rides every row as a window value (first of the sim-desc
    * prefix = the top-1) instead of a separate pos-branch + join: a
    * split lineage would prune the unused window from each branch,
    * break subtree identity, and re-scan the input — the q113/q116
    * exchange-reuse lesson. Single lineage: one scoring pass, one
    * anchor-keyed exchange, two Window ops over it.
    */
  private def triplesFromScored(scored: DataFrame, posMin: Double,
      negLo: Double, negHi: Double, nNeg: Int): DataFrame = {
    val surv = scored.filter(col("sim") >= negLo)
      .select(col("anchor_id"), col("cand_id"), col("sim"))
    val inBand = col("sim") < negHi // all survivors are already >= negLo
    val w = Window.partitionBy(col("anchor_id"))
    val wAll = w.orderBy(col("sim").desc, col("cand_id"))
    val ranked = surv
      .withColumn("band_rk", row_number().over(
        w.orderBy(inBand.desc, col("sim").desc, col("cand_id"))))
      .withColumn("pos_id", first(col("cand_id")).over(wAll))
      .withColumn("pos_sim", first(col("sim")).over(wAll))
    ranked
      .filter(inBand && col("band_rk") <= nNeg && col("pos_sim") >= posMin)
      .select(col("anchor_id"), col("pos_id"), col("pos_sim"),
        col("band_rk").as("rk"), col("cand_id").as("neg_id"),
        col("sim").as("neg_sim"))
  }

  /** Per-group top-k tail shared by every ANN variant: rank by similarity
    * descending with the neighbor id as the deterministic tiebreaker,
    * keep k. ONE definition so rank/tie semantics cannot drift between
    * variants (they are compared against each other for recall); Spark
    * pushes k into the sort as WindowGroupLimit (plan-asserted in
    * QueryPlanSpec).
    */
  private def topKPerGroup(scored: DataFrame, groupCol: String,
                           idCol: String, k: Int): DataFrame =
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("sim").desc, col(idCol))))
      .filter(col("rk") <= k)
      .select(col(groupCol), col("rk"), col(idCol), col("sim"))

  /** One selected row of [[mmrRerank]]'s greedy walk. */
  case class MmrPick(probe_id: Long, cand_id: Long, mmr_score: Double,
                     mmr_rank: Int)

  /** [[MmrPick]] with its λ — the [[mmrRerankPoolSweep]] row; the
    * single-λ form drops the leading column.
    */
  case class MmrPickL(lambda: Double, probe_id: Long, cand_id: Long,
                      mmr_score: Double, mmr_rank: Int)

  /** The (candidate, relevance, unit-vector) rows [[mmrRerank]] groups
    * per probe; `u` is null for a pool id missing from the candidates
    * table or a zero-norm embedding (the walk raises NAMED on either
    * when the pool has ≥ 2 candidates — a singleton pool never needs a
    * pairwise similarity).
    */
  case class MmrCand(probe_id: Long, cand_id: Long, rel: Double,
                     u: Array[Double])

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    * "The Use of MMR, Diversity-Based Reranking for Reordering Documents
    * and Producing Summaries", SIGIR): from each probe's exact cosine
    * top-`poolK` pool, greedily select `k` results maximizing
    *
    *   λ·rel(d) − (1−λ)·max_{s ∈ selected} sim(d, s)
    *
    * — the standard diversity re-ranker a RAG serving layer runs so the
    * k results aren't k paraphrases of the same document. The first pick
    * is the pure-relevance argmax (the max term over an empty selection
    * is 0).
    *
    * Plan shape at 100 TB: the pool is top-k-bounded per probe (`poolK`
    * ≤ 1024 enforced — the m² pairwise stage and the per-group greedy
    * walk are both pool-sized, never corpus-sized), pairwise sims are
    * computed DISTRIBUTEDLY by the same unit-vec dot kernel the pool
    * ranking uses, and the greedy walk runs per probe inside
    * `flatMapGroups` — imperative by nature (each pick depends on all
    * prior picks), bounded by contract, exactly the mapGroups niche.
    *
    * Cross-engine determinism: rel and psim are rounded at 6 BEFORE the
    * walk, λ and 1−λ are exact binary for the default 0.5, candidates
    * are scanned in ascending id with strict-> improvement (score ties
    * break to the smaller id), and `mmr_score` is rounded at 6 only for
    * OUTPUT — decisions use the unrounded value on both engines. Pass a
    * λ that is exact in binary (0.5, 0.25, 0.75) if an external system
    * must reproduce the walk bitwise.
    *
    * Returns (probe_id, cand_id, mmr_score, mmr_rank) with mmr_rank
    * 1..≤k per probe in selection order.
    */
  def mmrRerank(probes: DataFrame, candidates: DataFrame, poolK: Int,
                k: Int, lambda: Double = 0.5): DataFrame = {
    require(poolK >= k, s"mmrRerank: poolK=$poolK must be >= k=$k")
    require(poolK <= 1024,
      s"mmrRerank: poolK=$poolK exceeds 1024 — the pairwise stage is " +
        "O(poolK²) per probe; a bigger pool is a ranking, not a " +
        "re-ranking")
    mmrRerankPool(
      bruteForceTopK(probes, candidates, poolK)
        .select(col("probe_id"), col("cand_id"), col("sim").as("rel")),
      candidates, k, lambda)
  }

  /** [[mmrRerank]] over an EXPLICIT candidate pool — the serving form:
    * the pool is whatever ranking the caller already paid for (the
    * store-served IVF-PQ shortlist being the production case, q167),
    * as (probe_id, cand_id, rel) rows with `rel` rounded at 6. The
    * per-probe pool must be top-k-bounded by construction; the walk
    * enforces the 1024 cap per probe loudly rather than silently
    * holding a corpus-sized group in one task.
    */
  def mmrRerankPool(pool: DataFrame, candidates: DataFrame, k: Int,
                    lambda: Double = 0.5): DataFrame =
    mmrRerankPoolSweep(pool, candidates, k, Seq(lambda)).drop("lambda")

  /** [[mmrRerankPool]] swept over SEVERAL λ values in one pass — the
    * tuning form (q182): the pool join, the pairwise-similarity
    * expansion, and the per-probe group build are paid ONCE, and each
    * probe's greedy walk re-runs per λ over the same in-memory rel/sim
    * maps (the walk is microseconds; the pairwise stage is the cost).
    * Output adds a leading `lambda` column; per-λ slices are
    * bit-identical to separate [[mmrRerankPool]] calls at that λ.
    */
  def mmrRerankPoolSweep(pool: DataFrame, candidates: DataFrame, k: Int,
                         lambdas: Seq[Double]): DataFrame = {
    require(k > 0, "mmrRerank: k must be positive")
    require(lambdas.nonEmpty, "mmrRerank: no lambdas")
    lambdas.foreach(lambda => require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrRerank: lambda=$lambda must be in [0, 1]"))
    val spark = candidates.sparkSession
    import spark.implicits._
    val cu = withUnitVec(candidates, "embedding", "__u")
      .select(col("vec_id"), col("__u"))
    // LEFT join: a pool id missing from the candidates table must not
    // silently shrink the pool (its NULL unit vec surfaces as an
    // undefined pairwise sim, which the walk turns into a NAMED error
    // below). The pool lineage is referenced exactly ONCE — the m²
    // pairwise similarities are computed INSIDE the per-probe group
    // from the m carried unit vectors (m ≤ 1024 by contract), with the
    // identical fold order and HALF_UP-at-6 rounding as the codegen'd
    // round(dot(...), 6) the r19 self-join form used. That removes the
    // pairwise self-join, the triple read of the pool lineage, and the
    // localCheckpoint barrier it needed (VERDICT r19: the barrier taxed
    // single-λ small-pool callers like q164), and shuffles m rows per
    // probe instead of the m(m−1) pair expansion.
    val pv = pool.join(cu, col("cand_id") === col("vec_id"), "left")
      .select(col("probe_id"), col("cand_id"), col("rel"), col("__u").as("u"))
      .as[MmrCand]
    pv.groupByKey(_.probe_id).flatMapGroups { (pid, it) =>
      val rs = it.toArray
      require(rs.length <= 1024,
        s"mmrRerankPool: probe $pid's pool has ${rs.length} candidates; " +
          "the walk caps the pool at 1024 candidates per probe — pass " +
          "a top-k-bounded ranking, not a corpus")
      val rel = scala.collection.mutable.LongMap.empty[Double]
      val uv = scala.collection.mutable.LongMap.empty[Array[Double]]
      rs.foreach { r =>
        rel(r.cand_id) = r.rel
        uv(r.cand_id) = r.u
      }
      val ids = rel.keys.toArray.sorted
      // pairwise sims over the bounded pool, replicating the codegen
      // kernel bit-for-bit: DotProduct's ascending-index fold over the
      // min length, then Round(HALF_UP, 6)'s BigDecimal.valueOf path
      // (NaN/Inf pass through untouched, like RoundBase).
      def round6(x: Double): Double =
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
        else java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
      var ai = 0
      while (ai < ids.length) {
        var bi = ai + 1
        while (bi < ids.length) {
          val a = ids(ai); val b = ids(bi)
          val ua = uv(a); val ub = uv(b)
          // an absent unit vector means the walk cannot compare the two
          // candidates: zero-norm embedding (cosine undefined) or a pool
          // id absent from the candidates table — both are upstream data
          // defects; fail NAMED instead of mis-ranking
          if (ua == null || ub == null)
            throw new IllegalArgumentException(
              s"mmrRerankPool: probe $pid has an undefined pairwise " +
                s"similarity between candidates $a and $b — " +
                "zero-norm or missing embedding; filter zero vectors " +
                "and reconcile the pool against the candidates table")
          val n = math.min(ua.length, ub.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += ua(i) * ub(i); i += 1 }
          val p = round6(s)
          sim((a, b)) = p
          sim((b, a)) = p
          bi += 1
        }
        ai += 1
      }
      lambdas.iterator.flatMap { lambda =>
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val chosen = scala.collection.mutable.HashSet.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPickL]
        while (selected.size < k && selected.size < ids.length) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          ids.foreach { id =>
            if (!chosen(id)) {
              var mx = 0.0
              if (selected.nonEmpty) {
                mx = Double.NegativeInfinity
                selected.foreach { s =>
                  val v = sim.getOrElse((id, s), 0.0)
                  if (v > mx) mx = v
                }
              }
              val score = lambda * rel(id) - (1 - lambda) * mx
              if (score > bestScore) { bestScore = score; bestId = id }
            }
          }
          selected += bestId
          chosen += bestId
          out += MmrPickL(lambda, pid, bestId,
            BigDecimal(bestScore)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            selected.size)
        }
        out.iterator
      }
    }.toDF()
  }

  /** Exact near-duplicate pairs *within blocks*: candidate pairs only form
    * inside a blocking key (here the label; in production a coarse quantizer
    * / IVF cell id). Within a block the scan is exact, so — unlike LSH —
    * recall inside a block is 1.0. The self-join shuffles both sides on the
    * block key once; block sizes bound the quadratic term, so the cost is
    * sum(|block|²), not |table|².
    */
  def blockedNearDupPairs(vecs: DataFrame, blockCol: String, minSim: Double): DataFrame = {
    val unit = withUnitVec(vecs, "embedding", "emb_n")
    val a = unit.select(col(blockCol).as("blk"), col("vec_id").as("id_a"),
      col("emb_n").as("emb_a"))
    val b = unit.select(col(blockCol).as("blk"), col("vec_id").as("id_b"),
      col("emb_n").as("emb_b"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(dot(col("emb_a"), col("emb_b")), 6))
      .filter(col("sim") >= minSim)
      .select(col("blk"), col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding dimensionality, read from one row (a LIMIT-1 scan — the one
    * acceptable driver fetch here; every per-element expression below is
    * unrolled over the dimension at plan time, so it must be known before
    * the plan is built).
    */
  def inferDim(df: DataFrame, embCol: String): Int = {
    // filter nulls BEFORE the limit: a null vector in the first-scanned
    // file would otherwise fail the probe even when every other row holds
    // a valid embedding (null embeddings are expected input — fitCentroids
    // drops them, withUnitVec nulls them through)
    val row = df.filter(col(embCol).isNotNull)
      .select(size(col(embCol))).limit(1).collect()
    require(row.nonEmpty,
      s"inferDim: no non-null '$embCol' vector to read the dimension from")
    row.head.getInt(0)
  }

  /** Spherical k-means (Lloyd's) coarse quantizer, expressed as repeated
    * DataFrame passes — the index-build step of [[ivfTopK]], usable on any
    * unlabeled corpus:
    *   - vectors are unit-normalized once, so "nearest centroid by cosine"
    *     is an argmax of dot products;
    *   - assignment is MAP-ONLY: nCells native dot products against literal
    *     centroid arrays, argmax via greatest+when — no explode, no join,
    *     fully codegen'd;
    *   - update is a partial aggregate (per-dim sums + count per cell):
    *     map-side combine leaves nCells rows to collect; only
    *     nCells × dim doubles ever reach the driver per iteration (the same
    *     driver-resident-centroid shape Spark ML's KMeans uses).
    *   - init = the nCells vectors with the smallest xxhash64 —
    *     deterministic across runs/retries, no RNG in the data path.
    * At 100 TB: fit on a hash-sample (`sampleOneIn`) — centroid quality
    * needs ~1000 points per cell, not the corpus — then assign the full
    * data in the single map-only pass. Empty cells keep their previous
    * centroid.
    */
  def fitCentroids(vecs: DataFrame, embCol: String, nCells: Int,
                   maxIters: Int = 3, sampleOneIn: Int = 1): Array[Array[Double]] = {
    // null / zero-norm embeddings normalize to null — drop them before
    // clustering (a null v would otherwise produce a null cell group that
    // NPEs the driver-side collect)
    val unitAll = vecs.select(VectorFunctions.normalize(col(embCol)).as("v"))
      .filter(col("v").isNotNull)
    val unit = (if (sampleOneIn > 1)
        unitAll.filter(pmod(xxhash64(col("v")), lit(sampleOneIn)) === 0)
      else unitAll).cache()
    try {
      var cents = unit.withColumn("h", xxhash64(col("v")))
        .orderBy(col("h")).limit(nCells) // TakeOrderedAndProject, no full sort
        .collect().map(_.getSeq[Double](0).toArray)
      require(cents.nonEmpty, "fitCentroids: no input vectors")
      val dim = cents.head.length // free — saves the separate LIMIT-1 job
      for (_ <- 0 until maxIters) {
        val sums = unit.groupBy(cellOf(col("v"), cents).as("cell"))
          .agg(count(lit(1)).as("n"),
            array((0 until dim).map(i =>
              sum(element_at(col("v"), i + 1))): _*).as("sums"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](2)))
          .toMap
        cents = cents.zipWithIndex.map { case (old, i) =>
          sums.get(i).fold(old) { case (n, s) =>
            val mean = s.map(_ / n).toArray
            val nrm = math.sqrt(mean.map(x => x * x).sum)
            if (nrm == 0) old else mean.map(_ / nrm)
          }
        }
      }
      cents
    } finally unit.unpersist()
  }

  /** Nearest-centroid id (argmax of dot products, ties to the lowest cell
    * id; null vector/element → null cell) — the fused
    * [[org.apache.spark.sql.graft.NearestCell]] kernel. The
    * greatest+coalesce(when(dot===greatest)) tree it replaces re-inlined
    * every dot loop per branch (no CSE across when conditions), blowing
    * the generated method past the JIT limit as soon as the expression
    * landed in a join stage — the scoring join ran INTERPRETED, 29× slower
    * (measured: 11.6 s → 0.4 s on the 10× IVF scoring join).
    */
  def cellOf(embUnit: Column, centroids: Array[Array[Double]]): Column =
    VectorFunctions.nearestCell(embUnit, centroids.map(_.toSeq).toSeq)

  /** Embedding-distribution drift between two corpus snapshots — the
    * monitoring companion to [[graft.ext.ProfileOps.snapshotDiff]]
    * (content-level) for the embedding side of a streaming/ingest
    * pipeline: "did the new batch shift where the corpus lives in
    * embedding space?" Each side is assigned its IVF cell with the fused
    * [[cellOf]] kernel (map-only) and collapsed to per-cell
    * (count, Σ cos-to-centroid) — a partial aggregate whose output is
    * nCells rows, so the report costs one scan per side plus a
    * metadata-scale full-outer join, no matter the corpus size. Per cell:
    * counts and corpus shares on both sides, the share delta, and the
    * per-side cohesion SUM with its count (sums+counts, not an avg — the
    * DIALECT.md engine-parity discipline; the caller divides). A cell
    * NULL on one side was born or died between the snapshots — the
    * headline drift signal; share deltas treat it as share 0. Cohesion
    * rounds at 4 (the log-prob-sum precedent): cross-partition double
    * sums carry ~1e-12 fold-order jitter, far inside the 5e-5 boundary.
    */
  def embeddingDriftReport(before: DataFrame, after: DataFrame,
                           embCol: String,
                           cents: Array[Array[Double]]): DataFrame = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    def side(df: DataFrame, tag: String): DataFrame =
      withUnitVec(df, embCol, "__u")
        .withColumn("cell", cellOf(col("__u"), cents))
        .filter(col("cell").isNotNull) // null/empty vectors have no cell
        .withColumn("__d", VectorFunctions.dotProduct(col("__u"),
          element_at(centsLit, col("cell") + 1)))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as(s"n_$tag"),
          round(sum(col("__d")), 4).as(s"coh_$tag"))
    val joined = side(before, "before")
      .join(side(after, "after"), Seq("cell"), "full_outer")
    // totals via a window over the nCells-row join result (metadata-scale
    // by construction; an unpartitioned window over ≤ nCells rows, never
    // over the corpus). Shares divide by the side total in ONE IEEE op so
    // any engine re-deriving them lands on the identical double.
    val w = Window.partitionBy(lit(1))
    val totB = sum(col("n_before")).over(w)
    val totA = sum(col("n_after")).over(w)
    joined
      .withColumn("share_before", round(col("n_before") / totB, 6))
      .withColumn("share_after", round(col("n_after") / totA, 6))
      .withColumn("share_delta", round(
        coalesce(col("n_after") / totA, lit(0.0)) -
          coalesce(col("n_before") / totB, lit(0.0)), 6))
      .select(col("cell"), col("n_before"), col("n_after"),
        col("share_before"), col("share_after"), col("share_delta"),
        col("coh_before"), col("coh_after"))
  }

  /** Random-hyperplane LSH ANN (the bucketed alternative to [[ivfTopK]]):
    * signature bit i = sign(dot(v, plane_i)) over nBands×bitsPerBand fixed
    * Gaussian hyperplanes (deterministic seed — signatures are
    * reproducible across runs and retries); candidates must agree with the
    * probe on ALL bits of at least one band. Each band join shuffles on a
    * uniform (band_idx, band_val) key; only band-collision pairs pay the
    * exact dot product. P[bit agrees] = 1 − θ/π, so near vectors collide
    * on some band with high probability while the bucket sizes stay
    * |V| / 2^bitsPerBand per band — the knob that bounds the quadratic
    * term at 100 TB. Probe side broadcasts (probe sets are small);
    * candidate signatures are computed in one codegen'd map pass.
    */
  /** The fixed Gaussian hyperplanes for a given (bands, bits, dim, seed) —
    * shared by [[hyperplaneLshTopK]] and the q52 oracle generator, which
    * embeds the SAME constants as SQL literals (Double.toString round-trips
    * exactly through DuckDB's decimal parser).
    */
  def lshPlanes(nBands: Int, bitsPerBand: Int, dim: Int,
                seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBands * bitsPerBand)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit band values against literal planes — the fused native
    * [[org.apache.spark.sql.graft.BandSignatures]] kernel (array<int>,
    * index = band). Bits are computed on the UNIT vector (sign(dot) is
    * norm-invariant). The per-bit `when(dot > 0, …)` expression tree this
    * replaces blew past the JVM's huge-method JIT limit at 8×8 banding,
    * de-compiling the whole stage (measured in SCALING.md).
    */
  private def lshBandsOf(embD: Column, planes: Array[Array[Double]],
                         bitsPerBand: Int): Column =
    VectorFunctions.bandSignatures(embD,
      planes.map(_.toSeq).toSeq, bitsPerBand)

  /** bitsPerBand that keeps the expected LSH bucket size near
    * `targetBucket` as the corpus grows: 2^bits buckets per band →
    * E[|bucket|] = n / 2^bits. This is THE scale knob for
    * [[lshNearDupPairs]] / [[knnGraph]]: with bits fixed, each band's
    * self-join does Σ(bucket²) ≈ n²/2^bits work — quadratic in n — while
    * re-sizing bits to log2(n/target) holds bucket sizes (and so per-row
    * join work) constant, keeping total work ~linear. The cost is per-band
    * recall ((1−θ/π)^bits per band); hold recall by raising nBands when it
    * matters. Measured empirically in SCALING.md (1× vs 10× corpus).
    */
  def bitsForScale(n: Long, targetBucket: Int = 125): Int =
    math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)

  def hyperplaneLshTopK(probes: DataFrame, candidates: DataFrame, k: Int,
                        nBands: Int = 8, bitsPerBand: Int = 4,
                        seed: Long = 42L): DataFrame = {
    // Planes are built driver-side per call: nBands×bitsPerBand×dim doubles
    // (32 planes by default) — fine up to a few hundred planes; beyond
    // that, ship them as a broadcast literal table instead.
    val dim = inferDim(candidates, "embedding")
    val planes = lshPlanes(nBands, bitsPerBand, dim, seed)
    def bandsOf(embD: Column): Column = lshBandsOf(embD, planes, bitsPerBand)
    val c = withUnitVec(candidates, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"),
        posexplode(bandsOf(col("cand_emb"))).as(Seq("band_idx", "band_val")))
      .select(col("band_idx"), col("band_val"), col("cand_id"), col("cand_emb"))
    val p = withUnitVec(probes, "embedding", "probe_emb")
      .select(col("vec_id").as("probe_id"), col("probe_emb"),
        posexplode(bandsOf(col("probe_emb"))).as(Seq("band_idx", "band_val")))
      .select(col("band_idx"), col("band_val"), col("probe_id"), col("probe_emb"))
    val scored = c.join(broadcast(p), Seq("band_idx", "band_val"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("probe_emb"), col("cand_emb")), 6).as("sim"))
      .distinct() // a pair may collide on several bands
    topKPerGroup(scored, "probe_id", "cand_id", k)
  }

  /** (band_idx, band_val, vec_id, u) rows: each vector exploded into its
    * nBands sign-bit buckets over the seed-derived planes — the shared
    * front half of [[lshNearDupPairs]] and [[knnGraph]]. `dim` < 1 infers
    * from the input; callers composing over a derived/pruned DataFrame
    * pass the base table's dim so the head() probe does not execute the
    * whole upstream chain.
    */
  private def bandedVectors(vecs: DataFrame, nBands: Int, bitsPerBand: Int,
                            seed: Long, dim: Int): DataFrame = {
    val d = if (dim > 0) dim else inferDim(vecs, "embedding")
    val planes = lshPlanes(nBands, bitsPerBand, d, seed)
    withUnitVec(vecs, "embedding", "u")
      .select(col("vec_id"), col("u"),
        posexplode(lshBandsOf(col("u"), planes, bitsPerBand))
          .as(Seq("band_idx", "band_val")))
      .select(col("band_idx"), col("band_val"), col("vec_id"), col("u"))
  }

  /** Label-free embedding near-dup pairs: LSH band buckets replace
    * [[blockedNearDupPairs]]'s blocking column, so the operator runs on any
    * corpus. Each vector lands in nBands buckets of expected size
    * |V| / 2^bitsPerBand; the self-join shuffles on the uniform
    * (band_idx, band_val) key and only bucket-mates pay the exact native
    * dot product — sum(bucket²) work, never |V|². High-cosine pairs agree
    * on some band with probability (1-θ/π)^bits per band, so recall is
    * tunable via nBands (more bands = more recall, more candidate volume).
    * Pairs surface once (distinct over multi-band collisions). Scores
    * per collision, unlike [[knnGraph]]: the `sim >= minSim` filter runs
    * before the distinct, so only the few surviving pairs shuffle (the
    * score-once form measured 0.45× at 10× here, SCALING.md "r9 (second
    * pass)").
    */
  def lshNearDupPairs(vecs: DataFrame, minSim: Double,
                      nBands: Int = 8, bitsPerBand: Int = 4,
                      seed: Long = 42L, dim: Int = -1): DataFrame = {
    val banded = bandedVectors(vecs, nBands, bitsPerBand, seed, dim)
    val a = banded.select(col("band_idx"), col("band_val"),
      col("vec_id").as("id_a"), col("u").as("u_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col("vec_id").as("id_b"), col("u").as("u_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.dotProduct(col("u_a"), col("u_b")), 6).as("sim"))
      .filter(col("sim") >= minSim)
      .distinct()
  }

  /** The score-once back half of [[knnGraph]]: id-only band collision
    * join → distinct (id_a < id_b) pairs → unit vectors joined back once
    * per side → one dot per pair.
    */
  private def scoreOncePairs(vecs: DataFrame, nBands: Int, bitsPerBand: Int,
                             seed: Long): DataFrame = {
    val ids = bandedVectors(vecs, nBands, bitsPerBand, seed, dim = -1)
      .select(col("band_idx"), col("band_val"), col("vec_id"))
    val pairs = ids
      .join(ids.select(col("band_idx"), col("band_val"),
        col("vec_id").as("id_b")), Seq("band_idx", "band_val"))
      .filter(col("vec_id") < col("id_b"))
      .select(col("vec_id").as("id_a"), col("id_b"))
      .distinct()
    val unit = withUnitVec(vecs, "embedding", "u")
      .select(col("vec_id"), col("u"))
    pairs
      .join(unit.select(col("vec_id").as("id_a"), col("u").as("u_a")),
        Seq("id_a"))
      .join(unit.select(col("vec_id").as("id_b"), col("u").as("u_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.dotProduct(col("u_a"), col("u_b")), 6).as("sim"))
  }

  /** IVF ANN over an UNLABELED corpus: (1) [[fitCentroids]] learns nCells
    * spherical-k-means centroids (the coarse quantizer FAISS IVF trains);
    * (2) each probe picks its `nprobe` nearest centroids — a map-side
    * posexplode of the literal centroid array, |probes|×nCells rows, no
    * join; (3) exact native-dot search only inside those cells, candidates
    * reaching them through one broadcast hash join on cell id. The
    * expensive exact scan touches ~nprobe/nCells of the data; candidate
    * cell assignment is the same single map-only argmax pass used during
    * fitting.
    */
  /** k-NN graph over the whole corpus: every vector's top-k most similar
    * neighbors among its LSH bucket-mates — the build step for graph-based
    * ANN indexes and for density/novelty scoring. Same banded sign-bit
    * buckets as [[lshNearDupPairs]], but DIRECTED candidates (src ≠ dst,
    * both orientations) and a per-source rank instead of a global
    * threshold. Ties break on (sim desc, dst) over the 6-decimal-rounded
    * similarity, so the ranking is engine-reproducible. At 100 TB the
    * work is Σ(bucket²) like every bucketed self-join here, and the
    * per-source top-k is a WindowGroupLimit, not a global sort.
    *
    * Default form is SCORE-ONCE (SCALING.md "r9 (second pass)", measured
    * interleaved in one JVM: 2.45× at 1×, 1.51× at 10× over the
    * per-collision form): the band join
    * shuffles ids only, the UNDIRECTED pair set de-duplicates before any
    * dot is computed, unit vectors join back once per side, then both
    * orientations are restored for the top-k. knnGraph has no
    * pre-distinct filter to exploit — every bucket-mate's sim is ranking
    * input — so paying the two narrow join shuffles beats scoring per
    * collision and shuffling scored duplicates into distinct.
    * [[lshNearDupPairs]] scores per collision for the mirrored reason.
    */
  def knnGraph(vecs: DataFrame, k: Int, nBands: Int = 8,
               bitsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    val p = scoreOncePairs(vecs, nBands, bitsPerBand, seed)
    // both orientations via ONE explode over the scored pairs, not a
    // union of two selects: a self-union references the band-join +
    // distinct + score lineage twice, and only the exchanges runtime
    // reuse shares between the copies run once; the explode needs no
    // reuse at all. Same row multiset — the per-source top-k downstream
    // is order-free.
    val both = p.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("sim")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("sim"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
        col("__e.sim").as("sim"))
    topKPerGroup(both, "src", "dst", k)
  }

  /** Fit-then-query in one call. `sampleOneIn` is the 100 TB fit knob: the
    * Lloyd iterations run on a 1-in-N hash-sample (centroid quality needs
    * ~1000 points per cell, not the corpus), while the assignment +
    * pruned-scan query phase still sees every candidate. Callers scale N
    * with corpus size (e.g. nVecs / (1000 × nCells)) so the fit cost stays
    * constant as the data grows — measured in SCALING.md
    * (`q31_ann_ivf_refit_sampled`).
    */
  def ivfTopK(probes: DataFrame, candidates: DataFrame, k: Int, nprobe: Int,
              nCells: Int = 16, maxIters: Int = 3,
              sampleOneIn: Int = 1): DataFrame =
    ivfTopKWithCentroids(probes, candidates,
      fitCentroids(candidates, "embedding", nCells, maxIters, sampleOneIn),
      k, nprobe)

  /** Centroid persistence — the index lifecycle: [[fitCentroids]] once
    * (an index BUILD, typically on a sample), save, then every query run
    * loads k×dim doubles and pays only the map-only assignment + pruned
    * scan. Stored as one parquet row per cell so the index is inspectable
    * with any reader.
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Double]] =
    spark.read.parquet(path).orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)

  /** The shared IVF front half: each probe's nprobe nearest centroids by
    * ranked dot product, carrying the probe's unit vector.
    */
  private def probeCellsOf(probes: DataFrame, cents: Array[Array[Double]],
                           nprobe: Int): DataFrame =
    probeCellsRanked(probes, cents, nprobe)
      .select(col("probe_id"), col("probe_unit"), col("cell"))

  /** [[probeCellsOf]] keeping the cell rank `crk` — the sweep variants
    * score ONCE at the widest nprobe and re-slice by rank per sweep
    * point instead of re-ranking cells per point.
    */
  private def probeCellsRanked(probes: DataFrame,
                               cents: Array[Array[Double]],
                               nprobe: Int): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    withUnitVec(probes, "embedding", "probe_unit")
      .select(col("vec_id").as("probe_id"), col("probe_unit"))
      .select(col("probe_id"), col("probe_unit"),
        posexplode(centLit).as(Seq("cell", "centroid")))
      .withColumn("csim", VectorFunctions.dotProduct(col("probe_unit"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("csim").desc, col("cell"))))
      .filter(col("crk") <= nprobe)
      .select(col("probe_id"), col("probe_unit"), col("cell"), col("crk"))
  }

  /** [[ivfTopK]] with a prebuilt quantizer (from [[fitCentroids]] or
    * [[loadCentroids]]) — the steady-state query path: zero fit jobs,
    * single-stage exact scoring. The r9 controlled A/B (SCALING.md "r9:
    * the IVF scoring join was running interpreted") kept this
    * form as the default over the two-stage int8 variant below: once the
    * cell-assignment kernel was fused ([[cellOf]]), the exact scoring
    * join compiles and the measured bottleneck vanished (13.9 s → 0.35 s
    * on the 10× corpus); the int8 coarse pass saved less than its extra
    * window + second scan cost at every probe volume measured.
    */
  def ivfTopKWithCentroids(probes: DataFrame, candidates: DataFrame,
                           cents: Array[Array[Double]], k: Int,
                           nprobe: Int): DataFrame = {
    val probeCells = probeCellsOf(probes, cents, nprobe)
    val cands = withUnitVec(candidates, "embedding", "cand_emb")
      .select(cellOf(col("cand_emb"), cents).as("cell"),
        col("vec_id").as("cand_id"), col("cand_emb"))
    val scored = cands.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(dot(col("probe_unit"), col("cand_emb")), 6))
    topKPerGroup(scored, "probe_id", "cand_id", k)
  }

  /** TWO-STAGE int8 scoring variant of [[ivfTopKWithCentroids]] — same
    * output, PROVABLY, on any input:
    *
    *  1. Every cell-collision pair scores on int8-quantized unit vectors
    *     (fixed scale 127, [[VectorFunctions.int8UnitQuantize]]): integer
    *     multiply-adds over 1/8th the bytes.
    *  2. Only SURVIVORS re-score exactly (double dot) in a map-only
    *     second candidate pass (both join sides broadcast), then rank.
    *
    * Survivors are not a fixed top-k′: the int8 dot error is bounded —
    * |q_a·q_b − 127²·(a·b)| ≤ 127·(‖a‖₁+‖b‖₁)/2 + n/4 ≤ 127·√n + n/4
    * for unit vectors — and every pair within TWICE that bound of the
    * per-probe k-th coarse score is kept: any true top-k member x has
    * coarse(x) ≥ kth_coarse − 2E (its exact score ≥ some coarse-top-k
    * member's; each conversion costs ≤ E), so it survives and the exact
    * stage reproduces the single-stage result bit-identically, boundary
    * ties included. Clustered scores degrade gracefully toward scoring
    * everything exactly, never toward a different answer.
    *
    * When to use it: the coarse pass trades an extra window pass and a
    * second (map-only) candidate scan for 8× less pairwise memory
    * traffic. At dim 64 on the local A/B it LOSES (0.35 s vs 0.76 s at
    * 600k pairs; 2.2 s vs 3.6 s at 12M — SCALING.md r9), so the default
    * path stays single-stage; it pays where the scoring join is genuinely
    * bandwidth-bound — high dim (≥ 512), pairs ≫ corpus — which is a
    * deployment-time measurement, not a guess this library should bake in.
    */
  def ivfTopKWithCentroidsInt8(probes: DataFrame, candidates: DataFrame,
                               cents: Array[Array[Double]], k: Int,
                               nprobe: Int): DataFrame = {
    val dim = cents.head.length
    // 2E with +1 slack for the fp evaluation of the bound itself
    val margin = 2L * (127.0 * math.sqrt(dim) + dim / 4.0 + 1.0).ceil.toLong

    val probeCells = probeCellsOf(probes, cents, nprobe)
      .select(col("probe_id"),
        VectorFunctions.int8UnitQuantize(col("probe_unit")).as("probe_q"),
        col("cell"))
    val cands = withUnitVec(candidates, "embedding", "cand_emb")
      .select(cellOf(col("cand_emb"), cents).as("cell"),
        col("vec_id").as("cand_id"),
        VectorFunctions.int8UnitQuantize(col("cand_emb")).as("cand_q"))
    val coarse = cands.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        VectorFunctions.int8Dot(col("probe_q"), col("cand_q")).as("isim"))
    val wSorted = Window.partitionBy(col("probe_id"))
      .orderBy(col("isim").desc, col("cand_id"))
    val wAll = Window.partitionBy(col("probe_id"))
    val survivors = coarse
      .withColumn("rk", row_number().over(wSorted))
      .withColumn("kth", max(when(col("rk") === k, col("isim"))).over(wAll))
      // kth null ⇒ fewer than k candidates ⇒ keep all
      .filter(col("kth").isNull || col("isim") >= col("kth") - lit(margin))
      .select(col("probe_id"), col("cand_id"))

    // exact re-rank: survivors and probe vectors are |probes|·O(k)-sized,
    // so both joins broadcast — a map-only second pass over the
    // candidate table, no shuffle of the big side
    val candVecs = withUnitVec(candidates, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"))
    val probeVecs = withUnitVec(probes, "embedding", "probe_unit")
      .select(col("vec_id").as("probe_id"), col("probe_unit"))
    val exact = candVecs.join(broadcast(survivors), Seq("cand_id"))
      .join(broadcast(probeVecs), Seq("probe_id"))
      .withColumn("sim", round(dot(col("probe_unit"), col("cand_emb")), 6))
    topKPerGroup(exact, "probe_id", "cand_id", k)
  }

  // -- Product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search", IEEE TPAMI 33(1)) --------------------

  /** Append the L2 bias coordinate to each centroid:
    * dot(s ++ [1], c ++ [-‖c‖²/2]) = dot(s, c) − ‖c‖²/2, whose argmax
    * over c is argmin ‖s − c‖² — so the existing fused
    * [[org.apache.spark.sql.graft.NearestCell]] argmax-dot kernel computes
    * L2 code assignment with no new expression. The oracle embeds these
    * SAME extended literals, so both engines run the identical operation
    * sequence (the q31 bitwise-agreement contract).
    */
  private[graft] def extendForL2(cb: Array[Array[Double]]): Array[Array[Double]] =
    cb.map(c => c :+ (-c.map(x => x * x).sum / 2))

  private def subVec(u: Column, mi: Int, dsub: Int): Column =
    slice(u, mi * dsub + 1, dsub)

  /** Subspace `mi`'s PQ code for unit vector `u`: argmin-L2 over the
    * codebook, ties → lowest code (kernel contract, mirrored by the
    * oracle's `ORDER BY …, j`).
    */
  def pqCodeOf(u: Column, mi: Int, codebook: Array[Array[Double]]): Column = {
    val dsub = codebook.head.length
    VectorFunctions.nearestCell(
      concat(subVec(u, mi, dsub), array(lit(1.0d))),
      extendForL2(codebook).map(_.toSeq).toSeq)
  }

  /** Train PQ codebooks: the unit-vector space splits into `m` contiguous
    * subspaces of dim/m coordinates; each gets an independent `k`-centroid
    * L2 k-means (assignment via the [[pqCodeOf]] kernel trick, means via
    * the same per-dimension sum aggregate [[fitCentroids]] uses — but NOT
    * re-normalized: subvectors are not unit vectors). Deterministic init:
    * the k distinct subvectors with the smallest xxhash64. Like
    * [[fitCentroids]], each iteration collects only k × dsub doubles —
    * corpus-size-independent — and the fit runs ONCE at index build
    * (typically on a sample), never at query time.
    */
  def fitPqCodebooks(vecs: DataFrame, embCol: String, m: Int = 4,
                     k: Int = 16, maxIters: Int = 3)
      : Array[Array[Array[Double]]] = {
    val dim = inferDim(vecs, embCol)
    require(m > 0 && dim % m == 0,
      s"fitPqCodebooks: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val unit = withUnitVec(vecs, embCol, "u")
      .select(col("u")).filter(col("u").isNotNull).cache()
    try {
      (0 until m).toArray.map { mi =>
        val sub = unit.select(subVec(col("u"), mi, dsub).as("s"))
        var cb = sub.dropDuplicates("s")
          .withColumn("h", xxhash64(col("s")))
          .orderBy(col("h")).limit(k) // TakeOrderedAndProject, no full sort
          .collect().map(_.getSeq[Double](0).toArray)
        require(cb.nonEmpty, s"fitPqCodebooks: no input subvectors (m=$mi)")
        for (_ <- 0 until maxIters) {
          val sums = sub.groupBy(
              VectorFunctions.nearestCell(
                concat(col("s"), array(lit(1.0d))),
                extendForL2(cb).map(_.toSeq).toSeq).as("c"))
            .agg(count(lit(1)).as("n"),
              array((0 until dsub).map(i =>
                sum(element_at(col("s"), i + 1))): _*).as("sums"))
            .collect()
            .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](2)))
            .toMap
          cb = cb.zipWithIndex.map { case (old, j) =>
            sums.get(j).fold(old) { case (n, s) => s.map(_ / n).toArray }
          }
        }
        cb
      }
    } finally { unit.unpersist(); () }
  }

  /** PQ ANN: asymmetric-distance top-k against an 8-bit-per-subspace
    * compressed corpus, with exact re-rank of a bounded shortlist.
    *
    *  1. ENCODE (map-only, m fused argmax kernels per row): each corpus
    *     vector compresses to m byte-sized codes — at m=4 that is 4 bytes
    *     of index payload per vector vs 8·dim for raw doubles (128× at
    *     dim 64), which is the operator's whole point: the scan stage of
    *     a 100 TB ANN touches the CODES, not the vectors.
    *  2. ADC scoring: sim̂(p, v) = Σ_m dot(sub_m(p), cb_m[code_m(v)]) —
    *     the probe side is exact, the corpus side is its centroid
    *     approximation (Jégou's asymmetric variant, tighter than
    *     code-vs-code). Probes broadcast; scoring is map-side over the
    *     encoded scan.
    *  3. Exact re-rank: the per-probe top k·refineFactor shortlist (ids
    *     only) broadcasts back onto the corpus scan — the int8 two-stage
    *     idiom — and true dot products decide the final k.
    *
    * Unlike the int8 path's bounded-error margin, PQ's approximation is
    * unbounded (quantization error depends on the fit), so refineFactor
    * is a recall knob, not a proof: the PqAnnSpec measures recall@k
    * against [[bruteForceTopK]] on the fixture. The scan-pruned
    * composition with IVF cells is [[ivfPqTopK]]; here the un-pruned
    * form keeps the PQ approximation measurable on its own.
    */
  def pqTopKWithCodebooks(probes: DataFrame, candidates: DataFrame,
                          cbs: Array[Array[Array[Double]]], k: Int,
                          refineFactor: Int = 4): DataFrame = {
    require(cbs.nonEmpty && k > 0 && refineFactor >= 1)
    val m = cbs.length
    val ksub = cbs(0).length
    val cands = withUnitVec(candidates, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"),
        array((0 until m).map(mi =>
          pqCodeOf(col("cand_emb"), mi, cbs(mi))): _*).as("codes"))
    val probeVecs = withUnitVec(probes, "embedding", "probe_unit")
      .select(col("vec_id").as("probe_id"), col("probe_unit"))
    // per-probe ADC tables, not per-pair slice+dot trees — see ivfPqCore
    val probeTabs = probeVecs.withColumn("adc_tab",
        VectorFunctions.adcTable(col("probe_unit"),
          cbs.map(_.map(_.toSeq).toSeq).toSeq))
      .select(col("probe_id"), col("adc_tab"))
    val coarse = cands.drop("cand_emb").crossJoin(broadcast(probeTabs))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim",
        round(VectorFunctions.adcScore(col("adc_tab"), col("codes"), ksub), 6))
    val shortlist = topKPerGroup(coarse, "probe_id", "cand_id",
        k * refineFactor)
      .select(col("probe_id"), col("cand_id"))
    val exact = withUnitVec(candidates, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"))
      .join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(probeVecs), Seq("probe_id"))
      .withColumn("sim", round(dot(col("probe_unit"), col("cand_emb")), 6))
    topKPerGroup(exact, "probe_id", "cand_id", k)
  }

  /** IVF-PQ (Jégou et al. 2011 §V, the "IVFADC" variant): the composed,
    * scan-pruned, compressed ANN index — [[ivfTopKWithCentroids]]'s coarse
    * cell pruning fused with [[pqTopKWithCodebooks]]'s asymmetric-distance
    * scoring. This is the operator a 100 TB vector corpus actually
    * deploys: the ADC pass touches only the m-byte codes of vectors in
    * the `nprobe` probed cells — neither the raw vectors NOR the whole
    * code table.
    *
    *  1. BUILD (map-only, one pass over the corpus): each vector gets its
    *     coarse cell ([[cellOf]], the fused argmax-dot kernel against the
    *     centroid literals) AND its m PQ codes ([[pqCodeOf]]) — the
    *     persisted index is (cell, id, codes), bytes per vector.
    *  2. PROBE: each probe ranks the centroid table and keeps its
    *     `nprobe` nearest cells (tiny: |probes|·nprobe rows, broadcast).
    *  3. ADC within probed cells: the cell equi-join replaces q114's
    *     full-corpus cross join, so the scored pair count drops by
    *     ~nprobe/nCells; scoring stays map-side over the encoded scan.
    *  4. Exact re-rank: the per-probe top k·refineFactor id shortlist
    *     broadcasts back onto the candidate scan, true dot products
    *     decide the final k.
    *
    * Recall composes both approximations: the IVF boundary miss (a true
    * neighbor whose cell is not probed — measured per nprobe in
    * SimilarityOpsSpec) and the PQ quantization miss inside probed cells
    * (bounded by refineFactor — measured in PqAnnSpec, operating-point
    * table in SCALING.md). At the committed fixture point (nprobe 3 of
    * 16 cells, m=16, rf=4) the composed recall@5 is pinned in PqAnnSpec.
    */
  def ivfPqTopK(probes: DataFrame, candidates: DataFrame,
                cents: Array[Array[Double]],
                cbs: Array[Array[Array[Double]]], k: Int, nprobe: Int,
                refineFactor: Int = 4): DataFrame =
    ivfPqFromIndex(encodeForAnnIndex(candidates, cents, cbs), probes,
      candidates, cents, cbs, k, nprobe, refineFactor)

  /** The shared IVF-PQ query tail: ADC over an already-encoded
    * (cand_id, codes, cell) index — be it the inline build
    * ([[ivfPqTopK]]) or the persisted [[annIndexStore]]
    * ([[ivfPqTopKFromStore]]) — then exact re-rank against the raw
    * vectors. ONE definition so "query the store" and "query the inline
    * encode" cannot drift: store faithfulness IS result identity.
    */
  private def ivfPqFromIndex(index: DataFrame, probes: DataFrame,
                             candidates: DataFrame,
                             cents: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]], k: Int,
                             nprobe: Int, refineFactor: Int): DataFrame =
    ivfPqCore(index, probes,
      withUnitVec(candidates, "embedding", "cand_emb")
        .select(col("vec_id").as("cand_id"), col("cand_emb")),
      None, cents, cbs, k, nprobe, refineFactor)

  /** The one IVF-PQ tail every variant shares: ADC over the encoded
    * index within probed cells, bounded shortlist, exact re-rank against
    * `rerank` (cand_id, cand_emb[, bucket]). `bucketOf` set means the
    * re-rank side is the id-bucketed [[vectorStore]]: the shortlist gains
    * the bucket key so the broadcast feeds dynamic partition pruning on
    * the vector store's layout — the re-rank FETCHES its k·rf·|probes|
    * rows instead of scanning the corpus.
    */
  private def ivfPqCore(index: DataFrame, probes: DataFrame,
                        rerank: DataFrame, bucketOf: Option[Column => Column],
                        cents: Array[Array[Double]],
                        cbs: Array[Array[Array[Double]]], k: Int,
                        nprobe: Int, refineFactor: Int): DataFrame = {
    require(cbs.nonEmpty && k > 0 && nprobe > 0 && refineFactor >= 1)
    val ksub = cbs(0).length
    // ADC lookup tables hoisted to the probe side (AdcTable — Jégou's
    // precomputed-distances trick): each broadcast row carries m·ksub
    // doubles (32 KB at m=16/ksub=256, amortized over the probed cell's
    // candidates), and the per-pair hot loop is AdcScore's m array
    // reads — instead of m slice+dot+literal-indexing subtrees per pair,
    // which de-JITted the join stage at m=16 (SCALING.md r13). Probe
    // batches are bounded by the broadcast either way; this multiplies
    // its width by m·ksub/dim, so chunk mining batches accordingly.
    val probeCells = probeCellsOf(probes, cents, nprobe)
      .withColumn("adc_tab", VectorFunctions.adcTable(col("probe_unit"),
        cbs.map(_.map(_.toSeq).toSeq).toSeq))
      .select(col("probe_id"), col("cell"), col("adc_tab"))
    // cell equi-join (broadcast: |probes|·nprobe rows) — a candidate
    // meets a probe through exactly ONE cell, so no pair dedup is needed;
    // against the persisted store the broadcast also feeds dynamic
    // partition pruning, so unprobed cell directories are never read
    val coarse = index.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim",
        round(VectorFunctions.adcScore(col("adc_tab"), col("codes"), ksub), 6))
    val shortlist0 = topKPerGroup(coarse, "probe_id", "cand_id",
        k * refineFactor)
      .select(col("probe_id"), col("cand_id"))
    val (shortlist, joinKeys) = bucketOf match {
      case Some(f) =>
        (shortlist0.withColumn("bucket", f(col("cand_id"))),
          Seq("bucket", "cand_id"))
      case None => (shortlist0, Seq("cand_id"))
    }
    val probeVecs = withUnitVec(probes, "embedding", "probe_unit")
      .select(col("vec_id").as("probe_id"), col("probe_unit"))
    val exact = rerank
      .join(broadcast(shortlist), joinKeys)
      .join(broadcast(probeVecs), Seq("probe_id"))
      .withColumn("sim", round(dot(col("probe_unit"), col("cand_emb")), 6))
    topKPerGroup(exact, "probe_id", "cand_id", k)
  }

  /** The index scan's build pass (map-only, one corpus pass): coarse cell
    * + m PQ codes per vector, never the embedding downstream. Shared by
    * the inline [[ivfPqTopK]] and the [[annIndexStore]] build/append so
    * the persisted bytes are definitionally what the inline form computes.
    */
  private def encodeForAnnIndex(vecs: DataFrame,
                                cents: Array[Array[Double]],
                                cbs: Array[Array[Array[Double]]])
      : DataFrame = {
    val m = cbs.length
    withUnitVec(vecs, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"),
        array((0 until m).map(mi =>
          pqCodeOf(col("cand_emb"), mi, cbs(mi))): _*).as("codes"),
        cellOf(col("cand_emb"), cents).as("cell"))
  }

  private val AnnIndexSchema = "cand_id BIGINT, codes ARRAY<INT>, cell INT"

  /** The persisted IVF-PQ index — [[embeddingStore]]'s lifecycle (atomic
    * publish via [[DedupOps.materializedPairs]], cell-partitioned layout,
    * single-writer appends, [[compactAnnIndex]] maintenance) holding
    * [[ivfPqTopK]]'s BUILD output: (cand_id, codes, cell), m bytes of
    * code payload per vector. A 100 TB corpus builds this ONCE and
    * appends per ingest batch; queries scan only the probed cells' code
    * directories ([[ivfPqTopKFromStore]]) instead of re-encoding the
    * corpus per call — the build pass was the dominant cost of the
    * inline form. Callers MUST version the path with the centroid AND
    * codebook fit (the [[embeddingStore]] centroid-versioning contract,
    * doubled): an index read back under different model literals is
    * silently wrong.
    */
  def annIndexStore(spark: org.apache.spark.sql.SparkSession,
                    vecs: DataFrame, path: String,
                    cents: Array[Array[Double]],
                    cbs: Array[Array[Array[Double]]]): DataFrame =
    DedupOps.materializedPairs(spark, path, partitionBy = Seq("cell"),
      readSchema = Some(AnnIndexSchema))(encodeForAnnIndex(vecs, cents, cbs))

  /** Read a published [[annIndexStore]] schema-stated, not inferred —
    * same empty-store rationale as [[readEmbeddingStore]].
    */
  def readAnnIndexStore(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    spark.read.schema(AnnIndexSchema).parquet(path)

  /** Encode ONLY the new batch and append it to the index's cell
    * directories — per-ingest cost is batch-bound, the store is never
    * rewritten. Same contract as [[appendToEmbeddingStore]]: refuses an
    * unpublished path, returns the appended count, single-ingest-at-a-
    * time writer.
    */
  def appendToAnnIndex(spark: org.apache.spark.sql.SparkSession,
                       newVecs: DataFrame, path: String,
                       cents: Array[Array[Double]],
                       cbs: Array[Array[Array[Double]]]): Long = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(dst, "_SUCCESS")),
      s"appendToAnnIndex: no published ANN index at $path — " +
        "build it with annIndexStore first")
    val rows = encodeForAnnIndex(newVecs, cents, cbs).persist()
    try {
      val n = rows.count()
      if (n > 0) rows.write.mode("append").partitionBy("cell").parquet(path)
      n
    } finally { rows.unpersist(); () }
  }

  /** Close the monitor→remediate loop: re-encode the persisted
    * [[annIndexStore]] under RE-FIT model literals and atomically swap
    * the result in. [[annIndexStaleness]] (q138) DETECTS the "centroids
    * were re-fit, the store disagrees with the current quantizer"
    * failure (`n_cell_mismatch`), and [[annRecallReport]]/[[annRecallGrid]]
    * (q136/q139) tell you WHEN a re-fit is warranted — this operator
    * executes the migration those monitors call for. The corpus is
    * re-encoded by the same map-only pass the build uses
    * ([[encodeForAnnIndex]]), so the migrated bytes are definitionally
    * what a fresh build under the new literals would write; the layout is
    * rewritten one file per cell (the [[compactAnnIndex]] discipline, so
    * a migration is also a compaction); publication goes through
    * [[StoreSwap]], so every crash point leaves an intact store and
    * [[appendToAnnIndex]] keeps working against the swapped-in result —
    * callers re-version the store path's model suffix to match the new
    * fit. Returns the migrated row count (a metadata-scale count of the
    * published store, not a second encode pass). A centroid-only re-fit
    * runs the same full re-encode: an id-keyed reconcile that keeps the
    * stored codes lost to it at every measured size (SCALING.md "r14:
    * ANN migration A/B").
    */
  def reencodeAnnIndex(spark: org.apache.spark.sql.SparkSession,
                       rawVecs: DataFrame, path: String,
                       cents: Array[Array[Double]],
                       cbs: Array[Array[Array[Double]]]): Long =
    publishReencodedIndex(spark, path,
      encodeForAnnIndex(rawVecs, cents, cbs), "reencodeAnnIndex")

  /** Shared publish tail of the migration paths: write the migrated rows
    * one file per cell to a hidden sibling, [[StoreSwap]] them in, count
    * from the published store (narrow scan, never a second encode).
    */
  private def publishReencodedIndex(spark: org.apache.spark.sql.SparkSession,
                                    path: String, rows: => DataFrame,
                                    what: String,
                                    readSchema: String = AnnIndexSchema)
      : Long = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.recoverIfInterrupted(fs, dst)
    val success = new Path(dst, "_SUCCESS")
    require(fs.exists(success),
      s"$what: no published store at $path — build it first")
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.reenc-${java.util.UUID.randomUUID()}")
    try {
      rows.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      StoreSwap.swapIn(fs, dst, tmp, what)
      if (!fs.exists(success)) throw new IllegalStateException(
        s"$what: migrated store at $path has no _SUCCESS")
      spark.read.schema(readSchema).parquet(path).count()
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  /** The [[embeddingStore]]'s migration for a re-fit coarse quantizer —
    * the cheapest of the three remediation shapes, because the store
    * holds the UNIT VECTORS themselves: re-assignment is one map-only
    * [[cellOf]] pass over the store (no corpus scan, no join, no
    * re-normalization — `u` is centroid-independent), rewritten one file
    * per cell and [[StoreSwap]]-published, so the next
    * [[incrementalSemanticDupFlags]] ingest prunes against the NEW
    * cells. Missing/orphaned rows are the ingest loop's concern (the
    * store IS the accepted corpus); this rewrites assignments only.
    * Callers re-version the store path with the new centroid fit.
    */
  def reassignEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             cents: Array[Array[Double]]): Long =
    publishReencodedIndex(spark, path,
      readEmbeddingStore(spark, path)
        .select(col("vec_id"), col("u"), cellOf(col("u"), cents).as("cell")),
      "reassignEmbeddingStore", readSchema = StoreSchema)

  /** IVF-PQ top-k against the PERSISTED index: the ADC stage scans the
    * store's (code, cell) rows — with the probe-cell broadcast feeding
    * dynamic partition pruning, so cell directories no probe ranked are
    * never read (plan-asserted in SimilarityOpsSpec) — and only the
    * exact re-rank (a broadcast-shortlist join, k·refineFactor·|probes|
    * rows) touches the raw vectors. `rawVecs` must be the corpus the
    * index was built over (plus appends); the shared
    * [[ivfPqFromIndex]] tail guarantees result identity with
    * [[ivfPqTopK]] under that contract (pinned by q117 sharing q115's
    * oracle).
    */
  def ivfPqTopKFromStore(probes: DataFrame, index: DataFrame,
                         rawVecs: DataFrame, cents: Array[Array[Double]],
                         cbs: Array[Array[Array[Double]]], k: Int,
                         nprobe: Int, refineFactor: Int = 4): DataFrame =
    ivfPqFromIndex(index, probes, rawVecs, cents, cbs, k, nprobe,
      refineFactor)

  /** ANN recall monitor: per probe, recall@k of the persisted index's
    * [[ivfPqTopKFromStore]] answer against the exact brute-force top-k
    * over the same corpus — the health check a deployed index runs on a
    * SAMPLED probe set after every ingest/compaction, because centroid
    * drift, a stale store, or a mis-sized nprobe all surface here before
    * users notice. Cost model: the exact baseline is one corpus scan with
    * the sampled probes broadcast ([[bruteForceTopK]]) — priced by the
    * sample, not by production traffic — and the approximate side is the
    * store's own cell-pruned path, so the monitor measures exactly the
    * serving plan. The comparison join touches |probes|·k rows. Both
    * rankings share the (sim DESC, cand_id) tie-break on 6-digit-rounded
    * sims, so recall is deterministic. Output: (probe_id, n_hit,
    * recall_at_k), one row per probe.
    */
  def annRecallReport(probes: DataFrame, index: DataFrame,
                      rawVecs: DataFrame, cents: Array[Array[Double]],
                      cbs: Array[Array[Array[Double]]], k: Int,
                      nprobe: Int, refineFactor: Int = 4): DataFrame = {
    require(k > 0)
    val approx = ivfPqFromIndex(index, probes, rawVecs, cents, cbs, k,
        nprobe, refineFactor)
      .select(col("probe_id"), col("cand_id"), lit(1).as("hit"))
    val exact = bruteForceTopK(probes, rawVecs, k)
      .select(col("probe_id"), col("cand_id"))
    exact.join(approx, Seq("probe_id", "cand_id"), "left")
      .groupBy(col("probe_id"))
      .agg(coalesce(sum(col("hit")), lit(0)).cast("int").as("n_hit"),
        round(coalesce(sum(col("hit")), lit(0)) / k.toDouble, 6)
          .as("recall_at_k"))
  }

  /** ANN index staleness report: reconcile the persisted index against
    * the CURRENT corpus — the store-health companion to
    * [[annRecallReport]] (recall says "quality dropped"; this says
    * "because 12% of the corpus isn't indexed"). Per cell: `n_indexed`
    * (in both), `n_missing` (corpus rows the index lacks — appends
    * pending; counted under their EXPECTED cell so the report names the
    * exact cell directories the next [[appendToAnnIndex]] touches),
    * `n_orphaned` (index rows whose id left the corpus — deletes the
    * next compaction should drop), `n_cell_mismatch` (in both but the
    * CURRENT quantizer disagrees with the indexed cell — nonzero means
    * the centroids were re-fit since the build and the index needs a
    * re-encode, the failure mode recall alone can't attribute). Cost:
    * one map-only [[cellOf]] assignment over the narrow (id, embedding)
    * corpus projection, the index's (id, cell) columns, ONE id-keyed
    * full-outer exchange of those two narrow sides, nCells output rows;
    * embeddings never shuffle.
    */
  def annIndexStaleness(corpus: DataFrame, index: DataFrame,
                        cents: Array[Array[Double]]): DataFrame = {
    val expected = withUnitVec(corpus, "embedding", "u")
      .select(col("vec_id"), cellOf(col("u"), cents).as("expected_cell"))
    val idx = index.select(col("cand_id").as("vec_id"),
      col("cell").as("indexed_cell"))
    val both = col("indexed_cell").isNotNull &&
      col("expected_cell").isNotNull
    expected.join(idx, Seq("vec_id"), "full_outer")
      .withColumn("cell",
        coalesce(col("indexed_cell"), col("expected_cell")))
      .groupBy(col("cell"))
      .agg(
        sum(when(both, 1L).otherwise(0L)).as("n_indexed"),
        sum(when(col("indexed_cell").isNull, 1L).otherwise(0L))
          .as("n_missing"),
        sum(when(col("expected_cell").isNull, 1L).otherwise(0L))
          .as("n_orphaned"),
        sum(when(both && col("indexed_cell") =!= col("expected_cell"), 1L)
          .otherwise(0L)).as("n_cell_mismatch"))
  }

  /** nprobe operating-point sweep: [[annRecallReport]] evaluated at
    * SEVERAL nprobe values in one pass — the tuning surface that answers
    * "what nprobe buys recall ≥ 0.95" before committing a serving
    * config. Scored ONCE, not once per point: cells are ranked at the
    * widest nprobe, the ADC join runs once over that union (its cost IS
    * one query at max(nprobes)), and each sweep point re-slices the
    * scored rows by cell rank (`crk <= np`) — a bounded-set explode, the
    * q135 sweep discipline, never a re-scan of the index. The exact
    * baseline is computed once (it does not depend on nprobe). Output:
    * (nprobe, probe_id, n_hit, recall_at_k), |nprobes|·|probes| rows.
    */
  def annRecallSweep(probes: DataFrame, index: DataFrame,
                     rawVecs: DataFrame, cents: Array[Array[Double]],
                     cbs: Array[Array[Array[Double]]], k: Int,
                     nprobes: Seq[Int], refineFactor: Int = 4): DataFrame =
    annRecallGrid(probes, index, rawVecs, cents, cbs, k, nprobes,
        Seq(refineFactor))
      .select(col("nprobe"), col("probe_id"), col("n_hit"),
        col("recall_at_k"))

  /** The full (nprobe × refineFactor) recall tuning grid — both serving
    * knobs in ONE index pass. nprobe moves which cells feed the ADC
    * stage; refineFactor only moves the SHORTLIST CUTOFF over
    * already-scored rows, so the rf axis is near-free: the ADC join and
    * the per-nprobe shortlist ranking run once at max(refineFactors),
    * exact re-rank sims are computed once per (nprobe, probe, cand)
    * shortlist row, and each grid point re-slices by the carried ranks
    * (the q135 bounded-explode discipline on BOTH axes). The sf0.1
    * q137 measurement is why the grid exists: a flat nprobe curve means
    * the shortlist is the binding constraint, and the rf axis is the
    * knob that moves it — one grid run answers which. Output: (nprobe,
    * refine_factor, probe_id, n_hit, recall_at_k).
    */
  def annRecallGrid(probes: DataFrame, index: DataFrame,
                    rawVecs: DataFrame, cents: Array[Array[Double]],
                    cbs: Array[Array[Array[Double]]], k: Int,
                    nprobes: Seq[Int],
                    refineFactors: Seq[Int]): DataFrame = {
    require(k > 0 && nprobes.nonEmpty && nprobes.forall(_ > 0) &&
      nprobes.distinct.size == nprobes.size,
      "nprobes must be non-empty, positive, distinct")
    require(refineFactors.nonEmpty && refineFactors.forall(_ >= 1) &&
      refineFactors.distinct.size == refineFactors.size,
      "refineFactors must be non-empty, >= 1, distinct")
    val ksub = cbs(0).length
    val npLit = typedLit(nprobes.sorted)
    val rfLit = typedLit(refineFactors.sorted)
    val rfMax = refineFactors.max
    val probeCells = probeCellsRanked(probes, cents, nprobes.max)
      .withColumn("adc_tab", VectorFunctions.adcTable(col("probe_unit"),
        cbs.map(_.map(_.toSeq).toSeq).toSeq))
      .select(col("probe_id"), col("cell"), col("crk"), col("adc_tab"))
    val scored = index.join(broadcast(probeCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim",
        round(VectorFunctions.adcScore(col("adc_tab"), col("codes"), ksub),
          6))
      .select(col("probe_id"), col("cand_id"), col("crk"), col("sim"))
    val swScored = scored
      .select(col("probe_id"), col("cand_id"), col("crk"), col("sim"),
        explode(npLit).as("nprobe"))
      .filter(col("crk") <= col("nprobe"))
    // one shortlist ranking per nprobe at the WIDEST refineFactor; the
    // carried rank `rn` is what each rf grid point slices on
    val shortMax = swScored.withColumn("rn", row_number().over(
        Window.partitionBy(col("nprobe"), col("probe_id"))
          .orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rn") <= k * rfMax)
      .select(col("nprobe"), col("probe_id"), col("cand_id"), col("rn"))
    val probeVecs = withUnitVec(probes, "embedding", "probe_unit")
      .select(col("vec_id").as("probe_id"), col("probe_unit"))
    val rerank = withUnitVec(rawVecs, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"))
    val exactScored = rerank
      .join(broadcast(shortMax), Seq("cand_id"))
      .join(broadcast(probeVecs), Seq("probe_id"))
      .withColumn("sim", round(dot(col("probe_unit"), col("cand_emb")), 6))
      .select(col("nprobe"), col("probe_id"), col("cand_id"), col("rn"),
        col("sim"))
    val approx = exactScored
      .withColumn("refine_factor", explode(rfLit))
      .filter(col("rn") <= col("refine_factor") * k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("refine_factor"),
            col("probe_id"))
          .orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rk") <= k)
      .select(col("nprobe"), col("refine_factor"), col("probe_id"),
        col("cand_id"), lit(1).as("hit"))
    val exact = bruteForceTopK(probes, rawVecs, k)
      .select(col("probe_id"), col("cand_id"), explode(npLit).as("nprobe"))
      .withColumn("refine_factor", explode(rfLit))
    exact.join(approx,
        Seq("nprobe", "refine_factor", "probe_id", "cand_id"), "left")
      .groupBy(col("nprobe"), col("refine_factor"), col("probe_id"))
      .agg(coalesce(sum(col("hit")), lit(0)).cast("int").as("n_hit"),
        round(coalesce(sum(col("hit")), lit(0)) / k.toDouble, 6)
          .as("recall_at_k"))
  }

  /** [[hardNegatives]] against the persisted IVF-PQ index — the shape
    * that mines negatives for MILLIONS of anchors without a full corpus
    * scan per anchor batch: over-fetch the top-`kFetch` neighbors from
    * the store ([[ivfPqTopKFromStore]] — cell-pruned ADC, exact re-rank,
    * so the returned sims are exact), drop everything outside
    * `[simLo, simHi)`, re-rank, keep k. Two explicit approximation knobs,
    * both inherited or visible: IVF recall (nprobe) and the over-fetch
    * margin — `kFetch` must exceed k by at least the expected number of
    * above-band neighbors (positives/near-dups) per anchor, else hard
    * negatives fall off the fetched window. Same output schema as
    * [[hardNegatives]].
    */
  def hardNegativesFromStore(anchors: DataFrame, index: DataFrame,
                             rawVecs: DataFrame,
                             cents: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]], k: Int,
                             kFetch: Int, simLo: Double, simHi: Double,
                             nprobe: Int, refineFactor: Int = 4)
      : DataFrame = {
    require(simLo < simHi, s"empty band [$simLo, $simHi)")
    require(kFetch >= k, s"kFetch=$kFetch must be >= k=$k")
    val fetched = ivfPqTopKFromStore(anchors, index, rawVecs, cents, cbs,
        kFetch, nprobe, refineFactor)
      .drop("rk")
      .filter(col("sim") >= simLo && col("sim") < simHi)
      .withColumnRenamed("probe_id", "anchor_id")
      .withColumnRenamed("cand_id", "neg_id")
    topKPerGroup(fetched, "anchor_id", "neg_id", k)
  }

  /** [[contrastiveTriples]] against the persisted IVF-PQ index — the
    * composition that mines (positive, negatives) for MILLIONS of
    * anchors without a full-corpus scan per batch, the way
    * [[hardNegativesFromStore]] relates to [[hardNegatives]]: over-fetch
    * the top-`kFetch` neighbors from the store (cell-pruned ADC, exact
    * re-rank — sims are exact, the SET is approximate), then run the
    * same [[triplesFromScored]] tail. The fetched rank-1 IS the
    * candidate positive, so the positive inherits the index's rank-1
    * recall (measured per nprobe in SimilarityOpsSpec); negatives
    * inherit the hardNegativesFromStore over-fetch contract — `kFetch`
    * must exceed nNeg by at least the expected above-band (positive/
    * near-dup) neighbors per anchor, else band negatives fall off the
    * fetched window. Exhaustive fetch (nprobe = nCells, kFetch ≥
    * corpus) degenerates to [[contrastiveTriples]] exactly
    * (spec-pinned). Same output schema as [[contrastiveTriples]].
    */
  def contrastiveTriplesFromStore(anchors: DataFrame, index: DataFrame,
                                  rawVecs: DataFrame,
                                  cents: Array[Array[Double]],
                                  cbs: Array[Array[Array[Double]]],
                                  posMin: Double, negLo: Double,
                                  negHi: Double, nNeg: Int, kFetch: Int,
                                  nprobe: Int, refineFactor: Int = 4)
      : DataFrame = {
    require(negLo < negHi, s"empty negative band [$negLo, $negHi)")
    require(negHi <= posMin,
      s"negHi=$negHi must be <= posMin=$posMin or a positive could be " +
        "mined as a negative")
    require(kFetch > nNeg,
      s"kFetch=$kFetch must exceed nNeg=$nNeg: the fetch carries the " +
        "positive AND the band negatives")
    val fetched = ivfPqTopKFromStore(anchors, index, rawVecs, cents, cbs,
        kFetch, nprobe, refineFactor)
      .drop("rk")
      .withColumnRenamed("probe_id", "anchor_id")
    triplesFromScored(fetched, posMin, negLo, negHi, nNeg)
  }

  /** The id-bucket of a vector id in a [[vectorStore]] of `nBuckets`
    * partitions — ONE definition shared by the store build, the append,
    * and the query-side shortlist so the layouts cannot drift.
    */
  private def vecBucket(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong)).cast("int")

  private val VecStoreSchema = "cand_id BIGINT, cand_emb ARRAY<DOUBLE>, bucket INT"

  /** The raw-vector FETCH store: unit vectors partitioned by an id-hash
    * bucket, published atomically — the re-rank counterpart of
    * [[annIndexStore]]. [[ivfPqTopKFromStores]]'s shortlist broadcast
    * carries the bucket key, so dynamic partition pruning reads only the
    * ≤ k·refineFactor·|probes| buckets the shortlist ids hash into —
    * at 100 TB the exact re-rank becomes a point FETCH, not a
    * scan-and-filter of the whole raw corpus (the residual
    * SCALING.md "r13: persisted ANN index store" measured growing with
    * corpus size).
    * `nBuckets` must match between build, append, and query — version it
    * into the path like the centroid/codebook fits.
    *
    * SIZING (measured, SCALING.md r13): directory partitions charge O(1)
    * listing/footer/task cost each, so pruning only pays when every
    * bucket carries file-granularity payload — size
    * nBuckets ≈ corpus_bytes / 1 GB, and use this form only when that
    * still leaves nBuckets ≫ k·refineFactor·|probes| (multi-TB raw
    * tables). Below that scale [[ivfPqTopKFromStore]]'s flat re-rank
    * scan wins and stays the default.
    */
  def vectorStore(spark: org.apache.spark.sql.SparkSession,
                  vecs: DataFrame, path: String,
                  nBuckets: Int = 64): DataFrame =
    DedupOps.materializedPairs(spark, path, partitionBy = Seq("bucket"),
      readSchema = Some(VecStoreSchema))(
      withUnitVec(vecs, "embedding", "cand_emb")
        .select(col("vec_id").as("cand_id"), col("cand_emb"),
          vecBucket(col("vec_id"), nBuckets).as("bucket")))

  /** Read a published [[vectorStore]] schema-stated (empty-store
    * rationale as [[readEmbeddingStore]]).
    */
  def readVectorStore(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    spark.read.schema(VecStoreSchema).parquet(path)

  /** Append a new batch to the [[vectorStore]]'s bucket directories —
    * batch-bound, same contract as [[appendToAnnIndex]].
    */
  def appendToVectorStore(spark: org.apache.spark.sql.SparkSession,
                          newVecs: DataFrame, path: String,
                          nBuckets: Int = 64): Long = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(dst, "_SUCCESS")),
      s"appendToVectorStore: no published vector store at $path — " +
        "build it with vectorStore first")
    val rows = withUnitVec(newVecs, "embedding", "cand_emb")
      .select(col("vec_id").as("cand_id"), col("cand_emb"),
        vecBucket(col("vec_id"), nBuckets).as("bucket"))
      .persist()
    try {
      val n = rows.count()
      if (n > 0)
        rows.write.mode("append").partitionBy("bucket").parquet(path)
      n
    } finally { rows.unpersist(); () }
  }

  /** [[compactEmbeddingStore]] for the [[vectorStore]] — one file per
    * bucket, crash-safe swap.
    */
  def compactVectorStore(spark: org.apache.spark.sql.SparkSession,
                         path: String): (Int, Int) =
    compactCellStore(spark, path, "compactVectorStore")

  /** Fully store-backed IVF-PQ top-k: the ADC stage scans only the
    * probed cells of the [[annIndexStore]] AND the exact re-rank fetches
    * only the shortlist ids' buckets of the [[vectorStore]] — both scans
    * dynamically partition-pruned by broadcasts (plan-asserted in
    * SimilarityOpsSpec). No stage touches the un-probed corpus; this is
    * the 100 TB query shape. `nBuckets` must be the store's. Result ≡
    * [[ivfPqTopK]] by the shared [[ivfPqCore]] tail (q120 carries q115's
    * oracle).
    */
  def ivfPqTopKFromStores(probes: DataFrame, index: DataFrame,
                          vecStore: DataFrame, nBuckets: Int,
                          cents: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]], k: Int,
                          nprobe: Int, refineFactor: Int = 4): DataFrame =
    ivfPqCore(index, probes,
      vecStore.select(col("cand_id"), col("cand_emb"), col("bucket")),
      Some(vecBucket(_, nBuckets)), cents, cbs, k, nprobe, refineFactor)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via a coarse quantizer. Each vector is assigned to its
    * nearest centroid cell (the fused [[cellOf]] kernel — map-only against
    * literal centroids, zero fit jobs at query time, same lifecycle as
    * [[IvfCentroids]]); only WITHIN-cell pairs are cosine-scored, pairs at
    * `>= minSim` become dup edges, and connected components over those
    * edges pick ONE representative per semantic cluster. Per the paper,
    * the kept member is the one LEAST similar to its centroid (keep the
    * atypical example, drop the redundant core), ties by lowest id.
    *
    * Returns one row per vector: `(vec_id, cell, csim, comp, keep)` —
    * `csim` is the (rounded) similarity to the OWN-cell centroid, `comp`
    * the hash-min component label, `keep` the SemDeDup decision. Callers
    * wanting the deduplicated corpus filter `keep`.
    *
    * Scale shape (the 100 TB story): the only shuffles are (1) the pair
    * self-join keyed on `cell` and (2) the CC rounds over the dup edges.
    * Within-cell scoring is Σ(cell²) work, so `nCells` is THE scale knob —
    * size it ~ n / targetCellSize exactly like [[bitsForScale]] sizes LSH
    * buckets, and refit on a sample ([[fitCentroids]]' `sampleOneIn`).
    * Edges are id-pairs only (vectors never ride through the CC), and the
    * CC is the frontier-delta loop ([[DedupOps.connectedComponents]]).
    * Unlike LSH near-dup ([[lshNearDupPairs]]), recall within a cell is
    * exact — the miss mode is only a near-dup pair straddling a cell
    * boundary, the paper's own approximation.
    */
  def semanticDedup(vecs: DataFrame, cents: Array[Array[Double]],
                    minSim: Double, maxIter: Int = 20): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    val assigned = assignedUnitVecs(vecs, cents)
      .withColumn("csim", round(VectorFunctions.dotProduct(
        col("u"), element_at(centLit, col("cell") + 1)), 6))
    val pairs = withinCellPairs(assigned, minSim)
    val comps = DedupOps.connectedComponents(
      assigned.select(col("vec_id")), "vec_id", pairs, maxIter)
    val rep = Window.partitionBy(col("comp"))
      .orderBy(col("csim").asc, col("vec_id").asc)
    comps.withColumnRenamed("id", "vec_id")
      .join(assigned.select(col("vec_id"), col("cell"), col("csim")),
        Seq("vec_id"))
      .withColumn("keep", row_number().over(rep) === 1)
      .select(col("vec_id"), col("cell"), col("csim"), col("comp"),
        col("keep"))
  }

  /** The within-cell dup-edge stage of [[semanticDedup]], exposed so the
    * boundary-miss rate can be measured directly (SemDeDupRecallSpec /
    * SCALING.md): SemDeDup's only approximation is that a `>= minSim` pair
    * whose members fall in DIFFERENT cells is never scored. Input is
    * [[assignedUnitVecs]]-shaped (`vec_id`, `u`, `cell`); output is the
    * `(id_a, id_b)` edge set, id_a < id_b, exactly what the CC consumes.
    */
  private[graft] def withinCellPairs(assigned: DataFrame,
                                     minSim: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("u").as("ua"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("u").as("ub"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.dotProduct(col("ua"), col("ub")), 6)
        >= minSim)
      .select(col("id_a"), col("id_b"))
  }

  /** [[semanticDedup]]'s dup-edge set for a GIVEN quantizer — the
    * measurement surface for the recall-vs-nCells curve.
    */
  private[graft] def semanticDupPairs(vecs: DataFrame,
      cents: Array[Array[Double]], minSim: Double): DataFrame =
    withinCellPairs(assignedUnitVecs(vecs, cents), minSim)

  /** (vec_id, cell, u): unit vector + nearest-cell assignment — the shared
    * front of [[semanticDedup]] and the embedding-store ingest path.
    */
  private def assignedUnitVecs(vecs: DataFrame,
                               cents: Array[Array[Double]]): DataFrame =
    withUnitVec(vecs, "embedding", "u")
      .select(col("vec_id"), col("u"), cellOf(col("u"), cents).as("cell"))

  /** The accepted-corpus embedding store for incremental SemDeDup — q93's
    * signature store, embedding flavor. Rows are (vec_id, u, cell=…)
    * PARTITIONED BY cell on disk, published atomically (same contract and
    * code path as [[DedupOps.materializedPairs]]): an ingest batch
    * touching 3 cells dynamically prunes to 3 directories
    * ([[incrementalSemanticDupFlags]] plan-asserts the pruning expression)
    * instead of scanning the store. Unit vectors are stored, not raw
    * embeddings — normalization is paid once at store-build, never per
    * ingest.
    */
  def embeddingStore(spark: org.apache.spark.sql.SparkSession,
                     vecs: DataFrame, path: String,
                     cents: Array[Array[Double]]): DataFrame =
    DedupOps.materializedPairs(spark, path, partitionBy = Seq("cell"),
      readSchema = Some(StoreSchema))(assignedUnitVecs(vecs, cents))

  private val StoreSchema = "vec_id BIGINT, u ARRAY<DOUBLE>, cell INT"

  /** Read a published [[embeddingStore]] with its schema stated, not
    * inferred. The distinction matters exactly once: an EMPTY store (the
    * streaming bootstrap publishes one, _SUCCESS-marked) has no data
    * files in any cell directory, and schema inference on a fully-empty
    * partitioned layout fails — stating the (fixed, dim-independent)
    * schema makes empty read as zero rows, which is what an empty corpus
    * means.
    */
  def readEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame =
    spark.read.schema(StoreSchema).parquet(path)

  /** Flag each batch vector that is semantically redundant against the
    * accepted-corpus [[embeddingStore]]: assign the batch to cells
    * (map-only, the same committed centroids the store was built with —
    * callers MUST version the store path with the centroid fit, exactly
    * like the LSH-parameter versioning on [[DedupOps.signatureStore]]),
    * then score batch×store pairs WITHIN matching cells only and count
    * store neighbors at `>= minSim`. Returns (vec_id, n_dups, dup) for
    * every batch row.
    *
    * Per-ingest cost is batch-bound, not corpus-bound: the batch side
    * broadcasts (it is an ingest batch, small by definition), and because
    * the store is cell-partitioned the broadcast feeds dynamic partition
    * pruning — store directories for cells the batch never touched are
    * not read at all. No shuffle of the store ever happens.
    */
  def incrementalSemanticDupFlags(batch: DataFrame, store: DataFrame,
                                  cents: Array[Array[Double]],
                                  minSim: Double): DataFrame = {
    val b = assignedUnitVecs(batch, cents)
    val s = store.select(col("vec_id").as("corpus_id"), col("cell"),
      col("u").as("cu"))
    val flags = s.join(broadcast(b), Seq("cell"))
      .filter(round(VectorFunctions.dotProduct(col("u"), col("cu")), 6)
        >= minSim)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    batch.select(col("vec_id"))
      .join(flags, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .withColumn("dup", col("n_dups") > 0)
  }

  /** Close the ingest loop: assign + unit-normalize the accepted batch
    * rows and append them to the store's cell directories. Same contract
    * as [[DedupOps.appendToSignatureStore]]: refuses an unpublished path
    * (an implicit create would masquerade as a built store), returns the
    * appended count from the batch side, and the store's writer contract
    * is single-ingest-at-a-time. Small-file growth is the signature
    * store's known maintenance burden — [[compactEmbeddingStore]] is the
    * partition-aware compactor.
    */
  /** Bound the embedding store's small-file growth — the sibling of
    * [[DedupOps.compactSignatureStore]], partition-aware: each append
    * adds one file set per touched cell directory, so a continuous crawl
    * accumulates files exactly like the signature store does. Rewrites
    * the store to ONE file per cell (a cell is this store's natural
    * compaction unit — its volume is bounded by the nCells scale knob),
    * collapsing exact-duplicate rows (crash-replay residue between an
    * append and its marker) in the same pass. Serialized with ingests by
    * the store's single-writer contract; the swap goes through
    * [[StoreSwap]] (rename-old-aside → rename-new-in → delete-aside), so
    * every crash point leaves an intact store directory — either
    * published at `path` or parked under a `.{name}.old-*` aside that the
    * next compaction call renames back. Returns (files before, after).
    */
  def compactEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Int) =
    compactCellStore(spark, path, "compactEmbeddingStore")

  /** [[compactEmbeddingStore]] for the [[annIndexStore]] — identical
    * cell-partitioned layout, identical one-file-per-cell rewrite and
    * crash-safe [[StoreSwap]] contract.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): (Int, Int) =
    compactCellStore(spark, path, "compactAnnIndex")

  private[ext] def compactCellStore(spark: org.apache.spark.sql.SparkSession,
                                    path: String, what: String,
                                    partCol: String = "cell"): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val success = new Path(dst, "_SUCCESS")
    StoreSwap.recoverIfInterrupted(fs, dst)
    require(fs.exists(success),
      s"$what: no published cell-partitioned store at $path")
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
      // repartition ON the partition column: every partition's rows land
      // in one task, so partitionBy writes exactly one file per directory
      spark.read.parquet(path).dropDuplicates()
        .repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
      StoreSwap.swapIn(fs, dst, tmp, what)
      if (!fs.exists(success)) throw new IllegalStateException(
        s"$what: compacted store at $path has no _SUCCESS")
      (before, parquetFiles())
    } finally { if (fs.exists(tmp)) fs.delete(tmp, true); () }
  }

  def appendToEmbeddingStore(spark: org.apache.spark.sql.SparkSession,
                             acceptedVecs: DataFrame, path: String,
                             cents: Array[Array[Double]]): Long = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(dst, "_SUCCESS")),
      s"appendToEmbeddingStore: no published embedding store at $path — " +
        "build it with embeddingStore first")
    val rows = assignedUnitVecs(acceptedVecs, cents).persist()
    try {
      val n = rows.count()
      if (n > 0) rows.write.mode("append").partitionBy("cell").parquet(path)
      n
    } finally { rows.unpersist(); () }
  }
}
