package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{DedupOps, PackOps, RetrievalOps, SimilarityOps, TextOps}
import org.apache.spark.sql.graft.VectorFunctions

/** Empirical 1×→N× scale curves for the heavy dedup/ANN pipelines — the
  * measurement behind SCALING.md. [[ScaleGen]] builds deterministic 1× and
  * N× corpora whose similarity structure replicates (clusters multiply,
  * never deepen); this main then times each pipeline at both scales and
  * reports the wall-time ratio. A structure-preserving N× corpus should
  * cost ≈N× for a linear operator; a ratio ≫ N exposes a term that would
  * dominate at 100 TB.
  *
  * The embedding-LSH pipelines run twice: `fixed` keeps the registered
  * queries' banding (8×4 — 16 buckets/band regardless of corpus size, so
  * Σ(bucket²) grows ~N²: the expected offender), `scaled` re-sizes
  * bitsPerBand with [[SimilarityOps.bitsForScale]] — the documented 100 TB
  * operating point that holds bucket sizes constant.
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.ScaleCurve"
  *
  * Output: one JSON line per (query, scale) plus a final summary line,
  * also written to `<workDir>/scale_curve.json`.
  */
object ScaleCurve {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet").drop("label")

  // the q27/q56/q59/q64 chains are the REGISTERED ones from
  // ExtensionQueries — defined there once so a retune changes both the
  // oracle-checked query and this measurement together
  private def minhashPairs(d: DataFrame): DataFrame =
    graft.queries.ExtensionQueries.portableMinHashPairs(d)

  /** q75's registered chain, with the banding exposed so the `scaled`
    * variant can hold bucket sizes constant.
    */
  private def embedCuration(e: DataFrame, bits: Int): DataFrame = {
    val dim = SimilarityOps.inferDim(e, "embedding")
    val dropIds = SimilarityOps.lshNearDupPairs(e, minSim = 0.45,
        bitsPerBand = bits, dim = dim)
      .select(col("id_b").as("vec_id")).distinct()
    val survivors = e.join(dropIds, Seq("vec_id"), "left_anti")
    val prs = SimilarityOps.lshNearDupPairs(survivors, minSim = 0.3,
      bitsPerBand = bits, dim = dim)
    val deg = prs.select(col("id_a").as("vec_id"))
      .union(prs.select(col("id_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("density"))
    val st = VectorFunctions.int8QuantStats(col("embedding"))
    survivors.select(col("vec_id"), st.as("st"))
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("density"), lit(0L)).as("density"),
        round(col("st").getItem(0), 8).as("scale"),
        round(col("st").getItem(2), 8).as("rmse"))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val scales: Seq[Int] =
      if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(1, 10)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val spark = graft.LocalSpark.session()
    spark.sparkContext.setLogLevel("WARN")

    val dirs: Map[Int, String] = scales.map { n =>
      val d = s"$workDir/x$n"
      ScaleGen.generate(spark, baseDir, d, n)
      n -> d
    }.toMap

    // dev knob, mirrors Bench's SPARK_GRAFT_ONLY: subset the suite so an
    // added pipeline can be measured without re-paying the deliberately
    // quadratic fixed-banding rows — applied BEFORE the per-query
    // pre-materializations below, so deselecting a query also skips its
    // (potentially minutes-long) untimed setup
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    def wanted(q: String): Boolean = only.forall(_(q))

    // q53's scale-relevant stage is connectedComponents itself (its
    // registered form feeds CC from a deliberately scope-bounded,
    // quadratic-by-design ngram pair scan — an oracle convenience, not the
    // 100 TB path). Isolate CC by pre-materializing the LSH pair set
    // (untimed; its cost is measured as q27) and timing only the iteration.
    lazy val ccPairsPath: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/cc_pairs.parquet"
      if (!new java.io.File(s"$p/_SUCCESS").exists())
        minhashPairs(docs(spark, d)).write.mode("overwrite").parquet(p)
      n -> p
    }
    if (wanted("q53_connected_components")) ccPairsPath

    // q93's scale claim is "per-ingest cost reads the signature STORE,
    // not the corpus" — pre-build the store per scale (untimed: paying it
    // is a one-time event, amortized over every later ingest) and time
    // only the ingest of a FIXED batch (the smallest scale's batch slice)
    // against it.
    lazy val sigStorePath: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/sig_store.parquet"
      DedupOps.signatureStore(spark,
        docs(spark, d).filter(col("doc_id") % 3 =!= 0), p,
        k = 3, numBands = 8, rowsPerBand = 2)
      n -> p
    }
    if (wanted("q93_incremental_ingest")) sigStorePath

    // r17 streaming-vector-serving claim: "per-batch cost is
    // batch-bound" — the q93 pattern on the vector side: pre-build BOTH
    // serving stores per scale (untimed) and time one fixed 1×-batch
    // append pass (encode+assign the batch, two partitioned appends).
    // Appends MUTATE the store, so a single shared copy would make every
    // retime append into an already-grown store (ADVICE r17: the row
    // wasn't idempotent like its siblings) — instead pre-build a POOL of
    // pristine copies, one per potential timed invocation (warmup + reps),
    // and have each invocation consume a fresh one. The extra builds are
    // untimed setup; the timed body stays append-only.
    lazy val serveStorePool
        : Map[Int, java.util.ArrayDeque[(String, String)]] = {
      val runRoot = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get(workDir), "serve")
        .toString
      dirs.map { case (n, d) =>
        val copies = new java.util.ArrayDeque[(String, String)]()
        (0 to reps).foreach { i =>
          val idx = s"$runRoot/x${n}_idx_$i.parquet"
          val vec = s"$runRoot/x${n}_vec_$i.parquet"
          SimilarityOps.annIndexStore(spark, embs(spark, d), idx,
            graft.ext.IvfCentroids.centroids,
            graft.ext.PqCodebooks.codebooks)
          SimilarityOps.vectorStore(spark, embs(spark, d), vec,
            nBuckets = 64)
          copies.add((idx, vec))
        }
        n -> copies
      }
    }
    if (wanted("q_vec_serving_append")) serveStorePool

    val nVecs: Map[Int, Long] =
      dirs.map { case (n, d) => n -> embs(spark, d).count() }

    // SemDeDup / semantic-ingest scale knob: nCells must grow with the
    // corpus (constant cell sizes), exactly like bitsForScale holds LSH
    // buckets. The scaled centroids refit on a constant-size hash sample
    // (the fit cost is measured separately as q31_ivf_fit_sampled).
    lazy val scaledCents: Map[Int, Array[Array[Double]]] =
      dirs.map { case (n, d) =>
        val oneIn = math.max(1L, nVecs(n) / nVecs(scales.min)).toInt
        n -> SimilarityOps.fitCentroids(embs(spark, d), "embedding",
          nCells = 10 * n, sampleOneIn = oneIn)
      }

    // q106: per-ingest cost vs a corpus-scaled embedding store — prebuild
    // the store per scale (untimed, one-time), time only a FIXED 1× batch
    // against it. `fixed` keeps the committed 10 cells (per-cell store
    // size grows with the corpus — the expected linear term); `scaled`
    // holds cell sizes constant with refit nCells = 10n.
    lazy val embStoreFixed: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/emb_store_fixed.parquet"
      SimilarityOps.embeddingStore(spark,
        embs(spark, d).filter(col("vec_id") % 3 =!= 0), p,
        graft.ext.IvfCentroids.centroids)
      n -> p
    }
    lazy val embStoreScaled: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/emb_store_scaled.parquet"
      SimilarityOps.embeddingStore(spark,
        embs(spark, d).filter(col("vec_id") % 3 =!= 0), p, scaledCents(n))
      n -> p
    }
    if (wanted("q106_incremental_semantic_fixed")) embStoreFixed
    if (wanted("q106_incremental_semantic_scaled")) embStoreScaled

    // q108: layout + sidecar prebuilt per scale (untimed — write-once by
    // contract); files scale with the corpus so file SIZE holds constant.
    // The timed read scans a FIXED key range: the zone-map claim is that
    // its cost tracks the slice, not the corpus.
    lazy val zonePath: Map[Int, String] = dirs.map { case (n, d) =>
      // v2: the sidecar's file key changed from absolute URI to basename
      // (r11) — a fresh leaf keeps a stale-format cache from silently
      // degrading the measured pruning to a full scan
      val p = s"$d/zonemap_v2.parquet"
      graft.ext.SinkOps.writeWithFileStats(spark, p, Seq("doc_id"),
        nFiles = 8 * n)(
        docs(spark, d).select(col("doc_id"), col("source"), col("n_chars")))
      n -> p
    }
    if (wanted("q108_pruned_scan")) zonePath

    // ANN migration (r14): one store per scale, built under a PRIOR fit
    // (negated centroids, reversed codebooks). Builds are untimed (the
    // drift event is one-time); the timed unit is the whole migration
    // incl. its StoreSwap publish. Reps re-migrate an already-clean
    // store — the same full re-encode work both times.
    val annCents = graft.ext.IvfCentroids.centroids
    val annCbs = graft.ext.PqCodebooks.codebooks
    val oldAnnCents = annCents.map(_.map(-_))
    lazy val reencFullPath: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/reenc_full.parquet"
      SimilarityOps.annIndexStore(spark, embs(spark, d), p,
        oldAnnCents, annCbs.map(_.reverse))
      n -> p
    }
    if (wanted("q143_reencode_full")) reencFullPath

    // Lexical-stats A/B (r14): the store build is untimed (paid once per
    // corpus, amortized over every retrieval call); the timed A/B is the
    // q118 probe served from the store vs the per-call tokenize.
    lazy val lexStatsPath: Map[Int, String] = dirs.map { case (n, d) =>
      val p = s"$d/lex_stats_v2"
      RetrievalOps.lexicalStatsStore(spark, docs(spark, d), p,
        "doc_id", "text", nBuckets = 64)
      n -> p
    }
    if (wanted("q144_bm25_from_store") ||
      wanted("q166_hybrid_from_stores")) lexStatsPath

    // r19 (VERDICT r18 task 8): the store-SERVED ANN read path at scale —
    // read-only index/vector stores prebuilt per scale (untimed: built
    // once per corpus, amortized over every query); the timed unit is
    // the fixed 3-probe query through dynamic cell pruning + refine.
    // The claim under test: query cost tracks the PROBED cells' slice,
    // not the corpus.
    lazy val annStoreRo: Map[Int, (String, String)] =
      dirs.map { case (n, d) =>
        val idx = s"$d/ann_idx_ro.parquet"
        val vec = s"$d/vec_store_ro.parquet"
        SimilarityOps.annIndexStore(spark, embs(spark, d), idx,
          graft.ext.IvfCentroids.centroids, graft.ext.PqCodebooks.codebooks)
        SimilarityOps.vectorStore(spark, embs(spark, d), vec, nBuckets = 64)
        n -> ((idx, vec))
      }
    if (wanted("q120_ivfpq_from_stores") ||
      wanted("q166_hybrid_from_stores")) annStoreRo
    // the REGISTERED probe fixture (single-definition rule: the r19
    // pool growth must move this measurement too)
    def bm25Probe: DataFrame =
      graft.queries.ExtensionQueries.fusionProbesDf(spark)

    // (name, per-scale frame builder). Builders take the scale so the
    // `scaled` variants can pick their banding from the corpus size.
    val suite: Seq[(String, Int => DataFrame)] = Seq(
      // the r16 serving/trainer additions, registered forms verbatim:
      // q163 should ride its legs (BM25 tokenize + brute-force scan —
      // the fusion itself is top-k-bounded), q164 should ride the pool
      // SCAN (the m² pairwise and greedy terms are poolK-fixed), q165
      // should ride the pack window + map-only scoring (the ordering
      // pass is bin-manifest-sized)
      "q163_hybrid_rrf" -> { n =>
        graft.queries.ExtensionQueries.queries("q163_hybrid_rrf")(
          spark, dirs(n))
      },
      "q164_mmr_rerank" -> { n =>
        graft.queries.ExtensionQueries.queries("q164_mmr_rerank")(
          spark, dirs(n))
      },
      // the poolK² term isolated at fixed corpus: 8 → 64 candidates per
      // probe is 64× the pairwise rows; per-probe cost must stay bounded
      "q164_mmr_pool64" -> { n =>
        val e = embs(spark, dirs(n))
        SimilarityOps.mmrRerank(e.filter(col("vec_id") < graft.queries.ExtensionQueries.MmrProbeCount), e,
          poolK = 64, k = 8)
      },
      "q165_curriculum_pack" -> { n =>
        graft.queries.ExtensionQueries.queries("q165_curriculum_pack")(
          spark, dirs(n))
      },
      // r17: quality evaluation (q172) and the tuning grid (q176)
      // should ride the q163 LEGS — the judged stage touches only
      // qrels × top-k rows at any corpus size; the grid multiplies
      // that bounded set by six configs, not the corpus
      "q172_ranking_quality" -> { n =>
        graft.queries.ExtensionQueries.queries("q172_ranking_quality")(
          spark, dirs(n))
      },
      "q176_fusion_grid" -> { n =>
        graft.queries.ExtensionQueries.queries("q176_fusion_quality_grid")(
          spark, dirs(n))
      },
      // r17: per-language pricing must keep q161's one-scan map-only
      // budget shape — the per-lang dispatch is one native expression,
      // so the ratio should match q161's linear scan, not grow with
      // the artifact count
      "q174_budget_per_lang" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q174_budget_per_lang_priced")(spark, dirs(n))
      },
      // r18 (VERDICT r17 task 8): curve rows for the allocation/
      // selection/calibration family, whose bounded-histogram claims
      // were plan-asserted but not measured. q179's allocation window
      // runs over the ≤|sources|·nBuckets histogram (ratio ≈ the cell
      // aggregate's scan); q180/q181 add the bounded driver probe +
      // per-source enforcement; q182's three walks re-rank the SAME
      // bounded pool (probe count is fixed, so near-flat); q183/q184's
      // reports collapse to ≤nBuckets rows after one map-side pass.
      "q179_budget_allocation" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q179_budget_allocation")(spark, dirs(n))
      },
      "q180_allocated_selection" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q180_allocated_selection")(spark, dirs(n))
      },
      "q181_per_lang_allocated" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q181_per_lang_allocated")(spark, dirs(n))
      },
      "q182_mmr_lambda_sweep" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q182_mmr_lambda_sweep")(spark, dirs(n))
      },
      "q183_langid_calibration" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q183_langid_calibration")(spark, dirs(n))
      },
      // r18: the calibration-loop serving row (one extra array lookup
      // over q157's scan — the ratio to match is q154/q157's) and the
      // per-language gate (ONE fused six-class scorer — the claim is
      // that serving six gates scales like serving one)
      "q184_calibrated_selection" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q184_calibrated_selection")(spark, dirs(n))
      },
      "q186_per_lang_gated" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q186_per_lang_gated_selection")(spark, dirs(n))
      },
      "q187_gate_accuracy" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q187_gate_accuracy_by_lang")(spark, dirs(n))
      },
      // r18 close: the round's own late additions get rows too (the
      // r17 lesson — late-round ops must not ship with prose-only
      // pricing). q185's draw table is qrels-bounded (judged probes),
      // q190's is discordant-bounded (flips scale with gate
      // disagreement, not the corpus), q188 composes q181's bounded
      // shapes with the fused six-class score, q189/q191 are map-side
      // passes into ≤11 report rows.
      "q185_mmr_significance" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q185_mmr_delta_significance")(spark, dirs(n))
      },
      "q188_mixture_per_lang" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q188_mixture_per_lang_scored")(spark, dirs(n))
      },
      "q189_gate_calibration" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q189_per_lang_gate_calibration")(spark, dirs(n))
      },
      "q190_gate_significance" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q190_gate_delta_significance")(spark, dirs(n))
      },
      "q191_calibration_staleness" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q191_calibration_staleness")(spark, dirs(n))
      },
      // r19: the held-out measurement surface (q192/q193 are the same
      // map-side report passes as q189/q187 plus one md5-parity filter
      // — the split predicate must not change the cost class), the
      // und-gated selection (one fused-scorer scan over a filtered
      // slice), and the exact-enumeration significance test (64 draws
      // × |langs| rows — corpus cost is the two pricing scans)
      "q192_heldout_calibration" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q192_heldout_calibration")(spark, dirs(n))
      },
      "q193_heldout_gate_accuracy" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q193_heldout_gate_accuracy")(spark, dirs(n))
      },
      "q194_und_gated_selection" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q194_und_gated_selection")(spark, dirs(n))
      },
      "q195_fertility_significance" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q195_fertility_delta_significance")(spark, dirs(n))
      },
      // q196: the fusion-weight significance test — its draw table is
      // bounded by the JUDGED query set (21 qrels queries), so corpus
      // growth should price only through the two leg scans (the q185
      // qrels-bounded argument, re-measured on the fusion side)
      "q196_fusion_significance" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q196_fusion_delta_significance")(spark, dirs(n))
      },
      // q197: the q159 rollup under the 1536-merge artifact — same
      // one-scan map-only class; the 32× merge table must price as a
      // constant factor (the r16 MergeIndex flatness claim, now
      // measured on a REGISTERED query), not a per-row scale term
      "q197_fertility_large_vocab" -> { n =>
        graft.queries.ExtensionQueries.queries(
          "q197_fertility_large_vocab")(spark, dirs(n))
      },
      // fixed 1× batch appended to the 1× vs N× serving stores — the
      // runVectorServingIngest per-batch unit (the two appends encode/
      // assign ONLY the batch and write new part files; nothing reads
      // the accumulated store, so the ratio to beat is 1.0)
      "q_vec_serving_append" -> { n =>
        val (idx, vec) = Option(serveStorePool(n).poll()).getOrElse(
          throw new IllegalStateException(
            "q_vec_serving_append: pristine-store pool exhausted at " +
              s"x$n — the pool sizes to warmup + SPARK_GRAFT_SCALE_REPS " +
              "invocations; raise reps if retiming beyond that"))
        val batch = embs(spark, dirs(scales.min))
          .filter(col("vec_id") % 10 === 0)
        SimilarityOps.appendToAnnIndex(spark, batch, idx,
          graft.ext.IvfCentroids.centroids,
          graft.ext.PqCodebooks.codebooks)
        SimilarityOps.appendToVectorStore(spark, batch, vec,
          nBuckets = 64)
        import spark.implicits._
        Seq(1).toDF("done")
      },
      // the composed q129/q132 recipe chains VERBATIM (single-definition
      // rule: these are the registered queries' own builders) — each
      // stage has its own scale row already; this measures whether the
      // COMPOSITION introduces a superlinear term the stages hide
      "q129_pretrain_recipe" -> { n =>
        val d = docs(spark, dirs(n))
        graft.queries.ExtensionQueries.pretrainRecipeChain(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0))
      },
      "q132_recipe_funnel" -> { n =>
        val d = docs(spark, dirs(n))
        graft.queries.ExtensionQueries.recipeFunnelReport(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0))
      },
      // the LEARNED recipe (q155): q129's stages with the classifier
      // gate + subword pricing — measures whether the learned scoring
      // adds anything beyond its map-only cost to the composition; the
      // budget scales with the corpus (a budget is relative, the q148
      // reasoning) so the selection stage stays meaningfully interior
      "q155_learned_recipe" -> { n =>
        val d = docs(spark, dirs(n)).filter(col("text").isNotNull)
        graft.queries.ExtensionQueries.pretrainRecipeChain(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0),
          scoreCol = round(TextOps.qualityLrScore(col("text")), 6),
          nTokCol = TextOps.subwordTokenCount(col("text")),
          budget =
            graft.queries.ExtensionQueries.LearnedRecipeBudget * n)
      },
      // token-stream packing (q156): shard count scales with the corpus
      // (the op's own file-size knob — per-shard work stays constant),
      // so the expected curve is ≈N× with the streams as the payload
      "q156_token_streams" -> { n =>
        PackOps.packTokenStreams(
          docs(spark, dirs(n)).filter(col("text").isNotNull), "doc_id",
          TextOps.subwordPieces(col("text")), budget = 512,
          nShards = 8 * n)
      },
      "q143_reencode_full" -> { n =>
        val c = SimilarityOps.reencodeAnnIndex(spark, embs(spark, dirs(n)),
          reencFullPath(n), annCents, annCbs)
        import spark.implicits._
        Seq(c).toDF("n")
      },
      "q144_bm25_from_store" -> (n =>
        RetrievalOps.bm25PerQueryFromStore(
          RetrievalOps.readLexicalStats(spark, lexStatsPath(n)),
          bm25Probe, "query_id", "term", "doc_id", k = 5)),
      // r19: the store-served ANN query (q120's registered shape) and
      // the full store-served hybrid chain (q166's, at the committed
      // ServingConfig knobs) — fixed probes against corpus-scaled
      // read-only stores; the expected curve is FLAT-ish (probed cells
      // grow with the corpus, but nprobe/nCells pruning admits a
      // constant fraction)
      "q120_ivfpq_from_stores" -> { n =>
        val e = embs(spark, dirs(n))
        val (idxP, vecP) = annStoreRo(n)
        val idx = SimilarityOps.annIndexStore(spark, e, idxP,
          graft.ext.IvfCentroids.centroids, graft.ext.PqCodebooks.codebooks)
        val vecs = SimilarityOps.vectorStore(spark, e, vecP, nBuckets = 64)
        SimilarityOps.ivfPqTopKFromStores(
          e.filter(col("vec_id").isin(graft.queries.ExtensionQueries.fusionVecProbeIds: _*)), idx, vecs, 64,
          graft.ext.IvfCentroids.centroids, graft.ext.PqCodebooks.codebooks,
          k = 5, nprobe = graft.ext.ServingConfig.annNprobe,
          refineFactor = graft.ext.ServingConfig.annRefineFactor)
      },
      "q166_hybrid_from_stores" -> { n =>
        val e = embs(spark, dirs(n))
        val (idxP, vecP) = annStoreRo(n)
        val idx = SimilarityOps.annIndexStore(spark, e, idxP,
          graft.ext.IvfCentroids.centroids, graft.ext.PqCodebooks.codebooks)
        val vecs = SimilarityOps.vectorStore(spark, e, vecP, nBuckets = 64)
        val lex = RetrievalOps.bm25PerQueryFromStore(
            RetrievalOps.readLexicalStats(spark, lexStatsPath(n)),
            bm25Probe, "query_id", "term", "doc_id", k = 5)
          .select(col("query_id"), col("doc_id").as("id"), col("rank"))
        val vec = SimilarityOps.ivfPqTopKFromStores(
            e.filter(col("vec_id").isin(graft.queries.ExtensionQueries.fusionVecProbeIds: _*)), idx, vecs, 64,
            graft.ext.IvfCentroids.centroids,
            graft.ext.PqCodebooks.codebooks,
            k = 5, nprobe = graft.ext.ServingConfig.annNprobe,
            refineFactor = graft.ext.ServingConfig.annRefineFactor)
          .select(col("probe_id").as("query_id"), col("cand_id").as("id"),
            col("rk").as("rank"))
        RetrievalOps.rrfFuse(Seq(lex, vec), "query_id", "id", "rank",
          k = 5, kRrf = graft.ext.ServingConfig.kRrf,
          weights = graft.ext.ServingConfig.legWeights)
      },
      // per-source budgets scale with the corpus (a budget is relative,
      // the q95 MixBudget reasoning); histogram probe stays ≤
      // |sources|·nBuckets rows regardless of corpus size
      "q148_budget_by_source" -> { n =>
        val d = docs(spark, dirs(n))
        DedupOps.tokenBudgetSelectBySource(
          d.withColumn("q", TextOps.qualityScore(col("text"))),
          "doc_id", "source", col("q"),
          size(TextOps.tokens(col("text"))).cast("long"),
          graft.queries.ExtensionQueries.SourceBudgets
            .map { case (s2, b) => s2 -> b * n })
      },
      "q118_bm25_per_query" -> (n =>
        RetrievalOps.bm25PerQuery(docs(spark, dirs(n)), bm25Probe,
          "query_id", "term", "doc_id", "text", k = 5)),
      // the learned-subword encode pass (q150's pricing scalar): a
      // native map-only expression — one scan + partial agg, no
      // shuffle, so the curve should be ≈N×
      "q150_subword_encode" -> { n =>
        docs(spark, dirs(n)).agg(
          sum(TextOps.subwordTokenCount(col("text")))
            .as("total_subword"))
      },
      // the fused multiclass classifier pass (q154's scorer): grams
      // hash once, dot k weight vectors — map-only, same ≈N× shape
      "q154_langid_score" -> { n =>
        import graft.ext.LangIdWeights
        docs(spark, dirs(n)).agg(
          sum(element_at(org.apache.spark.sql.graft.SubwordFunctions
            .hashedGramScoreVec(col("text"),
              LangIdWeights.weights.map(_.toIndexedSeq),
              LangIdWeights.biases), 1)).as("score_mass"))
      },
      "q27_minhash_neardup" -> (n => minhashPairs(docs(spark, dirs(n)))),
      "q53_connected_components" -> (n =>
        DedupOps.connectedComponents(
          docs(spark, dirs(n)).select(col("doc_id")), "doc_id",
          spark.read.parquet(ccPairsPath(n)))),
      // q85's registered chain end-to-end: Σ(bucket²)-bounded LSH pair
      // generation feeding frontier-delta CC over the FULL doc table
      "q85_lsh_cc" -> { n =>
        val d = docs(spark, dirs(n))
        DedupOps.connectedComponents(
          d.select(col("doc_id")), "doc_id", minhashPairs(d))
      },
      "q56_neardup_dedup" -> { n =>
        val d = docs(spark, dirs(n))
        DedupOps.clusterDedup(d, "doc_id", minhashPairs(d))
          .select(col("doc_id"), col("lang"))
      },
      "q59_clean_corpus" -> (n =>
        graft.queries.ExtensionQueries.cleanCorpusChain(docs(spark, dirs(n)))),
      "q64_quality_sample" -> (n =>
        graft.queries.ExtensionQueries.qualityBandedSample(docs(spark, dirs(n)))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_kept"))),
      "q60_lsh_neardup_fixed" -> (n =>
        SimilarityOps.lshNearDupPairs(embs(spark, dirs(n)), minSim = 0.3)),
      "q60_lsh_neardup_scaled" -> (n =>
        SimilarityOps.lshNearDupPairs(embs(spark, dirs(n)), minSim = 0.3,
          bitsPerBand = SimilarityOps.bitsForScale(nVecs(n)))),
      "q74_knn_graph_fixed" -> (n =>
        SimilarityOps.knnGraph(embs(spark, dirs(n)), k = 3)),
      "q74_knn_graph_scaled" -> (n =>
        SimilarityOps.knnGraph(embs(spark, dirs(n)), k = 3,
          bitsPerBand = SimilarityOps.bitsForScale(nVecs(n)))),
      "q75_embed_curation_fixed" -> (n =>
        embedCuration(embs(spark, dirs(n)), bits = 4)),
      "q75_embed_curation_scaled" -> (n =>
        embedCuration(embs(spark, dirs(n)),
          bits = SimilarityOps.bitsForScale(nVecs(n)))),
      // SimHash band buckets come from the signature bits themselves
      // (4×15-bit bands, portable) — no size knob to turn; the id bound
      // scales with n because ScaleGen interleaves ids
      "q28_simhash_neardup" -> { n =>
        DedupOps.simHashNearDupPairs(
          docs(spark, dirs(n)).filter(col("doc_id") < 2000L * n),
          maxHamming = 6, portable = true)
      },
      "q67_chunk_dedup" -> (n =>
        DedupOps.chunkDedup(docs(spark, dirs(n)), "doc_id", "text",
          chunkTokens = 8)),
      // perceptual image near-dup: decode+dhash is map-only; GROUPS scale
      // with the corpus (clusters multiply, never deepen — the ScaleGen
      // rule applied to the synthetic image corpus), so near-dup cluster
      // sizes hold constant and candidate pairs grow ~linearly
      "q99_image_neardup" -> { n =>
        val ids = docs(spark, dirs(n)).filter(col("doc_id") < 300L * n)
        graft.ext.MultimodalOps.imageNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticPpmImages(spark, ids,
            groups = 50 * n).toDF(), maxHamming = 10)
      },
      // perceptual audio near-dup: same posture as q99 (decode+hash
      // map-only, groups scale with the corpus)
      "q101_audio_neardup" -> { n =>
        val ids = docs(spark, dirs(n)).filter(col("doc_id") < 300L * n)
        graft.ext.MultimodalOps.audioNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticWavs(spark, ids,
            groups = 50 * n).toDF(), maxHamming = 10)
      },
      // video frame-set near-dup: q99/q101 posture (map-only fingerprint,
      // groups scale with the corpus → constant cluster sizes)
      "q102_video_neardup" -> { n =>
        val ids = docs(spark, dirs(n)).filter(col("doc_id") < 200L * n)
        graft.ext.MultimodalOps.videoFrameNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticVideos(spark, ids,
            groups = 40 * n).toDF(), everyN = 2)
      },
      // the multimodal flagship end-to-end: three modality pair scans +
      // union + frontier-delta CC; every modality's groups scale with
      // the corpus so cluster sizes hold
      "q103_multimodal_dedup" -> { n =>
        val ids = docs(spark, dirs(n)).filter(col("doc_id") < 200L * n)
        val img = graft.ext.MultimodalOps.imageNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticPpmImages(spark, ids,
            groups = 50 * n).toDF(), maxHamming = 4)
        val aud = graft.ext.MultimodalOps.audioNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticWavs(spark, ids,
            groups = 50 * n).toDF(), maxHamming = 4)
        val vid = graft.ext.MultimodalOps.videoFrameNearDupPairs(spark,
          graft.ext.MultimodalOps.syntheticVideos(spark, ids,
            groups = 40 * n).toDF(), everyN = 2)
        val pairs = img.select(col("id_a"), col("id_b"))
          .union(aud.select(col("id_a"), col("id_b")))
          .union(vid.select(col("id_a"), col("id_b")))
        DedupOps.clusterDedup(ids.select(col("doc_id"), col("source")),
          "doc_id", pairs)
      },
      // skew-aware join: the decide measurement is one partial-agg scan
      // (flat per row); the salted join spreads a planted hot key
      // carrying ~70% of all rows — the case AQE's one-sided skew split
      // cannot fully fix
      "q100_skew_aware_join" -> { n =>
        val d = docs(spark, dirs(n)).select(col("doc_id"),
          when(col("doc_id") % 1000 < 700, 0L)
            .otherwise(col("doc_id") % 1000).as("k"))
        val dim = d.select(col("k")).distinct()
          .withColumn("cohort", pmod(col("k"), lit(7)))
        graft.ext.JoinOps.skewAwareJoin(d, dim, Seq("k"))
          .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
      },
      // corpus-level boilerplate: df threshold scales with the corpus
      // (ScaleGen replicas are near-disjoint in shingle space, so a FIXED
      // df would stop flagging at 10× — commonness is relative to corpus
      // size, the same reasoning as bitsForScale)
      "q90_boilerplate" -> (n =>
        TextOps.boilerplateMetrics(docs(spark, dirs(n)), "doc_id", "text",
          k = 3, maxDf = 3L * n, maxCommonFrac = 0.5)),
      // TakeOrderedAndProject + per-key partial agg: both classically flat
      "q96_key_skew" -> (n =>
        graft.ext.ProfileOps.keySkew(
          docs(spark, dirs(n)).select(col("source")), "source", topN = 10)),
      "q97_exact_sample" -> (n =>
        DedupOps.exactSample(docs(spark, dirs(n)).select(col("doc_id")),
          "doc_id", k = 40 * n, seed = 3L)), // sample size scales with
                                             // corpus (a sample is relative)
      // one shuffle + shard-local sort: should track data size linearly.
      // Params are the REGISTERED q94's (shared constants)
      "q94_epoch_shuffle" -> (n =>
        graft.ext.PackOps.epochShuffle(
          docs(spark, dirs(n)).select(col("doc_id")), "doc_id",
          graft.queries.ExtensionQueries.EpochSeed,
          graft.queries.ExtensionQueries.EpochShards)),
      // agg pass + broadcast rates + map-only keep: scan-bound. Targets
      // are the REGISTERED q95's; budget scales with the corpus — a mix
      // target is relative, like bitsForScale / q90's maxDf
      "q95_target_mix" -> (n =>
        DedupOps.targetMixSample(docs(spark, dirs(n)), "doc_id", "source",
          size(TextOps.tokens(col("text"))),
          graft.queries.ExtensionQueries.MixTargets,
          budgetTokens = graft.queries.ExtensionQueries.MixBudget * n)),
      // fixed 1× batch vs a corpus-scaled signature store: the ingest
      // plan signs ONLY the batch and band-joins the store scan
      "q93_incremental_ingest" -> (n =>
        DedupOps.incrementalNearDupFlags(
          docs(spark, dirs(scales.min)).filter(col("doc_id") % 3 === 0),
          spark.read.parquet(sigStorePath(n)),
          k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.8)),
      // both decontamination formulations, same split (doc_id % 50):
      // the exact broadcast join vs the Bloom-prefilter path — identical
      // output, different cost shape as the corpus grows
      "q63_decontam" -> { n =>
        val d = docs(spark, dirs(n))
        TextOps.contaminationFlags(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 3)
      },
      "q92_bloom_decontam" -> { n =>
        val d = docs(spark, dirs(n))
        TextOps.contaminationFlagsBloom(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 3)
      },
      "q65_seq_packing" -> (n =>
        graft.ext.PackOps.packSummary(docs(spark, dirs(n)), "doc_id",
          size(TextOps.tokens(col("text"))), budget = 512, nShards = 8)),
      // SemDeDup: within-cell pairing is Sigma(cell^2) — `fixed` keeps the
      // committed 10 cells (cell sizes grow with the corpus: the expected
      // quadratic), `scaled` refits nCells = 10n so cell sizes hold.
      // ScaleGen replicas are cross-orthogonal (cos ~ 0 < minSim), so dup
      // structure multiplies without deepening and CC rounds stay put.
      "q104_semantic_dedup_fixed" -> (n =>
        SimilarityOps.semanticDedup(embs(spark, dirs(n)),
          graft.ext.IvfCentroids.centroids, minSim = 0.3)),
      "q104_semantic_dedup_scaled" -> (n =>
        SimilarityOps.semanticDedup(embs(spark, dirs(n)),
          scaledCents(n), minSim = 0.3)),
      // cross-doc span coverage: explode → two uniform-key aggs → mark
      // join → doc rollup, all linear terms; minDocs stays 2 (duplication
      // is absolute — unlike q90's maxDf, which is relative commonness)
      "q105_dup_span_coverage" -> (n =>
        TextOps.crossDocSpanStats(docs(spark, dirs(n)), "doc_id", "text",
          5, 2L, 0.5)),
      // fixed 1× batch vs the corpus-scaled embedding store
      "q106_incremental_semantic_fixed" -> (n =>
        SimilarityOps.incrementalSemanticDupFlags(
          embs(spark, dirs(scales.min)).filter(col("vec_id") % 3 === 0),
          spark.read.parquet(embStoreFixed(n)),
          graft.ext.IvfCentroids.centroids, minSim = 0.3)),
      "q106_incremental_semantic_scaled" -> (n =>
        SimilarityOps.incrementalSemanticDupFlags(
          embs(spark, dirs(scales.min)).filter(col("vec_id") % 3 === 0),
          spark.read.parquet(embStoreScaled(n)),
          scaledCents(n), minSim = 0.3)),
      // train counts + one doc-keyed score shuffle: both sides scale with
      // the corpus, every term linear
      "q107_lm_backoff" -> { n =>
        val d = docs(spark, dirs(n))
        TextOps.lmScoreBackoff(
          d.filter(col("doc_id") % 3 === 0),
          d.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", minAvgLogp = -3.5)
      },
      // zone-map read of a FIXED key slice over a corpus-scaled layout:
      // the sidecar admits a constant file subset, so the read should be
      // flat while the corpus (and its file count) grows 10×
      "q108_pruned_scan" -> (n =>
        graft.ext.SinkOps.readPrunedRange(spark, zonePath(n), "doc_id",
            3000L, 6000L)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))),
      // the full IVF lifecycle at scale: REFIT the quantizer on the
      // corpus (the committed-centroid form pins 1× fixture literals for
      // its oracle), then the pruned query pass
      "q31_ann_ivf_refit" -> { n =>
        val e = embs(spark, dirs(n))
        SimilarityOps.ivfTopK(e.filter(col("vec_id") < 10L * n), e,
          k = 5, nprobe = 3, nCells = 10)
      },
      // the documented 100 TB fit: Lloyd on a hash-sample held CONSTANT at
      // the 1× corpus size (sampleOneIn grows with the corpus), so the fit
      // term stops scaling with data; the chain's residual growth is the
      // probe workload (10× probes × 10× candidates through the
      // nprobe/nCells-pruned scoring join), which the fit knob cannot and
      // should not hide
      "q31_ann_ivf_refit_sampled" -> { n =>
        val e = embs(spark, dirs(n))
        val oneIn = math.max(1L, nVecs(n) / nVecs(scales.min)).toInt
        SimilarityOps.ivfTopK(e.filter(col("vec_id") < 10L * n), e,
          k = 5, nprobe = 3, nCells = 10, sampleOneIn = oneIn)
      },
      // fit ISOLATED (no query phase): what sampleOneIn is for. The fit is
      // driver-synchronized Lloyd iterations, so the timed unit is the
      // whole fitCentroids call; the centroids come back as a literal
      // DataFrame only so the harness has something to sink.
      "q31_ivf_fit_full" -> { n =>
        val cents = SimilarityOps.fitCentroids(
          embs(spark, dirs(n)), "embedding", nCells = 10)
        import spark.implicits._
        cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("cell", "centroid")
      },
      "q31_ivf_fit_sampled" -> { n =>
        val oneIn = math.max(1L, nVecs(n) / nVecs(scales.min)).toInt
        val cents = SimilarityOps.fitCentroids(
          embs(spark, dirs(n)), "embedding", nCells = 10,
          sampleOneIn = oneIn)
        import spark.implicits._
        cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
          .toSeq.toDF("cell", "centroid")
      })

    // dev knob, mirrors Bench's SPARK_GRAFT_ONLY: subset the suite so an
    // added pipeline can be measured without re-paying the deliberately
    // quadratic fixed-banding rows
    val selected = suite.filter { case (n, _) => wanted(n) }

    def jstr(s: String) = "\"" + s + "\""
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]

    // Warmup (untimed): JIT + parquet footers at the smallest scale.
    selected.foreach { case (_, fn) =>
      try fn(scales.min).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    for ((name, fn) <- selected; n <- scales) {
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        fn(n).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // one failing (query, scale) pair must not abort the multi-hour run
      // and lose every already-measured point from the durable record
      try {
        val first = runOnce()
        // min-of-reps for jitter, but a multi-minute superlinear run needs
        // no second confirmation — noise is a rounding error at that size.
        val best = (first +: (2 to reps).collect {
          case _ if first < 60.0 => runOnce()
        }).min
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty) += n -> best
        println(s"""{"query":${jstr(name)},"scale":$n,"sec":$best}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scale] $name@${n}x failed: " +
          e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
      }
    }

    val lines = results.map { case (name, byScale) =>
      val ts = byScale.map { case (n, t) => s""""x$n":$t""" }.mkString(",")
      val ratio =
        for (lo <- byScale.get(scales.min); hi <- byScale.get(scales.max))
          yield hi / lo
      jstr(name) + ":{" + ts +
        ratio.fold("")(r => s""","ratio":${math.round(r * 100) / 100.0}""") + "}"
    }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"scale_curve","scales":${scales.mkString("[", ",", "]")},""" +
        s""""n_vecs":${scales.map(nVecs).mkString("[", ",", "]")},""" +
        s""""queries":$lines}"""
    println(summary)
    // a subset run must not clobber the canonical full record
    val outName =
      if (only.isDefined) "scale_curve_partial.json" else "scale_curve.json"
    val w = new java.io.PrintWriter(
      new java.io.File(s"$workDir/$outName"), "UTF-8")
    try w.println(summary) finally w.close()
    spark.stop()
  }
}
