package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("cosine: identical→1, orthogonal→0, opposite→-1") {
    val df = Seq((Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
    val r = df.select(round(SimilarityOps.cosine(col("a"), col("b")), 9))
      .collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(1.0, 0.0, -1.0))
  }

  test("bruteForceTopK ranks by similarity with deterministic ties") {
    val data = vecs(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f), 0),   // closest to 0
      (2L, Seq(0f, 1f, 0f), 1),
      (3L, Seq(0.5f, 0.5f, 0f), 1))
    val r = SimilarityOps.bruteForceTopK(
      data.filter(col("vec_id") === 0), data, k = 2)
      .orderBy("rk").collect()
    assert(r.map(_.getLong(2)).toSeq == Seq(1L, 3L))
    assert(r(0).getInt(1) == 1 && r(1).getInt(1) == 2)
  }

  test("blockedNearDupPairs only pairs within a block") {
    val data = vecs(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0.01f), 0),
      (2L, Seq(1f, 0f), 1))  // identical to 0 but different block
    val r = SimilarityOps.blockedNearDupPairs(data, "label", minSim = 0.9)
      .collect()
    assert(r.length == 1)
    assert((r(0).getLong(1), r(0).getLong(2)) == ((0L, 1L)))
  }

  test("ivfTopK: full recall on an unlabeled non-64-dim corpus") {
    // dim is inferred (2-dim here) and cells come from the k-means fit, not
    // a label column — the two round-1 weaknesses this guards against.
    val data = vecs(
      (0L, Seq(1f, 0f), 9), (1L, Seq(0.95f, 0.05f), 9),
      (2L, Seq(0.9f, 0.1f), 9),
      (3L, Seq(0f, 1f), 9), (4L, Seq(0.05f, 0.95f), 9))
      .drop("label") // genuinely unlabeled
    val brute = SimilarityOps.bruteForceTopK(
      data.filter(col("vec_id") === 0), data, k = 2)
      .collect().map(_.getLong(2)).toSet
    val ivf = SimilarityOps.ivfTopK(
      data.filter(col("vec_id") === 0), data, k = 2, nprobe = 2, nCells = 2)
      .collect().map(_.getLong(2)).toSet
    assert(ivf == brute)
  }

  test("ivfTopK recall vs exact top-k on the real (unlabeled) fixture") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .drop("label")
    val probes = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(SimilarityOps.bruteForceTopK(probes, e, 5))
    val ivf = pairs(SimilarityOps.ivfTopK(probes, e, 5, nprobe = 3,
      nCells = 10, maxIters = 8))
    // deterministic init (xxhash64 order) → stable recall across runs.
    // Measured 0.70 — the round-1 label-column cells scored 0.42 at the
    // same nprobe/nCells, so the learned quantizer is a real improvement.
    val recall = truth.intersect(ivf).size.toDouble / truth.size
    assert(recall >= 0.68, s"recall@5 = $recall")
  }

  test("centroid save/load round-trips; prefit query matches one-shot") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .drop("label")
    val cents = SimilarityOps.fitCentroids(e, "embedding", nCells = 4)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    SimilarityOps.saveCentroids(spark, cents, path)
    val loaded = SimilarityOps.loadCentroids(spark, path)
    assert(loaded.length == cents.length)
    assert(loaded.zip(cents).forall { case (a, b) => a.sameElements(b) })
    val probes = e.filter(col("vec_id") < 3)
    val oneShot = SimilarityOps.ivfTopKWithCentroids(probes, e, cents, 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val prefit = SimilarityOps.ivfTopKWithCentroids(probes, e, loaded, 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(oneShot == prefit)
  }

  test("fitCentroids: centroids are unit vectors; assignment covers cells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = SimilarityOps.fitCentroids(e, "embedding", nCells = 4)
    assert(cents.length == 4)
    assert(cents.forall(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
    val assigned = SimilarityOps.withUnitVec(e, "embedding", "u")
      .select(SimilarityOps.cellOf(col("u"), cents).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(assigned.subsetOf((0 until 4).toSet) && assigned.size >= 2)
  }

  test("cellOf quarantines non-finite vectors (null cell), never " +
      "assigns them to cell 0") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val rows = Seq(
      Seq(Double.NaN, 0.5),              // NaN component → every dot NaN
      Seq(Double.PositiveInfinity, 0.0), // Inf·0 = NaN against centroid 1
      Seq(0.6, 0.8)                      // finite control
    ).toDF("u")
      .select(SimilarityOps.cellOf(col("u"), cents).as("cell"))
      .collect()
    // a NaN dot makes the argmax meaningless; Java's `>` is false for NaN
    // so an unguarded loop would silently dump such vectors into cell 0 —
    // poisoning that centroid in fitCentroids and (NaN sorts largest in
    // Spark) rank-1 of every cell-0 probe
    assert(rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
    assert(rows(2).getInt(0) == 1)
  }

  test("hyperplaneLshTopK recall vs exact top-k on the real fixture") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(SimilarityOps.bruteForceTopK(probes, e, 5))
    val lsh = pairs(SimilarityOps.hyperplaneLshTopK(probes, e, 5))
    // deterministic seed → stable recall; 0.74 measured at 8 bands × 4 bits
    val recall = truth.intersect(lsh).size.toDouble / truth.size
    assert(recall >= 0.65, s"recall@5 = $recall")
  }

  test("knnGraph restricted to the probe set equals hyperplaneLshTopK") {
    // same planes, same buckets, same tie-break — the graph rows for a
    // source must be exactly that source's probe top-k
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .drop("label")
    val graph = SimilarityOps.knnGraph(e, k = 5)
      .filter(col("src") < 10)
      .select(col("src"), col("rk"), col("dst"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val topk = SimilarityOps.hyperplaneLshTopK(e.filter(col("vec_id") < 10), e, 5)
      .select(col("probe_id"), col("rk"), col("cand_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(graph == topk)
  }

  test("two-stage int8 IVF scoring is bit-identical to exact scoring of " +
      "the same probed cells (driver-side oracle, coarse filter pruning)") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val n = 400
    val raw = (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = raw.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") < 5)
    val k = 5; val nprobe = 2
    val cents = SimilarityOps.fitCentroids(df, "embedding", nCells = 4)
    def run(f: => org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = run(SimilarityOps
      .ivfTopKWithCentroids(probes, df, cents, k, nprobe))
    val gotInt8 = run(SimilarityOps
      .ivfTopKWithCentroidsInt8(probes, df, cents, k, nprobe))

    // independent driver-side reference of the SINGLE-stage semantics
    def unit(v: Seq[Float]): Array[Double] = {
      val d = v.map(_.toDouble).toArray
      val nm = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / nm)
    }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val units = raw.map { case (id, v) => id -> unit(v) }.toMap
    // candidate cell = argmax centroid dot, ties to the lowest cell id
    val cellOfId = units.map { case (id, u) =>
      val sims = cents.map(c => dot(u, c))
      id -> sims.indexOf(sims.max)
    }
    val want = (0L until 5L).flatMap { pid =>
      val pu = units(pid)
      val probedCells = cents.indices
        .map(c => (c, dot(pu, cents(c))))
        .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1).toSet
      raw.map(_._1)
        .filter(cid => cid != pid && probedCells(cellOfId(cid)))
        .map(cid => (cid, round6(dot(pu, units(cid)))))
        .sortBy { case (cid, s) => (-s, cid) }
        .take(k).zipWithIndex
        .map { case ((cid, s), i) => (pid, i + 1, cid, s) }
    }.toSet
    assert(got == want)
    assert(gotInt8 == want,
      "two-stage int8 variant must be bit-identical to the exact path")
    // sanity: the coarse filter had something to prune (cells ≫ k')
    val cellSizes = cellOfId.values.groupBy(identity).map(_._2.size)
    assert(cellSizes.max > 10 * k)
  }

  test("q98's coarse stage actually runs the int8 kernels (plan-asserted: " +
      "the identical-to-q31 oracle alone can't see a silent exact fallback)") {
    val df = graft.queries.ExtensionQueries.queries("q98_ann_ivf_int8")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("int8_dot"),
      s"coarse scoring must use Int8Dot:\n${plan.take(4000)}")
    assert(plan.contains("int8_unit_quantize"),
      s"both join sides must quantize:\n${plan.take(4000)}")
    assert(plan.contains("nearest_cell"),
      s"cell assignment must stay the fused kernel:\n${plan.take(4000)}")
  }

  test("semanticDedup: within-cell clusters merge, the LEAST-centroid-like " +
      "member is kept, cross-cell near pairs never edge") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val data = vecs(
      (0L, Seq(1f, 0f), 0),      // cell 0, csim 1.0
      (1L, Seq(0.9f, 0.1f), 0),  // cell 0, csim ~0.994
      (2L, Seq(0.8f, 0.2f), 0),  // cell 0, csim ~0.970 — the atypical one
      (3L, Seq(0f, 1f), 0),      // cell 1 singleton
      // a cross-cell near pair (cos ~0.999): straddles the boundary, so
      // SemDeDup — by the paper's own approximation — keeps BOTH
      (4L, Seq(0.72f, 0.69f), 0), // cell 0
      (5L, Seq(0.69f, 0.72f), 0)  // cell 1
    ).drop("label")
    val r = SimilarityOps.semanticDedup(data, cents, minSim = 0.97)
      .orderBy("vec_id").collect()
    val byId = r.map(x => x.getLong(0) ->
      ((x.getInt(1), x.getLong(3), x.getBoolean(4)))).toMap
    // {0,1,2} one component labeled 0; keep = 2 (lowest csim)
    assert(byId(0L) == ((0, 0L, false)))
    assert(byId(1L) == ((0, 0L, false)))
    assert(byId(2L) == ((0, 0L, true)))
    // singleton keeps itself
    assert(byId(3L) == ((1, 3L, true)))
    // cross-cell pair: different cells, both singletons, both kept
    assert(byId(4L)._1 == 0 && byId(5L)._1 == 1)
    assert(byId(4L)._3 && byId(5L)._3)
    // csim is the rounded own-centroid dot
    val c2 = r.find(_.getLong(0) == 2L).get.getDouble(2)
    assert(math.abs(c2 - 0.8 / math.sqrt(0.8 * 0.8 + 0.2 * 0.2)) < 2e-6)
  }

  test("semanticDedup: cell assignment stays the fused NearestCell kernel " +
      "(plan-asserted)") {
    val df = graft.queries.ExtensionQueries.queries("q104_semantic_dedup")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_cell"),
      s"cell assignment must stay the fused kernel:\n${plan.take(4000)}")
  }

  test("embedding ingest loop: store + incremental flags + append " +
      "(second batch dedups against the first's accepted rows)") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val path = java.nio.file.Files
      .createTempDirectory("graft-embstore").resolve("emb").toString
    val corpus = vecs((10L, Seq(1f, 0f), 0)).drop("label")
    SimilarityOps.embeddingStore(spark, corpus, path, cents)
    // near-dup of the corpus row flags; the cell-1 row is clean even
    // though it is a near-dup of NOTHING in its own cell
    val batch1 = vecs((20L, Seq(0.99f, 0.01f), 0), (21L, Seq(0f, 1f), 0))
      .drop("label")
    val f1 = SimilarityOps.incrementalSemanticDupFlags(batch1,
        spark.read.parquet(path), cents, minSim = 0.97)
      .orderBy("vec_id").collect()
    assert(f1(0).getAs[Boolean]("dup") && f1(0).getAs[Long]("n_dups") == 1L)
    assert(!f1(1).getAs[Boolean]("dup"))
    // accept only the clean row, append, and batch 2's clone of it flags
    val n = SimilarityOps.appendToEmbeddingStore(spark,
      batch1.filter(col("vec_id") === 21L), path, cents)
    assert(n == 1L)
    val batch2 = vecs((30L, Seq(0f, 1f), 0)).drop("label")
    val f2 = SimilarityOps.incrementalSemanticDupFlags(batch2,
        spark.read.parquet(path), cents, minSim = 0.97).collect()
    assert(f2.head.getAs[Boolean]("dup") && f2.head.getAs[Long]("n_dups") == 1L)
    // append to an unpublished path refuses loudly
    val e = intercept[IllegalArgumentException](
      SimilarityOps.appendToEmbeddingStore(spark, batch2,
        java.nio.file.Files.createTempDirectory("graft-noemb")
          .resolve("x").toString, cents))
    assert(e.getMessage.contains("no published embedding store"))
  }

  test("compactEmbeddingStore: fewer files, bit-identical contents, " +
      "replay-duplicate rows healed, flags unchanged") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val path = java.nio.file.Files
      .createTempDirectory("graft-embcompact").resolve("emb").toString
    SimilarityOps.embeddingStore(spark,
      vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0)).drop("label"),
      path, cents)
    // 6 appends across both cells — small files pile up per cell dir
    (10L to 15L).foreach { i =>
      SimilarityOps.appendToEmbeddingStore(spark,
        vecs((i, if (i % 2 == 0) Seq(1f, 0f) else Seq(0f, 1f), 0))
          .drop("label"), path, cents)
    }
    // a crash-replay duplicate row (same vec_id appended twice)
    SimilarityOps.appendToEmbeddingStore(spark,
      vecs((15L, Seq(0f, 1f), 0)).drop("label"), path, cents)
    def snapshot() = spark.read.parquet(path)
      .select(col("vec_id"), col("cell"), col("u")).distinct()
      .orderBy(col("vec_id")).collect().toSeq
    val beforeRows = snapshot()
    val (nBefore, nAfter) = SimilarityOps.compactEmbeddingStore(spark, path)
    assert(nAfter < nBefore, s"expected compaction: $nBefore -> $nAfter")
    assert(nAfter == 2) // one file per cell
    assert(snapshot() == beforeRows)
    // the replay duplicate collapsed to one physical row
    assert(spark.read.parquet(path).filter(col("vec_id") === 15L)
      .count() == 1L)
    // and the store still answers ingest queries identically
    val f = SimilarityOps.incrementalSemanticDupFlags(
      vecs((99L, Seq(1f, 0f), 0)).drop("label"),
      spark.read.parquet(path), cents, minSim = 0.97).collect()
    assert(f.head.getAs[Boolean]("dup"))
  }

  test("compactEmbeddingStore: a swap interrupted mid-rename parks the " +
      "store recoverably; the next call restores and compacts it") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val parent = java.nio.file.Files.createTempDirectory("graft-emb-crash")
    val path = parent.resolve("emb").toString
    SimilarityOps.embeddingStore(spark,
      vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0)).drop("label"),
      path, cents)
    def snapshot() = spark.read.parquet(path)
      .select(col("vec_id"), col("cell"), col("u"))
      .orderBy(col("vec_id")).collect().toSeq
    val beforeRows = snapshot()
    // the state a kill between StoreSwap's two renames leaves behind:
    // dst gone, the published old store parked under a .old aside
    java.nio.file.Files.move(parent.resolve("emb"),
      parent.resolve(".emb.old-deadbeef"))
    assert(!new java.io.File(path).exists())
    SimilarityOps.compactEmbeddingStore(spark, path)
    assert(snapshot() == beforeRows)
    assert(new java.io.File(path, "_SUCCESS").exists())
    assert(!parent.resolve(".emb.old-deadbeef").toFile.exists())
  }

  // 2D fixture quantizer for the ANN index lifecycle specs: 2 cells on
  // the axes, m=2 single-coordinate subspaces with a 2-entry codebook each
  private val annCents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
  private val annCbs: Array[Array[Array[Double]]] =
    Array(Array(Array(0.0), Array(1.0)), Array(Array(0.0), Array(1.0)))

  test("ANN index ingest loop: build + append + query from the store " +
      "equals the inline ivfPqTopK on the same corpus") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-annidx").resolve("idx").toString
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.7f, 0.7f), 0)).drop("label")
    val probes = corpus.filter(col("vec_id") <= 2L)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rk").collect().toSeq
    // build on the first 3 rows, append the rest — the store must answer
    // exactly what the inline encode over the FULL corpus answers
    val index = SimilarityOps.annIndexStore(spark,
      corpus.filter(col("vec_id") <= 3L), path, annCents, annCbs)
    val n = SimilarityOps.appendToAnnIndex(spark,
      corpus.filter(col("vec_id") > 3L), path, annCents, annCbs)
    assert(n == 2L)
    val fromStore = run(SimilarityOps.ivfPqTopKFromStore(probes,
      spark.read.parquet(path), corpus, annCents, annCbs,
      k = 3, nprobe = 2, refineFactor = 2))
    val inline = run(SimilarityOps.ivfPqTopK(probes, corpus, annCents,
      annCbs, k = 3, nprobe = 2, refineFactor = 2))
    assert(fromStore == inline)
    assert(fromStore.nonEmpty)
    // append to an unpublished path refuses loudly
    val e = intercept[IllegalArgumentException](
      SimilarityOps.appendToAnnIndex(spark, corpus,
        java.nio.file.Files.createTempDirectory("graft-noidx")
          .resolve("x").toString, annCents, annCbs))
    assert(e.getMessage.contains("no published ANN index"))
  }

  test("annRecallReport: full probing + wide shortlist is recall 1.0; " +
      "nprobe=1 loses the cross-cell neighbor and the report says so") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-annrecall").resolve("idx").toString
    // probe 1 lives in cell 0; vec 5 sits between the cells, so its
    // exact-top-2 membership for probe 1 survives only if cell 1 is
    // probed too (5's own-cell is decided by the tie-break on the axes)
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0)).drop("label")
    val index = SimilarityOps.annIndexStore(spark, corpus, path,
      annCents, annCbs)
    def report(nprobe: Int) = SimilarityOps.annRecallReport(
        corpus.filter(col("vec_id") <= 2L), index, corpus, annCents,
        annCbs, k = 2, nprobe = nprobe, refineFactor = 4)
      .orderBy("probe_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // degeneracy: probing every cell with a shortlist covering the whole
    // corpus makes the approximate side exact — recall 1.0 for all probes
    assert(report(nprobe = 2) ==
      Seq((1L, 2, 1.0), (2L, 2, 1.0)))
    // nprobe=1: vec 5 encodes into cell 1 (unit 0.6,0.8 → y-axis wins),
    // so probe 1's exact neighbor set {2, 5} is only partially reachable
    val narrow = report(nprobe = 1)
    assert(narrow.map(_._1) == Seq(1L, 2L))
    assert(narrow.exists(_._3 < 1.0))
    assert(narrow.forall { case (_, h, r) => r == h / 2.0 && h >= 0 })
  }

  test("annRecallSweep: each sweep point equals the per-point " +
      "annRecallReport, and the index scans ONCE for the whole sweep") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-annsweep").resolve("idx").toString
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0), (6L, Seq(0.8f, 0.6f), 0)).drop("label")
    val probes = corpus.filter(col("vec_id") <= 2L)
    val index = SimilarityOps.annIndexStore(spark, corpus, path,
      annCents, annCbs)
    val sweep = SimilarityOps.annRecallSweep(probes, index, corpus,
      annCents, annCbs, k = 2, nprobes = Seq(1, 2), refineFactor = 4)
    val got = sweep.orderBy("nprobe", "probe_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq
    val want = Seq(1, 2).flatMap { np =>
      SimilarityOps.annRecallReport(probes, index, corpus, annCents,
          annCbs, k = 2, nprobe = np, refineFactor = 4)
        .orderBy("probe_id").collect()
        .map(r => (np, r.getLong(0), r.getInt(1), r.getDouble(2)))
    }
    assert(got == want)
    assert(got.size == 4)
    // one pass over the persisted index: the sweep axis is an explode
    // over already-scored rows, not a per-point re-scan
    val plan = sweep.queryExecution.executedPlan.toString
    val idxScans = "graft-annsweep".r.findAllIn(plan).size
    assert(idxScans <= 1, s"index scanned $idxScans times:\n$plan")
    // invalid sweeps refuse loudly
    intercept[IllegalArgumentException](
      SimilarityOps.annRecallSweep(probes, index, corpus, annCents,
        annCbs, k = 2, nprobes = Seq(2, 2)))
  }

  test("annRecallGrid: every (nprobe, refineFactor) point equals the " +
      "per-point annRecallReport") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-anngrid").resolve("idx").toString
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0), (6L, Seq(0.8f, 0.6f), 0),
      (7L, Seq(0.95f, 0.05f), 0)).drop("label")
    val probes = corpus.filter(col("vec_id") <= 2L)
    val index = SimilarityOps.annIndexStore(spark, corpus, path,
      annCents, annCbs)
    val got = SimilarityOps.annRecallGrid(probes, index, corpus,
        annCents, annCbs, k = 2, nprobes = Seq(1, 2),
        refineFactors = Seq(1, 3))
      .orderBy("nprobe", "refine_factor", "probe_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4))).toSeq
    val want = for (np <- Seq(1, 2); rf <- Seq(1, 3);
        row <- SimilarityOps.annRecallReport(probes, index, corpus,
            annCents, annCbs, k = 2, nprobe = np, refineFactor = rf)
          .orderBy("probe_id").collect())
      yield (np, rf, row.getLong(0), row.getInt(1), row.getDouble(2))
    assert(got == want)
    assert(got.size == 8)
    // a wider shortlist can only help: recall monotone in rf per (np,
    // probe) — rf slices a PREFIX of the same ADC ranking
    val byPoint = got.groupBy(t => (t._1, t._3)).values
    assert(byPoint.forall { rows =>
      val sorted = rows.sortBy(_._2).map(_._5)
      sorted == sorted.sorted
    })
    intercept[IllegalArgumentException](
      SimilarityOps.annRecallGrid(probes, index, corpus, annCents,
        annCbs, k = 2, nprobes = Seq(1), refineFactors = Seq.empty))
  }

  test("annIndexStaleness: missing under expected cell, orphans under " +
      "indexed cell, and a quantizer re-fit shows up as cell_mismatch") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-annstale").resolve("idx").toString
    // cells on the axes: 1,2,6 -> cell 0; 3,4,5 -> cell 1
    val all = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0), (6L, Seq(0.8f, 0.6f), 0)).drop("label")
    val index = SimilarityOps.annIndexStore(spark,
      all.filter(col("vec_id") <= 4L), path, annCents, annCbs)
    // current corpus dropped id 1 and gained ids 5, 6
    val current = all.filter(col("vec_id") >= 2L)
    val got = SimilarityOps.annIndexStaleness(current, index, annCents)
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (0, 1L, 1L, 1L, 0L),   // indexed: 2; missing: 6; orphaned: 1
      (1, 2L, 1L, 0L, 0L)))  // indexed: 3,4; missing: 5
    // a re-fit quantizer (cells swapped) disagrees with every stored
    // cell — the report attributes it to mismatch, not to churn
    val refit = Array(Array(0.0, 1.0), Array(1.0, 0.0))
    val mism = SimilarityOps.annIndexStaleness(current, index, refit)
      .agg(org.apache.spark.sql.functions.sum("n_cell_mismatch")).head
      .getLong(0)
    assert(mism == 3L)
  }

  test("compactAnnIndex: fewer files, one per cell, query results " +
      "unchanged") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-annidxcompact").resolve("idx").toString
    SimilarityOps.annIndexStore(spark,
      vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0)).drop("label"),
      path, annCents, annCbs)
    (10L to 15L).foreach { i =>
      SimilarityOps.appendToAnnIndex(spark,
        vecs((i, if (i % 2 == 0) Seq(1f, 0f) else Seq(0f, 1f), 0))
          .drop("label"), path, annCents, annCbs)
    }
    def snapshot() = SimilarityOps.readAnnIndexStore(spark, path)
      .distinct().orderBy(col("cand_id")).collect().toSeq
    val before = snapshot()
    val (nBefore, nAfter) = SimilarityOps.compactAnnIndex(spark, path)
    assert(nAfter < nBefore, s"expected compaction: $nBefore -> $nAfter")
    assert(nAfter == 2) // one file per cell
    assert(snapshot() == before)
  }

  test("reencodeAnnIndex: migrating a store built under a prior fit to " +
      "new literals leaves staleness clean and answers exactly the " +
      "inline chain under the NEW literals") {
    val base = java.nio.file.Files.createTempDirectory("graft-annreenc")
    val path = base.resolve("idx").toString
    val all = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0), (6L, Seq(0.8f, 0.6f), 0)).drop("label")
    // yesterday's corpus (no id 6), indexed under a prior fit: swapped
    // centroids, reversed codebooks — every cell and every code disagrees
    // with the committed fixture fit
    val corpus = all.filter(col("vec_id") <= 5L)
    val oldCents = annCents.reverse
    val oldCbs = annCbs.map(_.reverse)
    SimilarityOps.annIndexStore(spark,
      corpus.filter(col("vec_id") <= 3L), path, oldCents, oldCbs)
    assert(SimilarityOps.appendToAnnIndex(spark,
      corpus.filter(col("vec_id") > 3L), path, oldCents, oldCbs) == 2L)
    // the monitors would fire: every row's cell mismatches the new fit
    val preMism = SimilarityOps.annIndexStaleness(corpus,
        SimilarityOps.readAnnIndexStore(spark, path), annCents)
      .agg(sum("n_cell_mismatch")).head.getLong(0)
    assert(preMism > 0L, "fixture must actually drift")

    // today's corpus: id 1 left (orphan), id 6 arrived (missing)
    val current = all.filter(col("vec_id") >= 2L)
    val n = SimilarityOps.reencodeAnnIndex(spark, current, path,
      annCents, annCbs)
    assert(n == 5L)
    // post-migration staleness: ZERO missing / orphaned / mismatched
    val post = SimilarityOps.annIndexStaleness(current,
        SimilarityOps.readAnnIndexStore(spark, path), annCents)
      .agg(sum("n_missing"), sum("n_orphaned"), sum("n_cell_mismatch"))
      .head
    assert((post.getLong(0), post.getLong(1), post.getLong(2)) ==
      ((0L, 0L, 0L)), s"staleness not clean after migration: $post")
    // the migrated store is bitwise a fresh build of today's corpus
    val fresh = base.resolve("fresh").toString
    SimilarityOps.annIndexStore(spark, current, fresh, annCents, annCbs)
    def rows(p: String) = SimilarityOps.readAnnIndexStore(spark, p)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(rows(path) == rows(fresh), "migration diverged from a fresh build")
    // the migrated store answers exactly the inline chain under the NEW
    // literals (the q143 identity), and appends keep working against it
    val probes = current.filter(col("vec_id") <= 3L)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rk").collect().toSeq
    assert(run(SimilarityOps.ivfPqTopKFromStore(probes,
        SimilarityOps.readAnnIndexStore(spark, path), current, annCents,
        annCbs, k = 3, nprobe = 2, refineFactor = 2)) ==
      run(SimilarityOps.ivfPqTopK(probes, current, annCents, annCbs,
        k = 3, nprobe = 2, refineFactor = 2)))
    assert(SimilarityOps.appendToAnnIndex(spark,
      vecs((9L, Seq(0.5f, 0.5f), 0)).drop("label"), path,
      annCents, annCbs) == 1L)
    // an unpublished path refuses loudly
    val e = intercept[IllegalArgumentException](
      SimilarityOps.reencodeAnnIndex(spark, current,
        java.nio.file.Files.createTempDirectory("graft-noreenc")
          .resolve("x").toString, annCents, annCbs))
    assert(e.getMessage.contains("no published store"))
  }

  test("reassignEmbeddingStore: a centroid-only re-fit of the semantic " +
      "store is a map-only reassignment — bitwise a fresh build, ingest " +
      "flags unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft-embreassign")
    val pathA = base.resolve("reassigned").toString
    val pathB = base.resolve("fresh").toString
    val all = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.6f, 0.8f), 0)).drop("label")
    val corpus = all.filter(col("vec_id") <= 4L)
    val batch = all.filter(col("vec_id") === 5L)
    SimilarityOps.embeddingStore(spark, corpus, pathA, annCents.reverse)
    val n = SimilarityOps.reassignEmbeddingStore(spark, pathA, annCents)
    assert(n == 4L)
    SimilarityOps.embeddingStore(spark, corpus, pathB, annCents)
    def rows(p: String) = SimilarityOps.readEmbeddingStore(spark, p)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(rows(pathA) == rows(pathB),
      "reassigned store diverged from a fresh build")
    def flags(p: String) = SimilarityOps.incrementalSemanticDupFlags(
        batch, SimilarityOps.readEmbeddingStore(spark, p), annCents,
        minSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    assert(flags(pathA) == flags(pathB))
    // unpublished path refuses loudly
    intercept[IllegalArgumentException](
      SimilarityOps.reassignEmbeddingStore(spark,
        base.resolve("nope").toString, annCents))
  }

  test("vector store ingest loop: build + append + fully-store-backed " +
      "query equals the inline ivfPqTopK") {
    val base = java.nio.file.Files.createTempDirectory("graft-vecstore")
    val idxPath = base.resolve("idx").toString
    val vecPath = base.resolve("vecs").toString
    val corpus = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.1f, 0.9f), 0),
      (5L, Seq(0.7f, 0.7f), 0)).drop("label")
    val probes = corpus.filter(col("vec_id") <= 2L)
    SimilarityOps.annIndexStore(spark, corpus, idxPath, annCents, annCbs)
    SimilarityOps.vectorStore(spark,
      corpus.filter(col("vec_id") <= 3L), vecPath, nBuckets = 4)
    val n = SimilarityOps.appendToVectorStore(spark,
      corpus.filter(col("vec_id") > 3L), vecPath, nBuckets = 4)
    assert(n == 2L)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rk").collect().toSeq
    val stored = run(SimilarityOps.ivfPqTopKFromStores(probes,
      SimilarityOps.readAnnIndexStore(spark, idxPath),
      SimilarityOps.readVectorStore(spark, vecPath), 4, annCents, annCbs,
      k = 3, nprobe = 2, refineFactor = 2))
    val inline = run(SimilarityOps.ivfPqTopK(probes, corpus, annCents,
      annCbs, k = 3, nprobe = 2, refineFactor = 2))
    assert(stored == inline)
    assert(stored.nonEmpty)
    // append to an unpublished path refuses loudly
    val e = intercept[IllegalArgumentException](
      SimilarityOps.appendToVectorStore(spark, corpus,
        base.resolve("nope").toString, nBuckets = 4))
    assert(e.getMessage.contains("no published vector store"))
  }

  test("q120: BOTH store scans are dynamically partition-pruned — the " +
      "probe cells prune the code index, the shortlist ids prune the " +
      "vector store's buckets") {
    val df = graft.queries.ExtensionQueries.queries(
      "q120_ann_store_fetch")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val n = "dynamicpruning".r.findAllIn(plan).size
    assert(n >= 2,
      s"expected dynamic pruning on index AND vector store, got $n:\n" +
        plan.take(4000))
  }

  test("q117's index scan is dynamically partition-pruned by the probe " +
      "cells (unprobed cell directories are never read)") {
    val df = graft.queries.ExtensionQueries.queries(
      "q117_ann_index_store")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index scan must carry a dynamic pruning filter on cell:\n" +
        plan.take(4000))
  }

  test("q106's store scan is dynamically partition-pruned by the batch " +
      "(untouched cell directories are never read)") {
    val df = graft.queries.ExtensionQueries.queries(
      "q106_incremental_semantic")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"store scan must carry a dynamic pruning filter on cell:\n" +
        plan.take(4000))
  }

  test("cosine: zero-norm vector yields NULL, not an ANSI DIVIDE_BY_ZERO") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 0f)), (Seq(0f, 0f), Seq(0f, 0f)))
      .toDF("a", "b")
    val r = df.select(SimilarityOps.cosine(col("a"), col("b"))).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("inferDim skips null embeddings; fails named when none exist") {
    val mixed = Seq(
      (1L, Option.empty[Seq[Float]], 0),
      (2L, Some(Seq(1f, 2f, 3f)), 0)).toDF("vec_id", "embedding", "label")
    // the null row scans first — the probe must not fail or mis-infer
    assert(SimilarityOps.inferDim(mixed, "embedding") == 3)
    val allNull = Seq((1L, Option.empty[Seq[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException](
      SimilarityOps.inferDim(allNull, "embedding"))
    assert(e.getMessage.contains("no non-null"))
  }

  test("embeddingDriftReport: a born cell reports NULL before-side, " +
      "share deltas mirror the ingest, cohesion is the cos-to-centroid sum") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // before: two docs in cell 0; after: + two docs landing in cell 1
    val before = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.8f, 0.6f), 0))
    val after = vecs((1L, Seq(1f, 0f), 0), (2L, Seq(0.8f, 0.6f), 0),
      (3L, Seq(0f, 1f), 0), (4L, Seq(0.6f, 0.8f), 0))
    val r = SimilarityOps.embeddingDriftReport(before, after,
        "embedding", cents)
      .orderBy("cell").collect()
    assert(r.length == 2)
    val c0 = r(0); val c1 = r(1)
    assert(c0.getInt(0) == 0 && c0.getLong(1) == 2 && c0.getLong(2) == 2)
    assert(c0.getDouble(3) == 1.0)     // before: all mass in cell 0
    assert(c0.getDouble(4) == 0.5 && c0.getDouble(5) == -0.5)
    assert(c1.isNullAt(1) && c1.isNullAt(3) && c1.isNullAt(6)) // born cell
    assert(c1.getLong(2) == 2 && c1.getDouble(5) == 0.5)
    // cohesion: cell 0 after = dot((1,0)) + dot((0.8,0.6)) = 1 + 0.8
    assert(math.abs(c0.getDouble(7) - 1.8) < 1e-6)
    assert(math.abs(c1.getDouble(7) - 1.8) < 1e-6) // (0,1)→1, (.6,.8)→.8
    // share deltas over all cells cancel (both sides sum to 1)
    val deltaSum = r.map(_.getDouble(5)).sum
    assert(math.abs(deltaSum) < 1e-9)
  }

  // --- mmrRerank (q164) ----------------------------------------------

  test("mmrRerank: first pick is pure relevance; second pick trades " +
      "relevance for diversity (the redundant near-twin loses)") {
    // probe 0 along x; slopes: 1 at +0.0087, 2 at +0.0105 (1's near
    // twin), 3 at −0.0349 (the other side of the probe). Relevance
    // order is 1 > 2 > 3, so pure relevance returns (1, 2) — asserted
    // below. MMR must return (1, 3): after selecting 1, the twin's
    // max-sim to {1} ≈ 1 collapses its marginal score below zero,
    // while 3's max-sim cos(θ₁+θ₃) sits BELOW its own relevance,
    // leaving a positive margin.
    val data = vecs(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(1f, 0.0087f, 0f), 0),
      (2L, Seq(1f, 0.0105f, 0f), 0),
      (3L, Seq(1f, -0.0349f, 0f), 0))
    val relOrder = SimilarityOps.bruteForceTopK(
        data.filter(col("vec_id") === 0), data, k = 2)
      .orderBy("rk").collect().map(_.getLong(2)).toSeq
    assert(relOrder == Seq(1L, 2L), s"relevance baseline: $relOrder")
    val r = SimilarityOps.mmrRerank(
        data.filter(col("vec_id") === 0), data, poolK = 3, k = 2)
      .orderBy("mmr_rank").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(1L, 3L), r.toSeq)
    // rank-1 score is λ·rel with rel the rounded cosine
    val rel1 = SimilarityOps.bruteForceTopK(
      data.filter(col("vec_id") === 0), data, k = 1)
      .collect()(0).getDouble(3)
    assert(r(0).getDouble(2) ==
      BigDecimal(0.5 * rel1).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mmrRerank: λ=1 reduces to pure relevance order") {
    val data = vecs(
      (0L, Seq(1f, 0f, 0f), 0),
      (1L, Seq(0.99f, 0.01f, 0f), 0),
      (2L, Seq(0.99f, 0.011f, 0f), 0),
      (3L, Seq(0.7f, 0.7f, 0f), 0))
    val mmr = SimilarityOps.mmrRerank(
        data.filter(col("vec_id") === 0), data, poolK = 3, k = 3,
        lambda = 1.0)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    val rel = SimilarityOps.bruteForceTopK(
        data.filter(col("vec_id") === 0), data, k = 3)
      .orderBy("rk").collect().map(_.getLong(2)).toSeq
    assert(mmr == rel)
  }

  test("mmrRerank: pool smaller than k returns the whole pool, ranked; " +
      "ties break to the smaller id") {
    // two candidates orthogonal to each other, equidistant from the
    // probe: rank-1 goes to the smaller id, rank-2 to the other
    val data = vecs(
      (0L, Seq(1f, 1f, 0f), 0),
      (5L, Seq(1f, 0f, 0f), 0),
      (7L, Seq(0f, 1f, 0f), 0))
    val r = SimilarityOps.mmrRerank(
        data.filter(col("vec_id") === 0), data, poolK = 8, k = 8)
      .orderBy("mmr_rank").collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(5L, 7L))
    assert(r.map(_.getInt(3)).toSeq == Seq(1, 2))
  }

  test("mmrRerankPool fails NAMED (not silently re-ranked) when a pool " +
      "id is missing from the candidates table or has a zero-norm " +
      "embedding") {
    import spark.implicits._
    val cands = vecs(
      (1L, Seq(1f, 0f), 0),
      (2L, Seq(0f, 1f), 0),
      (3L, Seq(0f, 0f), 0)) // zero-norm: cosine undefined
    def poolOf(ids: Long*) =
      ids.map(i => (0L, i, 0.5)).toDF("probe_id", "cand_id", "rel")
    // executor-side failures surface wrapped; search the cause chain
    def fullMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // id 9 exists in the pool but not in candidates
    val missing = intercept[Exception] {
      SimilarityOps.mmrRerankPool(poolOf(1L, 9L), cands, k = 2).collect()
    }
    assert(fullMsg(missing).contains("undefined pairwise similarity"),
      fullMsg(missing))
    val zero = intercept[Exception] {
      SimilarityOps.mmrRerankPool(poolOf(1L, 3L), cands, k = 2).collect()
    }
    assert(fullMsg(zero).contains("undefined pairwise similarity"),
      fullMsg(zero))
    // the healthy pool still works after the left-join change
    val ok = SimilarityOps.mmrRerankPool(poolOf(1L, 2L), cands, k = 2)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(ok == Seq(1L, 2L), ok)
  }

  test("mmrRerankPool's in-group cap counts the pool candidates " +
      "directly and names the count in the error") {
    import spark.implicits._
    // 1025 candidates for one probe → one row per candidate > 1024
    val n = 1025
    val cands = vecs((0 until n).map(i =>
      (i.toLong, Seq(math.cos(i * 0.001).toFloat,
        math.sin(i * 0.001).toFloat), 0)): _*)
    val pool = (0 until n).map(i => (0L, i.toLong, 0.5))
      .toDF("probe_id", "cand_id", "rel")
    def fullMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val e = intercept[Exception] {
      SimilarityOps.mmrRerankPool(pool, cands, k = 2).collect()
    }
    val msg = fullMsg(e)
    assert(msg.contains("1025 candidates"), msg)
    assert(msg.contains("caps the pool at 1024 candidates"), msg)
  }

  test("mmrRerank validates its arguments loudly") {
    val data = vecs((0L, Seq(1f, 0f), 0))
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(SimilarityOps.mmrRerank(data, data, poolK = 5, k = 0))
      .contains("k must be positive"))
    assert(msg(SimilarityOps.mmrRerank(data, data, poolK = 2, k = 5))
      .contains("must be >= k"))
    assert(msg(SimilarityOps.mmrRerank(data, data, poolK = 2048, k = 5))
      .contains("exceeds 1024"))
    assert(msg(SimilarityOps.mmrRerank(data, data, poolK = 5, k = 2,
      lambda = 1.5)).contains("lambda"))
    assert(msg(SimilarityOps.mmrRerankPoolSweep(
      data.select(col("vec_id").as("probe_id"),
        col("vec_id").as("cand_id"), lit(0.5).as("rel")),
      data, k = 2, lambdas = Nil)).contains("no lambdas"))
  }

  test("mmrRerankPoolSweep: each λ slice is bit-identical to a separate " +
      "single-λ walk (the q182 one-pass sweep's equivalence contract)") {
    import spark.implicits._
    val data = vecs(
      (0L, Seq(1f, 0.1f, 0f), 0),
      (1L, Seq(0.98f, 0.2f, 0f), 0),
      (2L, Seq(0.97f, 0.22f, 0f), 0),
      (3L, Seq(0.6f, 0.8f, 0f), 0),
      (4L, Seq(0.5f, 0.5f, 0.7f), 0),
      (10L, Seq(0.9f, 0.3f, 0.1f), 0))
    val probes = data.filter(col("vec_id") < 2)
    val pool = SimilarityOps.bruteForceTopK(probes, data, k = 4)
      .select(col("probe_id"), col("cand_id"), col("sim").as("rel"))
    val lambdas = Seq(0.25, 0.5, 0.75)
    val swept = SimilarityOps.mmrRerankPoolSweep(pool, data, k = 3, lambdas)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    val singles = lambdas.flatMap { lam =>
      SimilarityOps.mmrRerankPool(pool, data, k = 3, lambda = lam)
        .collect().map(r => (lam, r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3)))
    }.toSet
    assert(swept == singles,
      s"sweep/single diverged:\n swept=$swept\n singles=$singles")
  }
}
