package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exactDedup groups case/whitespace-normalized duplicates, keeps min id") {
    val docs = Seq(
      (1L, "Hello World"), (2L, "hello  world"), (3L, "something else"))
      .toDF("doc_id", "text")
    val r = DedupOps.exactDedup(docs).orderBy("keep_id").collect()
    assert(r.length == 2)
    assert(r(0).getLong(0) == 1L && r(0).getLong(1) == 2L) // keep 1, 2 copies
    assert(r(1).getLong(0) == 3L && r(1).getLong(1) == 1L)
  }

  test("ngramJaccardPairs: identical docs 1.0, disjoint docs 0.0") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
      .toDF("doc_id", "text")
    val r = DedupOps.ngramJaccardPairs(docs, k = 3)
      .orderBy("id_a", "id_b").collect()
    assert(r.length == 3)
    assert(r(0).getDouble(2) == 1.0)   // (1,2)
    assert(r(1).getDouble(2) == 0.0)   // (1,3)
    assert(r(2).getDouble(2) == 0.0)   // (2,3)
  }

  test("simHash: identical token sets have identical signatures") {
    val sigs = Seq("a b c d", "d c b a", "totally different words here")
      .toDF("text")
      .select(DedupOps.simHash(TextOps.tokens(col("text"))))
      .collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))   // order-insensitive (set semantics)
    assert(sigs(0) != sigs(2))
  }

  test("simHashNearDupPairs finds near-identical docs, skips distant ones") {
    // identical token SET (different order/duplication) → identical simhash
    // → same bands, hamming 0: deterministically caught. A doc with a
    // disjoint vocabulary must never pass the hamming filter.
    val base = (1 to 25).map(i => s"tok$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.reverse ++ base.take(3)).mkString(" ")),
      (3L, (1 to 25).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simHashNearDupPairs(docs, maxHamming = 16).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.contains((1L, 3L)) && !ids.contains((2L, 3L)))
    assert(pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .get.getInt(2) == 0)
  }

  test("minHashLshPairs (native) finds planted duplicate with exact Jaccard") {
    val docs = Seq(
      (1L, "spark catalyst tungsten shuffle partition broadcast join agg"),
      (2L, "spark catalyst tungsten shuffle partition broadcast join scan"),
      (3L, "completely unrelated vocabulary nothing shared at all ever"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minHashLshPairs(docs, k = 1, numBands = 4,
      rowsPerBand = 4, minJaccard = 0.5, exact = true).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.exists(p => p._2 == 3L))
    // exact verification: |{7 shared}| / |{9 union}| = 0.7778
    val j = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .get.getDouble(2)
    assert(j == 0.7778)

    // estimate mode: same pair surfaces; jaccard is the signature-agreement
    // fraction (k/16 granularity), an unbiased estimator of 0.7778
    val est = DedupOps.minHashLshPairs(docs, k = 1, numBands = 4,
      rowsPerBand = 4, minJaccard = 0.4).collect()
    val estPair = est.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(estPair.isDefined)
    assert((estPair.get.getDouble(2) * 16).round.toDouble / 16 ==
      estPair.get.getDouble(2))
  }

  test("minHashLshPairs portable mode: same candidates, md5-family estimate") {
    val docs = Seq(
      (1L, "spark catalyst tungsten shuffle partition broadcast join agg"),
      (2L, "spark catalyst tungsten shuffle partition broadcast join scan"),
      (3L, "completely unrelated vocabulary nothing shared at all ever"))
      .toDF("doc_id", "text")
    val portable = DedupOps.minHashLshPairs(docs, k = 1, numBands = 4,
      rowsPerBand = 4, minJaccard = 0.4, portable = true).collect()
    val ids = portable.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.exists(p => p._2 == 3L))
    // the estimate is still k/16-granular and in a plausible band around
    // the true Jaccard 0.7778 (different hash family → different k)
    val j = portable.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
      .get.getDouble(2)
    assert((j * 16).round.toDouble / 16 == j)
    assert(j >= 0.4 && j <= 1.0)
  }

  test("connectedComponents: chains merge, singletons self-label") {
    import spark.implicits._
    val vertices = (1L to 7L).toDF("doc_id")
    // components: {1,2,3} (chain), {5,6}, singletons {4}, {7}
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = DedupOps.connectedComponents(vertices, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents frontier delta matches union-find on a " +
      "multi-round graph (long chain + random components)") {
    import spark.implicits._
    // a 12-chain forces ~11 frontier rounds (min label walks one hop per
    // round), so converged components idle while the chain is active —
    // exactly the case the frontier optimization changes; labels must not
    val rnd = new scala.util.Random(42)
    val chain = (1L until 12L).map(i => (i, i + 1))
    val randomEdges = Seq.fill(60)(
      (rnd.nextInt(40) + 20L, rnd.nextInt(40) + 20L)).filter(e => e._1 != e._2)
    val edges = chain ++ randomEdges
    val n = 60L
    val vertices = (1L to n).toDF("doc_id")
    val pairs = edges.toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(vertices, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: driver-side union-find with min-id canonical labels
    val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (1L to n).map(i => i -> find(i)).toMap
    assert(got == want)
  }

  test("connectedComponents durable mode checkpoints to reliable storage") {
    import spark.implicits._
    val vertices = (1L to 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    // durable without a checkpoint dir fails fast, not mid-iteration
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      intercept[IllegalStateException](
        DedupOps.connectedComponents(vertices, "doc_id", pairs, durable = true))
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    sc.setCheckpointDir(dir.toString)
    val comp = DedupOps
      .connectedComponents(vertices, "doc_id", pairs, durable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // reliable checkpoint files actually landed under the dir
    val wrote = java.nio.file.Files.walk(dir)
      .anyMatch(p => java.nio.file.Files.isRegularFile(p))
    assert(wrote)
  }

  test("clusterDedup keeps exactly one canonical doc per cluster") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DedupOps.clusterDedup(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("minHashSignature is order-insensitive and deterministic") {
    val sigs = Seq("a b c d e", "e d c b a")
      .toDF("text")
      .select(DedupOps.minHashSignature(
        array_distinct(TextOps.tokens(col("text"))), 8))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 8)
  }

  test("stratifiedHashSample: deterministic, monotone per-stratum rates") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // rate 16 keeps a stratum whole; default 0 drops the rest
    val all = DedupOps.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 16), defaultSixteenths = 0)
    assert(all.filter(col("lang") =!= "en").count() == 0)
    assert(all.count() == docs.filter(col("lang") === "en").count())
    // raising a rate only ADDS ids (the md5 coin is shared across rates)
    def ids(r: Int) = DedupOps.stratifiedHashSample(docs, "doc_id", "lang",
        Map("en" -> r), defaultSixteenths = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (at4, at8) = (ids(4), ids(8))
    assert(at4.nonEmpty && at4.subsetOf(at8))
  }

  test("leakageSafeSplit: near-dup pairs never straddle the split") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val r = DedupOps.leakageSafeSplit(docs, "doc_id", pairs,
      trainSixteenths = 8)
    val bySplit = r.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    // every member of a component shares its split
    val splitOf = bySplit.map(t => t._1 -> t._3).toMap
    for ((a, b) <- Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L)))
      assert(splitOf(a) == splitOf(b), s"pair ($a,$b) straddles the split")
    // both splits are populated at 8/16
    assert(bySplit.map(_._3).distinct.sorted.toSeq == Seq("train", "val"))
  }

  test("priorityMerge: lowest priority wins, id breaks ties within it") {
    val docs = Seq(
      (1L, "b_src", "one two three four five six"),
      (5L, "a_src", "one two three four five six"), // same content, better src
      (2L, "a_src", "totally different unique content here now")
    ).toDF("doc_id", "source", "text")
    val r = DedupOps.priorityMerge(docs, "doc_id", "source",
        graft.ext.TextOps.docFingerprint(col("text")))
      .orderBy("keep_id").collect()
    // the a_src copy wins despite the higher doc id
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq ==
      Seq((2L, "a_src", 1L), (5L, "a_src", 2L)))
  }

  test("chunkDedup keeps first occurrence corpus-wide, rebuilds in order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // chunks: "a b c d" "e f g h" "i j"
      (2L, "a b c d x y z w"),      // first chunk duplicates doc 1's
      (3L, "a b c d"),              // entirely duplicate → null text
      (4L, "p q r s p q r s")       // within-doc duplicate chunk
    ).toDF("doc_id", "text")
    val r = DedupOps.chunkDedup(docs, "doc_id", "text", chunkTokens = 4)
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 3L && r(0).getLong(2) == 3L)
    assert(r(0).getString(3) == "a b c d e f g h i j")
    assert(r(1).getLong(1) == 2L && r(1).getLong(2) == 1L)
    assert(r(1).getString(3) == "x y z w")
    assert(r(2).getLong(1) == 1L && r(2).getLong(2) == 0L)
    assert(r(2).isNullAt(3))
    assert(r(3).getLong(1) == 2L && r(3).getLong(2) == 1L)
    assert(r(3).getString(3) == "p q r s")
  }

  test("property: kept chunks == distinct corpus-wide chunk fingerprints") {
    import org.apache.spark.sql.graft.VectorFunctions
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(rnd.nextInt(20) + 3)(vocab(rnd.nextInt(4))).mkString(" "))
    }.toDF("doc_id", "text")
    val r = DedupOps.chunkDedup(docs, "doc_id", "text", chunkTokens = 3)
      .collect()
    val chunks = docs.select(posexplode(VectorFunctions.tokenChunks(
      split(lower(col("text")), "\\s+"), 3)).as(Seq("p", "c")))
    // each distinct chunk survives exactly once, every chunk is accounted
    assert(r.map(_.getAs[Long]("n_kept")).sum ==
      chunks.select("c").distinct().count())
    assert(r.map(_.getAs[Long]("n_chunks")).sum == chunks.count())
  }

  test("chunkDedup is idempotent on already-clean text") {
    val once = DedupOps.chunkDedup(
      Seq((1L, "m n o p q r")).toDF("doc_id", "text"), "doc_id", "text", 4)
    val row = once.head
    assert(row.getString(3) == "m n o p q r")
    val again = DedupOps.chunkDedup(
      once.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", 4).head
    assert(again.getString(3) == row.getString(3))
  }

  test("hashSample honors multi-char prefixes and rejects non-hex ones") {
    val df = spark.range(1, 400).toDF("id")
    val withHash = df.withColumn("h",
      md5(col("id").cast("string").cast("binary")))
    // a 2-char prefix keeps exactly the rows whose digest starts with it
    // (the old single-char equality silently kept ZERO rows for these)
    val expect = withHash.filter(col("h").startsWith("0"))
      .filter(substring(col("h"), 2, 1).isin("0", "1", "2", "3", "4", "5",
        "6", "7"))
      .select("id").collect().map(_.getLong(0)).toSet
    val prefixes = (0 to 7).map(d => s"0$d")
    val got = DedupOps.hashSample(df, "id", prefixes)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
    // single-char behavior unchanged: union of all 16 nibbles = everything
    val all = DedupOps.hashSample(df, "id", "0123456789abcdef".map(_.toString))
    assert(all.count() == 399)
    // uppercase/non-hex prefixes can never match lowercase md5 — fail named
    val e = intercept[IllegalArgumentException](
      DedupOps.hashSample(df, "id", Seq("AB")))
    assert(e.getMessage.contains("lowercase hex"))
    val e2 = intercept[IllegalArgumentException](
      DedupOps.hashSample(df, "id", Seq("")))
    assert(e2.getMessage.contains("lowercase hex"))
  }

  test("exactSample: exact size, monotone in k, TakeOrderedAndProject plan") {
    import spark.implicits._
    val df = (1L to 300L).toDF("id")
    val s40 = DedupOps.exactSample(df, "id", 40, seed = 5L)
      .collect().map(_.getLong(0)).toSet
    val s50 = DedupOps.exactSample(df, "id", 50, seed = 5L)
      .collect().map(_.getLong(0)).toSet
    assert(s40.size == 40 && s50.size == 50)
    assert(s40.subsetOf(s50)) // growing k only ADDS documents
    val other = DedupOps.exactSample(df, "id", 40, seed = 6L)
      .collect().map(_.getLong(0)).toSet
    assert(other != s40) // a new seed draws a different sample
    val plan = DedupOps.exactSample(df, "id", 40).queryExecution
      .executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // null ids sort LAST (explicit — Spark's asc default is nulls first):
    // they never displace a real doc from the sample
    val withNulls = (Seq[java.lang.Long](null, null) ++
      (1L to 10L).map(java.lang.Long.valueOf)).toDF("id")
    val picked = DedupOps.exactSample(withNulls, "id", 10, seed = 5L)
      .collect().map(r => Option(r.get(0)))
    assert(picked.forall(_.isDefined))
  }

  test("targetMixSample: unlisted sources drop, oversubscribed sources " +
      "keep everything, rates scale with share") {
    import spark.implicits._
    // three sources, 10 docs x 100 tokens each (supply 1000 tokens/source)
    val docs = (for {
      (src, base) <- Seq(("a", 0L), ("b", 100L), ("c", 200L))
      i <- 0L until 10L
    } yield (base + i, src, Seq.fill(100)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val nTok = size(split(col("text"), "\\s+"))
    // a: share 0.9 of 2000 = 1800 wanted > 1000 supplied → rate clamps 1
    // b: share 0.1 of 2000 = 200 wanted / 1000 → rate 0.2
    // c: unlisted → excluded entirely
    val r = DedupOps.targetMixSample(docs, "doc_id", "source", nTok,
      Map("a" -> 0.9, "b" -> 0.1), budgetTokens = 2000L)
    val bySrc = r.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySrc.getOrElse("a", 0L) == 10L) // clamped: keep-all
    assert(bySrc.getOrElse("b", 0L) < 10L)  // genuinely sampled
    assert(!bySrc.contains("c"))            // unlisted: rate 0, not 1
    // deterministic: the exact same kept set on a rerun
    val again = DedupOps.targetMixSample(docs, "doc_id", "source", nTok,
      Map("a" -> 0.9, "b" -> 0.1), budgetTokens = 2000L)
    assert(r.collect().map(_.getLong(0)).sorted.toSeq ==
      again.collect().map(_.getLong(0)).sorted.toSeq)
    val e = intercept[IllegalArgumentException](
      DedupOps.targetMixSample(docs, "doc_id", "source", nTok,
        Map("a" -> 1.5), 100L))
    assert(e.getMessage.contains("share"))
  }

  test("incrementalNearDupFlags: clone of a corpus doc flags, unique and " +
      "unshingleable docs stay clean, every batch doc reports") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (10L, base),
      (11L, "completely unrelated corpus material about spark internals"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, base),                                     // exact clone → dup
      (2L, "nothing like anything stored in the corpus at all"),
      (3L, "a b")                                     // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val sigs = DedupOps.minHashSignaturesDf(corpus, k = 3, numHashes = 16,
      portable = true)
    val r = DedupOps.incrementalNearDupFlags(batch, sigs, k = 3,
        numBands = 8, rowsPerBand = 2, minJaccard = 0.8)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r(0).getAs[Boolean]("dup") && r(0).getAs[Long]("n_dups") == 1L)
    assert(!r(1).getAs[Boolean]("dup") && r(1).getAs[Long]("n_dups") == 0L)
    assert(!r(2).getAs[Boolean]("dup"))
  }

  test("weightedExactSample: matches an independent A-ES model exactly, " +
      "is prefix-monotone in k, drops bad weights, and plans as top-k") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, (i % 13 + 1).toDouble))
    val df = rows.toDF("doc_id", "wt")
    // independent model: same coin, same key arithmetic, plain Scala
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def key(id: Long, w: Double): BigDecimal = {
      val n = java.lang.Long.parseLong(md5hex(s"wes:7:$id").take(12), 16)
      BigDecimal(math.log((n + 1.0) / math.pow(16.0, 12)) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val want = rows.sortBy { case (id, w) => (-key(id, w), id) }
      .take(25).map(_._1)
    val sample = DedupOps.weightedExactSample(df, "doc_id", "wt", k = 25,
      seed = 7L)
    assert(sample.collect().map(_.getLong(0)).sorted.toSeq == want.sorted)
    // prefix-monotone: the top-25 set is inside the top-40 set
    val bigger = DedupOps.weightedExactSample(df, "doc_id", "wt", k = 40,
      seed = 7L).collect().map(_.getLong(0)).toSet
    assert(want.forall(bigger))
    // null/zero/negative weights can never be sampled
    val dirty = Seq((1L, 5.0), (2L, 0.0), (3L, -1.0))
      .toDF("doc_id", "wt")
      .union(Seq((4L, null.asInstanceOf[java.lang.Double]))
        .toDF("doc_id", "wt"))
    val kept = DedupOps.weightedExactSample(dirty, "doc_id", "wt", k = 10,
      seed = 7L).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
    // an overwhelming weight is selected first
    val skew = Seq((1L, 1e-6), (2L, 1e6), (3L, 1e-6)).toDF("doc_id", "wt")
    assert(DedupOps.weightedExactSample(skew, "doc_id", "wt", k = 1,
      seed = 7L).head.getLong(0) == 2L)
    // top-k plan, never a global sort
    val plan = DedupOps.weightedExactSample(df, "doc_id", "wt", k = 25,
      seed = 7L).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("weightedStratifiedSample: exactly k per stratum, single-stratum " +
      "degeneracy equals the global sampler, one stratum shuffle") {
    import spark.implicits._
    val rows = (1L to 120L).map(i => (i, s"s${i % 4}", (i % 9 + 1).toDouble))
    val df = rows.toDF("doc_id", "src", "wt")
    val got = DedupOps.weightedStratifiedSample(df, "doc_id", "src", "wt",
      kPerStratum = 5, seed = 7L)
    val bySrc = got.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc == Map("s0" -> 5, "s1" -> 5, "s2" -> 5, "s3" -> 5))
    // a stratum with fewer eligible rows than k returns all of them
    val small = Seq((1L, "a", 2.0), (2L, "a", 3.0), (3L, "b", 1.0))
      .toDF("doc_id", "src", "wt")
    assert(DedupOps.weightedStratifiedSample(small, "doc_id", "src", "wt",
      kPerStratum = 5, seed = 7L).count() == 3L)
    // single stratum ⇒ identical kept set to the global sampler (same
    // coin namespace, same key — the shared-expression contract)
    val one = df.filter(col("src") === "s1")
    val strat = DedupOps.weightedStratifiedSample(one, "doc_id", "src",
      "wt", kPerStratum = 7, seed = 7L)
      .collect().map(_.getLong(0)).sorted.toSeq
    val glob = DedupOps.weightedExactSample(one, "doc_id", "wt", k = 7,
      seed = 7L).collect().map(_.getLong(0)).sorted.toSeq
    assert(strat == glob)
    // one hash exchange (the stratum key), no global sort
    val plan = DedupOps.weightedStratifiedSample(df, "doc_id", "src", "wt",
      kPerStratum = 5, seed = 7L).queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nEx == 1, s"expected 1 stratum exchange, got $nEx:\n$plan")
  }

  test("signatureStaleness: per-source signed/missing counts, orphans " +
      "under the gone bucket, and a fully-ingested store reads clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four", "web"),
      (2L, "five six seven eight", "web"),
      (3L, "nine ten eleven twelve", "books"),
      (4L, "alpha beta gamma delta", "books"))
      .toDF("doc_id", "text", "source")
    // store signed docs 1-3 plus a doc 9 that has since left the corpus
    val sigs = DedupOps.minHashSignaturesDf(
      docs.filter(col("doc_id") <= 3L)
        .union(Seq((9L, "gone doc text here", "web"))
          .toDF("doc_id", "text", "source")),
      k = 3, numHashes = 16, portable = true)
    val got = DedupOps.signatureStaleness(docs, sigs, "source")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("[gone]", 0L, 0L, 1L),   // doc 9
      ("books", 1L, 1L, 0L),    // signed: 3; missing: 4
      ("web", 2L, 0L, 0L)))     // signed: 1, 2
    // a store that covers the corpus exactly reports all-clean
    val full = DedupOps.minHashSignaturesDf(docs, k = 3, numHashes = 16,
      portable = true)
    val clean = DedupOps.signatureStaleness(docs, full, "source")
      .agg(org.apache.spark.sql.functions.sum("n_missing"),
        org.apache.spark.sql.functions.sum("n_orphaned")).head
    assert((clean.getLong(0), clean.getLong(1)) == ((0L, 0L)))
  }

  test("appendToSignatureStore closes the loop: batch 2 flags against " +
      "batch 1's accepted docs") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-sigs-append").resolve("sigs").toString
    val corpus = Seq((10L, "totally original corpus words nothing else " +
      "shares these tokens")).toDF("doc_id", "text")
    DedupOps.signatureStore(spark, corpus, path, 3, 8, 2)
    val batch1 = Seq((20L, "the quick brown fox jumps over the lazy dog " +
      "again and again")).toDF("doc_id", "text")
    val f1 = DedupOps.incrementalNearDupFlags(batch1,
      spark.read.parquet(path), 3, 8, 2, 0.8).collect()
    assert(!f1.head.getAs[Boolean]("dup")) // new vs corpus: clean
    val n = DedupOps.appendToSignatureStore(spark, batch1, path, 3, 8, 2)
    assert(n == 1L) // the appended batch signature, never the store total
    // appending to a path with NO published store refuses loudly — an
    // implicit create would later masquerade as a signed corpus
    val e = intercept[IllegalArgumentException](
      DedupOps.appendToSignatureStore(spark, batch1,
        java.nio.file.Files.createTempDirectory("graft-fresh")
          .resolve("nostore").toString, 3, 8, 2))
    assert(e.getMessage.contains("no published signature store"))
    // batch 2 clones batch 1's doc — only detectable through the append
    val batch2 = Seq((30L, "the quick brown fox jumps over the lazy dog " +
      "again and again")).toDF("doc_id", "text")
    val f2 = DedupOps.incrementalNearDupFlags(batch2,
      spark.read.parquet(path), 3, 8, 2, 0.8).collect()
    assert(f2.head.getAs[Boolean]("dup") && f2.head.getAs[Long]("n_dups") == 1L)
  }

  test("connectedComponents records per-round frontier sizes on the " +
      "distributed loop; the driver contraction records zero rounds " +
      "(the r19 path the registered CC queries now take under the cap)") {
    // the LOOP's own record, on a hand-built graph: a 4-chain takes
    // 2 label rounds + the fixpoint probe — pinned by forcing the loop
    // (maxDriverPairs = 0), the exact fallback a >cap pair set runs
    import spark.implicits._
    val verts = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    DedupOps.resetCcStats()
    assert(DedupOps.lastCcStats.isEmpty)
    DedupOps.connectedComponents(verts, "id", pairs, maxDriverPairs = 0L)
      .count()
    val s = DedupOps.lastCcStats.get
    assert(s.rounds == s.changedPerRound.size)
    assert(s.changedPerRound.last == 0L, "final round is the fixpoint probe")
    assert(s.changedPerRound.init.forall(_ > 0L))
    // under the cap the driver contraction runs instead: zero
    // propagation rounds, and the labels are IDENTICAL to the loop's
    DedupOps.resetCcStats()
    val viaDriver = DedupOps.connectedComponents(verts, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(DedupOps.lastCcStats.get == DedupOps.CcRunStats(0, Seq.empty),
      s"driver path stats drifted: ${DedupOps.lastCcStats}")
    val viaLoop = DedupOps.connectedComponents(verts, "id", pairs,
        maxDriverPairs = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop, s"driver=$viaDriver loop=$viaLoop")
    // the registered CC queries on the sf0.001 fixture take the driver
    // path (their pair sets are far under MaxDriverCcPairs): the bench's
    // cc record now reads rounds=0 for them
    DedupOps.resetCcStats()
    graft.queries.ExtensionQueries.queries("q53_dedup_clusters")(
      spark, "/root/testdata/sf0.001").write.format("noop")
      .mode("overwrite").save()
    assert(DedupOps.lastCcStats.get == DedupOps.CcRunStats(0, Seq.empty),
      s"q53 CC path drifted: ${DedupOps.lastCcStats}")
    DedupOps.resetCcStats()
    graft.queries.ExtensionQueries.queries("q85_lsh_cc")(
      spark, "/root/testdata/sf0.001").write.format("noop")
      .mode("overwrite").save()
    assert(DedupOps.lastCcStats.get == DedupOps.CcRunStats(0, Seq.empty),
      s"q85 CC path drifted: ${DedupOps.lastCcStats}")
  }

  test("clusterDedup driver path and distributed-loop path keep the " +
      "same canonical docs (r19: the anti-join side becomes a local " +
      "relation under the pair cap)") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(25)((rnd.nextInt(30) + 1L, rnd.nextInt(30) + 1L))
      .filter(e => e._1 != e._2).distinct.toDF("id_a", "id_b")
    val fast = DedupOps.clusterDedup(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    // the loop path, via connectedComponents with the cap disabled —
    // the exact pre-r19 formulation
    val labels = DedupOps.connectedComponents(
      docs.select(col("doc_id")), "doc_id", pairs, maxDriverPairs = 0L)
    val slow = docs.join(labels.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(fast == slow, s"driver=$fast loop=$slow")
  }

  test("compactSignatureStore: per-ingest small files collapse to few, " +
      "signatures survive bit-identically, replay duplicates heal") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-sigs-compact").resolve("sigs").toString
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    DedupOps.signatureStore(spark, corpus, path, 3, 8, 2)
    val mk = (id: Long) => Seq((id, s"unique words for document number $id " +
      s"plus filler token$id stuffing$id")).toDF("doc_id", "text")
    (10L to 14L).foreach(id =>
      DedupOps.appendToSignatureStore(spark, mk(id), path, 3, 8, 2))
    // replay artifact: the same batch appended twice (crash between the
    // store append and the replay marker)
    DedupOps.appendToSignatureStore(spark, mk(12L), path, 3, 8, 2)

    def files() = new java.io.File(path).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def rows() = spark.read.parquet(path)
      .select($"doc_id", $"sig").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val filesBefore = files()
    val distinctBefore = rows().distinct.sorted(
      Ordering.by((t: (Long, Seq[Long])) => t._1))
    assert(filesBefore >= 7, s"appends should accumulate files, saw $filesBefore")
    assert(rows().size == distinctBefore.size + 1, "replay row present")

    val (before, after) = DedupOps.compactSignatureStore(spark, path,
      targetFileMB = 256)
    assert(before == filesBefore && after == files())
    assert(after < before, s"compaction must reduce files: $before -> $after")
    // bit-identical distinct signatures; the replayed exact-dup row healed
    val got = rows().sorted(Ordering.by((t: (Long, Seq[Long])) => t._1))
    assert(got == distinctBefore)
    // the store still serves ingest dedup: a clone of doc 12 flags once
    // (the replayed row would have inflated this to 2 pre-compaction)
    val f = DedupOps.incrementalNearDupFlags(
      mk(12L).select(lit(99L).as("doc_id"), $"text"),
      spark.read.parquet(path), 3, 8, 2, 0.8).collect()
    assert(f.head.getAs[Boolean]("dup") && f.head.getAs[Long]("n_dups") == 1L)
    // an unpublished path refuses, same as append
    val e = intercept[IllegalArgumentException](
      DedupOps.compactSignatureStore(spark, java.nio.file.Files
        .createTempDirectory("graft-nostore").resolve("x").toString))
    assert(e.getMessage.contains("no published signature store"))
  }

  test("r10 q27 watch item: the sigsFromElements delegation is " +
      "plan-identical to the pre-refactor inline sigsFromShingles") {
    // round 10 flagged q27 at 1.45x drift-adjusted, with the only code
    // change on its path being the sigsFromShingles -> sigsFromElements
    // delegation (commit bf2914e). Adjudicate with plan evidence: rebuild
    // the OLD body verbatim (from 3935a92:DedupOps.scala) at q27's exact
    // parameters (k=3, 16 portable hashes) and assert the canonicalized
    // optimized plans are EQUAL — the refactor cannot have changed the
    // executed query, so the bench delta was machine drift.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val numHashes = 16
    val newSigs = DedupOps.minHashSignaturesDf(docs, 3, numHashes,
      portable = true)
    val sh = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("toks"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigCols = DedupOps.minHashCoeffs(numHashes).zipWithIndex.map {
      case ((a, b), i) =>
        min((lit(a) * col("x") + lit(b)) % lit(DedupOps.MinHashPrime))
          .as(s"__h$i")
    }
    val oldSigs = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("x", conv(substring(md5(col("s")), 1, 8), 16, 10)
        .cast("long") % lit(DedupOps.MinHashPrime))
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
    assert(newSigs.queryExecution.optimizedPlan.canonicalized ==
      oldSigs.queryExecution.optimizedPlan.canonicalized,
      "the delegation changed the optimized plan:\n" +
        s"NEW:\n${newSigs.queryExecution.optimizedPlan}\n" +
        s"OLD:\n${oldSigs.queryExecution.optimizedPlan}")
  }

  test("compactSignatureStore: a swap interrupted between the two renames " +
      "leaves the store recoverable, and the next call heals it") {
    import spark.implicits._
    val parent = java.nio.file.Files.createTempDirectory("graft-sigs-crash")
    val path = parent.resolve("sigs").toString
    val corpus = (1L to 4L).map(i =>
      (i, s"document $i with its own words here$i and there$i"))
      .toDF("doc_id", "text")
    DedupOps.signatureStore(spark, corpus, path, 3, 8, 2)
    def rows() = spark.read.parquet(path)
      .select($"doc_id", $"sig").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      .sorted(Ordering.by((t: (Long, Seq[Long])) => t._1))
    val beforeRows = rows()

    // crash point 1: old store renamed aside, new store not yet swapped in
    // (the state a kill between StoreSwap's two renames leaves behind)
    val aside = parent.resolve(".sigs.old-deadbeef")
    java.nio.file.Files.move(parent.resolve("sigs"), aside)
    assert(!new java.io.File(path).exists())
    // the store data survived the crash, parked under the aside...
    val (b, a) = DedupOps.compactSignatureStore(spark, path)
    // ...and the next maintenance call restored AND compacted it
    assert(a <= b)
    assert(rows() == beforeRows)
    assert(new java.io.File(path, "_SUCCESS").exists())
    assert(!aside.toFile.exists(), "aside must be consumed by recovery")

    // crash point 2: swap-in completed but the replaced store's aside was
    // never deleted — the sweep must remove it WITHOUT merging its rows
    val stale = parent.resolve(".sigs.old-cafebabe")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(path), stale.toFile)
    DedupOps.compactSignatureStore(spark, path)
    assert(!stale.toFile.exists(), "stale aside must be swept")
    assert(rows() == beforeRows, "stale aside rows must not merge in")
  }

  test("signatureStore: ingest against the persisted store equals ingest " +
      "against freshly computed signatures; second call hits the cache") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val batch = docs.filter($"doc_id" % 3 === 0)
    val path = java.nio.file.Files
      .createTempDirectory("graft-sigs-spec").resolve("sigs").toString
    val store = DedupOps.signatureStore(spark, corpus, path,
      k = 3, numBands = 8, rowsPerBand = 2)
    val fresh = DedupOps.minHashSignaturesDf(corpus, 3, 16, portable = true)
    val viaStore = DedupOps.incrementalNearDupFlags(batch, store,
        3, 8, 2, 0.8).collect().map(_.toSeq).toSet
    val viaFresh = DedupOps.incrementalNearDupFlags(batch, fresh,
        3, 8, 2, 0.8).collect().map(_.toSeq).toSet
    assert(viaStore == viaFresh && viaStore.nonEmpty)
    // cache hit: the store side of a second call plans as a bare
    // FileScan — no shingle Generate, no signature HashAggregate
    val again = DedupOps.signatureStore(spark, corpus, path, 3, 8, 2)
    val plan = again.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("Scan parquet"))
    assert(!plan.contains("Generate") && !plan.contains("HashAggregate"))
  }

  test("fuzzyContaminationFlags: a train doc near-duplicating an eval doc " +
      "flags; clean docs keep n_eval_matches=0 with NULL max_jaccard; " +
      "flags agree with the symmetric LSH pair view") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different training content about spark shuffles and joins"),
      (3L, "short doc"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      // near-copy of train doc 1 (one trailing token changed)
      (100L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (101L, "unrelated evaluation benchmark question nothing shared at all"))
      .toDF("doc_id", "text")
    val flags = DedupOps.fuzzyContaminationFlags(train, eval_,
        k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(flags.keySet == Set(1L, 2L, 3L), "one row per train doc")
    assert(flags(1L)._3, "near-copy of an eval doc must flag")
    assert(flags(1L)._1 == 1L && flags(1L)._2.isDefined)
    assert(!flags(2L)._3 && flags(2L)._1 == 0L && flags(2L)._2.isEmpty,
      "clean doc must stay (0, NULL, false)")
    assert(!flags(3L)._3)

    // differential: the flagged set equals the cross-(train, eval)
    // restriction of the symmetric q27 pair view over the union corpus
    // (ids are disjoint, so pairs straddling the split identify flags)
    val crossFlagged = DedupOps.minHashLshPairs(train.unionByName(eval_),
        k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.5,
        portable = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100L && b >= 100L }
      .map(_._1).toSet
    assert(crossFlagged ==
      flags.filter(_._2._3).keySet,
      "fuzzy flags diverged from the symmetric pair view")
  }

  test("fuzzyContaminationFlags plan: the band join broadcasts the eval " +
      "side (no sort-merge of the corpus against the eval set)") {
    val train = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val eval_ = train.filter($"doc_id" % 5 === 0)
    val p = DedupOps.fuzzyContaminationFlags(
        train.filter($"doc_id" % 5 =!= 0), eval_,
        k = 3, numBands = 8, rowsPerBand = 2, minJaccard = 0.8)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      "eval bands must broadcast to the corpus band stream")
  }

  test("reassembly stress: a 50k-token document runs all three span " +
      "editors within a wall-time bound (no quadratic prefix arrays)") {
    // The pre-r12 rebuild idiom (running collect_list over an unbounded-
    // preceding frame) materialized a length-p prefix array at every
    // position — O(T²) state, ~1.25G array cells for ONE 50k-token book.
    // The shared Reassemble aggregate is linear; this pins that a book-
    // length document stays seconds, not minutes. Text shape exercises
    // every operator's edit path: adjacent runs (collapseTokenRuns), a
    // repeated 8-token block (chunkDedup + cutSharedSpans via doc 2).
    val n = 50000
    val toks = (0 until n).map { i =>
      if (i % 97 < 2) "dup dup".split(" ")(i % 2) // adjacent run every 97
      else if (i % 640 < 8) s"block${i % 8}"      // recurring 8-token block
      else s"w${i % 3163}"
    }
    val big = toks.mkString(" ")
    val docs = Seq((1L, big), (2L, big.take(4000))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val runs = TextOps.collapseTokenRuns(docs, "doc_id", "text").collect()
    val chunks = DedupOps.chunkDedup(docs, "doc_id", "text",
      chunkTokens = 8).collect()
    val spans = TextOps.cutSharedSpans(docs, "doc_id", "text", n = 8)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120.0,
      f"span editors took $secs%.1f s on a 50k-token doc — quadratic " +
        "rebuild suspected")
    // sanity: every operator saw all tokens and actually edited
    val r1 = runs.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == n && r1.getLong(2) < n)
    assert(r1.getString(3).split(" ").length == r1.getLong(2))
    val c1 = chunks.find(_.getLong(0) == 1L).get
    assert(c1.getLong(1) == (n + 7) / 8 && c1.getLong(2) < c1.getLong(1))
    val s1 = spans.find(_.getLong(0) == 1L).get
    assert(s1.getLong(1) == n && s1.getLong(2) <= n)
  }

  test("clusterDedupBest keeps the highest-score member per cluster " +
      "(NOT the min id), ties to the lowest id, all-null clusters keep one") {
    val docs = Seq(
      (1L, Some(0.2)), (2L, Some(0.9)), (3L, Some(0.9)), // best tie → 2
      (4L, Some(0.5)),                                   // singleton
      (5L, None), (6L, None)                             // all-null → 5
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val r = DedupOps.clusterDedupBest(docs, "id", pairs, col("score"))
      .orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L, 4L, 5L))
    val c = r.find(_.getLong(0) == 2L).get
    assert(c.getLong(3) == 3L, "cluster size must ride along")
    // contrast with min-id semantics: clusterDedup would have kept 1
    assert(DedupOps.clusterDedup(docs, "id", pairs)
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
  }

  test("temperatureMixSample: α=1 is the natural mix (one uniform rate), " +
      "α<1 upsamples the low-resource source, dirty rows drop") {
    val rnd = new scala.util.Random(11)
    val rows =
      (1L to 400L).map(i => (i, "big", 40L + rnd.nextInt(20))) ++
      (401L to 440L).map(i => (i, "small", 40L + rnd.nextInt(20))) ++
      Seq((900L, null.asInstanceOf[String], 50L), (901L, "empty", 0L))
    val df = rows.toDF("id", "source", "n")
    def keptFrac(alpha: Double, src: String): Double = {
      val kept = DedupOps.temperatureMixSample(df, "id", "source",
        col("n"), alpha, budgetTokens = 8000L).collect()
      assert(!kept.exists(_.isNullAt(1)), "null source must drop")
      assert(!kept.exists(_.getString(1) == "empty"),
        "zero-supply source must keep nothing")
      val all = rows.filter(_._2 == src).map(_._3).sum.toDouble
      kept.filter(_.getString(1) == src).map(_.getLong(2)).sum / all
    }
    // α=1: rate = budget/total for every source → kept fractions match
    // up to coin noise on the small source
    val n1big = keptFrac(1.0, "big"); val n1small = keptFrac(1.0, "small")
    assert(math.abs(n1big - n1small) < 0.25,
      s"natural mix should sample sources at one rate: $n1big vs $n1small")
    // α=0.5: the small source's kept fraction must strictly exceed its
    // α=1 fraction, and exceed the big source's α=0.5 fraction
    val hBig = keptFrac(0.5, "big"); val hSmall = keptFrac(0.5, "small")
    assert(hSmall > n1small && hSmall > hBig,
      s"α=0.5 must upsample the small source: $hSmall vs $n1small/$hBig")
  }

  test("tokenBudgetSelect: the histogram-threshold plan equals the naive " +
      "global-prefix spec across budgets, monotone, with clamped/zero/" +
      "dirty rows") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map { i =>
      val s = rnd.nextInt(8) match {
        case 0 => -0.5 + rnd.nextDouble() // below scoreLo: clamps, still exact
        case 1 => 1.0 + rnd.nextDouble()  // at/above scoreHi: clamps
        case _ => rnd.nextInt(20) / 20.0  // heavy score ties
      }
      val t = if (i % 17 == 0) 0L else rnd.nextInt(100).toLong
      (i, s, t)
    }
    val df = rows.toDF("id", "score", "n")
      .unionByName(spark.sql(
        """SELECT CAST(9999 AS BIGINT) id, CAST('NaN' AS DOUBLE) score,
          |  CAST(5 AS BIGINT) n
          |UNION ALL SELECT 9998, 0.5, -3
          |UNION ALL SELECT NULL, 0.5, 10
          |UNION ALL SELECT 9996, NULL, 10
          |UNION ALL SELECT 9995, 0.5, NULL""".stripMargin))
    // naive spec: sort by (score desc, id), keep while the running total
    // stays within budget; dirty rows (NaN/negative/NULL) never qualify
    val ordered = rows.sortBy(r => (-r._2, r._1))
    def naive(budget: Long): Set[Long] = {
      var cum = 0L
      ordered.iterator.map { r => cum += r._3; (r._1, cum) }
        .filter(_._2 <= budget).map(_._1).toSet
    }
    var prev = Set.empty[Long]
    for (budget <- Seq(1L, 500L, 3000L, 8000L, 1000000L)) {
      // nBuckets = 4 forces a FAT boundary bucket (the correctness-never-
      // depends-on-bucketing contract under the worst pruning)
      val got = DedupOps.tokenBudgetSelect(df, "id", col("score"), col("n"),
          budget, nBuckets = 4)
        .collect().map(_.getLong(0)).toSet
      assert(got == naive(budget), s"budget=$budget")
      assert(prev.subsetOf(got), s"kept set must grow with the budget")
      prev = got
    }
    // budget >= total keeps every valid row
    assert(prev == rows.map(_._1).toSet)
  }

  test("tokenBudgetSelect plan: the exact window runs over the boundary " +
      "bucket only; a budget the whole corpus fits under is map-only") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = (1L to 200L).map(i => (i, (i % 10) / 10.0, 10L))
      .toDF("id", "s", "n")
    // 750 tokens of 2000: buckets 8,9 fit (400), bucket 7 is the boundary
    val edge = DedupOps.tokenBudgetSelect(df, "id", col("s"), col("n"),
      750L, nBuckets = 10)
    val p = edge.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"exactly ONE window (the boundary bucket), got:\n$p")
    assert(p.contains("__b#") || p.contains("= 7"),
      s"the window branch must sit above a boundary-bucket filter:\n$p")
    val all = DedupOps.tokenBudgetSelect(df, "id", col("s"), col("n"),
      1000000L, nBuckets = 10)
    val pa = all.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!pa.contains("Window") && !pa.contains("Exchange"),
      s"whole-corpus-fits must be map-only (no window, no shuffle):\n$pa")
  }

  test("neardupThresholdSweep equals the naive per-threshold counts, " +
      "keeps empty thresholds at zero, and rejects duplicate thresholds") {
    val rnd = new scala.util.Random(31)
    val pairs = (1 to 120).map { _ =>
      val a = rnd.nextInt(40).toLong
      (a, a + 1 + rnd.nextInt(40).toLong, rnd.nextInt(21) / 20.0)
    }.distinct
    val df = pairs.toDF("id_a", "id_b", "jaccard")
    val ths = Seq(0.0, 0.35, 0.7, 0.95, 2.0) // 2.0: nothing survives
    val got = DedupOps.neardupThresholdSweep(df, "jaccard", ths)
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.keySet == ths.toSet)
    ths.foreach { t =>
      val surv = pairs.filter(_._3 >= t)
      val docs = surv.flatMap(p => Seq(p._1, p._2)).distinct
      assert(got(t) == ((surv.length.toLong, docs.length.toLong)),
        s"threshold $t")
    }
    assert(got(2.0) == ((0L, 0L)))
    val e = intercept[IllegalArgumentException](
      DedupOps.neardupThresholdSweep(df, "jaccard", Seq(0.5, 0.5)))
    assert(e.getMessage.contains("distinct"))
  }

  private def repMd5(id: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"rep:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Naive repeat-epochs spec: per targeted source, order docs by
    * (md5 coin, id), base = target / supply (integer), and the shortest
    * prefix whose running token total stays within target mod supply gets
    * one extra repeat. */
  private def naiveSchedule(rows: Seq[(Long, String, Long)],
                            targets: Map[String, Long]): Map[Long, Long] =
    targets.keys.flatMap { s =>
      val docs = rows.filter(_._2 == s).sortBy(r => (repMd5(r._1), r._1))
      val supply = docs.map(_._3).sum
      val base = if (supply == 0) 0L else targets(s) / supply
      var rem = targets(s) - base * supply
      docs.map { case (id, _, t) =>
        rem -= t
        id -> (base + (if (rem >= 0) 1L else 0L))
      }
    }.toMap

  test("repetitionSchedule equals the naive repeat-epochs spec across " +
      "multi-epoch/partial/zero/exact regimes; budget lands within one " +
      "doc; schedule is stable under target growth") {
    val rnd = new scala.util.Random(13)
    val rows: Seq[(Long, String, Long)] =
      (1L to 60L).map(i => (i, "a", rnd.nextInt(20).toLong + 1)) ++
      (101L to 150L).map(i => (i, "b",
        if (i % 13 == 0) 0L else rnd.nextInt(20).toLong + 1)) ++
      (201L to 220L).map(i => (i, "c", rnd.nextInt(20).toLong + 1)) ++
      (301L to 330L).map(i => (i, "d", 10L)) ++
      (401L to 420L).map(i => (i, "e", rnd.nextInt(20).toLong + 1))
    val supplyA = rows.filter(_._2 == "a").map(_._3).sum
    val targets = Map(
      "a" -> (3 * supplyA + supplyA / 3), // multi-epoch + remainder prefix
      "b" -> 250L,                        // sub-epoch partial prefix
      "c" -> 0L,                          // targeted but unused
      "d" -> 600L)                        // exact 2 epochs, remainder 0
    val df = rows.toDF("id", "src", "n").unionByName(spark.sql(
      """SELECT CAST(NULL AS BIGINT) id, 'a' src, CAST(5 AS BIGINT) n
        |UNION ALL SELECT 9999, CAST(NULL AS STRING), 5""".stripMargin))
    val got = DedupOps.repetitionSchedule(df, "id", "src", col("n"), targets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // untargeted source absent; dirty rows absent; every targeted doc present
    assert(!got.exists(_._2 == "e") && !got.exists(_._1 == 9999L))
    assert(got.length == rows.count(r => targets.contains(r._2)))
    val naive = naiveSchedule(rows, targets)
    got.foreach { case (id, _, _, rep) =>
      assert(rep == naive(id), s"doc $id: got $rep, naive ${naive(id)}")
    }
    // per-source budget bound: Σ rep·tok ≤ target, short by less than the
    // largest doc of that source
    for ((s, t) <- targets) {
      val scheduled = got.filter(_._2 == s).map(r => r._4 * r._3).sum
      val maxTok = rows.filter(_._2 == s).map(_._3).max
      assert(scheduled <= t && t - scheduled <= maxTok,
        s"source $s: scheduled $scheduled of target $t (maxTok $maxTok)")
    }
    // exact-multiple source: every doc repeats exactly base times
    assert(got.filter(_._2 == "d").forall(_._4 == 2L))
    // growth stability: raising one target only ever raises per-doc repeats
    var prev = Map.empty[Long, Long]
    for (tb <- Seq(100L, 250L, 500L, 2000L)) {
      val g = DedupOps.repetitionSchedule(df, "id", "src", col("n"),
          targets + ("b" -> tb))
        .filter(col("src") === "b")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      prev.foreach { case (id, r0) =>
        assert(g(id) >= r0, s"doc $id regressed $r0 -> ${g(id)} at target $tb")
      }
      prev = g
    }
  }

  test("repetitionSchedule plan: ONE shared window over the boundary " +
      "coin-buckets; full and rest branches are window-free") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = (1L to 200L).map(i => (i, s"s${i % 3}", 10L)).toDF("id", "src", "n")
    val out = DedupOps.repetitionSchedule(df, "id", "src", col("n"),
      Map("s0" -> 500L, "s1" -> 123L, "s2" -> 1L))
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"exactly ONE window (the shared boundary-bucket branch), got:\n$p")
  }

  test("tokenBudgetSelectBySource equals the naive per-source window " +
      "across regimes (partial, all-fits, absent, untargeted)") {
    val docs = (1L to 400L).map { i =>
      (i, s"s${i % 5}", (i % 89).toDouble / 89.0, 5L + i % 7)
    }.toDF("id", "src", "score", "n")
    // s0 partial, s1 tiny budget, s2 covers everything, sX absent;
    // s3/s4 untargeted — must never appear
    val budgets = Map("s0" -> 200L, "s1" -> 25L, "s2" -> 100000L,
      "sX" -> 50L)
    val got = DedupOps.tokenBudgetSelectBySource(docs, "id", "src",
        col("score"), col("n"), budgets, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // naive spec: per-source global (score DESC, id) prefix within budget
    val naive = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .filter(t => budgets.contains(t._2))
      .groupBy(_._2).toSeq.flatMap { case (s2, rows) =>
        var cum = 0L
        rows.sortBy(t => (-t._3, t._1)).takeWhile { t =>
          cum += t._4; cum <= budgets(s2)
        }.map(t => (t._1, t._2))
      }.sortBy(_._1)
    assert(got == naive)
    assert(got.nonEmpty)
    assert(got.map(_._2).toSet.subsetOf(Set("s0", "s1", "s2")))
    // the all-fits source kept wholesale
    assert(got.count(_._2 == "s2") == 80)
    // one window only (all boundary buckets share it), like q127's plan
    import org.apache.spark.sql.execution.ExplainMode
    val plan = DedupOps.tokenBudgetSelectBySource(docs, "id", "src",
        col("score"), col("n"), budgets, nBuckets = 16)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Window""".r.findAllIn(plan).size == 1,
      s"exactly ONE shared boundary window, got:\n$plan")
  }

  test("manifest lifetime: the three internal persists are BOUNDED by " +
      "the LRU cap and releaseManifests() drops them all — no unbounded " +
      "cache-block accumulation (VERDICT r13 defect 1)") {
    DedupOps.releaseManifests()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = (1L to 300L).map(i => (i, (i % 97).toDouble / 97.0, 10L))
      .toDF("id", "score", "n")
    // 12 calls across the three operators — a bare persist() would leave
    // 12 cached manifests; the registry must hold at most its cap (8)
    (1 to 10).foreach { k =>
      DedupOps.tokenBudgetSelect(docs, "id", col("score"), col("n"),
        budgetTokens = 50L * k).collect()
    }
    val src = (1L to 200L).map(i => (i, s"s${i % 2}", 5L)).toDF("id", "src", "n")
    DedupOps.repetitionSchedule(src, "id", "src", col("n"),
      Map("s0" -> 700L, "s1" -> 123L)).collect()
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.5), (2L, 3L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    DedupOps.neardupThresholdSweep(pairs, "jaccard", Seq(0.6, 0.8)).collect()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    assert(during.diff(before).size <= 8,
      s"manifest registry exceeded its cap: ${during.diff(before).size}")
    // the explicit lifetime handle: after release, NOTHING from these
    // operators stays cached
    DedupOps.releaseManifests()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.diff(before).isEmpty,
      s"releaseManifests left blocks: ${after.diff(before)}")
    // an LRU-evicted manifest stays CORRECT (lineage recompute): the
    // oldest result above was evicted by the 12 later calls, and its
    // re-collection still matches a fresh run
    val first = DedupOps.tokenBudgetSelect(docs, "id", col("score"),
      col("n"), budgetTokens = 50L)
    DedupOps.releaseManifests()
    assert(first.collect().map(_.getLong(0)).sorted.toSeq ==
      DedupOps.tokenBudgetSelect(docs, "id", col("score"), col("n"),
        budgetTokens = 50L).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("budgetCurve: fixed-width buckets, best-first cumulation, exact " +
      "shares; NULL/NaN scores and NULL tokens are excluded") {
    import spark.implicits._
    val d = Seq(
      (1L, Some(0.95), Some(100L)), // bucket 9
      (2L, Some(0.92), Some(50L)),  // bucket 9
      (3L, Some(0.45), Some(200L)), // bucket 4
      (4L, Some(0.05), Some(150L)), // bucket 0
      (5L, Option.empty[Double], Some(999L)),  // NULL score: out
      (6L, Some(Double.NaN), Some(999L)),      // NaN: out
      (7L, Some(0.5), Option.empty[Long])      // NULL tokens: out
    ).toDF("id", "score", "n")
    val r = DedupOps.budgetCurve(d, col("score"), col("n"))
      .orderBy(col("bucket").desc)
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))
    // total 500: bucket 9 (150 cum 150, .3), 4 (200 cum 350, .7),
    // 0 (150 cum 500, 1.0)
    assert(r.toSeq == Seq(
      (9, 2L, 150L, 150L, 0.3),
      (4, 1L, 200L, 350L, 0.7),
      (0, 1L, 150L, 500L, 1.0)), r.toSeq)
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(DedupOps.budgetCurve(d, col("score"), col("n"),
      nBuckets = 0)).contains("nBuckets"))
    assert(msg(DedupOps.budgetCurve(d, col("score"), col("n"),
      scoreLo = 1.0, scoreHi = 1.0)).contains("empty"))
  }

  test("allocateBudgets: global best-bucket-first water-filling with a " +
      "mid-bucket crossing cell; ties at a bucket break by source asc; " +
      "NULL source/score/tokens excluded; loud validation") {
    import spark.implicits._
    val d = Seq(
      (1L, Some("A"), Some(0.95), Some(10L)),  // A bucket 9, mass 10
      (2L, Some("A"), Some(0.55), Some(20L)),  // A bucket 5, mass 20
      (3L, Some("B"), Some(0.85), Some(15L)),  // B bucket 8, mass 15
      (4L, Some("B"), Some(0.35), Some(40L)),  // B bucket 3, mass 40
      (5L, Option.empty[String], Some(0.9), Some(99L)), // NULL source
      (6L, Some("A"), Some(Double.NaN), Some(99L)),     // NaN score
      (7L, Some("B"), Some(0.9), Option.empty[Long])    // NULL tokens
    ).toDF("id", "source", "score", "n")
    // budget 30, global order (9,A,10) (8,B,15) (5,A,20) (3,B,40):
    // cum 10, 25, 45, 85 → A9 full, B8 full, A5 takes 30−25=5, B3 zero
    val r = DedupOps.allocateBudgets(d, "source", col("score"), col("n"),
        totalBudget = 30L)
      .orderBy("source").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), if (x.isNullAt(4)) -1 else x.getInt(4)))
    // A: avail 30, alloc 15, share 0.5, cut bucket 5
    // B: avail 55, alloc 15, share round-half-up(15/55 at 6) = 0.272727
    assert(r.toSeq == Seq(("A", 30L, 15L, 0.5, 5),
      ("B", 55L, 15L, 0.272727, 8)), r.toSeq)
    // a budget bigger than everything takes everything
    val all = DedupOps.allocateBudgets(d, "source", col("score"),
        col("n"), totalBudget = 1000000L)
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(all == Map("A" -> 1.0, "B" -> 1.0), all)
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(DedupOps.allocateBudgets(d, "source", col("score"),
      col("n"), totalBudget = 0L)).contains("positive"))
    assert(msg(DedupOps.allocateBudgets(d, "source", col("score"),
      col("n"), totalBudget = 10L, nBuckets = 0)).contains("nBuckets"))
    // ADVICE r17: the micro-share arithmetic (2000000 * alloc_tokens)
    // must not silently wrap at trillion-token budgets — the guard
    // fails NAMED above the overflow line
    assert(msg(DedupOps.allocateBudgets(d, "source", col("score"),
      col("n"), totalBudget = Long.MaxValue / 2000000L + 1L))
      .contains("overflow"))
    // ...and exactly AT the bound it runs (no off-by-one rejection)
    val atBound = DedupOps.allocateBudgets(d, "source", col("score"),
        col("n"), totalBudget = Long.MaxValue / 2000000L)
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(atBound == Map("A" -> 1.0, "B" -> 1.0), atBound)
  }

  test("selectWithAllocatedBudgets: a non-string source column selects " +
      "through the string-cast probe instead of a driver-side " +
      "ClassCastException (ADVICE r17)") {
    import spark.implicits._
    // integer sources: the allocation probe casts them to string, and
    // tokenBudgetSelectBySource's string-keyed budgets match the
    // cast-at-filter semantics of isin over a cast column
    val d = Seq((1L, 7, 0.95, 10L), (2L, 7, 0.55, 20L),
      (3L, 8, 0.85, 15L), (4L, 8, 0.35, 40L))
      .toDF("id", "source", "score", "n")
    val r = DedupOps.selectWithAllocatedBudgets(d, "id", "source",
        col("score"), col("n"), totalBudget = 30L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(r == Seq(1L, 3L), r)
  }

  test("selectWithAllocatedBudgets: the composed selection respects " +
      "every per-source allocation and the global budget; an all-zero " +
      "allocation fails loudly") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", 0.95, 10L), (2L, "A", 0.55, 20L),
      (3L, "B", 0.85, 15L), (4L, "B", 0.35, 40L)
    ).toDF("id", "source", "score", "n")
    // budget 30 → allocations A:15, B:15 (see the allocateBudgets
    // test); enforcement best-first per source at DOC granularity:
    // A takes doc 1 (10 ≤ 15; adding doc 2 would cross), B takes doc 3
    val r = DedupOps.selectWithAllocatedBudgets(d, "id", "source",
        col("score"), col("n"), totalBudget = 30L)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(3)))
    assert(r.map(_._1).sorted.toSeq == Seq(1L, 3L), r.toSeq)
    assert(r.map(_._3).sum <= 30L)
    val zero = Seq((1L, "A", 0.9, 0L)).toDF("id", "source", "score", "n")
    val e = intercept[IllegalArgumentException](
      DedupOps.selectWithAllocatedBudgets(zero, "id", "source",
        col("score"), col("n"), totalBudget = 30L))
    assert(e.getMessage.contains("zero tokens"), e.getMessage)
  }
}
