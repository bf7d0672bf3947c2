package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions.{lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** BM25 retrieval (q116): hand-computed scores on a tiny corpus, the
  * query-term filter semantics, and the absent-term / no-match edges.
  */
class RetrievalOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "join the join club"),   // tf(join)=2, dl=4
    (2L, "merge sort"),           // no query term → never appears
    (3L, "scan scan scan scan"),  // tf(scan)=4, dl=4
    (4L, "nothing relevant here")
  ).toDF("doc_id", "text")

  /** Independent closed-form recomputation with plain scala doubles. */
  private def okapi(tf: Double, dl: Double, df: Double, nDocs: Double,
                    avgdl: Double, k1: Double = 1.2,
                    b: Double = 0.75): Double = {
    val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1)
    idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))
  }

  test("scores match the closed form; docs without query terms are " +
      "absent; ranking is (score desc, id)") {
    val r = RetrievalOps.bm25TopK(docs, Seq("join", "scan"), "doc_id",
        "text", k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1))
    // corpus: N=4, total tokens 4+2+4+3=13, avgdl=3.25
    val avgdl = 13.0 / 4
    val exp1 = BigDecimal(okapi(2, 4, 1, 4, avgdl))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp3 = BigDecimal(okapi(4, 4, 1, 4, avgdl))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.map(_._1).toSeq == Seq(3L, 1L), s"ranking: ${r.toSeq}")
    assert(math.abs(r.find(_._1 == 1L).get._2 - exp1) < 1e-6)
    assert(math.abs(r.find(_._1 == 3L).get._2 - exp3) < 1e-6)
  }

  test("a query term absent from the corpus contributes nothing, and an " +
      "all-absent query returns zero rows") {
    val withAbsent = RetrievalOps.bm25TopK(docs,
        Seq("join", "scan", "zzznope"), "doc_id", "text", k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val without = RetrievalOps.bm25TopK(docs, Seq("join", "scan"),
        "doc_id", "text", k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(withAbsent == without)
    assert(RetrievalOps.bm25TopK(docs, Seq("zzznope"), "doc_id", "text",
      k = 10).collect().isEmpty)
  }

  test("case-insensitive query terms; k bounds the result") {
    val r = RetrievalOps.bm25TopK(docs, Seq("JOIN", "Scan"), "doc_id",
      "text", k = 1).collect()
    assert(r.length == 1 && r.head.getLong(0) == 3L)
  }

  private def probeDf = Seq((1, "join"), (1, "merge"), (2, "scan"),
    (2, "join"), (3, "zzzabsent")).toDF("query_id", "term")

  private def perQueryRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq

  test("lexical stats store: build + serve equals the inline " +
      "bm25PerQuery; append ≡ rebuild over the grown corpus; staleness " +
      "reconciles; compact preserves answers") {
    val base = java.nio.file.Files.createTempDirectory("graft-lexstats")
    val path = base.resolve("stats").toString
    val early = docs.filter($"doc_id" <= 2L)
    val stats0 = RetrievalOps.lexicalStatsStore(spark, early, path,
      "doc_id", "text", nBuckets = 8)
    // append the rest of the corpus — serving must equal the inline form
    // over the FULL corpus (dl/df/avgdl all absorb the appended docs)
    val n = RetrievalOps.appendToLexicalStats(spark,
      docs.filter($"doc_id" > 2L), path, "doc_id", "text", nBuckets = 8)
    assert(n == 2L)
    val stats = RetrievalOps.readLexicalStats(spark, path)
    val fromStore = perQueryRows(RetrievalOps.bm25PerQueryFromStore(
      stats, probeDf, "query_id", "term", "doc_id", k = 5, nBuckets = 8))
    val inline = perQueryRows(RetrievalOps.bm25PerQuery(
      docs, probeDf, "query_id", "term", "doc_id", "text", k = 5))
    assert(fromStore == inline)
    assert(fromStore.nonEmpty)
    // staleness: one doc leaves (orphan), one new arrives (missing)
    val current = docs.filter($"doc_id" =!= 2L)
      .unionByName(Seq((9L, "fresh join doc")).toDF("doc_id", "text"))
    val st = RetrievalOps.lexicalStatsStaleness(current, stats, "doc_id",
      "text").head
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)) ==
      ((3L, 1L, 1L, 0L)),
      s"expected (indexed=3, missing=1, orphaned=1, changed=0): $st")
    // a doc whose TEXT changed under the same id: n_changed names it —
    // the blind spot an id-only reconcile cannot see
    val mutated = docs.withColumn("text",
      when($"doc_id" === 1L, lit("join the rewritten club"))
        .otherwise($"text"))
    val st2 = RetrievalOps.lexicalStatsStaleness(mutated, stats, "doc_id",
      "text").head
    assert(st2.getLong(3) == 1L, s"expected n_changed=1: $st2")
    // compact: fewer term files, one per bucket, answers unchanged
    val (nBefore, nAfter) = RetrievalOps.compactLexicalStats(spark, path)
    assert(nAfter <= nBefore)
    val afterCompact = perQueryRows(RetrievalOps.bm25PerQueryFromStore(
      RetrievalOps.readLexicalStats(spark, path), probeDf,
      "query_id", "term", "doc_id", k = 5, nBuckets = 8))
    assert(afterCompact == inline)
    // append to an unpublished path refuses loudly
    val e = intercept[IllegalArgumentException](
      RetrievalOps.appendToLexicalStats(spark, docs,
        base.resolve("nope").toString, "doc_id", "text"))
    assert(e.getMessage.contains("no published lexical stats"))
  }

  test("bm25PerQueryFromStore plan: NO tokenize anywhere (zero Generate " +
      "nodes) and the term scan is statically pruned to the probe " +
      "terms' buckets") {
    val path = java.nio.file.Files.createTempDirectory("graft-lexplan")
      .resolve("stats").toString
    val stats = RetrievalOps.lexicalStatsStore(spark, docs, path,
      "doc_id", "text", nBuckets = 8)
    val df = RetrievalOps.bm25PerQueryFromStore(stats, probeDf,
      "query_id", "term", "doc_id", k = 5, nBuckets = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"serving must never tokenize — found a Generate:\n${plan.take(4000)}")
    // the terms scan carries the probe buckets as an IN-list PARTITION
    // filter — unprobed bucket directories are never even listed
    assert("""(?i)partitionfilters: \[[^\]]*tb#\d+ in """.r
        .findFirstIn(plan).isDefined,
      s"term scan must carry a static IN partition filter on tb:\n" +
        plan.take(4000))
  }

  test("bm25TopKFromStore equals the inline bm25TopK (absent terms, " +
      "case folding, k bound) with a tokenize-free plan") {
    val path = java.nio.file.Files.createTempDirectory("graft-lextopk")
      .resolve("stats").toString
    val stats = RetrievalOps.lexicalStatsStore(spark, docs, path,
      "doc_id", "text", nBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromStore = RetrievalOps.bm25TopKFromStore(stats,
      Seq("JOIN", "scan", "zzznope"), "doc_id", k = 10, nBuckets = 8)
    assert(rows(fromStore) == rows(RetrievalOps.bm25TopK(docs,
      Seq("JOIN", "scan", "zzznope"), "doc_id", "text", k = 10)))
    assert(!fromStore.queryExecution.executedPlan.toString
      .contains("Generate"))
    // k bounds; all-absent query yields zero rows on the store path too
    assert(RetrievalOps.bm25TopKFromStore(stats, Seq("join"), "doc_id",
      k = 1, nBuckets = 8).collect().length == 1)
    assert(RetrievalOps.bm25TopKFromStore(stats, Seq("zzznope"), "doc_id",
      k = 5, nBuckets = 8).collect().isEmpty)
  }

  test("bm25ContaminationCandidates equals the per-doc rollup of the " +
      "inline per-query retrieval") {
    val path = java.nio.file.Files.createTempDirectory("graft-lexdecon")
      .resolve("stats").toString
    val stats = RetrievalOps.lexicalStatsStore(spark, docs, path,
      "doc_id", "text", nBuckets = 8)
    val got = RetrievalOps.bm25ContaminationCandidates(stats, probeDf,
        "query_id", "term", "doc_id", k = 5, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val want = RetrievalOps.bm25PerQuery(docs, probeDf, "query_id",
        "term", "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).map { case (id, rows) =>
        (id, rows.size, rows.map(_._3).min, rows.map(_._2).max)
      }.toSeq.sortBy(_._1)
    assert(got == want)
    assert(got.nonEmpty)
    // doc 1 carries both probe terms of query 1 and 'join' of query 2:
    // retrieved by two queries
    assert(got.find(_._1 == 1L).exists(_._2 == 2))
  }

  test("stream-replay residue: a double-appended batch leaves SERVING " +
      "scores exact (terms side dedupes in the plan), and " +
      "compactLexicalStats heals BOTH sides of the store (ADVICE r14)") {
    val base = java.nio.file.Files.createTempDirectory("graft-lexreplay")
    val path = base.resolve("stats").toString
    RetrievalOps.lexicalStatsStore(spark, docs.filter($"doc_id" <= 2L),
      path, "doc_id", "text", nBuckets = 8)
    val batch = docs.filter($"doc_id" > 2L)
    RetrievalOps.appendToLexicalStats(spark, batch, path, "doc_id",
      "text", nBuckets = 8)
    val clean = perQueryRows(RetrievalOps.bm25PerQueryFromStore(
      RetrievalOps.readLexicalStats(spark, path), probeDf, "query_id",
      "term", "doc_id", k = 5, nBuckets = 8))
    // the crash window: append succeeded, marker write did not — the
    // replayed batch appends AGAIN, duplicating its rows exactly
    RetrievalOps.appendToLexicalStats(spark, batch, path, "doc_id",
      "text", nBuckets = 8)
    val duped = RetrievalOps.readLexicalStats(spark, path)
    // terms side: tf/df/per-term arithmetic robust — every per-doc score
    // that does not touch the N/avgdl scalars of a duplicated doc is
    // EXACT; here query 2's 'scan' hits doc 3 (a duplicated doc) whose
    // tf would have DOUBLED without the dedupe. Rankings must hold and
    // the duplicated doc must appear once per query, not twice.
    val replayServed = perQueryRows(RetrievalOps.bm25PerQueryFromStore(
      duped, probeDf, "query_id", "term", "doc_id", k = 5, nBuckets = 8))
    assert(replayServed.map(t => (t._1, t._2)).distinct.size ==
      replayServed.size, s"duplicated (query, doc) rows: $replayServed")
    assert(replayServed.map(t => (t._1, t._2, t._4)) ==
      clean.map(t => (t._1, t._2, t._4)),
      s"replay residue changed the ranking: $replayServed vs $clean")
    // docs side: N double-counts the replayed docs until compact (the
    // documented bounded drift) — compact dedupes both sides and the
    // full clean answer comes back bit-for-bit
    RetrievalOps.compactLexicalStats(spark, path)
    val healed = RetrievalOps.readLexicalStats(spark, path)
    assert(healed.docs.count() == 4L,
      "compact must dedupe the replayed docs rows")
    assert(perQueryRows(RetrievalOps.bm25PerQueryFromStore(healed,
      probeDf, "query_id", "term", "doc_id", k = 5, nBuckets = 8))
      == clean)
  }

  test("the serving probe broadcast is capped loudly: a corpus-sized " +
      "probe fails NAMED, not with a broadcast OOM (ADVICE r14)") {
    val base = java.nio.file.Files.createTempDirectory("graft-lexcap")
    val path = base.resolve("stats").toString
    RetrievalOps.lexicalStatsStore(spark, docs, path, "doc_id", "text",
      nBuckets = 8)
    val stats = RetrievalOps.readLexicalStats(spark, path)
    val hugeProbe = spark.range(65537)
      .selectExpr("1 as query_id", "concat('t', id) as term")
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.bm25PerQueryFromStore(stats, hugeProbe, "query_id",
        "term", "doc_id", k = 5, nBuckets = 8).collect()
    }
    assert(e.getMessage.contains("probe vocabulary exceeds"))
  }

  test("q144 composes: the registered query's serving plan is " +
      "tokenize-free while the result matches q118's registered query") {
    val q144 = graft.queries.ExtensionQueries.queries(
      "q144_bm25_from_store")(spark, "/root/testdata/sf0.001")
    val q118 = graft.queries.ExtensionQueries.queries(
      "q118_bm25_per_query")(spark, "/root/testdata/sf0.001")
    assert(q144.collect().toSeq == q118.collect().toSeq)
    assert(!q144.queryExecution.executedPlan.toString.contains("Generate"))
  }

  // --- rrfFuse (q163) ------------------------------------------------

  private def leg(rows: (Int, Long, Int)*) =
    rows.toDF("query_id", "id", "rank")

  private def rrf(rank: Int, w: Double = 1.0): Double = w / (60 + rank)

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("rrfFuse matches the closed form: overlap beats single-leg, " +
      "ranking is (score desc, id)") {
    val a = leg((1, 10L, 1), (1, 20L, 2), (1, 30L, 3))
    val b = leg((1, 20L, 1), (1, 30L, 2), (1, 40L, 3))
    val r = RetrievalOps.rrfFuse(Seq(a, b), "query_id", "id", "rank",
        k = 10)
      .orderBy("fused_rank")
      .collect().map(x => (x.getLong(1), x.getDouble(2), x.getInt(3)))
    val exp = Seq(
      20L -> r6(rrf(2) + rrf(1)),
      30L -> r6(rrf(3) + rrf(2)),
      10L -> r6(rrf(1)),
      40L -> r6(rrf(3)))
    assert(r.map(x => x._1 -> x._2).toSeq == exp, r.toSeq)
    assert(r.map(_._3).toSeq == Seq(1, 2, 3, 4))
  }

  test("rrfFuse k truncates per query; queries fuse independently; a " +
      "query present in only one leg still ranks (modality-miss case)") {
    val a = leg((1, 10L, 1), (1, 20L, 2), (2, 50L, 1))
    val b = leg((1, 30L, 1), (3, 70L, 1), (3, 80L, 2))
    val r = RetrievalOps.rrfFuse(Seq(a, b), "query_id", "id", "rank",
        k = 2)
      .orderBy("query_id", "fused_rank")
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    // q1: 10 and 30 tie at 1/61 → id order; 20 (1/62) truncated by k=2
    assert(r.toSeq == Seq((1, 10L), (1, 30L), (2, 50L), (3, 70L),
      (3, 80L)))
  }

  test("rrfFuse leg weights scale contributions (a 2x vector leg " +
      "outvotes a 1x lexical leg at equal ranks)") {
    val a = leg((1, 10L, 1))
    val b = leg((1, 20L, 1))
    val r = RetrievalOps.rrfFuse(Seq(a, b), "query_id", "id", "rank",
        k = 2, weights = Seq(1.0, 2.0))
      .orderBy("fused_rank")
      .collect().map(x => (x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq(20L -> r6(rrf(1, 2.0)), 10L -> r6(rrf(1))))
  }

  test("legAgreement: exact counts, one-division jaccard, and the " +
      "one-leg-only query reports jaccard 0 instead of vanishing") {
    val a = leg((1, 10L, 1), (1, 20L, 2), (1, 30L, 3), (2, 50L, 1))
    val b = leg((1, 20L, 1), (1, 30L, 2), (1, 40L, 3))
    val r = RetrievalOps.legAgreement(
        a.drop("rank"), b.drop("rank"), "query_id", "id")
      .orderBy("query_id")
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4)))
    // q1: a={10,20,30}, b={20,30,40} → both=2, union=4, jaccard=0.5
    assert(r.toSeq == Seq((1, 3L, 3L, 2L, 0.5), (2, 1L, 0L, 0L, 0.0)),
      r.toSeq)
  }

  private def scoredLeg(rows: (Int, Long, Double)*) =
    rows.toDF("query_id", "id", "score")

  test("scoreFuse: per-query min-max normalization, weighted sum, and " +
      "the degenerate single-score leg normalizes to 1") {
    // leg A scores: 10→2.0, 20→1.0, 30→0.0 → norms 1.0, 0.5, 0.0
    // leg B: only 30 → degenerate → norm 1.0
    val a = scoredLeg((1, 10L, 2.0), (1, 20L, 1.0), (1, 30L, 0.0))
    val b = scoredLeg((1, 30L, 0.123456))
    val r = RetrievalOps.scoreFuse(Seq(a -> 1.0, b -> 1.0),
        "query_id", "id", "score", k = 10)
      .orderBy("fused_rank")
      .collect().map(x => (x.getLong(1), x.getDouble(2)))
    // 30: 0.0 + 1.0 = 1.0 ties with 10: 1.0 → id order puts 10 first
    assert(r.toSeq == Seq(10L -> 1.0, 30L -> 1.0, 20L -> 0.5), r.toSeq)
  }

  test("scoreFuse: a heavier vector leg outvotes; validation is loud") {
    val a = scoredLeg((1, 10L, 1.0), (1, 20L, 0.0))
    val b = scoredLeg((1, 20L, 1.0), (1, 10L, 0.0))
    val r = RetrievalOps.scoreFuse(Seq(a -> 1.0, b -> 3.0),
        "query_id", "id", "score", k = 2)
      .orderBy("fused_rank")
      .collect().map(x => (x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq(20L -> 3.0, 10L -> 1.0), r.toSeq)
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(RetrievalOps.scoreFuse(Nil, "q", "id", "score", k = 1))
      .contains("no legs"))
    assert(msg(RetrievalOps.scoreFuse(Seq(a -> 0.0), "query_id", "id",
      "score", k = 1)).contains("positive"))
  }

  // --- rankingQuality (q172) / rrfQualityGrid (q176) ------------------

  test("ndcgDiscountsMicro is the fixed micro table: disc(1)=10^6, " +
      "disc(3)=500000 (log2(4)=2), monotone decreasing") {
    val d = RetrievalOps.ndcgDiscountsMicro(5)
    assert(d(0) == 1000000L && d(2) == 500000L, d)
    assert(d(1) == 630930L, d) // round(1e6/log2 3)
    assert(d == d.sorted.reverse, d)
  }

  test("rankingQuality: hand-computed nDCG/recall/RR per query, " +
      "trec_eval conventions (rel=0 judged, unjudged retrieved, " +
      "all-zero query excluded, run-only query ignored, missing " +
      "query scores zeros), and the integer-mean row") {
    // run: q1 retrieves 10,50,12 (50 unjudged); q2 misses everything;
    // q3 (all judgments rel=0) and q4 (unjudged query) also have rows
    val run = Seq(
      (1, 10L, 1), (1, 50L, 2), (1, 12L, 3),
      (2, 21L, 1), (2, 22L, 2), (2, 23L, 3),
      (3, 30L, 1), (4, 40L, 1)).toDF("query_id", "id", "rank")
    val qrels = Seq(
      (1, 10L, 3), (1, 11L, 1), (1, 12L, 2), (1, 99L, 0),
      (2, 20L, 1),
      (3, 30L, 0)).toDF("query_id", "id", "rel")
    val r = RetrievalOps.rankingQuality(run, qrels, "query_id", "id",
        "rank", "rel", k = 3)
      .orderBy("query_id").collect()
    assert(r.length == 3, r.toSeq) // q1, q2, mean(-1); q3/q4 excluded
    val Array(mean, q1, q2) = r
    // q1: disc = (1000000, 630930, 500000)
    //   idcg = 3·1000000 + 2·630930 + 1·500000 = 4761860
    //   dcg  = 3·1000000 (10@1) + 2·500000 (12@3) = 4000000
    assert(q1.getAs[Long]("n_rel") == 3 && q1.getAs[Long]("n_rel_at_k") == 2)
    assert(q1.getAs[Double]("ndcg_at_k") == r6(4000000.0 / 4761860))
    assert(q1.getAs[Double]("recall_at_k") == 0.666667)
    assert(q1.getAs[Double]("rr") == 1.0)
    assert(q2.getAs[Long]("n_rel") == 1 && q2.getAs[Long]("n_rel_at_k") == 0)
    assert(q2.getAs[Double]("ndcg_at_k") == 0.0)
    assert(q2.getAs[Double]("recall_at_k") == 0.0)
    assert(q2.getAs[Double]("rr") == 0.0)
    // mean row: micro-ints (666667, 840008, 1000000) + q2's zeros,
    // averaged half-up over 2 queries, divided once by 10^6
    assert(mean.getAs[Int]("query_id") == -1)
    assert(mean.getAs[Long]("n_rel") == 4 &&
      mean.getAs[Long]("n_rel_at_k") == 2)
    assert(mean.getAs[Double]("recall_at_k") == 0.333334) // (2/3)/2 ↑
    assert(mean.getAs[Double]("ndcg_at_k") == 0.420004)
    assert(mean.getAs[Double]("rr") == 0.5)
  }

  test("rankingQuality: a (query, id) judged more than once keeps its " +
      "HIGHEST grade — duplicates never double-count in DCG, the " +
      "ideal, n_rel, or recall") {
    val run = Seq((1, 10L, 1), (1, 11L, 2)).toDF("query_id", "id", "rank")
    val dup = Seq((1, 10L, 1), (1, 10L, 3), (1, 11L, 2))
      .toDF("query_id", "id", "rel")
    val clean = Seq((1, 10L, 3), (1, 11L, 2))
      .toDF("query_id", "id", "rel")
    def rows(q: org.apache.spark.sql.DataFrame) =
      RetrievalOps.rankingQuality(run, q, "query_id", "id", "rank",
        "rel", k = 2).orderBy("query_id").collect().map(_.toSeq).toSeq
    assert(rows(dup) == rows(clean), s"${rows(dup)} vs ${rows(clean)}")
  }

  test("rankingQuality validates k; qrels with no positive judgments " +
      "yield no rows, not even a mean row") {
    val run = leg((1, 10L, 1))
    val qrels = Seq((1, 10L, 0)).toDF("query_id", "id", "rel")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(RetrievalOps.rankingQuality(run, qrels, "query_id", "id",
      "rank", "rel", k = 0)).contains("not in 1..1000"))
    assert(msg(RetrievalOps.rankingQuality(run, qrels, "query_id", "id",
      "rank", "rel", k = 1001)).contains("not in 1..1000"))
    val rows = RetrievalOps.rankingQuality(run, qrels, "query_id", "id",
      "rank", "rel", k = 1).collect()
    assert(rows.isEmpty, rows.mkString(", "))
  }

  test("rankingQuality: query id -1 is reserved for the mean row and " +
      "fails named") {
    val run = leg((-1, 10L, 1), (1, 10L, 1))
    val qrels = Seq((-1, 10L, 1), (1, 10L, 1)).toDF("query_id", "id", "rel")
    val e = intercept[Exception](RetrievalOps.rankingQuality(run, qrels,
      "query_id", "id", "rank", "rel", k = 1).collect())
    assert(e.getMessage.contains("query id -1 is reserved"), e.getMessage)
  }

  test("rrfQualityGrid at a single config equals rankingQuality over " +
      "rrfFuse at the same config (differential), and weight-skewed " +
      "configs move the metrics") {
    val lex = leg((1, 10L, 1), (1, 11L, 2), (2, 20L, 1))
    val vec = leg((1, 30L, 1), (1, 10L, 2), (2, 21L, 1))
    val qrels = Seq((1, 10L, 2), (1, 30L, 1), (2, 21L, 1))
      .toDF("query_id", "id", "rel")
    val grid = RetrievalOps.rrfQualityGrid(lex, vec, qrels,
        "query_id", "id", "rank", "rel", k = 3,
        grid = Seq((60, 1.0, 1.0), (60, 1.0, 8.0)))
      .orderBy("config_id").collect()
    val fused = RetrievalOps.rrfFuse(Seq(lex, vec), "query_id", "id",
      "rank", k = 3)
    val mean = RetrievalOps.rankingQuality(fused, qrels, "query_id",
        "id", "fused_rank", "rel", k = 3)
      .filter($"query_id" === -1).collect().head
    assert(grid(0).getAs[Double]("ndcg_at_k") ==
      mean.getAs[Double]("ndcg_at_k"))
    assert(grid(0).getAs[Double]("recall_at_k") ==
      mean.getAs[Double]("recall_at_k"))
    assert(grid(0).getAs[Double]("mrr") == mean.getAs[Double]("rr"))
    // both configs retrieve everything at k=3 (recall equal), but the
    // vector-heavy weighting promotes 30 over 10 on q1 — nDCG moves
    assert(grid(1).getAs[Double]("recall_at_k") ==
      grid(0).getAs[Double]("recall_at_k"))
    assert(grid(1).getAs[Double]("ndcg_at_k") !=
      grid(0).getAs[Double]("ndcg_at_k"))
    def bad(g: Seq[(Int, Double, Double)]): String =
      intercept[IllegalArgumentException](RetrievalOps.rrfQualityGrid(
        lex, vec, qrels, "query_id", "id", "rank", "rel", 3, g))
        .getMessage
    assert(bad(Nil).contains("bad grid"))
    assert(bad(Seq((0, 1.0, 1.0))).contains("bad grid"))
    assert(bad(Seq((60, 1.0, 1.0), (60, 1.0, 1.0))).contains("dup"))
  }

  test("rrfFuse validates its arguments loudly") {
    val a = leg((1, 10L, 1))
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(RetrievalOps.rrfFuse(Nil, "q", "id", "rank", k = 1))
      .contains("no legs"))
    assert(msg(RetrievalOps.rrfFuse(Seq(a), "query_id", "id", "rank",
      k = 0)).contains("k must be positive"))
    assert(msg(RetrievalOps.rrfFuse(Seq(a), "query_id", "id", "rank",
      k = 1, kRrf = 0)).contains("kRrf must be positive"))
    assert(msg(RetrievalOps.rrfFuse(Seq(a, a), "query_id", "id", "rank",
      k = 1, weights = Seq(1.0))).contains("weights"))
    assert(msg(RetrievalOps.rrfFuse(Seq(a), "query_id", "id", "rank",
      k = 1, weights = Seq(-1.0))).contains("positive"))
  }
}
