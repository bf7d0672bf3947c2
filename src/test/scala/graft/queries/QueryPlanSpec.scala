package graft.queries

import graft.{SparkEntry, SparkTestSession}
import graft.tools.PlanCensus
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale properties the queries claim
  * (pushdown, pruning, broadcast, partial aggregation, top-k pushdown) are
  * enforced here, so a refactor that silently loses one fails the build —
  * at 100 TB these ARE the correctness properties.
  */
class QueryPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q2: predicates and projection push into the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    assert(p.contains("LessThan(l_discount,0.02)"))
    // pruned: only the 5 needed columns of lineitem's 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double>"))
  }

  test("q3/q15: dimension joins broadcast (no dimension-side shuffle)") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
    val p15 = plan("q15_local_supplier_volume")
    assert(p15.contains("BroadcastHashJoin"))
    // the only sort-merge/shuffle join allowed is fact⋈orders
    val smj = "SortMergeJoin".r.findAllIn(p15).size
    assert(smj <= 1, s"expected <=1 sort-merge join, got $smj")
  }

  test("q1: aggregation is partial (map-side combine before the shuffle)") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("q87: the streaming operator's batch plan is a partial agg with " +
      "one shuffle (unified model, no streaming overhead in batch)") {
    val p = plan("q87_unified_windows")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
    // exactly one hash exchange: the groupBy; the watermark is a no-op in
    // batch and must not plant extra operators before the aggregate
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q6: rank filter pushes k into the sort (WindowGroupLimit)") {
    assert(plan("q6_window_topk").contains("WindowGroupLimit"))
  }

  test("q13: global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("q13_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q30: probe side broadcasts (candidate scan stays map-side)") {
    assert(plan("q30_ann_topk").contains("BroadcastNestedLoopJoin"))
  }

  test("q31: steady-state IVF — broadcast probes, no fit jobs, no cache") {
    val p = plan("q31_ann_ivf")
    // candidates meet the (tiny) probe-cell set through a broadcast join
    assert(p.contains("BroadcastHashJoin"))
    // the prefit quantizer means no corpus cache and no k-means iteration
    // remnants in the query plan
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      "q31 must not cache the corpus in the query path")
  }

  test("q25: exact dedup shuffles the 32-byte hash key, not the documents") {
    val p = plan("q25_exact_dedup")
    assert(p.contains("md5"))
    // text column must not survive past the partial aggregate (formatted
    // mode puts partitioning in Arguments lines — match the bare token)
    assert(!p.contains("hashpartitioning(text"))
  }

  test("q40: full outer join reuses the pre-aggregation partitioning") {
    val p = plan("q40_full_outer")
    assert(p.contains("FullOuter"))
    // both groupBys and the join hash on o_custkey: exactly 2 exchanges
    // (one per aggregated side), none added for the join itself
    val ex = "Arguments: hashpartitioning\\(o_custkey".r.findAllIn(p).size
    assert(ex == 2, s"expected 2 o_custkey exchanges, got $ex\n$p")
  }

  test("q47: scalar aggregate broadcasts; fact side never shuffles") {
    val p = plan("q47_scalar_subquery")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the 1-row aggregate exchanges SinglePartition; nothing hash-shuffles
    assert(!p.contains("hashpartitioning"))
  }

  test("q48: lateral subquery decorrelates (no per-row replay)") {
    val p = plan("q48_lateral_topk")
    // Catalyst rewrites the correlated LATERAL+LIMIT into a window-style
    // group limit over one join — a cartesian replay would show here
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit") || p.contains("Window"))
  }

  test("q14: no per-group single-task sort (rank windows are bucket-local)") {
    val p = plan("q14_quantiles")
    // The scale-killer shape is row_number() over a window partitioned by
    // the group column alone and ordered by the value column — that funnels
    // a whole group through one task. The selection variant ranks only
    // candidate buckets: its row_number windows must include __bkt.
    val rankWindows = "row_number\\(\\) windowspecdefinition\\([^)]*\\)".r
      .findAllIn(p).toList
    assert(rankWindows.nonEmpty, s"expected a bucket-local rank window\n$p")
    rankWindows.foreach { w =>
      assert(w.contains("__bkt"),
        s"rank window not bucket-local (whole-group sort): $w")
    }
    // the splits/candidate join-backs are tiny per-group aggregates: they
    // must stay broadcast (null-safe equality keys are still BHJ-able) —
    // a sort-merge fallout would shuffle the corpus twice more
    assert(!p.contains("SortMergeJoin"), s"join back stopped broadcasting\n$p")
  }

  test("q34: as-of join is union+window — no join operator, one shuffle") {
    val p = plan("q34_asof_join")
    // an inequality-join formulation would appear as a per-key cross
    // product (SortMergeJoin with range condition or BNLJ); the composed
    // shape has NO join node at all, just the tagged union and one
    // key-partitioned window pass
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
    assert(p.contains("Window"))
    assert(p.contains("Union"))
  }

  test("q35: range join buckets to an equi-join (explode, then hash keys)") {
    val p = plan("q35_range_join")
    assert(p.contains("Generate")) // the x2 bucket explode
    // the residual range predicate must ride an equi-join, not a
    // nested-loop scan (the no-BNLJ sweep below also covers this)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"range join lost its equi-keys:\n$p")
  }

  test("q38: string-sim join blocks on (prefix, band) — bounded equi-keys") {
    val p = plan("q38_string_simjoin")
    assert(p.contains("Generate")) // probe side explodes to adjacent bands
    // both blocking columns must be join keys: prefix alone leaves 26
    // skewed blocks whose squared sizes blow up at 100x scale
    assert(p.contains("pfx") && p.contains("band"),
      s"blocking key lost a component:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"blocked join lost its equi-keys:\n$p")
  }

  test("dedup/LSH hot paths stay inside whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // These queries' throughput rests on native doGenCode kernels; a
    // refactor that reintroduces a higher-order function (Spark HOFs are
    // CodegenFallback — every element pays interpreted dispatch) must fail.
    for (q <- Seq("q24_fingerprint", "q27_minhash_neardup",
                  "q28_simhash_neardup", "q29_embedding_neardup",
                  "q62_repetition", "q66_int8_quant", "q67_chunk_dedup")) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val falls = exec.collect {
        case node => node.expressions.flatMap(_.collect {
          case e: CodegenFallback => e.getClass.getSimpleName
        })
      }.flatten.distinct
      assert(falls.isEmpty, s"$q has CodegenFallback expressions: $falls")
    }
  }

  test("q67: chunk dedup scans the corpus once, two shuffles, no join") {
    val p = plan("q67_chunk_dedup")
    // the old three-lineage shape re-scanned and re-tokenized the corpus
    // for the count, first-occurrence, and rebuild passes; the window-min
    // formulation is one scan moved through fp- then id-keyed exchanges
    // (the third exchange is the query's own orderBy range partitioning)
    assert("Location:".r.findAllIn(p).size == 1, s"corpus re-scanned:\n$p")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 3,
      s"extra shuffles:\n$p")
    assert(!p.contains("Join"), s"q67 gained a join:\n$p")
    // rebuild is the shared Reassemble AGGREGATE, not a second window:
    // the only window is the fp-keyed first-occurrence flag
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"expected exactly 1 window (the keep flag):\n$p")
  }

  test("q119: the composed span pipeline scans the corpus ONCE at " +
      "runtime and pays one doc-keyed exchange per stage, no more") {
    val df = SparkEntry.queries("q119_span_pipeline")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val scans = PlanCensus.count(exec) {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    val shuffles = PlanCensus.count(exec) {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec |
           _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        true
      case _ => false
    }
    assert(scans == 1, s"corpus re-scanned ($scans executed scans):\n$exec")
    // 5 = stage-1 doc window exchange (stage 2's three doc windows and
    // the (fp,doc) aggregate all RIDE it) + stage-2 fp rollup + stage-3
    // fp first-occurrence window + stage-3 doc-keyed reassemble + the
    // query's own orderBy range partitioning. One more means a stage's
    // window or rebuild lost the shared doc partitioning.
    assert(shuffles == 5, s"expected 5 executed shuffles, got $shuffles:\n$exec")
    assert(!exec.toString.contains("SortMergeJoin"),
      s"the keeper mark join stopped broadcasting:\n$exec")
  }

  test("q124: contrastive triples run in ONE corpus pass — single " +
      "anchor-keyed exchange, both rankings ride it, no join") {
    val df = SparkEntry.queries("q124_contrastive_triples")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val scans = PlanCensus.count(exec) {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    val hashShuffles = PlanCensus.count(exec) {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        s.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
      case _ => false
    }
    // 2 scans by construction: the broadcast anchor slice + the corpus
    // stream (same parquet, different subtrees). A third means the
    // positive branch split lineage and re-scanned.
    assert(scans == 2, s"expected 2 scans (anchors + corpus), got $scans:\n$exec")
    assert(hashShuffles == 1,
      s"both rankings must ride ONE anchor-keyed exchange, got " +
        s"$hashShuffles:\n$exec")
    assert(!exec.toString.contains("SortMergeJoin") &&
      !exec.toString.contains("BroadcastHashJoin"),
      s"single-lineage form must not join pos to neg:\n$exec")
  }

  test("q112: run collapse is one lag window + the Reassemble aggregate " +
      "— no running-prefix rebuild window") {
    val p = plan("q112_run_collapse")
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 1,
      s"expected exactly 1 window (the lag flag):\n$p")
    // the rollup rides the lag window's doc partitioning: one doc-keyed
    // hash exchange total
    assert("hashpartitioning".r.findAllIn(p).size <= 1,
      s"reassembly gained its own shuffle:\n$p")
  }

  test("q62: top-token counting is two partial aggregations, no expand") {
    val p = plan("q62_repetition")
    // explode → (doc, tok) agg → (doc) agg: both must combine map-side,
    // and nothing may rewrite the count into a distinct-agg Expand (which
    // would replay every token row per grouping)
    assert("HashAggregate".r.findAllIn(p).size >= 4) // 2 aggs × partial+final
    assert(!p.contains("Expand"), s"q62 gained an Expand node:\n$p")
  }

  test("q63: eval-set grams broadcast — the corpus side never re-shuffles them") {
    val p = plan("q63_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"banned-gram join should broadcast the benchmark set:\n$p")
    // exactly ONE shuffle keyed on the gram: the tiny eval-side distinct.
    // A second one means the corpus-wide (doc, gram) stream is being
    // deduped BEFORE the broadcast filter — the 100 TB anti-pattern the
    // operator exists to avoid.
    val gramShuffles = "hashpartitioning\\(__g".r.findAllIn(p).size
    assert(gramShuffles <= 1,
      s"corpus grams shuffled before the broadcast filter:\n$p")
  }

  test("q66: quantization audit is map-only (no hash exchange at all)") {
    val p = plan("q66_int8_quant")
    // formatted explain puts partitioning in an Arguments line, so match
    // the bare token (an "Exchange hashpartitioning" substring never
    // occurs in this mode and would make the assertion vacuous)
    assert(!p.contains("hashpartitioning"),
      s"int8 audit must not shuffle:\n$p")
  }

  test("q69: vocab cutoff is top-N, and the vocab broadcasts to the corpus") {
    val p = plan("q69_vocab_coverage")
    // top-N never globally sorts the vocabulary
    assert(p.contains("TakeOrderedAndProject"), s"vocab cutoff full-sorts:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab join should broadcast:\n$p")
  }

  test("q79: lateral unnest is a Generate + partial agg + top-N, no sort") {
    val p = plan("q79_lateral_unnest")
    // LATERAL VIEW explode compiles to Generate (formatted mode prints the
    // bare operator name), the token count partial-aggregates before the
    // shuffle, and ORDER BY + LIMIT fuse into TakeOrderedAndProject —
    // never a global sort of the token space
    assert(p.contains("Generate"), s"no Generate in:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-N full-sorts:\n$p")
  }

  test("q81: bracket expressions stay map-side (single sort, no shuffle agg)") {
    val p = plan("q81_bracket_exprs")
    // subscript/slice/struct rewrites are row-local: the only exchange is
    // the final ORDER BY's range partitioning
    assert(!p.contains("hashpartitioning"), s"unexpected shuffle in:\n$p")
    assert(p.contains("try_element_at") || p.contains("slice"),
      s"bracket rewrite missing from:\n$p")
  }

  test("every BroadcastNestedLoopJoin broadcasts a scalar aggregate " +
      "(or is an explicitly documented probe/all-pairs op)") {
    // A BNLJ is fine at 100 TB exactly when its broadcast side is O(1)
    // rows. Rather than allowlist each scalar-broadcast query (the list
    // rotted when q107 landed — round-10 verdict item 1), INSPECT the
    // plan: the build side of every BNLJ must contain a grouping-free
    // aggregate (<=1 row by construction). Queries whose O(1) side is
    // NOT an aggregate stay on a short explicit list:
    //   q30/q89 broadcast 5 probe vectors (LIMITed scan, non-equi by
    //   design); q114's PQ ADC scan broadcasts its 10 probe vectors the
    //   same way (the corpus side never shuffles — scoring is map-side
    //   over the encoded scan); q26 is the documented all-pairs operator
    //   (emits zero-overlap pairs, no equi-key exists) — callers bound
    //   its scope; q80 cross-joins a 3-row generated threshold ladder.
    // Anywhere else a non-scalar BNLJ means a join lost its
    // equi-condition and would cross-product at scale.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    //   q121/q124 broadcast their 10-anchor mining batch over the corpus
    //   scan (the exact hard-negative/triple forms — bounded batch by
    //   contract). q136/q137's recall monitors broadcast the SAMPLED
    //   probe set for the exact brute-force baseline (the monitor's
    //   documented cost model: one exact scan priced by the sample).
    //   The r16 serving family rides the same documented probe-broadcast
    //   shape: q163/q168/q169's vector leg and q164/q167's pool are
    //   bruteForceTopK/MMR pools over ≤10 broadcast probe vectors (the
    //   corpus side stays map-side; poolK ≤ 1024 by contract).
    val nonScalarIntentional = Set("q30_ann_topk", "q89_int8_ann",
      "q26_ngram_jaccard", "q80_generate_series", "q114_pq_ann",
      "q121_hard_negatives", "q124_contrastive_triples",
      "q136_ann_recall", "q137_ann_recall_sweep", "q139_ann_recall_grid",
      "q163_hybrid_rrf", "q164_mmr_rerank", "q166_hybrid_from_stores",
      "q167_mmr_from_store", "q168_leg_agreement", "q169_score_fusion",
      // q172/q176 ride q163's bruteForceTopK vector leg (3-probe
      // broadcast) — same intentional probe-side BNLJ as q163 itself;
      // q178 rides q164's pool scan (6-probe broadcast); q185 re-runs
      // q178's exact metric chain (same 6-probe pool broadcast) under
      // the permutation draws — its own obs-side BNLJ IS scalar, but
      // the inherited pool one is this same documented shape
      "q172_ranking_quality", "q176_fusion_quality_grid",
      "q178_mmr_quality_delta", "q182_mmr_lambda_sweep",
      // q196 rides the same q163 legs twice (once per compared config)
      "q185_mmr_delta_significance", "q196_fusion_delta_significance")
    def scalarSide(p: SparkPlan): Boolean = p.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    }.isDefined
    for ((name, _) <- SparkEntry.queries if !nonScalarIntentional(name)) {
      val exec = SparkEntry.queries(name)(spark, dir)
        .queryExecution.sparkPlan
      val bnljs = exec.collect { case j: BroadcastNestedLoopJoinExec => j }
      bnljs.foreach { j =>
        val build = j.buildSide match {
          case BuildLeft  => j.left
          case BuildRight => j.right
        }
        assert(scalarSide(build),
          s"$name has a BroadcastNestedLoopJoin whose broadcast side is " +
            s"not a 1-row (grouping-free) aggregate:\n$build")
      }
    }
  }

  test("q179: ONE corpus scan; the allocation window runs over the " +
      "(source, bucket) histogram, never the corpus — at most the cell " +
      "aggregate's shuffle, the bounded single-partition window, and " +
      "the per-source rollup") {
    val p = plan("q179_budget_allocation")
    assert("Location:".r.findAllIn(p).size == 1,
      s"expected one documents scan:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
  }

  test("q176: the six-config grid adds NO scan over the single-config " +
      "fusion — the config axis explodes the legs' bounded top-k " +
      "outputs, never the corpus (differential vs q163's census)") {
    def scans(n: String): Int = "Location:".r.findAllIn(plan(n)).size
    assert(scans("q176_fusion_quality_grid") == scans("q163_hybrid_rrf"),
      s"grid=${scans("q176_fusion_quality_grid")} " +
        s"single=${scans("q163_hybrid_rrf")}")
  }

  test("q109: the token stream shuffles ONCE (doc key) — windows, the " +
      "(fp,doc) aggregate, and the rollup all ride it; only the fp rollup " +
      "adds a hash exchange") {
    val p = plan("q109_span_dedup")
    // doc-keyed exchange appears twice pre-AQE (the firsts branch is the
    // same subplan — runtime reuses it) + ONE fp exchange = 3; anything
    // more means a window or aggregate lost the shared partitioning
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 3, s"expected <=3 hash exchanges, got $hashEx:\n$p")
    // the (fp, doc) grouping must NOT plant its own exchange: doc
    // partitioning co-locates it (the only fp-keyed shuffle is the tiny
    // partial-aggregated rollup)
    assert("hashpartitioning\\(__fp[^,)]*, doc_id".r.findAllIn(p).isEmpty
      && "hashpartitioning\\(doc_id[^,)]*, __fp".r.findAllIn(p).isEmpty,
      s"(fp,doc) aggregate gained its own exchange:\n$p")
    // no sort-merge of the token stream at fixture scale, and gram
    // STRINGS never reach a shuffle — only md5 fingerprints travel
    assert(!p.contains("SortMergeJoin"), s"mark join stopped broadcasting:\n$p")
    // two distinct windows — the lead-gram fingerprint (printed twice
    // pre-AQE: the firsts branch shares the subtree, reused at runtime)
    // and the coverage max. The rebuild is the shared Reassemble
    // aggregate; the old running-prefix window would make this 4.
    assert("""\(\d+\) Window""".r.findAllIn(p).size == 3,
      s"expected 3 window nodes (2 distinct + 1 shared reprint):\n$p")
  }

  test("q113: the corpus is tokenized ONCE — the collapsed-count exchange " +
      "is computed once and REUSED by the histogram, the totals, and the " +
      "scoring pass") {
    // the three consumers of the collapsed (doc, tgt, bucket) counts are
    // canonically identical subtrees; at runtime exchange reuse must
    // collapse them so exactly ONE executed subtree explodes the text.
    // (The pre-AQE string plan prints the subtree per consumer, so this
    // asserts on the executed adaptive plan.)
    val df = SparkEntry.queries("q113_dsir_weights")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val n = executedGenerates(exec)
    assert(n == 1,
      s"expected the tokenize pass to run exactly once (got $n):\n$exec")
    // the ratio table broadcasts back onto the collapsed counts
    assert(exec.toString.contains("BroadcastHashJoin"),
      s"ratio join must broadcast:\n$exec")
  }

  /** Generate (explode) operators the executed adaptive plan RAN. */
  private def executedGenerates(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    PlanCensus.count(p)(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])

  test("q116: BM25 tokenizes ONCE (tf, doc length, idf, and the token " +
      "total all ride one reused collapsed-count exchange) and ranks via " +
      "a global top-k, not a full sort") {
    val df = SparkEntry.queries("q116_bm25")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val n = executedGenerates(exec)
    assert(n == 1,
      s"expected the tokenize pass to run exactly once (got $n):\n$exec")
    val s = exec.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must not be a full sort:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"idf must broadcast back onto the counts:\n$s")
  }

  test("q118: per-query BM25 tokenizes ONCE for ALL probe queries (the " +
      "union of probe terms drives one shared collapsed-count exchange) " +
      "and both idf and the probe table broadcast") {
    val df = SparkEntry.queries("q118_bm25_per_query")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    val n = executedGenerates(exec)
    assert(n == 1,
      s"expected the tokenize pass to run exactly once (got $n):\n$exec")
    assert(exec.toString.contains("BroadcastHashJoin"),
      s"idf/probe joins must broadcast back onto the counts:\n$exec")
  }

  test("q91: PII scrub is map-only (the only exchange is the oracle sort)") {
    val p = plan("q91_pii_redaction")
    assert(!p.contains("hashpartitioning"),
      s"pii redaction must not shuffle:\n$p")
  }

  test("q90: the common-shingle set broadcasts back to the corpus stream " +
      "— by AQE's runtime choice, not a forced hint") {
    // the hint is deliberately absent (an unbounded df>maxDf set must be
    // demotable — a forced broadcast OOMs when the corpus is stopword-
    // flooded), so the broadcast only appears in the FINAL adaptive plan:
    // execute first, then read it
    val df = SparkEntry.queries("q90_boilerplate")(spark, dir)
    df.collect() // collect() executes THIS QueryExecution, finalizing AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"expected an executed AQE plan:\n$p")
    // a shuffled mark join would re-shuffle every clean document's
    // shingle strings a second time — at this (tiny-common-set) scale
    // AQE must promote the __s-keyed join to broadcast
    assert("BroadcastHashJoin \\[__s".r.findFirstIn(p).isDefined,
      s"AQE should promote the common-set mark join to broadcast:\n$p")
    // and no join carries a FORCED broadcast hint (what AQE could not
    // demote on an oversized common set) — size-estimate-chosen
    // broadcasts are fine, they scale with the input and demote
    // naturally at corpus scale
    val logical = SparkEntry.queries("q90_boilerplate")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!logical.contains("strategy=broadcast"),
      s"the mark join must not be hint-forced:\n$logical")
  }

  test("q92: the Bloom gate is in the plan, and candidate grams shuffle " +
      "at most once (clean docs die map-side)") {
    val p = plan("q92_bloom_decontam")
    // the fused kernel gates BEFORE any explode/join — its presence in
    // the plan is the map-side cut
    assert(p.contains("bloom_retain"), s"Bloom kernel missing:\n$p")
    // gram-keyed exchanges: the banned-side distinct only; the candidate
    // stream must meet it via broadcast or as the already-filtered
    // survivors — a second gram shuffle means the full corpus gram
    // stream leaked past the gate
    val gramShuffles = "hashpartitioning\\(__g".r.findAllIn(p).size
    assert(gramShuffles <= 2,
      s"expected <=2 gram-keyed exchanges, got $gramShuffles:\n$p")
  }

  test("q94: epoch reshuffle is ONE corpus shuffle (the shard exchange) " +
      "plus the oracle sort") {
    val p = plan("q94_epoch_shuffle")
    // shard hash exchange + the orderBy(doc_id) range exchange for the
    // oracle compare; anything more means the window lost its
    // partitioning
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("q95: mix rates broadcast back — the corpus itself never " +
      "hash-shuffles") {
    val p = plan("q95_target_mix")
    assert(p.contains("BroadcastHashJoin"), s"rates should broadcast:\n$p")
    // the only hash exchange is the per-source supply aggregate (tiny);
    // the keep decision is map-only on the scan side
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx:\n$p")
  }

  test("q93: ingest signs only the batch — the corpus text is never " +
      "rescanned; signatures come from the store's FileScan") {
    val p = plan("q93_incremental_ingest")
    // the registered query reads documents.parquet for the BATCH side
    // only: its signature subplan appears twice pre-AQE (bands + sig
    // fetch — at runtime AQE reuses the one exchange, observed as
    // ReusedExchange) plus the final per-doc report join = 3. The corpus
    // side must be the persisted signature store; re-signing the corpus
    // text would push this to >= 4 and is the regression this pins.
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans <= 3,
      s"corpus text appears to be rescanned ($docScans doc scans):\n$p")
    assert(p.contains("_graft_pairs"),
      s"signature-store FileScan missing:\n$p")
  }
}
