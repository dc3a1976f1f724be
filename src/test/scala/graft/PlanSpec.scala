package graft

/**
 * Plan-shape regression guards: the physical properties the 100 TB design
 * depends on, asserted against the real optimizer output so a refactor
 * can't silently regress them. (More plan checks live in TopKRowsSpec —
 * partial ObjectHashAggregate, no Window — and IvfCollectionSpec —
 * partition pruning.)
 */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  test("q1_agg: filter reaches the parquet scan, aggregation is partial+final") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushdown in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final hash agg")
  }

  test("knn_topk: fixed-size sample via TakeOrderedAndProject, queries broadcast, corpus streams") {
    // r21: the query entry reads the memoized exact baseline (a checkpoint
    // scan) — the lineage whose shape this pins is the baseline BUILD
    val p = SparkEntry.buildExactKnn(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"sample should not be a full sort:\n$p")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the join")
  }

  test("query_prefetch: both stages broadcast, corpus never sort-merge joins") {
    val p = plan("query_prefetch")
    // stage 1: queries broadcast into the cheap-vector scoring pass;
    // stage 2: candidate ids broadcast into the full-precision probe.
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"prefetch queries AND rescore candidates must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must be probed, not shuffled, in both stages:\n$p")
  }

  test("query_boosted: formula stays a projection, no extra exchange beyond the rescore agg") {
    val p = plan("query_boosted")
    assert(!p.contains("SortMergeJoin"),
      s"formula rescore must keep the broadcast probe plan:\n$p")
    assert(!p.contains("Window"),
      s"top-k must stay in the bounded-heap aggregate, not a rank window:\n$p")
  }

  test("maxsim_knn: late-interaction comparator keeps the knnJoin plan shape") {
    val p = plan("maxsim_knn")
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must stream through scoring:\n$p")
    assert(p.contains("max_sim") || p.contains("MaxSim"),
      s"scoring must be the fused MaxSim kernel:\n$p")
  }

  test("doc_perplexity: model broadcast into scoring, corpus never shuffles text") {
    // r22: the query entry materializes its result before the output sort
    // (orderedResult) — the lineage whose shape this pins is the interior
    // scoring frame (same re-pin discipline as knn_topk above).
    val p = graft.queries.QueriesCore.docPerplexityFrame(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      s"the bigram model (vocab-sized) must broadcast into scoring:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"per-doc bigram stream must not shuffle to meet the model:\n$p")
  }

  test("dedup_exact: digest computed before the exchange (text never shuffles)") {
    // r22: query entry is orderedResult-materialized; pin the interior
    val p = graft.dedup.Dedup.exactGroups(
        SparkEntry.docsParallel(spark, TestSpark.sf0001), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the md5 appears in a projection below the exchange: the aggregate's
    // partial side groups by text_hash, so the string column stops at the
    // map side
    assert(p.contains("md5"), s"expected map-side digest in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2)
  }

  test("dedup_keep_one: min_by partial aggregate, no rank window") {
    // r22: query entry is orderedResult-materialized; pin the interior
    val p = graft.dedup.Dedup.dropExactDuplicates(
        SparkEntry.docsParallel(spark, TestSpark.sf0001), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"keeper derivation must not use a window:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final min_by aggregate in:\n$p")
  }

  test("contamination: eval shingles broadcast, corpus side never sort-merge joins") {
    val p = plan("contamination")
    assert(p.contains("BroadcastExchange"), s"eval side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must stream through the hit join:\n$p")
  }

  test("vocab_topk: partial count agg below the exchange, top-50 via TakeOrderedAndProject") {
    val p = plan("vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), s"limit must not be a full sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected map-side combine of token counts in:\n$p")
  }

  test("events_sessions: both windows and the session agg reuse ONE user-keyed exchange") {
    val p = plan("events_sessions")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"lag, running-sum, and groupBy all key on user_id and must share one shuffle, got $exchanges:\n$p")
  }

  test("q5_join: date filter pushed to the orders scan, no cartesian, dims broadcast") {
    val p = plan("q5_join")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"orders date filter must reach the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"six-table join must stay equi-join only:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"small dims must broadcast:\n$p")
  }

  test("source_mix: window runs over the grouped frame, not the corpus") {
    val p = plan("source_mix")
    // the corpus-side agg is partial+final; the single-partition window
    // sits ABOVE the final agg so only |sources| rows pass through it
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-source token counts must map-side combine:\n$p")
    assert(p.indexOf("Window") < p.indexOf("Scan parquet") && p.contains("Window"),
      s"window must be above the aggregate (grouped rows only):\n$p")
  }

  test("events_rollup: one scan expands all grouping sets (no per-level rescan)") {
    val p = plan("events_rollup")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"rollup must not rescan per level:\n$p")
    assert(p.contains("Expand"), s"expected grouping-set Expand operator:\n$p")
  }

  test("q14_promo: date filter pushed to the lineitem scan, CASE inside one agg pass") {
    val p = plan("q14_promo")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"numerator must not trigger a second scan of either table:\n$p")
  }

  test("bigram_topk: partial count agg, top-20 via TakeOrderedAndProject") {
    val p = plan("bigram_topk")
    assert(p.contains("TakeOrderedAndProject"), s"limit must not be a full sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bigram counts must map-side combine:\n$p")
  }

  test("weighted_sample: pure map-side filter — no exchange of any kind") {
    val p = plan("weighted_sample")
    // the output orderBy is fixture-compare plumbing; the FILTER itself
    // must sit below it, directly over the scan
    val (f, s0) = (p.indexOf("Filter"), p.indexOf("Sort"))
    assert(f >= 0 && s0 >= 0 && f > s0,
      s"filter must exist below the (output-only) sort:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"weighted sampling must not shuffle:\n$p")
  }

  test("snapshot_diff: digests computed below the join (text never shuffles)") {
    val p = plan("snapshot_diff")
    val joinAt = math.max(p.indexOf("SortMergeJoin"), p.indexOf("ShuffledHashJoin"))
    assert(joinAt >= 0, s"expected a shuffled full-outer join:\n$p")
    assert(p.indexOf("md5", joinAt) > 0,
      s"md5 digests must be computed on the scan side, below the join:\n$p")
  }

  test("corpus_merge: max_by collapses versions in a partial aggregate, no window") {
    val p = plan("corpus_merge")
    assert(!p.contains("Window"), s"latest-version-wins must not rank with a window:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final max_by aggregate in:\n$p")
  }

  test("doc_gopher: single map-side pass — no exchange except the output sort") {
    val p = plan("doc_gopher")
    // every rule is a per-row expression: the only allowed exchanges are
    // the range partitioning for the final ORDER BY and the scan-level
    // parallelism rebalance (per-row rule cost serializes without it)
    assert(!p.contains("HashAggregate") && !p.contains("Window"),
      s"gopher rules must not aggregate or window:\n$p")
    assertMapSideDecode(p, "gopher rules")
  }

  test("doc_repetition: bigram mode via partial+final agg, line stats never shuffle text") {
    // r22: query entry is orderedResult-materialized; pin the interior
    val p = graft.queries.QueriesCore.docRepetitionFrame(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // (doc, bigram) counts and per-doc max/sum both partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 4 ||
      ("HashAggregate".r.findAllIn(p).size >= 2 &&
        "ObjectHashAggregate".r.findAllIn(p).size >= 2),
      s"expected map-side combine for bigram counts in:\n$p")
    // the line-stats/bigram-stats join is an id equi-join (SMJ or hash are
    // both fine at scale); only a cartesian would be a bug
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("knn_recommend: composite query broadcasts, corpus streams, example filter pushed") {
    val p = plan("knn_recommend")
    assert(p.contains("BroadcastExchange"), s"one-row query must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
    // the example-exclusion predicate lands at the scan (Not(In(vec_id,...)))
    assert(p.contains("PushedFilters") && p.contains("vec_id"),
      s"expected example-id pushdown in:\n$p")
  }

  test("embedding_stats: constant-size output through one partial+final agg") {
    val p = plan("embedding_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation in:\n$p")
    assert(!p.contains("Window"), s"no window needed:\n$p")
  }

  test("bm25 index query: query-term idf table broadcasts onto the streaming TF frame") {
    // bm25_topk's own plan ends at its eager checkpoint (scoped-persist);
    // the index-backed path is lazy end-to-end, so its plan exposes the
    // real shape — and both routes share Bm25.scoreTf.
    val p = plan("bm25_index_topk")
    assert(p.contains("BroadcastExchange"), s"qidf side must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation in:\n$p")
  }

  test("dedup_span_cut: no self-join of the gram stream, rebuild is partial+final") {
    // r22: query entry is orderedResult-materialized; pin the interior
    val p = graft.queries.QueriesCore.dedupSpanCutFrame(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // The design claim the 30x amplification run validates: duplication
    // can never square because no plan node joins the gram stream to
    // itself — ownership is an aggregate, coverage a hash join against it.
    assert(!p.contains("SortMergeJoin"),
      s"gram/ownership joins must stay hash joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no product joins anywhere in the span plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size +
      "ObjectHashAggregate".r.findAllIn(p).size +
      "SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation in:\n$p")
  }

  test("index_span_cut: ownership comes from the artifact scan, not a recompute") {
    // r22: query entry is orderedResult-materialized; pin the interior
    val p = graft.queries.QueriesCore.indexSpanCutFrame(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan parquet") && p.contains("n_docs"),
      s"ownership must be read from the persisted gram table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no product joins in the index cut:\n$p")
  }

  /** The decode-family contract after the round-14 parallelism fix: the
    * payload (synthesized media / packed text) must never ride a shuffle,
    * but the scan MAY rebalance BEFORE synthesis when the fixture
    * collapses to fewer splits than cores (the docsParallel guard —
    * without it 30x-amplified decode ran on one core, BENCH_SCALE.md).
    * Encoded as: besides the output sort, the only allowed exchange is a
    * RoundRobin sitting DIRECTLY above the scan, below every projection. */
  private def assertMapSideDecode(p: String, what: String): Unit = {
    assert(!p.contains("Exchange hashpartitioning"),
      s"$what must not hash-shuffle anything:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      s"$what: only the output sort may range-exchange:\n$p")
    val rr = p.indexOf("RoundRobinPartitioning")
    if (rr >= 0) {
      val below = p.substring(rr + "RoundRobinPartitioning".length)
      val scan = below.indexOf("FileScan")
      assert(scan >= 0 && !below.contains("Exchange"),
        s"$what: the rebalance must sit directly above the scan (payloads " +
          s"are computed AFTER it and must never ride it):\n$p")
      // nothing may compute between the rebalance and the scan — a
      // Project there would mean the payload rides the shuffle
      assert(!below.substring(0, scan).contains("Project"),
        s"$what: a projection below the rebalance puts the payload on " +
          s"the exchange:\n$p")
    }
  }

  test("audio_env: scan reads ONLY doc_id (payloads are synthesized, never stored)") {
    val p = plan("audio_env")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"audio synthesis+decode must not drag any other column through the scan:\n$p")
    assertMapSideDecode(p, "map-side decode")
  }

  test("frame_hist: map-side stripes — only the output sort exchanges") {
    val p = plan("frame_hist")
    assertMapSideDecode(p, "stripe features")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bpe_tokens: encode is one map-side pass — only the output sort exchanges") {
    val p = plan("bpe_tokens")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"the merge list is a plan constant; encoding must not shuffle:\n$p")
  }

  test("budget_select: single-partition windows only over bounded frames") {
    val p = plan("budget_select")
    // The cumulative sweeps run on the ≤10^6-row bucket table and the
    // ≤idBands straddle-band table; the corpus-sized fine window must be
    // PARTITIONED by (bucket, band), never global — the band key is the
    // skew defense when one bucket holds most of the corpus. The static
    // plan duplicates the shared sweep subtree per consumer (AQE's
    // exchange reuse collapses them at runtime), so pin the window SPECS:
    // every unpartitioned window may order only by the bounded __qb/__sb
    // aggregate keys, never by a per-document column.
    val unpartitioned = "windowspecdefinition\\((__\\w+|\\w+)#\\d+L? (ASC|DESC)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(unpartitioned.nonEmpty && unpartitioned.forall(Set("__qb", "__sb")),
      s"unpartitioned sweeps must run over bucket/band aggregates only, got $unpartitioned:\n$p")
    assert("windowspecdefinition\\(__qb#\\d+L, __sb#\\d+, id#\\d+L ASC".r
      .findFirstIn(p).isDefined,
      s"the fine prefix sum must be partitioned by (bucket, band):\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"bucket decisions are broadcast-sized by construction:\n$p")
  }

  test("curation_pipeline: composed stages fuse without product joins or global doc windows") {
    val p = plan("curation_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"stage composition must stay equi-joined:\n$p")
    // the dedup window partitions by the content hash, the packing window
    // by lang — no corpus-global single-partition window over documents
    // may appear (budget_select's bounded sweeps are the only
    // unpartitioned windows, same invariant as its own spec)
    val unpartitioned = "windowspecdefinition\\((__\\w+|\\w+)#\\d+L? (ASC|DESC)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(unpartitioned.forall(Set("__qb", "__sb")),
      s"only the bounded bucket/band sweeps may run unpartitioned, got $unpartitioned:\n$p")
  }

  test("split_leakfree: label join broadcasts, no product joins") {
    val p = plan("split_leakfree")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"component labels join the corpus by id — broadcast on the driver-CC path:\n$p")
  }

  test("rebalanced: extra exchange ONLY when the scan has fewer splits than cores") {
    val par = spark.sparkContext.defaultParallelism
    // already-wide input: must come back untouched (the 100 TB path)
    val wide = spark.range(0, 1000).repartition(par + 4).toDF("id")
    assert(SparkEntry.rebalanced(wide, spark) eq wide,
      "rebalanced must be identity when splits >= parallelism")
    // one-file fixture: single split -> round-robin up to the core count
    val narrow = Tables.documents(spark, TestSpark.sf0001)
    assume(narrow.rdd.getNumPartitions < par)
    val out = SparkEntry.rebalanced(narrow, spark)
    assert(out.rdd.getNumPartitions == par)
    assert(out.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning"))
  }

  test("simple_lower stays inside WholeStageCodegen (canonical fold never falls back)") {
    // The r15 fold swap (lower() -> the custom SimpleLower expression)
    // must not introduce a codegen fallback: SimpleLower implements
    // doGenCode, so a plain projection over it must fuse into a
    // WholeStageCodegenExec stage. (The tokenize funnel's split+filter
    // HOFs are CodegenFallback in Spark with ANY fold — lower() included
    // — so the pin is on the expression, not on a HOF-bearing query.)
    // (a local Seq would be ConvertToLocalRelation-folded to a
    // LocalTableScan before planning — range() plans a real stage)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val exec = spark.range(0, 100)
      .select(concat(lit("İ Σ x"), $"id".cast("string")).as("t"))
      .select(graft.functions.simple_lower($"t").as("l"))
      .filter(length($"l") > 1)
      .queryExecution.executedPlan
    val hosts = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("simple_lower") => w
    }
    assert(hosts.nonEmpty,
      s"simple_lower must fold inside a codegen stage:\n$exec")
  }

  test("a stage whose generated code overflows 64 KB fails instead of running interpreted") {
    // GraftSession sets spark.sql.codegen.fallback=false: a balanced
    // 2048-leaf CASE WHEN tree outgrows janino's 64 KB method limit, and
    // the aggregate over it must throw rather than quietly drop to
    // interpreted execution.
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def tree(lo: Int, hi: Int): Column =
      if (hi - lo == 1) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(col("id") < mid, tree(lo, mid)).otherwise(tree(mid, hi))
      }
    val df = spark.range(0, 2000).select(tree(0, 2048).as("b")).agg(sum("b"))
    intercept[org.codehaus.commons.compiler.InternalCompilerException](df.collect())
  }
}
