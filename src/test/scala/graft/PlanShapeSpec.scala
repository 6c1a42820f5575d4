package graft

import graft.queries.Relational

/** Physical-plan assertions (SURVEY §5.2): the *shape* is the point for
  * these operators — a correct result with the wrong plan fails at
  * 100 TB even though sf0.01 passes. */
class PlanShapeSpec extends GraftSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Formatted explain — shows scan details (PushedFilters/ReadSchema)
    * and codegen ids even while AQE has not finalized the plan. */
  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("join_broadcast actually broadcasts the dim side") {
    assert(plan(Relational.joinBroadcast(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("join_star_flagship broadcasts all dims; no dim-side shuffle join") {
    val p = plan(Relational.joinStarFlagship(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("join_shuffle_hash hint forces ShuffledHashJoin over sort-merge") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.joinShuffleHash(spark, sfDir))
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("topk_global plans TakeOrderedAndProject, not a global sort") {
    assert(plan(Relational.topkGlobal(spark, sfDir)).contains("TakeOrderedAndProject"))
  }

  test("scan_pushdown_filter pushes predicates into the parquet scan") {
    val p = fmt(Relational.scanPushdownFilter(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate") && p.contains("LessThan(l_quantity"))
  }

  test("scan_parquet_project prunes the read schema to selected columns") {
    val p = plan(Relational.scanParquetProject(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"read schema not pruned: $readSchema")
  }

  test("agg_hash_groupby plans two-phase (partial + final) hash aggregation") {
    val p = plan(Relational.aggHashGroupby(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("sql_lateral_join decorrelates: WindowGroupLimit + broadcast join, no per-row subquery") {
    val p = plan(Relational.sqlLateralJoin(spark, sfDir))
    // Catalyst must rewrite the correlated LATERAL ... ORDER BY ... LIMIT 1
    // into a window-group-limit (partial top-1 per partition BEFORE the
    // shuffle) joined to the outer side — not a nested-loop re-execution
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("window_gaps_islands plans exactly one data shuffle, reused by both windows and the aggregate") {
    val p = plan(Relational.windowGapsIslands(spark, sfDir))
    // one hashpartitioning exchange on user_id feeds lag, the running
    // sum, and the partial aggregation; the only other exchange is the
    // final rangepartitioning for the presentation ORDER BY
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final aggregation")
  }

  test("join_null_safe stays a hash join (null-safe keys hash via coalesce+isnull)") {
    val p = plan(Relational.joinNullSafe(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("llm_perplexity_score probes the LM as a broadcast, corpus side never shuffles pre-agg") {
    val p = plan(graft.queries.LlmExtra.llmPerplexityScore(spark, sfDir))
    // the pruned LM and the two-scalar totals row must both arrive as
    // broadcasts; the only hash exchanges are the LM build (train-side
    // counts) and the final tiny per-doc aggregate — the scored token
    // stream itself must not shuffle before aggregation
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // scalar totals cross join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("llm_bpe_pair_counts: two-phase aggregate then bounded top-k, no global sort of pairs") {
    val p = plan(graft.queries.LlmExtra.llmBpePairCounts(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final count")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 should be TakeOrdered, not Sort+Limit:\n$p")
  }

  test("sink_partitioned_parquet: day-range read prunes to the selected partition dirs") {
    val df = graft.queries.SourceQueries.sinkPartitionedParquet(spark, sfDir)
    val p = fmt(df)
    // the day filter must land in PartitionFilters (directory pruning),
    // NOT as a data filter evaluated per row
    assert(p.contains("PartitionFilters") && p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("day")), p.take(4000))
  }

  test("whole-stage codegen covers the flagship pipeline") {
    // AQE only finalizes (and codegens) the plan on execution.
    val df = Relational.joinStarFlagship(spark, sfDir)
    df.collect()
    // the simple plan string marks WholeStageCodegen stages as "*(n)"
    val p = plan(df)
    assert(p.contains("isFinalPlan=true") && p.contains("*("), p)
  }

  test("sink_bucketed_join: the graded join itself plans zero Exchange") {
    // the query's only shuffle may be the final mktsegment rollup —
    // the custkey join must ride the bucket spec. Count Exchanges in
    // the finalized plan: 1 (the aggregate's), never 2+.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.queries.SinkQueries.sinkBucketedJoin(spark, sfDir)
      df.collect()
      val p = plan(df)
      // the rollup/distinct/sort above the join shuffle legitimately; the
      // JOIN SUBTREE (printed below the SortMergeJoin line) must not —
      // both inputs arrive pre-partitioned by the bucket spec
      // drop AQE's appended "== Initial Plan ==" echo (pre-finalization
      // plan, still shows the speculative exchanges)
      val finalOnly = p.split("== Initial Plan ==")(0)
      val i = finalOnly.indexOf("SortMergeJoin")
      assert(i >= 0, finalOnly.take(3000))
      val subtree = finalOnly.substring(i)
      assert(!subtree.contains("Exchange"),
        s"bucketed join inputs still shuffle:\n${subtree.take(4000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("agg_weighted_median: no whole-table window — only bucket rows are windowed") {
    // the r4 rework's contract: the full lineitem scan must NOT feed a
    // Window directly (that was the 3-task parallelism ceiling). Every
    // Window sits above either the ~480-row bucket histogram aggregate
    // or the broadcast-joined single-bucket slice.
    val p = plan(Relational.aggWeightedMedian(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"target-bucket join not broadcast:\n${p.take(3000)}")
    // windows appear only downstream of a HashAggregate (histogram or
    // per-value collapse) — a Window whose child subtree lacks any
    // aggregate would mean the raw table is being sorted per flag again
    val lines = p.linesIterator.toSeq
    val winIdx = lines.zipWithIndex.filter(_._1.contains("Window")).map(_._2)
    assert(winIdx.nonEmpty)
    winIdx.foreach { i =>
      assert(lines.drop(i).exists(_.contains("HashAggregate")),
        s"Window over un-aggregated input at line $i:\n${p.take(3000)}")
    }
  }

  test("llm_tfidf_top_terms: cascaded aggs, no distinct-rewrite Expand") {
    // the mixed count/countDistinct form doubles the exploded token
    // stream through an Expand before the shuffle — the cascade must
    // keep the plan Expand-free
    val p = plan(graft.queries.Llm.llmTfidfTopTerms(spark, sfDir))
    assert(!p.contains("Expand"), s"distinct-rewrite Expand is back:\n${p.take(3000)}")
  }

  test("llm_decontaminate: corpus side joins the bench set by broadcast, no corpus shuffle below the join") {
    val p = plan(graft.queries.LlmExtra.llmDecontaminate(spark, sfDir))
    val finalOnly = p.split("== Initial Plan ==")(0)
    val i = finalOnly.indexOf("BroadcastHashJoin")
    assert(i >= 0, finalOnly.take(3000))
    // the STREAMED (corpus) branch prints between the join line and the
    // build side's BroadcastExchange — the GRAM stream must never hash-
    // shuffle before the probe. The one exchange the branch tolerates is
    // Tables.spread's ROUND-ROBIN widening of the raw pre-explode docs
    // (a narrow-scan fix that moves ~1/8th the bytes of the gram stream
    // and disappears on wide production scans).
    val j = finalOnly.indexOf("BroadcastExchange", i)
    assert(j > i, finalOnly.take(3000))
    val corpusBranch = finalOnly.substring(i + "BroadcastHashJoin".length, j)
    assert(!corpusBranch.contains("hashpartitioning"),
      s"corpus grams hash-shuffle before the bench probe:\n${corpusBranch.take(4000)}")
  }

  test("llm_shard_manifest: the window is keyed on source, never a global sort") {
    val p = plan(graft.queries.LlmExtra.llmShardManifest(spark, sfDir))
    assert(p.contains("Window"), p.take(2000))
    // the exclusive-prefix sum must run under a hash partitioning on the
    // shard locality key — a SinglePartition exchange here would be the
    // global-sort anti-pattern this operator exists to avoid
    assert(p.contains("hashpartitioning(source"), p.take(3000))
    assert(!p.contains("SinglePartition"), s"global exchange in shard manifest:\n${p.take(3000)}")
  }

  test("agg_histogram: two-phase aggregation, shuffle carries buckets not rows") {
    val p = plan(graft.queries.Relational.aggHistogram(spark, sfDir))
    // partial_count before the exchange = map-side combine to bucket
    // cardinality; the broadcast total must not shuffle the hist side
    assert(p.contains("partial_count") || p.contains("partial count"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000)) // the 1-row total attach
  }

  test("dq_outlier_iqr: the recount pass joins the fence table by broadcast") {
    val p = plan(graft.queries.Quality.dqOutlierIqr(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"fence join must broadcast, not shuffle the stream:\n${p.take(3000)}")
  }

  test("llm_dup_span: no persisted per-character gram table in the plan") {
    val df = graft.queries.LlmExtra.llmDupSpan(spark, sfDir)
    // the positional gram stream is ~24 bytes per CHARACTER of corpus —
    // a cache of it is a ≈24× intermediate at 100 TB. The two-pass form
    // re-derives the stream per pass (map-only); nothing may persist.
    val p = plan(df)
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      s"llm_dup_span must not cache the gram table:\n${p.take(3000)}")
    // the mark-back must be a LEFT SEMI join (output-sensitive: clean
    // docs' positions die at the join, never downstream)
    assert(p.contains("LeftSemi"), s"positional mark-back must be a semi join:\n${p.take(3000)}")
  }

  test("agg_skyline_2d: the census prefilter reaches the plan — broadcast join feeds a filter BEFORE the 3-key window") {
    val df = graft.queries.Relational.aggSkyline2d(spark, sfDir)
    val p = plan(df)
    // the o_orderstatus window has ~3 partitions, so at scale it must
    // sort only prefilter SURVIVORS: the per-(status, price-bucket)
    // max-date census has to attach by broadcast and its dominance
    // filter has to sit below the window sort in the plan
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket census must broadcast back:\n${p.take(3000)}")
    val winAt = p.indexOf("Window")
    val joinAt = p.indexOf("BroadcastHashJoin",
      math.max(0, winAt)) // physical plans print top-down: the window's
    // INPUT (the prefilter join) must appear BELOW (after) it
    assert(winAt >= 0 && joinAt > winAt,
      s"prefilter join must feed the window, not follow it:\n${p.take(3000)}")
  }

  test("dq_benford_gof: one corpus scan — the census cache feeds both consumers") {
    val p = plan(graft.queries.Quality.dqBenfordGof(spark, sfDir))
    // the chi2 sum and the scored readout both derive from the persisted
    // 9-row digit census; a second bare parquet scan of orders means the
    // cache pin regressed and the corpus aggregate runs twice
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"both consumers must read the cached census:\n${p.take(3000)}")
    assert(p.contains("TakeOrdered") || p.contains("Sort"), "ordered 9-row readout")
  }

  test("graph_walk_skipgram: walker-keyed join + two-phase pair census, no nested loop") {
    val p = plan(graft.queries.GraphQueries.graphWalkSkipgram(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must be the walker equi-join, never all-pairs:\n${p.take(3000)}")
    assert(p.contains("ShuffledHashJoin"),
      s"5-row walker buckets must hash-join, not sort both streams:\n${p.take(3000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "pair census must map-side combine (partial + final)")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("agg_sample_bottomk: the sample is a bounded heap (TakeOrderedAndProject), never a global sort") {
    val p = plan(Relational.aggSampleBottomk(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must plan a per-partition heap:\n${p.take(2000)}")
  }

  test("graph_betweenness_landmark: equi-join layers, no nested loop, map-combined censuses") {
    val p = plan(graft.queries.GraphQueries.graphBetweennessLandmark(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"forward/backward layers must be equi-joins:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), "top-25 must not global-sort")
  }

  test("kPeel: alive-set broadcast is conditional on the MEASURED count — above the cap the semi joins degrade to shuffled joins") {
    import SparkSpecBase.spark.implicits._
    // triangle 1-2-3 plus pendant 3-4: a k=2 peel drops node 4 in round
    // one (non-identity), so the returned adjacency carries both semi
    // joins in its plan
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val adj = (e ++ e.map(_.swap)).toDF("u", "v")
    // kill auto-broadcast so any BroadcastHashJoin in the plan can ONLY
    // come from kPeelLoop's explicit hint — explicit hints are honored
    // regardless of threshold, estimated broadcasts are not
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = plan(graft.queries.GraphQueries.kPeelLoop(adj, k = 2, rounds = 2))
      assert(hinted.contains("BroadcastHashJoin"),
        s"under the cap the measured 3-row alive set must broadcast:\n${hinted.take(3000)}")
      val degraded = plan(
        graft.queries.GraphQueries.kPeelLoop(adj, k = 2, rounds = 2, bcastCap = 0L))
      assert(!degraded.contains("BroadcastHashJoin") &&
        !degraded.contains("BroadcastExchange"),
        s"above the cap the hint must be OMITTED (a hinted billion-row alive set " +
          s"would OOM the driver, not demote):\n${degraded.take(3000)}")
      assert(degraded.contains("SortMergeJoin") || degraded.contains("ShuffledHashJoin"),
        s"degraded shape must be a shuffled semi join:\n${degraded.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
