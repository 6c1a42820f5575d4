package graft

import scala.jdk.CollectionConverters._

/** Global plan lint across the ENTIRE query inventory: no query may plan
  * a CartesianProduct or BroadcastNestedLoopJoin unless it is on the
  * explicit whitelist below — the classic silent regression is an
  * equi-join degenerating into a nested loop after a refactor (lost join
  * key, accidentally non-equi predicate), which still returns correct
  * rows at sf0.01 and then detonates at scale. Plans are built, not
  * executed, so the whole sweep is cheap. */
class PlanLintSpec extends GraftSpec {

  /** Queries where a nested-loop/cartesian is the intended plan:
    *  - join_cross: IS the cross-join operator;
    *  - join_theta_range: pure non-equi predicate, small broadcast side;
    *  - llm_sim_cosine_topk / llm_dedup_embed_cosine: brute-force cosine
    *    baselines — crossJoin against a bounded probe/slice by design;
    *  - llm_sim_ivf_topk: centroid table crossJoin (bounded cell count);
    *  - llm_perplexity_score / llm_tfidf_top_terms: single-row scalar
    *    (totals / doc count) attached via broadcast cross join. */
  private val allowNestedLoop = Set(
    "join_cross", "join_theta_range",
    "llm_sim_cosine_topk", "llm_dedup_embed_cosine", "llm_sim_ivf_topk",
    "llm_perplexity_score", "llm_tfidf_top_terms",
    "llm_semdedup", // centroid assignment crossJoin — NCells=16, broadcast
    "llm_semdedup_adaptive", // same assignment crossJoin — ⌈√n⌉ centroids, broadcast
    "agg_heavy_hitters", // single-row corpus total attached via broadcast cross join
    "agg_hll_union", // single-row exact-distinct verdict input attached via broadcast cross join (round 7)
    "dq_freshness", // single-row global-max timestamp attached via broadcast cross join
    "event_rfm", // single-row global-max purchase ts attached via broadcast cross join (round 8)
    "ts_autocorrelation", // single-row ACF denominator attached via broadcast cross join (round 8)
    "dq_distribution_drift", // single-row cohort totals via broadcast cross join (round 8)
    "agg_histogram", // single-row histogram total via broadcast cross join (round 8)
    "event_top_paths", // single-row user population via broadcast cross join (round 8)
    "llm_pmi_collocations", // single-row bigram total via broadcast cross join (round 8)
    "ts_theil_sen", // calendar-bounded pairwise-slope theta self-join (round 8)
    "llm_cluster_purity", // centroid-assignment crossJoin — 16 broadcast centroids (round 8)
    "graph_modularity", // single-row 2m total via broadcast cross join (round 8)
    "llm_hard_negatives", // bounded-probe broadcast crossJoin, as llm_sim_cosine_topk (round 8)
    "dq_sequence_gaps", // three single-row gap/total frames combined via broadcast cross joins (round 8)
    "event_lifecycle", // single-row corpus horizon via broadcast cross join (round 8)
    "event_concentration", // single-row event total via broadcast cross join (round 8)
    "graph_core_full", // single-row convergence verdict via broadcast cross join (round 10)
    "graph_core_decomposition", // same single-row convergence verdict attached (round 15)
    "event_survival_km", // single-row censor cutoff (global max day − 7) via broadcast cross join (round 10)
    "dq_chi_square", // single-row table total + chi2 sum via broadcast cross joins (round 10)
    "dq_ks_test", // single-row sample totals via broadcast cross join (round 10)
    "dq_mann_whitney", // single-row sample totals via broadcast cross join (round 10)
    "event_conversion_lag", // single-row clicker/converter totals via broadcast cross join (round 10)
    "dq_benford_gof", // single-row chi2 sum via broadcast cross join (round 11)
    "graph_louvain_one_level", // single-row 2m total via broadcast cross join (round 12)
    "llm_sim_recall", // inherits both ANN parents' bounded-probe broadcast cross joins (round 12)
    "llm_sim_recall_at_k", // same two parents at heap depth 10 (round 13)
    "llm_bigram_lm", // single-row vocab size attached via broadcast cross join (round 13)
    "llm_minhash_band_tune", // single-row truth count via broadcast cross join (round 13)
    "mm_aspect_bucket", // 5-row bucket ladder attached via broadcast cross join (round 13)
    "ts_matrix_profile_discord", // single-row calendar bounds via broadcast cross join (round 13)
    "census_ipf_raking", // single-row universe/control totals via broadcast cross joins (round 13)
    "llm_sim_pq_recall", // inherits the brute-force truth parent's bounded-probe cross join (round 13)
    "census_areal_interpolation", // 30-row analysis grid attached via broadcast cross join (round 13)
    "census_dissimilarity", // single-row group totals via broadcast cross join (round 14)
    "census_location_quotient", // single-row grand total via broadcast cross join (round 14)
    "agg_hll_intersect", // two single-row exact-count frames via broadcast cross joins (round 14)
    "agg_sample_bottomk", // single-row population stats attached via broadcast cross join (round 14)
    "llm_dup_graph_degree", // single-row global pair count via broadcast cross join (round 14)
    "llm_sim_hnsw_topk", // 16-row centroid frame via broadcast cross join (the IVF-cell assignment shape, round 14)
    "llm_sim_hnsw_tune", // same build's centroid cross join, shared by the three sweep configs (round 15)
    "census_theil", // single-row corpus entropy / H frames via broadcast cross joins (round 15)
    "census_moran_i", // single-row deviation totals + global I via broadcast cross joins (round 15)
    "graph_powerlaw_fit", // single-row OLS frame via broadcast cross join (round 15)
    "ts_periodogram", // 8-row Fourier-bin frame + dominant flag via broadcast cross join (round 15)
    "llm_sim_rerank", // bounded-probe sketch broadcast crossJoin, as llm_sim_cosine_topk (round 15)
    "event_uplift_cuped", // single-row pooled-moment frame via broadcast cross join (round 15)
    "dq_fk_inference", // four edge censuses: single-row distinct/contained frames via broadcast cross joins (round 15)
    "census_suppression_fixpoint", // single-row converged verdict via broadcast cross join (round 15)
    "event_diff_in_diff", // single-row DiD scalar via broadcast cross join (round 15)
    "ts_pacf", // single-row ACF denominator via broadcast cross join, as ts_autocorrelation (round 15)
    "llm_dsir_select", // single-row token-total frame joined to the 64-row bucket table via broadcast cross join (round 15)
    "dq_control_chart", // single-row control-limit frame via broadcast cross join (round 15)
    "llm_mix_temperature") // two single-row total frames via broadcast cross joins (round 15)

  test("no query plans an unexpected cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, "/root/testdata/sf0.001").queryExecution.sparkPlan.toString
      val bad = (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")) &&
        !allowNestedLoop.contains(name)
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected nested-loop plans: ${offenders.mkString(", ")}")
  }

  /** Output-schema lint (SURVEY §2.C rule 9): every graded query's output
    * columns must use only leaf types the driver's DuckDB-hash comparison
    * has ALREADY been proven on. Round 11's only red row was ts_lead_lag —
    * the first query ever to OUTPUT a DecimalType column met a driver
    * hasher that had never seen one and failed on bit-identical values
    * (rows/schema matched, hash didn't). The allowlist below is exactly
    * the leaf set exercised by the 311 green rows of CORRECTNESS_r11;
    * anything outside it (decimal, binary, float, byte/short...) must be
    * cast to a proven type before it leaves a query. Container types
    * (array/map/struct) recurse to their leaves. */
  test("no query outputs a leaf type the driver hash has never been proven on") {
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] =
      Set(IntegerType, LongType, DoubleType, StringType, BooleanType,
        DateType, TimestampType,
        // proven by 5 green r11 rows (dim_scd2_build, fn_epoch_time,
        // fn_interval_arith, sink_sorted_runs, source_orc_roundtrip)
        TimestampNTZType)
    def leaves(dt: DataType): Seq[DataType] = dt match {
      case s: StructType => s.fields.toSeq.flatMap(f => leaves(f.dataType))
      case a: ArrayType => leaves(a.elementType)
      case m: MapType => leaves(m.keyType) ++ leaves(m.valueType)
      case other => Seq(other)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, "/root/testdata/sf0.001").schema.fields.toSeq
        .flatMap(f => leaves(f.dataType).filterNot(allowed).map(t => s"${f.name}:${t.simpleString}"))
      if (bad.nonEmpty) Some(s"$name(${bad.mkString(", ")})") else None
    }
    assert(offenders.isEmpty,
      s"queries with never-exercised output leaf types: ${offenders.mkString("; ")}")
  }

  /** A testdata table read that bypasses `Tables.t`: a parquet read
    * (`.parquet(...)`, or `format("parquet")...load(...)`) of a path
    * rooted at the query's `dir` argument. Such a read infers its schema
    * in a Spark job on every call instead of using the session's cached
    * schema. Paths a query builds for its own scratch output (`path`,
    * `parts`) do not match. */
  private val directTableRead =
    """(?s)(\.parquet|format\(\s*"parquet"\s*\)(\s*\.\w+\([^()]*\))*\s*\.load)\(\s*s"\$\{?dir\b""".r

  /** (file name, text) of every source under `graft/queries`. */
  private def querySources: Seq[(String, String)] = {
    val srcDir = new java.io.File("src/main/scala/graft/queries")
    val files = Option(srcDir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no query sources under ${srcDir.getAbsolutePath}")
    files.map(f => (f.getName, java.nio.file.Files.readString(f.toPath)))
  }

  test("no query reads a testdata table without Tables.t") {
    assert(directTableRead.findFirstIn("""s.read.parquet(s"$dir/orders.parquet")""").isDefined)
    assert(directTableRead.findFirstIn(
      "s.read.format(\"parquet\")\n  .option(\"a\", \"b\")\n  .load(s\"${dir}/part.parquet\")").isDefined)
    assert(directTableRead.findFirstIn("""s.read.parquet(path)""").isEmpty)
    val offenders = querySources.collect {
      case (name, src) if directTableRead.findFirstIn(src).isDefined => name
    }
    assert(offenders.isEmpty, s"direct testdata parquet reads (use Tables.t): ${offenders.mkString(", ")}")
  }

  test("no query materializes a frame except through Bridge.materialize") {
    val offenders = querySources.collect {
      case (name, src) if src.contains("localCheckpoint(") || src.contains("LogicalRDD(") => name
    }
    assert(offenders.isEmpty,
      s"bare localCheckpoint or LogicalRDD (use Bridge.materialize): ${offenders.mkString(", ")}")
  }

  test("no query sets a conf on a shared session or hands frames through a global view") {
    // a loop with its own confs runs in Bridge.withConfs' cloned session
    val banned = Seq("conf.set(", "newSession(", "GlobalTempView")
    val offenders = querySources.collect {
      case (name, src) if banned.exists(src.contains) => name
    }
    assert(offenders.isEmpty,
      s"conf.set, newSession or a global temp view (use Bridge.withConfs): ${offenders.mkString(", ")}")
  }

  test("no session memo outside operators.SessionMemo") {
    // every hand-rolled session memo needs `isStopped` to evict the
    // entries of stopped sessions, so the call marks one
    val root = java.nio.file.Paths.get("src/main/scala")
    val memo = root.resolve("graft/operators/SessionMemo.scala")
    val walk = java.nio.file.Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.contains(memo), s"no SessionMemo under ${root.toAbsolutePath}")
    val offenders = sources.filter { f =>
      f != memo && java.nio.file.Files.readString(f).contains("isStopped")
    }.map(root.relativize(_).toString)
    assert(offenders.isEmpty,
      s"session memo outside SessionMemo (use SessionMemo.memoized): ${offenders.mkString(", ")}")
  }

  test("no persist or cache outside GraftCaches.persist") {
    // a frame persisted anywhere else is not registered, so
    // SparkEntry.releaseCaches() would leave its blocks cached
    val root = java.nio.file.Paths.get("src/main/scala")
    val caches = root.resolve("graft/operators/GraftCaches.scala")
    val walk = java.nio.file.Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.contains(caches), s"no GraftCaches under ${root.toAbsolutePath}")
    val call = """\.persist\(|\.cache\(\)|GraftCaches\.register""".r
    val offenders = sources.filter { f =>
      f != caches && call.findFirstIn(java.nio.file.Files.readString(f)).isDefined
    }.map(root.relativize(_).toString)
    assert(offenders.isEmpty,
      s"persist, cache or register outside GraftCaches (import GraftCaches.persist): ${offenders.mkString(", ")}")
  }

  test("whitelisted nested-loop queries still have one (keep the list honest)") {
    val stale = allowNestedLoop.toSeq.sorted.filterNot { name =>
      val p = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.sparkPlan.toString
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    }
    assert(stale.isEmpty, s"whitelist entries without nested loops (remove them): ${stale.mkString(", ")}")
  }
}
