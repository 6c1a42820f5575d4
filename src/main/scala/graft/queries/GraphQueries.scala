package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{inSession, materialize, withConfs}
import graft.tables.Tables.t

/** Graph operators over data-derived edge sets (SURVEY §2.B graph_*
  * rows). Components (min-label propagation) lives in
  * `operators.Components`; this adds the weighted-importance side.
  */
object GraphQueries {

  /** Per-(session, testdata-dir) memo of the graph family's SHARED
    * derivations (edge set, adjacencies, degree census, LPA labels,
    * walks, ...), served through [[graft.operators.SessionMemo]]. The
    * entries assume the parquet under `dir` is not rewritten within a
    * session's lifetime (the immutable-dir assumption shared with
    * `tables.Tables.t`): a host that rewrites inputs in place calls
    * `SparkEntry.releaseCaches()` first. */
  private def memoized[T <: AnyRef](s: SparkSession, dir: String, kind: String)(
      build: => T): T =
    graft.operators.SessionMemo.memoized(s, s"$kind|$dir", kind)(build)

  /** Alias of `SessionMemo.buildSeconds`, kept for `perfbench`. */
  private[graft] def memoBuildSeconds: Map[String, Double] =
    graft.operators.SessionMemo.buildSeconds

  /** Build AND MATERIALIZE every family-shared memo artifact up front
    * — the bench-attribution hook (round-14 verdict task 4): when
    * `Bench` calls this before its timed passes, no graded query
    * carries the one-off shared-derivation cost, so per-query timings
    * stop depending on alphabetical run order as the family grows.
    * Every kind materializes at build; `prAdjLoop` warms with its
    * owning query — it is private to the pagerank loop and bounded by
    * it. */
  private[graft] def warmFamily(s: SparkSession, dir: String): Unit = {
    symAdj(s, dir)
    symAdjRows(s, dir)
    symDeg(s, dir)
    saltedSymAdj(s, dir)
    saltedSymAdjBfs(s, dir)
    lpaLabels(s, dir)
    // round-15 additions — the new family-shared memos (each consumed
    // by ≥ 2 graded queries): warming them keeps the shared-derivation
    // cost VISIBLE in memo_build/memo_warm_sec instead of aliased onto
    // whichever consumer runs first (the round-14 verdict-task-4
    // attribution discipline).
    louvainTrace(s, dir)
    hIndexShared(s, dir)
    landmarkReach(s, dir)
    uniformWalkVisits(s, dir)
    node2vecWalkShared(s, dir)
  }

  /** Shared symmetric adjacency (both edge directions), materialized
    * (round 16): consumers reference the adjacency 3–12× per plan, and
    * through a bare `.cache()` each reference re-inlines the full
    * simEdges lineage into the consumer's logical plan —
    * `graph_jaccard_neighbors` formatted to 744 KB,
    * `graph_louvain_one_level` to 572 KB, `graph_pagerank_converged` to
    * 2.1 MB of plan text, all re-analyzed per action. `private[graft]`
    * so `CoreSessionIsolationSpec` can hand the real family cache to
    * `hIndexEstimates` directly. */
  private[graft] def symAdj(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "symAdj") {
      val e = simEdges(s, dir)
      materialize(e.union(e.select(col("v").as("u"), col("u").as("v"))))
    }

  /** `Components.boundedRows` of `symAdj`'s `(u, v)`, read once per
    * session: `graphComponents` and `graphKCore` dispatch on it. The
    * array is shared across calls and threads, so it is only read. */
  private def symAdjRows(s: SparkSession, dir: String): Option[Array[Row]] =
    memoized(s, dir, "symAdjRows") {
      graft.operators.Components.boundedRows(symAdj(s, dir).select("u", "v"))
    }

  /** Shared node set of the similarity graph, materialized. */
  private def symNodes(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "symNodes") {
      materialize(symAdj(s, dir).select(col("u").as("node")).distinct())
    }

  /** Shared hub-salted adjacency for the Pregel-shaped loops (BFS,
    * LPA). Built over a PROJECTION of the shared symmetric adjacency so
    * SaltedAdj's internal cache/unpersist lifecycle (it drops its input
    * cache after re-partitioning big graphs at loop width) never
    * touches the family-shared frame. */
  private def saltedSymAdj(s: SparkSession, dir: String): graft.operators.SaltedAdj =
    memoized(s, dir, "saltedSymAdj") {
      graft.operators.SaltedAdj(symAdj(s, dir).select(col("u"), col("v"))).registered()
    }

  /** BFS variant of the shared salted adjacency: real edges carry hop
    * weight 1, and every node gets a weight-0 SELF-LOOP — the minLabel
    * lineage trick adapted to hops. `min(hop + w)` over this adjacency
    * both advances the frontier AND retains each node's current hop
    * through its own loop, so the round plan references the previous
    * frontier exactly ONCE: linear lineage, no per-round cache, the
    * whole 3-round BFS is a single job. */
  private def saltedSymAdjBfs(s: SparkSession, dir: String): graft.operators.SaltedAdj =
    memoized(s, dir, "saltedSymAdjBfs") {
      val loops = symNodes(s, dir)
        .select(col("node").as("u"), col("node").as("v"), lit(0L).as("w"))
      graft.operators.SaltedAdj(
        symAdj(s, dir).select(col("u"), col("v")).withColumn("w", lit(1L)).union(loops))
        .registered()
    }

  /** PageRank (damping 0.85, 3 rounds) over a similarity graph: nodes
    * are documents, edges connect docs in the same (source, 100-char
    * length bucket) block — block sizes run 1..10 here, so degrees
    * (and therefore ranks) genuinely vary. INTEGER-EXACT throughout:
    * ranks live in 1e-6 units
    * (BIGINT), contributions are floor-divided per out-degree, and the
    * damping step is `150000 + (850·Σcontrib) div 1000` — integer sums
    * are associative, so the result is bit-identical at any
    * parallelism, and the oracle unrolls the same three rounds in SQL.
    * Scale shape: each round is one equi-join (edges ⋈ ranks, both
    * hash-partitioned on the source node) + one aggregation — the
    * Pregel step as relational algebra. At production depth the loop
    * checkpoints lineage like `operators.Components.minLabel`; three
    * unrolled rounds need no checkpoint. Isolated docs (no block peers)
    * converge to the 0.15 floor, never join traffic. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val (sadj, deg, nodes) = prGraph(s, dir)
    var rank = nodes.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      // per-node contribution c = r div deg rides through the salted
      // join; the sum's map-side combine collapses hub fan-in pre-wire
      val contrib = sadj.propagate(
          rank.join(deg, "node")
            .select(col("node"), call_function("div", col("r"), col("deg")).as("c")))
        .groupBy("node").agg(sum("c").as("sc"))
      rank = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + call_function("div",
            lit(850L) * coalesce(col("sc"), lit(0L)), lit(1000L))).as("r"))
    }
    rank
      .join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("n_neighbors"),
        col("r").as("rank_micro"))
      .orderBy(desc("rank_micro"), col("node"))
      .limit(25)
  }

  /** The PageRank family's graph: single-blocking similarity edges,
    * hub-salted adjacency, persisted out-degrees, node universe.
    *
    * Edges and deg are read every round of the loop — persist both so
    * the blocking self-join runs once, not once per round. The blocking
    * self-join is per-block quadratic: a hot (source, length-bucket)
    * block — a template family all sized alike — emits |block|² edges
    * before any round runs, so blocks are capped at HotKeys.DefaultCap
    * first (inert at graded SF: blocks run 1..10). The per-round
    * edges⋈rank join is hub-salted via SaltedAdj (power-law tails put a
    * hub's whole adjacency in one reducer otherwise; census finds no
    * hubs at graded SF → zero-overhead path). Both caches register with
    * `GraftCaches` (the returned plans reference them). */
  private def prGraph(s: SparkSession, dir: String)
      : (graft.operators.SaltedAdj, DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 1200)
      .select(col("doc_id").as("node"), col("source"),
        call_function("div", col("n_chars"), lit(100L)).as("blk"))
    val blocked = graft.operators.HotKeys.dropOverCap(
      docs.select(col("node"), col("source"), col("blk")), Seq("source", "blk"),
      graft.operators.HotKeys.DefaultCap)
    val sadj = graft.operators.SaltedAdj(
      blocked.select(col("node").as("u"), col("source"), col("blk"))
        .join(blocked.select(col("node").as("v"), col("source"), col("blk")),
          Seq("source", "blk"))
        .filter(col("u") =!= col("v"))
        .select("u", "v"))
    // materialized now: three round joins and the final join read it
    // from independent stages of one job, which a lazy persist let
    // compute the same blocks concurrently
    val deg = materialize(sadj.edges.groupBy("u").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("u", "node"))
    (sadj.registered(), deg, docs.select("node"))
  }

  /** CONVERGENCE-MODE PageRank (damping 0.5, integer 1e-6 units) over
    * the TWO-BLOCKING family graph: the loop runs until the L1 rank
    * movement `Σ|r_k − r_{k-1}|` falls to ε = 200 micro-units per node,
    * hard-capped at 24 rounds — the production stopping rule, vs the
    * bounded-round convention of the fixed-3-round `graph_pagerank`
    * sibling. (The sibling's single-blocking graph is a clique union —
    * uniform rank is already stationary there, so only the two-blocking
    * graph's varying degrees exercise a convergence loop at all.)
    * Everything is integer arithmetic (`div`), so the round-k ranks —
    * and therefore the FIRST qualifying round — are bit-identical in
    * both engines: the oracle unrolls the same 24 rounds with a
    * per-round L1 table and picks `min(round) WHERE l1 ≤ ε`
    * relationally, while the Spark loop finds it iteratively. Output:
    * top-25 nodes at the qualifying round plus the round number and a
    * converged flag (false ⇒ rank values are the round-24 state).
    *
    * Execution discipline: the whole 24-round unroll is ONE lazy plan
    * with strictly LINEAR lineage, evaluated by one action. The
    * pagerank round naturally references its predecessor TWICE
    * (neighbor contributions + the previous rank for the L1), the
    * double reference that forced `Components.minLabel`-style batched
    * checkpoints in earlier shapes — and tapping each round for its L1
    * scalar would duplicate the round's whole logical subtree (plans
    * are trees, not DAGs; measured: a 24-round union-of-taps never
    * leaves Catalyst analysis). Both are removed by carrying the RANK
    * HISTORY in-band: a weight-0 SELF-LOOP edge threads each node's
    * per-round rank array through the same contribution join, so each
    * round is exactly one equi-join + one map-combined aggregate
    * referencing its predecessor once, and the final frame alone holds
    * every round's state. The 24 per-round L1 scalars (and the ε
    * census) then derive from ONE explode+aggregate over that frame —
    * no per-round taps, actions, or checkpoints — and the qualifying
    * round's ranks are an `element_at` into the cached histories. The
    * oracle's 24-round unroll maps 1:1 (both engines compute all 24
    * rounds and pick `min(round) WHERE l1 ≤ ε`). Damping 0.5 contracts
    * the L1 ×½ per round, so ε is reached near round 10 at every SF
    * (the graph is doc_id-bounded) and the 24-round cap is 2×
    * headroom, loudly flagged in `converged` if ever hit. Per-node
    * state is O(rounds) — 25 BIGINTs under the cap, the price of the
    * single-action shape. Degrees are HotKeys-capped upstream, so the
    * contribution join's per-key fan-in is bounded on power-law
    * corpora (the salted-adjacency variant of this loop lives in
    * `graphPagerank`; here the self-loop layout is what keeps the
    * lineage linear). */
  def graphPagerankConverged(s: SparkSession, dir: String): DataFrame = {
    val nodes = symNodes(s, dir)
    val deg = symDeg(s, dir).withColumnRenamed("u", "node")
    // real edges carry the u-side out-degree (contribution divisor);
    // self-loops are marked deg = 0 and thread the node's own history
    val prAdj = memoized(s, dir, "prAdjLoop") {
      graft.operators.GraftCaches.register(
        symAdj(s, dir).join(symDeg(s, dir), "u")
          .select(col("u"), col("v"), col("deg"))
          .union(nodes.select(col("node").as("u"), col("node").as("v"),
            lit(0L).as("deg")))
          .cache())
    }
    // frame: (node, r = current rank, rh = array of ranks r_0..r_j)
    def prRound(adj: DataFrame, rank: DataFrame): DataFrame =
      adj.join(rank.withColumnRenamed("node", "u"), "u")
        .select(col("v"), col("deg"),
          when(col("deg") === 0L, lit(0L))
            .otherwise(call_function("div", col("r"), col("deg"))).as("c"),
          when(col("deg") === 0L, col("rh")).as("h"))
        .groupBy("v").agg(sum("c").as("s"),
          first("h", ignoreNulls = true).as("h")) // exactly one self-loop per node
        .select(col("v").as("node"),
          (lit(500000L) + call_function("div",
            lit(500L) * col("s"), lit(1000L))).as("r"), col("h"))
        .withColumn("rh", array_append(col("h"), col("r")))
        .drop("h")
    val maxRounds = 24
    // the L1 trace of a history frame: explode each node's per-round
    // |Δr| pairs; per-round sums are the L1s, the group count is n (→ ε)
    def l1Trace(h: DataFrame) = h
      .select(posexplode(expr(
        "transform(sequence(1, size(rh) - 1), j -> abs(rh[j] - rh[j - 1]))")))
      .groupBy((col("pos") + 1).cast("long").as("round"))
      .agg(sum("col").as("l1"), count(lit(1)).as("n"))
      .collect().sortBy(_.getLong(0))
    // The chain evaluates in TWO halves: damping 0.5 puts convergence
    // near round 10 at any SF, so rounds 13–24 usually never build.
    // Both eager collects run in a cloned session with AQE off and the
    // width pinned — the 12-round chain is then ONE statically-planned
    // job instead of ~36 per-stage re-plans, and integer sums are
    // partitioning-invariant so the result is bit-identical. The history
    // comes back planned in `s`. The width stays 8, not `loopWidth` of
    // the adjacency rows: that reads 1 at sf0.1, and the chain's growing
    // rank arrays then ran 1.05–1.30 s against 0.88–1.20 s at width 8
    // (`graft.Bench`, 6 runs a side, 4-CPU host).
    val (hist, l1s) = withConfs(s, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "8") { c =>
      var cur: DataFrame = inSession(c, nodes).select(col("node"), lit(1000000L).as("r"),
        array(lit(1000000L)).as("rh"))
      val adjC = inSession(c, prAdj)
      for (_ <- 1 to maxRounds / 2) cur = prRound(adjC, cur)
      val half = cur.persist()
      val l1Half = l1Trace(half)
      val eps0 = 200L * l1Half.head.getLong(2)
      if (l1Half.exists(_.getLong(1) <= eps0)) (half, l1Half)
      else {
        for (_ <- maxRounds / 2 + 1 to maxRounds) cur = prRound(adjC, cur)
        val full = cur.persist()
        val l1Full = l1Trace(full)
        half.unpersist(blocking = false)
        (full, l1Full)
      }
    }
    graft.operators.GraftCaches.register(hist)
    val eps = 200L * l1s.head.getLong(2)
    val hit = l1s.find(_.getLong(1) <= eps)
    val k = hit.map(_.getLong(0).toInt).getOrElse(maxRounds)
    val lastL1 = hit.map(_.getLong(1)).getOrElse(l1s.last.getLong(1))
    val result = inSession(s, hist).select(col("node"),
      element_at(col("rh"), k + 1).as("r"))
      .join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("n_neighbors"),
        col("r").as("rank_micro"),
        lit(k.toLong).as("n_rounds"), lit(lastL1 <= eps).as("converged"))
      .orderBy(desc("rank_micro"), col("node"))
      .limit(25)
    result
  }

  /** Canonical (u < v) edge list of the TWO-BLOCKING similarity graph:
    * docs sharing a (source × 100-char bucket) block OR a (lang ×
    * 50-char bucket) block. Two overlapping cliquings — docs bridging
    * both give the graph real diameter (paths of length 2–3), unlike a
    * single blocking's disjoint cliques. The self-join per blocking is
    * an equi-join on the block key (candidate generation, never
    * all-pairs); per-block fan-out is bounded by block occupancy, and
    * blocks are capped at `HotKeys.DefaultCap` before the self-join — a
    * hot block (one template family dominating a source) would emit
    * |block|² edges into every downstream loop otherwise. Inert at
    * graded SF (occupancy ≤10). */
  private def simEdges(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "simEdges") {
      materialize(simEdgesCapped(t(s, dir, "documents").filter(col("doc_id") < 1200),
        graft.operators.HotKeys.DefaultCap))
    }

  /** Shared degree census over the symmetric adjacency, materialized
    * (consumers attach degrees on BOTH join sides plus the tot/2m
    * censuses — 4 lineage copies per moves plan before round 16). */
  private def symDeg(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "symDeg") {
      materialize(symAdj(s, dir).groupBy("u").agg(count(lit(1)).as("deg")))
    }

  /** Shared 3-round LPA labels (see `graphLabelPropagation` for the
    * algorithm) — `graph_modularity` scores exactly these communities,
    * so both queries read one computation. Only the final labels are
    * materialized: they feed modularity, the Louvain moves chain and the
    * trace, which would otherwise each re-plan the 3-round lineage. */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "lpaLabels") {
      import org.apache.spark.sql.expressions.Window
      val sadj = saltedSymAdj(s, dir)
      var lab = symNodes(s, dir).select(col("node"), col("node").as("label"))
      for (_ <- 1 to 3) {
        // each round references the previous labels exactly ONCE
        // (propagate → count → window): linear lineage, so no per-round
        // cache is needed
        val nb = sadj.propagate(lab)
        val cnt = nb.groupBy("node", "label").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("node").orderBy(col("c").desc, col("label"))
        lab = cnt.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("node", "label")
      }
      materialize(lab)
    }

  /** simEdges body with an injectable block cap (HotKeySpec plants a
    * hot block at a small cap); `docs` needs (doc_id, source, lang,
    * n_chars). */
  private[graft] def simEdgesCapped(docs: DataFrame, blockCap: Int): DataFrame = {
    val blocks = graft.operators.HotKeys.dropOverCap(
      docs.select(col("doc_id").as("u"),
          concat_ws("|", lit("s"), col("source"),
            call_function("div", col("n_chars"), lit(100L))).as("bk"))
        .union(docs.select(col("doc_id").as("u"),
          concat_ws("|", lit("l"), col("lang"),
            call_function("div", col("n_chars"), lit(50L))).as("bk"))),
      Seq("bk"), blockCap)
    blocks.join(blocks.withColumnRenamed("u", "v"), "bk")
      .filter(col("u") < col("v"))
      .select("u", "v").distinct()
      // not persisted HERE (spec fixtures call this body directly and
      // uncached); the query-facing `simEdges` wrapper caches the result
      // once per (session, dir) in the family memo above
  }

  /** Per-node triangle counts over the similarity graph — the local
    * clustering signal (a doc in a dense near-dup neighborhood sits in
    * many triangles; a bridge doc in few). The standard two-join
    * enumeration on canonical u<v<w edges: edges⋈edges extends each
    * wedge, edges⋈wedges closes it — every step an equi-join on node
    * keys, output-sensitive in the wedge count (per-block degree is
    * occupancy-bounded, so no quadratic blowup; the same shape runs
    * compact-first at 100 TB by counting within LSH buckets). */
  def graphTriangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = simEdges(s, dir)
    val wedges = e.as("a").join(e.as("b"), col("a.v") === col("b.u"))
      .select(col("a.u").as("x"), col("a.v").as("y"), col("b.v").as("z"))
    val tri = wedges.join(e.as("c"),
      col("x") === col("c.u") && col("z") === col("c.v"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), col("node"))
      .limit(25)
  }

  /** BFS hop histogram from a seed set (doc_id ≡ 0 mod 101): how much
    * of the similarity graph is within 3 hops of the seeds — the
    * contamination-radius readout (if a benchmark doc seeds the graph,
    * hop k is the k-th ring of transitively-similar docs). Three
    * unrolled frontier rounds over the weight-0-SELF-LOOP adjacency
    * (`saltedSymAdjBfs`): each round is `min(hop + w)` — real edges
    * (w=1) advance the frontier, the self-loop (w=0) carries each
    * node's own hop forward, so the `reached ∪ propagated` union (and
    * its per-round cache: the union referenced the frontier twice and
    * doubled the plan each round) disappears. Linear lineage, ONE job.
    * Hub salting as everywhere (min map-side combines). Unreached
    * nodes report hop −1 via the final left join, never traffic in the
    * rounds. */
  def graphBfsHops(s: SparkSession, dir: String): DataFrame = {
    val sadj = saltedSymAdjBfs(s, dir)
    val nodes = symNodes(s, dir)
    var reach = nodes.filter(col("node") % 101 === 0)
      .select(col("node"), lit(0L).as("hop"))
    for (_ <- 1 to 3) {
      reach = sadj.propagate(reach)
        .select(col("node"), (col("hop") + col("w")).as("hop"))
        .groupBy("node").agg(min("hop").as("hop"))
    }
    nodes.join(reach, Seq("node"), "left")
      .select(coalesce(col("hop"), lit(-1L)).as("hops"))
      .groupBy("hops").agg(count(lit(1)).as("n_nodes"))
      .orderBy("hops")
  }

  /** Connected components of the similarity graph through
    * `operators.Components.minLabel` (driver union-find below one loop
    * partition of edges, else the hub-salted min-label fixpoint) over
    * the graph family's own edge set, not just the dedup graph. The
    * bounded read behind that choice is the `symAdjRows` memo, done
    * once per session, not per call. Per
    * component: size and max member. The oracle mirrors the fixpoint
    * with a recursive CTE — label propagation to a fixpoint is exactly
    * transitive reachability to the minimum member. Runs to
    * convergence, unlike the fixed-round pagerank/LPA/BFS siblings. */
  def graphComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = symAdj(s, dir)
      .select(col("u").as("src"), col("v").as("dst"))
    graft.operators.Components.minLabel(edges, symAdjRows(s, dir))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), max("node").as("max_node"))
      .select(col("label").as("component"), col("n_nodes"), col("max_node"))
      .orderBy("component")
  }

  /** Degree distribution + neighbor-degree mass of the similarity
    * graph: per degree value, how many nodes have it and the total
    * degree mass of their neighborhoods (the assortativity numerator)
    * — all exact integers. One degree aggregate, one adjacency⋈degree
    * join to attach neighbor degrees, two rollups; every shuffle keyed
    * on node or degree. The histogram is the first thing to read
    * before running LPA/PageRank at scale — a power-law tail predicts
    * hot keys. */
  def graphDegreeStats(s: SparkSession, dir: String): DataFrame = {
    val adj = symAdj(s, dir)
    val deg = symDeg(s, dir)
    val nbrMass = adj.join(deg.withColumnRenamed("u", "v").withColumnRenamed("deg", "vdeg"), "v")
      .groupBy("u").agg(sum("vdeg").as("nbr_deg_sum"))
    deg.join(nbrMass, "u")
      .groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"), sum("nbr_deg_sum").as("nbr_deg_mass"))
      .orderBy("deg")
  }

  /** Synchronous label propagation (3 rounds) over the similarity
    * graph — community detection: every node starts as its own label
    * and each round adopts the MAJORITY label among its neighbors
    * (count desc, label asc tiebreak — fully deterministic, no
    * async/ordering dependence). Per round: one adjacency⋈labels
    * equi-join, one (node, label) count, one per-node top-1 window —
    * all shuffles keyed on node, nothing global. The loop itself lives
    * in the memoized `lpaLabels` (graph_modularity scores the same
    * communities, so both queries read one computation); the fixed
    * round count keeps the oracle expressible as three chained CTEs. */
  def graphLabelPropagation(s: SparkSession, dir: String): DataFrame =
    lpaLabels(s, dir).orderBy("node")

  /** Neighbor-set Jaccard similarity — the classic link-prediction /
    * entity-resolution score over the similarity graph: for node pairs
    * sharing ≥ 2 neighbors, |N(a)∩N(b)| / |N(a)∪N(b)| via one WEDGE
    * join (adjacency ⋈ adjacency on the shared neighbor) and a degree
    * join — set arithmetic as relational algebra, no per-node set
    * materialization.
    *
    * Scale: the wedge join is keyed on the SHARED neighbor, so a hub
    * with degree d contributes d² wedges — the quadratic hazard of this
    * op — and the adjacency is therefore capped per wedge-center
    * (`HotKeys.dropOverCap` on the neighbor key) before the self-join,
    * the same discipline as every candidate-generation join in the
    * repo. Common-neighbor counts and degrees are exact integers;
    * Jaccard is the half-up integer ratio. Output is the top-50
    * fully-ordered pairs — deterministic under the (jaccard, a, b)
    * total order. */
  def graphJaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    // symmetric adjacency (a, n): a is the endpoint, n the neighbor;
    // capped on the WEDGE CENTER n — a hub center would emit deg²
    // wedge rows into the self-join below
    val adj = graft.operators.GraftCaches.register(
      graft.operators.HotKeys.dropOverCap(
        symAdj(s, dir).select(col("u").as("a"), col("v").as("n")),
        Seq("n"), graft.operators.HotKeys.DefaultCap)
      .persist())
    val deg = adj.groupBy("a").agg(count(lit(1)).as("deg"))
    val common = adj.select(col("a"), col("n"))
      .join(adj.select(col("a").as("b"), col("n")), "n")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= 2)
    common
      .join(deg, "a")
      .join(deg.select(col("a").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("deg").as("deg_a"), col("deg_b"), col("n_common"),
        Num.ratio(col("n_common"), col("deg") + col("deg_b") - col("n_common"), 4).as("jaccard"))
      .orderBy(desc("jaccard"), col("a"), col("b"))
      .limit(50)
  }

  /** Modularity of the LPA communities — the quality score for
    * `graph_label_propagation`'s output, in EXACT integers: per
    * community c, the directed within-edges in_c and degree mass d_c,
    * and the modularity contribution (2m·in_c − d_c²)/(2m)² as a
    * signed half-up ratio (sign split out, `ts_autocorrelation`
    * style). Σ contributions = Newman's Q; communities worse than the
    * random-graph null show negative rows — the readout that tells
    * you whether 3 LPA rounds actually found structure.
    *
    * Scale: two label-attach equi-joins over the adjacency (node-
    * keyed), map-combined censuses to |communities| rows, and the
    * single-row 2m total via broadcast — nothing beyond the LPA
    * rounds themselves. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val adj = symAdj(s, dir)
    val lab = lpaLabels(s, dir).select(col("node"), col("label"))
    // SINGLE pass over the labeled adjacency: per community, degree mass
    // AND within-edges from one map-side-combined aggregate (count_if on
    // the label match) — the earlier three-readers-of-a-persisted-frame
    // form scanned the labeled edges three times; this one scans once
    // and persists only the |communities|-sized census (referenced
    // twice: rows + the 2m total).
    val withLabels = adj
      .join(lab.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lv")), "v")
    val cens = graft.operators.GraftCaches.register(
      withLabels.groupBy(col("lu").as("community"))
        .agg(count(lit(1)).as("deg_sum"),
          count_if(col("lu") === col("lv")).as("in_edges"))
        .persist())
    val twoM = cens.agg(sum("deg_sum").as("twom"))
    val nodesC = lab.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val num = col("twom") * col("in_edges") - col("deg_sum") * col("deg_sum")
    nodesC
      .join(cens, "community")
      .crossJoin(broadcast(twoM))
      .select(col("community"), col("n_nodes"), col("in_edges"), col("deg_sum"),
        (when(num < 0, -1.0).otherwise(1.0) *
          Num.ratio(abs(num), col("twom") * col("twom"), 6)).as("q_contrib"))
      .orderBy("community")
  }

  /** ONE synchronous Louvain local-move sweep over the LPA
    * communities — the community-detection family's QUALITY-IMPROVING
    * member next to LPA's label-adopting one: for every node, the
    * modularity gain of moving it from its current community into each
    * NEIGHBORING community, and the argmax move if any gain is
    * positive. The gain is `graph_modularity`'s exact-integer algebra
    * applied to a single move — ΔQ·2m² = 2m·(k_{i,c} − k_{i,cur}) −
    * k_i·(tot_c − (tot_cur − k_i)) with k_{i,c} = edges from i into c
    * and tot_c = community degree mass — so the scaled gain is a
    * BIGINT, never a float, and the (gain DESC, community ASC) argmax
    * is fully deterministic. Output: one row per MOVED node (positive
    * best gain) with the move and its sufficient statistics; an empty
    * community never appears because candidates are neighbor
    * communities by construction. Evaluated synchronously against the
    * frozen LPA state (every node sees the same censuses), the
    * standard parallel-Louvain sweep — the sequential variant's
    * in-pass census updates are inherently serial and belong to a
    * driver loop, not a 1000-executor plan.
    *
    * Scale: k_{i,c} is ONE adjacency⋈labels equi-join + a
    * map-combined (node, community) census; tot is |communities|
    * rows; 2m is a broadcast single row. Everything shuffles on node
    * or community keys — the same shapes as the LPA rounds
    * themselves, nothing quadratic. */
  def graphLouvainOneLevel(s: SparkSession, dir: String): DataFrame =
    louvainMoves(s, dir)
      .select(col("node"), col("cur").as("from_community"),
        col("c").as("to_community"), col("deg").as("k_i"),
        col("k_icur"), col("k_ic").as("k_to"), col("gain_scaled"))
      .orderBy("node")

  /** The sweep's positive-gain argmax moves — shared by the readout
    * (`graphLouvainOneLevel`) and the applier (`graphLouvainApply`).
    * Columns: node, cur, c (target), deg, k_icur, k_ic, gain_scaled. */
  private[graft] def louvainMoves(s: SparkSession, dir: String): DataFrame =
    louvainMovesOn(symAdj(s, dir), lpaLabels(s, dir),
      symDeg(s, dir).select(col("u").as("node"), col("deg")))

  /** The sweep body on EXPLICIT frames — shared by the (session, dir)
    * queries above and the scale probe (`tools.ProbeGraphScale`), which
    * runs the identical code on an UNCAPPED multi-million-edge graph:
    * the community-keyed censuses here are the one shuffle shape the
    * node-keyed loops never exercise, so they get their own at-scale
    * timing. `adj` is the symmetric adjacency (u, v); `degN` its degree
    * census as (node, deg). */
  private[graft] def louvainMovesOn(adj: DataFrame, lab: DataFrame, degN: DataFrame): DataFrame = {
    val tot = lab.join(degN, "node")
      .groupBy(col("label").as("c")).agg(sum("deg").as("tot"))
    val twoM = degN.agg(sum("deg").as("twom"))
    // edges from each node into each neighboring community: adjacency
    // with the NEIGHBOR's community attached, counted per (node, c)
    val kic = adj
      .join(lab.select(col("node").as("v"), col("label").as("c")), "v")
      .groupBy(col("u").as("node"), col("c"))
      .agg(count(lit(1)).as("k_ic"))
    // k_{i,cur} (edges into the node's OWN community, 0 when no
    // neighbor shares it) via a whole-partition window over the SAME
    // node key the census and the argmax already shuffle on — a
    // filter+self-join formulation costs an extra aggregate, join and
    // a second read of the census (measured ~2× this query's time at
    // toy SF, and an extra node-keyed shuffle at any SF)
    val wNode = org.apache.spark.sql.expressions.Window.partitionBy("node")
    kic.join(lab.select(col("node"), col("label").as("cur")), "node")
      .withColumn("k_icur", coalesce(
        max(when(col("c") === col("cur"), col("k_ic"))).over(wNode), lit(0L)))
      .filter(col("c") =!= col("cur"))
      .join(degN, "node")
      .join(tot, "c")
      .join(tot.select(col("c").as("cur"), col("tot").as("tot_cur")), "cur")
      .crossJoin(broadcast(twoM))
      .withColumn("gain_scaled",
        col("twom") * (col("k_ic") - col("k_icur")) -
          col("deg") * (col("tot") - col("tot_cur") + col("deg")))
      .withColumn("rn", row_number().over(
        wNode.orderBy(desc("gain_scaled"), col("c"))))
      .filter(col("rn") === 1 && col("gain_scaled") > 0)
  }

  /** APPLY the Louvain sweep and settle the question the per-move gains
    * cannot answer alone: did the PARALLEL sweep actually improve
    * modularity? Each gain is exact for a move in isolation, but the
    * synchronous sweep applies all moves at once and simultaneous moves
    * interact (two nodes moving into each other's communities double-
    * count the freed mass), so Q_after ≥ Q_before is NOT guaranteed by
    * construction — this query measures it instead of assuming it.
    * Output: ONE row, all BIGINT — n_moved, 2m, and the exact
    * modularity NUMERATORS Q·(2m)² = 2m·Σin_c − Σd_c² for the LPA
    * partition and the post-move partition, plus the improved verdict
    * (no ratio ever materializes: same denominator (2m)² on both
    * sides, so the integer comparison IS the modularity comparison).
    * Headroom: 2m·in ≤ (2m)², ~1.7×10¹⁴ at the 13M-directed-edge probe
    * graph, BIGINT-safe to ~3×10⁹ directed edges.
    *
    * Scale: the moves reuse `louvainMoves` (node/community-keyed
    * equi-joins); each Q numerator is one labeled-adjacency pass
    * map-combined to a |communities| census then a single-row
    * aggregate — two corpus-free passes over the shared cached
    * adjacency, nothing quadratic. */
  def graphLouvainApply(s: SparkSession, dir: String): DataFrame =
    // level-1 sweeps 0/1 of the family-shared dendrogram trace: sweep
    // 1's labeling IS the LPA seed with this query's argmax moves
    // applied (level 1 runs the identical sweep body), so q_before /
    // q_after are exactly those sweeps' Q numerators, n_moved is sweep
    // 1's move count, and the verdict compares the same two BIGINTs
    // the standalone two-census form compared
    louvainTrace(s, dir)
      .filter(col("level") === 1 && col("sweep") <= 1)
      .agg(
        max(when(col("sweep") === 1, col("n_moved"))).as("n_moved"),
        max("twom").as("twom"),
        max(when(col("sweep") === 0, col("q_num"))).as("q_before_num"),
        max(when(col("sweep") === 1, col("q_num"))).as("q_after_num"))
      .select(col("n_moved"), col("twom"),
        col("q_before_num"), col("q_after_num"),
        (col("q_after_num") > col("q_before_num")).as("improved"))

  /** LOUVAIN TO FIXPOINT — the family's convergence member: re-run the
    * synchronous local-move sweep on each post-move partition until a
    * sweep moves NOTHING (the real Louvain level-1 stopping rule),
    * hard-capped at 4 sweeps (the `graph_pagerank_converged` bounded-
    * action convention — parallel sweeps can oscillate, and the cap is
    * loudly flagged in `converged` rather than looped past). Output:
    * the per-sweep TRACE — one row per executed sweep with the move
    * count and the exact modularity numerator Q·(2m)² of the partition
    * AFTER that sweep (sweep 0 = the LPA seed, n_moved 0 by fiat) plus
    * the global converged flag. All BIGINT: gains, censuses and Q share
    * `graph_modularity`'s integer algebra, so the move sets — and
    * therefore the whole trace — are bit-identical in both engines, and
    * the oracle's 4-sweep unroll with a running "all previous sweeps
    * moved" filter selects exactly the rows this loop executes. A
    * zero-move terminal sweep re-reads the previous partition's census
    * (its labeling IS the previous labeling), so the trace's last two
    * q_num values coincide exactly at convergence.
    *
    * Execution: per sweep, ONE bounded count action on the checkpointed
    * moves frame decides continuation (the move chain carries broadcast
    * subtrees — `localCheckpoint`, not persist, per the measured
    * ~1.1 s/action broadcast re-prep of cached plans); the per-sweep Q
    * censuses all evaluate in ONE final action over the checkpointed
    * labelings (≤5 single-row union branches). Everything shuffles on
    * node/community keys over the family-shared adjacency cache —
    * nothing quadratic, nothing corpus-sized on the driver. */
  def graphLouvainConverged(s: SparkSession, dir: String): DataFrame =
    // the level-1 rows of the family-shared dendrogram trace: the
    // weighted sweep and Q census at w ≡ 1 are bit-identical to the
    // unweighted forms (sum(w) = count(1) edge for edge)
    louvainTrace(s, dir).filter(col("level") === 1)
      .select(col("sweep"), col("n_moved"), col("twom"), col("q_num"),
        col("converged"))
      .orderBy("sweep")

  /** One FUSED sweep step (round 16): the moves argmax `(node, c)` and
    * the label update ride ONE checkpoint job, and the move count is read
    * off that job with `Dataset.observe` instead of a second action.
    * Returns the new labeling and the number of nodes that moved. */
  private def sweepStep(lab: DataFrame, moves: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val next = materialize(
      lab.join(moves.select(col("node"), col("c").as("to_c")), Seq("node"), "left")
        .select(col("node"), coalesce(col("to_c"), col("label")).as("label"),
          col("to_c").isNotNull.as("moved"))
        .observe(obs, coalesce(sum(when(col("moved"), 1L)), lit(0L)).as("m")),
      checkpoint = true)
    (next.select("node", "label"), obs.get("m").asInstanceOf[Number].longValue)
  }

  /** LANDMARK BETWEENNESS — Brandes' dependency accumulation from the
    * landmark sample (the `graph_landmark_distance` sources, node %
    * 151), bounded at 4 hops: forward BFS layers carry each node's
    * SHORTEST-PATH COUNT σ (σ(v) = Σ σ(u) over predecessors — exact
    * BIGINT), then the backward pass accumulates the dependency
    * δ(v) = Σ_{w succ} σ(v)/σ(w)·(1+δ(w)) layer by layer. The ratio is
    * the one non-integer in Brandes; it lands as a PER-TERM micro-floor
    * — term = ⌊σ_v·(10⁶ + δ_w^micro)/σ_w⌋ — the `graph_adamic_adar`
    * discipline: identical integer division on both engines, order-free
    * summation, bit-stable output. Betweenness(v) = Σ over landmarks of
    * δ^micro, top 25 under (score DESC, node ASC). Landmark sampling +
    * a hop cap is the standard way betweenness survives scale (exact
    * Brandes is O(V·E) — a week at 100 TB); the 4-hop truncation is the
    * family's bounded-round convention, loud in the name.
    *
    * Scale: each forward layer is one adjacency equi-join + map-combined
    * (node, lm) sum + an anti-join against the reached set; each
    * backward layer one equi-join + per-term div + map-combined sum.
    * Per-node state is ≤ |landmarks| rows; nothing corpus-quadratic. */
  def graphBetweennessLandmark(s: SparkSession, dir: String): DataFrame = {
    val adj = symAdj(s, dir)
    val hops = 4
    var frontier = symNodes(s, dir).filter(col("node") % 151 === 0)
      .select(col("node"), col("node").as("lm"), lit(1L).as("sigma"))
    var reached = frontier
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    for (_ <- 1 to hops) {
      val nxt = materialize(
        adj.join(frontier.withColumnRenamed("node", "u"), "u")
          .groupBy(col("v").as("node"), col("lm"))
          .agg(sum("sigma").as("sigma"))
          .join(reached.select("node", "lm"), Seq("node", "lm"), "left_anti"),
        checkpoint = true)
      layers += nxt
      reached = materialize(reached.unionByName(nxt), checkpoint = true)
      frontier = nxt
    }
    // backward: δ = 0 at the horizon layer, accumulate inward
    var delta = layers(hops).select(col("node"), col("lm"), lit(0L).as("delta_micro"))
    val perLayer = scala.collection.mutable.ArrayBuffer[DataFrame](delta)
    for (d <- (hops - 1) to 1 by -1) {
      val succ = layers(d + 1).join(delta, Seq("node", "lm"))
        .select(col("node").as("v"), col("lm"),
          col("sigma").as("sw"), col("delta_micro").as("dw"))
      val terms = adj.join(succ, "v")
        .select(col("u").as("node"), col("lm"), col("sw"), col("dw"))
        .join(layers(d).select("node", "lm", "sigma"), Seq("node", "lm"))
        .select(col("node"), col("lm"),
          call_function("div",
            col("sigma") * (lit(1000000L) + col("dw")), col("sw")).as("t"))
        .groupBy("node", "lm").agg(sum("t").as("delta_micro"))
      delta = materialize(
        layers(d).select("node", "lm")
          .join(terms, Seq("node", "lm"), "left")
          .select(col("node"), col("lm"),
            coalesce(col("delta_micro"), lit(0L)).as("delta_micro")),
        checkpoint = true)
      perLayer += delta
    }
    perLayer.reduce(_ unionByName _)
      .groupBy("node")
      .agg(count(lit(1)).as("n_landmark_pairs"), sum("delta_micro").as("bt_micro"))
      .orderBy(desc("bt_micro"), col("node"))
      .limit(25)
  }

  /** The WEIGHTED local-move sweep body — `louvainMovesOn` generalized
    * to a weighted adjacency (u, v, w) that may carry SELF-LOOPS, which
    * is exactly what community contraction produces: a super-node's
    * internal mass becomes a self-loop whose weight moves with it and
    * therefore cancels out of every gain difference. Accordingly k_ic /
    * k_icur EXCLUDE self-loop rows (links to OTHER members only), while
    * deg and tot INCLUDE them (the node's full mass occupies its
    * community) — the standard weighted-Louvain convention. With w ≡ 1
    * and a loop-free adjacency this reduces bit-for-bit to the
    * unweighted sibling (sum(w) = count). Same integer gain algebra:
    * gain·(2m)² is BIGINT throughout, bounded by (2m)². */
  private[graft] def louvainMovesWeightedOn(adjW: DataFrame, lab: DataFrame,
      degN: DataFrame): DataFrame = {
    val tot = lab.join(degN, "node")
      .groupBy(col("label").as("c")).agg(sum("deg").as("tot"))
    val twoM = degN.agg(sum("deg").as("twom"))
    val kic = adjW.filter(col("u") =!= col("v"))
      .join(lab.select(col("node").as("v"), col("label").as("c")), "v")
      .groupBy(col("u").as("node"), col("c"))
      .agg(sum("w").as("k_ic"))
    val wNode = org.apache.spark.sql.expressions.Window.partitionBy("node")
    kic.join(lab.select(col("node"), col("label").as("cur")), "node")
      .withColumn("k_icur", coalesce(
        max(when(col("c") === col("cur"), col("k_ic"))).over(wNode), lit(0L)))
      .filter(col("c") =!= col("cur"))
      .join(degN, "node")
      .join(tot, "c")
      .join(tot.select(col("c").as("cur"), col("tot").as("tot_cur")), "cur")
      .crossJoin(broadcast(twoM))
      .withColumn("gain_scaled",
        col("twom") * (col("k_ic") - col("k_icur")) -
          col("deg") * (col("tot") - col("tot_cur") + col("deg")))
      .withColumn("rn", row_number().over(
        wNode.orderBy(desc("gain_scaled"), col("c"))))
      .filter(col("rn") === 1 && col("gain_scaled") > 0)
  }

  /** One level's sweep-to-fixpoint trace over a weighted adjacency:
    * runs `louvainMovesWeightedOn` sweeps (cap `maxSweeps`, zero-move
    * early exit — the `graphLouvainConverged` discipline: one bounded
    * count per sweep on a localCheckpoint'ed moves frame), returning
    * (per-sweep Q-trace rows, terminal labeling, converged). Each trace
    * row carries the exact modularity numerator Q·(2m)² = 2m·Σin_c −
    * Σd_c² of the partition AFTER that sweep, computed on THIS level's
    * adjacency — for a contracted graph that equals the original-graph
    * Q of the induced partition (contraction preserves Q), which is
    * what makes the two-level trace one monotone story. */
  /** FUSED per-level Q-census trace (round 16 — extends the round-15
    * level-1 fusion to every level): ONE sweep-tagged pass over the
    * level's adjacency instead of one two-join census per sweep — the
    * per-sweep labelings union (tagged by sweep), the adjacency is
    * joined once per side, and the (sweep, community) census rolls up
    * to the per-sweep (level, sweep, n_moved, twom, q_num, converged)
    * rows. Values are identical to the per-sweep `weightedQRow` form
    * this replaces (same joins, same algebra, grouped by one more
    * key); at any scale this is 2 adjacency shuffles per LEVEL instead
    * of 2 × |sweeps|. A zero-move terminal sweep contributes the
    * previous labeling under its own sweep tag — exactly the repeated
    * census row the unfused form emitted. */
  private def fusedLevelTrace(s: SparkSession, adjW: DataFrame,
      steps: Seq[(Int, Long, DataFrame)], level: Int, conv: Boolean): DataFrame = {
    val labAll = steps.map { case (sw, _, lab) =>
      lab.select(lit(sw.toLong).as("sweep"), col("node"), col("label"))
    }.reduce(_ unionByName _)
    val cens = adjW
      .join(labAll.select(col("sweep"), col("node").as("u"), col("label").as("lu")), "u")
      .join(labAll.select(col("sweep"), col("node").as("v"), col("label").as("lv")),
        Seq("v", "sweep"))
      .groupBy("sweep", "lu")
      .agg(sum("w").as("deg_sum"),
        sum(when(col("lu") === col("lv"), col("w")).otherwise(lit(0L))).as("in_w"))
      .groupBy("sweep")
      .agg(sum("deg_sum").as("twom"), sum("in_w").as("in_tot"),
        sum(col("deg_sum") * col("deg_sum")).as("sq"))
    val movesDf = {
      import s.implicits._
      steps.map { case (sw, n, _) => (sw.toLong, n) }.toDF("sweep", "n_moved")
    }
    cens.join(broadcast(movesDf), "sweep")
      .select(lit(level.toLong).as("level"), col("sweep"), col("n_moved"), col("twom"),
        (col("twom") * col("in_tot") - col("sq")).as("q_num"))
      .withColumn("converged", lit(conv))
  }

  /** One level's sweep-to-fixpoint loop: per-sweep (sweep, n_moved,
    * labeling-after-sweep) steps — step 0 is `lab0` — plus the terminal
    * labeling, converged flag and total move count. The per-sweep Q
    * censuses are NOT built here (round 16): `fusedLevelTrace` rolls
    * them all into one sweep-tagged pass per level. Each sweep is one
    * `sweepStep`. */
  private def louvainLevelSteps(adjW: DataFrame, degN: DataFrame, lab0: DataFrame,
      maxSweeps: Int): (Seq[(Int, Long, DataFrame)], DataFrame, Boolean, Long) = {
    var lab = lab0
    val steps = scala.collection.mutable.ArrayBuffer[(Int, Long, DataFrame)]((0, 0L, lab))
    var sweep = 0
    var zeroMoves = false
    var totalMoves = 0L
    while (!zeroMoves && sweep < maxSweeps) {
      sweep += 1
      val (lab2, n) = sweepStep(lab, louvainMovesWeightedOn(adjW, lab, degN))
      totalMoves += n
      if (n == 0L) { zeroMoves = true; steps += ((sweep, 0L, lab)) }
      else {
        lab = lab2
        steps += ((sweep, n, lab))
      }
    }
    (steps.toSeq, lab, zeroMoves, totalMoves)
  }

  /** TWO-LEVEL LOUVAIN — real Louvain's recursion step on top of the
    * level-1 fixpoint (`graph_louvain_converged`): once level-1 sweeps
    * move nothing (or hit the cap), CONTRACT each community to a
    * super-node — inter-community edge weights aggregated, internal
    * edges becoming weighted self-loops — and re-run the sweep on the
    * contracted graph. Output: the full two-level TRACE — one row per
    * executed sweep per level with move count and the exact modularity
    * numerator Q·(2m)² of the partition after that sweep, plus each
    * level's converged flag. The contracted Q uses the contracted
    * weights, so level 2's sweep-0 row equals level 1's terminal row
    * EXACTLY (contraction preserves Q — a visible cross-level
    * invariant), and every subsequent level-2 row can only raise q_num.
    * All BIGINT end to end; both engines replay identical sweeps, so
    * the trace is hash-exact.
    *
    * Scale: the contraction is ONE community-keyed aggregation over the
    * family-shared adjacency cache — the same shuffle shape as the
    * modularity census, probed at 26.6M edges by `ProbeGraphScale`.
    * Everything after it runs on the contracted graph (|communities|
    * rows — orders of magnitude smaller; Louvain's whole scaling story
    * is that each level shrinks the graph). Driver actions stay
    * bounded: ≤ 4 counts per level, Q censuses compose into the final
    * action. */
  def graphLouvainTwoLevel(s: SparkSession, dir: String): DataFrame =
    // the level ≤ 2 prefix of the family-shared dendrogram trace — the
    // two-level run IS the dendrogram's first recursion step verbatim
    // (same contraction, same louvainLevelTrace(…, 2, 4) sweep), so the
    // rows are bit-identical to the standalone form this replaced
    louvainTrace(s, dir).filter(col("level") <= 2).orderBy("level", "sweep")

  /** FULL LOUVAIN DENDROGRAM — the recursion `graph_louvain_two_level`
    * stops after one step, run to ITS OWN stopping rule (the round-14
    * verdict's depth item): contract the terminal partition, sweep the
    * contracted graph to fixpoint, and RECURSE — until a level's
    * sweeps move nothing or the depth cap (4 levels) lands. "A level
    * that moves nothing" IS the "Q gain < 1 micro-unit" rule in exact
    * integers: within a level every applied sweep strictly raises the
    * BIGINT numerator Q·(2m)² and contraction preserves it, so zero
    * moves ⟺ zero gain — no float epsilon, and the stopping decision
    * rides the move counts the sweep loop ALREADY collects (no extra
    * driver actions). Output: one row per executed sweep per level
    * (level, sweep, n_moved, 2m, Q·(2m)², per-level converged) — the
    * dendrogram trace, with each level's sweep-0 row equal to the
    * previous level's terminal row exactly. The terminal level is
    * emitted with its zero-move sweep, documenting the bottom.
    *
    * Scale: each recursion step is ONE community-keyed contraction
    * aggregation over the previous level's adjacency — and Louvain's
    * whole scaling story is that each level SHRINKS the graph by the
    * community count, so level k ≥ 2 runs on frames orders of
    * magnitude below the corpus (level 1 sweeps the family-shared
    * adjacency itself; the contraction shuffle shape is probed at
    * 26.6M edges by `ProbeGraphScale`). Driver actions stay ≤ 4 counts
    * per level, depth-capped. */
  def graphLouvainDendrogram(s: SparkSession, dir: String): DataFrame =
    louvainTrace(s, dir).orderBy("level", "sweep")

  /** The (session, dir)-memoized FULL dendrogram trace (level, sweep,
    * n_moved, twom, q_num, converged) — the family's one level/sweep
    * story, from which four graded readouts derive (round-15
    * optimization):
    *   - `graph_louvain_dendrogram` = the whole trace;
    *   - `graph_louvain_two_level`  = the level ≤ 2 prefix (its level-2
    *     run is the dendrogram's level-2 run verbatim: same contraction,
    *     same `louvainLevelTrace(…, 2, 4)` call);
    *   - `graph_louvain_converged`  = the level-1 rows (the weighted Q
    *     census at w ≡ 1 is bit-identical to the unweighted form:
    *     sum(w) = count);
    *   - `graph_louvain_apply`      = level-1 sweeps 0/1 (q_before/
    *     q_after are exactly those sweeps' Q numerators and n_moved is
    *     sweep 1's move count).
    * Each query previously re-executed its own per-sweep Q censuses
    * over the full adjacency (~5 two-join passes per query per bench
    * pass) plus, for the deeper pair, the contraction and sweep loops.
    * The trace is ≤ ~20 rows, materialized, so the readouts are
    * O(1); outputs are bit-identical (pinned by the oracle rows). */
  private[graft] def louvainTrace(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "louvainTrace") {
      val maxLevels = 4
      // The whole build — each level's sweeps, contraction and fused
      // census, and the final ≤20-row trace count — runs in a cloned
      // session at a shuffle width DERIVED FROM THE MEASURED EDGE COUNT
      // (the sweep loop's ~25 eager tiny-frame actions paid session-width
      // task waves otherwise; 47k edges → 1 partition locally, a
      // billion-edge graph → edges/RowsPerPartition). AQE stays ON: it
      // was tried off both with default-stats views (+4 s — every sweep
      // join went sort-merge) and with measured-stats views (level 1
      // 2.8 → 3.9 s) — its runtime sizing earns more than its per-stage
      // re-plan costs on these frames. Integer algebra throughout, so
      // every frame is partitioning-invariant.
      val adj = symAdj(s, dir)
      val deg1 = symDeg(s, dir).select(col("u").as("node"), col("deg"))
      val lab1 = lpaLabels(s, dir)
      withConfs(s, "spark.sql.shuffle.partitions" ->
          graft.operators.Components.loopWidth(adj.count()).toString) { c =>
        // level 1 is the weighted sweep at w ≡ 1 on the loop-free
        // adjacency, which reduces bit-for-bit to the unweighted one
        val adj1 = inSession(c, adj).withColumn("w", lit(1L))
        val (steps, lab1End, conv1, _) =
          louvainLevelSteps(adj1, inSession(c, deg1), inSession(c, lab1), 4)
        // per-level FUSED Q censuses (`fusedLevelTrace`): 2 adjacency
        // shuffles per level instead of 2 × |sweeps|
        var trace: Seq[DataFrame] = Seq(fusedLevelTrace(c, adj1, steps, 1, conv1))
        var curAdj = adj1
        var curLab = lab1End
        var level = 1
        var movedLastLevel = true
        while (movedLastLevel && level < maxLevels) {
          level += 1
          val cadj = materialize(
            curAdj.join(curLab.select(col("node").as("u"), col("label").as("cu")), "u")
              .join(curLab.select(col("node").as("v"), col("label").as("cv")), "v")
              .groupBy(col("cu").as("u"), col("cv").as("v"))
              .agg(sum("w").as("w")),
            checkpoint = true)
          val cdeg = cadj.groupBy(col("u").as("node")).agg(sum("w").as("deg"))
          val cl0 = cdeg.select(col("node"), col("node").as("label"))
          val (st, lab, conv, moves) = louvainLevelSteps(cadj, cdeg, cl0, 4)
          trace = trace :+ fusedLevelTrace(c, cadj, st, level, conv)
          curAdj = cadj
          curLab = lab
          movedLastLevel = moves > 0L
        }
        inSession(s, materialize(trace.reduce(_ union _)))
      }
    }

  /** Degree-mixing co-moments — the assortativity readout as EXACT
    * integers: over every directed edge of the similarity graph, the
    * endpoint-degree co-moment table (n, Σx, Σy, Σxy, Σx², Σy² with
    * x = source degree, y = target degree). The Pearson r these yield
    * needs a sqrt, so the engine emits the integer sufficient
    * statistics and leaves the one float to the reader — the same
    * emit-the-moments discipline as `agg_regression`. Positive mixing
    * (hubs link hubs) predicts hot-key pressure in every downstream
    * graph loop; this is the cheap pre-flight before LPA/PageRank at
    * scale, next to `graph_degree_stats`' histogram.
    *
    * Scale: one degree aggregate, two broadcast-sized joins keyed on
    * the endpoints, one single-row co-moment aggregate — every shuffle
    * keyed on node id, output is one row. */
  def graphDegreeMixing(s: SparkSession, dir: String): DataFrame = {
    val adj = symAdj(s, dir)
    val deg = symDeg(s, dir)
    adj
      .join(deg, "u")
      .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), "v")
      .agg(
        count(lit(1)).as("n_edges"),
        sum("deg").as("sum_x"), sum("deg_v").as("sum_y"),
        sum(col("deg") * col("deg_v")).as("sum_xy"),
        sum(col("deg") * col("deg")).as("sum_x2"),
        sum(col("deg_v") * col("deg_v")).as("sum_y2"))
  }

  /** Bounded k-core peel (k=3, 3 rounds) of the similarity graph — the
    * dense-core extractor: each round drops every node with degree < 3
    * and the edges that touched it, so peripheral chains and bridge
    * docs fall away and the near-dup clique cores remain. Three rounds
    * is the bounded-round convention of the pagerank/LPA/BFS siblings
    * (keeps the oracle three chained CTEs; full convergence is the
    * `Components.minLabel`-style loop with this round as the body).
    * Output: the surviving nodes' in-core degrees, top-50 under the
    * (degree, node) total order.
    *
    * Scale: `kPeel` dispatches on the `symAdjRows` memo, the
    * `Components.boundedRows` read of `symAdj` that `graphComponents`
    * also uses, done once per session, not per call. An adjacency of
    * fewer than `2 · RowsPerPartition` rows — one loop partition;
    * `symAdj` has 8,688 rows at sf0.01 and 47,450 at sf0.1 — is
    * peeled on the driver, where the loop spent three rounds of serial
    * one-task jobs on it. Larger adjacencies run the distributed peel
    * (`kPeelLoop`): each round is one map-side-combined degree census,
    * persisted (≤|V| rows), and one action that reads |nodes| and
    * |alive| from it; the next adjacency is the BASE adjacency behind
    * two semi joins on the latest alive set, so the big frame is never
    * shuffled or cached again and the whole peel is one tiny-set job per
    * round. Both paths stop at the exact fixpoint: a
    * round that drops no node proves every later round identity, so a
    * graph whose 3-core stabilizes in round one pays one census, not
    * three. */
  def graphKCore(s: SparkSession, dir: String): DataFrame =
    kPeel(symAdj(s, dir), k = 3, rounds = 3, symAdjRows(s, dir))
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(desc("core_deg"), col("node"))
      .limit(50)

  /** The shared k-peel (rounds bounded, fixpoint early-exit): the
    * surviving `(u, v)` rows of the base adjacency `adj0` after `rounds`
    * peels at threshold `k`. Each round counts every node's degree (its
    * rows as `u`) over the current rows, keeps the nodes of degree
    * ≥ `k`, and keeps the BASE rows whose two endpoints are both kept;
    * it stops after `rounds` rounds or at the first round that drops no
    * node. `bounded` is `Components.boundedRows(adj0.select("u", "v"))`,
    * read by the caller: its rows (fewer than one loop partition) peel
    * on the driver ([[driverPeel]]) and come back as a local frame; on
    * `None` [[kPeelLoop]] runs. Both return `adj0`'s own `(u, v)`
    * schema. */
  private[graft] def kPeel(adj0: DataFrame, k: Int, rounds: Int,
      bounded: Option[Array[Row]]): DataFrame = {
    val uv = adj0.select("u", "v")
    bounded match {
      case Some(rows) => adj0.sparkSession.createDataFrame(
        java.util.Arrays.asList(driverPeel(rows, k, rounds): _*), uv.schema)
      case None => kPeelLoop(uv, k, rounds)
    }
  }

  /** `kPeel`'s rounds over collected `(u, v)` rows, on the driver. */
  private[graft] def driverPeel(base: Array[Row], k: Int, rounds: Int): Array[Row] = {
    var rows = base
    var r = 0
    var fixed = false
    while (r < rounds && !fixed) {
      val deg = rows.groupMapReduce(_.get(0))(_ => 1L)(_ + _)
      val alive = deg.collect { case (u, d) if d >= k => u }.toSet
      if (alive.size == deg.size) fixed = true
      // a null endpoint never matches the loop's semi joins
      else rows = base.filter(row => !row.isNullAt(0) && !row.isNullAt(1) &&
        alive(row.get(0)) && alive(row.get(1)))
      r += 1
    }
    rows
  }

  /** `kPeel`'s distributed peel, for adjacencies of at least one loop
    * partition; `private[graft]` so specs can run it at any size.
    *
    * Each round persists the degree census `(u, deg)` (≤|V| rows) and
    * reads |nodes(adj)| and |alive| (`deg ≥ k`) with ONE action, which
    * also materializes the census; `nAlive == nNodes` is the exact
    * fixpoint test (no node dropped, so every later round is identity).
    * Alive sets are NESTED (alive_{r+1} ⊆ alive_r: degrees only shrink
    * under peeling), which buys two things: (1) each round's adjacency
    * derives from the BASE adjacency filtered by only the LATEST alive
    * set — one pair of semi filters regardless of round number,
    * bit-identical to chaining all rounds' filters; and (2) the
    * superseded census is UNPERSISTED the moment the next round's
    * action materializes (no later plan references it), so a peel holds
    * at most ONE small cached frame at a time. The final census is the
    * only one the returned plan still reads; it stays persisted under
    * the documented lazy-frame convention and is registered with
    * `GraftCaches` so `SparkEntry.releaseCaches()` reclaims it.
    *
    * Broadcast discipline: `nAlive` is measured anyway, so the semi
    * joins take the `broadcast()` hint only when the alive set is
    * provably small (`bcastCap` rows — node ids only, so the cap bounds
    * the build at ~tens of MB, far inside the 8 GB driver broadcast
    * limit). Above the cap the hint is OMITTED and the joins plan as
    * shuffled semi joins on `u`/`v`. An unconditional hint would be a
    * scale killer: Spark honors explicit broadcast hints regardless of
    * size (AQE demotes only ESTIMATED broadcasts, never hinted ones), so
    * a billion-node alive set would OOM the driver rather than degrade.
    * `bcastCap` is a parameter so specs can pin the degraded shape
    * without a billion-row fixture. */
  private[graft] def kPeelLoop(adj0: DataFrame, k: Int, rounds: Int,
      bcastCap: Long = 4000000L): DataFrame = {
    var adj = adj0
    var prev: DataFrame = null
    var r = 0
    var fixed = false
    while (r < rounds && !fixed) {
      val census = adj.groupBy("u").agg(count(lit(1)).as("deg")).persist()
      val c = census.agg(count(lit(1)), count_if(col("deg") >= k)).head()
      val (nNodes, nAlive) = (c.getLong(0), c.getLong(1))
      if (nAlive == nNodes) {
        census.unpersist(blocking = false) // identity round: adj unchanged, frame unused
        fixed = true                       // (prev stays cached — adj still reads it)
      } else {
        if (prev != null) prev.unpersist(blocking = false) // superseded (nested sets)
        val alive = census.filter(col("deg") >= k).select("u")
        val hint = (df: DataFrame) => if (nAlive <= bcastCap) broadcast(df) else df
        adj = adj0.join(hint(alive), Seq("u"), "left_semi")
          .join(hint(alive.withColumnRenamed("u", "v")), Seq("v"), "left_semi")
          .select("u", "v")
        prev = census
      }
      r += 1
    }
    if (prev != null) graft.operators.GraftCaches.register(prev)
    adj
  }

  /** Bounded core decomposition — each node's CORE NUMBER truncated at
    * 4 (`least(coreness, 4)`), the standard graph-density ranking
    * behind community seeding and influence models; `graph_k_core`
    * extracts one shell, this labels them all, and the k ≤ 4 cap keeps
    * the readout the ≤ 4-row SHELL HISTOGRAM (per level: node count +
    * id range) the sibling always reported.
    *
    * History (round 14): through round 13 this ran FOUR independent
    * k-peels (k = 1..4, 4 rounds each) — up to 16 eager driver actions
    * per invocation, whose per-action scheduling overhead amplified
    * super-linearly under host contention (11.8 s at sf0.1 on a
    * contended host vs 3.4 s quiet, on unchanged code). The labels now
    * derive from the SAME synchronous h-index iteration that powers
    * `graph_core_full` (`hIndexEstimates`, one statically-planned
    * action, linear lineage): the 12-round estimate IS the coreness on
    * any graph where the iteration has converged (verified by
    * `graph_core_full`'s loud `converged` verdict on this graph), and
    * the readout truncates it with `least(est, 4)`. The oracle computes
    * the identical 12-round unroll truncated the same way, so the gate
    * stays bit-exact WITHOUT convergence assumptions: both engines
    * histogram the same deterministic round-12 integers. Since round
    * 15 the output also CARRIES the convergence verdict (`converged`,
    * prev-sum == fin-sum — the `graph_core_full` flag), so a graph the
    * 12 rounds don't settle reads as an estimate, loudly, in this
    * query's own contract.
    *
    * Scale: exactly `graph_core_full`'s cost envelope — 12 equi-join +
    * bounded-window rounds over the family-shared adjacency cache, no
    * per-round driver actions, no broadcasts of data-sized frames. */
  /** The (session, dir)-memoized 12-round h-index estimate pair —
    * `graph_core_decomposition` (k ≤ 4 truncated histogram) and
    * `graph_core_full` (full histogram) both read the identical
    * iteration; the 12-round join chain now runs once per session
    * instead of once per consumer (round-15 optimization). */
  private def hIndexShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoized(s, dir, "hIndex12")(hIndexEstimates(symAdj(s, dir), 12))

  def graphCoreDecomposition(s: SparkSession, dir: String): DataFrame = {
    val (prev, fin) = hIndexShared(s, dir)
    // the same loud convergence verdict `graph_core_full` carries
    // (round-15 ADVICE find): least(est, 4) is only the TRUE bounded
    // coreness when the 12-round iteration has converged, and without
    // the flag in THIS query's own output a non-converged graph would
    // silently publish upper bounds as core numbers. Estimates are
    // monotone non-increasing, so equal sums ⟺ identical frames —
    // one scalar off each of the two already-persisted rounds.
    val flag = prev.agg(sum("est").as("sp"))
      .crossJoin(fin.agg(sum("est").as("sf")))
      .select((col("sp") === col("sf")).as("converged"))
    fin.groupBy(least(col("est"), lit(4L)).as("core_number"))
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .crossJoin(broadcast(flag))
      .orderBy("core_number")
  }

  /** FULL core decomposition — every node's true CORE NUMBER, vs the
    * sibling `graph_core_decomposition`'s bounded k ≤ 4 convention — by
    * synchronous NEIGHBORHOOD H-INDEX iteration (Lü et al. 2016, "The
    * H-index of a network node and its relation to degree and
    * coreness"): start each node's estimate at its degree; each round,
    * replace it with the h-index of its neighbors' estimates (the
    * largest h with ≥ h neighbors estimating ≥ h). Estimates decrease
    * monotonically and converge EXACTLY to coreness — the whole
    * decomposition without the peel's O(degeneracy) sequential levels.
    *
    * Why this shape and not the chained k-peel: the peel needs a
    * driver decision per round per level (which nodes died, is the
    * level empty) — ~100 tiny actions on this graph, pure scheduling.
    * The h-index round is OBLIVIOUS: join estimates to the adjacency,
    * rank each node's incoming estimates descending, take
    * max(least(est, rank)) — so R rounds compose into ONE lazy plan
    * with LINEAR lineage (each round references its predecessor
    * exactly once; contrast the pagerank round's double reference that
    * forces batched checkpoints) and the whole query is a single
    * action. Only the last round is referenced twice (histogram +
    * convergence sum), so only it and its predecessor persist.
    *
    * Rounds are capped at 12 with a loud `converged` verdict column,
    * computed identically in both engines: estimates are monotone
    * non-increasing per node, so round R == round R−1 ⟺ the estimate
    * SUMS match — one scalar from each of the two persisted frames,
    * and the oracle's bounded unroll tests the same two sums. On a
    * graph that defeats the cap the row fails loudly (converged =
    * false) instead of silently reporting upper bounds as cores.
    *
    * Scale: each round is an equi-join (estimates hash-partitioned on
    * node, adjacency on v) + a per-node window + a map-combined max —
    * corpus-linear, no broadcasts of data-sized frames, no driver
    * loops. The per-node window ranks only that node's ADJACENCY LIST;
    * degrees are pre-capped by the family's `HotKeys` blocking cap, so
    * no reducer sees an unbounded sorted run even on power-law
    * corpora. */
  def graphCoreFull(s: SparkSession, dir: String): DataFrame =
    coreFullReadout(hIndexShared(s, dir))

  /** The h-index decomposition over an arbitrary symmetric adjacency —
    * the engine core of `graphCoreFull`, parameterized so specs can
    * drive graphs the contract graph never produces (a long path
    * defeats any fixed round cap and must surface `converged = false`
    * loudly, never truncated estimates passed off as cores). */
  private[graft] def coreFullOn(adj: DataFrame, rounds: Int): DataFrame =
    coreFullReadout(hIndexEstimates(adj, rounds))

  private def coreFullReadout(prevFin: (DataFrame, DataFrame)): DataFrame = {
    val (prev, fin) = prevFin
    // monotone non-increasing estimates: equal sums ⟺ identical frames
    val flag = prev.agg(sum("est").as("sp"))
      .crossJoin(fin.agg(sum("est").as("sf")))
      .select((col("sp") === col("sf")).as("converged"))
    fin.groupBy(col("est").as("core_number"))
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .crossJoin(broadcast(flag))
      .orderBy("core_number")
  }

  /** The synchronous h-index iteration (engine core of
    * `graph_core_full` and `graph_core_decomposition`): returns the
    * round-(R−1) and round-R estimate frames, both materialized.
    * Estimates start at degree; each round becomes the h-index of the
    * neighbors' estimates.
    *
    * The eager materialization runs with AQE off at `loopWidth` of the
    * adjacency rows (the graphPagerankConverged discipline): the R-round
    * chain is then two statically-planned jobs (rounds 1..R−1, then
    * round R over them) instead of ~3R per-exchange adaptive re-plans —
    * measured 3.5 → 1.5 s warm at sf0.1. Safe on results: the h-index is
    * a function of each node's neighbor-estimate MULTISET (rank ties
    * carry equal ce values), so the integer estimates are
    * partitioning-invariant. The chain is planned in a cloned session
    * (`Bridge.withConfs`) and both frames come back planned in the
    * caller's. */
  private[graft] def hIndexEstimates(adjIn: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val s = adjIn.sparkSession
    val width = graft.operators.Components.loopWidth(adjIn.count())
    withConfs(s, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> width.toString) { c =>
      val adj = inSession(c, adjIn)
      def hRound(est: DataFrame): DataFrame =
        adj.join(est.select(col("node").as("v"), col("est").as("ce")), "v")
          .select(col("u"), col("ce"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("u").orderBy(desc("ce"))))
          .groupBy("u").agg(max(least(col("ce"), col("rn").cast("long"))).as("est"))
          .select(col("u").as("node"), col("est"))
      val est0 = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("est"))
      val prev = materialize((1 until rounds).foldLeft(est0)((e, _) => hRound(e)))
      (inSession(s, prev), inSession(s, materialize(hRound(prev))))
    }
  }

  /** HITS hubs-and-authorities (2 full rounds, unnormalized integer
    * form) over the DIRECTED similarity graph — edges point canonical
    * u→v (u < v), so "authority" rewards docs cited by many low-id
    * hubs and "hub" rewards docs fanning into strong authorities. The
    * classic normalized HITS divides by vector norms each round —
    * float division the hash gate can't carry; the UNNORMALIZED
    * iterate is scale-equivalent (normalization only rescales, never
    * reorders) and stays in exact BIGINT: h₀ = 1, a₁ = in-degree,
    * h₁ = Σ a₁(out), a₂ = Σ h₁(in), h₂ = Σ a₂(out). Growth is bounded
    * by deg⁴ ≤ HotKeys-cap⁴ ≈ 2.8·10¹⁴ — inside BIGINT by four orders
    * at the 4096 cap.
    *
    * Scale: four equi-join + map-combined-sum half-steps over the
    * family's cached canonical edge list, each keyed on a node column,
    * LINEAR lineage (each half-step references its predecessor once).
    * The final attach is two left joins on the node dimension. */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val e = simEdges(s, dir)
    val nodes = symNodes(s, dir)
    val a1 = e.groupBy("v").agg(count(lit(1)).as("a"))
    val h1 = e.join(a1, "v").groupBy("u").agg(sum("a").as("h"))
    // a2 feeds BOTH the h2 half-step and the final attach — persisted
    // (|nodes| rows) so the 3-join chain above it runs once
    val a2 = graft.operators.GraftCaches.register(
      e.join(h1, "u").groupBy("v").agg(sum("h").as("a")).persist())
    val h2 = e.join(a2, "v").groupBy("u").agg(sum("a").as("h"))
    nodes
      .join(a2.withColumnRenamed("v", "node"), Seq("node"), "left")
      .join(h2.withColumnRenamed("u", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("authority"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .orderBy(desc("authority"), desc("hub"), col("node"))
      .limit(25)
  }

  /** Deterministic random-walk sampling (the DeepWalk/node2vec corpus
    * generator): from every 17th node, a 4-step walk whose step-t
    * choice is the neighbor minimizing md5(walker:t:neighbor) — md5 as
    * the seeded RNG, so the "random" walks are bit-identical in both
    * engines AND at any parallelism (the same no-rand() discipline as
    * llm_hash_split). Output: the visit census (visits, distinct
    * walkers) over all walk positions — the co-occurrence signal an
    * embedding trainer consumes.
    *
    * Scale: each step is one adjacency equi-join + a per-walker top-1
    * window over that walker's CURRENT neighborhood (degree-bounded by
    * the family's HotKeys cap); walker state is one row each. Steps
    * are checkpointed (`materialize`) — the step body references its
    * predecessor twice (extend + census union), the k^r logical-plan
    * growth the BPE loop taught (docs/PLANS.md). */
  def graphRandomWalk(s: SparkSession, dir: String): DataFrame =
    uniformWalkVisits(s, dir)
      .groupBy("node")
      .agg(count(lit(1)).as("n_visits"),
        count_distinct(col("walker")).as("n_walkers"))
      .orderBy(desc("n_visits"), col("node"))
      .limit(25)

  /** The shared uniform-walk visit stream (walker, node, step) —
    * `graph_random_walk` censuses it, `graph_walk_skipgram` pairs it
    * (private[graft] so the spec can replay the pairing). */
  private[graft] def uniformWalkVisits(s: SparkSession, dir: String): DataFrame =
    // (session, dir)-memoized: `graph_random_walk` and
    // `graph_walk_skipgram` both read the identical 4-step uniform walk
    // stream; the eager per-step checkpoint loop runs once per session
    // (round-15 optimization; the `louvainTrace` family-memo discipline).
    memoized(s, dir, "uniformWalk") { uniformWalkBuild(s, dir) }

  private def uniformWalkBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = symAdj(s, dir)
    var cur = symNodes(s, dir).filter(col("node") % 17 === 0)
      .select(col("node").as("walker"), col("node"))
    var acc = materialize(cur.withColumn("step", lit(0L)), checkpoint = true)
    for (t <- 1 to 4) {
      val w = Window.partitionBy("walker").orderBy("h", "v")
      cur = materialize(
        cur.join(adj.withColumnRenamed("u", "node"), "node")
          .select(col("walker"), col("v"),
            md5(concat_ws(":", col("walker"), lit(t), col("v"))).as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("walker"), col("v").as("node")),
        checkpoint = true)
      acc = acc.union(cur.withColumn("step", lit(t.toLong)))
    }
    acc
  }

  /** Skip-gram co-occurrence census — the actual DeepWalk TRAINING
    * CORPUS the walks exist to feed: for every walk, all ordered
    * (center, context) node pairs within the ±2-step window (the
    * word2vec window over the walk "sentence"), counted corpus-wide.
    * `graph_random_walk` emits where walks GO; this emits what an
    * embedding trainer actually consumes, closing the walk→embedding
    * pipeline.
    *
    * Scale: the visit stream is walker-keyed with ≤ 5 rows per walker,
    * so the walker-keyed self-join fans out ≤ 20 ordered pairs per
    * walker (window ±2 over a 5-stop walk) — walker-linear, then one
    * map-combined (a, b) census + TakeOrdered. */
  def graphWalkSkipgram(s: SparkSession, dir: String): DataFrame =
    skipgramCensus(uniformWalkVisits(s, dir))

  /** The node2vec training corpus proper: the same ±2-window skip-gram
    * census over the p/q-BIASED walks — pairs from `graph_walk_skipgram`
    * read the graph's first-order structure, these read the
    * depth/breadth mix the bias dials in (the actual input difference
    * an embedding trained on node2vec vs DeepWalk sees). Same
    * walker-linear shape. */
  def graphNode2vecSkipgram(s: SparkSession, dir: String): DataFrame =
    skipgramCensus(node2vecWalkShared(s, dir))

  /** The (session, dir)-memoized biased-walk visit stream —
    * `graph_node2vec_biased` (visit census) and
    * `graph_node2vec_skipgram` (training-pair census) both read the
    * identical 4-step p/q walk; the driver-action-heavy step loop (one
    * eager localCheckpoint per step) now runs once per session instead
    * of once per consumer (round-15 optimization; the `louvainTrace`
    * family-memo discipline). */
  private def node2vecWalkShared(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "node2vecWalk") {
      node2vecWalkOn(symAdj(s, dir),
        symNodes(s, dir).filter(col("node") % 17 === 0).select(col("node")), 4)
    }

  /** ±2-step-window ordered (center, context) pair census over a
    * (walker, node, step) visit stream — shared by both walk flavors. */
  private def skipgramCensus(v: DataFrame): DataFrame =
    // shuffle_hash: sort-merge would sort BOTH visit streams just to
    // zip 5-row walker buckets — hashing one side skips the sorts and
    // stays walker-partitioned at any graph size
    v.select(col("walker"), col("node").as("a"), col("step").as("sa"))
      .join(v.select(col("walker"), col("node").as("b"), col("step").as("sb"))
        .hint("shuffle_hash"), "walker")
      .filter(abs(col("sa") - col("sb")) <= 2 && col("sa") =!= col("sb"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), col("a"), col("b"))
      .limit(25)

  /** node2vec p/q-BIASED walk (Grover & Leskovec 2016) — the second-
    * order walk that interpolates BFS-like and DFS-like exploration:
    * from every 17th node, 4 steps where the candidate weight depends
    * on the PREVIOUS node (threaded through the step state as one
    * extra column): return to prev → 1/p, to a common neighbor of prev
    * (distance 1) → 1, elsewhere (distance 2) → 1/q. p=4, q=2, so the
    * ×4-scaled weights are the exact integers {1, 4, 2}. The draw is
    * exact integer WEIGHTED sampling: one md5 draw per (walker, step)
    * reduced mod the walker's total candidate weight, then the first
    * candidate (in node order) whose cumulative weight exceeds the
    * draw — inverse-CDF over integers, so both engines and any
    * parallelism pick the same neighbor (no float, no rand()). Output:
    * the visit census, comparable side-by-side with the unbiased
    * `graph_random_walk`.
    *
    * Scale: per step, ONE adjacency equi-join (candidates, Σdeg rows),
    * ONE (prev, v) equi-join against the edge list for the distance-1
    * marker (output candidate-linear), and two per-walker windows
    * (cumulative weight + top-1) over each walker's degree-bounded
    * neighborhood. Steps are checkpointed (`materialize`) — the step body is
    * multiply-referenced (extend + census union), the k^r lineage rule
    * (docs/PLANS.md). */
  def graphNode2vecBiased(s: SparkSession, dir: String): DataFrame =
    node2vecWalkShared(s, dir)
      .groupBy("node")
      .agg(count(lit(1)).as("n_visits"),
        count_distinct(col("walker")).as("n_walkers"))
      .orderBy(desc("n_visits"), col("node"))
      .limit(25)

  /** The biased-walk engine over an arbitrary symmetric adjacency —
    * parameterized so specs can replay hand-computed walks (crafted
    * weights, known md5 draws) that the contract graph never isolates.
    * Returns every visit (walker, node, step). */
  private[graft] def node2vecWalkOn(adj: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (prev, v)-keyed edge marker for the distance-1 weight class
    val nbr = adj.select(col("u").as("p_u"), col("v").as("p_v"), lit(1).as("is_nbr"))
    // step-0 state: prev ≡ node (no self-loops exist, so v === prev is
    // never true and every candidate is a neighbor of "prev" — the
    // first step degenerates to the uniform draw, as node2vec defines)
    var cur = starts
      .select(col("node").as("walker"), col("node").as("prev"), col("node"))
    var acc = materialize(
      cur.select(col("walker"), col("node")).withColumn("step", lit(0L)), checkpoint = true)
    for (t <- 1 to steps) {
      val byWalker = Window.partitionBy("walker").orderBy("v")
      val cum = byWalker.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cur = materialize(
        cur.join(adj.withColumnRenamed("u", "node"), "node")
          .join(nbr, col("prev") === col("p_u") && col("v") === col("p_v"), "left")
          .withColumn("wt",
            when(col("v") === col("prev"), lit(1L))       // return, 1/p ×4
              .when(col("is_nbr").isNotNull, lit(4L))     // distance 1 ×4
              .otherwise(lit(2L)))                        // distance 2, 1/q ×4
          .withColumn("cw", sum("wt").over(cum))
          .withColumn("tot", sum("wt").over(Window.partitionBy("walker")))
          .withColumn("r",
            conv(substring(md5(concat_ws(":", col("walker"), lit(t), lit("n2v"))), 1, 15), 16, 10)
              .cast("long") % col("tot"))
          .filter(col("cw") > col("r"))
          .withColumn("rn", row_number().over(byWalker))
          .filter(col("rn") === 1)
          .select(col("walker"), col("node").as("prev"), col("v").as("node")),
        checkpoint = true)
      acc = acc.union(cur.select(col("walker"), col("node")).withColumn("step", lit(t.toLong)))
    }
    acc
  }

  /** Landmark (multi-source) BFS closeness — the scalable stand-in for
    * exact closeness centrality: distances from every node to a fixed
    * probe set of LANDMARKS (node ≡ 0 mod 151, ~8 at the graded graph)
    * out to 4 hops, folded into harmonic closeness
    * Σ_reached ⌊10⁶ / d⌋ (the harmonic form handles unreached
    * landmarks by simply omitting them — no ∞ to dodge). Exactly the
    * landmark-embedding trick production graph stacks use when
    * all-pairs BFS is off the table.
    *
    * Scale: the frame is (node, landmark, dist) — per-node state is
    * ≤ |landmarks| rows, NOT the graph; each round is one propagate
    * over the weight-0-self-loop salted adjacency (the `graphBfsHops`
    * linear-lineage layout) + one map-combined min, so the 4-round
    * unroll is a single lazy chain. Harmonic fold and top-k are one
    * aggregate + TakeOrdered. */
  def graphLandmarkDistance(s: SparkSession, dir: String): DataFrame =
    landmarkReach(s, dir).filter(col("dist") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(call_function("div", lit(1000000L), col("dist"))).as("closeness_micro"))
      .orderBy(desc("closeness_micro"), col("node"))
      .limit(25)

  /** EFFECTIVE-DIAMETER estimate from the landmark frame — the
    * "how far apart is this graph, really" readout next to
    * `graph_landmark_distance`'s per-node closeness: the hop histogram
    * of all (node, landmark) shortest distances out to 4 hops, its
    * cumulative reach share, and the standard 90th-percentile
    * effective diameter (smallest h with cum·10 ≥ total·9) flagged on
    * its row — the landmark-sample approximation production graph
    * stacks use when exact all-pairs hop distributions are off the
    * table (ANF/HyperBall territory; the landmark frame is the exact
    * small-sample special case). Same linear-lineage 4-round propagate
    * as the closeness query (per-node state ≤ |landmarks| rows); the
    * histogram windows run on ≤ 5 rows. All-integer cut ⇒ bit-stable
    * flag. */
  /** The (session, dir)-memoized 4-round landmark distance frame
    * (node, lm, dist) — `graph_landmark_distance` (closeness readout)
    * and `graph_effective_diameter` (hop histogram) both derive from
    * this identical multi-source BFS; the 4-round propagate over the
    * salted adjacency now runs once per session instead of once per
    * consumer (round-15 optimization; the `symAdj` family-memo
    * discipline). */
  private def landmarkReach(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "landmarkReach") {
      val sadj = saltedSymAdjBfs(s, dir)
      var reach = symNodes(s, dir).filter(col("node") % 151 === 0)
        .select(col("node"), col("node").as("lm"), lit(0L).as("dist"))
      for (_ <- 1 to 4) {
        reach = sadj.propagate(reach)
          .select(col("node"), col("lm"), (col("dist") + col("w")).as("dist"))
          .groupBy("node", "lm").agg(min("dist").as("dist"))
      }
      // materialized, not lazily persisted: the 4-round propagate's
      // logical plan is ~840 KB of formatted text and each consumer
      // action would re-plan it (driver-side) even on cache hits
      materialize(reach)
    }

  def graphEffectiveDiameter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = landmarkReach(s, dir).groupBy("dist").agg(count(lit(1)).as("n_pairs"))
    val one = lit(1)
    val cum = Window.partitionBy(one).orderBy("dist")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(one)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prev = Window.partitionBy(one).orderBy("dist")
    hist
      .withColumn("cum_pairs", sum("n_pairs").over(cum))
      .withColumn("total", sum("n_pairs").over(all))
      .select(col("dist"), col("n_pairs"), col("cum_pairs"),
        Num.ratio(col("cum_pairs"), col("total"), 4).as("reach_share"),
        (col("cum_pairs") * 10 >= col("total") * 9 &&
          coalesce(lag("cum_pairs", 1).over(prev), lit(0L)) * 10 < col("total") * 9)
          .as("is_eff_diameter"))
      .orderBy("dist")
  }

  /** Local clustering coefficient — how clique-like each doc's
    * neighborhood is (a near-dup family member sits at cc ≈ 1, a
    * bridge doc between two template families near 0): for every node
    * of degree ≥ 2, cc = 2·T(v) / (deg·(deg−1)) with T(v) the per-node
    * triangle count. INTEGER-EXACT: cc is reported in 1e-6 units via
    * one BIGINT floor-division, so the (cc, deg, node) top-25 order is
    * bit-stable at any parallelism. Triangle census is the same
    * two-equi-join wedge enumeration as `graphTriangleCount` (shared
    * canonical u<v edges, output-sensitive in the wedge count); degrees
    * come from the family's shared census. Scale: both joins key on
    * node ids and the blocking cap bounds per-node degree — no
    * all-pairs step anywhere (at 100 TB the same census runs per LSH
    * bucket, exactly like the triangle row). */
  def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = simEdges(s, dir)
    val deg = symDeg(s, dir)
    val wedges = e.as("a").join(e.as("b"), col("a.v") === col("b.u"))
      .select(col("a.u").as("x"), col("a.v").as("y"), col("b.v").as("z"))
    val tri = wedges.join(e.as("c"),
      col("x") === col("c.u") && col("z") === col("c.v"))
    val triPerNode = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("deg") >= 2)
      .select(col("u").as("node"), col("deg"))
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        call_function("div",
          coalesce(col("n_triangles"), lit(0L)) * lit(2000000L),
          col("deg") * (col("deg") - 1)).as("cc_micro"))
      .orderBy(desc("cc_micro"), desc("deg"), col("node"))
      .limit(25)
  }

  /** Adamic–Adar link prediction — the classic "which non-edges are
    * most likely missing links" score: for every non-adjacent pair
    * (x, z), Σ over common neighbors w of 1/ln(deg(w)) — a shared
    * RARE neighbor (low degree) is strong evidence, a shared hub is
    * weak. Candidate pairs are exactly the CENTERED wedges (one
    * self-join of the symmetric adjacency on the center node — never
    * all pairs; per-center fan-out is deg², bounded by the blocking
    * cap; at a power-law 100 TB graph the centers get the HotKeys cap
    * like every hub-quadratic step). Determinism: each term is
    * ⌊10⁶ / ln(deg_w)⌋ — ln of a BIGINT is the same IEEE double on
    * both engines and the floor lands it in integer micro-units, so
    * the Σ is an order-free BIGINT sum (deg_w ≥ 2 for any wedge
    * center, so ln > 0 always). Known edges drop via one anti-join on
    * the canonical edge list. */
  def graphAdamicAdar(s: SparkSession, dir: String): DataFrame =
    adamicAdarOn(simEdges(s, dir), symAdj(s, dir), symDeg(s, dir), 1024)

  /** `graph_adamic_adar` body with the CENTER-DEGREE CAP as a parameter.
    * Wedge enumeration is deg² PER CENTER, so one 10⁵-degree hub emits
    * 10¹⁰ candidate pairs — and a hub is precisely the center AA values
    * least (each of its pairs scores only 1/ln(deg)). The standard
    * production rule is therefore to drop super-hub centers outright:
    * the pairs lose their weakest term, the engine loses its only
    * quadratic blowup. Cap 1024 bounds any center at ~0.5M wedges and
    * is INERT at graded SF (degrees top out in the tens — the replay
    * spec proves output equality); `ProbeGraphScale` times the capped
    * form on the 13M-edge probe graph. */
  private[graft] def adamicAdarOn(e: DataFrame, adj: DataFrame,
      deg: DataFrame, centerCap: Int): DataFrame = {
    val centers = deg.filter(col("deg") <= centerCap)
      .select(col("u").as("w"), col("deg"))
    val cand = adj.select(col("u").as("w"), col("v").as("x"))
      .join(centers, "w")
      .join(adj.select(col("u").as("w"), col("v").as("z")), "w")
      .filter(col("x") < col("z"))
    val scored = cand
      .groupBy("x", "z")
      .agg(count(lit(1)).as("n_common"),
        sum(floor(lit(1000000.0) / log(col("deg").cast("double")))).as("aa_micro"))
    scored.join(e, scored("x") === e("u") && scored("z") === e("v"), "left_anti")
      .orderBy(desc("aa_micro"), col("x"), col("z"))
      .limit(25)
  }

  /** Personalized PageRank from a seed set (node ≡ 0 mod 101 — the BFS
    * family's contamination seeds): random-walk-with-restart importance
    * RELATIVE to the seeds, the score behind "expand this benchmark's
    * contamination neighborhood" and seed-biased graph sampling. Same
    * integer discipline as `graphPagerank` — ranks in 1e-6 units,
    * floor-divided contributions, damping 0.85 over 3 unrolled rounds —
    * but the teleport mass lands ONLY on seeds (seeds start at 10⁶,
    * everything else at 0), so mass decays with hop distance from the
    * seed set and untouched components stay at exactly 0 (filtered —
    * at 100 TB the frontier frame stays proportional to the reached
    * set, never the node universe). Shares the PageRank family's
    * cached single-blocking graph, hub-salted adjacency and degree
    * census. */
  def graphPersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val (sadj, deg, nodes) = prGraph(s, dir)
    val teleport = when(col("node") % 101 === 0, lit(150000L)).otherwise(lit(0L))
    var rank = nodes.select(col("node"),
      when(col("node") % 101 === 0, lit(1000000L)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to 3) {
      val contrib = sadj.propagate(
          rank.join(deg, "node")
            .select(col("node"), call_function("div", col("r"), col("deg")).as("c")))
        .groupBy("node").agg(sum("c").as("sc"))
      rank = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (teleport + call_function("div",
            lit(850L) * coalesce(col("sc"), lit(0L)), lit(1000L))).as("r"))
    }
    rank.filter(col("r") > 0)
      .join(deg, Seq("node"), "left")
      .select(col("node"), (col("node") % 101 === 0).as("is_seed"),
        coalesce(col("deg"), lit(0L)).as("n_neighbors"),
        col("r").as("ppr_micro"))
      .orderBy(desc("ppr_micro"), col("node"))
      .limit(25)
  }

  /** BIPARTITE PROJECTION — the graph-construction primitive behind
    * co-occurrence networks (suppliers sharing parts, authors sharing
    * papers, docs sharing n-grams): project the part–supplier bipartite
    * graph (distinct (part, supplier) incidences from lineitem) onto
    * suppliers, edge weight = number of shared parts. The projection's
    * classic scale bomb is the hot right-node — a part supplied by k
    * suppliers emits k² pairs — so parts above the occupancy cap (32)
    * are DROPPED before the self-join, the df-capped-postings
    * discipline every dedup-family join already applies (at 100 TB the
    * cap is what keeps the projection output-sensitive instead of
    * quadratic in the hottest key). Readout: the 50 heaviest co-supply
    * edges under the (weight desc, u, v) total order.
    *
    * Scale: distinct-incidence census → bounded-occupancy self-join →
    * pair-keyed count; the shuffle carries (part, supplier) ids and
    * capped pairs only. */
  def graphBipartiteProject(s: SparkSession, dir: String): DataFrame = {
    val inc = t(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sp"))
      .distinct()
    val occ = inc.groupBy("p").agg(count(lit(1)).as("occ"))
    // persist the capped incidence list (round-15): it feeds BOTH sides
    // of the projection self-join, and `inc` additionally feeds `occ` —
    // unpersisted, the lineitem scan + distinct shuffle ran up to four
    // times (the post-alias join sides do not reuse one exchange). The
    // cached frame is the DERIVED (part, supplier) edge list — ~0.1% of
    // lineitem — exactly the "compute the incidence once" posture a
    // bipartite projection runs at 100 TB.
    val kept = graft.operators.GraftCaches.register(
      inc.join(occ.filter(col("occ") <= 32), "p").persist())
    kept.select(col("p"), col("sp").as("u"))
      .join(kept.select(col("p"), col("sp").as("v")), "p")
      .filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("shared_parts"))
      .orderBy(desc("shared_parts"), col("u"), col("v"))
      .limit(50)
  }

  /** POWER-LAW DEGREE FIT — the diagnostic every dedup/graph deployment
    * reads before sizing its skew defenses (hub salting, hot-key caps):
    * is the degree distribution heavy-tailed, and how heavy? Two
    * standard estimators over the similarity graph's degree census:
    * (1) the discrete Hill/MLE exponent α̂ = 1 + n_tail / Σ ln(dᵢ /
    * (d_min − ½)) over the tail d ≥ d_min = 4 (Clauset–Shalizi–Newman
    * 2009 eq. 3.7), each distinct degree's ln() quantized to micro-nats
    * so the weighted sum is exact BIGINT in both engines; (2) the
    * log-log OLS slope of count vs degree over the full census (the
    * zipf-fit convention — biased but universally quoted). A Hill α
    * near 2 says hub mass dominates (worst case for fixed-bucket
    * plans); α > 3 says variance is finite and plain hash partitioning
    * holds.
    *
    * Scale: the degree census is ≤ max-degree rows — everything here
    * after the family-shared `symDeg` frame is bounded by the DISTINCT
    * degree count, not nodes or edges. */
  def graphPowerlawFit(s: SparkSession, dir: String): DataFrame = {
    val dMin = 4L
    val census = symDeg(s, dir).groupBy("deg").agg(count(lit(1)).as("cnt"))
    val lnq = round(log(col("deg").cast("double") / lit(dMin.toDouble - 0.5)) *
      1000000d).cast("long")
    val tail = census.filter(col("deg") >= dMin)
      .select(col("cnt"), (col("cnt") * lnq).as("term"), col("deg"))
      .agg(sum("cnt").as("n_tail"), sum("term").as("sum_ln_micro"),
        max("deg").as("max_degree"))
    val ols = census.agg(
      round(expr("regr_slope(ln(cnt), ln(deg))"), 4).as("ols_slope"),
      count(lit(1)).as("n_degrees"))
    tail.crossJoin(broadcast(ols))
      .select(lit(dMin).as("d_min"), col("n_tail"), col("sum_ln_micro"),
        (lit(1.0) + Num.ratio(col("n_tail") * 1000000L, col("sum_ln_micro"), 6))
          .as("alpha_hill"),
        col("max_degree"), col("ols_slope"), col("n_degrees"))
  }
}
