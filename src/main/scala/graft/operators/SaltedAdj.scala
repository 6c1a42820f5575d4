package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hub-salted adjacency for iterative graph loops — the one power-law
  * hardening every Pregel-shaped loop in the engine shares: connected
  * components (`Components.labelLoop`), pagerank, label propagation (LPA)
  * and BFS.
  *
  * All four loops run the same round shape: `adj(u, v) ⋈ values(node,
  * payload…)` on `u === node`, emitting `(v, payload…)` rows the caller
  * aggregates (min for components and BFS, sum for pagerank,
  * majority-count for LPA — all algebraic, so map-side partial
  * aggregation collapses fan-in before the wire). The scale hazard is
  * the JOIN side: a hash partitioning on `u` lands a hub's ENTIRE
  * adjacency in one shuffle partition, so the per-round join inherits a
  * task as large as the biggest hub no matter how many executors exist
  * — and AQE skew-split cannot help because the adjacency is CACHED
  * pre-partitioned (no fresh shuffle for OptimizeSkewedJoin to
  * re-split).
  *
  * Mitigation: a one-off degree
  * census finds nodes above `hotDegree`; hot-`u` edges get a
  * deterministic salt from `hash(v)` (no rand() — results must be
  * partition-count-invariant) and the cache is partitioned on
  * `(u, _salt)`, spreading each hub over `salts` reducers; the values
  * side replicates ONLY hot nodes `salts`-fold per round (cold nodes
  * ride with salt 0). When the census finds no hubs — the common case —
  * the loop takes the unsalted path and the hardening costs one census
  * aggregation and nothing per round.
  *
  * Loop width comes from `Components.loopWidth` (linear in the
  * MEASURED edge count — no core-count floor since round 16), and the
  * cached adjacency is partitioned AT that width on the join key, so
  * the per-round join reuses the cached layout and only the (small)
  * values side shuffles.
  */
final class SaltedAdj private (
    private[graft] val edges: DataFrame,
    hot: DataFrame,
    private[graft] val degs: DataFrame,
    salts: Int,
    private[graft] val useSalt: Boolean,
    private[graft] val width: Int) {

  /** One propagation round: rows `(node ← v, payload…, edge extras…)`
    * for every edge `(u, v)` whose `u` matched a `values(node, payload…)`
    * row. Any adjacency column beyond (u, v, _salt) — e.g. a per-edge
    * hop weight — rides along, so self-loop/weighted loops (BFS) share
    * this code path. The caller aggregates (the aggregate's map-side
    * combine is what collapses a hub-as-v's fan-in before the shuffle —
    * do NOT pre-repartition the result by node before aggregating). */
  def propagate(values: DataFrame): DataFrame = {
    val payload = values.columns.filterNot(_ == "node").toSeq
    val extras = edges.columns.filterNot(Set("u", "v", "_salt")).toSeq
    if (!useSalt) {
      val j = edges.join(values, edges("u") === values("node"))
      j.select(edges("v").as("node") +:
        (payload.map(values(_)) ++ extras.map(edges(_))): _*)
    } else {
      val sv = values
        .join(broadcast(hot.select(col("node"), lit(1).as("_h"))), Seq("node"), "left")
        .withColumn("_ss",
          when(col("_h").isNotNull, sequence(lit(0L), lit(salts.toLong - 1)))
            .otherwise(array(lit(0L))))
        .select(col("node") +: payload.map(col) :+ explode(col("_ss")).as("_salt"): _*)
        .repartition(width, col("node"), col("_salt"))
      edges.join(sv, edges("u") === sv("node") && edges("_salt") === sv("_salt"))
        .select(edges("v").as("node") +:
          (payload.map(sv(_)) ++ extras.map(edges(_))): _*)
    }
  }

  def unpersist(): Unit = {
    edges.unpersist()
    degs.unpersist()
  }

  /** Register both caches with [[GraftCaches]] (so
    * `SparkEntry.releaseCaches()` drops them); returns this. */
  def registered(): SaltedAdj = {
    GraftCaches.register(edges)
    GraftCaches.register(degs)
    this
  }
}

object SaltedAdj {

  /** Degree threshold above which a node counts as a hub and its edges
    * get salted. High enough that organic near-dup groups never trigger
    * it; low enough that a power-law tail is spread well before a single
    * reducer saturates. */
  val DefaultHotDegree = 100000L

  /** Salt fan-out for hub adjacencies: a hub's rows spread over this
    * many reducers; the values side replicates each HOT node this many
    * times per round (cold nodes are untouched). */
  val DefaultSalts = 16

  /** Build the salted, cached adjacency from `adj(u, v)` (undirected
    * graphs pass both directions). Materializes the cache (one census
    * pass + one count). */
  def apply(
      adj0: DataFrame,
      hotDegree: Long = DefaultHotDegree,
      salts: Int = DefaultSalts): SaltedAdj = {
    val adj = adj0.cache()
    // ONE census aggregation yields everything the setup needs: total
    // edge rows (Σ degree → loop width) and the max degree (hub
    // presence) come from one action; the hot list itself is a lazy
    // filter over the CACHED census, so no separate count job runs.
    // The census cache is one row per distinct u — small, and it backs
    // the per-round broadcast of the hot set when salting is on.
    val degs = adj.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("_d")).cache()
    val stats = degs.agg(
      coalesce(sum("_d"), lit(0L)), coalesce(max("_d"), lit(0L))).head
    val n = stats.getLong(0)
    val useSalt = stats.getLong(1) > hotDegree
    val width = Components.loopWidth(n)
    val hot = degs.filter(col("_d") > hotDegree).select("node")
    // Pre-partitioning the cached adjacency at loop width (so the
    // per-round join never re-exchanges the big side) costs a second
    // cache round-trip + one more job. That trade only pays when the
    // edge list is big enough for per-round exchanges to dominate —
    // below one RowsPerPartition the whole frame re-shuffles in
    // milliseconds and the fixed setup cost would dwarf the rounds
    // (measured ~2 s of pure overhead per graded graph query at toy
    // SF). Salted graphs always take the full path: the (u, _salt)
    // layout is what spreads a hub, and a graph with hubs is big.
    val prePartition = useSalt || n >= Components.RowsPerPartition
    val edges =
      if (useSalt)
        adj.join(broadcast(hot.select(col("node").as("u"), lit(1).as("_hot"))),
            Seq("u"), "left")
          .withColumn("_salt",
            when(col("_hot").isNotNull, pmod(xxhash64(col("v")), lit(salts.toLong)))
              .otherwise(lit(0L)))
          .drop("_hot")
          .repartition(width, col("u"), col("_salt")).cache()
      else if (prePartition) adj.repartition(width, col("u")).cache()
      else adj // already cached; stats above materialized it
    if (prePartition) {
      edges.count() // materialize at loop width, then drop the raw cache
      adj.unpersist()
    }
    new SaltedAdj(edges, hot, degs, salts, useSalt, width)
  }
}
