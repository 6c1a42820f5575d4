package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components by min-label propagation — the Pregel shape on
  * plain DataFrames (used by graph_components, llm_dedup_components,
  * llm_dedup_pipeline and geo_grid_dbscan; upstream need: dup GROUPS,
  * not just dup pairs, since A~B and B~C must collapse A,B,C).
  *
  * Engine choice (`minLabel`): a graph of fewer than
  * `2 · RowsPerPartition` edge rows — exactly the graph `loopWidth`
  * would run at width 1, so no parallelism is given up — is collected
  * by one bounded read and labelled on the driver by union-find
  * (`unionFind`). On such a graph the loop is pure scheduling: a 5-fold
  * batch is ~10 serial one-task stage jobs. The driver answer is the
  * EXACT fixpoint at any diameter, where the loop stops at its
  * `maxRounds` cap. Larger graphs run the distributed loop
  * (`labelLoop`) described below.
  *
  * Every node starts as its own label; each round labels flow across
  * edges and every node keeps the minimum seen; fixpoint in ≤ diameter
  * rounds. Labels only ever decrease, and each fold carries the node's
  * PREVIOUS label alongside the new one (recovered from the flagged
  * self-loop contribution inside the same aggregate), so convergence is
  * one `count(label < old)` scalar action per batch — it materializes
  * that batch's cache too, and detects the fixpoint on the batch's own
  * last fold with no signature history and no extra join.
  *
  * Scale discipline:
  *  - loop parallelism is sized to the MEASURED edge count, not the
  *    corpus (a few hundred edges → 1 partition; a billion → hundreds);
  *  - the edge set carries a self-loop per node, so each node's own
  *    label arrives through the SAME join that propagates neighbor
  *    labels. That removes the labels∪propagated union — the round plan
  *    references the previous labels exactly ONCE, so lineage grows
  *    LINEARLY per round. (The union form references labels twice and
  *    doubles the logical plan every round: 2^rounds tree nodes, and the
  *    driver dies stringifying/analyzing the plan long before any
  *    executor does work — observed as a hard hang at interval=1000.)
  *  - HUB SALTING (power-law hardening): real dup/similarity graphs are
  *    power-law — a handful of hub nodes carry degrees orders of
  *    magnitude above the median, and a hash partitioning on the join
  *    key lands a hub's ENTIRE adjacency in one shuffle partition: the
  *    per-round join and the downstream exchange both inherit a task as
  *    large as the biggest hub, no matter how many executors exist. AQE
  *    skew-split can't help here because the edges side is CACHED
  *    pre-partitioned (no fresh shuffle for OptimizeSkewedJoin to
  *    re-split). So the skew is handled ahead of time, the SkewJoin way:
  *    degrees are measured once at loop start; nodes above `hotDegree`
  *    form a (tiny, broadcast) hot set; hot edges get a deterministic
  *    salt from hashing `src` (no rand() — SURVEY §2.C rule 6) and the
  *    edge cache is partitioned on (dst, salt), spreading each hub over
  *    `salts` reducers; the labels side replicates ONLY hot nodes
  *    `salts`-fold per round (cold nodes ride with salt 0), so the
  *    per-round overhead is |hot|·salts extra tiny rows — nil by
  *    construction. The per-round aggregate relies on map-side partial
  *    aggregation (min is algebraic) to collapse a hub-as-src's degree
  *    before its rows cross the wire, then re-establishes frontier-width
  *    (node) partitioning for the next round's join. When the census
  *    finds NO hubs (the common case), the loop takes the original
  *    unsalted path — the hardening costs one degree aggregation and
  *    nothing per round.
  *  - every `checkpointEvery` rounds the new labels are
  *    `localCheckpoint`ed instead of cached: even linear lineage means
  *    the analyzer/optimizer re-walks an O(rounds²) tree at deep
  *    diameters (eventually a driver StackOverflow) though physical
  *    work per round is flat. Truncating lineage bounds the plan at
  *    `checkpointEvery` join layers. `localCheckpoint` (block-manager-
  *    backed) is the right flavor here: losing an executor merely
  *    recomputes from the last checkpoint, and the loop is driver-
  *    coordinated anyway; a durable `checkpoint()` to a checkpoint dir
  *    is the drop-in hardening for multi-hour jobs.
  */
object Components {

  /** Degree threshold above which a node counts as a hub and its edges
    * get salted. High enough that organic near-dup groups never trigger
    * it; low enough that a power-law tail is spread well before a single
    * reducer saturates. */
  val DefaultHotDegree = 100000L

  /** Salt fan-out for hub adjacencies: a hub's rows spread over this
    * many reducers; the labels side replicates each HOT node this many
    * times per round (cold nodes are untouched). */
  val DefaultSalts = 16

  /** Target edge rows per loop partition when sizing iterative joins. */
  val RowsPerPartition = 50000L

  /** Loop width for an iterative join over `rows` edge rows: derived
    * from the MEASURED row count alone — ~RowsPerPartition rows per
    * partition, so a billion-edge graph gets ~20k partitions and a
    * 300-edge frontier gets ONE, not one per core. Round 16 dropped the
    * old cluster-parallelism floor (r15 verdict task 2): a frontier
    * below RowsPerPartition·cores is per-task trivial by construction,
    * and padding it to core count just multiplied the per-round fixed
    * cost — measured as the 8-CPU bench beating the 32-CPU bench 4–8×
    * on the fixpoint loops (inverse scaling from pure task-wave
    * overhead). The `defaultParallelism` parameter is retained so the
    * sizing policy stays a unit-testable pure function and callers
    * don't churn; it no longer floors the width. */
  private[graft] def loopWidth(defaultParallelism: Int, rows: Long): Int =
    math.max(1L, rows / RowsPerPartition).toInt

  /** Edges annotated with a deterministic `_salt`: rows whose `dst` is
    * in `hot` (a small broadcastable frame with column `node`) get
    * hash(src) % salts; all other rows get salt 0. Exposed for
    * `ComponentsSpec`'s distribution assertions. */
  private[graft] def saltEdges(edges: DataFrame, hot: DataFrame, salts: Int): DataFrame =
    edges.join(broadcast(hot.select(col("node").as("dst"), lit(1).as("_hot"))),
        Seq("dst"), "left")
      .withColumn("_salt",
        when(col("_hot").isNotNull, pmod(xxhash64(col("src")), lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("_hot")

  /** (node, label) connected components of an UNDIRECTED edge list
    * given as both directions in `edges(src, dst)` with bigint node ids;
    * each node's label is its component's minimum node id. One bounded
    * collect reads at most `2 · RowsPerPartition` edge rows: fewer than
    * that is exactly the graph `loopWidth` sizes to ONE partition, which
    * the driver labels with [[unionFind]]; otherwise the rows are dropped
    * and the distributed [[labelLoop]] runs. */
  def minLabel(edges: DataFrame): DataFrame = {
    val cut = 2 * RowsPerPartition // the smallest edge count loopWidth splits
    val rows = edges.select("src", "dst").limit(cut.toInt).collect()
    if (rows.length < cut) unionFind(edges.sparkSession, rows)
    else labelLoop(edges)
  }

  /** Driver-side union-find over collected (src: bigint, dst: bigint)
    * rows. `find` is iterative with path halving (a long path must not
    * recurse through the driver stack), and the smaller root always wins
    * a union, so every label is its component's minimum node id: the
    * loop's fixpoint, reached exactly at any diameter. */
  private def unionFind(s: SparkSession, rows: Array[Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val gp = parent(p)
        parent(x) = gp
        x = gp
        p = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = parent.keys.toArray.map(k => Row(k, find(k)))
    s.createDataFrame(java.util.Arrays.asList(labels: _*), StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("label", LongType, nullable = false))))
  }

  /** The distributed min-label fixpoint over the same edge list
    * (`edges0(src, dst)`, both directions), at most `maxRounds` folds. */
  private[graft] def labelLoop(
      edges0: DataFrame,
      maxRounds: Int = 25,
      checkpointEvery: Int = 5,
      hotDegree: Long = DefaultHotDegree,
      salts: Int = DefaultSalts): DataFrame = {
    val cached0 = edges0.cache()
    // FUSED setup census (SaltedAdj-style): one aggregation action
    // yields both the total edge count (→ loop width) and the max
    // degree (→ hub presence) — the separate count() + hot-count()
    // actions cost two extra job rounds at every scale. The hot list
    // itself is a lazy filter over the cached census, read only when
    // salting is actually on.
    val degs = cached0.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("_d")).cache()
    val stats = degs.agg(
      coalesce(sum("_d"), lit(0L)), coalesce(max("_d"), lit(0L))).head
    val loopParts =
      loopWidth(edges0.sparkSession.sparkContext.defaultParallelism, stats.getLong(0))
    val nodes = cached0.select(col("src").as("node")).distinct()
    val hot = degs.filter(col("_d") > hotDegree).select("node")
    val useSalt = stats.getLong(1) > hotDegree
    // self-loop per node, FLAGGED (`_self`): the node's own label flows
    // through the join (no labels∪propagated union — keeps lineage
    // growth linear in rounds instead of 2^rounds), and because the
    // self-loop contribution IS the node's previous label, each fold can
    // emit (new label, previous label) side by side. Convergence then
    // reads directly off the batch's LAST fold — `count(label < old) ==
    // 0` ⟺ that fold changed nothing ⟺ fixpoint — with no signature
    // history, no recomputed branch, and in-batch detection: a
    // diameter-d graph converges in ⌈(d+1)/batch⌉ actions, not the
    // ⌈d/batch⌉+1 the cross-batch Σlabel signature compare needed.
    val withLoops = cached0.withColumn("_self", lit(0))
      .union(nodes.select(col("node").as("src"), col("node").as("dst"), lit(1).as("_self")))
    val edges =
      if (useSalt) saltEdges(withLoops, hot, salts)
        .repartition(loopParts, col("dst"), col("_salt")).cache()
      else withLoops.repartition(loopParts, col("dst")).cache()
    // eager materialize-then-drop-raw only pays when the raw edge cache
    // is big enough for double-caching to hurt; on a small graph the
    // extra count() action is one more round of pure job scheduling
    if (stats.getLong(0) >= RowsPerPartition * math.max(1, loopParts)) {
      edges.count() // materialize at loop width, then drop the raw cache
      cached0.unpersist()
    }
    var labels = nodes.repartition(loopParts, col("node"))
      .withColumn("label", col("node")).cache()
    // one min-label propagation step, as a pure plan transform. Output
    // schema (node, label, old): `old` is the node's own PREVIOUS label,
    // recovered from the flagged self-loop row inside the same aggregate
    // (max-of-one-row; every node has exactly one self-loop) — the
    // convergence readout rides the fold for free.
    def fold(lbl: DataFrame): DataFrame =
      if (useSalt) {
        // labels side: replicate HOT nodes over every salt so each salted
        // edge partition finds its match; cold nodes ride with salt 0.
        // Explicit (node, _salt) repartition co-partitions with the cached
        // edge layout, so the big side never reshuffles.
        val saltedLabels = lbl
          .select(col("node"), col("label"))
          .join(broadcast(hot.select(col("node"), lit(1).as("_h"))), Seq("node"), "left")
          .withColumn("_ss",
            when(col("_h").isNotNull, sequence(lit(0L), lit(salts.toLong - 1)))
              .otherwise(array(lit(0L))))
          .select(col("node"), col("label"), explode(col("_ss")).as("_salt"))
          .repartition(loopParts, col("node"), col("_salt"))
        edges
          .join(saltedLabels,
            edges("dst") === saltedLabels("node") && edges("_salt") === saltedLabels("_salt"))
          .select(edges("src").as("node"), col("label"), edges("_self"))
          // groupBy WITHOUT a pre-repartition: map-side partial min
          // collapses a hub-as-src's rows inside each input partition, so
          // the aggregate exchange carries ≤ |nodes| rows per partition —
          // the explicit pre-repartition form shipped a hub's raw degree
          // into one reducer
          .groupBy("node").agg(min("label").as("label"),
            max(when(col("_self") === 1, col("label"))).as("old"))
          // frontier-width partitioning for the next round's labels join
          .repartition(loopParts, col("node"))
      } else {
        val aggd = edges.join(lbl.select(col("node"), col("label")),
            edges("dst") === col("node"))
          .select(edges("src").as("node"), col("label"), edges("_self"))
          .groupBy("node").agg(min("label").as("label"),
            max(when(col("_self") === 1, col("label"))).as("old"))
        // the aggregate's own exchange already hash-partitions on node;
        // re-partition only when loop width differs from the session
        // shuffle width — at matching widths the extra exchange was one
        // full stage of pure scheduling PER FOLD
        if (loopParts == lbl.sparkSession.sessionState.conf.numShufflePartitions) aggd
        else aggd.repartition(loopParts, col("node"))
      }
    // BATCHED rounds: several folds chain as one plan between actions,
    // so the fixed per-round cost (job scheduling + cache materialize +
    // the convergence action — what actually dominates the loop at every
    // measured SF, the work per round being frontier-bounded) is paid
    // once per BATCH of label hops. Convergence reads the batch's LAST
    // fold directly: `count(label < old) == 0` ⟺ that fold changed
    // nothing ⟺ fixpoint (labels are monotone non-increasing). Detection
    // is IN-batch — a diameter-d graph pays ⌈(d+1)/batch⌉ actions and at
    // most batch−1 redundant folds; the earlier cross-batch Σlabel
    // signature compare needed two whole batches to agree. Batch size is
    // scheduling-aware: a graph small enough to fit one task's rows per
    // partition is pure per-job overhead → batch 5 (= checkpointEvery,
    // so lineage truncates once per batch); at scale a wasted fold is a
    // real edges⋈labels join → batch 2. Lineage stays linear — each fold
    // references the previous exactly once — and the checkpoint cadence
    // counts FOLDS so plan depth between truncations is bounded.
    val batch =
      if (stats.getLong(0) < RowsPerPartition * math.max(1, loopParts))
        math.min(5, checkpointEvery)
      else 2
    var folds = 0
    var converged = false
    while (!converged && folds < maxRounds) {
      val folded = Iterator.iterate(labels)(fold).drop(batch).next()
      folds += batch
      // one action per batch: materializes the batch AND reads the last
      // fold's change count (coalesce: an EMPTY edge set — legal, e.g.
      // a density filter that matched nothing — must read as converged,
      // not a null deref). On checkpoint batches the count rides the
      // eager checkpoint job as an observed metric (round 16 —
      // CollectMetrics fires on the localCheckpoint action; previously
      // the checkpoint AND the count each ran a job); on cache batches
      // the aggregate itself is the materializing action, as before.
      val chgMetric = coalesce(count(when(col("label") < col("old"), 1)), lit(0L))
      val (next, changed) =
        // truncate lineage whenever the batch crossed a multiple of
        // checkpointEvery folds (batch ≤ checkpointEvery by construction)
        if (folds % checkpointEvery < batch) {
          val obs = org.apache.spark.sql.Observation()
          val ck = folded.observe(obs, chgMetric.as("chg")).localCheckpoint(true)
          (ck, obs.get.apply("chg").asInstanceOf[Number].longValue)
        } else {
          val c = folded.cache()
          (c, c.agg(chgMetric).head.getLong(0))
        }
      labels.unpersist()
      labels = next
      converged = changed == 0L
    }
    edges.unpersist()
    degs.unpersist()
    cached0.unpersist() // no-op when the big-graph path dropped it early
    labels.select(col("node"), col("label"))
  }
}
