package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.Components

/** operators.Components: the driver union-find, the distributed
  * min-label fixpoint with lineage checkpointing, and the dispatch
  * between them, and the loop's cache lifecycle. The loop tests call
  * `labelLoop` directly: their fixtures are far below the dispatch cut,
  * so `minLabel` would label them on the driver. The path graph is the
  * adversarial diameter case — one label must crawl the whole chain, forcing enough rounds to cross
  * several localCheckpoint boundaries (the llm_dedup_components corpus
  * data converges in 2-3 rounds and never would). */
class ComponentsSpec extends GraftSpec {

  private def undirected(pairs: Seq[(Long, Long)]) = {
    import SparkSpecBase.spark.implicits._
    val e = pairs.toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def labelSet(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** minLabel answered from a driver-built local relation, not a Spark loop */
  private def onDriver(df: DataFrame) =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private val star = (1L to 20000L).map(h => (0L, h))
  // disjoint pairs converge in one fold, so the loop side stays cheap
  private def pairsFixture = undirected((0L until 49999L).map(i => (2 * i, 2 * i + 1)))
  private def atCutFixture = pairsFixture.union(undirected(Seq((200000L, 200001L))))
  private val hubFixture = star ++ (30000L until 30005L).map(i => (i, i + 1)) ++
    Seq((40000L, 40001L))
  private val pathFixture = (1L until 12L).map(i => (i, i + 1))
  private val chainsFixture = (1L until 8L).map(i => (i, i + 1)) ++
    (20L until 26L).map(i => (i, i + 1)) ++ Seq((100L, 101L))

  test("deep path graph converges across checkpoint boundaries") {
    // 12-node path: diameter 11 → ≥ 12 rounds → the every-5-rounds
    // localCheckpoint fires twice before the fixpoint
    val edges = undirected(pathFixture)
    val labels = Components.labelLoop(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 12)
    assert(labels.values.forall(_ == 1L), s"all nodes join component 1: $labels")
  }

  test("power-law hub graph: salted loop converges to the same fixpoint") {
    // adversarial fixture: a 20k-leaf star (hub 0 — the power-law tail
    // case where one dst key owns the whole adjacency) plus a chain and
    // an isolated pair that must NOT get absorbed. hotDegree=1000 forces
    // the hub onto the salted path; the fixpoint must be identical to
    // the unsalted (hotDegree=MaxValue) run.
    val edges = undirected(hubFixture)
    val salted = labelSet(Components.labelLoop(edges, hotDegree = 1000L, salts = 8))
    val unsalted = labelSet(Components.labelLoop(edges, hotDegree = Long.MaxValue))
    assert(salted == unsalted)
    val byLabel = salted.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel == Map(0L -> 20001, 30000L -> 6, 40000L -> 2))
  }

  test("checkpoint interval does not change the fixpoint") {
    // two chains + one isolated pair; aggressive interval (every round)
    // vs effectively-never must agree exactly
    val edges = undirected(chainsFixture)
    def run(every: Int) = labelSet(Components.labelLoop(edges, checkpointEvery = every))
    val aggressive = run(1)
    val never = run(1000)
    assert(aggressive == never)
    val byLabel = aggressive.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel == Map(1L -> 8, 20L -> 7, 100L -> 2))
  }

  test("loop width derives from measured rows, not core count or a constant cap") {
    // round 16: NO parallelism floor — a tiny frontier runs one
    // partition regardless of cores (the per-round fixed cost of
    // core-count task waves measured as inverse CPU scaling on the
    // fixpoint loops; work per partition is bounded by RowsPerPartition
    // so a narrow width is per-task trivial by construction)
    assert(Components.loopWidth(300L) == 1)
    // growth: width tracks measured edges — a billion-edge graph gets
    // ~20k partitions (≈50k rows each), where the old min(200, …) cap
    // left 5M-row partitions
    assert(Components.loopWidth(1_000_000_000L) == 20000)
    assert(Components.loopWidth(100_000_000L) == 2000)
    // degenerate inputs stay sane
    assert(Components.loopWidth(0L) == 1)
  }

  test("minLabel on an EMPTY edge set returns empty instead of throwing") {
    // a density/filter stage can legally produce zero edges (e.g.
    // geo_grid_dbscan at sf0.001); the null label-sum signature must
    // read as 0, not crash getLong
    import SparkSpecBase.spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val labels = Components.minLabel(empty)
    assert(labels.count() == 0)
    assert(labels.schema.map(f => (f.name, f.dataType)) ==
      Seq("node" -> LongType, "label" -> LongType))
    assert(Components.labelLoop(empty).count() == 0)
  }

  test("driver labels equal the loop's labels on every fixture and on graph_components' edges") {
    // sf0.01: graph_components' graded edge set, a sibling of the spec scale
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val sym = graft.queries.GraphQueries.symAdj(spark, sf001)
      .select(col("u").as("src"), col("v").as("dst"))
    val fixtures = Seq(undirected(pathFixture), undirected(hubFixture),
      undirected(chainsFixture), undirected(Seq.empty), sym)
    for (edges <- fixtures) {
      val driver = Components.minLabel(edges)
      assert(onDriver(driver))
      assert(labelSet(driver) == labelSet(Components.labelLoop(edges)))
    }
    graft.SparkEntry.releaseCaches()
  }

  test("a 50,000-node path is labelled on the driver without a StackOverflowError") {
    // descending order grows a 50,000-deep parent chain before any find
    // walks it: a recursive find overflows here; the loop would stop
    // at its fold cap long before the label crossed the path
    val pairs = (49999L to 1L by -1L).map(i => (i, i + 1))
    val edges = undirected(pairs)
    val labels = Components.minLabel(edges)
    assert(onDriver(labels))
    val byLabel = labelSet(labels).groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel == Map(1L -> 50000))
  }

  test("dispatch: 99,999 edge rows take the driver path, 100,000 take the loop") {
    import SparkSpecBase.spark.implicits._
    val below = pairsFixture.union(Seq((0L, 0L)).toDF("src", "dst")) // 99,999 rows
    val at = atCutFixture                                            // 100,000 rows
    assert(below.count() == 2 * Components.RowsPerPartition - 1)
    assert(at.count() == 2 * Components.RowsPerPartition)
    val driver = Components.minLabel(below)
    val loop = Components.minLabel(at)
    assert(onDriver(driver))
    assert(!onDriver(loop))
    val expect = (0L until 49999L).flatMap(i => Seq((2 * i, 2 * i), (2 * i + 1, 2 * i))).toSet
    assert(labelSet(driver) == expect)
    assert(labelSet(loop) == expect ++ Set((200000L, 200000L), (200001L, 200000L)))
  }

  test("minLabel with no bounded rows takes the loop, equal to the driver path") {
    val edges = undirected(chainsFixture)
    val loop = Components.minLabel(edges, None)
    val driver = Components.minLabel(edges)
    assert(!onDriver(loop))
    assert(onDriver(driver))
    assert(labelSet(loop) == labelSet(driver))
    graft.SparkEntry.releaseCaches()
  }

  test("releaseCaches frees every loop cache; only checkpoints stay") {
    graft.SparkEntry.releaseCaches()
    def persisted = spark.sparkContext.getPersistentRDDs
    val before = persisted.keySet.toSet
    // the dispatch fixture ends on a cache batch (it converges at fold
    // 2); the salted hub fixture crosses a checkpoint on its way
    val dispatch = Components.minLabel(atCutFixture)
    val hub = Components.labelLoop(undirected(hubFixture), hotDegree = 1000L, salts = 8)
    val want = (labelSet(dispatch), labelSet(hub))
    assert(!onDriver(dispatch))
    assert(graft.operators.GraftCaches.size >= 1, "the final cache batch is not registered")
    graft.SparkEntry.releaseCaches()
    val leaked = persisted.filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }
    assert(leaked.isEmpty, s"loop caches survived release: ${leaked.keys}")
    // released frames recompute from lineage to the same labels
    assert((labelSet(dispatch), labelSet(hub)) == want)
    graft.SparkEntry.releaseCaches()
  }
}
