package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Four loops plan their eager materializations with their own confs —
  * the pagerank-converged chain and the h-index chain with AQE off and a
  * pinned width, the Louvain trace and the HNSW readout at a pinned
  * width — each in a cloned session (`Bridge.withConfs`), so those
  * planner confs must never leak into the caller's session. The proof
  * is adversarial and concurrent: a sampler thread plans parent-session
  * queries in a tight loop across all four builds and asserts every
  * single plan kept AQE on and the parent confs kept their values. If an
  * in-place conf flip on the shared session ever returns, its window
  * lasts a full eager action and the sampler catches it; with isolation
  * the assertions cannot fire at any interleaving. */
class CoreSessionIsolationSpec extends GraftSpec {

  test("parent-session queries keep AQE on during the child-session materialization window") {
    import SparkSpecBase.spark.implicits._
    val parent = spark
    parent.conf.set("spark.sql.adaptive.enabled", "true")
    val widthBefore = parent.conf.get("spark.sql.shuffle.partitions")

    val stop = new AtomicBoolean(false)
    val violation = new AtomicReference[String](null)
    val samples = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (!stop.get() && violation.get() == null) {
        val aqe = parent.conf.get("spark.sql.adaptive.enabled")
        val width = parent.conf.get("spark.sql.shuffle.partitions")
        if (aqe != "true")
          violation.compareAndSet(null, s"parent AQE flipped to $aqe")
        if (width != widthBefore)
          violation.compareAndSet(null, s"parent width flipped to $width")
        // a query PLANNED in the parent during the window must come out
        // adaptive — this is what a concurrent tenant actually observes
        val p = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
          .groupBy("a").agg(sum("b"))
          .queryExecution.executedPlan.toString
        if (!p.contains("AdaptiveSparkPlan"))
          violation.compareAndSet(null, s"non-adaptive parent plan:\n${p.take(500)}")
        samples.incrementAndGet()
      }
    }, "graft-isolation-sampler")
    // memos dropped first, so each memoized build runs inside the window
    SparkEntry.releaseCaches()
    sampler.start()
    try {
      import graft.queries.{GraphQueries => G}
      G.graphPagerankConverged(parent, sfDir).collect()
      G.louvainTrace(parent, sfDir).collect()
      G.coreFullOn(G.symAdj(parent, sfDir), 12).collect()
      graft.queries.LlmExtra.llmSimHnswTune(parent, sfDir).collect()
    } finally {
      stop.set(true)
      sampler.join(10000)
    }
    assert(violation.get() == null, String.valueOf(violation.get()))
    assert(samples.get() > 0, "sampler never ran")
    assert(parent.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(parent.conf.get("spark.sql.shuffle.partitions") == widthBefore)
  }

  test("child-session chain still reads the family's shared adjacency cache") {
    // the protected property: a fresh child frame over the family
    // adjacency must NEVER re-scan parquet. Since round 16 `symAdj` is
    // served as a measured-stats VIEW — a one-node LogicalRDD whose
    // physical RDD was planned over the persisted union (it reads the
    // cached blocks, or rebuilds from lineage after release) — so the
    // child plan shows `Scan ExistingRDD`, not an InMemoryTableScan
    // node; the assertion checks for the absence of a parquet scan and
    // the presence of the view scan, which is the same no-12×-parquet
    // guarantee the old InMemoryTableScan assertion encoded.
    val adj = graft.queries.GraphQueries.symAdj(spark, sfDir)
    adj.count() // materialize the family cache in the parent
    Bridge.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") { child =>
      val fresh = Bridge.inSession(child, adj).groupBy("u").count()
      val p = fresh.queryExecution.executedPlan.toString
      assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
        s"fresh child frame over the adjacency re-scans parquet:\n${p.take(2000)}")
      assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"),
        s"fresh child frame lost the shared-adjacency view/cache:\n${p.take(2000)}")
    }
    // and the estimates come back served in the caller's session
    val (prevF, fin) = graft.queries.GraphQueries.hIndexEstimates(adj, 3)
    assert(fin.sparkSession eq spark, "estimates must be served in the caller's session")
    prevF.unpersist(blocking = false)
    fin.unpersist(blocking = false)
  }
}
