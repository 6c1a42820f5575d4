package graft

/** `SparkEntry.releaseCaches()` lifecycle: the graph family's
  * `SessionMemo` entries, `kPeelLoop`'s registered final census, and the
  * registered hot-key caches are all graft-owned state — release must
  * drop every block graft added (and nothing it didn't), and the
  * families must rebuild transparently afterwards. The suite runs
  * against the shared JVM-wide
  * session, so the assertions are DELTA-based (persistent-RDD ids
  * captured before) rather than demanding a globally empty cache —
  * other suites legitimately leave their own convention-documented
  * blocks behind. */
class ReleaseCachesSpec extends GraftSpec {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("releaseCaches drops every graft-owned block the graph family added") {
    SparkEntry.releaseCaches() // start from a clean graft-owned slate
    val before = persistentIds
    // run the family: shared memo (symAdj/symNodes/symDeg/simEdges/
    // lpaLabels/both SaltedAdj kinds/prAdjLoop/landmarkReach) and the
    // registered per-invocation persists (modularity's census, jaccard's
    // capped adjacency). Every memo value reaches release only through
    // GraftCaches, so a kind that skips registration at build leaks
    // here. At spec scale graph_k_core peels on the driver and
    // graphComponents labels on the driver, so neither loop runs here:
    // the next test covers the peel loop's census, and ComponentsSpec's
    // release test the components loop.
    val kcore = graft.queries.GraphQueries.graphKCore(spark, sfDir).collect()
    val decomp = graft.queries.GraphQueries.graphCoreDecomposition(spark, sfDir).collect()
    graft.queries.GraphQueries.graphJaccardNeighbors(spark, sfDir).collect()
    graft.queries.GraphQueries.graphModularity(spark, sfDir).collect()
    graft.queries.GraphQueries.graphPagerankConverged(spark, sfDir).collect()
    graft.queries.GraphQueries.graphBfsHops(spark, sfDir).collect()
    assert((persistentIds -- before).nonEmpty, "family ran without caching anything?")
    assert(graft.operators.GraftCaches.size >= 1, "the graph family registered no frame")

    SparkEntry.releaseCaches()
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"graft-owned RDDs survived release: $leaked")
    assert(graft.operators.GraftCaches.size == 0, "registry not cleared")

    // the memo rebuilds transparently: same results after release
    val kcore2 = graft.queries.GraphQueries.graphKCore(spark, sfDir).collect()
    val decomp2 = graft.queries.GraphQueries.graphCoreDecomposition(spark, sfDir).collect()
    assert(kcore2.toSeq == kcore.toSeq, "k-core diverged after release")
    assert(decomp2.toSeq == decomp.toSeq, "core decomposition diverged after release")
    SparkEntry.releaseCaches()
  }

  test("releaseCaches frees the k-peel loop's final census") {
    import SparkSpecBase.spark.implicits._
    SparkEntry.releaseCaches()
    val before = persistentIds
    // triangle 1-2-3 plus pendant 3-4: a k=2 peel drops node 4, so the
    // returned adjacency reads the persisted final census
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val peeled = graft.queries.GraphQueries.kPeelLoop(
      (e ++ e.map(_.swap)).toDF("u", "v"), k = 2, rounds = 3)
    val want = peeled.collect().toSet
    assert((persistentIds -- before).nonEmpty, "the peel loop persisted no census")
    assert(graft.operators.GraftCaches.size >= 1, "kPeelLoop registered no census")
    SparkEntry.releaseCaches()
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"the peel loop's census survived release: $leaked")
    // the released frame recomputes from lineage to the same rows
    assert(peeled.collect().toSet == want)
  }

  test("releaseCaches is idempotent and safe with nothing registered") {
    SparkEntry.releaseCaches()
    SparkEntry.releaseCaches()
    assert(graft.operators.GraftCaches.size == 0)
  }
}
