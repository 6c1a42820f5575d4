package graft

/** `SparkEntry.releaseCaches()` lifecycle: the graph family's
  * `SessionMemo` entries, kPeel's registered alive frames, and the registered hot-key
  * caches are all graft-owned state — release must drop every block graft
  * added (and nothing it didn't), and the families must rebuild
  * transparently afterwards. The suite runs against the shared JVM-wide
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
    // lpaLabels/both SaltedAdj kinds/prAdjLoop/landmarkReach), kPeel's
    // registered final alive frames, and the registered per-invocation
    // persists (modularity's census, jaccard's capped adjacency). Every
    // memo value reaches release only through GraftCaches, so a kind
    // that skips registration at build leaks here. graphComponents
    // stays OUT of the leak window: at spec scale minLabel labels it on
    // the driver. Above the driver cut the loop frees its own caches,
    // registers a final cache batch, and leaves a final localCheckpoint
    // unregistered; ComponentsSpec's release test covers that lifecycle.
    val kcore = graft.queries.GraphQueries.graphKCore(spark, sfDir).collect()
    val decomp = graft.queries.GraphQueries.graphCoreDecomposition(spark, sfDir).collect()
    graft.queries.GraphQueries.graphJaccardNeighbors(spark, sfDir).collect()
    graft.queries.GraphQueries.graphModularity(spark, sfDir).collect()
    graft.queries.GraphQueries.graphPagerankConverged(spark, sfDir).collect()
    graft.queries.GraphQueries.graphBfsHops(spark, sfDir).collect()
    assert((persistentIds -- before).nonEmpty, "family ran without caching anything?")
    assert(graft.operators.GraftCaches.size >= 1, "kPeel registered no alive frame")

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

  test("releaseCaches is idempotent and safe with nothing registered") {
    SparkEntry.releaseCaches()
    SparkEntry.releaseCaches()
    assert(graft.operators.GraftCaches.size == 0)
  }
}
