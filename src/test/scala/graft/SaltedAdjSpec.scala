package graft

import org.apache.spark.sql.functions._
import graft.operators.SaltedAdj

/** Adversarial hub tests for the shared graph-loop salting (the
  * components, pagerank, LPA and BFS per-round joins all run on
  * SaltedAdj). A star hub whose degree dwarfs the
  * threshold must (a) spread across the salt space in the cached
  * adjacency — the bounded-per-task guarantee, since each (u, _salt)
  * group is what one reducer sees — and (b) produce EXACTLY the same
  * propagation results as the unsalted path. */
class SaltedAdjSpec extends GraftSpec {
  import SparkSpecBase.spark.implicits._

  // star: hub 0 ↔ {1..400}, plus a cold chain 1000-1001-1002;
  // undirected = both directions present
  private def starAdj = {
    val pairs = (1L to 400L).map(i => (0L, i)) ++ Seq((1000L, 1001L), (1001L, 1002L))
    (pairs ++ pairs.map(_.swap)).toDF("u", "v")
  }

  test("hub adjacency spreads across the salt space; cold edges ride salt 0") {
    val sadj = SaltedAdj(starAdj, hotDegree = 50L, salts = 8)
    assert(sadj.useSalt)
    // the hub's 400 edge rows must occupy every salt, and no (u, _salt)
    // group — what one reducer sees — may hold more than 1.5 × its
    // degree/salts share
    val (deg, salts) = (400L, 8)
    val groups = sadj.edges.filter(col("u") === 0L)
      .groupBy("_salt").count().as[(Long, Long)].collect()
    assert(groups.length == salts, s"hub must span all $salts salts: ${groups.toSeq}")
    val maxPerSalt = groups.map(_._2).max
    assert(maxPerSalt <= deg / salts * 3 / 2,
      s"hub salt groups unbalanced: max $maxPerSalt of $deg rows")
    // cold nodes must not pay the salt fan-out
    val coldSalts = sadj.edges.filter(col("u") === 1000L || col("u") === 1001L)
      .select("_salt").distinct().as[Long].collect().toSet
    assert(coldSalts == Set(0L))
    sadj.unpersist()
  }

  test("salted propagation equals unsalted propagation exactly") {
    val values = starAdj.select(col("u").as("node")).distinct()
      .select(col("node"), (col("node") * 10L).as("payload"))
    val salted = SaltedAdj(starAdj, hotDegree = 50L, salts = 8)
    val unsalted = SaltedAdj(starAdj, hotDegree = Long.MaxValue, salts = 8)
    assert(salted.useSalt && !unsalted.useSalt)
    def agg(s: SaltedAdj) = s.propagate(values)
      .groupBy("node").agg(count(lit(1)).as("n"), sum("payload").as("ps"))
      .as[(Long, Long, Long)].collect().toSet
    assert(agg(salted) == agg(unsalted))
    salted.unpersist(); unsalted.unpersist()
  }

  test("no-hub census takes the zero-overhead path (no _salt column work)") {
    val sadj = SaltedAdj(starAdj, hotDegree = 100000L)
    assert(!sadj.useSalt)
    assert(!sadj.edges.columns.contains("_salt"))
    sadj.unpersist()
  }

  test("big unsalted graph takes the pre-partitioned layout at measured loop width") {
    // 300k edges with max degree 50 (no hubs): crosses the
    // RowsPerPartition threshold, so the adjacency must be cached AT
    // loop width on the join key — the layout the per-round join reuses
    // without re-exchanging the big side. Small graphs
    // (starAdj above) skip this; their cached partition count is
    // whatever the union produced, not the loop width.
    val spark = SparkSpecBase.spark
    import spark.implicits._
    val big = spark.range(300000L)
      .select((col("id") / 50L).as("u"), (col("id") % 6000L + 1000000L).as("v"))
    val sadj = SaltedAdj(big, hotDegree = 100000L)
    assert(!sadj.useSalt)
    val width = graft.operators.Components.loopWidth(300000L)
    assert(sadj.edges.rdd.getNumPartitions == width,
      s"cached adjacency has ${sadj.edges.rdd.getNumPartitions} partitions, want $width")
    sadj.unpersist()
  }
}
