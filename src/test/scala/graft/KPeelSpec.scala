package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.Components
import graft.queries.GraphQueries

/** `GraphQueries.kPeel`: the driver peel below one loop partition of
  * adjacency rows, the distributed `kPeelLoop` at and above it, and the
  * dispatch between them (on `Components.boundedRows`, the bounded read
  * `Components.minLabel` uses). Both paths must return the same rows in
  * the same `(u, v)` schema. */
class KPeelSpec extends GraftSpec {

  private def sym(pairs: Seq[(Long, Long)]) = {
    import SparkSpecBase.spark.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("u", "v")
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def onDriver(df: DataFrame) =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def kPeel(adj: DataFrame, k: Int, rounds: Int) =
    GraphQueries.kPeel(adj, k, rounds, Components.boundedRows(adj.select("u", "v")))

  private val triangle = Seq((300000L, 300001L), (300001L, 300002L), (300000L, 300002L))
  // 49,996 disjoint pairs + a triangle + the self-loop (0, 0): 99,999 rows
  private def belowCutFixture = {
    import SparkSpecBase.spark.implicits._
    sym((0L until 49996L).map(i => (2 * i, 2 * i + 1)) ++ triangle)
      .union(Seq((0L, 0L)).toDF("u", "v"))
  }
  // one more self-loop, (1, 1): 100,000 rows, and nodes 0 and 1 keep degree 2
  private def atCutFixture = {
    import SparkSpecBase.spark.implicits._
    belowCutFixture.union(Seq((1L, 1L)).toDF("u", "v"))
  }

  test("driver peel equals the loop peel on every fixture and on graph_k_core's adjacency") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val fixtures = Seq(
      sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))), // triangle plus pendant
      sym((0L until 6L).map(i => (i, (i + 1) % 6))),     // cycle
      sym((1L to 30L).map(h => (0L, h))),                // star hub
      sym(Seq.empty),
      GraphQueries.symAdj(spark, sf001))
    for (adj <- fixtures; k <- Seq(2, 3); r <- Seq(1, 3)) {
      val driver = kPeel(adj, k, r)
      val loop = GraphQueries.kPeelLoop(adj, k, r)
      assert(onDriver(driver))
      assert(driver.schema == loop.schema)
      assert(rows(driver) == rows(loop), s"k = $k, rounds = $r")
    }
    // graph_k_core's own peel keeps a non-empty 3-core at sf0.01
    assert(rows(kPeel(GraphQueries.symAdj(spark, sf001), 3, 3)).nonEmpty)
    SparkEntry.releaseCaches()
  }

  test("dispatch: 99,999 adjacency rows take the driver path, 100,000 take the loop") {
    val below = belowCutFixture
    val at = atCutFixture
    assert(below.count() == 2 * Components.RowsPerPartition - 1)
    assert(at.count() == 2 * Components.RowsPerPartition)
    val driver = kPeel(below, k = 2, rounds = 3)
    val loop = kPeel(at, k = 2, rounds = 3)
    assert(onDriver(driver))
    assert(!onDriver(loop))
    val tri = triangle ++ triangle.map(_.swap)
    assert(rows(driver) == tri.sorted)
    assert(rows(loop) == (tri ++ Seq((0L, 1L), (1L, 0L), (0L, 0L), (1L, 1L))).sorted)
    // the loop at the cut equals the driver peel of the same rows
    val peeled = GraphQueries.driverPeel(at.collect(), k = 2, rounds = 3)
    assert(rows(loop) == peeled.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    SparkEntry.releaseCaches()
  }

  test("kPeel with no bounded rows takes the loop, equal to the driver path") {
    val adj = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))) // triangle plus pendant
    val loop = GraphQueries.kPeel(adj, k = 2, rounds = 3, bounded = None)
    val driver = kPeel(adj, k = 2, rounds = 3)
    assert(!onDriver(loop))
    assert(onDriver(driver))
    assert(rows(loop) == rows(driver))
    SparkEntry.releaseCaches()
  }
}
