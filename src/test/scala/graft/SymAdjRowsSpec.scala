package graft

import org.apache.spark.sql.DataFrame
import graft.operators.SessionMemo
import graft.queries.GraphQueries

/** The graph family's `symAdjRows` memo: `graph_components` and
  * `graph_k_core` dispatch on `symAdj`'s bounded rows read once per
  * session, so building either frame starts no Spark job once the memo
  * is warm, and a release rebuilds the rows to the same answers. */
class SymAdjRowsSpec extends GraftSpec {

  private def both: Seq[DataFrame] =
    Seq(GraphQueries.graphComponents(spark, sfDir), GraphQueries.graphKCore(spark, sfDir))

  private def answers = both.map(_.collect().map(_.toString).toSeq.sorted)

  test("graph_components and graph_k_core start no job once the graph memo is warm") {
    both // warms symAdj and symAdjRows
    assert(TablesSpec.jobsDuring(spark)(GraphQueries.graphComponents(spark, sfDir)) == 0)
    assert(TablesSpec.jobsDuring(spark)(GraphQueries.graphKCore(spark, sfDir)) == 0)
    SparkEntry.releaseCaches()
  }

  test("releaseCaches drops symAdjRows; the next call rebuilds it to equal rows") {
    val before = answers
    SparkEntry.releaseCaches()
    assert(!SessionMemo.buildSeconds.contains("symAdjRows"))
    val after = answers
    assert(SessionMemo.buildSeconds.contains("symAdjRows"), "symAdjRows was not rebuilt")
    assert(after == before)
    SparkEntry.releaseCaches()
  }
}
