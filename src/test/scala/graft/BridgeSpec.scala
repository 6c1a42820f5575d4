package graft

import org.apache.spark.sql.graftbridge.Bridge

class BridgeSpec extends GraftSpec {

  private def leafSize(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  test("measuredCkptView measures only a frame that is itself a checkpoint") {
    val ck = spark.range(0, 1000).selectExpr("id", "id % 7 as k").localCheckpoint(true)
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val bare = leafSize(Bridge.measuredCkptView(ck))
    assert(bare > 0 && bare < default, s"bare checkpoint not measured: $bare")
    // a join over the checkpoint is not the checkpoint: its size is
    // unknown here, so the view keeps default leaf stats
    val joined = ck.join(spark.range(0, 7).toDF("k"), "k")
    assert(leafSize(Bridge.measuredCkptView(joined)) == default)
  }
}
