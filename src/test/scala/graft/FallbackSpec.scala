package graft

/** The guarded driver folds and their distributed fallbacks must be
  * output-identical — the bound that picks the engine is a performance
  * knob, never a semantics knob. Each test runs the same query twice on
  * the same input: once with the production bound (driver fold) and
  * once with the bound forced to 0 (distributed path), and asserts
  * bit-identical sorted rows. */
class FallbackSpec extends GraftSpec {

  test("tsLttbDownsample: distributed windowed-bucket form matches the driver fold") {
    val fold = graft.queries.TimeSeries
      .tsLttbDownsampleImpl(spark, sfDir, bound = 200000L)
      .collect().map(_.toSeq)
    val dist = graft.queries.TimeSeries
      .tsLttbDownsampleImpl(spark, sfDir, bound = 0L)
      .collect().map(_.toSeq)
    assert(dist.size >= 3, s"distributed LTTB kept only ${dist.size} points")
    assert(fold.toSeq == dist.toSeq)
    graft.SparkEntry.releaseCaches()
  }
}
