package graft

class BenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a failing memo warm-up fails the run and names its family") {
    val e = intercept[IllegalStateException] {
      Bench.warmUp("graph")(throw new RuntimeException("boom"))
    }
    assert(e.getMessage.startsWith("graph warm-up failed"), e.getMessage)
    assert(e.getCause.getMessage == "boom")
  }
}
