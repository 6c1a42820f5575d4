package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.operators.GraftCaches

class BridgeSpec extends GraftSpec {

  private def frame: DataFrame = spark.range(0, 1000).selectExpr("id", "id % 7 as k")

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("materialize serves a one-node LogicalRDD with a measured leaf size in both modes") {
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    for (checkpoint <- Seq(false, true)) {
      val v = Bridge.materialize(frame, checkpoint)
      val plan = v.queryExecution.analyzed
      assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty, s"checkpoint=$checkpoint:\n$plan")
      val size = plan.stats.sizeInBytes
      assert(size > 0 && size < default, s"checkpoint=$checkpoint: leaf size $size not measured")
      assert(v.count() == 1000L)
      assert(v.filter(col("k") === 0).count() == 143L)
    }
  }

  test("a persist-mode source is freed by releaseCaches; a checkpoint is not registered") {
    SparkEntry.releaseCaches()
    val before = persistentIds
    val v = Bridge.materialize(frame)
    assert((persistentIds -- before).nonEmpty, "persist mode cached nothing")
    assert(GraftCaches.size == 1)
    SparkEntry.releaseCaches()
    assert((persistentIds -- before).isEmpty, "released source still cached")
    assert(v.count() == 1000L, "the view must rebuild from lineage after release")
    Bridge.materialize(frame, checkpoint = true)
    assert(GraftCaches.size == 0, "checkpoint mode registered its frame")
  }

  test("a metric observed on a checkpoint-mode frame is available with no extra job") {
    val obs = Observation()
    val observed = spark.range(0, 100).toDF()
      .observe(obs, sum(when(col("id") % 3 === 0, 1L).otherwise(0L)).as("n"))
    val built = TablesSpec.jobsDuring(spark)(Bridge.materialize(observed, checkpoint = true))
    assert(built >= 1)
    val read = TablesSpec.jobsDuring(spark) {
      // Observation.get blocks until the metric arrives; bound the wait
      val m = Await.result(Future(obs.get), 30.seconds)
      assert(m("n") == 34L)
    }
    assert(read == 0, s"reading the metric started $read jobs")
  }

  test("withConfs plans in a clone of the caller; inSession moves frames in and out") {
    val caller = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    val runtimeKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    spark.conf.set(runtimeKey, "false")
    try {
      val cached = GraftCaches.persist(frame)
      cached.count()
      val back = Bridge.withConfs(spark, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "3") { child =>
        assert(child ne spark)
        assert(child.conf.get(runtimeKey) == "false", "the caller's runtime conf is missing")
        val agg = Bridge.inSession(child, cached).groupBy("k").count()
        val plan = agg.queryExecution.executedPlan.toString
        assert(!plan.contains("AdaptiveSparkPlan"), s"planned adaptive in the clone:\n$plan")
        assert(plan.contains("InMemoryTableScan"), s"the caller's cache was missed:\n$plan")
        assert(agg.queryExecution.toRdd.getNumPartitions == 3)
        val out = GraftCaches.persist(agg)
        out.count()
        out
      }
      val served = Bridge.inSession(spark, back)
      assert(served.sparkSession eq spark)
      val plan = served.groupBy(col("k") % 2).count().queryExecution.executedPlan.toString
      assert(plan.contains("AdaptiveSparkPlan"), s"not adaptive in the caller:\n$plan")
      assert(plan.contains("InMemoryTableScan"), s"the clone's cache was missed:\n$plan")
      assert(served.count() == 7L)
      caller.foreach { case (k, v) => assert(spark.conf.get(k) == v, s"$k changed") }
    } finally {
      spark.conf.unset(runtimeKey)
      SparkEntry.releaseCaches()
    }
  }
}
