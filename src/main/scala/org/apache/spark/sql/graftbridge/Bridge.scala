package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.classic.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** `Dataset.ofRows` is `private[sql]`; this one-method bridge lives in an
  * `org.apache.spark.sql` subpackage solely to lift a custom LogicalPlan
  * into the public DataFrame API (the standard technique for Spark-native
  * libraries that add whole operators — nothing else from the private
  * surface is touched). */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)

  /** Stats-resetting view over an (already-checkpointed) frame -- the
    * k^r lineage lesson's SEQUEL: `Dataset.localCheckpoint` truncates
    * the logical PLAN but copies the source plan's computed STATISTICS
    * onto the LogicalRDD (`LogicalRDD.fromDataset` originStats). A loop
    * whose round joins its checkpointed predecessor j times then
    * compounds the sizeInBytes VALUE round over round (~ s^(j^r)): by
    * round ~10 the BigInt carries millions of digits and the stats
    * visitor's multiplications dominate planning (measured: 32-round
    * BPE never finished round 12; with this reset, flat). Re-wrapping
    * the checkpointed RDD in a fresh LogicalRDD WITHOUT originStats
    * restarts every round from default leaf stats. The caller keeps
    * the checkpointed source frame for unpersist -- this view reads its
    * blocks but cannot release them. */
  def freshStatsView(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[DataFrame]
    val qe = cdf.queryExecution
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd)(cdf.sparkSession)
    org.apache.spark.sql.classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** Like [[freshStatsView]], but the one-node view carries the
    * MEASURED size of the (already persisted and materialized) source
    * as its leaf statistics — so consumers keep their static broadcast
    * decisions (a default-stats leaf reads as "huge" and pushes every
    * join to sort-merge until AQE repairs it at runtime, one extra
    * exchange pair per join; measured round 16 on the Brandes layer
    * loop: 1.6 → 3.9 s from exactly that). Safe against the k^r stats
    * compounding freshStatsView exists for: the leaf value is a FIXED
    * measured constant, not a product of upstream derived stats. Call
    * only after the source frame is materialized (count()), or the
    * cache size read here is an estimate. */
  def measuredStatsView(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[DataFrame]
    val qe = cdf.queryExecution
    val measured = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = qe.withCachedData.stats.sizeInBytes)
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd)(cdf.sparkSession, Some(measured), None)
    org.apache.spark.sql.classic.Dataset.ofRows(cdf.sparkSession, plan)
  }

  /** [[measuredStatsView]] for an eagerly `localCheckpoint(true)`-ed
    * frame: the real size comes from the BLOCK MANAGER (the checkpoint
    * RDD's cached blocks), not the CacheManager — localCheckpoint blocks
    * never enter the CacheManager, so `withCachedData.stats` would read
    * the ORIGIN stats localCheckpoint copied, which is exactly the
    * compounding k^r value freshStatsView exists to discard. Falls back
    * to default leaf stats when the storage info is missing (e.g. the
    * blocks were evicted before the view was built), and when the frame
    * is not itself a checkpoint: a plan that merely CONTAINS one (a join
    * over a checkpoint) is larger or smaller than that checkpoint's
    * blocks, so their size would be a wrong leaf statistic. */
  def measuredCkptView(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[DataFrame]
    val qe = cdf.queryExecution
    val session = cdf.sparkSession
    val measured = (qe.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        session.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id)
      case _ => None
    }).map(i => org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(i.memSize + i.diskSize).max(1)))
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd)(session, measured, None)
    org.apache.spark.sql.classic.Dataset.ofRows(session, plan)
  }

  /** Test-only introspection of a SparkSessionExtensions instance (the
    * build* methods are private[sql]): lets ExtensionsSpec assert what
    * `spark.sql.extensions=graft.udx.GraftExtensions` would register
    * without needing a fresh JVM-first session. */
  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
