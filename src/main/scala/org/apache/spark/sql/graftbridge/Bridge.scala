package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.classic.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.ofRows` is `private[sql]`; this bridge lives in an
  * `org.apache.spark.sql` subpackage to lift a custom LogicalPlan into
  * the public DataFrame API (the standard technique for Spark-native
  * libraries that add whole operators), to serve materialized frames as
  * one-node views, to plan loops in a cloned session (`cloneSession` is
  * `private[sql]` too), and to expose the extension builders to specs. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)

  /** Materializes `df` now and returns a one-node `LogicalRDD` view over
    * its blocks, whose leaf statistics are the MEASURED size of those
    * blocks. The one way query code materializes a frame mid-build.
    *
    * Why a view: a materialized frame still carries its whole logical
    * plan (a 12-round h-index chain formats to 8.1 MB), and every
    * consumer action re-runs analysis and optimization over it even when
    * execution only reads the blocks. The view's plan is one node.
    *
    * Why measured stats: `localCheckpoint` copies the source plan's
    * computed statistics onto its leaf, so a loop whose round joins its
    * checkpointed predecessor k times compounds the sizeInBytes value
    * ≈ s^(k^r) — the 32-round BPE loop froze in BigInt stats arithmetic
    * near round 12. Default leaf stats avoid that but read as "huge" and
    * push every consumer join to sort-merge until AQE repairs it at
    * runtime. A measured size is a fixed constant, so it neither
    * compounds nor hides a small frame from the static broadcast rule.
    *
    * `checkpoint = false`: persist (registered with
    * [[graft.operators.GraftCaches]], so `SparkEntry.releaseCaches()`
    * frees it) and count; the size is the CacheManager's. After release
    * the view rebuilds from lineage like any cached frame. For memo
    * values, which must stay releasable.
    *
    * `checkpoint = true`: eager `localCheckpoint`, which truncates the
    * lineage — for loop rounds. The size is the block manager's (default
    * stats if the storage info is missing, e.g. evicted blocks); the
    * checkpoint's partitioning and ordering are kept. Checkpoints are NOT
    * registered: `Dataset.unpersist` only drops CacheManager entries, so
    * release would do nothing to them, and the registry's reference would
    * only keep the ContextCleaner from reclaiming the blocks once the
    * last frame over them is gone. */
  def materialize(df: org.apache.spark.sql.DataFrame,
      checkpoint: Boolean = false): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[DataFrame]
    val session = cdf.sparkSession
    val view = if (checkpoint) {
      val lr = cdf.localCheckpoint(true).queryExecution.analyzed.asInstanceOf[LogicalRDD]
      val measured = session.sparkContext.getRDDStorageInfo.find(_.id == lr.rdd.id)
        .map(i => Statistics(sizeInBytes = BigInt(i.memSize + i.diskSize).max(1)))
      lr.copy()(session, measured, None)
    } else {
      val p = cdf.persist()
      graft.operators.GraftCaches.register(p)
      p.count()
      val qe = p.queryExecution
      LogicalRDD(qe.analyzed.output, qe.toRdd)(
        session, Some(Statistics(sizeInBytes = qe.withCachedData.stats.sizeInBytes)), None)
    }
    ofRows(session, view)
  }

  /** Runs `body` in a clone of `s` that differs from it only by
    * `overrides` — the one way query code plans a loop with its own
    * confs (AQE off, a pinned shuffle width). The clone keeps every
    * runtime conf, UDF and listener of `s` (unlike `newSession()`, which
    * starts from the SparkContext conf) and shares its SparkContext and
    * cache manager; `s` itself is never touched, so whatever else it
    * plans meanwhile keeps its own confs. Nothing is restored: the clone
    * is simply dropped. Frames cross with [[inSession]]: the caller's
    * frames go in, and the body hands its results back in `s`. The body
    * must not look up session memos with the clone (they key on the
    * session): resolve them in `s` first and move them in. */
  def withConfs[A](s: org.apache.spark.sql.SparkSession, overrides: (String, String)*)(
      body: org.apache.spark.sql.SparkSession => A): A = {
    val child = s.asInstanceOf[SparkSession].cloneSession()
    overrides.foreach { case (k, v) => child.conf.set(k, v) }
    child.withActive(body(child))
  }

  /** `df`'s analyzed plan as a frame of session `s`: it plans and runs
    * with `s`'s confs and still reads every cached block `df` reads
    * (the cache manager is shared and matches plans, not sessions). */
  def inSession(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ofRows(s.asInstanceOf[SparkSession], df.queryExecution.analyzed)

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
