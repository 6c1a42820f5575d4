package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Parquet table access for the driver testdata (TESTDATA.md).
  *
  * One parquet file per table, read as `spark.read.schema(s).parquet`
  * so Catalyst's column pruning and filter pushdown reach the
  * vectorized parquet reader untouched. The schema `s` is resolved
  * once per live session and file version through
  * `operators.SessionMemo` (kind `table_schema`): without a given
  * schema every read infers it from the footer in a one-task Spark
  * job, ~80 ms of driver time per table a query touches. At 100 TB
  * these would be directory-backed (partitioned) datasets instead of
  * single files — the call site is the single place to swap that in.
  *
  * FILE VERSIONS: the schema key is the path plus the file's length
  * and modification time, so a file rewritten in place has its schema
  * inferred again on the next read and is never read with a stale one.
  * Derivations cached above this layer (the graph and LLM/ANN
  * `SessionMemo` kinds) are keyed by (session, dir) only, on the premise that a testdata dir's
  * contents never change under a live session: after an in-place
  * rewrite they serve STALE results until the session restarts or
  * `SparkEntry.releaseCaches()` runs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped in two physical forms across testdata
      // generations: INT64 TIMESTAMP(NANOS) (which Spark's reader only
      // accepts as raw longs under the nanosAsLong legacy conf) and plain
      // timestamp[us] (read as TIMESTAMP_NTZ when the footer lacks the
      // UTC-adjusted flag). Branch on the loaded type so every downstream
      // query sees one stable contract: `ts` as session-UTC TimestampType
      // at microsecond precision, regardless of generation. The conf is
      // set before the schema is resolved, so the cached schema is the
      // one inferred under it.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          // Raw nanos-as-long: integer DIV keeps full microsecond
          // precision where a double division would round 2024 epochs.
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case _ => // TIMESTAMP_NTZ (or other): align to TimestampType.
          df.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else read(spark, s"$dir/$name.parquet")
  }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = graft.operators.SessionMemo.memoized(spark,
        s"table_schema|$path|${st.getLen}|${st.getModificationTime}", "table_schema") {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Widen a NARROW scan to cluster parallelism before explode-amplified
    * work. Token/gram generation multiplies every input row ~|text|
    * times, and the expensive downstream compute (md5/simhash/tokenize)
    * inherits the SCAN's width — a corpus packed into a few big parquet
    * files runs its whole hash pass on a few cores no matter how many
    * exist (measured on the sf1 bench input, which reads as 2
    * partitions: one 13M-gram md5 pass = 23 s narrow vs 1.9 s spread).
    * The round-robin exchange moves only the raw pre-explode rows —
    * a small fraction of the gram stream it unlocks — and at production
    * scale the scan is already wide, making this a no-op branch.
    * Project the needed columns BEFORE spreading so the shuffle carries
    * no dead weight. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val width = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }
}
