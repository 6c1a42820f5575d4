package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import graft.tables.Tables

/** `Tables.t` resolves each table file's schema once per live session
  * and file version, and reads with that schema, which starts no job. */
class TablesSpec extends GraftSpec {

  test("a second read of every table starts no Spark job") {
    SparkEntry.releaseCaches()
    val cold = TablesSpec.jobsDuring(spark)(Tables.names.foreach(Tables.t(spark, sfDir, _)))
    assert(cold >= Tables.names.size, s"cold reads started only $cold jobs")
    val warm = TablesSpec.jobsDuring(spark)(Tables.names.foreach(Tables.t(spark, sfDir, _)))
    assert(warm == 0, s"warm reads started $warm jobs")
  }

  test("the cached schema is the inferred schema, with events.ts as TimestampType") {
    for (name <- Tables.names) {
      val cached = Tables.t(spark, sfDir, name).schema
      val fresh = spark.read.parquet(s"$sfDir/$name.parquet").schema
      if (name == "events") {
        assert(cached("ts").dataType == TimestampType)
        assert(cached.filterNot(_.name == "ts") == fresh.filterNot(_.name == "ts"))
      } else assert(cached == fresh, name)
    }
  }

  test("join_star_flagship returns the same rows with the schema cache cold and warm") {
    SparkEntry.releaseCaches()
    val cold = SparkEntry.queries("join_star_flagship")(spark, sfDir).collect().map(_.toString).sorted
    val warm = SparkEntry.queries("join_star_flagship")(spark, sfDir).collect().map(_.toString).sorted
    assert(cold.nonEmpty)
    assert(warm.toSeq == cold.toSeq)
  }

  test("a table file rewritten in place is read with its new schema") {
    import SparkSpecBase.spark.implicits._
    val dir = Files.createTempDirectory("graft-tables")
    // one parquet FILE per table, as in the testdata: write with Spark,
    // then move the single part file over `<dir>/probe.parquet`
    def writeTable(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = dir.resolve("out").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles.find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve("probe.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      writeTable(Seq((1L, "a")).toDF("k", "v"))
      assert(Tables.t(spark, dir.toString, "probe").columns.toSeq == Seq("k", "v"))
      writeTable(Seq((1L, "a", 2.5)).toDF("k", "v", "w"))
      val df = Tables.t(spark, dir.toString, "probe")
      assert(df.columns.toSeq == Seq("k", "v", "w"))
      assert(df.collect().map(_.toString).toSeq == Seq("[1,a,2.5]"))
    } finally {
      dir.toFile.listFiles.foreach(f => if (f.isDirectory) f.listFiles.foreach(_.delete()))
      dir.toFile.listFiles.foreach(_.delete())
      dir.toFile.delete()
    }
  }

  test("a stopped session's schemas are never served to a new session") {
    // the check stops a SparkContext, so it runs in its own JVM instead
    // of stopping the session every other spec shares: this JVM's
    // options (the module opens Spark needs) with a smaller heap
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmOpts ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TablesSpec", sfDir)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, out.toString)
    assert(out.toString.contains("new session resolved its schema anew"), out.toString)
  }
}

object TablesSpec {

  /** Spark jobs `body` starts, counted after the listener bus drained. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** The stopped-session check's own JVM: read a table in one session,
    * stop it, and read it again in a new one. Exits 1 if the new
    * session's first read starts no job, i.e. was served a schema the
    * stopped session resolved. */
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val first = session()
    first.sparkContext.setLogLevel("ERROR")
    Tables.t(first, args(0), "nation")
    first.stop()
    val second = session()
    second.sparkContext.setLogLevel("ERROR")
    val jobs = jobsDuring(second)(Tables.t(second, args(0), "nation"))
    second.stop()
    if (jobs == 0) { println("new session was served a stopped session's schema"); sys.exit(1) }
    println("new session resolved its schema anew")
  }
}
