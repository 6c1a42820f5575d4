package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop benchmark program for one workload: one client thread sends
  * the next operation only after the previous one returned.
  *
  * An operation is `SparkEntry.queries(name)(spark, dir)` followed by a
  * `noop` write, so the whole plan executes (no column pruning by a
  * `count()`). A run is:
  *
  *  1. three set-ups, each a fresh session followed by one untimed cold
  *     pass over the workload's operations, with untimed JIT warm-up passes
  *     after the first set-up and after the last;
  *  2. timed passes, each over every operation in a seeded order, until
  *     `--seconds` have gone by (the pass in flight always completes);
  *  3. untimed: each operation once more, its result written as parquet
  *     for the oracle check, then `graft.Bench`'s two weather sentinels.
  *
  * With `--trace 1` the timed passes alternate untraced and traced; the
  * traced ones carry a [[Tracer]] and report per-layer counters and
  * spans, and the family memo warm-up is timed once on a fresh session
  * at the end.
  *
  * Everything measured goes to the `--out` JSON record; the Python
  * runner turns it into metrics.
  */
object PerfBench {

  /** Operations of each workload, as `SparkEntry.queries` names. */
  val Workloads: Map[String, Seq[String]] = Map(
    // star joins, aggregates, windows and census analytics: many short
    // plans, no session memos
    "relational_mix" -> Seq(
      "join_inner_hash", "join_star_flagship", "agg_rollup", "window_rank", "census_moe_agg"),
    // eager loops inside the graph query functions over the graph
    // family's session memo; label propagation only reads a memo
    "graph_iter" -> Seq("graph_components", "graph_label_propagation", "graph_k_core"))

  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  /** Untimed passes after the first set-up and again after the last. After
    * a cold start the JIT keeps compiling for several passes, and passes
    * timed on that slope read tens of percent slower and drift from run to
    * run. */
  private val WarmPasses = 2

  final case class Opts(
      workload: String, ops: Seq[String], data: String, work: String, seed: Long,
      seconds: Double, trace: Boolean, out: String)

  final case class OpRec(name: String, startUs: Long, buildUs: Long, endUs: Long, error: Option[String]) {
    def ms: Double = (endUs - startUs) / 1e3
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = m("workload")
    val ops = m.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Workloads.getOrElse(workload, sys.error(s"unknown workload $workload")))
    Opts(workload, ops, m("data"), m("work"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"))
  }

  // ---- clocks ---------------------------------------------------------

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  /** Epoch microseconds on the monotonic clock, comparable with Spark's event times. */
  private def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this JVM plus its reaped child processes. */
  private def cpuSeconds(): Double = {
    val children =
      try {
        val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        (f(13).toLong + f(14).toLong) / 100.0 // cutime + cstime, clock ticks
      } catch { case _: Exception => 0.0 }
    osBean.getProcessCpuTime / 1e9 + children
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Seconds spent building each session memo so far, by kind. */
  private def memoBuilds(): Map[String, Double] =
    graft.queries.GraphQueries.memoBuildSeconds ++ graft.operators.SessionMemo.buildSeconds

  // ---- session --------------------------------------------------------

  private def newSession(o: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      // graft.Bench's session conf
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every file Spark writes inside the run's work directory
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    SparkEntry.releaseCaches()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- operations -----------------------------------------------------

  /** `SparkEntry.queries` builds its map on every call; look names up once. */
  private lazy val queries = SparkEntry.queries

  private def frame(spark: SparkSession, name: String, dir: String): DataFrame =
    queries.getOrElse(name, throw new NoSuchElementException(s"no query named $name"))(spark, dir)

  private def runOp(spark: SparkSession, o: Opts, name: String, id: String): OpRec = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    sc.setLocalProperty("perfbench.phase", "build")
    val t0 = nowUs()
    var t1 = t0
    val err =
      try {
        val df = frame(spark, name, o.data)
        t1 = nowUs()
        sc.setLocalProperty("perfbench.phase", "execute")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        sc.clearJobGroup()
      }
    if (t1 == t0) t1 = nowUs()
    OpRec(name, t0, t1, nowUs(), err)
  }

  private def order(o: Opts, pass: Int): Seq[String] =
    new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.ops)

  final case class PassRec(
      traced: Boolean, wallS: Double, cpuS: Double, gcS: Double, compiles: Long,
      ops: Seq[OpRec], layers: Map[String, Double])

  private def runPass(spark: SparkSession, o: Opts, pass: Int, tracer: Option[Tracer],
      spans: mutable.ArrayBuffer[Span]): PassRec = {
    val sc = spark.sparkContext
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val (cpu0, gc0, cg0, t0) = (cpuSeconds(), gcSeconds(), codegenCompiles(), nowUs())
    val ops = order(o, pass).zipWithIndex.map { case (name, i) => runOp(spark, o, name, s"p$pass.op$i") }
    val wallS = (nowUs() - t0) / 1e6
    val (cpuS, gcS, compiles) = (cpuSeconds() - cpu0, gcSeconds() - gc0, codegenCompiles() - cg0)
    val layers = tracer.map { t =>
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      collectSpans(pass, ops, t, spans)
      layerMetrics(t, ops, wallS, cpuS, gcS, compiles)
    }.getOrElse(Map.empty)
    PassRec(tracer.isDefined, wallS, cpuS, gcS, compiles, ops, layers)
  }

  private def collectSpans(pass: Int, ops: Seq[OpRec], t: Tracer, spans: mutable.ArrayBuffer[Span]): Unit = {
    ops.zipWithIndex.foreach { case (op, i) =>
      val id = s"p$pass.op$i"
      spans += Span(id, s"pass$pass", s"op:${op.name}", op.startUs, op.endUs)
      spans += Span(s"$id.build", id, "queries.build", op.startUs, op.buildUs)
      spans += Span(s"$id.execute", id, "execute", op.buildUs, op.endUs)
    }
    // Catalyst phases carry no job group: parent each on the operation
    // phase (build or execute) whose interval holds its start
    t.planPhases.zipWithIndex.foreach { case ((s, e), k) =>
      val sUs = s * 1000L
      val parent = ops.zipWithIndex.collectFirst {
        case (op, i) if sUs >= op.startUs / 1000L * 1000L && sUs <= op.endUs =>
          if (sUs < op.buildUs) s"p$pass.op$i.build" else s"p$pass.op$i.execute"
      }.getOrElse(s"pass$pass")
      spans += Span(s"p$pass.plan$k", parent, "catalyst.plan", sUs, e * 1000L)
    }
    spans ++= t.spans.map(s => s.copy(id = s"p$pass.${s.id}",
      parent = if (s.parent.startsWith("p")) s.parent else s"p$pass.${s.parent}"))
  }

  private def layerMetrics(t: Tracer, ops: Seq[OpRec], wallS: Double, cpuS: Double,
      gcS: Double, compiles: Long): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val jobS = Tracer.unionLength(t.jobIntervals.toSeq) / 1e3
    Map(
      "tables.bytes_read" -> t.bytesRead.toDouble,
      "tables.rows_read" -> t.rowsRead.toDouble,
      "queries.build_s" -> ops.map(o => o.buildUs - o.startUs).sum / 1e6,
      "queries.build_jobs" -> t.buildJobs.toDouble,
      "catalyst.plan_s" -> t.planPhases.map { case (s, e) => e - s }.sum / 1e3,
      "catalyst.plan_nodes" -> t.planNodes.toDouble,
      "catalyst.codegen_compiles" -> compiles.toDouble,
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> (wallS - jobS),
      "spark.driver_cpu_s" -> (cpuS - t.taskCpuNs / 1e9),
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9,
      "spark.task_run_s" -> t.taskRunMs / 1e3,
      "spark.task_wait_s" -> t.taskWaitMs / 1e3,
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_mb" -> t.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> t.shuffleRead / mb,
      "spark.spill_mb" -> t.spill / mb,
      "spark.task_failures" -> t.taskFailures.toDouble)
  }

  // ---- context --------------------------------------------------------

  /** `graft.Bench`'s two host-weather sentinels, one sample each:
    * diagnostics recorded with every result, never metrics. */
  private def anchors(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.sum
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val cpu = timed(spark.range(0L, 64000000L, 1L, 32)
      .selectExpr("sum(id * (id % 7)) as s").collect())
    val shuffle = timed(spark.range(0L, 8000000L, 1L, 32)
      .selectExpr("id % 100000 as k", "id as v")
      .groupBy("k").agg(sum("v").as("sv"))
      .selectExpr("k % 977 as k2", "sv")
      .groupBy("k2").agg(sum("sv").as("s"))
      .selectExpr("sum(s) as t").collect())
    (cpu, shuffle)
  }

  // ---- main -----------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spans = mutable.ArrayBuffer.empty[Span]

    // 1. set-ups (session creation, then one untimed cold pass), with
    //    JIT warm-up passes after the first and after the last
    var spark: SparkSession = null
    def setup(): String = {
      if (spark != null) stopSession(spark)
      val memo0 = memoBuilds().values.sum
      val t0 = nowUs()
      spark = newSession(o)
      val sessionS = (nowUs() - t0) / 1e6
      val cold = runPass(spark, o, 0, None, spans)
      J.obj(
        "total_s" -> J.num((nowUs() - t0) / 1e6),
        "session_s" -> J.num(sessionS),
        "cold_pass_s" -> J.num(cold.wallS),
        "memo_build_s" -> J.num(memoBuilds().values.sum - memo0),
        "cold_ops_ms" -> J.obj(cold.ops.map(op => op.name -> J.num(op.ms)): _*),
        "failures" -> J.arr(cold.ops.collect { case op if op.error.isDefined => J.str(s"${op.name}: ${op.error.get}") }))
    }
    def warm(first: Int): Seq[Double] =
      (first until first + WarmPasses).map(i => runPass(spark, o, -i, None, spans).wallS)
    val setups = mutable.ArrayBuffer(setup())
    val warmPasses = warm(1)
    while (setups.size < Setups) setups += setup()
    val lastWarmPasses = warm(1 + WarmPasses)

    // 2. timed passes, whole passes until the time is up
    val memoBefore = memoBuilds().values.sum
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = nowUs() + (o.seconds * 1e6).toLong
    while (passes.size < (if (o.trace) 4 else 1) || nowUs() < deadline) {
      val traced = o.trace && passes.size % 2 == 1
      passes += runPass(spark, o, passes.size + 1, if (traced) Some(new Tracer) else None, spans)
    }
    val memoInPass = memoBuilds().values.sum - memoBefore
    val graftCaches = graft.operators.GraftCaches.size
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

    // 3. untimed: results for the oracle check, then the weather sentinels
    val outDir = s"${o.work}/results"
    val checkErrors = o.ops.distinct.sorted.flatMap { name =>
      try {
        frame(spark, name, o.data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable => Some(name -> J.str(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    }
    Files.writeString(Paths.get(s"${o.work}/oracle_sql.json"),
      J.obj(o.ops.distinct.flatMap(n => SparkEntry.oracleSql.get(n).map(s => n -> J.str(s))): _*))
    val (anchorCpu, anchorShuffle) = anchors(spark)

    // traced runs: time the family memo warm-ups once, on a fresh session
    val memoWarm =
      if (!o.trace) J.obj()
      else {
        stopSession(spark)
        spark = newSession(o)
        val before = memoBuilds()
        val t0 = nowUs()
        if (o.ops.exists(_.startsWith("graph_"))) graft.queries.GraphQueries.warmFamily(spark, o.data)
        if (o.ops.exists(n => n.startsWith("llm_") || n.startsWith("mm_")))
          graft.queries.LlmExtra.warmSharedLlm(spark, o.data)
        val kinds = memoBuilds().map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        J.obj("total_s" -> J.num((nowUs() - t0) / 1e6),
          "kinds" -> J.obj(kinds.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*))
      }
    val sparkVersion = spark.version
    stopSession(spark)

    if (o.trace) Files.write(Paths.get(s"${o.work}/spans.jsonl"), spans.map { s =>
      J.obj("id" -> J.str(s.id), "parent" -> J.str(s.parent), "name" -> J.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)
    }.asJava)

    def passJson(p: PassRec): String = J.obj(
      "traced" -> p.traced.toString,
      "wall_s" -> J.num(p.wallS), "cpu_s" -> J.num(p.cpuS), "gc_s" -> J.num(p.gcS),
      "codegen_compiles" -> p.compiles.toString,
      "ops" -> J.arr(p.ops.map(op => J.obj(
        "name" -> J.str(op.name), "ms" -> J.num(op.ms),
        "build_ms" -> J.num((op.buildUs - op.startUs) / 1e3),
        "error" -> op.error.map(J.str).getOrElse("null")))),
      "layers" -> J.obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*))

    val record = J.obj(
      "workload" -> J.str(o.workload),
      "seed" -> o.seed.toString,
      "ops" -> J.arr(o.ops.map(J.str)),
      "context" -> J.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "spark_version" -> J.str(sparkVersion),
        "java_version" -> J.str(System.getProperty("java.version")),
        "anchor_cpu_s" -> J.num(anchorCpu),
        "anchor_shuffle_s" -> J.num(anchorShuffle)),
      "setups" -> J.arr(setups.toSeq),
      "warm_pass_s" -> J.arr((warmPasses ++ lastWarmPasses).map(J.num)),
      "passes" -> J.arr(passes.toSeq.map(passJson)),
      "memo_build_in_pass_s" -> J.num(memoInPass),
      "graft_caches" -> graftCaches.toString,
      "cache_mb" -> J.num(cacheMb),
      "memo_warm" -> memoWarm,
      "check_errors" -> J.obj(checkErrors: _*))
    Files.writeString(Paths.get(o.out), record)
  }
}

/** Minimal JSON writer: values are passed pre-rendered. */
private object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
