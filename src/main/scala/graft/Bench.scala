package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every `SparkEntry.queries` entry at
  * SPARK_GRAFT_SF_DIR and emits the results as JSON.
  *
  * Output protocol (the driver captures only the LAST 2000 bytes of
  * stdout — measured from BENCH_r01/r02.json, both of which ended up
  * `parsed: null` because a single ~2.3KB line with ~95 per-query
  * timings was head-truncated mid-JSON):
  *   1. the COMPLETE result JSON is written to `BENCH_LOCAL.json` in the
  *      working directory — the durable, reproducible artifact;
  *   2. per-query timings stream out as short `queries_part` lines
  *      (each well under the tail budget, so the trailing parts survive
  *      in the capture);
  *   3. the FINAL line is the canonical
  *      `{"metric":"total","value":…,"unit":"sec","queries":{…},"sf":…}`
  *      shape, with the queries map trimmed (slowest first, count in
  *      "queries_omitted") only if the full line would blow the tail
  *      budget — so the driver's tail always ends with one complete,
  *      parseable JSON line carrying the total.
  */
object Bench {
  private def fmt(v: Double): String = f"$v%.3f"

  /** Seconds one warm-up takes: a family's memos, or the untimed `jit`
    * query. A failure ends the run with an exception naming it:
    * swallowed, it would only resurface as one-off work (memo builds,
    * session and codegen start-up) inside a timed query row — a slower
    * row, not a visible failure. */
  private[graft] def warmUp(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Exception =>
      throw new IllegalStateException(s"$name warm-up failed: $e", e)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to the named queries —
    // the sf100-lite probe times just the slowest sf10 rows without
    // paying a 282-query pass at 100x data. Unset (the driver's mode)
    // runs the full inventory; unknown names fail loudly rather than
    // silently shrinking the probe.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      only match {
        case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
        case None        => SparkEntry.queries
      }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalescing by ADVISORY SIZE, not core count (round 16,
      // guide §2.2): the default parallelismFirst=true only coalesces
      // down to the session's parallelism, so a KB-sized shuffle still
      // ran one task wave per core at every exchange; Spark's own docs
      // recommend false in production ("to make resource utilization
      // more efficient"), and the advisory size (64 MB default) keeps
      // big shuffles at full width at any scale — this is the
      // scale-honest posture, not a local-mode tune.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a failed warm-up stops the session and ends the run non-zero
    def stopOnFail[T](body: => T): T =
      try body catch { case e: IllegalStateException => spark.stop(); throw e }
    // untimed warm-up: session init, parquet reader, codegen JIT — the
    // ~5s one-off otherwise lands on whichever query runs first
    stopOnFail(warmUp("jit")(SparkEntry.queries("scan_parquet_project")(spark, sfDir).count()))
    // host-weather calibration anchor: a FIXED, O(1)-data, CPU-bound
    // sentinel (64M-row range aggregate, no I/O, no SF dependence)
    // whose median-of-5 runtime scales only with host speed. Emitted
    // as "anchor_sec" so cross-round totals can be weather-normalized
    // mechanically (total/anchor_sec is host-invariant); the `noise`
    // field provably cannot do this — it detects intra-run burstiness,
    // not a uniformly loaded host (r10: 1.88x inflated total at noise
    // 1.16). MEDIAN, not min: the anchor must READ the slowdown the
    // queries experienced, not heal it. Convention in BASELINE.md.
    val anchorSec = {
      def one(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 64000000L, 1L, 32)
          .selectExpr("sum(id * (id % 7)) as s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      one() // untimed codegen/JIT warm for the anchor itself
      val xs = Array.fill(5)(one()).sorted
      xs(2)
    }
    // second anchor, SHUFFLE-flavored (round-12, judge-requested): the
    // CPU anchor provably misses scheduler/IO weather — r11's closing
    // samples spread 1.32x anchor-normalized at EQUAL CPU anchors in a
    // tight uniform per-query band, i.e. contention the range-aggregate
    // sentinel never touches. This one is a fixed O(1)-data two-exchange
    // pipeline (8M rows → 100k-key hash agg → 977-key re-agg → scalar),
    // so its median-of-5 carries shuffle-write/fetch + scheduler
    // round-trip weather. Read BOTH: CPU anchor flat + shuffle anchor
    // high = scheduler/IO contention, not an engine regression.
    val anchorShuffleSec = {
      def one(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 8000000L, 1L, 32)
          .selectExpr("id % 100000 as k", "id as v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("sv"))
          .selectExpr("k % 977 as k2", "sv")
          .groupBy("k2").agg(org.apache.spark.sql.functions.sum("sv").as("s"))
          .selectExpr("sum(s) as t").collect()
        (System.nanoTime() - t0) / 1e9
      }
      one() // untimed warm
      val xs = Array.fill(5)(one()).sorted
      xs(2)
    }
    // family-memo warm-up (round-14 verdict task 4): the graph family
    // derives shared artifacts once per (session, dir) — left cold,
    // that one-off cost lands on whichever graph query runs FIRST in
    // pass 1, so per-query timings alias cache attribution and shift
    // whenever run order changes (r14's graph_components "+28% on
    // unchanged code"). Warm the family before the timed passes and
    // report the seconds as their own field; skipped when the probe
    // selection has no graph queries.
    val memoWarmSec = stopOnFail {
      (if (selected.keysIterator.exists(_.startsWith("graph_")))
        warmUp("graph")(graft.queries.GraphQueries.warmFamily(spark, sfDir))
      else 0.0) +
      // round-15: the LLM/ANN family grew its own shared memos
      // (signature table, brute-force truth, HNSW graph, both BPE
      // trainings) — warm them under the same attribution convention
      // (cost visible here, not aliased onto the first consumer query)
      (if (selected.keysIterator.exists(_.startsWith("llm_")))
        warmUp("llm")(graft.queries.LlmExtra.warmSharedLlm(spark, sfDir))
      else 0.0)
    }
    // min over two INTERLEAVED passes: single-shot timings on a shared VM
    // see multi-second host stalls (observed 10-20x on random queries);
    // back-to-back repeats of one query sit inside the same stall, so the
    // passes run the full suite twice instead — a stall lands on
    // different queries each pass and the per-query min heals it
    // a failed query must NOT masquerade as a fast success: its timing is
    // analysis-exception time, not work. Track the failure and surface it
    // as value -1.0 plus an "errors" key — a benchmark that can't
    // distinguish "fast" from "crashed" masks exactly the regression it
    // exists to catch.
    def pass(): Map[String, (Double, Option[String])] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
        name -> (((System.nanoTime() - t0) / 1e9, err))
      }
    val p1 = pass(); val p2 = pass()
    val errors: Map[String, String] = p1.flatMap { case (k, (_, e1)) =>
      // transient single-pass failure (host stall, OOM blip) with a clean
      // other pass keeps the clean timing; both-pass failure is an error
      (e1, p2(k)._2) match {
        case (Some(m), Some(_)) => Some(k -> m)
        case _                  => None
      }
    }
    val results = p1.map { case (k, (t1, e1)) =>
      val (t2, e2) = p2(k)
      k -> ((e1, e2) match {
        case (Some(_), Some(_)) => -1.0 // broken both passes: marker, not a timing
        case (Some(_), None)    => t2
        case (None, Some(_))    => t1
        case (None, None)       => math.min(t1, t2)
      })
    }
    val total = results.values.filter(_ >= 0).sum
    // host-weather readout: p50 of the per-query two-pass ratio
    // (slower/faster). ≈1.0 = quiet host; the shared VM's bursty
    // contention shows up as a fat ratio median, letting the driver
    // tell an engine regression from host weather (convention in
    // BASELINE.md "Bench noise"). Only both-pass-clean queries count.
    val ratios = p1.toSeq.collect {
      case (k, (t1, None)) if p2(k)._2.isEmpty && math.min(t1, p2(k)._1) > 1e-9 =>
        math.max(t1, p2(k)._1) / math.min(t1, p2(k)._1)
    }.sorted
    val noise = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def entry(kv: (String, Double)): String = "\"" + kv._1 + "\":" + fmt(kv._2)
    // full error messages go in the durable artifact; the tail-budgeted
    // stdout line carries count + names only so 38 errors can't truncate it
    val errFull =
      if (errors.isEmpty) ""
      else s""","errors":${errors.toSeq.sortBy(_._1).map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")}"""
    val errNames =
      if (errors.isEmpty) ""
      else {
        // 40-name cap keeps the tail line bounded; the sentinel records
        // how many were cut so a 40+-error round reads as truncated, not
        // as exactly 40 errors
        val names = errors.keys.toSeq.sorted
        val kept = names.take(40)
        val trunc =
          if (names.size > kept.size) s""","error_queries_truncated":${names.size - kept.size}"""
          else ""
        s""","error_queries":${kept.map(jstr).mkString("[", ",", "]")}$trunc"""
      }
    // mechanical weather normalization (round-14 verdict task 6): both
    // r13 and r14 DRIVER benches ran at shuffle anchor 0.79–0.88 vs
    // the documented quiet band 0.40–0.55, so graded totals were
    // weather-ceiling numbers two rounds running and the gate had to
    // be re-derived from BASELINE prose. QUIET_SHUFFLE = the band's
    // top: an in-band sample is left untouched (min with 1), a
    // contended one scales down by quiet/measured. The correction
    // treats the whole total as shuffle-bound — an over-heal on
    // CPU-bound rows — so read [anchor_normalized_total, value] as the
    // quiet total's bracket, not a point estimate (BASELINE.md
    // "Anchor-normalized totals").
    val quietShuffleTop = 0.55
    val anchorNormTotal =
      if (anchorShuffleSec > 0) total * math.min(1.0, quietShuffleTop / anchorShuffleSec)
      else total
    // ONE sum-comparable headline (round-15 verdict task 1): the warm-up
    // moves shared-memo builds out of `value`, so `value` alone is not
    // comparable to rounds ≤ 14 (which paid those builds inside query
    // rows). graded_total = value + memo_warm_sec restores the single
    // conservative total that counts ALL work this invocation did;
    // BASELINE.md "Graded totals" records the convention.
    val gradedTotal = total + memoWarmSec
    def line(qs: Seq[(String, Double)], omitted: Int, errPart: String): String = {
      val extra = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qs.map(entry).mkString("{", ",", "}")}$extra,"error_count":${errors.size},"noise":${fmt(noise)},"anchor_sec":${fmt(anchorSec)},"anchor_shuffle_sec":${fmt(anchorShuffleSec)},"anchor_normalized_total":${fmt(anchorNormTotal)},"memo_warm_sec":${fmt(memoWarmSec)},"graded_total":${fmt(gradedTotal)}$errPart,"sf":"$sfDir"}"""
    }
    val all = results.toSeq.sortBy { case (_, v) => -v } // slowest first
    // durable full artifact (cwd = repo root under sbt); a filtered probe
    // run must not clobber the full-inventory artifact, so it lands in
    // BENCH_PROBE.json instead
    val artifact = if (only.isDefined) "BENCH_PROBE.json" else "BENCH_LOCAL.json"
    // per-kind memo build seconds (loop-driving builds only — lazy
    // cache() builds materialize inside the warm-up count and read ~0
    // here) go in the durable artifact, not the tail-budgeted line
    val memoPart = {
      val bs = graft.operators.SessionMemo.buildSeconds.toSeq.sortBy(_._1)
      if (bs.isEmpty) ""
      else s""","memo_build":${bs.map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{", ",", "}")}"""
    }
    try {
      val w = new java.io.PrintWriter(artifact)
      try w.println(line(all, 0, errFull + memoPart)) finally w.close()
    } catch { case _: Throwable => () }
    // short per-query chunk lines: each stays far below the 2000-byte
    // tail capture, so the trailing chunks + final line survive intact
    val chunks = all.grouped(25).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"parts":${chunks.size},"queries":${c.map(entry).mkString("{", ",", "}")}}""")
    }
    // final canonical line, trimmed to the tail budget if needed
    val budget = 1600 // leave room for sbt's trailing "[success]" line
    val full = line(all, 0, errNames)
    println(
      if (full.length <= budget) full
      else {
        var kept = all
        while (kept.nonEmpty && line(kept, all.size - kept.size, errNames).length > budget)
          kept = kept.dropRight(1)
        val candidate = line(kept, all.size - kept.size, errNames)
        if (candidate.length <= budget) candidate
        else
          // pathological 40+-error case: the name list alone blows the
          // budget even with zero query timings — drop the names, keep
          // the counts (full names live in BENCH_LOCAL.json regardless)
          line(kept, all.size - kept.size,
            s""","error_queries":[],"error_queries_truncated":${errors.size}""")
      })
    spark.stop()
  }
}
