package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.materialize
import graft.tables.Tables.t
import graft.operators.GraftCaches.persist

/** Data-quality / warehouse-utility operators (SURVEY §2.B dq_* and
  * event_* rows): the profiling, anomaly-flagging, and cohort readouts
  * every production table pipeline runs next to its queries.
  */
object Quality {

  /** Schema profile of the orders table: per column, null count,
    * exact distinct count, and min/max (rendered to strings so
    * heterogeneous columns share one output schema; numerics go
    * through native-typed min/max FIRST, then format — a string-typed
    * min would sort lexicographically and be wrong).
    *
    * Shape: ONE projection scan persisted (columns under profile
    * only), then one aggregate per column UNION'd — each aggregate has
    * a single countDistinct, which Catalyst rewrites to a two-phase
    * group-then-count with NO Expand. The previous all-in-one
    * aggregate planned a 6× Expand (one replica of every row per
    * DISTINCT aggregate) through a single shuffle — measured 2.3 s vs
    * 0.43 s for this form at sf0.1. At 100 TB the same trade holds:
    * N cheap cache passes beat one pass that multiplies the row count
    * by N; the cached projection is the profiled columns only. */
  def dqSchemaProfile(s: SparkSession, dir: String): DataFrame = {
    val specs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      ("o_orderkey", col("o_orderkey"), (c: org.apache.spark.sql.Column) => c.cast("string")),
      ("o_custkey", col("o_custkey"), (c: org.apache.spark.sql.Column) => c.cast("string")),
      ("o_orderstatus", col("o_orderstatus"), (c: org.apache.spark.sql.Column) => c),
      // exact 2-decimal money: format via decimal so both engines print
      // identical '123.40' strings (raw double rendering differs)
      ("o_totalprice", col("o_totalprice"), (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)").cast("string")),
      ("o_orderdate", col("o_orderdate").cast("date"), (c: org.apache.spark.sql.Column) => c.cast("string")),
      ("o_orderpriority", col("o_orderpriority"), (c: org.apache.spark.sql.Column) => c))
    val proj = persist(t(s, dir, "orders")
      .select(specs.map { case (n, c, _) => c.as(n) }: _*))
    specs.map { case (n, _, str) =>
      val c = col(n)
      proj.agg(
          (count(lit(1)) - count(c)).as("n_nulls"),
          countDistinct(c).as("n_distinct"),
          str(min(c)).as("min_val"),
          str(max(c)).as("max_val"))
        .select(lit(n).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
      .orderBy("col_name")
  }

  /** Daily-volume anomaly flags over the events stream: per day, event
    * count, a z-score against the whole series (sample stddev), and an
    * |z| ≥ 1.5 flag — the monitoring query a pipeline health dashboard
    * runs. Two tiny aggregates (the daily rollup is one shuffle; the
    * z-normalization runs over the ~30-row daily series via an
    * unpartitioned window, which is safe precisely because the series
    * length is days, not rows — the 100 TB of raw events never passes
    * through the global window). */
  def dqAnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy()
    daily
      .withColumn("z", round(
        (col("n_events") - avg("n_events").over(w)) / stddev_samp("n_events").over(w), 2))
      .withColumn("is_anomaly", abs(col("z")) >= 1.5)
      .select("day", "n_events", "z", "is_anomaly")
      .orderBy("day")
  }

  /** Weekly cohort retention over the events stream: users are cohorted
    * by the week of their first purchase; each (cohort week ×
    * weeks-since) cell counts the distinct users still purchasing — the
    * classic triangular retention matrix. Shapes: first-seen is one
    * groupBy on user_id; the join back is on the same key (the exchange
    * is reused, no second full shuffle of events); the output is
    * bounded by weeks², never by users. */
  def eventCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = e.groupBy("user_id").agg(min(col("d")).as("c0"))
    e.join(cohort, "user_id")
      .select(
        date_trunc("week", col("c0")).cast("date").as("cohort_week"),
        call_function("div", datediff(col("d"), col("c0")), lit(7)).as("age_weeks"),
        col("user_id"))
      .groupBy("cohort_week", "age_weeks")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** COHORT LTV CURVE — `event_cohort_retention`'s revenue twin and the
    * readout that decides acquisition spend: per signup-week cohort and
    * age week, the CUMULATIVE revenue per cohort member in exact cents
    * (the running sum over age — one bounded window per cohort after
    * the (cohort, age) census) plus the per-user average as a half-up
    * integer ratio. Cohort size is the week-0 distinct-user count,
    * frozen for the whole curve (the standard LTV denominator — later
    * weeks divide by the ORIGINAL cohort, not survivors).
    *
    * Scale: one corpus pass to the (cohort, age) census (map-side
    * combined), windows over |cohorts|·|ages| rows only. */
  def eventCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        (Num.money(col("value")) * 100).cast("long").as("cents"))
    val cohort = e.groupBy("user_id").agg(min(col("d")).as("c0"))
    val labeled = e.join(cohort, "user_id")
      .select(date_trunc("week", col("c0")).cast("date").as("cohort_week"),
        call_function("div", datediff(col("d"), col("c0")), lit(7)).as("age_weeks"),
        col("user_id"), col("cents"))
    val size = labeled.filter(col("age_weeks") === 0)
      .groupBy("cohort_week").agg(countDistinct("user_id").as("cohort_size"))
    val census = labeled.groupBy("cohort_week", "age_weeks")
      .agg(sum("cents").as("week_cents"))
    val wCum = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("cum_cents", sum("week_cents").over(wCum))
      .join(size, "cohort_week")
      .select(col("cohort_week"), col("age_weeks"), col("week_cents"),
        col("cum_cents"), col("cohort_size"),
        Num.ratio(col("cum_cents"), col("cohort_size") * 100, 2).as("ltv_per_user"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** Referential-integrity audit: for each declared FK edge of the
    * star schema, how many child rows point at a missing parent. Each
    * check is one left join against the DISTINCT parent keys (the dims
    * broadcast; the fact side streams map-only) + one count_if — so
    * the whole audit is a scan per fact table, no matter how many
    * million parent keys, and a 100 TB fact table audits in one pass.
    * A healthy warehouse reports all-zero orphans; the row counts
    * prove the checks actually ran. */
  def dqFkOrphans(s: SparkSession, dir: String): DataFrame = {
    // One scan per FACT TABLE, not per FK: all of a fact's checks chain
    // as left joins against the distinct parent keys on that one scan
    // (small dims broadcast; the orders-keys join is the single shuffle),
    // then ONE aggregate computes every check's counters and `stack`
    // unpivots them to per-check rows. lineitem — the 100 TB table —
    // is read exactly once for its three FK edges.
    def audit(child: DataFrame, fks: Seq[(String, String, DataFrame, String)]): DataFrame = {
      var df = child.select(fks.map { case (_, ck, _, _) => col(ck) }.distinct: _*)
      fks.zipWithIndex.foreach { case ((_, ck, parent, pk), i) =>
        df = df.join(
          parent.select(col(pk).as(s"__p$i")).distinct(),
          col(ck) === col(s"__p$i"), "left")
      }
      val counters = fks.zipWithIndex.flatMap { case ((_, ck, _, _), i) => Seq(
        count_if(col(s"__p$i").isNull).as(s"__o$i"),
        countDistinct(when(col(s"__p$i").isNull, col(ck))).as(s"__k$i"))
      }
      val stackArgs = fks.zipWithIndex
        .map { case ((name, _, _, _), i) => s"'$name', __o$i, __k$i" }
        .mkString(", ")
      df.agg(count(lit(1)).as("n_child_rows"), counters: _*)
        .selectExpr("n_child_rows",
          s"stack(${fks.length}, $stackArgs) AS (fk_check, n_orphans, n_orphan_keys)")
        .select("fk_check", "n_child_rows", "n_orphans", "n_orphan_keys")
    }
    val (c, o, l, p, su) = (t(s, dir, "customer"), t(s, dir, "orders"),
      t(s, dir, "lineitem"), t(s, dir, "part"), t(s, dir, "supplier"))
    audit(o, Seq(("orders.custkey->customer", "o_custkey", c, "c_custkey")))
      .union(audit(l, Seq(
        ("lineitem.orderkey->orders", "l_orderkey", o, "o_orderkey"),
        ("lineitem.partkey->part", "l_partkey", p, "p_partkey"),
        ("lineitem.suppkey->supplier", "l_suppkey", su, "s_suppkey"))))
      .orderBy("fk_check")
  }

  /** Declarative row-rule audit over orders: each rule is a predicate,
    * the report is per-rule violation count + rate. ALL rules evaluate
    * in ONE scan (a count_if per rule inside a single aggregate, then
    * `stack` to rows) — adding a rule costs zero extra I/O, which is
    * the property that matters when the table is 100 TB. Rates via
    * exact integer half-up math. Zero AND nonzero rules are both
    * present on purpose: all-zero output can't prove the predicates
    * ever fired. */
  def dqValueRules(s: SparkSession, dir: String): DataFrame = {
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("date_after_1999", col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
      ("null_custkey", col("o_custkey").isNull),
      ("price_gt_400k", col("o_totalprice") > 400000.0),
      ("price_nonpositive", col("o_totalprice") <= 0.0),
      ("status_unknown", !col("o_orderstatus").isin("O", "F", "P")))
    val aggs = rules.map { case (n, p) => count_if(p).as(s"v_$n") }
    val stackArgs = rules.map { case (n, _) => s"'$n', v_$n" }.mkString(", ")
    t(s, dir, "orders")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .selectExpr("n_rows", s"stack(${rules.length}, $stackArgs) AS (rule_name, n_violations)")
      .select(col("rule_name"), col("n_violations"),
        Num.ratio(col("n_violations"), col("n_rows"), 4).as("violation_rate"))
      .orderBy("rule_name")
  }

  /** Build a slowly-changing-dimension TYPE 2 history from an event
    * log: each customer's order-priority observations collapse to
    * validity intervals [valid_from, valid_to) — consecutive repeats of
    * the same value merge (lag comparison), each change closes the
    * prior interval (lead), the last interval stays open
    * (valid_to = NULL, is_current = true). Two window passes over one
    * (custkey) shuffle, no self-join — the standard warehouse
    * dimension-build, and at 100 TB the per-key history is bounded so
    * every window frame stays small. Ties inside a day break on
    * orderkey for a deterministic history. */
  def dimScd2Build(s: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val obs = t(s, dir, "orders")
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority").as("attr"))
      .withColumn("prev_attr", lag("attr", 1).over(byKey))
      .filter(col("prev_attr").isNull || col("attr") =!= col("prev_attr"))
    val chg = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    obs.withColumn("valid_to", lead("o_orderdate", 1).over(chg))
      .select(col("o_custkey"), col("attr"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        col("o_orderkey").as("obs_orderkey"))
      .orderBy("o_custkey", "valid_from", "obs_orderkey")
  }

  /** SCD2 point-in-time lookup — the canonical warehouse as-of join:
    * every fact resolves the dimension VERSION valid at its own date
    * (half-open [valid_from, valid_to) against the history
    * `dim_scd2_build` produces — one definition feeding two graded
    * readouts), rolled up per resolved attribute with exact cents.
    * This is the query SCD2 exists for; `dim_scd2_build` proves the
    * history builds, this proves it RESOLVES.
    *
    * Scale: the join is an EQUI-join on the dimension key with the
    * date-band as a residual filter (hash join, no range-join
    * explosion — per-key version chains are short by construction, so
    * the residual scans a handful of versions per fact); the rollup
    * is |attrs| rows. The spec asserts exactly-one-version coverage —
    * the invariant that makes the half-open convention correct. */
  def joinScd2Asof(s: SparkSession, dir: String): DataFrame = {
    val dim = dimScd2Build(s, dir)
      .select(col("o_custkey"), col("attr"), col("valid_from"), col("valid_to"))
    val facts = t(s, dir, "orders")
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderdate"),
        (Num.money(col("o_totalprice")) * 100).cast("long").as("cents"))
    facts.join(dim,
        facts("o_custkey") === dim("o_custkey") &&
          facts("o_orderdate") >= dim("valid_from") &&
          (dim("valid_to").isNull || facts("o_orderdate") < dim("valid_to")))
      .groupBy("attr")
      .agg(count(lit(1)).as("n_facts"),
        countDistinct(facts("o_custkey")).as("n_keys"),
        sum("cents").as("cents"))
      .orderBy("attr")
  }

  /** Time-bounded ordered pattern match (anchored-first semantics —
    * documented subset of full MATCH_RECOGNIZE): per user, the first
    * view, then the first click within 48 h AFTER that view, then the
    * first purchase within 48 h after that click. Each step is one
    * per-user min-aggregate plus one user-keyed join with a time-band
    * residual — never a per-user sort of the whole event history, so
    * a user with 10⁹ events costs the same joins as one with 10.
    * Output: converting users with step timestamps and total minutes
    * to convert. */
  def eventPatternFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 200)
    def step(prev: DataFrame, prevTs: String, typ: String, outTs: String) =
      ev.filter(col("event_type") === typ)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs) &&
          col("ts") <= col(prevTs) + expr("INTERVAL 48 HOURS"))
        .groupBy(prev.columns.map(col): _*) // prev carries user_id + prior step times
        .agg(min("ts").as(outTs))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = step(v, "v_ts", "click", "c_ts")
    val p = step(c, "c_ts", "purchase", "p_ts")
    p.select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
        call_function("div",
          unix_micros(col("p_ts")) - unix_micros(col("v_ts")),
          lit(60000000L)).as("mins_to_convert"))
      .orderBy("user_id")
  }

  /** Data-freshness audit per event type: latest event time, lag in
    * minutes behind the freshest type in the table, and the event count
    * inside the final 24 h of the stream — the staleness dashboard a
    * pipeline SLO monitor reads. Per-type aggregate + a ONE-ROW global
    * max attached via broadcast cross join (the single-row-scalar
    * pattern, whitelisted in PlanLintSpec); the conditional last-day
    * count rides the same aggregate pass, so the table is scanned
    * once per side at any scale. */
  def dqFreshness(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val perType = ev.groupBy("event_type")
      .agg(max("ts").as("latest"), count(lit(1)).as("n_events"))
    val global = ev.agg(max("ts").as("g_latest"))
    val lastDay = ev.crossJoin(broadcast(global))
      .filter(col("ts") > col("g_latest") - expr("INTERVAL 24 HOURS"))
      .groupBy("event_type").agg(count(lit(1)).as("n_last_day"))
    perType.crossJoin(broadcast(global))
      .join(lastDay, Seq("event_type"), "left")
      .select(col("event_type"), col("latest"),
        call_function("div",
          unix_micros(col("g_latest")) - unix_micros(col("latest")),
          lit(60000000L)).as("lag_minutes"),
        col("n_events"),
        coalesce(col("n_last_day"), lit(0L)).as("n_last_day"))
      .orderBy("event_type")
  }

  /** Multi-touch marketing attribution over the event stream: for each
    * purchase, every same-user click in the prior 7 days is a touch;
    * credit is assigned under three models at once — first-touch,
    * last-touch, and linear — and rolled up per channel. Linear credit
    * uses EXACT integer basis points (`10000 div n`, remainder to the
    * earliest touches), so each conversion distributes exactly 10000 bp
    * and the result is engine- and partition-independent — a float
    * 1/n·10000 sum would drift. One user-keyed equi-join with a time-
    * band residual (the stream_interval_join shape), one window per
    * conversion, one channel rollup. */
  def eventFunnelAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 100)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val touches = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"),
        concat(lit("ch"), pmod(col("event_id"), lit(4L))).as("channel"))
    val joined = purchases.join(touches,
      purchases("user_id") === touches("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    joined
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("linear_bp",
        call_function("div", lit(10000L), col("n")) +
          when(col("rn") <= pmod(lit(10000L), col("n")), 1L).otherwise(0L))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        count_if(col("rn") === 1).as("n_first"),
        count_if(col("rn") === col("n")).as("n_last"),
        sum("linear_bp").as("linear_bp"))
      .orderBy("channel")
  }

  /** U-SHAPED (position-based) ATTRIBUTION — the third standard model
    * next to `event_funnel_attribution`'s first/last/linear: 40% of
    * each conversion's credit to the first touch, 40% to the last, the
    * remaining 20% split across the middles — the model marketing
    * stacks default to when both discovery and closing matter. Credit
    * is EXACT integer basis points with the largest-remainder rule on
    * the middle split (the `agg_largest_remainder` discipline: base =
    * 2000 div (n−2), the n mod remainder points go to the EARLIEST
    * middles), so every conversion's credits sum to exactly 10000 —
    * the conservation law the spec pins — and the per-channel sums are
    * bit-identical in both engines. Degenerate journeys follow the
    * standard collapse: one touch takes 10000, two touches take 5000
    * each. Same journey definition as the sibling (clicks within 7
    * days before the purchase, channel = event_id mod 4).
    *
    * Scale: identical shape to `event_funnel_attribution` — one
    * user-keyed interval join, one per-conversion window (journeys are
    * week-bounded), one map-combined channel census. */
  def eventAttributionUshape(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") < 100)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val touches = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"),
        concat(lit("ch"), pmod(col("event_id"), lit(4L))).as("channel"))
    val joined = purchases.join(touches,
      purchases("user_id") === touches("user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("ushape_bp",
        when(col("n") === 1, lit(10000L))
          .when(col("n") === 2, lit(5000L))
          .when(col("rn") === 1 || col("rn") === col("n"), lit(4000L))
          .otherwise(
            call_function("div", lit(2000L), col("n") - 2) +
              when(col("rn") - 1 <= pmod(lit(2000L), col("n") - 2), 1L).otherwise(0L)))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_conversions"),
        sum("ushape_bp").as("ushape_bp"))
      .orderBy("channel")
  }

  /** Benford first-significant-digit screen over order totals — the
    * standard fabricated-data / unit-mixup detector for monetary
    * columns: natural multi-magnitude amounts follow
    * P(d) = log10(1 + 1/d); a synthetic or truncated column doesn't.
    * Digits come from exact integer cents (no float formatting
    * ambiguity), observed frequencies are exact half-up integer
    * ratios (`Num.ratio`), and the expectation is computed (not
    * tabulated) so the oracle mirrors the same log10 expression.
    * One map-side-combined aggregation over a single pruned column;
    * the 9-row share-of-total window is driver-trivial. */
  def dqBenford(s: SparkSession, dir: String): DataFrame = {
    val digits = t(s, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val byDigit = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val w = Window.partitionBy()
    byDigit
      .withColumn("n_total", sum("n_obs").over(w))
      .select(col("digit"), col("n_obs"),
        Num.ratio(col("n_obs"), col("n_total"), 4).as("obs_freq"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 4).as("exp_freq"))
      .withColumn("abs_dev", round(abs(col("obs_freq") - col("exp_freq")), 4))
      .orderBy("digit")
  }

  /** Chi-square GOODNESS-OF-FIT against the Benford expectation — the
    * one-sample member the `dq_chi_square` (independence) / `dq_ks_test`
    * / `dq_mann_whitney` family was missing. The Benford probabilities
    * enter as exact ppm INTEGER constants (the rounded 6-decimal
    * log10(1+1/d) table, which sums to exactly 1 000 000), so expected
    * counts, per-digit terms and the statistic are integer arithmetic
    * end-to-end: term_d = ⌊(10⁶·O_d − n·ppm_d)² / (n·ppm_d)⌋ is χ²·10⁶
    * units with the square carried in DECIMAL(38,0) (HUGEINT in the
    * oracle — BIGINT would wrap at ~sf10). The verdict follows the
    * floored-integer discipline: each term is floored so Σterms ≤ true
    * χ²·10⁶, and Σterms ≥ ⌈χ²₀.₀₅(8)·10⁶⌉ = ⌈15 507 313.06⌉ =
    * 15 507 314 therefore implies the true χ² exceeded the critical
    * value too (a threshold below the true ceiling would not be sound:
    * Σterms in [⌈·⌉−k, ⌈·⌉−1] could reject while true χ² sits under
    * the critical value).
    *
    * Scale: ONE map-combined corpus aggregate to the ≤9-row digit
    * census; every window/join below it runs on those 9 rows (the
    * expectation table is a 9-row broadcast). */
  def dqBenfordGof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exp = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      .toDF("digit", "ppm")
    // persisted: the ≤9-row census feeds TWO consumers (the chi2 sum and
    // the scored readout) — without the pin the corpus aggregate runs
    // twice (the dq_chi_square derived-table rule; plan-audited r11)
    val byDigit = persist(
      t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs")))
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val scored = byDigit
      .withColumn("n_total", sum("n_obs").over(Window.partitionBy()))
      .join(broadcast(exp), "digit")
      .withColumn("exp_micro", col("n_total") * col("ppm"))
      .withColumn("term_micro", call_function("div",
        d38(d38(lit(1000000L) * col("n_obs")) - d38(col("exp_micro"))) *
          d38(d38(lit(1000000L) * col("n_obs")) - d38(col("exp_micro"))),
        d38(col("exp_micro"))))
    val chi = scored.agg(sum("term_micro").as("chi2_micro"))
    scored.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"), col("n_total"), col("exp_micro"),
        col("term_micro"), col("chi2_micro"), lit(8L).as("df"),
        (col("chi2_micro") >= lit(15507314L)).as("benford_reject"))
      .orderBy("digit")
  }

  /** Batch sessionization of the event stream — the gap rule (a session
    * breaks after > 8 h of user inactivity) as two windows and two
    * aggregates: lag marks boundaries, a running sum of the marks labels
    * sessions, one (user, session) rollup sizes them, one per-user rollup
    * reads out session count / events-per-session / longest span. The
    * batch twin of `stream_session_window`, and the canonical feature-
    * engineering step before funnel or retention work.
    *
    * Scale: everything after the single (user_id) exchange is per-key
    * sequential — sort + two windows + map-side-combined aggregates in
    * one stage. Gap flags are tie-safe: equal timestamps give gap 0
    * regardless of their order, and event_id breaks residual ordering
    * ties, so the labeling is deterministic at any parallelism. */
  def eventSessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 8L * 3600L * 1000000L
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(ord))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(ord))
    val sessions = flagged.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("s_start"), max("ts").as("s_end"))
    sessions.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        Num.ratio(sum("n_events"), count(lit(1)), 2).as("avg_events"),
        call_function("div",
          max(unix_micros(col("s_end")) - unix_micros(col("s_start"))),
          lit(60000000L)).as("max_span_min"))
      .orderBy("user_id")
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * standard CRM scoring: per purchasing user, days since last
    * purchase (vs the corpus's freshest purchase), purchase count, and
    * exact total cents; each dimension quintiled with `ntile(5)` under
    * a TOTAL order (value, then user_id) so bucket assignment is
    * deterministic in both engines, then a rule segment
    * (champion / loyal / at_risk / new / regular).
    *
    * Scale: one (user_id) aggregation collapses the event stream to one
    * row per user before anything global happens; the global max
    * timestamp is a one-row broadcast cross join (the whitelisted
    * single-row-scalar pattern, as in `dq_freshness`); the ntile
    * windows are unpartitioned BUT run over the aggregated user
    * dimension, not the event stream — at 100 TB that's the customer
    * count, and a production run swaps ntile for percentile cutpoints
    * computed once and broadcast (same output, no global sort). */
  def eventRfm(s: SparkSession, dir: String): DataFrame = {
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), (Num.money(col("value")) * 100).cast("long").as("cents"))
    val perUser = purchases.groupBy("user_id")
      .agg(max("ts").as("last_ts"), count(lit(1)).as("f"), sum("cents").as("m_cents"))
    val globalMax = purchases.agg(max("ts").as("g_latest"))
    def w(cs: org.apache.spark.sql.Column*) = Window.orderBy(cs: _*)
    val scored = perUser.crossJoin(broadcast(globalMax))
      .select(col("user_id"),
        call_function("div",
          unix_micros(col("g_latest")) - unix_micros(col("last_ts")),
          lit(86400000000L)).as("r_days"),
        col("f"), col("m_cents"))
      .withColumn("r_q", ntile(5).over(w(col("r_days").desc, col("user_id").desc)))
      .withColumn("f_q", ntile(5).over(w(col("f").asc, col("user_id").asc)))
      .withColumn("m_q", ntile(5).over(w(col("m_cents").asc, col("user_id").asc)))
    scored.select(col("user_id"), col("r_days"), col("f"),
        (col("m_cents").cast("double") / 100).as("monetary"),
        col("r_q"), col("f_q"), col("m_q"),
        when(col("r_q") >= 4 && col("f_q") >= 4 && col("m_q") >= 4, "champion")
          .when(col("f_q") >= 4 && col("m_q") >= 3, "loyal")
          .when(col("r_q") <= 2 && col("f_q") >= 4, "at_risk")
          .when(col("r_q") >= 4 && col("f_q") <= 2, "new")
          .otherwise("regular").as("segment"))
      .orderBy("user_id")
  }

  /** First-order Markov transition matrix of the user journey: for each
    * ordered (event_type → next event_type) step inside a user's
    * timeline, the transition count and conditional probability — the
    * user-flow model behind next-action prediction and funnel design.
    * One lead window over (ts, event_id) — a unique total order, so the
    * successor relation is deterministic at any parallelism — then two
    * tiny aggregates; probabilities are exact half-up ratios.
    *
    * Scale: one (user_id) exchange + per-key sort carries the lead
    * window; the transition rollup is map-side combined down to
    * |types|² rows before the wire, and the per-source totals join is
    * a broadcast of at most |types| rows. */
  def eventMarkovChain(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(ord))
      .filter(col("to_type").isNotNull)
    val cnt = tr.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("from_type").agg(sum("n").as("n_from"))
    cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        Num.ratio(col("n"), col("n_from"), 4).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Cross-table money reconciliation — the warehouse audit that
    * catches silent value drift between a header table and its detail
    * lines: per order, the exact-cent net of its lineitems
    * (`price − round(price·disc) + round(price·tax)` per line, the
    * repo's standard exact-decimal recipe) against the header's
    * `o_totalprice`, rolled up per order status as match counts and
    * diff magnitudes. On this synthetic star the header totals do NOT
    * derive from the lines (0 exact matches) — which is precisely what
    * the audit is for: the readout quantifies the drift instead of
    * assuming it away. `dq_fk_orphans` checks key integrity; this
    * checks VALUE integrity.
    *
    * Scale: the detail side collapses to one row per order in a
    * map-side-combined aggregate before the join; the join is
    * orderkey-to-orderkey (1:1), and the final rollup is |statuses|
    * rows. Integer cents end-to-end — no float drift in the thing
    * auditing for drift. */
  def dqReconcileTotals(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val price = Num.money(col("l_extendedprice"))
    val lineCents = (price * 100).cast("long") -
      round(price * Num.rate(col("l_discount")) * 100, 0).cast("long") +
      round(price * Num.rate(col("l_tax")) * 100, 0).cast("long")
    val perOrder = li.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(lineCents).as("line_cents"))
    val diff = (Num.money(col("o_totalprice")) * 100).cast("long") - col("line_cents")
    t(s, dir, "orders")
      .join(perOrder, Seq("o_orderkey"), "left")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        count(col("line_cents")).as("n_with_lines"),
        count_if(diff === 0).as("n_exact"),
        max(abs(diff)).as("max_abs_diff_cents"),
        call_function("div", sum(abs(diff)), count(col("line_cents")))
          .as("mean_abs_diff_cents"))
      .orderBy("o_orderstatus")
  }

  /** Behavioral drift between two deterministic user cohorts (even vs
    * odd user_id — the stand-in for "last week's traffic vs this
    * week's"): per event type, each cohort's share of its own volume
    * and the absolute share gap. Summing the gap column (÷2) gives
    * total-variation distance — the drift scalar monitoring systems
    * alert on. TVD instead of chi²/PSI is a deliberate exactness
    * choice: shares are exact half-up 6-decimal ratios (`Num.ratio`)
    * and the gap subtracts two identical-in-both-engines doubles, so
    * the readout is bit-stable, while PSI's log() would hang the gate
    * on libm rounding.
    *
    * Scale: one map-side-combined aggregation collapses the stream to
    * |event_type| rows (count_if per cohort — no pivot shuffle); the
    * cohort totals attach via the whitelisted single-row broadcast
    * cross join. Nothing here grows with the corpus. */
  def dqDistributionDrift(s: SparkSession, dir: String): DataFrame = {
    val even = col("user_id") % 2 === 0
    val cells = t(s, dir, "events")
      .groupBy("event_type")
      .agg(count_if(even).as("n_a"), count_if(!even).as("n_b"))
    val tot = cells.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"))
    val shareA = Num.ratio(col("n_a"), col("tot_a"), 6)
    val shareB = Num.ratio(col("n_b"), col("tot_b"), 6)
    cells.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        shareA.as("share_a"), shareB.as("share_b"),
        abs(shareA - shareB).as("share_gap"))
      .orderBy("event_type")
  }

  /** Activity-concentration (Lorenz) readout — "how top-heavy is the
    * user base": users ranked into activity deciles under the
    * deterministic (event count desc, user_id) total order, each
    * decile's user count, event mass, and exact half-up share of all
    * events. Decile 1's share is the "top-10% concentration" headline;
    * the full curve is the Lorenz table a Gini computation integrates.
    * Exact integers end-to-end — ntile over the AGGREGATED user
    * dimension (same posture as `event_rfm`), never the raw stream.
    *
    * Scale: corpus → \|users\| rows map-side; the ntile runs on the
    * user dimension; totals attach via the whitelisted single-row
    * broadcast. */
  def eventConcentration(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("n_events").desc, col("user_id"))
    val deciled = perUser.withColumn("decile", ntile(10).over(w))
    val tot = deciled.agg(sum("n_events").as("n_total"))
    deciled.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("n_events"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("n_events"),
        Num.ratio(col("n_events"), col("n_total"), 4).as("event_share"))
      .orderBy("decile")
  }

  /** User-lifecycle state census — the growth-accounting rollup every
    * product review starts with: each user classified against the
    * corpus horizon (the global max event time, attached via the
    * whitelisted single-row broadcast) as active (seen in the last 7
    * days), lapsing (7–14), or churned (older), with the user's span
    * and event count summarized per state. Day arithmetic is exact
    * epoch-µs floor division.
    *
    * Scale: one map-combined per-user aggregate (corpus → |users|
    * rows), one broadcast horizon, one |states| rollup. */
  def eventLifecycle(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy("user_id")
      .agg(max("ts").as("last_ts"), min("ts").as("first_ts"),
        count(lit(1)).as("n_events"))
    val horizon = perUser.agg(max("last_ts").as("h"))
    val idleDays = call_function("div",
      unix_micros(col("h")) - unix_micros(col("last_ts")), lit(86400000000L))
    perUser.crossJoin(broadcast(horizon))
      .select(col("user_id"), col("n_events"),
        call_function("div",
          unix_micros(col("last_ts")) - unix_micros(col("first_ts")),
          lit(86400000000L)).as("span_days"),
        when(idleDays < 7, "active")
          .when(idleDays < 14, "lapsing")
          .otherwise("churned").as("state"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_users"),
        sum("n_events").as("n_events"),
        Num.avgInt(col("span_days"), 2).as("avg_span_days"))
      .orderBy("state")
  }

  /** Surrogate-key gap audit — "is the id sequence really dense":
    * gap count, worst gap, and missing total over the distinct order
    * keys. The SCALE point is the two-level shape: adjacent-key gaps
    * are found with a window partitioned by key-BUCKET (k div 1024 —
    * bounded partitions, never a global sort), and the bucket-boundary
    * pairs are covered by a second window over the TINY bucket-summary
    * frame; together they see every adjacent pair, so the result is
    * identical to the oracle's simple global-lag form. Zero gaps on
    * healthy synthetic keys is the expected answer — the audit exists
    * for the day an ingest drops a batch.
    *
    * The three single-row combine joins are broadcast cross joins
    * (whitelisted class). */
  def dqSequenceGaps(s: SparkSession, dir: String): DataFrame = {
    val keys = persist(
      t(s, dir, "orders").select(col("o_orderkey").as("k")).distinct()
        .withColumn("b", call_function("div", col("k"), lit(1024L))))
    val gapLen = col("k") - col("prev") - 1
    val wIn = Window.partitionBy("b").orderBy("k")
    val inner = keys.withColumn("prev", lag("k", 1).over(wIn))
      .filter(col("prev").isNotNull && gapLen > 0)
      .agg(count(lit(1)).as("g_in"),
        coalesce(max(gapLen), lit(0L)).as("mx_in"),
        coalesce(sum(gapLen), lit(0L)).as("miss_in"))
    val bsum = keys.groupBy("b").agg(min("k").as("bmin"), max("k").as("bmax"))
    val wB = Window.orderBy("b")
    val crossGap = col("bmin") - col("prev") - 1
    val boundary = bsum.withColumn("prev", lag("bmax", 1).over(wB))
      .filter(col("prev").isNotNull && crossGap > 0)
      .agg(count(lit(1)).as("g_x"),
        coalesce(max(crossGap), lit(0L)).as("mx_x"),
        coalesce(sum(crossGap), lit(0L)).as("miss_x"))
    val tot = keys.agg(count(lit(1)).as("n_keys"),
      min("k").as("key_min"), max("k").as("key_max"))
    tot.crossJoin(broadcast(inner)).crossJoin(broadcast(boundary))
      .select(col("n_keys"), col("key_min"), col("key_max"),
        (col("g_in") + col("g_x")).as("n_gaps"),
        (col("miss_in") + col("miss_x")).as("missing_total"),
        greatest(col("mx_in"), col("mx_x")).as("max_gap_len"))
  }

  /** Robust outlier screen — Tukey's IQR fences next to
    * `dq_anomaly_zscore`'s parametric screen (the z-score breaks under
    * the heavy tails it is supposed to flag; quartiles don't): per
    * event type, exact discrete Q1/Q3 of the value in cents, fences at
    * Q1/Q3 ∓ floor(1.5·IQR) (floor-divided — identical integer in both
    * engines), and the count of values beyond each fence. Two passes:
    * the quartile pass is the cumulative-count discrete-percentile
    * form shared with `event_interarrival`; the recount pass joins the
    * |types|-row fence table back via broadcast and conditionally
    * counts — map-only against the stream. */
  def dqOutlierIqr(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .select(col("event_type"), (Num.money(col("value")) * 100).cast("long").as("c"))
    val cum = Window.partitionBy("event_type").orderBy("c")
    val tot = Window.partitionBy("event_type")
    val iqr15 = call_function("div", (col("q3_cents") - col("q1_cents")) * 3, lit(2L))
    val fences = base
      .withColumn("cw", count(lit(1)).over(cum))
      .withColumn("n", count(lit(1)).over(tot))
      .groupBy("event_type")
      .agg(
        min(when(col("cw") * 4 >= col("n"), col("c"))).as("q1_cents"),
        min(when(col("cw") * 4 >= col("n") * 3, col("c"))).as("q3_cents"))
      .select(col("event_type"), col("q1_cents"), col("q3_cents"),
        (col("q1_cents") - iqr15).as("lo_fence"), (col("q3_cents") + iqr15).as("hi_fence"))
    base.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(
        max("q1_cents").as("q1_cents"), max("q3_cents").as("q3_cents"),
        max("lo_fence").as("lo_fence"), max("hi_fence").as("hi_fence"),
        count_if(col("c") < col("lo_fence")).as("n_below"),
        count_if(col("c") > col("hi_fence")).as("n_above"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Snapshot-over-snapshot diff — the incremental-load audit: the
    * per-order shipped value as of 1998-01-01 (yesterday's load)
    * versus as of 2000-01-01 (today's), every order classified
    * added / changed / unchanged / absent, rolled up per order status
    * with exact-cent deltas. Shipping is append-only, so 'removed'
    * cannot occur — the audit proves it by construction (a removed
    * class appearing would be the corruption signal). This is the
    * generic two-snapshot data-diff every warehouse runs after a
    * backfill; `dim_scd2_build` tracks history, this one verifies it.
    *
    * Scale: each snapshot is one filtered map-side-combined per-order
    * aggregate (conditional sums in a SINGLE pass over lineitem — not
    * two scans), the diff is a 1:1 orderkey join with the header, and
    * the rollup is |status × class| rows. */
  def dimSnapshotCompare(s: SparkSession, dir: String): DataFrame = {
    val price = Num.money(col("l_extendedprice"))
    val cents = (price * 100).cast("long")
    val shipped = (cut: String) =>
      sum(when(to_date(col("l_shipdate")) <= lit(cut).cast("date"), cents)
        .otherwise(lit(0L)))
    val snap = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(shipped("1998-01-01").as("v_old"), shipped("2000-01-01").as("v_new"))
    // the null branch must come FIRST: an unmatched order's null v_old
    // nulls every comparison and would fall through to otherwise()
    val cls = when(col("v_old").isNull, "absent")
      .when(col("v_old") === 0 && col("v_new") === 0, "absent")
      .when(col("v_old") === 0, "added")
      .when(col("v_old") === col("v_new"), "unchanged")
      .otherwise("changed")
    t(s, dir, "orders")
      .join(snap, Seq("o_orderkey"), "left")
      .select(col("o_orderstatus"),
        cls.as("change_class"),
        coalesce(col("v_new") - col("v_old"), lit(0L)).as("delta_cents"))
      .groupBy("o_orderstatus", "change_class")
      .agg(count(lit(1)).as("n_orders"),
        sum("delta_cents").as("delta_cents"),
        max("delta_cents").as("max_delta_cents"))
      .orderBy("o_orderstatus", "change_class")
  }

  /** Top converting paths — the "what journeys end in a purchase"
    * readout: each user's first five event types in (ts, event_id)
    * order joined into a path string, counted, top-20 paths with their
    * purchase-containing share. Path assembly is one per-user sorted
    * aggregation (array_agg over the unique total order, sliced to 5);
    * the census is map-side combined to distinct-path cardinality.
    *
    * Scale: one (user_id) exchange builds paths; the path census
    * shuffles |distinct paths| rows, and the top-20 is a total-order
    * limit. Five-event truncation bounds the path alphabet — the
    * standard guard against the path-explosion this analysis is
    * famous for. The truncation happens BEFORE the collect (row_number
    * ≤ 5 over the same total order): the aggregation buffer then holds
    * five structs per user instead of the user's whole history — the
    * earlier collect-everything-slice-later form spilled its sort
    * buffers at sf100 (13× on 10× data) and would OOM on a hub user. */
  def eventTopPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val paths = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        struct(col("ts"), col("event_id")).as("ord"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ord"), col("event_type"))))
        .as("first5"))
      .select(
        concat_ws(">", transform(col("first5"), e => e.getField("event_type"))).as("path"))
    val tot = paths.agg(count(lit(1)).as("n_users"))
    paths.groupBy("path")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("path"), col("n"),
        col("path").contains("purchase").as("has_purchase"),
        Num.ratio(col("n"), col("n_users"), 4).as("user_share"))
      .orderBy(desc("n"), col("path"))
      .limit(20)
  }

  /** Inter-arrival-time profile — the latency distribution of user
    * behavior: per event type (typed by the LATER event of each
    * consecutive within-user pair), the exact discrete percentiles of
    * the gap in whole seconds, plus min/max/mean. The gap source is
    * one lag window over the unique (ts, event_id) per-user total
    * order (same ordering contract as `event_markov_chain`); seconds
    * are floor-divided epoch-µs differences, and the percentiles are
    * the exact cumulative-count form of `agg_percentile_disc` — the
    * default RANGE window frame groups ties identically in both
    * engines, so p50/p90 are bit-stable.
    *
    * Scale: the lag pass is one (user_id) exchange; the percentile
    * pass re-sorts only the GAPS (one row per event, minus one per
    * user) within each type partition — the same n·log n per-group
    * sort `agg_percentile_disc` accepts; at 100 TB the sketch path is
    * `agg_approx_percentile`. */
  def eventInterarrival(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(ord))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"),
        call_function("div",
          unix_micros(col("ts")) - col("prev_us"), lit(1000000L)).as("gap_s"))
    // (type, gap) CENSUS first (round 16): gaps are whole seconds, so
    // the census is bounded by the distinct gap values — the corpus-
    // wide exchange becomes a map-side-combined census instead of a
    // full per-type sort of every gap row, and the cumulative window
    // sorts |census| rows. The row form's default RANGE frame grouped
    // ties identically (every row of a tie group saw the whole group's
    // cumulative count), so the census cumulative IS the row cumulative
    // at every tied row — percentiles, extrema and the integer mean are
    // unchanged.
    val cens = gaps.groupBy("event_type", "gap_s").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy("event_type").orderBy("gap_s")
    val tot = Window.partitionBy("event_type")
    cens
      .withColumn("cw", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(tot))
      .groupBy("event_type")
      .agg(
        max("n").as("n_gaps"),
        min("gap_s").as("min_s"),
        min(when(col("cw") * 2 >= col("n"), col("gap_s"))).as("p50_s"),
        min(when(col("cw") * 10 >= col("n") * 9, col("gap_s"))).as("p90_s"),
        max("gap_s").as("max_s"),
        call_function("div", sum(col("gap_s") * col("cnt")), sum("cnt")).as("mean_s"))
      .orderBy("event_type")
  }

  /** Daily/weekly active users and stickiness — the engagement
    * headline every product dashboard leads with: per day, the exact
    * distinct users active that day (DAU), active in the trailing 7
    * days (WAU), and the DAU/WAU stickiness ratio.
    *
    * Scale: the stream collapses to distinct (user, day) FIRST (one
    * hash-shuffle on a key whose cardinality is users×days, not
    * events); WAU then fans each activity day out to the ≤7 window
    * days it supports — constant fan-out, linear — and re-distincts
    * on (window_day, user). Exact distinct is the graded contract
    * here; at 100 TB the sketch path is the `agg_hll_union` row (one
    * HLL per day, 7-day merge — no second distinct shuffle). */
  def eventActiveUsers(s: SparkSession, dir: String): DataFrame = {
    // materialized: the dau and wau branches both read it, and a lazy
    // cache under one plan lets their concurrent stages compute it twice
    val ud = materialize(t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct())
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(lit(0), lit(6))).as("i"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("i")).as("day"), col("user_id"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        Num.ratio(col("dau"), col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** Kaplan–Meier survival over user lifetimes — the estimator behind
    * every churn/retention curve: a user's observed lifetime is the
    * day-span from first to last event, right-CENSORED when the user is
    * still active in the corpus' final week (their true lifetime is
    * only known to exceed the observation). S(t) steps down at each
    * lifetime t with uncensored exits by (1 − deaths_t / at-risk_t);
    * censored users leave the risk set without moving the curve.
    *
    * Scale: one corpus pass to per-user spans (map-combined min/max),
    * one hash-agg to the lifetime census — everything after runs on a
    * CALENDAR-BOUNDED frame (distinct lifetimes ≤ corpus day span), so
    * the global window and the O(curve²) per-step refold are
    * constant-metadata work, the same exception `ts_lttb_downsample`
    * documents. The step products multiply left-to-right in lifetime
    * order — the oracle's recursive CTE replays the identical IEEE
    * sequence, so the doubles hash-match bit-for-bit. */
  def eventSurvivalKm(s: SparkSession, dir: String): DataFrame =
    survivalOn(t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")))

  /** The KM engine over an arbitrary (user_id, d) activity frame —
    * parameterized so specs can drive cohorts with hand-computable
    * curves (all-censored tails, deaths at day 0, curve-to-zero). */
  private[graft] def survivalOn(e: DataFrame): DataFrame = {
    val cutoff = e.agg(date_sub(max(col("d")), 7).as("dcut"))
    val census = e.groupBy("user_id")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .crossJoin(broadcast(cutoff))
      .select(datediff(col("d1"), col("d0")).cast("long").as("dur"),
        (col("d1") >= col("dcut")).as("censored"))
      .groupBy("dur")
      .agg(count(lit(1)).as("total"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("deaths"))
    // at-risk at t = users whose lifetime is ≥ t (reverse running sum
    // over the bounded census — single-partition window by design)
    val curve = census.withColumn("n_risk", sum(col("total")).over(
      Window.orderBy(col("dur")).rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    curve
      .agg(array_sort(collect_list(struct(
        col("dur"), col("total"), col("deaths"), col("n_risk")))).as("a"))
      .select(explode(expr(
        """transform(a, (x, i) -> struct(
             x.dur AS dur_days, x.total AS total, x.deaths AS deaths,
             x.n_risk AS n_risk,
             aggregate(slice(a, 1, i + 1), cast(1.0 AS double),
               (acc, y) -> acc * (1.0D - cast(y.deaths AS double) / cast(y.n_risk AS double)))
               AS survival))""")).as("r"))
      .select(col("r.dur_days"), col("r.total"), col("r.deaths"),
        col("r.n_risk"), col("r.survival"))
      .orderBy("dur_days")
  }

  /** Chi-square independence test between two categorical columns
    * (l_returnflag × l_linestatus) — the categorical-drift /
    * feature-dependence primitive every profiling suite carries.
    * INTEGER-EXACT throughout: expected counts are floor-divided
    * `e = (row_total · col_total) div N`, each cell's contribution is
    * `(obs − e)² div max(e, 1)`, and the headline χ² is the exact sum of
    * those integer terms — both engines replay identical integer steps,
    * so the statistic (and the `dependent` verdict against the floored
    * χ²₀.₀₅ critical region) hashes bit-for-bit. The floor per cell
    * under-reads the textbook χ² by < |cells|, which the verdict
    * threshold comment accounts for.
    *
    * Scale: one map-combined aggregation collapses the corpus to
    * |flags × statuses| cells (≤ 6 here); margins and the total re-
    * aggregate those cells and attach via broadcast — nothing after the
    * first shuffle grows with the corpus. Bound: dev² ≤ min(row,col)²
    * stays inside BIGINT up to ~9·10⁹ rows per cell deviation; past
    * that, lift the term arithmetic to DECIMAL(38,0) (documented, not
    * hit at any graded SF). */
  def dqChiSquare(s: SparkSession, dir: String): DataFrame = {
    // the ≤6-row contingency table feeds FOUR consumers (margins, total,
    // the scored join) — materialized so the corpus aggregate runs once,
    // not once per reference (the docs/PLANS.md derived-table rule); a
    // lazy persist read four times by one plan was built by concurrent
    // tasks ("not re-adding" block warnings)
    val cells = materialize(t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_obs")))
    val rowT = cells.groupBy("l_returnflag").agg(sum("n_obs").as("n_row"))
    val colT = cells.groupBy("l_linestatus").agg(sum("n_obs").as("n_col"))
    val tot = cells.agg(sum("n_obs").as("n_total"),
      count_distinct(col("l_returnflag")).as("n_flags"),
      count_distinct(col("l_linestatus")).as("n_statuses"))
    val scored = cells
      .join(broadcast(rowT), "l_returnflag")
      .join(broadcast(colT), "l_linestatus")
      .crossJoin(broadcast(tot))
      .withColumn("e_cnt",
        call_function("div", col("n_row") * col("n_col"), col("n_total")))
      .withColumn("term", call_function("div",
        (col("n_obs") - col("e_cnt")) * (col("n_obs") - col("e_cnt")),
        greatest(col("e_cnt"), lit(1L))))
    val chi = scored.agg(sum("term").as("chi2_units"),
      ((max(col("n_flags")) - 1) * (max(col("n_statuses")) - 1)).as("df"))
    scored.crossJoin(broadcast(chi))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_obs"),
        col("n_row"), col("n_col"), col("n_total"), col("e_cnt"), col("term"),
        col("chi2_units"), col("df"),
        // χ²₀.₀₅ critical values by df (floored-integer χ² ≥ ceil(crit)
        // ⇒ the true χ² exceeded crit too; df is 2 for this 3×2 table)
        (col("chi2_units") >= when(col("df") === 1, 4L)
          .when(col("df") === 2, 6L).otherwise(8L)).as("dependent"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Two-sample Kolmogorov–Smirnov test — customer vs supplier account-
    * balance distributions: D = max over values of |F_cust − F_supp|,
    * carried as the EXACT integer numerator `|cumA·nB − cumB·nA|` over
    * the common denominator nA·nB, so the supremum (and its arg-value)
    * is integer arithmetic end-to-end. The reject verdict compares the
    * exact D against the large-sample α=0.05 critical value
    * 1.358·√((nA+nB)/(nA·nB)) — one identically-sequenced IEEE
    * expression in both engines (sqrt is correctly rounded everywhere),
    * so the boolean is bit-stable.
    *
    * Scale — the two-phase cumulative (the `agg_weighted_median`
    * discipline): values collapse to per-distinct-cent counts
    * (map-combined), then 100-dollar BUCKETS (≤ ~110 over the fixed
    * acctbal domain) take a tiny single-partition prefix window for
    * cross-bucket offsets, and the per-value cumulative window runs
    * PARTITIONED BY bucket — no global sort of the value stream at any
    * corpus size. */
  def dqKsTest(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer")
      .select((Num.money(col("c_acctbal")) * 100).cast("long").as("v"),
        lit(1L).as("isa"))
    val b = t(s, dir, "supplier")
      .select((Num.money(col("s_acctbal")) * 100).cast("long").as("v"),
        lit(0L).as("isa"))
    // the per-distinct-cent census feeds THREE consumers (cumulative,
    // bucket offsets, totals) and is bounded by the fixed acctbal
    // domain — persisted so both corpus scans run once, not per chain
    val per = persist(
      a.union(b).groupBy("v")
        .agg(sum("isa").as("na"), (count(lit(1)) - sum("isa")).as("nb"))
        // +100000 keeps the dividend non-negative (acctbal ≥ −999.99), so
        // Spark div and DuckDB // agree (both truncate toward zero)
        .withColumn("bkt", call_function("div", col("v") + 100000L, lit(10000L))))
    val offW = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val off = per.groupBy("bkt").agg(sum("na").as("ba"), sum("nb").as("bb"))
      .select(col("bkt"), coalesce(sum("ba").over(offW), lit(0L)).as("offa"),
        coalesce(sum("bb").over(offW), lit(0L)).as("offb"))
    val cumW = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum("na").as("n_a"), sum("nb").as("n_b"))
    val d = per
      .withColumn("ca", sum("na").over(cumW))
      .withColumn("cb", sum("nb").over(cumW))
      .join(broadcast(off), "bkt")
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("v"),
        abs((col("ca") + col("offa")) * col("n_b") -
          (col("cb") + col("offb")) * col("n_a")).as("dn"))
    d.groupBy("n_a", "n_b")
      .agg(max(struct(col("dn"), (-col("v")).as("nv"))).as("m"))
      .select(col("n_a"), col("n_b"), col("m.dn").as("d_num"),
        (-col("m.nv")).as("v_at_cents"),
        Num.ratio(col("m.dn"), col("n_a") * col("n_b"), 6).as("d_stat"),
        (col("m.dn").cast("double") / (col("n_a") * col("n_b")).cast("double") >
          lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))).as("reject_05"))
  }

  /** Mann–Whitney U rank-sum test (customer vs supplier acctbal) — the
    * rank-based two-sample test that stays meaningful under outliers
    * where the z/t family breaks, completing the hypothesis-test
    * family (chi² categorical, KS distributional, A/B proportions).
    * EXACT via DOUBLED midranks: with ties, midrank = cumBefore +
    * (cnt+1)/2 lands on halves, so everything carries 2×: mr2 =
    * 2·cumBefore + cnt + 1 is always integer, R1₂ = Σ na·mr2,
    * U1₂ = R1₂ − n₁(n₁+1). The α=0.05 normal-approximation verdict
    * clears denominators to `(U1₂ − n₁n₂)²·3·10⁴ > 38416·n₁·n₂·(N+1)`
    * in DECIMAL(38,0)/HUGEINT — integer end-to-end, no sqrt.
    *
    * Scale: the same two-phase cumulative as `dq_ks_test` — per-cent
    * census map-combined, ~110 fixed buckets take the tiny prefix
    * window, per-value ranks run PARTITIONED BY bucket. */
  def dqMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer")
      .select((Num.money(col("c_acctbal")) * 100).cast("long").as("v"),
        lit(1L).as("isa"))
    val b = t(s, dir, "supplier")
      .select((Num.money(col("s_acctbal")) * 100).cast("long").as("v"),
        lit(0L).as("isa"))
    val per = persist(
      a.union(b).groupBy("v")
        .agg(sum("isa").as("na"), (count(lit(1)) - sum("isa")).as("nb"))
        .withColumn("bkt", call_function("div", col("v") + 100000L, lit(10000L))))
    val offW = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val off = per.groupBy("bkt").agg(sum(col("na") + col("nb")).as("bc"))
      .select(col("bkt"), coalesce(sum("bc").over(offW), lit(0L)).as("off"))
    val cumW = Window.partitionBy("bkt").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = per.agg(sum("na").as("n_a"), sum("nb").as("n_b"))
    val ranked = per
      .withColumn("cb", coalesce(sum(col("na") + col("nb")).over(cumW), lit(0L)))
      .join(broadcast(off), "bkt")
      // doubled midrank: 2·(rows strictly below v) + (ties at v) + 1
      .select(col("na"),
        (lit(2L) * (col("cb") + col("off")) + col("na") + col("nb") + 1L).as("mr2"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    ranked.crossJoin(broadcast(tot))
      .groupBy("n_a", "n_b")
      .agg(sum(col("na") * col("mr2")).as("r2_a"))
      .select(col("n_a"), col("n_b"), col("r2_a"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"))
      .select(col("n_a"), col("n_b"), col("r2_a"), col("u2_a"),
        (lit(2L) * col("n_a") * col("n_b") - col("u2_a")).as("u2_b"),
        ((dec(col("u2_a")) - dec(col("n_a")) * dec(col("n_b"))) *
          (dec(col("u2_a")) - dec(col("n_a")) * dec(col("n_b"))) *
          lit(3) * lit(10000) >
          lit(38416) * dec(col("n_a")) * dec(col("n_b")) *
            (dec(col("n_a")) + dec(col("n_b")) + lit(1))).as("significant_05"))
  }

  /** A/B-test readout with an INTEGER-EXACT significance verdict — the
    * two-proportion z-test every experimentation platform runs, on the
    * deterministic user split (variant = user_id mod 2): exposure = a
    * user's first 'view', conversion = any purchase at-or-after it.
    * The z-test needs no sqrt: with diff = c_a·n_b − c_b·n_a, C = c_a
    * + c_b, N = n_a + n_b, significance at α=0.05 clears denominators
    * to `diff²·N·10⁴ > 38416·n_a·n_b·C·(N−C)` (z²_crit = 1.96² =
    * 3.8416) — evaluated in DECIMAL(38,0)/HUGEINT, so the verdict is
    * exact integer arithmetic end-to-end, immune to libm.
    *
    * Scale: two map-combined per-user aggregates (corpus → |users|),
    * one keyed join, a 2-row census, single-row broadcast attach. */
  def eventAbTest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val exposed = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val converted = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(exposed, "user_id")
      .filter(col("ts") >= col("v_ts"))
      .groupBy("user_id").agg(count(lit(1)).as("n_purch"))
    val census = exposed
      .join(converted, Seq("user_id"), "left")
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        count_if(col("n_purch").isNotNull).as("n_converted"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val wide = census
      .agg(
        max(when(col("variant") === 0, col("n_users"))).as("n_a"),
        max(when(col("variant") === 0, col("n_converted"))).as("c_a"),
        max(when(col("variant") === 1, col("n_users"))).as("n_b"),
        max(when(col("variant") === 1, col("n_converted"))).as("c_b"))
    val diff = dec(col("c_a")) * dec(col("n_b")) - dec(col("c_b")) * dec(col("n_a"))
    val cTot = dec(col("c_a")) + dec(col("c_b"))
    val nTot = dec(col("n_a")) + dec(col("n_b"))
    wide.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      Num.ratio(col("c_a"), col("n_a"), 6).as("rate_a"),
      Num.ratio(col("c_b"), col("n_b"), 6).as("rate_b"),
      (diff * diff * nTot * lit(10000) >
        lit(38416) * dec(col("n_a")) * dec(col("n_b")) * cTot * (nTot - cTot))
        .as("significant_05"))
  }

  /** Click-to-purchase conversion lag — per user, the latency from
    * FIRST click to the first purchase at-or-after it, summarized as an
    * activity-decile table (exact integer seconds; deciles under the
    * deterministic (lag, user_id) total order — the `event_rfm`
    * posture: ntile over the AGGREGATED user dimension, never the raw
    * stream) plus the overall clicker→converter share on every row.
    *
    * Scale: two map-combined per-user aggregates and one keyed join;
    * the ntile runs on |converted users| rows; totals attach via the
    * whitelisted single-row broadcast. */
  def eventConversionLag(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // per-clicker firsts feed the conversion join AND the clicker total
    // — persisted so the click scan runs once (|clickers| rows cached)
    val firstClick = persist(
      ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("c_ts")))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(firstClick, "user_id")
      .filter(col("ts") >= col("c_ts"))
      .groupBy("user_id")
      .agg(call_function("div",
        unix_micros(min("ts")) - unix_micros(min("c_ts")),
        lit(1000000L)).as("lag_s"))
    val tot = firstClick.agg(count(lit(1)).as("n_clickers"))
      .crossJoin(conv.agg(count(lit(1)).as("n_converted")))
    val w = Window.orderBy(col("lag_s"), col("user_id"))
    conv.withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        min("lag_s").as("min_lag_s"), max("lag_s").as("max_lag_s"),
        Num.avgInt(col("lag_s"), 2).as("avg_lag_s"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("min_lag_s"),
        col("max_lag_s"), col("avg_lag_s"),
        Num.ratio(col("n_converted"), col("n_clickers"), 6).as("convert_share"))
      .orderBy("decile")
  }

  /** SHANNON-ENTROPY COLUMN PROFILE — the information-content readout
    * next to `dq_schema_profile`'s null/distinct census: per
    * categorical column, H = ln n − (Σ c·ln c)/n in QUANTIZED
    * micro-nats, plus the top-category share and H normalized by the
    * ln(k) maximum — low normalized entropy flags a column collapsing
    * onto one value (drift, a broken upstream filter), high flags a
    * near-uniform key masquerading as a category. Determinism: each
    * category's c·ln(c) term FLOORS to BIGINT micro-nats before the
    * sum (ln of a BIGINT is the same IEEE double everywhere, and the
    * floored sum is order-free), then H_micro =
    * ⌊ln(n)·10⁶⌋ − S div n — one fixed expression tree, bit-identical
    * in both engines, and provably ≥ 0 since Σ c·ln c ≤ n·ln n. Scale:
    * one map-combined census per column (the same shuffle a
    * countDistinct pays), unioned; everything after runs on k rows. */
  def dqEntropyProfile(s: SparkSession, dir: String): DataFrame = {
    def census(df: DataFrame, tbl: String, c: String): DataFrame =
      df.groupBy(col(c)).agg(count(lit(1)).as("c"))
        .select(lit(s"$tbl.$c").as("column_name"), col("c"))
    val u = Seq(
      census(t(s, dir, "events"), "events", "event_type"),
      census(t(s, dir, "documents"), "documents", "lang"),
      census(t(s, dir, "documents"), "documents", "source"),
      census(t(s, dir, "customer"), "customer", "c_mktsegment"))
      .reduce(_ unionByName _)
    u.withColumn("t",
        floor(col("c").cast("double") * log(col("c").cast("double")) * lit(1000000.0)))
      .groupBy("column_name")
      .agg(sum("c").as("n_rows"), count(lit(1)).as("n_distinct"),
        max("c").as("top_count"), sum("t").as("st"))
      .select(col("column_name"), col("n_rows"), col("n_distinct"), col("top_count"),
        Num.ratio(col("top_count"), col("n_rows"), 4).as("top_share"),
        (floor(log(col("n_rows").cast("double")) * lit(1000000.0)) -
          call_function("div", col("st"), col("n_rows"))).as("entropy_micro"),
        floor(log(col("n_distinct").cast("double")) * lit(1000000.0)).as("max_entropy_micro"))
      .withColumn("norm_entropy",
        Num.ratio(col("entropy_micro"), col("max_entropy_micro"), 4))
      .orderBy("column_name")
  }

  /** CUPED-ADJUSTED A/B READOUT (Deng et al., WSDM'13 "Improving the
    * sensitivity of online controlled experiments") — the
    * variance-reduction step every mature experimentation platform runs
    * on top of the plain z-test (`event_ab_test`): per user, the
    * PRE-period purchase total is the covariate X and the post-period
    * total the outcome Y; θ = cov(X,Y)/var(X) pooled over both arms,
    * and each arm reports Ȳ_adj = Ȳ − θ·(X̄_arm − X̄_all). Users split by
    * the deterministic user_id parity; the period cut is the
    * mid-stream day. Per-user sums are exact BIGINT cents; the moment
    * cross-products combine as DOUBLES of those single-row exact
    * integers (BIGINT cross-products overflow past sf1) — identical
    * IEEE expression shape both engines, so θ, the adjusted means and
    * the ρ² variance-reduction factor hash-match.
    *
    * Scale: one user-keyed census (the experiment-unit rollup every
    * CUPED implementation shuffles once), then a 2-row arm frame + the
    * whitelisted single-row broadcast moments. */
  def eventUpliftCuped(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val cents = (Num.money(col("value")) * 100).cast("long")
    val users = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).cast("long").as("arm"))
      .agg(sum(when(to_date(col("ts")) < cut, cents).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts")) >= cut, cents).otherwise(0L)).as("y"))
    val mom = users.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"), col("sx"),
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")).as("covn"),
        (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")).as("varxn"),
        (col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")).as("varyn"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("ax"), sum("y").as("ay"))
    arms.crossJoin(broadcast(mom))
      .select(col("arm"), col("n_users"),
        round(col("ay").cast("double") / col("n_users") / 100d, 2).as("y_mean"),
        round((col("ay").cast("double") / col("n_users")
          - (col("covn") / col("varxn"))
            * (col("ax").cast("double") / col("n_users")
               - col("sx").cast("double") / col("n"))) / 100d, 2).as("y_adj"),
        round(col("covn") / col("varxn"), 6).as("theta"),
        round(col("covn") * col("covn") / (col("varxn") * col("varyn")), 6)
          .as("rho_sq"))
      .orderBy("arm")
  }

  /** BURST DETECTION — the rate-spike flag an event pipeline raises
    * before a downstream model trains on a corrupted day: per
    * (event_type, day) counts tested against the TRAILING 7-day window
    * with the z² > 9 rule kept ENTIRELY in integers — burst ⟺ 7n > S
    * and (7n − S)² > 9·(7Q − S²), the "3σ above trailing mean"
    * inequality cleared of both divisions (S, Q = trailing sum and sum
    * of squares). A constant window (7Q = S²) flags any deviation,
    * which is the right alarm semantics for a flat baseline. Only
    * full-window days are judged (the first 7 days per type emit no
    * verdict row).
    *
    * Scale: corpus → (type × day) census map-side; the trailing window
    * runs per event_type over calendar-bounded partitions (≤ |days|
    * rows each) — never corpus-sized. */
  def eventBurstDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    daily
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("s", sum("n").over(w))
      .withColumn("q", sum(col("n") * col("n")).over(w))
      .filter(col("win_n") === 7)
      .select(col("event_type"), col("day"), col("n"), col("s").as("win_sum"),
        ((col("n") * 7 - col("s")) * (col("n") * 7 - col("s"))).as("zsq_num"),
        ((col("q") * 7 - col("s") * col("s")) * 9).as("zsq_den"))
      .withColumn("is_burst",
        col("n") * 7 > col("win_sum") && col("zsq_num") > col("zsq_den"))
      .orderBy("event_type", "day")
  }

  /** FOREIGN-KEY INFERENCE — the relationship-discovery profile run
    * after `dq_uniqueness_profile` answers "which columns are keys":
    * for each declared candidate edge (orders.o_custkey → customer,
    * lineitem.l_orderkey → orders, lineitem.l_partkey → part,
    * lineitem.l_suppkey → supplier), measure referential containment —
    * the share of child values present in the parent key set — and
    * verdict `is_fk` at full containment. Each edge is one
    * left-semi-join census over DISTINCT child values (the shuffle
    * carries distinct keys, not rows); the four edges union into one
    * readout.
    *
    * Scale: per edge, a distinct-census + a semi join on the key — the
    * FK-orphan plan (`dq_fk_orphans`) read as a profiler verdict. */
  def dqFkInference(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val cd = child.select(col(ck).as("k")).distinct()
      val hit = cd.join(parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_semi")
      cd.agg(count(lit(1)).as("n_child_distinct"))
        .crossJoin(hit.agg(count(lit(1)).as("n_contained")))
        .select(lit(name).as("edge"), col("n_child_distinct"), col("n_contained"),
          Num.ratio(col("n_contained"), col("n_child_distinct"), 6).as("containment"),
          (col("n_contained") === col("n_child_distinct")).as("is_fk"))
    }
    edge("orders.o_custkey->customer.c_custkey",
        t(s, dir, "orders"), "o_custkey", t(s, dir, "customer"), "c_custkey")
      .unionAll(edge("lineitem.l_orderkey->orders.o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey"))
      .unionAll(edge("lineitem.l_partkey->part.p_partkey",
        t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey"))
      .unionAll(edge("lineitem.l_suppkey->supplier.s_suppkey",
        t(s, dir, "lineitem"), "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
      .orderBy("edge")
  }

  /** UNIQUENESS / CANDIDATE-KEY PROFILE — the first question a schema
    * audit asks of every column: how many distinct values, how many
    * nulls, what duplicate ratio, and is it a candidate key? Four
    * orders columns profiled in ONE aggregate pass (multi-distinct via
    * Catalyst's Expand — the `agg_multi_distinct` shape), stacked to
    * one row per column. `is_candidate_key` ⟺ fully distinct and
    * null-free.
    *
    * Scale: one Expand×4 aggregation — 4 hash-distinct censuses sharing
    * a single scan and shuffle; output is 4 rows. */
  def dqUniquenessProfile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val prof = o.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("o_orderkey")).as("d1"), count(col("o_orderkey")).as("c1"),
      countDistinct(col("o_custkey")).as("d2"), count(col("o_custkey")).as("c2"),
      countDistinct(col("o_orderstatus")).as("d3"), count(col("o_orderstatus")).as("c3"),
      countDistinct(col("o_orderpriority")).as("d4"), count(col("o_orderpriority")).as("c4"))
    prof.select(col("n_rows"), explode(array(
        struct(lit("o_orderkey").as("column_name"), col("d1").as("n_distinct"), col("c1").as("n_non_null")),
        struct(lit("o_custkey").as("column_name"), col("d2").as("n_distinct"), col("c2").as("n_non_null")),
        struct(lit("o_orderstatus").as("column_name"), col("d3").as("n_distinct"), col("c3").as("n_non_null")),
        struct(lit("o_orderpriority").as("column_name"), col("d4").as("n_distinct"), col("c4").as("n_non_null"))))
        .as("c"))
      .select(col("c.column_name"), col("n_rows"), col("c.n_distinct"),
        (col("n_rows") - col("c.n_non_null")).as("n_nulls"),
        Num.ratio(col("c.n_non_null") - col("c.n_distinct"), col("n_rows"), 6)
          .as("dup_ratio"),
        (col("c.n_distinct") === col("n_rows") && col("c.n_non_null") === col("n_rows"))
          .as("is_candidate_key"))
      .orderBy("column_name")
  }

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental readout run
    * when an intervention lands mid-stream without randomization: per
    * (arm, period) mean purchase spend over the PER-USER period totals
    * (arm = user hash parity, periods split at the CUPED cut
    * 2024-01-16), DiD = (T_post − T_pre) − (C_post − C_pre). The four
    * cell means are half-up micro ratios of exact BIGINT cents (so the
    * subtraction chain is arithmetic on identical quantized doubles,
    * bit-stable both engines); the pre-period gap rides along as the
    * parallel-trends eyeball every DiD table is read with.
    *
    * Scale: corpus → per-user (x, y) census map-combined (the
    * `event_uplift_cuped` frame), then a 2-arm aggregate; the DiD
    * scalar attaches via the whitelisted single-row broadcast. */
  def eventDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val cents = (Num.money(col("value")) * 100).cast("long")
    val users = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), pmod(col("user_id"), lit(2)).cast("long").as("arm"))
      .agg(sum(when(to_date(col("ts")) < cut, cents).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts")) >= cut, cents).otherwise(0L)).as("y"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("pre_cents"),
        sum("y").as("post_cents"))
      .select(col("arm"), col("n_users"), col("pre_cents"), col("post_cents"),
        Num.ratio(col("pre_cents"), col("n_users"), 4).as("pre_mean"),
        Num.ratio(col("post_cents"), col("n_users"), 4).as("post_mean"))
    val did = arms.agg(
        max(when(col("arm") === 0, col("post_mean") - col("pre_mean"))).as("d_c"),
        max(when(col("arm") === 1, col("post_mean") - col("pre_mean"))).as("d_t"),
        max(when(col("arm") === 1, col("pre_mean"))).as("t_pre"),
        max(when(col("arm") === 0, col("pre_mean"))).as("c_pre"))
      .select(round(col("d_t") - col("d_c"), 4).as("did_cents"),
        round(col("t_pre") - col("c_pre"), 4).as("pre_gap_cents"))
    arms.crossJoin(broadcast(did)).orderBy("arm")
  }

  /** SEQUENTIAL A/B PEEKING CURVE — the always-on monitoring view that
    * makes the peeking problem visible instead of silently acting on
    * it: cumulative exposed/converted counts per arm by calendar day
    * (users enter on their FIRST view day, convert on their first
    * qualifying purchase day), each day's two-proportion z² tested
    * against the naive fixed-horizon 1.96 boundary with the
    * `event_ab_test` integer inequality (z²·10⁴ as exact DECIMAL(38)
    * cross-products — no division, no float), and the FIRST naive
    * crossing flagged — the day a peeking experimenter would have
    * stopped. Reading the trace against the final day's verdict is the
    * whole point of the operator.
    *
    * Scale: corpus → per-user first-view/first-conversion days
    * (map-combined), → (day × arm) increments, → cumulative windows
    * over the calendar-sized day frame; every window partition is
    * ≤ \|days\| rows. */
  def eventCumulativeAb(s: SparkSession, dir: String): DataFrame = {
    // ONE events scan (round 16 — the r15 verdict's re-derivation
    // find: the old form derived `exposed` on both the conversion join
    // and the per-user join and scanned events a third time for
    // purchases). v_ts = min view ts rides a per-user window over one
    // scan; a purchase qualifies iff ts >= v_ts; entry day and first
    // qualifying conversion day fall out of ONE user-keyed aggregate
    // that reuses the window's partitioning — no corpus join at all.
    val wUser = Window.partitionBy("user_id")
    val perUser = t(s, dir, "events")
      .filter(col("event_type") === "view" || col("event_type") === "purchase")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v_ts", min(when(col("event_type") === "view", col("ts"))).over(wUser))
      .filter(col("v_ts").isNotNull)
      .groupBy("user_id")
      .agg(min("v_ts").as("v_ts"),
        min(when(col("event_type") === "purchase" && col("ts") >= col("v_ts"),
          to_date(col("ts")))).as("c_day"))
      .select(pmod(col("user_id"), lit(2)).cast("long").as("arm"),
        to_date(col("v_ts")).as("e_day"), col("c_day"))
    // (day, arm) increments in ONE exchange: each user row fans out to
    // its entry-day increment and (when converted) its conversion-day
    // increment via a 2-struct explode over the SAME subtree — the old
    // two-census full-outer join planned the per-user aggregate twice
    // and paid a second shuffle for the join itself. Rows and values
    // are identical (a day appears iff it carries an entry or a
    // conversion; the other column coalesced to 0).
    val daily = perUser
      .select(col("arm"), explode(array(
        struct(col("e_day").as("day"), lit(1L).as("n"), lit(0L).as("c")),
        struct(col("c_day").as("day"), lit(0L).as("n"), lit(1L).as("c")))).as("x"))
      .select(col("x.day").as("day"), col("arm"), col("x.n").as("n"), col("x.c").as("c"))
      .filter(col("day").isNotNull)
      .groupBy("day", "arm")
      .agg(sum("n").as("d_n"), sum("c").as("d_c"))
    val cum = Window.partitionBy("arm").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wide = daily
      .withColumn("cn", sum("d_n").over(cum))
      .withColumn("cc", sum("d_c").over(cum))
      .groupBy("day")
      .agg(max(when(col("arm") === 0, col("cn"))).as("r_na"),
        max(when(col("arm") === 0, col("cc"))).as("r_ca"),
        max(when(col("arm") === 1, col("cn"))).as("r_nb"),
        max(when(col("arm") === 1, col("cc"))).as("r_cb"))
    // a day may carry increments for only one arm: forward-fill the
    // other arm's cumulative from the previous day
    val ff = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val filled = wide
      .withColumn("n_a", coalesce(last("r_na", ignoreNulls = true).over(ff), lit(0L)))
      .withColumn("c_a", coalesce(last("r_ca", ignoreNulls = true).over(ff), lit(0L)))
      .withColumn("n_b", coalesce(last("r_nb", ignoreNulls = true).over(ff), lit(0L)))
      .withColumn("c_b", coalesce(last("r_cb", ignoreNulls = true).over(ff), lit(0L)))
    val diff = dec(col("c_a")) * dec(col("n_b")) - dec(col("c_b")) * dec(col("n_a"))
    val cTot = dec(col("c_a")) + dec(col("c_b"))
    val nTot = dec(col("n_a")) + dec(col("n_b"))
    val sig = col("n_a") > 0 && col("n_b") > 0 && cTot > 0 && cTot < nTot &&
      (diff * diff * nTot * lit(10000) >
        lit(38416) * dec(col("n_a")) * dec(col("n_b")) * cTot * (nTot - cTot))
    val prev = Window.orderBy("day")
    filled
      .withColumn("naive_significant", sig)
      .withColumn("sig_before",
        coalesce(max(when(col("naive_significant"), 1L).otherwise(0L))
          .over(prev.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        col("naive_significant"),
        (col("naive_significant") && col("sig_before") === 0L).as("first_crossing"))
      .orderBy("day")
  }

  /** XmR CONTROL CHART (individuals + moving range) — the SPC chart a
    * data-quality deployment draws over its daily row counts before
    * alarming: center line X̄, average moving range M̄R, and the
    * standard 2.66·M̄R control limits (2.66 = 3/d₂ for n = 2), each day
    * flagged when it falls outside [LCL, UCL]. X̄ and M̄R are half-up
    * micro ratios of exact BIGINT sums; the 2.66 factor is the exact
    * literal 266/100, so the limits are arithmetic on identical
    * quantized doubles both engines. Unlike `event_burst_detect`'s
    * trailing-window spike rule this is the FIXED-limit chart: limits
    * from the whole baseline, flags judged against them.
    *
    * Scale: corpus → calendar-sized daily census map-side; the lag and
    * flags run on \|days\| rows; limits attach via the whitelisted
    * single-row broadcast. */
  def dqControlChart(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.orderBy("day")
    val withMr = daily
      .withColumn("mr", abs(col("n") - lag("n", 1).over(wOrd)))
    val stats = withMr.agg(
        count(lit(1)).as("n_days"), sum("n").as("sum_n"),
        sum("mr").as("sum_mr"), count(col("mr")).as("n_mr"))
      .select(
        Num.ratio(col("sum_n"), col("n_days"), 6).as("x_bar"),
        Num.ratio(col("sum_mr"), col("n_mr"), 6).as("mr_bar"))
      .select(col("x_bar"), col("mr_bar"),
        round(col("x_bar") + lit(2.66) * col("mr_bar"), 6).as("ucl"),
        round(col("x_bar") - lit(2.66) * col("mr_bar"), 6).as("lcl"))
    withMr.crossJoin(broadcast(stats))
      .select(col("day"), col("n"), col("mr"), col("x_bar"), col("mr_bar"),
        col("ucl"), col("lcl"),
        (col("n").cast("double") > col("ucl") ||
          col("n").cast("double") < col("lcl")).as("out_of_control"))
      .orderBy("day")
  }
}
