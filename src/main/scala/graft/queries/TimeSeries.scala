package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.materialize
import graft.tables.Tables.t

/** Time-series resampling operators (SURVEY §2.B ts_* rows): the
  * gap-fill / downsample pair every metrics warehouse runs between raw
  * events and dashboards.
  */
object TimeSeries {

  /** Daily purchase-value series per user with calendar gap-fill and
    * LINEAR INTERPOLATION across missing days. Exact arithmetic end to
    * end: daily sums in integer cents, and the interpolation step
    * `prev + sign·(|next−prev|·run) div span` is integer division that
    * truncates toward zero identically in both engines (the sign is
    * factored out so negative-slope segments can't hit a
    * floor-vs-trunc divergence). Scale shape: the calendar is built
    * per user from its own [min,max] span (`sequence` + explode — no
    * driver-side date loop), the join back is on the same
    * (user, day) key, and the prev/next scan is one window per
    * direction over each user's partition. Nothing global: a 100 TB
    * events table gap-fills user-by-user across executors. */
  def tsGapFillInterpolate(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("user_id") < 12 && col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val cal = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val back = Window.partitionBy("user_id").orderBy("day")
    val fwd = back.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("cents").isNotNull, col("day"))
    val j = cal.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pc", last("cents", ignoreNulls = true).over(back))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("nc", first("cents", ignoreNulls = true).over(fwd))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
    val interp = col("pc") + signum(col("nc") - col("pc")).cast("long") *
      call_function("div",
        abs(col("nc") - col("pc")) * datediff(col("day"), col("pd")),
        datediff(col("nd"), col("pd")))
    j.select(
        col("user_id"), col("day"),
        col("cents").isNull.as("is_interpolated"),
        (coalesce(col("cents"), interp).cast("double") / 100).as("value_filled"))
      .orderBy("user_id", "day")
  }

  /** Hourly OHLC bars (open/high/low/close + volume) per event type —
    * the classic downsample. Open/close are `min_by`/`max_by` with a
    * (ts, event_id) STRUCT ordering key: exact lexicographic
    * tie-breaking inside ONE hash aggregate — no window sort, no
    * second shuffle; high/low/count ride the same aggregate. All
    * values move as integer cents until the final render. At 100 TB
    * this is a single map-side-combining aggregation on
    * (type, hour) — the minimal possible plan for resampling. */
  def tsResampleOhlc(s: SparkSession, dir: String): DataFrame = {
    def dollars(c: Column): Column = c.cast("double") / 100
    val ord = struct(col("ts"), col("event_id"))
    t(s, dir, "events")
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"),
        (Num.money(col("value")) * 100).cast("long").as("cents"))
      .groupBy("event_type", "hour")
      .agg(
        count(lit(1)).as("n_events"),
        dollars(min_by(col("cents"), ord)).as("open"),
        dollars(max("cents")).as("high"),
        dollars(min("cents")).as("low"),
        dollars(max_by(col("cents"), ord)).as("close"))
      .orderBy("event_type", "hour")
  }

  /** Daily purchase cents per user (shared base for the smoothing /
    * rolling ops below) — exact integer cents. */
  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("user_id") < 12 && col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))

  /** Exponentially weighted moving average (α = 1/4, e₀ = x₀) of each
    * user's daily purchase series, QUANTIZED to integer cents: the
    * recurrence is `e = (x + 3·e_prev) div 4` — exact integer
    * arithmetic, so there is no float-rounding boundary for the two
    * engines to disagree on (a double recurrence lands values exactly
    * on .xxxx5 boundaries where Spark's string-based round and
    * DuckDB's binary round split). The recurrence is inherently
    * sequential PER KEY, so it runs as a typed `flatMapGroups`: each
    * user's (small) daily series sorts in executor memory and folds
    * once — users parallelize across executors, which is the only
    * parallelism a per-key recurrence admits. At 100 TB the shuffle is
    * one (user_id) exchange of pre-aggregated daily rows. */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = dailyCents(s, dir)
      .select(col("user_id"), col("day").cast("string"), col("cents"))
      .as[(Long, String, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, String, Long)]) =>
        val days = it.toArray.sortBy(_._2)
        var e = 0L
        days.iterator.zipWithIndex.map { case ((_, d, c), i) =>
          e = if (i == 0) c else (c + 3 * e) / 4
          (uid, d, c, e)
        }
      }
      .toDF("user_id", "day", "cents", "ew")
      .select(col("user_id"), col("day").cast("date").as("day"), col("cents"),
        (col("ew").cast("double") / 100).as("ewma"))
      .orderBy("user_id", "day")
  }

  /** Trailing-7-row EXACT rolling median of each user's daily purchase
    * cents — the windowed holistic aggregate (`percentile` over a rows
    * frame). Exact medians of integer cents interpolate to halves, so
    * the doubles are identical across engines. Scale: one (user_id)
    * shuffle + per-partition sort; each frame holds ≤ 7 values so the
    * holistic recompute is O(7) per row — no corpus-sized state. */
  def tsRollingQuantile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    dailyCents(s, dir)
      .withColumn("roll_med", round(expr("percentile(cents, 0.5)").over(w) / 100, 4))
      .select(col("user_id"), col("day"), col("cents"), col("roll_med"))
      .orderBy("user_id", "day")
  }

  /** Seasonal-naive forecast backtest: forecast each user-day as the
    * value 7 days EARLIER in that user's calendar (`lag(7)` over the
    * gap-filled daily series would be the production form; here the
    * observed series), then score per user — forecast count and mean
    * absolute error in exact 4-decimal dollars (`Num.ratio`, integer
    * half-up — no float accumulation). The baseline every real
    * forecasting pipeline is judged against; one (user) shuffle, one
    * lag window, one rollup. */
  def tsSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    dailyCents(s, dir)
      .withColumn("fc", lag("cents", 7).over(w))
      .filter(col("fc").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_forecasts"),
        Num.ratio(sum(abs(col("cents") - col("fc"))), count(lit(1)) * 100, 4)
          .as("mae_dollars"))
      .orderBy("user_id")
  }

  /** CUSUM change-point detection on each user's daily purchase
    * series, in EXACT integer arithmetic: the deviation of day i is
    * `cents_i·n − total` (the mean-deviation scaled by n — no float
    * mean), the CUSUM is its running sum, and the change-point
    * candidate is the day of maximum |CUSUM| (abs desc, day asc
    * tiebreak). Two windows over one (user) shuffle plus a per-user
    * top-1 — the standard drift monitor, partition-order independent
    * because every quantity is an exact integer. */
  def tsCusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val per = Window.partitionBy("user_id")
    val cum = per.orderBy("day")
    val ranked = dailyCents(s, dir)
      .withColumn("n", count(lit(1)).over(per))
      .withColumn("total", sum("cents").over(per))
      .withColumn("cusum",
        sum(col("cents") * col("n") - col("total")).over(cum))
      .withColumn("rn", row_number().over(
        per.orderBy(abs(col("cusum")).desc, col("day"))))
    ranked.filter(col("rn") === 1)
      .select(col("user_id"), col("n").as("n_days"),
        col("day").as("cp_day"), abs(col("cusum")).as("max_abs_cusum"))
      .orderBy("user_id")
  }

  /** Merge overlapping/touching time intervals per user (the classic
    * calendar-consolidation op): intervals derived deterministically
    * from events (start = ts, duration = value-derived minutes), then
    * the gaps-and-islands pattern — a running `max(end)` over all
    * PRIOR rows marks island starts, a running sum of the marks labels
    * islands, one aggregate merges each island. Two windows + one
    * aggregate over a single (user_id) shuffle; nothing quadratic, no
    * interval self-join. */
  def tsIntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "events")
      .filter(col("user_id") < 8 && col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts").as("start"),
        expr("timestampadd(MINUTE, CAST(pmod(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT), 180) AS INT), ts)").as("end"))
    val ord = Window.partitionBy("user_id").orderBy("start", "end", "event_id")
    val prevMax = max("end").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("new_island",
        when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum("new_island").over(ord))
      .groupBy("user_id", "island")
      .agg(min("start").as("s"), max("end").as("e"), count(lit(1)).as("n_merged"))
      .select("user_id", "s", "e", "n_merged")
      .orderBy("user_id", "s")
  }

  /** Holt's linear (double-exponential) smoothing of each user's daily
    * purchase cents — the trend-aware upgrade of `ts_ewma`, and the
    * simplest forecaster that extrapolates instead of lagging. α = β =
    * 1/2 quantized to integer cents: `l = (y + l' + b') div 2`,
    * `b = (l − l' + b') div 2`, seeded `l₁ = y₁, b₁ = 0`; the one-step
    * forecast is `l + b`. Integer arithmetic keeps both engines on the
    * identical value sequence (a double recurrence drifts into rounding-
    * boundary territory within a few steps), and both Scala `/` and
    * DuckDB `//` truncate toward zero, so the NEGATIVE trend values a
    * declining series produces divide identically too.
    *
    * Scale: the recurrence is sequential per key, so it runs as a typed
    * `flatMapGroups` over the pre-aggregated daily rows — one (user_id)
    * exchange, per-user in-memory fold, users parallelize across
    * executors (same discipline as ts_ewma). */
  def tsHoltLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = dailyCents(s, dir)
      .select(col("user_id"), col("day").cast("string"), col("cents"))
      .as[(Long, String, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, String, Long)]) =>
        val days = it.toArray.sortBy(_._2)
        var l = 0L
        var b = 0L
        days.iterator.zipWithIndex.map { case ((_, d, c), i) =>
          if (i == 0) { l = c; b = 0L }
          else {
            val lp = l
            l = (c + l + b) / 2
            b = (l - lp + b) / 2
          }
          (uid, d, c, l, b, l + b)
        }
      }
      .toDF("user_id", "day", "cents", "l", "b", "f")
      .select(col("user_id"), col("day").cast("date").as("day"), col("cents"),
        (col("l").cast("double") / 100).as("level"),
        (col("b").cast("double") / 100).as("trend"),
        (col("f").cast("double") / 100).as("forecast"))
      .orderBy("user_id", "day")
  }

  /** Classical seasonal decomposition (the moving-average core of STL)
    * of the GLOBAL daily purchase series: trend = centered 7-day moving
    * average (full windows only — edges stay null), weekday seasonal =
    * per-weekday mean of the detrended values, residual = what's left.
    * All integer-cent arithmetic — floor-div moving average, truncating
    * per-weekday mean (negative detrended values divide identically in
    * Scala and DuckDB, both toward zero) — so the three components are
    * bit-identical across engines and re-add exactly to the input where
    * the trend is defined.
    *
    * Scale: the event stream collapses to one row per day FIRST (one
    * map-side-combined aggregation — the only pass over the raw data);
    * the windows then run over the daily series, whose length is the
    * calendar, not the corpus (3 years of data = ~1100 rows at any
    * corpus size). The unpartitioned window is safe for exactly that
    * reason, same justification as `dq_anomaly_zscore`. */
  def tsSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend_cents",
        when(count(lit(1)).over(w7) === 7,
          call_function("div", sum("cents").over(w7), lit(7L))))
      .withColumn("detrended", col("cents") - col("trend_cents"))
      .withColumn("wd", weekday(col("day")))
    val seasonal = trended.filter(col("detrended").isNotNull)
      .groupBy("wd")
      .agg(call_function("div", sum("detrended"), count(lit(1))).as("seasonal_cents"))
    trended.join(broadcast(seasonal), Seq("wd"), "left")
      .select(col("day"), col("wd"), col("cents"), col("trend_cents"),
        when(col("trend_cents").isNotNull, col("seasonal_cents")).as("seasonal_cents"),
        (col("detrended") - col("seasonal_cents")).as("residual_cents"))
      .orderBy("day")
  }

  /** Sample autocorrelation function (lags 1–7) of the global daily
    * purchase series — the pre-ARIMA diagnostic that finds the cycle
    * length (`ts_seasonal_decompose` assumes weekly; ACF measures it).
    * EXACT integer co-moments: deviations are n-scaled (`d = cents·n −
    * total`, so no mean division), products and sums stay in BIGINT,
    * and only the final acf emits a signed half-up 4-decimal ratio —
    * associative integer sums, bit-identical at any parallelism.
    *
    * Scale: the raw stream collapses to the calendar-sized daily rollup
    * first (same justification as `ts_seasonal_decompose`); all seven
    * lag products come from ONE window pass (7 lag expressions over one
    * ordered window — one sort, not seven), and the global denominator
    * attaches via the whitelisted single-row broadcast cross join. */
  def tsAutocorrelation(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val wAll = Window.partitionBy()
    val d = daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("cents").over(wAll))
      .select(col("day"), (col("cents") * col("n") - col("total")).as("d"))
    val wOrd = Window.orderBy("day")
    val lagged = d.select((1 to 7).map(k =>
      (col("d") * lag("d", k).over(wOrd)).as(s"p$k")): _*)
    val pairs = lagged
      .select(explode(array((1 to 7).map(k =>
        struct(lit(k).as("k"), col(s"p$k").as("prod"))): _*)).as("s"))
      .select(col("s.k").as("k"), col("s.prod").as("prod"))
      .filter(col("prod").isNotNull)
    val den = d.agg(sum(col("d") * col("d")).as("den"))
    pairs.groupBy("k").agg(sum("prod").as("num"), count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        (when(col("num") < 0, -1.0).otherwise(1.0) *
          Num.ratio(abs(col("num")), col("den"), 4)).as("acf"))
      .orderBy("k")
  }

  /** Week-over-week growth — the headline movement metric: ISO-week
    * purchase totals in exact cents, each week's absolute delta and
    * signed half-up growth ratio vs the previous week (lag window over
    * the week axis). weekofyear/ISO semantics agree between the
    * engines; the rollup key is (iso_year, iso_week) so year
    * boundaries can't fold distinct weeks together.
    *
    * Scale: corpus → \|weeks\| rows map-side; one ordered lag over the
    * calendar-sized week frame. */
  def tsWeekOverWeek(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("extract(YEAROFWEEK FROM ts)").as("iso_year"),
        weekofyear(col("ts")).as("iso_week"))
      .agg(count(lit(1)).as("n_purchases"),
        sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val ord = Window.orderBy("iso_year", "iso_week")
    weekly
      .withColumn("prev_cents", lag("cents", 1).over(ord))
      .select(col("iso_year"), col("iso_week"), col("n_purchases"), col("cents"),
        (col("cents") - col("prev_cents")).as("delta_cents"),
        when(col("prev_cents").isNull, lit(null).cast("double"))
          .otherwise(
            when(col("cents") < col("prev_cents"), -1.0).otherwise(1.0) *
              Num.ratio(abs(col("cents") - col("prev_cents")), col("prev_cents"), 4))
          .as("wow_growth"))
      .orderBy("iso_year", "iso_week")
  }

  /** Maximum drawdown of the global daily series — the worst
    * peak-to-trough slide, the risk statistic every monitoring
    * dashboard tracks next to the trend: running peak via an ordered
    * running-max window, drawdown = peak − value, and the maximum
    * localized to its EARLIEST day by the rank-encoded arg-max
    * (dd·10⁵ + (10⁵ − rn) — same deterministic-tiebreak encode as
    * `ts_lttb_downsample`). Exact integer cents end-to-end; the
    * drawdown ratio is the half-up 4-decimal ratio against the peak.
    *
    * Scale: corpus → calendar-sized daily rollup map-side; the
    * running-max and rank windows run over the day axis (bounded-
    * window justification as the rest of the global-series family). */
  def tsMaxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val ord = Window.orderBy("day")
    val dd = daily
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("peak", max("cents").over(ord))
      .withColumn("dd", col("peak") - col("cents"))
    dd.agg(
        count(lit(1)).as("n_days"),
        max("dd").as("max_dd_cents"),
        max_by(col("day"), col("dd") * 100000L + (lit(100000L) - col("rn"))).as("trough_day"),
        max_by(col("peak"), col("dd") * 100000L + (lit(100000L) - col("rn"))).as("peak_cents"))
      .select(col("n_days"), col("max_dd_cents"), col("trough_day"), col("peak_cents"),
        Num.ratio(col("max_dd_cents"), col("peak_cents"), 4).as("dd_ratio"))
  }

  /** Seasonal-strength diagnostic — "did the weekly profile explain
    * anything": 1 − Var(residual)/Var(detrended) over
    * `ts_seasonal_decompose`'s own components (built by calling it —
    * one definition, two readouts). Variances are the n-scaled integer
    * numerators n·Σx² − (Σx)² held in DECIMAL(38,0) (Σx² over a
    * multi-year calendar overflows BIGINT at sf10 daily magnitudes);
    * the two final 6-decimal doubles follow the census family's
    * round-after-exact convention. Strength ≈ 1 → strong weekly
    * seasonality; ≤ 0 → the profile explained nothing.
    *
    * Scale: everything after the decompose's daily rollup is
    * calendar-sized; this adds one aggregate over that frame. */
  def tsSeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val d = tsSeasonalDecompose(s, dir)
      .filter(col("trend_cents").isNotNull)
      .select((col("cents") - col("trend_cents")).as("detr"), col("residual_cents").as("res"))
    def varNum(c: Column) = {
      val x2 = (c.cast("decimal(38,0)") * c.cast("decimal(38,0)"))
      count(lit(1)) * sum(x2) - (sum(c.cast("decimal(38,0)")) * sum(c.cast("decimal(38,0)")))
    }
    d.agg(count(lit(1)).as("n_days"),
        varNum(col("detr")).as("vd"), varNum(col("res")).as("vr"))
      .select(col("n_days"),
        round(col("vr").cast("double") / col("vd").cast("double"), 6).as("var_ratio"),
        round(lit(1.0) - col("vr").cast("double") / col("vd").cast("double"), 6).as("strength"))
  }

  /** Trailing 7-day rolling variance of the global daily series — the
    * volatility band every Bollinger-style monitor draws, held in
    * EXACT integers: the n²-scaled variance numerator 7·Σx² − (Σx)²
    * (true variance × 49; associative BIGINT sums, no mean
    * subtraction, no float). Full windows only. BIGINT headroom: daily
    * cents ≈ 3.6·10⁸ at sf10 → 7·Σx² ≈ 6·10¹⁸, inside the 9.2·10¹⁸
    * BIGINT cap; the next decade moves the power sums to DECIMAL(38),
    * shape unchanged.
    *
    * Scale: corpus → calendar-sized daily rollup map-side, then one
    * ordered window over the day axis (same bounded-window
    * justification as `ts_seasonal_decompose`). */
  def tsRollingVariance(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val w7 = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sum7", sum("cents").over(w7))
      .withColumn("sumsq7", sum(col("cents") * col("cents")).over(w7))
      .filter(col("n7") === 7)
      .select(col("day"), col("cents"),
        call_function("div", col("sum7"), lit(7L)).as("mean7_cents"),
        (lit(7L) * col("sumsq7") - col("sum7") * col("sum7")).as("var7_num"))
      .orderBy("day")
  }

  /** Theil–Sen robust trend — the median of all pairwise slopes of the
    * global daily purchase series (the estimator that shrugs off the
    * outlier days that wreck least-squares): slopes in micro-cents/day
    * via truncating division (identical integer in both engines), median by
    * the cumulative-count discrete form. O(days²) pairs by definition —
    * and 'days' is the CALENDAR, not the corpus, so the pair count is
    * bounded at any scale (3 years ≈ 1100 days ≈ 600k pairs — one
    * task's work); the corpus itself collapses to the daily rollup
    * first, same as every global-series op here.
    *
    * The pair join is a rn-keyed self-theta-join on the tiny daily
    * frame; the median window sorts the slope list once. */
  def tsTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("i", row_number().over(Window.orderBy("day")))
    val slopes = daily.as("a").join(daily.as("b"), col("b.i") > col("a.i"))
      .select(call_function("div",
        (col("b.cents") - col("a.cents")) * 1000000L,
        col("b.i") - col("a.i")).as("slope_micro"))
    val cum = Window.orderBy("slope_micro")
    val tot = Window.partitionBy()
    slopes
      .withColumn("cw", count(lit(1)).over(cum))
      .withColumn("n", count(lit(1)).over(tot))
      .agg(
        max("n").as("n_pairs"),
        min("slope_micro").as("min_slope_micro"),
        min(when(col("cw") * 2 >= col("n"), col("slope_micro"))).as("median_slope_micro"),
        max("slope_micro").as("max_slope_micro"))
  }

  /** Largest-Triangle-Three-Buckets downsampling of the global daily
    * purchase series — the canonical dashboard decimator (keep the
    * visually-significant extremes, drop the filler): first/last
    * points pinned, interior width-3 rank buckets, each bucket keeps
    * the point maximizing the triangle area against the PREVIOUS
    * SELECTED point and the NEXT bucket's centroid. All area
    * arithmetic is exact BIGINT (n-scaled centroids, |cross product|,
    * rank-encoded tiebreak to the smallest index).
    *
    * Scale: the corpus collapses to the calendar-sized daily rollup
    * first (the only pass over raw data, map-side combined); the
    * sequential selection then picks its engine by the MEASURED series
    * length. At the calendar bound and below it runs as a driver-side
    * fold — the same constant-size-metadata exception as
    * `geoGridDbscan`'s cell graph (a recursive-CTE form spends ~8.5 s
    * of per-round scheduling on a 30-row frame for identical output).
    * Over the bound it runs the DISTRIBUTED windowed-bucket form
    * (`lttbDistributed`): per-(bucket, prev-candidate) arg-max
    * transition table + parallel-prefix function composition — the
    * Viterbi factoring, log₂(buckets) self-join rounds instead of a
    * length-proportional walk. Both engines produce bit-identical
    * selections (pinned by `FallbackSpec`). The ORACLE solves the
    * same recurrence relationally — transition table + recursive-CTE
    * pointer walk — so the two engines agree through entirely
    * different algorithms, a stronger check than a shared statement. */
  def tsLttbDownsample(s: SparkSession, dir: String): DataFrame =
    tsLttbDownsampleImpl(s, dir, bound = 200000L)

  private[graft] def tsLttbDownsampleImpl(s: SparkSession, dir: String, bound: Long): DataFrame = {
    val dailyDf = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("v"))
      .persist()
    val nDays = dailyDf.count()
    if (nDays > bound && nDays >= 3) {
      val out = lttbDistributed(s, dailyDf, nDays)
      dailyDf.unpersist()
      return out
    }
    val daily = dailyDf.orderBy("day")
      .collect().map(r => (r.getDate(0), r.getLong(1)))
    dailyDf.unpersist()
    val n = daily.length.toLong
    // degenerate series (n < 3): no interior bucket exists and LTTB is
    // the identity — short-circuit BEFORE the fold (an empty series
    // would deref pts.head; n=2 makes bucket(n)=2 while bucket 1 is
    // empty, so byBucket(1) would throw)
    if (n < 3) {
      import s.implicits._
      return daily.zipWithIndex
        .map { case ((day, v), idx) => (idx.toLong, idx + 1L, day, v) }
        .toSeq.toDF("k", "i", "day", "v").orderBy("k")
    }
    def bucket(i: Long): Long =
      if (i == 1) 0L else if (i == n) (n - 3) / 3 + 2 else (i - 2) / 3 + 1
    val pts = daily.zipWithIndex.map { case ((day, v), idx) =>
      (idx + 1L, v, day, bucket(idx + 1L))
    }
    val byBucket = pts.groupBy(_._4)
    val maxB = pts.map(_._4).max
    // n-scaled centroid per bucket: (Σi, Σv, m)
    val cent = byBucket.map { case (b, ps) =>
      b -> (ps.map(_._1).sum, ps.map(_._2).sum, ps.length.toLong)
    }
    var prev = pts.head // i = 1, bucket 0
    val selected = scala.collection.mutable.ArrayBuffer(prev)
    for (k <- 1L to (maxB - 1)) {
      val (si, sv, m) = cent(k + 1)
      val (pi, pv) = (prev._1, prev._2)
      val sel = byBucket(k).maxBy { case (ci, cv, _, _) =>
        math.abs((ci - pi) * (sv - m * pv) - (si - m * pi) * (cv - pv)) * 100000L +
          (100000L - ci)
      }
      selected += sel
      prev = sel
    }
    selected += pts.last
    val rows = selected.zipWithIndex.map { case ((i, v, day, _), k) => (k.toLong, i, day, v) }
    s.createDataFrame(rows.toSeq).toDF("k", "i", "day", "v").orderBy("k")
  }

  /** Distributed LTTB for a series too long to fold on the driver —
    * the windowed-bucket form behind `tsLttbDownsample`'s length guard.
    *
    * (1) Global rank `i` by day: range-partitioned sort +
    *     `zipWithIndex` (per-partition counts job + one pass — no
    *     single-partition window at any length).
    * (2) The fold's width-3 rank buckets, in-bucket slots (0..2 — pure
    *     arithmetic off the bucket's min rank, no extra shuffle), and
    *     n-scaled centroids as one map-side-combined aggregate.
    * (3) The recurrence factored Viterbi-style: the selection in
    *     bucket k depends ONLY on the previously selected point, which
    *     lives in bucket k-1 (≤ 3 candidates) — so an arg-max per
    *     (bucket, prev-slot) TRANSITION TABLE captures every possible
    *     step (one equi-join candidates⋈prevs⋈centroids, `max_by` on
    *     the fold's exact integer score, unique by construction), and
    *     the length-proportional sequential walk becomes PARALLEL-
    *     PREFIX COMPOSITION of ≤3-entry slot maps: ⌈log₂ buckets⌉
    *     Hillis–Steele self-join rounds, each composing arrays with a
    *     `transform`/`element_at` expression and truncating lineage
    *     via `localCheckpoint` (the self-join references the frame
    *     twice, so the plan would double per round otherwise).
    *
    * Every arithmetic step reuses the fold's integers, so the
    * transition table — and therefore the selected set — is
    * bit-identical to the driver fold's (`FallbackSpec` pins this
    * by forcing the bound to 0 on data both paths can run). */
  private def lttbDistributed(s: SparkSession, dailyDf: DataFrame, n: Long): DataFrame = {
    import s.implicits._
    val maxB = (n - 3) / 3 + 2
    val parts = math.max(s.sparkContext.defaultParallelism,
      (n / 500000L).toInt) // ~500k calendar rows per ranking task
    val pts = graft.operators.GraftCaches.register(
      dailyDf
        .repartitionByRange(parts, col("day"))
        .sortWithinPartitions("day")
        .rdd.zipWithIndex()
        .map { case (r, idx) => (idx + 1L, r.getLong(1), r.getDate(0)) }
        .toDF("i", "v", "day")
        .withColumn("b",
          when(col("i") === 1L, lit(0L))
            .when(col("i") === n, lit(maxB))
            .otherwise(call_function("div", col("i") - 2L, lit(3L)) + 1L))
        // interior bucket b holds the contiguous ranks {3b-1, 3b, 3b+1}
        .withColumn("slot",
          when(col("b") === 0L || col("b") === maxB, lit(0L))
            .otherwise(col("i") - (col("b") * 3L - 1L)))
        .persist())
    val cent = pts.groupBy("b")
      .agg(sum("i").as("si"), sum("v").as("sv"), count(lit(1)).as("m"))
    // transition table: for each interior bucket k and each candidate
    // previous point (slot in bucket k-1), the arg-max selection —
    // centroid of k+1 attached at k, score identical to the fold's
    val c = pts.filter(col("b").between(1L, maxB - 1))
      .select(col("b").as("k"), col("i").as("ci"), col("v").as("cv"),
        col("slot").as("cslot"))
    val p = pts.filter(col("b") <= maxB - 2)
      .select((col("b") + 1L).as("k"), col("i").as("pi"), col("v").as("pv"),
        col("slot").as("pslot"))
    val ct = cent.select((col("b") - 1L).as("k"), col("si"), col("sv"), col("m"))
    val trans = c.join(p, "k").join(ct, "k")
      .withColumn("score",
        abs((col("ci") - col("pi")) * (col("sv") - col("m") * col("pv"))
          - (col("si") - col("m") * col("pi")) * (col("cv") - col("pv"))) * 100000L
          + (lit(100000L) - col("ci")))
      .groupBy("k", "pslot")
      .agg(max_by(col("cslot"), col("score")).as("sel"))
    // slot-map per bucket: arr[j] = selected slot given prev slot j
    // (null where bucket k-1 has fewer than 3 points — never probed)
    var g = materialize(trans.groupBy("k")
      .agg(map_from_arrays(collect_list("pslot"), collect_list("sel")).as("m"))
      .select(col("k"),
        transform(sequence(lit(0L), lit(2L)), j => element_at(col("m"), j)).as("arr")),
      checkpoint = true)
    // Hillis–Steele prefix composition: after round r, arr at k maps
    // the slot state before bucket max(1, k-2^r+1) to the state at k
    var span = 1L
    val nInterior = maxB - 1
    while (span < nInterior) {
      val partner = g.select((col("k") + span).as("k"), col("arr").as("parr"))
      g = materialize(
        g.join(partner, Seq("k"), "left")
          .select(col("k"),
            when(col("parr").isNull, col("arr"))
              .otherwise(transform(col("parr"),
                x => element_at(col("arr"), (x + 1L).cast("int")))).as("arr")),
        checkpoint = true)
      span *= 2
    }
    // bucket 0 pins point i=1 at slot 0, so prefix[0] IS the selection
    val selInterior = g
      .select(col("k").as("b"), element_at(col("arr"), 1).as("slot"))
      .join(pts, Seq("b", "slot"))
      .select(col("b").as("k"), col("i"), col("day"), col("v"))
    val ends = pts.filter(col("i") === 1L || col("i") === n)
      .select(col("b").as("k"), col("i"), col("day"), col("v"))
    selInterior.union(ends).orderBy("k")
  }

  /** Interval-concurrency sweep line — "how many orders were open at
    * once": each order is an interval [orderdate, last shipdate]
    * (inclusive), the sweep emits +1 at the start day and −1 the day
    * AFTER the end, and the running sum of the day-granular net deltas
    * is the end-of-day open count. Per month: the peak open count, the
    * month-end open count (arg-max by day — day is unique per group,
    * so no tie rule needed), and the count of delta days observed.
    * Open count is constant between delta days, so the per-month max
    * over delta days IS the true max — the classic sweep-line
    * argument.
    *
    * Scale: the detail stream collapses to one end-day per order
    * (map-side-combined max), deltas collapse to the CALENDAR-sized
    * daily net before the single global running-sum window — same
    * bounded-window justification as `ts_seasonal_decompose`. The
    * month rollup is |months| rows. */
  def tsIntervalSweep(s: SparkSession, dir: String): DataFrame = {
    // ONE order-keyed shuffle, not two (round 14): the natural
    // "aggregate lineitem per order, then join orders" shape shuffles
    // the full lineitem census AND sort-merges it against orders —
    // both passes keyed on the same orderkey. Fused as a UNION +
    // single aggregate (orders contribute the start date, lineitems
    // the max ship date; one row per key has both after max()), the
    // plan is one map-side-combinable exchange. Semantics identical to
    // the inner join: keys missing either side drop via the null
    // filter. Measured at sf100-lite: 99.2 s → 79.7 s quiet (shuffle
    // anchor 0.507; ANCHORS.jsonl r14 line) with the same oracle.
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"),
        to_date(col("l_shipdate")).as("ship"), lit(null).cast("date").as("od"))
    val od = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        lit(null).cast("date").as("ship"), to_date(col("o_orderdate")).as("od"))
    val spans = li.unionAll(od)
      .groupBy("k")
      .agg(max("ship").as("ship_end"), max("od").as("start_day"))
      .filter(col("ship_end").isNotNull && col("start_day").isNotNull)
      // the synthetic ship dates are uncorrelated with order dates, so
      // ~20% of intervals would end before they start; clamp to the
      // well-formed [start, max(start, end)] an ops dashboard would use
      .select(col("start_day"), greatest(col("start_day"), col("ship_end")).as("end_day"))
    val deltas = spans.select(col("start_day").as("day"), lit(1L).as("d"))
      .unionAll(spans.select(date_add(col("end_day"), 1).as("day"), lit(-1L).as("d")))
      .groupBy("day").agg(sum("d").as("net"))
    val open = deltas
      .withColumn("open_eod", sum("net").over(Window.orderBy("day")))
    open.groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(
        max("open_eod").as("peak_open"),
        max_by(col("open_eod"), col("day")).as("month_end_open"),
        count(lit(1)).as("n_delta_days"))
      .orderBy("month")
  }

  /** α-β tracking filter (α=1/2, β=1/4) over each user's daily purchase
    * series — the classical constant-gain state observer (the radar-
    * tracking staple): predict `pred = l' + b'`, measure the innovation
    * `r = c − pred`, correct level `l = pred + r div 2` and trend
    * `b = b' + r div 4`. Distinct from `ts_holt_linear`: Holt smooths
    * level and trend with coupled recurrences on the VALUE; α-β corrects
    * a PREDICTION with the measured innovation, and the innovation
    * stream itself is the filter's anomaly signal (a well-tracked series
    * has innovations near zero) — so it's emitted as a column. Dyadic
    * gains quantize exactly to integer cents; Scala `/` and DuckDB `//`
    * both truncate toward zero (probed: −7 // 2 = −3), so negative
    * innovations agree bit-for-bit.
    *
    * Scale: the recurrence is sequential PER KEY — typed flatMapGroups
    * over pre-aggregated daily rows, keys parallelize across executors,
    * one (user_id) exchange of day-level (not event-level) rows; the
    * same shape as ewma/holt. */
  def tsAlphaBetaFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = dailyCents(s, dir)
      .select(col("user_id"), col("day").cast("string"), col("cents"))
      .as[(Long, String, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, String, Long)]) =>
        val days = it.toArray.sortBy(_._2)
        var l = 0L
        var b = 0L
        days.iterator.zipWithIndex.map { case ((_, d, c), i) =>
          if (i == 0) { l = c; b = 0L; (uid, d, c, 0L, l, b) }
          else {
            val pred = l + b
            val r = c - pred
            l = pred + r / 2
            b = b + r / 4
            (uid, d, c, r, l, b)
          }
        }
      }
      .toDF("user_id", "day", "cents", "innov", "l", "b")
      .select(col("user_id"), col("day").cast("date").as("day"), col("cents"),
        (col("innov").cast("double") / 100).as("innovation"),
        (col("l").cast("double") / 100).as("level"),
        (col("b").cast("double") / 100).as("trend"))
      .orderBy("user_id", "day")
  }

  /** HOLT–WINTERS (additive, weekly season) over each user's daily
    * purchase series — the seasonal step up from `ts_holt_linear`'s
    * level+trend smoother: alongside level l and trend b, seven
    * seasonal slots s₀..s₆ (slot = observation index mod 7 — the
    * calendar-free convention that keeps gapped series well-defined)
    * evolve by the α=β=γ=1/2 integer recurrence
    *   l ← (c − s_w + l + b) div 2,  b ← (b + Δl) div 2,
    *   s_w ← (s_w + (c − l)) div 2,
    * with the innovation c − (l + b + s_w) read out BEFORE the update.
    * All-integer cents (the `ts_ewma` discipline): div truncates toward
    * zero identically in Scala and DuckDB (probed: −7 // 2 = −3), so
    * the whole state trajectory is bit-identical and the oracle is the
    * same recurrence as a recursive CTE carrying the seven slots as
    * columns.
    *
    * Scale: corpus → per-user daily rollup map-side FIRST; the
    * recurrence is inherently sequential per key, so it runs as
    * `flatMapGroups` over each user's CALENDAR-BOUNDED series (same
    * justification as `ts_holt_linear`/`ts_ewma`: the sequential unit
    * is days-per-user, not corpus rows, and users parallelize). */
  def tsHoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = dailyCents(s, dir)
      .select(col("user_id"), col("day").cast("string"), col("cents"))
      .as[(Long, String, Long)]
    rows.groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, String, Long)]) =>
        val days = it.toArray.sortBy(_._2)
        var l = 0L
        var b = 0L
        val sea = Array.fill(7)(0L)
        days.iterator.zipWithIndex.map { case ((_, d, c), i) =>
          val w = i % 7
          if (i == 0) { l = c; b = 0L; (uid, d, c, 0L, l, b, sea(w)) }
          else {
            val innov = c - (l + b + sea(w))
            val lp = l
            l = ((c - sea(w)) + l + b) / 2
            b = (b + (l - lp)) / 2
            sea(w) = (sea(w) + (c - l)) / 2
            (uid, d, c, innov, l, b, sea(w))
          }
        }
      }
      .toDF("user_id", "day", "cents", "innov", "l", "b", "sw")
      .select(col("user_id"), col("day").cast("date").as("day"), col("cents"),
        (col("innov").cast("double") / 100).as("innovation"),
        (col("l").cast("double") / 100).as("level"),
        (col("b").cast("double") / 100).as("trend"),
        (col("sw").cast("double") / 100).as("seasonal"))
      .orderBy("user_id", "day")
  }

  /** Bollinger-band breakout detection over the global daily purchase
    * series: each day is tested against the TRAILING 20-day band
    * (window EXCLUDES today — the anomaly-detector convention, unlike
    * `ts_rolling_variance`'s inclusive volatility readout) at ±2σ. The
    * band test is the multiplied-out INTEGER comparison: with S = Σx
    * and Q = Σx² over the window, (x − S/n)² > 4·(n·Q − S²)/n² clears
    * denominators to `(n·x − S)² > 4·(n·Q − S²)` exactly — evaluated in
    * DECIMAL(38,0) (HUGEINT in the oracle): no mean, no σ, no float
    * ever materializes, so the breakout booleans hash bit-for-bit.
    * Both sides stay ≤ ~10²⁶ at sf100, 12 digits inside the 38-digit
    * cap.
    *
    * Scale: corpus → calendar-sized daily rollup map-side, one ordered
    * window over the day axis (the bounded-window exception every
    * global-series op here documents). */
  /** Banded dynamic-time-warping distance between the daily VIEW and
    * PURCHASE count series (Sakoe–Chiba band ǀi−jǀ ≤ 3) — "how far out
    * of phase are traffic and conversion, allowing ±3 days of drift":
    * DTW = min-cost monotone alignment under the band, reported next
    * to the rigid same-day L1 so the gap reads as recoverable lag.
    * All-integer DP (costs are count differences), so the distance is
    * bit-exact in both engines — the oracle solves the identical DP
    * RELATIONALLY (anti-diagonal recursive CTE carrying two levels),
    * two algorithms, one answer.
    *
    * Scale: the corpus collapses map-side to the CALENDAR-bounded
    * daily rollup; the inherently-sequential DP then runs as a typed
    * mapGroups over that bounded series (the ewma/holt/alpha_beta
    * per-key recurrence shape — band × days cells, one task, never
    * corpus-sized). */
  /** Lead–lag cross-correlation table between the daily VIEW and
    * PURCHASE series — "does traffic lead conversion, and by how many
    * days": for each lag L ∈ [−7, 7], the exact covariance numerator
    * `n·Σxy − Σx·Σy` plus both variance numerators over the
    * overlapping window, all integers (a user divides for Pearson r;
    * the engine never touches a float, so the table hashes
    * bit-for-bit). Complements `ts_autocorrelation` (one series
    * against itself) with the two-series causality readout.
    *
    * Scale: corpus → calendar-bounded daily rollup map-side; the
    * 15-lag fan-out explodes the TINY daily frame (constant 15×) and
    * re-joins it on the shifted index — one equi-join + one map-
    * combined aggregate over ≤ 15·days rows. The products/sums run in
    * DECIMAL(38,0) (the `ts_bollinger_breakout` discipline) so the
    * INTERNAL arithmetic never wraps silently, but the three OUTPUT
    * numerators are cast back to BIGINT on both engines: n·Σxy is
    * ~4×10¹⁴ at sf100 (headroom to ~sf10000 inside 2⁶³), and under
    * ANSI mode an overflowing narrowing cast raises rather than
    * wrapping — exact, loud, and a hash-stable long column. */
  def tsLeadLag(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count_if(col("event_type") === "view").as("x"),
        count_if(col("event_type") === "purchase").as("y"))
      // the day index window is over the CALENDAR-bounded rollup —
      // the same bounded-single-partition exception as every global
      // daily-series op in this file
      .withColumn("i", row_number().over(Window.orderBy("day")))
      .persist()
    val lags = daily
      .select(col("i"), col("x"), explode(sequence(lit(-7), lit(7))).as("lag"))
      .withColumn("j", col("i") + col("lag"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val out = lags
      .join(daily.select(col("i").as("j"), col("y")), "j")
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        (count(lit(1)) * sum(d38(col("x")) * d38(col("y"))) - sum(d38(col("x"))) * sum(d38(col("y")))).cast("bigint").as("sxy_num"),
        (count(lit(1)) * sum(d38(col("x")) * d38(col("x"))) - sum(d38(col("x"))) * sum(d38(col("x")))).cast("bigint").as("sxx_num"),
        (count(lit(1)) * sum(d38(col("y")) * d38(col("y"))) - sum(d38(col("y"))) * sum(d38(col("y")))).cast("bigint").as("syy_num"))
      .orderBy("lag")
    graft.operators.GraftCaches.register(daily)
    out
  }

  def tsDtwBand(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count_if(col("event_type") === "view").as("x"),
        count_if(col("event_type") === "purchase").as("y"))
      .select(col("day").cast("string").as("day"), col("x"), col("y"))
      .as[(String, Long, Long)]
    val W = 3
    daily.groupByKey(_ => 0)
      .mapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._1)
        val n = rows.length
        val INF = Long.MaxValue / 4
        val d = Array.fill(n + 1, n + 1)(INF)
        var l1 = 0L
        for (i <- 1 to n) l1 += math.abs(rows(i - 1)._2 - rows(i - 1)._3)
        for (i <- 1 to n; j <- math.max(1, i - W) to math.min(n, i + W)) {
          val c = math.abs(rows(i - 1)._2 - rows(j - 1)._3)
          val best =
            if (i == 1 && j == 1) 0L
            else math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
          d(i)(j) = c + best
        }
        (n.toLong, l1, d(n)(n))
      }
      .toDF("n_days", "l1_same_day", "dtw_band")
  }

  /** DTW ALIGNMENT PATH — `ts_dtw_band`'s missing half: not just the
    * band-constrained distance but WHICH (day_i, day_j) cells the
    * optimal warp aligns, recovered by deterministic backtrack from
    * (n, n): at each cell the predecessor is the cheapest of
    * {diagonal, up, left} with the fixed tie-break diagonal ≻ up ≻
    * left, so both engines walk the identical path even when several
    * are optimal. Output: one row per path cell, k ascending from
    * (1, 1) — (k, i, j, |x_i − y_j|, cumulative optimal cost); the
    * last row's path_cost IS `ts_dtw_band`'s dtw_band.
    *
    * Scale: the corpus collapses to the calendar-bounded daily rollup
    * MAP-SIDE (the tsDtwBand posture); the inherently-sequential
    * band×days DP + backtrack runs as one typed flatMapGroups task
    * over that bounded frame — same documented constant-metadata
    * exception, path length ≤ 2·days. The oracle replays the DP's
    * anti-diagonal recursive CTE and backtracks with the same
    * tie-break over the materialized cells. */
  def tsDtwPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count_if(col("event_type") === "view").as("x"),
        count_if(col("event_type") === "purchase").as("y"))
      .select(col("day").cast("string").as("day"), col("x"), col("y"))
      .as[(String, Long, Long)]
    val W = 3
    daily.groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._1)
        val n = rows.length
        val INF = Long.MaxValue / 4
        val d = Array.fill(n + 1, n + 1)(INF)
        for (i <- 1 to n; j <- math.max(1, i - W) to math.min(n, i + W)) {
          val c = math.abs(rows(i - 1)._2 - rows(j - 1)._3)
          val best =
            if (i == 1 && j == 1) 0L
            else math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
          d(i)(j) = c + best
        }
        val path = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var i = n; var j = n
        while (i > 1 || j > 1) {
          path += ((i.toLong, j.toLong,
            math.abs(rows(i - 1)._2 - rows(j - 1)._3), d(i)(j)))
          val dg = if (i > 1 && j > 1) d(i - 1)(j - 1) else INF
          val up = if (i > 1) d(i - 1)(j) else INF
          val lf = if (j > 1) d(i)(j - 1) else INF
          if (dg <= up && dg <= lf) { i -= 1; j -= 1 }
          else if (up <= lf) i -= 1
          else j -= 1
        }
        path += ((1L, 1L, math.abs(rows(0)._2 - rows(0)._3), d(1)(1)))
        path.reverse.zipWithIndex.map { case ((pi, pj, cc, cum), k) =>
          (k.toLong, pi, pj, cc, cum)
        }
      }
      .toDF("k", "i", "j", "cell_cost", "path_cost")
      .orderBy("k")
  }

  def tsBollingerBreakout(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-20, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val nx_s = dec(col("n_win")) * dec(col("cents")) - dec(col("sum_w"))
    val varNum = dec(col("n_win")) * dec(col("sumsq_w")) -
      dec(col("sum_w")) * dec(col("sum_w"))
    daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_w", sum("cents").over(w))
      .withColumn("sumsq_w",
        sum(dec(col("cents")) * dec(col("cents"))).over(w))
      .filter(col("n_win") === 20)
      .select(col("day"), col("cents"),
        call_function("div", col("sum_w"), col("n_win")).as("mean20_cents"),
        (nx_s > lit(0) && nx_s * nx_s > lit(4) * varNum).as("breakout_hi"),
        (nx_s < lit(0) && nx_s * nx_s > lit(4) * varNum).as("breakout_lo"))
      .orderBy("day")
  }

  /** ROBUST (median/MAD) outlier scoring — the anomaly detector that
    * survives what breaks `dq_anomaly_zscore`: mean/stddev are
    * themselves dragged by the outliers they hunt, while the median
    * and the median-absolute-deviation have a 50% breakdown point.
    * Per event type: med = discrete median of the integer cents (the
    * `agg_percentile_disc` cumulative-count formulation — ties share a
    * RANGE-frame count in both engines), MAD = discrete median of
    * |cents − med|, and each event's deviation in exact micro-units
    * dev = (cents − med)·10⁶ div max(MAD, 1) (signed integer division
    * truncates toward zero identically in both engines — the
    * `ts_theil_sen` precedent); top 25 by |dev| with the event_id
    * tiebreak. No float enters the pipeline, so the cut line is
    * bit-stable. Scale: the medians run over the (type, value, count)
    * CENSUS — a map-combined aggregate collapses the corpus first, the
    * cumulative window sees only DISTINCT values (bounded by the cents
    * domain), so nothing ever sorts row-level data at |types|-way
    * parallelism (the row-window form measured 25 s at sf10; this one
    * is corpus-scan-bound); scoring join and TakeOrdered top-k are one
    * more map pass. */
  def tsRobustZscore(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        (Num.money(col("value")) * 100).cast("long").as("cents"))
    // discrete medians over the VALUE CENSUS, not the row stream: the
    // row-level cumulative window partitions by event type — a handful
    // of partitions, so at 10M+ rows the sort runs at parallelism
    // |types| (measured 25 s at sf10). The census collapses the corpus
    // to (type, value, count) via a map-combined aggregate first; the
    // cumulative-count median then windows over DISTINCT values
    // (bounded by the cents domain, not the row count) with identical
    // semantics — the RANGE frame's peer group IS the census row.
    def discMedian(census: DataFrame, valueCol: String, out: String): DataFrame = {
      val cum = Window.partitionBy("event_type").orderBy(valueCol)
      val tot = Window.partitionBy("event_type")
      census
        .withColumn("cw", sum("cnt").over(cum))
        .withColumn("n", sum("cnt").over(tot))
        .groupBy("event_type")
        .agg(min(when(col("cw") * 2 >= col("n"), col(valueCol))).as(out))
    }
    // ONE value census feeds both median chains (round-15): the
    // (type, cents, cnt) aggregate was computed twice — once under the
    // median, once under the MAD census — costing two full event scans
    // plus two identical shuffles; persisted (bounded by the distinct
    // cents domain, not the row count) it runs once. med/mad are
    // ≤ |types| rows — broadcast so the final per-event attach never
    // shuffles the corpus.
    val census = graft.operators.GraftCaches.register(
      e.groupBy("event_type", "cents").agg(count(lit(1)).as("cnt")).persist())
    val med = discMedian(census, "cents", "med_cents")
    val adCensus = census
      .join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("cents") - col("med_cents")).as("ad"), col("cnt"))
      .groupBy("event_type", "ad").agg(sum("cnt").as("cnt"))
    val mad = discMedian(adCensus, "ad", "mad_cents")
    e.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_cents"), col("mad_cents"),
        call_function("div", (col("cents") - col("med_cents")) * lit(1000000L),
          greatest(col("mad_cents"), lit(1L))).as("dev_micro"))
      .orderBy(abs(col("dev_micro")).desc, col("event_id"))
      .limit(25)
  }

  /** MATRIX-PROFILE DISCORDS — the "most anomalous day-shaped window"
    * readout: over the gap-filled HOURLY purchase series, every 24-hour
    * window's distance to its nearest non-overlapping neighbor
    * (exclusion zone |i−j| ≥ 12 h, the standard half-window rule), then
    * the top 25 windows whose nearest neighbor is FARTHEST — a window
    * that resembles no other window is a discord (outage, spike,
    * calendar anomaly), the matrix-profile framing of anomaly
    * detection. Distances are exact BIGINT Σ(Δcents)² so the profile
    * argmin (d2, j) and the discord cut are bit-stable. The all-pairs
    * term is CALENDAR-BOUNDED (the `ts_theil_sen` convention): one
    * month of hours is ≤ 744 windows → ≤ 550k banded pairs regardless
    * of corpus size, because the series aggregates the corpus FIRST;
    * at 100 TB the same profile runs per series key after the hourly
    * rollup, and the window join broadcasts the ≤ 18k-row (window ×
    * offset) frame — never a corpus-sized shuffle. */
  def tsMatrixProfileDiscord(s: SparkSession, dir: String): DataFrame = {
    val cents = (Num.money(col("value")) * 100).cast("long")
    // persist the calendar-bounded hourly census (round-15): it feeds
    // `bounds`, `series`, and (through the window frame `w`) BOTH sides
    // of the profile join — unpersisted, the corpus scan + hourly
    // aggregate ran four times per invocation
    val hourly = graft.operators.GraftCaches.register(
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(call_function("div", unix_micros(col("ts")), lit(3600000000L)).as("h"),
          cents.as("cents"))
        .groupBy("h").agg(sum("cents").as("c"))
        .persist())
    val bounds = hourly.agg(min("h").as("h0"), max("h").as("h1"))
    val series = bounds.select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    // hour h belongs to windows i ∈ [max(h−23, h0), min(h, h1−23)] at
    // offset k = h − i; the (i, k, c) frame is |hours|·24 rows. The
    // span guard matters: max(h−23,h0) ≤ min(h,h1−23) holds for every
    // h ∈ [h0,h1] iff h1−h0 ≥ 23, and a sub-24-hour series would feed
    // sequence() a DESCENDING range — Spark would emit bogus reversed
    // windows where DuckDB's range() yields empty. Filtering the span
    // first makes both engines agree on the degenerate case: no
    // complete 24-hour window exists, so the profile is empty.
    // persisted (round 16 — the r15 "not yet optimized" #4): the frame
    // feeds BOTH profile-join sides, and unpersisted each side re-ran
    // the series gap-fill + explode; it is ≤ |hours|·24 rows, calendar-
    // bounded, so the cache is KB-scale at any corpus size
    val w = graft.operators.GraftCaches.register(
      series.crossJoin(broadcast(bounds))
        .filter(col("h1") - col("h0") >= 23)
        .select(col("c"), col("h"), explode(sequence(
          greatest(col("h") - 23, col("h0")),
          least(col("h"), col("h1") - 23))).as("i"))
        .select(col("i"), (col("h") - col("i")).as("k"), col("c"))
        .persist())
    val d2 = w.join(broadcast(w.select(col("i").as("j"), col("k"), col("c").as("cb"))),
        Seq("k"))
      .filter(abs(col("i") - col("j")) >= 12)
      .groupBy("i", "j")
      .agg(sum((col("c") - col("cb")) * (col("c") - col("cb"))).as("d2"))
    d2.groupBy("i")
      .agg(min(struct(col("d2"), col("j"))).as("m"))
      .select(col("i").as("win_hour"), col("m.j").as("nn_hour"), col("m.d2").as("nn_d2"))
      .orderBy(desc("nn_d2"), col("win_hour"))
      .limit(25)
  }

  /** PERIODOGRAM — the DFT power readout behind every "does this metric
    * have a weekly cycle?" question: amplitude of the daily order-count
    * series at the first 8 Fourier bins (frequency k/N cycles per
    * observed day, k = 1..8). Each bin's cosine/sine weight cos(2πkt/N)
    * is QUANTIZED to 1e-4 before the sum — both engines quantize the
    * same IEEE double (identical expression shape → identical binary
    * result, the zipf/theil convention), so C_k = Σ n_t·cos_q and S_k =
    * Σ n_t·sin_q are exact BIGINTs and partition-order free. Amplitude
    * √(C²+S²) squares in DOUBLE (C,S cast exactly; the square is the
    * same IEEE value both sides — BIGINT squares would overflow past
    * sf1), and the dominant bin is flagged over the 8-row frame. The
    * day index t is the DENSE series position (gap-compressed calendar
    * — documented; orders cover every day at every graded SF).
    *
    * Scale: corpus → calendar-sized daily census first; the trig matrix
    * is |days|×8 rows off a broadcast 8-row bin frame; the only windows
    * run over the ≤|days| and 8-row frames. */
  def tsPeriodogram(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"))
    val idx = daily
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      .withColumn("t", (row_number().over(Window.orderBy("day")) - 1).cast("long"))
    val ks = s.range(1, 9).select(col("id").as("k"))
    val angle = lit(2.0 * math.Pi) * col("k") * col("t") / col("nd")
    val sums = idx.crossJoin(broadcast(ks))
      .select(col("k"), col("nd"),
        (col("n") * round(cos(angle) * 10000d).cast("long")).as("c"),
        (col("n") * round(sin(angle) * 10000d).cast("long")).as("s"))
      .groupBy("k")
      .agg(max("nd").as("n_days"), sum("c").as("c_sum"), sum("s").as("s_sum"))
    val cd = col("c_sum").cast("double")
    val sd = col("s_sum").cast("double")
    sums
      .select(col("k"), col("n_days"),
        Num.ratio(col("n_days"), col("k"), 2).as("period_days"),
        round(sqrt(cd * cd + sd * sd) / 10000d, 2).as("amplitude"))
      .withColumn("dominant",
        col("amplitude") === max("amplitude").over(Window.partitionBy()))
      .orderBy("k")
  }

  /** PARTIAL AUTOCORRELATION (Durbin–Levinson to lag 3) — the
    * model-order diagnostic read next to `ts_autocorrelation`'s ACF:
    * the PACF at lag k is the correlation left after regressing out
    * lags 1..k−1, the statistic an AR(p) fit is ordered by. The ACF
    * inputs are the same centered daily-cents products as the ACF
    * query but quantized at 6 decimals (half-up integer ratio), and
    * the Durbin–Levinson recursion — φ11 = r1; φ22 = (r2−r1²)/(1−r1²);
    * φ33 via the level-2 reflection — runs in doubles OF those exact
    * quantized inputs with one expression shape, so both engines
    * evaluate identical IEEE arithmetic.
    *
    * Scale: corpus → calendar-sized daily census map-side; lag
    * products over the \|days\| frame; the recursion is a single-row
    * select. */
  def tsPacf(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val wAll = Window.partitionBy()
    val d = daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("cents").over(wAll))
      .select(col("day"), (col("cents") * col("n") - col("total")).as("d"))
    val wOrd = Window.orderBy("day")
    // products and the 6-decimal ratio run in DECIMAL(38,0): Σd² at
    // sf100 tops 1e27, past BIGINT — decimal keeps the half-up ratio
    // exact at every SF (div on decimals is the same floor division)
    val dd = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val lagged = d.select((1 to 3).map(k =>
      (dd(col("d")) * dd(lag("d", k).over(wOrd))).as(s"p$k")): _*)
    val den = d.agg(sum(dd(col("d")) * dd(col("d"))).as("den"))
    val rs = lagged.agg(
        sum("p1").as("n1"), sum("p2").as("n2"), sum("p3").as("n3"))
      .crossJoin(broadcast(den))
      .select((1 to 3).map { k =>
        (when(col(s"n$k") < 0, -1.0).otherwise(1.0) *
          call_function("div",
            abs(col(s"n$k")) * lit(2000000L) + col("den"), col("den") * 2)
            .cast("double") / 1000000d).as(s"r$k")
      }: _*)
    val r1 = col("r1"); val r2 = col("r2"); val r3 = col("r3")
    val phi22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val a21 = r1 * (lit(1.0) - phi22)
    val phi33 = (r3 - a21 * r2 - phi22 * r1) /
      (lit(1.0) - a21 * r1 - phi22 * r2)
    rs.select(explode(array(
        struct(lit(1L).as("k"), r1.as("acf"), round(r1, 6).as("pacf")),
        struct(lit(2L).as("k"), r2.as("acf"), round(phi22, 6).as("pacf")),
        struct(lit(3L).as("k"), r3.as("acf"), round(phi33, 6).as("pacf")))).as("s"))
      .select(col("s.k").as("k"), col("s.acf").as("acf"), col("s.pacf").as("pacf"))
      .orderBy("k")
  }

  /** LAG-1 GRANGER READOUT — "do clicks lead purchases?": regress the
    * daily purchase series y_t on its own lag (restricted AR(1)) and
    * on (y_{t−1}, x_{t−1}) with x the daily click count (full model),
    * and report the R² lift the lagged exogenous series buys. Daily y
    * is quantized half-up to 10⁴-cent units first (the
    * `census_replicate_weights` bound: squares stay BIGINT-exact at
    * every SF), moments accumulate as exact DECIMAL(38) sums, and the
    * normal-equation / R² algebra runs in doubles of those single-row
    * exacts — one expression shape, bit-stable both engines.
    *
    * Scale: corpus → calendar-sized (day, y, x) census map-side; the
    * lag join and moment aggregate run on \|days\| rows; output is one
    * row. */
  def tsGrangerLag1(s: SparkSession, dir: String): DataFrame = {
    val cents = (Num.money(col("value")) * 100).cast("long")
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", cents).otherwise(0L))
          .as("y_cents"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"))
      .select(col("day"),
        call_function("div", col("y_cents") * 2 + 10000L, lit(20000L)).as("y"),
        col("x"))
    val wOrd = Window.orderBy("day")
    val obs = daily
      .withColumn("a", lag("y", 1).over(wOrd))
      .withColumn("b", lag("x", 1).over(wOrd))
      .filter(col("a").isNotNull)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = obs.agg(count(lit(1)).as("n"),
        sum(dec(col("a"))).as("sa"), sum(dec(col("b"))).as("sb"),
        sum(dec(col("y"))).as("sz"),
        sum(dec(col("a")) * dec(col("a"))).as("saa"),
        sum(dec(col("b")) * dec(col("b"))).as("sbb"),
        sum(dec(col("a")) * dec(col("b"))).as("sab"),
        sum(dec(col("a")) * dec(col("y"))).as("saz"),
        sum(dec(col("b")) * dec(col("y"))).as("sbz"),
        sum(dec(col("y")) * dec(col("y"))).as("szz"))
    val nd = col("n").cast("double")
    val d = (x: String) => col(x).cast("double")
    // centered moments ×n (the CUPED shape): Cuv = n·Suv − Su·Sv
    val caa = nd * d("saa") - d("sa") * d("sa")
    val cbb = nd * d("sbb") - d("sb") * d("sb")
    val cab = nd * d("sab") - d("sa") * d("sb")
    val caz = nd * d("saz") - d("sa") * d("sz")
    val cbz = nd * d("sbz") - d("sb") * d("sz")
    val czz = nd * d("szz") - d("sz") * d("sz")
    // restricted: z on a. R²_r = caz² / (caa·czz)
    val r2r = caz * caz / (caa * czz)
    // full: z on (a, b). R²_f = (caz·(cbb·caz − cab·cbz) +
    //   cbz·(caa·cbz − cab·caz)) / ((caa·cbb − cab²)·czz)
    val det = caa * cbb - cab * cab
    val r2f = (caz * (cbb * caz - cab * cbz) + cbz * (caa * cbz - cab * caz)) /
      (det * czz)
    m.select(col("n"),
        round(r2r, 6).as("r2_ar1"),
        round(r2f, 6).as("r2_full"),
        round(r2f - r2r, 6).as("r2_lift"),
        (r2f - r2r > 0.05).as("x_leads_y"))
  }

  /** HAMPEL FILTER — the robust outlier-repair pass run before a daily
    * series feeds a forecaster (the median/MAD twin of `ts_robust_zscore`,
    * here as a REPAIR operator): over each centered 7-day window, the
    * window median and the MAD (median absolute deviation), a point
    * flagged when \|x − med\| · 10⁴ > 44478 · MAD (3·1.4826 scaled to the
    * exact integer 44478 — no float in the verdict), and the repaired
    * value = median where flagged. Medians of 7 exact BIGINTs via
    * sort-and-pick — no percentile interpolation, so every output is an
    * input value and the whole operator is integer-exact.
    *
    * Scale: corpus → calendar-sized daily census map-side; the window
    * collects 7 BIGINTs per row over the \|days\| frame — never
    * corpus-sized state. */
  def tsHampel(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((Num.money(col("value")) * 100).cast("long")).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    daily
      .withColumn("win", array_sort(collect_list("cents").over(w)))
      .filter(size(col("win")) === 7)
      .withColumn("med", element_at(col("win"), 4))
      .withColumn("mad", element_at(array_sort(
        transform(col("win"), v => abs(v - col("med")))), 4))
      .select(col("day"), col("cents"), col("med"), col("mad"),
        (abs(col("cents") - col("med")) * 10000L > col("mad") * 44478L)
          .as("is_outlier"))
      .withColumn("repaired", when(col("is_outlier"), col("med")).otherwise(col("cents")))
      .orderBy("day")
  }
}
