package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables.t
import graft.operators.GraftCaches.persist

/** Relational operator inventory (SURVEY §2.B: scan/filter/project/join/
  * agg/window/sort/set rows).
  *
  * Determinism discipline (SURVEY §2.C): every query ends in a total
  * ORDER BY over a candidate key of the result; every floating aggregate
  * is rounded identically to its DuckDB oracle; ranking functions are
  * cast to long to match DuckDB's BIGINT.
  *
  * Scale notes are on each operator: these run on single-file parquet at
  * sf0.1 locally, but the plan shapes (broadcast for dims, partial+final
  * hash aggregation, window partitioning on high-cardinality keys) are
  * chosen to survive a 1000-executor 100 TB run.
  */
object Relational {

  private def ts(s: String) = lit(s).cast("timestamp")

  /** Projection-only scan: Catalyst prunes the parquet read schema to the
    * 4 selected columns (verify via `ReadSchema` in explain). */
  def scanParquetProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  /** Predicate-pushdown scan: both range predicates reach the parquet
    * reader as PushedFilters; aggregation makes output bounded. */
  def scanPushdownFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_quantity") < 25)
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(sum("l_quantity"), 2).as("sum_qty"))

  /** TPC-H Q6 shape: conjunctive band predicates + single aggregate. */
  def filterPredicates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(Num.d2(sum(Num.money(col("l_extendedprice")) * Num.rate(col("l_discount")))).as("revenue"))

  /** IN-list + LIKE / NOT LIKE predicates (string pushdown). */
  def filterInLike(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#12", "Brand#22") &&
        col("p_name").like("%wid%") && !col("p_name").like("%cold%"))
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .orderBy("p_partkey")

  /** Computed projections: arithmetic, CASE bucketing. */
  def projectExpressions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Num.d2(Num.money(col("l_extendedprice")) * (lit(1) - Num.rate(col("l_discount")))).as("revenue"),
        Num.d2(Num.money(col("l_extendedprice")) * (lit(1) + Num.rate(col("l_tax")))).as("gross"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high").as("qty_bucket"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(500)

  /** Equi inner join on the fact-fact pair; at scale both sides shuffle on
    * custkey (sort-merge / shuffled-hash chosen by Catalyst + AQE). */
  def joinInnerHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("c_mktsegment")

  /** Explicit broadcast of the small dim (part) — no shuffle of lineitem. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** LEFT OUTER keeping customers with zero orders (count counts non-null
    * o_orderkey only, so they show n_orders=0). */
  def joinLeftOuter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Join-strategy hint: force a shuffled hash join (build the smaller
    * orders side per partition, no sort on either side) where the
    * planner's default is sort-merge. At scale this is the right call
    * when one side is much smaller per key range but too big to
    * broadcast — SMJ pays two sorts, SHJ pays one in-memory hash table
    * per partition. PlanShapeSpec asserts the hint takes effect. */
  def joinShuffleHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), Num.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** RIGHT OUTER: lineitem ⋈ part keeping partless-of-lineitem rows —
    * count(left key) gives 0 for parts never shipped. Same executed plan
    * family as LEFT with sides swapped; declared for SQL-surface
    * completeness. */
  def joinRightOuter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"), "right")
      .groupBy("p_partkey")
      .agg(count(col("l_orderkey")).as("n_lineitems"))
      .orderBy("p_partkey")

  /** Ordered list aggregation: collect_list → sort_array → join to a
    * canonical string (DuckDB list_sort/array_to_string mirror). The
    * string form sidesteps array-typed output comparison and keeps the
    * result deterministic under any partitioning — collect_list order is
    * partition-dependent, the sort normalizes it. */
  def aggCollectSorted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_custkey") <= 100)
      .groupBy("o_custkey")
      .agg(
        array_join(sort_array(collect_list(col("o_orderpriority"))), "|").as("priorities"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")

  /** Correlated scalar subquery through the SQL surface: Catalyst
    * de-correlates it into a left outer aggregate join — never a
    * per-row subquery execution (the RDBMS trap this engine inherits
    * none of). */
  def sqlScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("ssq_customer")
    t(s, dir, "orders").createOrReplaceTempView("ssq_orders")
    s.sql("""
      SELECT c_custkey,
             (SELECT count(*) FROM ssq_orders WHERE o_custkey = c_custkey) AS n_orders,
             (SELECT max(o_totalprice) FROM ssq_orders WHERE o_custkey = c_custkey) AS max_price
      FROM ssq_customer
      WHERE c_custkey <= 500
      ORDER BY c_custkey""")
  }

  /** Recursive CTE (Spark 4.1): generate a 48-month calendar spine and
    * LEFT JOIN order counts onto it — months with zero orders survive,
    * the gap-free time-series shape a bare GROUP BY month can't produce.
    * The recursion materializes 48 driver-light rows; the fact side
    * stays a single scan + aggregate. */
  def sqlRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("rcte_orders")
    s.sql("""
      WITH RECURSIVE cal(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL SELECT add_months(m, 1) FROM cal WHERE m < DATE '1998-12-01'
      )
      SELECT m, count(o_orderkey) AS n_orders
      FROM cal LEFT JOIN rcte_orders
        ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
      GROUP BY m ORDER BY m""")
  }

  /** FULL OUTER of two filtered key sets with presence markers. */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("key")).distinct().withColumn("in_a", lit(1))
    val b = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("key")).distinct().withColumn("in_b", lit(1))
    a.join(b, Seq("key"), "full")
      .select(col("key"), coalesce(col("in_a"), lit(0)).as("in_a"),
        coalesce(col("in_b"), lit(0)).as("in_b"))
      .orderBy("key")
  }

  /** LEFT SEMI = EXISTS: customers with at least one order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** LEFT ANTI = NOT EXISTS: customers with no orders. */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Cartesian product of the two tiny dims (BroadcastNestedLoop). */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** Non-equi (theta/band) join: quantity within ±2 of part size. Both
    * inputs pre-filtered; part side broadcast → BroadcastNestedLoopJoin,
    * which is the right physical shape for a band join with a small side. */
  def joinThetaRange(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 80)
    val p = t(s, dir, "part").filter(col("p_size") <= 10)
    li.join(broadcast(p),
        col("l_quantity").between(col("p_size") - 2, col("p_size") + 2))
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_pairs"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("p_size")
  }

  /** As-of join without a join: single pass over the per-user time-ordered
    * event stream carrying the last click forward (running `last` with
    * ignoreNulls). Equivalent to DuckDB `ASOF LEFT JOIN` (p.ts >= c.ts);
    * clicks sort before purchases at equal ts ("click" < "purchase").
    * Scale: one shuffle on user_id, no O(P×C) pair blow-up — this is the
    * formulation that survives 100 TB, unlike a range self-join. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type").isin("click", "purchase"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_type").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_ts", when(col("event_type") === "click", col("ts")))
      .withColumn("last_click_us", unix_micros(last(col("click_ts"), ignoreNulls = true).over(w)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"), col("last_click_us"))
      .orderBy("event_id")
  }

  /** The same as-of semantics through the CUSTOM OPERATOR path
    * (graft.plans.AsOfJoin: LogicalPlan + Strategy + SparkPlan): one
    * exchange + sort per side, then an O(1)-state forward merge per
    * partition — no union/window machinery at all. Must produce
    * bit-identical rows to `joinAsof` (AsOfJoinSpec) and hash-match the
    * same oracle. */
  def joinAsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type").isin("click", "purchase"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "ts", "c_user", "click_ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("last_click_us"))
      .orderBy("event_id")
  }

  /** As-of with an attribution WINDOW: a purchase only attributes to the
    * last click if that click happened within the preceding hour —
    * `AsOfJoin(toleranceUs = 1h)`. Tolerance is semantics a window
    * composition can't bolt on without a second filter pass over the
    * carried-forward column; in the custom operator it's one comparison
    * at emit (the greatest qualifying right time is the ONLY candidate:
    * if it misses the bound, every earlier one does too). */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type").isin("click", "purchase"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "ts", "c_user", "click_ts",
        toleranceUs = Some(3600L * 1000000L))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("last_click_us"))
      .orderBy("event_id")
  }

  /** FORWARD as-of: each click paired with the user's FIRST purchase
    * at-or-after it (time-to-conversion) — the direction DuckDB's ASOF
    * and Spark's windows don't give you directly; in the custom operator
    * it's the same merge with peek-don't-consume on the right stream
    * (one right row can serve several clicks). */
  def joinAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type").isin("click", "purchase"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    graft.plans.AsOf.join(clicks, purchases, "user_id", "ts", "p_user", "p_ts",
        forward = true)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        unix_micros(col("p_ts")).as("next_purchase_us"))
      .orderBy("event_id")
  }

  /** The stream_interval_join band join through the CUSTOM OPERATOR
    * (graft.plans.IntervalJoin): one shuffle + sort per side, then a
    * sliding-buffer merge whose memory is bounded by band occupancy —
    * no bucketed explode fan-out, no nested-loop fallback. Must produce
    * the same per-user aggregate as the declarative interval join (same
    * oracle SQL). */
  def joinIntervalNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
    graft.plans.IntervalJoinApi.join(
        clicks, purchases, "user_id", "click_ts", "p_user", "p_ts",
        windowUs = 3600L * 1000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), Num.sumMoney(col("value")).as("sum_value"))
      .orderBy("user_id")
  }

  /** NEAREST as-of: each purchase paired with the temporally CLOSEST
    * click in either direction (ties to the earlier one) — sensor/event
    * alignment semantics; the merge already holds the predecessor and
    * successor candidates, so nearest is one comparison at emit. */
  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("event_type").isin("click", "purchase"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "ts", "c_user", "click_ts",
        nearest = true)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("nearest_click_us"))
      .orderBy("event_id")
  }

  /** TPC-H Q3 shape: 3-way join, grouped revenue, global top-10. */
  def joinMultiway(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") < ts("1998-01-01") && col("l_shipdate") > ts("1998-01-01"))
      .groupBy("l_orderkey")
      .agg(Num.d2(sum(Num.money(col("l_extendedprice")) * (lit(1) - Num.rate(col("l_discount"))))).as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)

  /** TPC-H Q5 shape: 6-table star. Dims (region/nation/customer/supplier)
    * broadcast below the default threshold; the orders⋈lineitem spine is
    * the only real shuffle. This is the flagship (`SparkEntry.entry`). */
  def joinStarFlagship(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").filter(col("r_name") === "ASIA")
      .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name")
      .agg(Num.d2(sum(Num.money(col("l_extendedprice")) * (lit(1) - Num.rate(col("l_discount"))))).as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** TPC-H Q1 pricing summary: partial+final HashAggregate, 6 aggregates. */
  def aggHashGroupby(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2001-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        Num.d2(sum(Num.money(col("l_extendedprice")) * (lit(1) - Num.rate(col("l_discount"))))).as("sum_disc_price"),
        Num.d2(sum(Num.money(col("l_extendedprice")) * (lit(1) - Num.rate(col("l_discount"))) * (lit(1) + Num.rate(col("l_tax"))))).as("sum_charge"),
        Num.avgMoney(col("l_quantity"), 4).as("avg_qty"),
        Num.avgMoney(col("l_extendedprice"), 4).as("avg_price"),
        Num.avgMoney(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Exact distinct (planned via Expand + two-phase aggregate). */
  def aggDistinctCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  /** HLL sketch distinct, graded through a VERDICT column (round 7 —
    * the exempt-set shrink): the estimate itself is engine-specific and
    * can't be hashed against DuckDB, but the accuracy CONTRACT can be —
    * the output carries the exact distinct count plus a boolean
    * `within_10pct` (|apx − exact| ≤ 10%·exact; rsd is 2%, so 10% is a
    * 5σ bound that never trips on honest sketches yet fails loudly on
    * wiring bugs — wrong column, broken merge, garbage estimate). The
    * DuckDB oracle recomputes the exact count and states the verdict as
    * literal TRUE, putting the sketch's accuracy under the hash gate.
    * ScalaTest (`OracleExemptSpec`) still pins the tighter 5% band on
    * the raw estimates. At 100 TB the sketch is the only sane distinct:
    * fixed-size partial state, no Expand blow-up. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    // cascaded (tfidf discipline): collapse to distinct (priority,
    // custkey) pairs first — one hash shuffle with map-side combine —
    // then COUNT rows for the exact and sketch the collapsed column for
    // the estimate. HLL is duplicate-insensitive, so the estimate is
    // identical to sketching the raw column; mixing countDistinct with
    // the sketch in ONE aggregate would trigger Catalyst's
    // distinct-rewrite Expand and double the scanned rows at 100 TB.
    t(s, dir, "orders")
      .groupBy("o_orderpriority", "o_custkey").agg(count(lit(1)).as("_n"))
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("apx"),
        count(lit(1)).as("n_exact"))
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("apx") - col("n_exact")) <= col("n_exact") * 0.10).as("within_10pct"))
      .orderBy("o_orderpriority")

  /** GROUPING SETS with grouping_id (bitmask identical to DuckDB GROUPING). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_gsets")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             grouping_id(l_returnflag, l_linestatus) AS gid,
             round(sum(l_quantity), 2) AS sum_qty,
             count(1) AS n
      FROM graft_li_gsets
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  }

  /** ROLLUP over (year, month); rolled-up levels surfaced as -1 so the
    * sort order needs no NULL-ordering agreement with the oracle. */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mon"), col("o_totalprice"))
      .rollup("yr", "mon")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce(col("yr"), lit(-1)).as("yr"), coalesce(col("mon"), lit(-1)).as("mon"),
        col("revenue"), col("n_orders"))
      .orderBy("yr", "mon")

  /** CUBE over the two flags, NULL levels coalesced to 'ALL'. */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  /** Pivot: long→wide reshaping with an explicit value list (explicit
    * values keep the plan a single pass — no distinct-collect pre-query —
    * and make the output schema static, which is what a 100 TB pipeline
    * wants anyway). */
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** HAVING = post-aggregation filter. */
  def aggHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
      .filter(col("n") > 100)
      .orderBy("o_orderpriority")

  /** Statistical aggregates per nation dim value. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(min("c_acctbal"), 2).as("min_bal"),
        round(max("c_acctbal"), 2).as("max_bal"),
        Num.avgMoney(col("c_acctbal"), 4).as("avg_bal"),
        round(stddev_samp(col("c_acctbal")), 2).as("std_bal"),
        round(var_samp(col("c_acctbal")), 2).as("var_bal"),
        count(lit(1)).as("n"))
      .orderBy("n_name")

  /** Exact order statistics per segment: median + interpolated quartiles
    * (Spark `percentile`; DuckDB `quantile_cont`). At scale the exact
    * form sorts each group; `approx_percentile` (t-digest, one pass, no
    * sort) is the 100 TB swap-in — kept exact here for oracle parity.
    * Quartile fractions 0.25/0.75 are ulp-exact in double, so the
    * interpolated true values terminate at 4 decimals and round(_,4)
    * agrees across engines. */
  def aggMedianPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(
        round(median(col("c_acctbal")), 4).as("median_bal"),
        round(percentile(col("c_acctbal"), lit(0.25)), 4).as("p25_bal"),
        round(percentile(col("c_acctbal"), lit(0.75)), 4).as("p75_bal"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** Multiple DISTINCT aggregates in one pass: Catalyst plans this via
    * Expand (one replicated stream per distinct set) + two-phase
    * aggregation — the planning stress case for distinct handling. */
  def aggMultiDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Sketch order statistics graded through RANK-VERDICT columns
    * (round 7 — the exempt-set shrink): approx_percentile's
    * Greenwald–Khanna digest carries a DETERMINISTIC guarantee — the
    * returned value is an actual element whose rank is within
    * n/accuracy of the target rank — and that guarantee is expressible
    * as a boolean both engines can hash: join the per-segment sketch
    * values back to the rows, count how many fall strictly below /
    * at-or-below each returned value, and check the target rank p·n
    * lies inside [#(<v) − err, #(≤v) + err] with err = n/accuracy + 1.
    * The DuckDB oracle states the verdicts as literal TRUE (plus the
    * exact n), so a sketch returning a wrong-rank element breaks the
    * hash. The estimate VALUES stay out of the hashed output (engine-
    * specific digests); `OracleExemptSpec` still rank-checks them
    * directly. The join-back is one broadcast of a 5-row aggregate —
    * verification costs a second scan, not a shuffle. Single pass,
    * fixed memory at 100 TB where the exact sort-based form can't run. */
  def aggApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_mktsegment", "c_acctbal")
    val sk = c.groupBy("c_mktsegment")
      .agg(
        approx_percentile(col("c_acctbal"), lit(0.5), lit(10000)).as("apx_med"),
        approx_percentile(col("c_acctbal"), lit(0.9), lit(10000)).as("apx_p90"))
    c.join(broadcast(sk), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        count_if(col("c_acctbal") < col("apx_med")).as("lt_med"),
        count_if(col("c_acctbal") <= col("apx_med")).as("le_med"),
        count_if(col("c_acctbal") < col("apx_p90")).as("lt_p90"),
        count_if(col("c_acctbal") <= col("apx_p90")).as("le_p90"))
      .select(col("c_mktsegment"), col("n"),
        ((col("lt_med") <= col("n") * 0.5 + (col("n") / 10000.0 + 1)) &&
          (col("le_med") >= col("n") * 0.5 - (col("n") / 10000.0 + 1))).as("median_rank_ok"),
        ((col("lt_p90") <= col("n") * 0.9 + (col("n") / 10000.0 + 1)) &&
          (col("le_p90") >= col("n") * 0.9 - (col("n") / 10000.0 + 1))).as("p90_rank_ok"))
      .orderBy("c_mktsegment")
  }

  /** Bivariate statistics per return flag: correlation + sample/population
    * covariance — single-pass co-moment aggregates (partial+final), no
    * shuffle beyond the group-by. */
  def aggCorrCovar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_s"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_p"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Linear-regression aggregates (regr_slope / regr_intercept /
    * regr_r2 / regr_count): single-pass co-moment accumulation
    * (partial+final, like corr/covar) — the OLS-fit-per-group shape;
    * rounded to 4 so the final float division is boundary-stable across
    * engines and partitionings. */
  def aggRegression(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
      .orderBy("l_returnflag")

  /** argmax/argmin aggregates (max_by/min_by ↔ DuckDB arg_max/arg_min):
    * the ordering value is LEXICOGRAPHIC (balance-cents, then custkey) so
    * ties are impossible and both engines pick the same row at ANY key
    * scale — the top-1-per-group shape without a window sort. Spark
    * orders a struct natively; the oracle packs the same pair into a
    * HUGEINT with a 2^63 multiplier (no bleed for any bigint custkey). */
  def aggArgMinmax(s: SparkSession, dir: String): DataFrame = {
    val ord = struct(round(col("c_acctbal") * 100).cast("long").as("cents"), col("c_custkey"))
    t(s, dir, "customer")
      .withColumn("ord", ord)
      .groupBy("c_mktsegment")
      .agg(
        max_by(col("c_name"), col("ord")).as("richest"),
        min_by(col("c_name"), col("ord")).as("poorest"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Boolean/conditional aggregates: count_if + bool_and/bool_or (DuckDB
    * same names) — all codegen'd single-pass aggregates. */
  def aggBoolCountif(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderstatus") === "F").as("any_finished"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Unpivot (wide→long, the inverse of agg_pivot): per-priority metric
    * columns melt into (metric, val) rows — a zero-shuffle Expand over
    * the already-aggregated frame. */
  def aggUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("n_customers")),
        "metric", "val")
      .orderBy("o_orderpriority", "metric")

  /** rank + dense_rank per customer partition, fully tiebroken. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** Top-3 per group via row_number ≤ 3 (the filter cuts before the final
    * sort; at scale a per-partition bounded heap strategy could replace
    * the full window sort — SURVEY §4.3 P3). */
  def windowTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long").as("rn"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Running sum, ROWS UNBOUNDED PRECEDING..CURRENT frame. */
  def windowRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("cum_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Bounded ROWS frame (3 preceding .. current): the moving-window sum,
    * distinct from the unbounded running sum — Spark keeps a sliding
    * buffer of 4 rows per partition instead of a running accumulator.
    * Exact decimal inside the frame, rounded on output. */
  def windowMovingSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-3, Window.currentRow)
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        Num.d2(sum(Num.money(col("o_totalprice"))).over(w)).as("mov_sum"),
        count(lit(1)).over(w).as("n_in_frame"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RANGE frame over a long ordering key (floor of price — DuckDB casts
    * double→bigint by rounding, so floor first on both sides). */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("price_l").rangeBetween(-1000, 0)
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .withColumn("price_l", floor(col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"), col("price_l"),
        round(sum("o_totalprice").over(w), 2).as("range_sum"))
      .orderBy("o_custkey", "price_l", "o_orderkey")
  }

  /** lag deltas per user over event time. */
  def windowLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events").filter(col("ts") < ts("2024-01-04"))
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag("value", 1).over(w), 4).as("d_value"),
        (unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w))).as("d_ts_us"))
      .orderBy("user_id", "event_id")
  }

  /** ntile quartiles over a global ordering (single-partition window —
    * fine for a bounded slice; at scale use approx percentiles instead). */
  def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("c_acctbal", "c_custkey")
    t(s, dir, "customer").filter(col("c_custkey") < 2000)
      .select(col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("c_custkey")
  }

  /** Value window functions: first_value / last_value / nth_value. The
    * last_value frame is explicitly UNBOUNDED FOLLOWING — the default
    * frame ends at CURRENT ROW, which silently returns the current value
    * on both engines (classic trap, made explicit here). */
  def windowValueFns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(wFull).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Spark 4 SQL scripting surface in one query: a session VARIABLE
    * (DECLARE / SET VAR) parameterizes the predicate, IDENTIFIER()
    * resolves the table name from a variable, and the statement itself
    * runs through EXECUTE IMMEDIATE — the dynamic-SQL toolkit that
    * replaces string-pasted queries (injection-safe, plan-cached).
    * Values are constant-folded into the plan, so the oracle is the
    * static mirror. */
  def sqlSessionVariable(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_var")
    s.sql("DECLARE OR REPLACE VARIABLE graft_qty_thr DOUBLE DEFAULT 0.0")
    s.sql("SET VAR graft_qty_thr = 45.0")
    s.sql("DECLARE OR REPLACE VARIABLE graft_tbl STRING DEFAULT 'graft_li_var'")
    s.sql("""EXECUTE IMMEDIATE
      'SELECT l_returnflag, count(*) AS n,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM IDENTIFIER(graft_tbl)
       WHERE l_quantity > graft_qty_thr
       GROUP BY l_returnflag ORDER BY l_returnflag'""")
  }

  /** Spark 4 SQL scripting (sql_scripting): a COMPOUND BEGIN…END block
    * — DECLARE'd locals mutated by a WHILE loop, then a final SELECT
    * that uses the computed value — the procedural control-flow surface
    * (ANSI SQL/PSM shape) that replaces driver-side glue code for
    * multi-statement logic. The loop runs ON the driver (control flow
    * is not distributed — only the terminal SELECT touches data), so
    * the script's cost at 100 TB is exactly its final query. The loop
    * result is deterministic (4 iterations of +8 → threshold 42.0), so
    * the oracle is the constant-folded static mirror. */
  def sqlScripting(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_script")
    s.sql("""
      BEGIN
        DECLARE thr DOUBLE DEFAULT 10.0;
        DECLARE i INT DEFAULT 0;
        WHILE i < 4 DO
          SET thr = thr + 8.0;
          SET i = i + 1;
        END WHILE;
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM graft_li_script
        WHERE l_quantity > thr
        GROUP BY l_returnflag ORDER BY l_returnflag;
      END""")
  }

  /** SQL pipe syntax (Spark 4): the same filter→aggregate→sort stated
    * as a left-to-right `|>` pipeline — sugar over the identical plan,
    * so the oracle is the classic form. */
  def sqlPipeSyntax(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_pipe")
    s.sql("""
      FROM graft_li_pipe
      |> WHERE l_quantity > 45
      |> AGGREGATE count(*) AS n,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
         GROUP BY l_returnflag
      |> ORDER BY l_returnflag""")
  }

  /** SQL-defined scalar functions (Spark 4 `CREATE FUNCTION ... RETURN
    * expr`): the function body is inlined into the plan at analysis
    * time (`ResolveSQLFunctions`), so a SQL UDF costs NOTHING at
    * runtime — it stays inside whole-stage codegen, unlike a JVM
    * closure UDF. The oracle states the inlined expression directly. */
  def sqlCreateFunction(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_fn")
    // exact decimal arithmetic inside the body (Num discipline): the
    // 2dp×2dp products round HALF_UP on exact decimals in both engines
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_net_cents(p DOUBLE, d DOUBLE, t DOUBLE)
             RETURNS BIGINT
             RETURN CAST(CAST(p AS DECIMAL(12,2)) * 100 AS BIGINT)
                    - CAST(round(CAST(p AS DECIMAL(12,2)) * CAST(d AS DECIMAL(3,2)) * 100, 0) AS BIGINT)
                    + CAST(round(CAST(p AS DECIMAL(12,2)) * CAST(t AS DECIMAL(3,2)) * 100, 0) AS BIGINT)""")
    s.sql("""
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(graft_net_cents(l_extendedprice, l_discount, l_tax)) AS BIGINT) AS net_cents
      FROM graft_li_fn
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** Table-valued functions in FROM: `range()` joined laterally with
    * `explode()` over a per-row array — generator TVFs as relations,
    * the SQL-surface twin of the DataFrame-side generators. */
  def sqlTvfRange(s: SparkSession, dir: String): DataFrame =
    s.sql("""
      SELECT r.id AS bucket,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sum_x
      FROM range(0, 8) r,
           LATERAL explode(sequence(r.id * 3, r.id * 3 + 2)) AS t(x)
      GROUP BY r.id ORDER BY bucket""")

  /** Pivot with MULTIPLE aggregates per pivoted value: Spark suffixes
    * each output column with the aggregate alias (F_n, F_cents, ...) —
    * one pass, one shuffle, the wide columns are just projections of the
    * same partial aggregates. Exact integer cents. */
  def aggPivotMulti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .select(col("o_orderpriority"),
        coalesce(col("F_n"), lit(0L)).as("f_n"),
        coalesce(col("F_cents"), lit(0L)).as("f_cents"),
        coalesce(col("O_n"), lit(0L)).as("o_n"),
        coalesce(col("O_cents"), lit(0L)).as("o_cents"))
      .orderBy("o_orderpriority")

  /** IGNORE NULLS window navigation: carry the last "big order" price
    * forward over a sparse column — the gap-filling / last-observation-
    * carried-forward shape. */
  def windowIgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders").filter(col("o_custkey") <= 200)
      .withColumn("big", when(col("o_totalprice") > 200000, col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"),
        last(col("big"), ignoreNulls = true).over(w).as("last_big"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Distribution window functions: percent_rank + cume_dist per segment
    * over a fully-tiebroken ordering. Both are rank-ratio rationals the
    * two engines compute with the identical double division. */
  def windowPercentCume(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(col("c_mktsegment"), col("c_custkey"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Multi-key sort with explicit NULL placement on a nullable expr. */
  def sortMultiNull(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg_nn"),
        col("c_acctbal"))
      .orderBy(col("seg_nn").desc_nulls_last, col("c_custkey"))
      .limit(1000)

  /** Global top-k → TakeOrderedAndProject (no full sort at scale). */
  def topkGlobal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(20)

  /** UNION ALL with multiplicity surfaced via count. */
  def setUnion(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("key"))
    val b = c.filter(col("c_acctbal") > 8000).select(col("c_custkey").as("key"))
    a.unionByName(b).groupBy("key").agg(count(lit(1)).as("n")).orderBy("key")
  }

  /** INTERSECT (distinct semantics on both engines). */
  def setIntersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key"))
      .intersect(t(s, dir, "orders").select(col("o_custkey").as("key")))
      .orderBy("key")

  /** EXCEPT (distinct semantics on both engines). */
  def setExcept(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("key"))
      .except(t(s, dir, "orders").select(col("o_custkey").as("key")))
      .orderBy("key")

  /** INTERSECT ALL / EXCEPT ALL — multiset semantics (min / difference
    * of multiplicities, planned as an aggregate + generate, no join
    * explosion); surfaced as per-key counts for a bounded deterministic
    * output. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") > 45).select(col("l_orderkey").as("key"))
    val b = li.filter(col("l_returnflag") === "R").select(col("l_orderkey").as("key"))
    val inter = a.intersectAll(b).groupBy("key").agg(count(lit(1)).as("n_inter"))
    val exc = a.exceptAll(b).groupBy("key").agg(count(lit(1)).as("n_except"))
    inter.join(exc, Seq("key"), "full")
      .select(col("key"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
      .orderBy("key")
  }

  /** Schema-evolution union: `unionByName(allowMissingColumns = true)`
    * across two projections with different column sets and orders —
    * the shape every multi-vintage data lake hits; missing columns
    * null-fill, matching is BY NAME not position. */
  def setUnionByName(s: SparkSession, dir: String): DataFrame = {
    val v1 = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
    val v2 = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 2)
      .select(
        round(col("o_totalprice") * 100).cast("long").as("cents"), // different order + extra col
        col("o_orderkey").as("key"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(col("prio").isNull.as("from_v2"))
      .agg(
        count(lit(1)).as("n"),
        count(col("prio")).as("n_prio"),
        coalesce(sum(col("cents")), lit(0L)).as("cents"))
      .orderBy("from_v2")
  }

  /** Bitwise aggregates (bit_and/bit_or/bit_xor fold over the group) —
    * single-pass codegen'd aggregates with trivially associative partials,
    * so the partial+final split costs nothing at any partition count. */
  def aggBitOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        bit_and(col("o_orderkey")).as("k_and"),
        bit_or(col("o_orderkey")).as("k_or"),
        bit_xor(col("o_orderkey")).as("k_xor"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** SQL LATERAL correlated subquery with ORDER BY + LIMIT — the per-row
    * "top-1 related row" shape. Catalyst decorrelates the lateral into a
    * window/aggregate join rather than executing the subquery per outer
    * row (the RDBMS nested-loop trap); nation is 25 rows so the rewritten
    * join broadcasts. Tie-free via (acctbal DESC, custkey). */
  def sqlLateralJoin(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("lat_nation")
    t(s, dir, "customer").createOrReplaceTempView("lat_customer")
    s.sql("""
      SELECT n_name, t.c_custkey AS top_custkey, t.c_acctbal AS top_acctbal
      FROM lat_nation, LATERAL (
        SELECT c_custkey, c_acctbal FROM lat_customer
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
      ORDER BY n_name""")
  }

  /** Null-safe equi-join (`<=>` ↔ IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — still plans as a hash join on the
    * null-safe key (nulls hash to one bucket), not a nested loop. Keys
    * are made nullable via nullif; output is per-key pair counts with an
    * explicit NULLS FIRST order for cross-engine determinism. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(nullif(col("c_nationkey") % 5, lit(0)).as("ck"))
    val sp = t(s, dir, "supplier")
      .select(nullif(col("s_nationkey") % 5, lit(0)).as("sk"))
    c.join(sp, col("ck") <=> col("sk"))
      .groupBy("ck").agg(count(lit(1)).as("n_pairs"))
      .orderBy(asc_nulls_first("ck"))
  }

  /** Batch sessionization via gaps-and-islands (lag → gap flag → running
    * sum → group) — the window-composition route to session windows,
    * 45-min gap so it is NOT a restatement of stream_session_window.
    * At scale this is one shuffle on user_id reused by both window
    * functions and the final aggregation (same partitioning). Session
    * duration is computed in exact integer microseconds. */
  def windowGapsIslands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 45L * 60 * 1000000
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "grp")
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("session_start_us"),
        call_function("div",
          max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))), lit(60000000L)).as("duration_min"))
      .select("user_id", "session_start_us", "n_events", "duration_min")
      .orderBy("user_id", "session_start_us")
  }

  /** Correlated EXISTS / NOT EXISTS through the SQL surface: Catalyst
    * decorrelates into left-semi + left-anti hash joins — one scan of
    * orders each, never a per-row subquery execution. */
  def sqlExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("exq_customer")
    t(s, dir, "orders").createOrReplaceTempView("exq_orders")
    s.sql("""
      SELECT c_custkey, c_name
      FROM exq_customer
      WHERE EXISTS (SELECT 1 FROM exq_orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        AND NOT EXISTS (SELECT 1 FROM exq_orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  /** Skew-salted shuffle join — the hot-key mitigation at 100 TB. The
    * fact side appends a deterministic salt in [0, 8); the dim side is
    * replicated ×8 carrying every salt value, so the join key becomes
    * (custkey, salt) and a hot customer's rows spread over 8 reducers
    * instead of hammering one. The result is provably identical to the
    * unsalted join — the oracle IS the plain join. shuffle_hash hint
    * keeps the demonstration honest (a broadcast would bypass the
    * shuffle being protected). */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val nSalt = 8
    val fact = t(s, dir, "orders")
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(nSalt)).cast("int"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(sequence(lit(0), lit(nSalt - 1))).as("d_salt"))
    fact.join(dim.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey") && col("salt") === col("d_salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), Num.sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** Bloom-prefiltered semi-join — the runtime-filter / sideways-
    * information-passing pattern: build a bloom filter over the small
    * filtered key set with a distributed treeAggregate
    * (`df.stat.bloomFilter`), broadcast the ~100 KB bitmap, and drop
    * non-matching fact rows AT THE SCAN, before any join machinery runs.
    * The exact broadcast semi-join afterwards removes bloom false
    * positives, so the result equals the plain semi-join (the oracle).
    * At 100 TB this is the difference between feeding the full fact
    * table to the join and feeding only the ~5% that can match. */
  def joinBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir, "orders")
      .filter(col("o_totalprice") > 400000).select("o_orderkey")
    val bf = hot.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    t(s, dir, "lineitem")
      .filter(mightContain(col("l_orderkey")))
      .join(broadcast(hot), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), Num.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Ordered string aggregation (SQL:2016 LISTAGG ... WITHIN GROUP):
    * concatenation ordered by a DIFFERENT column than the one being
    * aggregated — the shape `array_join(sort_array(...))` cannot
    * express. Deterministic because the WITHIN GROUP key (o_orderkey)
    * is unique within each group. */
  def aggStringAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("sagg_orders")
    s.sql("""
      SELECT o_custkey,
             listagg(o_orderpriority, '|') WITHIN GROUP (ORDER BY o_orderkey) AS priorities,
             count(*) AS n
      FROM sagg_orders
      WHERE o_custkey <= 100
      GROUP BY o_custkey
      ORDER BY o_custkey""")
  }

  /** Trailing time-range window frame: for every event, the sum/count of
    * the same user's events in the preceding hour — `rangeBetween` over
    * an epoch-seconds ordering (Spark's RANGE frames are numeric-only,
    * so the timestamp is projected to seconds first; the frame bound is
    * then literal 3600). One shuffle+sort on user_id; the frame is
    * evaluated by a sliding two-pointer pass, not a per-row rescan.
    * Value sums in exact decimal (partition-order independent). */
  def windowRangeTime(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("epoch_s")
      .rangeBetween(-3600L, Window.currentRow)
    t(s, dir, "events")
      .withColumn("epoch_s", expr("unix_micros(ts) div 1000000"))
      .select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        Num.d2(sum(Num.money(col("value"))).over(w)).as("sum_trailing_1h"))
      .orderBy("event_id")
  }

  /** Share-of-total report shape: per-nation revenue and its fraction of
    * the grand total in ONE query — an unpartitioned window over the
    * ALREADY-AGGREGATED rows. The window's single-partition exchange
    * moves only |nations| rows (the raw data was reduced by the
    * partial+final aggregate first), so the "global" window is free at
    * any input scale; both sums stay exact decimal until the final
    * rounded division. */
  def windowShareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(Num.money(col("c_acctbal")) + lit(1000)).as("s"))
    per.select(
        col("n_name"),
        Num.d2(col("s")).as("adj_balance"),
        round(col("s").cast("double") / sum(col("s")).over().cast("double"), 6).as("share"))
      .orderBy("n_name")
  }

  /** Deterministic MODE (most frequent value, ties broken by the larger
    * value) via an order-encoded composite string: zero-padded count ||
    * value compares lexicographically exactly like (count, value), so a
    * plain `max` aggregate — associative, partial+final, one pass —
    * yields the argmax with no window or self-join. DuckDB 1.0's native
    * `mode()` breaks ties arbitrarily and `arg_max` rejects struct keys,
    * so BOTH engines run the same composite encoding (the oracle is the
    * same construction, not `mode()`). */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("o_orderstatus")
      .agg(max(concat(lpad(col("n").cast("string"), 12, "0"), lit("|"), col("o_orderpriority")))
        .as("enc"))
      .select(
        col("o_orderstatus"),
        substring_index(col("enc"), "|", -1).as("mode_priority"),
        expr("CAST(split_part(enc, '|', 1) AS BIGINT)").as("mode_count"))
      .orderBy("o_orderstatus")
  }

  /** Explicit sort-merge join (`merge` hint) — completes the strategy
    * family next to join_broadcast (BHJ) and join_shuffle_hash (SHJ).
    * SMJ is the right pick when BOTH sides are large and neither fits a
    * hash table per partition: sort spills gracefully and the merge
    * phase streams. The hint pins the strategy so the plan can't silently
    * flip to broadcast on a stats misestimate; result is hint-invariant
    * (the oracle is the plain join). */
  def joinSortMerge(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").hint("merge")
      .join(t(s, dir, "lineitem").hint("merge"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), Num.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Count-min sketch — fixed-memory heavy-hitter frequency estimation,
    * the mergeable-sketch scale path for "how often does key k occur"
    * over 100 TB (exact per-key counts need a full shuffle; the sketch
    * is one treeAggregate into a few KB). Graded through VERDICT
    * columns (round 7 — the exempt-set shrink): CMS's defining
    * guarantees are (a) est ≥ exact ALWAYS (counters only overcount on
    * collision — deterministic) and (b) est ≤ exact + eps·N at the
    * configured confidence (deterministic for a fixed seed and fixed
    * data). Both are hashable booleans next to the exact per-key count,
    * which DuckDB recomputes with TRUE verdicts — a sketch that
    * undercounts, or collides catastrophically, breaks the hash. The
    * estimate VALUES stay out of the hashed output (hash-function
    * internals are engine-specific); `OracleExemptSpec` checks them
    * directly. */
  def aggCountMinSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    val sketch = li.stat.countMinSketch(col("l_suppkey"), eps = 0.001, confidence = 0.99, seed = 42)
    // graded verdict uses 4× the eps·N guarantee: the tight bound holds
    // only with 99% confidence PER KEY (20 keys ≈ 18% chance of one
    // legit breach under a fresh seed/data), so hashing it as a
    // literal-TRUE oracle verdict would let a testdata regeneration fail
    // an honest sketch. The tight eps·N accuracy stays pinned in
    // OracleExemptSpec; this widened bound grades "not catastrophically
    // colliding", which a correct CMS satisfies with overwhelming margin.
    val bound = 4L * math.ceil(1e-3 * sketch.totalCount).toLong
    val keys = (1L to 20L).toDF("suppkey")
    val exact = li.filter(col("l_suppkey").between(1, 20))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_exact"))
    val skB = s.sparkContext.broadcast(sketch)
    val est = udf((k: Long) => skB.value.estimateCount(k))
    keys.join(exact, Seq("suppkey"), "left")
      .select(col("suppkey"), coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .select(col("suppkey"), col("n_exact"),
        (est(col("suppkey")) >= col("n_exact")).as("est_ge_exact"),
        (est(col("suppkey")) <= col("n_exact") + lit(bound)).as("est_le_bound"))
      .orderBy("suppkey")
  }

  /** Banded range join — the 100 TB scale path for interval/point range
    * predicates. A plain `point BETWEEN start AND end` join has no equi
    * key, so Spark plans BroadcastNestedLoopJoin: O(|A|·|B|) comparisons
    * that no cluster survives at fact×fact scale (join_theta_range shows
    * that form on a tiny broadcast side). Here both sides are mapped to
    * day-granularity buckets — the interval EXPLODES to one row per day
    * it covers, the point keys by its own day — turning the range
    * predicate into a shuffled equi-join that partitions, scales, and
    * AQE-balances like any other hash join. Each matching (interval,
    * point) pair shares exactly one bucket (the point's day), so no
    * dedup is needed; the residual BETWEEN re-check is kept anyway as
    * belt-and-braces for sub-bucket boundaries. Explosion factor =
    * interval length in days (bounded ≤ 30 here); at 100 TB you pick the
    * band width to balance fan-out vs join selectivity. */
  def joinRangeBucket(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("iv_start"),
        date_add(to_date(col("o_orderdate")), (col("o_orderkey") % 30).cast("int")).as("iv_end"))
    val pts = t(s, dir, "lineitem").filter(col("l_orderkey") <= 5000)
      .select(to_date(col("l_shipdate")).as("day"), col("l_quantity"))
    iv.select(col("o_orderkey"), col("iv_start"), col("iv_end"),
        explode(sequence(col("iv_start"), col("iv_end"))).as("day"))
      .join(pts, Seq("day"))
      .filter(col("day").between(col("iv_start"), col("iv_end")))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_shipments"), Num.d2(sum(Num.money(col("l_quantity")))).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** DISTINCT aggregate over a window — Spark rejects
    * `count(DISTINCT x) OVER (...)` outright, so the classic rewrite:
    * dense_rank ranks each distinct value once within the partition, and
    * the partition-wide MAX of that rank IS the distinct count. Two
    * window passes over the SAME partition key → one shuffle on
    * o_custkey, sort reused. The alternative (`size(collect_set ...)`)
    * materializes the value set per row — this formulation keeps state
    * at one long per row regardless of value cardinality. */
  def windowDistinctCount(s: SparkSession, dir: String): DataFrame = {
    val byPrio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    val whole = Window.partitionBy("o_custkey")
    t(s, dir, "orders").filter(col("o_custkey") <= 300)
      .withColumn("dr", dense_rank().over(byPrio))
      .withColumn("n_distinct_prio", max(col("dr")).over(whole).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("n_distinct_prio"))
      .orderBy("o_orderkey")
  }

  /** EXACT mergeable distinct via Spark 4 bitmap aggregates: keys bucket
    * into 32k-bit bitmaps (`bitmap_bucket_number` / `bitmap_bit_position`),
    * `bitmap_construct_agg` builds per-(group, bucket) bitmaps,
    * `bitmap_count` sums them back — and, like the HLL twin
    * (`agg_hll_union`), the bitmaps OR-merge along any rollup axis
    * (`bitmap_or_agg` for the ALL row) without re-reading raw data. The
    * trade vs HLL: exact counts, memory ∝ key range instead of fixed. */
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val perBucket = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"),
        expr("bitmap_bucket_number(o_custkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
    val per = perBucket.groupBy("o_orderpriority")
      .agg(sum(expr("bitmap_count(bm)")).as("n_cust"))
    val all = perBucket.groupBy("bucket")
      .agg(expr("bitmap_or_agg(bm)").as("bm")) // rollup by MERGE, not re-scan
      .agg(sum(expr("bitmap_count(bm)")).as("n_cust"))
      .select(lit("ALL").as("o_orderpriority"), col("n_cust"))
    per.unionByName(all).orderBy("o_orderpriority")
  }

  /** `observe()` metrics: data-quality counters (row count, null count,
    * exact cents total) accumulated DURING the normal pass — no second
    * scan, no extra shuffle; a QueryExecutionListener reads them after
    * each action (asserted in Round3OpsSpec). At 100 TB this is how you
    * get per-job quality telemetry for free; the observe node is
    * transparent to results, so the oracle is the plain aggregate. */
  def scanObserveMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .observe("graft_metrics",
        count(lit(1)).as("rows_scanned"),
        count_if(col("l_quantity") > 45).as("qty_outliers"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .filter(col("l_quantity") > 45)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("outlier_cents"))
      .orderBy("l_returnflag")

  /** Shared-scan caching: one filtered slice `persist()`ed and consumed
    * by TWO different aggregates in the same result (union) — the
    * materialize-once / read-many pattern for iterative or multi-output
    * jobs; the second aggregate reads InMemoryTableScan, not parquet
    * (plan pinned in Round3OpsSpec). At scale you cache exactly these
    * bounded intermediate slices, never raw scans. */
  def cacheSharedScan(s: SparkSession, dir: String): DataFrame = {
    val slice = persist(t(s, dir, "orders")
      .filter(col("o_orderkey") % 5 === 0)
      .select("o_orderpriority", "o_totalprice"))
    val counts = slice.groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("double").as("v"))
      .withColumn("metric", lit("n_orders"))
    val totals = slice.groupBy("o_orderpriority")
      .agg(round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2).as("v"))
      .withColumn("metric", lit("total_price"))
    counts.unionByName(totals)
      .select("o_orderpriority", "metric", "v")
      .orderBy("o_orderpriority", "metric")
  }

  /** MERGE/upsert without a table format: staging changes applied onto a
    * target snapshot as one FULL OUTER join on the key, then COALESCE
    * (staging wins) — the plan Delta/Iceberg MERGE INTO lowers to, minus
    * the file-level rewrite. Both sides shuffle once on the merge key and
    * co-partition; at 100 TB the join is the whole cost, and pre-
    * bucketing both tables on the key would eliminate even that. Output
    * is the per-priority accounting of matched/inserted/kept rows —
    * the audit every CDC compaction job emits. */
  def sqlMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "orders").filter(col("o_orderkey") % 4 =!= 3)
      .select(col("o_orderkey").as("t_key"), col("o_orderpriority").as("t_prio"),
        round(col("o_totalprice") * 100).cast("long").as("t_cents"))
    val staging = t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").as("s_key"), col("o_orderpriority").as("s_prio"),
        // the "update": price bumped 10%, exact integer arithmetic
        // (`div`, not `/` — Spark's / on longs is double division)
        expr("cast(round(o_totalprice * 100) as bigint) * 11 div 10").as("s_cents"))
    target.join(staging, col("t_key") === col("s_key"), "full_outer")
      .select(
        coalesce(col("s_key"), col("t_key")).as("key"),
        coalesce(col("s_prio"), col("t_prio")).as("prio"),
        coalesce(col("s_cents"), col("t_cents")).as("cents"),
        (col("s_key").isNotNull && col("t_key").isNotNull).as("updated"),
        (col("t_key").isNull).as("inserted"))
      .groupBy(col("prio").as("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_if(col("updated")).as("n_updated"),
        count_if(col("inserted")).as("n_inserted"),
        count_if(!col("updated") && !col("inserted")).as("n_kept"),
        sum(col("cents")).as("total_cents"))
      .orderBy("o_orderpriority")
  }

  /** Mergeable-sketch distinct: per-group Apache DataSketches HLL
    * (`hll_sketch_agg`) plus a second level that UNIONS the group
    * sketches (`hll_union_agg`) into a corpus-wide estimate — the
    * pattern that makes distinct counting reaggregatable at 100 TB:
    * sketches built once per partition/group/day can be merged along
    * any rollup axis without touching raw data again, which an exact
    * `count(DISTINCT)` fundamentally cannot. Graded through a VERDICT
    * column (round 7 — the exempt-set shrink): per group AND for the
    * merged union row, the output carries the exact distinct count and
    * a boolean `within_10pct` (lgK=14 → σ ≈ 0.8%, so 10% is a >10σ
    * bound with a small-group absolute floor of 16); DuckDB recomputes
    * the exact counts — including the union row's, which is the
    * distinct count of the UNION, far below the sum of the groups —
    * and states TRUE verdicts, putting both the per-group sketches and
    * the merge under the hash gate. Raw estimates stay test-checked at
    * 5% in `OracleExemptSpec`. */
  def aggHllUnion(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // cascaded (tfidf discipline): pre-collapse to (priority, custkey)
    // with a per-pair order count, so the exact distinct is a plain row
    // COUNT, n_orders a SUM, and the sketch sees the collapsed column
    // (HLL is duplicate-insensitive — identical estimate) — no
    // distinct-rewrite Expand doubling the scan
    val pairs = o.groupBy("o_orderpriority", "o_custkey")
      .agg(count(lit(1)).as("_n"))
    val sk = pairs.groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"),
        count(lit(1)).as("n_exact"),
        sum("_n").as("n_orders"))
    def verdict(apx: Column, exact: Column): Column =
      abs(apx - exact) <= greatest(exact * 0.10, lit(16.0))
    val per = sk.select(col("o_orderpriority"), col("n_exact"), col("n_orders"),
      verdict(hll_sketch_estimate(col("sk")), col("n_exact")).as("within_10pct"))
    val allExact = pairs.select("o_custkey").distinct()
      .agg(count(lit(1)).as("n_exact_all"))
    val all = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("apx"),
        sum("n_orders").as("n_orders"))
      .crossJoin(broadcast(allExact))
      .select(lit("ALL").as("o_orderpriority"),
        col("n_exact_all").as("n_exact"), col("n_orders"),
        verdict(col("apx"), col("n_exact_all")).as("within_10pct"))
    per.union(all).orderBy("o_orderpriority")
  }

  /** DETERMINISTIC BOTTOM-K SAMPLE — uniform sampling WITHOUT rand():
    * the k = 100 orders with the lexicographically smallest
    * md5(orderkey) are a uniform random sample under the hash's
    * avalanche, yet fully reproducible across engines, runs and
    * partitionings — the property `rand()`-based sampling loses the
    * moment a stage retries. This is the 100 TB sampling primitive:
    * the plan is TakeOrderedAndProject (a bounded heap per partition,
    * merged on the driver — no global sort, no second pass, pinned by
    * PlanShapeSpec), so drawing 100 rows from a trillion costs one
    * map-side scan. Output: the sample's exact aggregate next to the
    * population's, both BIGINT — the pair a sampling consumer uses to
    * sanity-check representativeness.
    *
    * Scale: one scan, per-partition 100-row heaps, single-row output. */
  def aggSampleBottomk(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("hk", md5(col("o_orderkey").cast("string")))
    val sample = o.orderBy("hk", "o_orderkey").limit(100)
    val pop = o.agg(count(lit(1)).as("pop_n"), sum("cents").as("pop_sum_cents"))
    sample
      .agg(count(lit(1)).as("n_sample"),
        sum("o_orderkey").as("sample_keys_sum"),
        sum("cents").as("sample_sum_cents"))
      .crossJoin(broadcast(pop))
      .select(col("n_sample"), col("sample_keys_sum"), col("sample_sum_cents"),
        col("pop_n"), col("pop_sum_cents"),
        call_function("div", col("sample_sum_cents"), col("n_sample")).as("sample_avg_cents"),
        call_function("div", col("pop_sum_cents"), col("pop_n")).as("pop_avg_cents"))
  }

  /** HLL SET ALGEBRA BY INCLUSION–EXCLUSION — the distinct-count
    * question `agg_hll_union` cannot answer alone: how many customers
    * placed BOTH an urgent and a high-priority order, estimated as
    * est(A) + est(B) − est(A∪B) from three sketches (HLL supports only
    * union natively; intersections come from inclusion–exclusion, with
    * error compounding accordingly — which is why the verdict bound is
    * anchored to the UNION's magnitude, not the intersection's). Graded
    * the sketch family's way: exact counts are first-class output
    * columns and the estimates land as verdict BOOLEANS (|apx − exact|
    * ≤ max(10% of the union, 64)), so the row is hash-stable while the
    * estimator is genuinely exercised.
    *
    * Scale: the cascaded pre-collapse (tfidf discipline) makes exact
    * counts plain row counts; sketches see the collapsed column; no
    * distinct-rewrite Expand, one corpus pass. */
  def aggHllIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    val pairs = o.groupBy("o_orderpriority", "o_custkey").agg(count(lit(1)).as("_n"))
    val sk = pairs.groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"),
        count(lit(1)).as("n_exact"))
    val exactInter = pairs.groupBy("o_custkey")
      .agg(count(lit(1)).as("np")).filter(col("np") === 2)
      .agg(count(lit(1)).as("n_exact_intersect"))
    val exactUnion = pairs.select("o_custkey").distinct()
      .agg(count(lit(1)).as("n_exact_union"))
    val both = sk.agg(
      sum(when(col("o_orderpriority") === "1-URGENT", col("n_exact"))).as("n_exact_a"),
      sum(when(col("o_orderpriority") === "2-HIGH", col("n_exact"))).as("n_exact_b"),
      max(when(col("o_orderpriority") === "1-URGENT",
        hll_sketch_estimate(col("sk")))).as("apx_a"),
      max(when(col("o_orderpriority") === "2-HIGH",
        hll_sketch_estimate(col("sk")))).as("apx_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("apx_union"))
    def ok(apx: Column, exact: Column, anchor: Column): Column =
      abs(apx - exact) <= greatest(anchor * 0.10, lit(64.0))
    both.crossJoin(broadcast(exactUnion)).crossJoin(broadcast(exactInter))
      .select(
        col("n_exact_a"), col("n_exact_b"),
        col("n_exact_union"), col("n_exact_intersect"),
        ok(col("apx_a"), col("n_exact_a"), col("n_exact_a")).as("a_within_10pct"),
        ok(col("apx_b"), col("n_exact_b"), col("n_exact_b")).as("b_within_10pct"),
        ok(col("apx_union"), col("n_exact_union"), col("n_exact_union")).as("union_within_10pct"),
        ok(col("apx_a") + col("apx_b") - col("apx_union"),
          col("n_exact_intersect"), col("n_exact_union")).as("intersect_within_bound"))
  }

  /** Exact weighted median: per return flag, the smallest price whose
    * cumulative quantity-weight reaches half the group's total. Prices
    * move as integer cents. Two-phase bucketed form: a 64Ki-cent bucket
    * histogram (groupBy on ~480 (flag, bucket) keys — map-side combine
    * makes the shuffle a few KB) locates each flag's median bucket and
    * the exact weight below it; only that one bucket's rows (~1/160 of
    * the table) then shuffle into the per-flag cumulative window. The
    * naive form — window PARTITION BY flag over the whole table — sorts
    * the entire corpus in #flags(=3) tasks, a parallelism ceiling that
    * turns fatal at 100 TB; here the only #flags-wide work is over one
    * bucket's distinct prices. Cumulative weights collapse tied prices
    * (groupBy value first), matching the oracle's RANGE-frame ties, so
    * the result is identical to the one-window form at any bucketing. */
  def aggWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (Num.money(col("l_extendedprice")) * 100).cast("long").as("pc"),
        col("l_quantity").cast("long").as("q"))
    // ONE corpus scan (round 16): the (flag, price) census — map-side
    // combined, bounded by the distinct price domain — feeds BOTH the
    // bucket histogram and the target-bucket probe. The old probe
    // re-scanned lineitem with a `shiftright(pc, 8)` filter that is
    // derived (never pushes down), a second full pass at every scale.
    val cens = persist(li.groupBy("l_returnflag", "pc").agg(sum("q").as("w")))
    // 256-cent buckets (shift 8, ~21k buckets over the price range): the
    // census stays tiny while the exact probe below narrows to ~1/21000
    // of the corpus — the earlier 65536-cent buckets left the target
    // bucket holding n/84 rows, and the probe's per-flag window (3 keys!)
    // sorted millions of rows in three tasks at sf100 (13.6x on 10x
    // data); bucket width is internal, the median is invariant to it
    val wb = Window.partitionBy("l_returnflag").orderBy("b")
    val target = cens
      .groupBy(col("l_returnflag"), shiftright(col("pc"), 8).as("b"))
      .agg(sum("w").as("bw"))
      .withColumn("cum", sum("bw").over(wb))
      .withColumn("tw", sum("bw").over(Window.partitionBy("l_returnflag")))
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min_by(
        struct(col("b"), (col("cum") - col("bw")).as("below"), col("tw")),
        col("b")).as("t"))
      .select(col("l_returnflag"), col("t.b").as("b"),
        col("t.below").as("below"), col("t.tw").as("tw"))
    val wv = Window.partitionBy("l_returnflag").orderBy("pc")
    // probe = a filter over the persisted census; each (flag, pc) is
    // unique there, so the re-aggregate is the identity on `w` and the
    // cumulative rows match the two-scan form exactly
    cens.join(broadcast(target), "l_returnflag")
      .filter(shiftright(col("pc"), 8) === col("b"))
      .groupBy("l_returnflag", "pc", "below", "tw")
      .agg(sum("w").as("w"))
      .withColumn("cw", col("below") + sum("w").over(wv))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg((min("pc").cast("double") / 100).as("weighted_median"),
        max("tw").as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** Population skewness + excess kurtosis of l_quantity per return
    * flag, computed from EXACT integer power sums (Σx..Σx⁴ — quantity
    * is a small int, so Σx⁴ fits a long with huge headroom) and only
    * entering floating point in the final central-moment formulas.
    * Built-in `skewness`/`kurtosis` stream partial doubles whose
    * accumulation order varies with partitioning; the power-sum form is
    * bit-identical at ANY partitioning and ANY engine — and it is the
    * re-aggregatable form: power sums merge along any rollup axis
    * (day→month→year) without touching raw data, the moment-sketch
    * pattern for 100 TB profiling. */
  def aggSkewKurtosis(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val agg = t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val n = col("n").cast("double")
    val m = col("s1") / n
    val m2 = col("s2") / n - m * m
    val m3 = col("s3") / n - lit(3.0) * m * (col("s2") / n) + lit(2.0) * m * m * m
    val m4 = col("s4") / n - lit(4.0) * m * (col("s3") / n) +
      lit(6.0) * m * m * (col("s2") / n) - lit(3.0) * m * m * m * m
    agg.select(col("l_returnflag"), col("n"),
        round(m3 / pow(m2, 1.5), 4).as("skew_pop"),
        round(m4 / (m2 * m2) - 3.0, 4).as("kurt_excess"))
      .orderBy("l_returnflag")
  }

  /** Algebraic re-aggregation of partial states — the incremental-
    * rollup contract: daily partial aggregates (sum/count/min/max per
    * ship-day) merge into monthly finals WITHOUT touching base rows
    * again, and the merged result provably equals aggregating the base
    * directly (the oracle computes the direct form). This is the shape
    * every incremental 100 TB pipeline relies on: yesterday's partials
    * are immutable, today appends one day, the monthly rollup reads
    * 30 partial rows instead of re-scanning a month of raw data. */
  def aggReaggregatePartials(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "lineitem")
      .groupBy(col("l_shipdate").as("day"))
      .agg(
        sum((Num.money(col("l_extendedprice")) * 100).cast("long")).as("p_cents"),
        count(lit(1)).as("p_n"),
        min(col("l_quantity").cast("long")).as("p_min_q"),
        max(col("l_quantity").cast("long")).as("p_max_q"))
    daily.groupBy(date_trunc("month", col("day")).cast("date").as("month"))
      .agg(
        (sum("p_cents").cast("double") / 100).as("revenue"),
        sum("p_n").as("n_items"),
        min("p_min_q").as("min_qty"),
        max("p_max_q").as("max_qty"),
        count(lit(1)).as("n_days"))
      .orderBy("month")
  }

  /** Exact DISCRETE percentiles (p25/p50/p90) of price cents per return
    * flag — `percentile_disc` semantics (smallest actual value whose
    * cumulative count reaches ⌈p·n⌉) spelled as one cumulative-count
    * window plus conditional `min` aggregates, the same
    * sorted-array-free shape as `agg_weighted_median`: group size is
    * unbounded because nothing materializes a per-group list, and all
    * three percentiles ride ONE window pass. Thresholds compare in
    * exact integer cross-multiples (cw·4 ≥ n, cw·2 ≥ n, cw·10 ≥ 9n) —
    * no float p·n boundary. */
  def aggPercentileDisc(s: SparkSession, dir: String): DataFrame = {
    val cum = Window.partitionBy("l_returnflag").orderBy("pc")
    val tot = Window.partitionBy("l_returnflag")
    def dollars(c: Column): Column = (c.cast("double") / 100)
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (Num.money(col("l_extendedprice")) * 100).cast("long").as("pc"))
      .withColumn("cw", count(lit(1)).over(cum))
      .withColumn("n", count(lit(1)).over(tot))
      .groupBy("l_returnflag")
      .agg(
        dollars(min(when(col("cw") * 4 >= col("n"), col("pc")))).as("p25"),
        dollars(min(when(col("cw") * 2 >= col("n"), col("pc")))).as("p50"),
        dollars(min(when(col("cw") * 10 >= col("n") * 9, col("pc")))).as("p90"),
        max("n").as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** Z-ORDER data layout + zone-map readout: interleave the bits of two
    * query dimensions (partkey, suppkey → 10 bits each) into a Morton
    * code, bucket rows by FIXED-WIDTH z-ranges (high bits of z — no
    * global window, fully parallel), and report each bucket's bounding
    * box in both dimensions. The payoff a reader can verify in the
    * output: every bucket covers a SMALL rectangle in (x, y) space, so
    * a scan filtered on either dimension can skip most buckets on
    * min/max zone maps alone — single-column sorting gives this for one
    * dimension only. This is the layout step a 100 TB table runs before
    * `sink_partitioned_parquet`-style writes; the Morton arithmetic is
    * pure bit math, identical in the oracle. */
  def layoutZorderZonemap(s: SparkSession, dir: String): DataFrame = {
    def morton(xc: Column, yc: Column): Column =
      (0 until 10).map { i =>
        shiftleft(shiftrightunsigned(xc, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftrightunsigned(yc, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
    // odd multipliers spread the keys across the full 10-bit range at
    // every scale factor (raw keys at small sf cluster near zero and
    // collapse every row into one z-bucket)
    t(s, dir, "lineitem")
      .select(pmod(col("l_partkey") * 7919L, lit(1024L)).as("x"),
        pmod(col("l_suppkey") * 104729L, lit(1024L)).as("y"))
      .withColumn("z", morton(col("x"), col("y")))
      .groupBy(shiftrightunsigned(col("z"), 16).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("bucket")
  }

  /** Equi-width histogram of order totals — the profiling primitive
    * behind every "distribution of X" dashboard panel: ten fixed $50k
    * buckets over [0, $500k) plus an open-ended 11th bucket for
    * ≥ $500k (integer-cent floor-division bucketing, clamped via
    * least() — so the open bucket's lo_dollars=500000 is its LOWER
    * edge, not a range), per-bucket count, exact-cent min/max, and
    * share of total as the half-up ratio.
    * width_bucket() exists in both engines but with differing edge
    * conventions; explicit div/least arithmetic is the same expression
    * everywhere.
    *
    * Scale: map-only bucket derivation, one map-side-combined
    * aggregation to ≤ 12 rows, totals via the whitelisted single-row
    * broadcast. The shuffle carries bucket cardinality, not rows. */
  def aggHistogram(s: SparkSession, dir: String): DataFrame = {
    val cents = (Num.money(col("o_totalprice")) * 100).cast("long")
    val widthCents = 5000000L // $50k
    val hist = t(s, dir, "orders")
      .groupBy(least(call_function("div", cents, lit(widthCents)), lit(10L)).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(cents).as("min_cents"), max(cents).as("max_cents"))
    val tot = hist.agg(sum("n_orders").as("n_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("bucket"), (col("bucket") * 50000L).as("lo_dollars"),
        col("n_orders"), col("min_cents"), col("max_cents"),
        Num.ratio(col("n_orders"), col("n_total"), 4).as("share"))
      .orderBy("bucket")
  }

  /** 2-D skyline (Pareto frontier) — the classic multi-criteria OLAP
    * operator the relational core lacks a keyword for: per order
    * status, the orders not dominated on (totalprice, orderdate)
    * under the STANDARD dominance rule — another order is ≥ on both
    * dimensions and > on at least one (so a price-TIED row with a
    * strictly older date is dominated and removed too). The textbook
    * sort-scan: one keyed window ordered by (price desc, date desc,
    * key), a row survives iff its date strictly exceeds the running
    * max date over the preceding prefix — the prefix holds every row
    * with ≥ price, which is exactly the standard rule's dominator
    * candidates. One deliberate edge: rows tied on BOTH dimensions
    * (which neither dominates) collapse to the first under the
    * (price, date, key) total order — the scan's determinism beats
    * keeping interchangeable duplicates. Exact integer cents and
    * epoch-µs; the oracle runs the identical scan.
    *
    * Scale: dominance never crosses the partition key, but the key has
    * ~3 values — a bare per-status window would sort n/3 rows in THREE
    * tasks no matter the cluster. So a BUCKET PREFILTER runs first:
    * per (status, $10k price bucket) max date — a map-side-combined
    * census to ~60 rows per status — then a running max over strictly
    * HIGHER buckets, broadcast back; a row whose date ≤ that prefix max
    * is dominated by a strictly-higher-priced row (standard rule: > on
    * price, ≥ on date) and is provably non-skyline. Dominance is
    * transitive, so dropping dominated rows never changes the skyline,
    * and the exact sort-scan then runs over only the output-sensitive
    * survivors (skyline of n random 2-D points ≈ ln n rows) — the
    * hot-key window touches thousands of rows, not n/3. The same
    * census-then-exact shape as the SKYLINE literature's
    * coarse-grid/SFS hybrids. */
  def aggSkyline2d(s: SparkSession, dir: String): DataFrame = {
    val cents = (Num.money(col("o_totalprice")) * 100).cast("long")
    // epoch DAY, not unix_micros: o_orderdate ships as TIMESTAMP_NTZ,
    // and date arithmetic sidesteps the tz-interpretation cast entirely
    val dDay = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")).cast("long")
    val base = t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), cents.as("cents"), dDay.as("d_day"))
    // prefilter: bucket(q) > bucket(r) ⟹ q.cents strictly > r.cents, so
    // prefix-max date over higher buckets ≥ r.d_day proves r dominated
    val bkt = call_function("div", col("cents"), lit(1000000L))
    val wb = Window.partitionBy("o_orderstatus").orderBy(desc("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = base.groupBy(col("o_orderstatus"), bkt.as("b"))
      .agg(max("d_day").as("bmax"))
      .withColumn("hmax", max("bmax").over(wb))
      .select(col("o_orderstatus"), col("b"), col("hmax"))
    val cand = base.withColumn("b", bkt)
      .join(broadcast(pref), Seq("o_orderstatus", "b"))
      .filter(col("hmax").isNull || col("d_day") > col("hmax"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cents").desc, col("d_day").desc, col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cand
      .withColumn("max_prev_date", max("d_day").over(w))
      .filter(col("max_prev_date").isNull || col("d_day") > col("max_prev_date"))
      .select(col("o_orderstatus"), col("o_orderkey"),
        (col("cents").cast("double") / 100).as("totalprice"),
        col("d_day").as("order_epoch_day"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  /** Continuous (type-7 interpolated) percentiles via the NATIVE exact
    * `percentile` aggregate — the contrast row to
    * `agg_percentile_disc`'s discrete form: lo + (hi−lo)·frac, where
    * the inputs are exact integer cents and frac is an exact binary
    * fraction (quartile positions are multiples of 1/4), so the one
    * float operation is IEEE-identical in both engines
    * (`quantile_cont` in DuckDB computes the same expression). This is
    * the determinism boundary worth pinning: interpolation is safe
    * EXACTLY when values are integers ≤ 2⁵³ and the fraction is
    * dyadic; arbitrary-p interpolation on raw doubles would not be.
    *
    * Scale: Spark's exact percentile collects a per-group sorted
    * digest — same n·log n per-group cost class as the window form;
    * the sketch path remains `agg_approx_percentile`. */
  def aggPercentileCont(s: SparkSession, dir: String): DataFrame = {
    val cents = (Num.money(col("l_extendedprice")) * 100).cast("long")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        percentile(cents, lit(0.25)).as("p25_cents"),
        percentile(cents, lit(0.5)).as("p50_cents"),
        percentile(cents, lit(0.75)).as("p75_cents"))
      .orderBy("l_returnflag")
  }

  /** Largest-remainder (Hamilton) apportionment — the exact-integer
    * allocation primitive behind budget splits, sample quotas, and
    * seat apportionment: 10,000 units distributed across nations
    * proportional to customer counts. quota = B·nᵢ div N, then the
    * B − Σquota leftover units go to the largest remainders (B·nᵢ mod
    * N), ties broken by nation key — fully deterministic, conserves B
    * exactly by construction (the float-share-then-round version
    * loses or invents units; this never can).
    *
    * Scale: one map-side-combined count per nation (the corpus
    * collapses to |nations| rows), dimension name via broadcast, and
    * the quota/rank windows run over the 25-row nation frame — the
    * unpartitioned windows are safe for exactly that reason. */
  def aggLargestRemainder(s: SparkSession, dir: String): DataFrame = {
    val B = 10000L
    val counts = t(s, dir, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))), "c_nationkey")
    val all = Window.partitionBy()
    val rk = Window.orderBy(desc("remainder"), col("c_nationkey"))
    counts
      .withColumn("n_total", sum("n_cust").over(all))
      .withColumn("quota", call_function("div", lit(B) * col("n_cust"), col("n_total")))
      .withColumn("remainder", lit(B) * col("n_cust") - col("quota") * col("n_total"))
      .withColumn("leftover", lit(B) - sum("quota").over(all))
      .withColumn("extra", when(row_number().over(rk) <= col("leftover"), 1L).otherwise(0L))
      .select(col("n_name"), col("n_cust"), col("quota"), col("remainder"),
        col("extra"), (col("quota") + col("extra")).as("seats"))
      .orderBy("n_name")
  }

  /** GROUP BY ALL / ORDER BY ALL (Spark 4 & DuckDB share the same
    * semantics: group by every non-aggregate select item, order by
    * every select item left-to-right) — the analyst-ergonomics SQL
    * surface, worth a contract row because the engines must agree on
    * WHICH items are grouping items when expressions mix aggregates
    * and scalars. Plans identically to the explicit GROUP BY — purely
    * an analysis-time rewrite, zero runtime cost. */
  def sqlGroupByAll(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ord_gba")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
             count(*) AS n,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM graft_ord_gba
      GROUP BY ALL
      ORDER BY ALL""")
  }
}
