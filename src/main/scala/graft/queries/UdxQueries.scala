package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.materialize
import graft.tables.Tables.t
import graft.operators.GraftCaches.persist
import graft.udx.{NGrams, WeightedAvg}

/** Queries exercising the custom UDX pieces (SURVEY §2.B udaf/udtf rows). */
object UdxQueries {

  /** Quantity-weighted average price per brand via the typed Aggregator.
    * The oracle checks the math (sum(p·q)/sum(q)), not the mechanism. */
  def udafWeightedAvg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        round(WeightedAvg.weightedAvg(col("l_extendedprice"), col("l_quantity")), 4).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** Character 3-grams of part names via the native Generator, top-20 by
    * frequency. Oracle: the same grams via DuckDB list_transform over a
    * range list (custom mechanism, standard semantics). */
  def udtfNgrams(s: SparkSession, dir: String): DataFrame = {
    NGrams.register(s)
    t(s, dir, "part").createOrReplaceTempView("graft_part_ngrams")
    s.sql("""
      SELECT gram, count(1) AS n
      FROM (SELECT graft_ngrams(p_name, 3) AS gram FROM graft_part_ngrams)
      GROUP BY gram
      ORDER BY n DESC, gram
      LIMIT 20""")
  }

  /** Batch TYPED grouped-map (`KeyValueGroupedDataset.flatMapGroups`) —
    * the per-group imperative escape hatch when a computation reads a
    * whole group's rows in order (here: per-user inter-event gap stats).
    * The group's events sort in executor memory (bounded: one user's
    * events), emit exactly one summary row, and the shuffle is the
    * same single user_id exchange a window would pay. Use the window
    * form when SQL can express it — this op pins the typed API for the
    * cases it can't (multi-pass group logic, early exit, local state).
    * Deterministic: integer gap minutes, fixed sort, exact counts. */
  def typedGroupGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .filter(col("user_id") < 200)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
    ev.groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, Long)]) =>
        val ts = it.map(_._2).toArray
        java.util.Arrays.sort(ts)
        val gaps = ts.indices.drop(1).map(i => (ts(i) - ts(i - 1)) / 60000000L)
        Iterator.single((uid, ts.length.toLong,
          if (gaps.isEmpty) -1L else gaps.max,
          if (gaps.isEmpty) -1L else gaps.min))
      }
      .toDF("user_id", "n_events", "max_gap_min", "min_gap_min")
      .orderBy("user_id")
  }

  /** Exact heavy hitters (frequency > 1% of rows) over a
    * high-cardinality skewed key, found in two passes: a mergeable
    * Misra–Gries sketch (128 counters — candidate set provably ⊇ every
    * key above n/129) reduces each partition to ≤ 128 counters before
    * any shuffle, then one broadcast semi-join pass counts ONLY the
    * candidates exactly and applies the threshold. The sketch can
    * over-generate but never lose a true heavy hitter, so the final
    * answer is exact — the oracle is the plain GROUP BY + HAVING.
    *
    * Scale story: the naive form shuffles one row per DISTINCT key
    * (billions at 100 TB); this shuffles ≤ 128 counters for the sketch
    * plus candidate-only rows for the confirm. The skewed key is
    * Zipf-like by construction — `10000 div (1 + md5-uniform[0,10000))`
    * makes key 1 cover ~half the rows — and md5-derived, so DuckDB
    * reproduces it arithmetically. */
  def aggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(col("l_orderkey").cast("string"),
        lit("-"), col("l_linenumber").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 10000L
    // persist the derived key column: 8 bytes/row vs three full md5+
    // string passes (sketch, total, confirm all read it); the sketch
    // and the exact total also share ONE aggregate, so the table is
    // scanned twice, hashed once. Lazy: materializing the sketch below
    // fills it before the returned plan reads it
    val src = persist(t(s, dir, "lineitem")
      .select(call_function("div", lit(10000L), lit(1L) + u).as("hk")))
    // one-row result, materialized: two broadcast builds (candidate
    // explode AND the total) read it, and a lazy cache under one plan
    // lets them run the sketch aggregation twice
    val sketch = materialize(src.agg(graft.udx.MisraGries.mg(128)(col("hk")).as("mg"),
      count(lit(1)).as("n")))
    val cands = sketch.select(explode(map_keys(col("mg.keys"))).as("hk"))
    src.join(broadcast(cands), "hk")
      .groupBy("hk").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sketch.select(col("n"))))
      .filter(col("cnt") * 100 > col("n"))
      .select(col("hk"), col("cnt"),
        call_function("div", col("cnt") * 10000L, col("n")).as("bp"))
      .orderBy(col("cnt").desc, col("hk"))
  }
}
