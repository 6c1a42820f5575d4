package graft.operators

import org.apache.spark.sql.SparkSession

/** The engine's one (session, key)-scoped memo of family-shared
  * derivations: a frame or driver-side value that two or more queries
  * read is built once per live session instead of once per consumer.
  *
  * Semantics:
  *   - keyed on the LIVE session reference + caller key (the map key is
  *     the (key, session) pair, so two concurrently live sessions
  *     sharing a key each keep their own entry);
  *   - entries never survive the session — entries of stopped sessions
  *     are evicted on every lookup, and nothing crosses a bench/verify
  *     invocation boundary;
  *   - derived entries assume a testdata dir is not rewritten under a
  *     live session (see `tables.Tables`): a host that rewrites inputs
  *     in place calls `SparkEntry.releaseCaches()` first. Table schemas
  *     are the exception — their keys carry the file's length and
  *     modification time, so a rewritten file misses and re-resolves.
  *
  * Release contract: a builder registers every persisted frame its
  * value holds with [[GraftCaches]] at build time. `clear()` then only
  * drops the entries, and `SparkEntry.releaseCaches()` is
  * `SessionMemo.clear(); GraftCaches.releaseAll()` — no per-kind
  * release code exists anywhere.
  *
  * Kinds in use:
  *   - `table_schema` (`tables.Tables.t`, one parquet schema per table
  *     file version);
  *   - graph family (`queries.GraphQueries`): `simEdges`, `symAdj`,
  *     `symAdjRows`, `symNodes`, `symDeg`, `saltedSymAdj`, `saltedSymAdjBfs`,
  *     `lpaLabels`, `prAdjLoop`,
  *     `louvainTrace`, `hIndex12`, `uniformWalk`, `node2vecWalk`,
  *     `landmarkReach`;
  *   - LLM/ANN family: `minhashSigs`, `annTruth10` (`queries.Llm`),
  *     `ivfTop10`, `hnswReadout`, `hnswGraph|<m>`, `pqTop5`,
  *     `bpeMerges`, `bpeRich` (`queries.LlmExtra`).
  *
  * Per-kind build seconds are recorded so artifacts report where
  * shared-derivation time went instead of aliasing it to whichever
  * query ran first. Callers pass a dir-free `kind` for the attribution
  * key (the raw keys embed the absolute data dir, which would leak host
  * paths into artifacts). Builds run under a PER-ENTRY lock, not the
  * map lock, so an eager multi-second Spark build on one key never
  * serializes lookups of unrelated keys; a build may nest lookups of
  * other keys (symAdj → simEdges), as long as no two builds nest each
  * other.
  */
object SessionMemo {
  private final class Slot { var value: AnyRef = null }
  private val memo =
    scala.collection.mutable.HashMap.empty[(String, SparkSession), Slot]
  private val buildSecs = scala.collection.mutable.HashMap.empty[String, Double]

  def buildSeconds: Map[String, Double] = memo.synchronized(buildSecs.toMap)

  def memoized[T <: AnyRef](s: SparkSession, key: String, kind: String = null)(
      build: => T): T = {
    val slot = memo.synchronized {
      memo.filterInPlace { case ((_, sess), _) => !sess.sparkContext.isStopped }
      memo.getOrElseUpdate((key, s), new Slot)
    }
    slot.synchronized {
      if (slot.value == null) {
        val t0 = System.nanoTime()
        slot.value = build
        val k = if (kind == null) key else kind
        memo.synchronized {
          buildSecs(k) = buildSecs.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
        }
      }
      slot.value.asInstanceOf[T]
    }
  }

  /** Drop every entry (frames themselves are unpersisted by
    * GraftCaches.releaseAll, which SparkEntry.releaseCaches runs in the
    * same call). Build-seconds reset too: a rebuild after a mid-session
    * release would otherwise accumulate into the same keys and
    * double-count against memo_warm_sec. */
  def clear(): Unit = memo.synchronized { memo.clear(); buildSecs.clear() }
}
