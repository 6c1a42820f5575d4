package graft.operators

import org.apache.spark.sql.SparkSession

/** Generic (session, key)-scoped memo of family-shared derivations —
  * the `GraphQueries.memoized` convention extracted so the LLM/ANN
  * families can share derived tables the same way the graph family
  * shares its adjacency (round-15 optimization: the HNSW navigable
  * graph, the brute-force truth top-10 and the MinHash signature table
  * were each rebuilt by every consumer query — 2–5 rebuilds per bench
  * pass of byte-identical intermediates).
  *
  * Semantics (identical to the graph-family memo):
  *   - keyed on the LIVE session reference + caller key (the map key is
  *     the (key, session) PAIR since round 16, so two concurrently live
  *     sessions sharing a key each keep their own entry instead of
  *     overwriting each other's on every alternation);
  *   - entries never survive the session — nothing crosses a
  *     bench/verify invocation boundary, every invocation computes from
  *     the parquet inputs;
  *   - cached frames inside entries are registered with [[GraftCaches]]
  *     by their builders, so `SparkEntry.releaseCaches()` (which also
  *     calls [[clear]]) both unpersists the blocks and drops the memo;
  *   - derived entries assume a testdata dir is not rewritten under a
  *     live session (see `tables.Tables`): a host that rewrites inputs
  *     in place calls releaseCaches() first. Table schemas are the
  *     exception — their keys carry the file's length and modification
  *     time, so a rewritten file misses and re-resolves.
  *
  * Kinds in use: `table_schema` (`tables.Tables.t`, one parquet schema
  * per table file version), `minhashSigs`, `annTruth10` (Llm),
  * `ivfTop10`, `hnswReadout`, `hnswGraph|<m>`, `pqTop5` (LlmExtra).
  *
  * Per-kind build seconds are recorded (the round-15 bench-attribution
  * convention) so artifacts can report where shared-derivation time
  * went instead of aliasing it to whichever query ran first. Callers
  * pass a dir-free `kind` for the attribution key (round-15 ADVICE:
  * the raw keys embed the absolute sf dir, which leaked host paths
  * into artifacts and broke key stability across SF dirs). Builds run
  * under a PER-ENTRY lock, not the map lock, so an eager multi-second
  * Spark build on one key never serializes lookups of unrelated keys.
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
    * same call). Build-seconds reset too (round-15 ADVICE): a rebuild
    * after a mid-session release would otherwise accumulate into the
    * same keys and double-count against memo_warm_sec. */
  def clear(): Unit = memo.synchronized { memo.clear(); buildSecs.clear() }
}
