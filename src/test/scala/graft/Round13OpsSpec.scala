package graft

import org.apache.spark.sql.functions._
import graft.queries.{GraphQueries, LlmExtra}
import graft.tables.Tables.t

/** Semantic pins for the round-13 operators (both fully DuckDB-
  * oracle-checked; these assert what a hash compare can't): the Louvain
  * fixpoint trace replayed sweep-by-sweep — sweep 2 onward runs against
  * COLLECTED post-move state, not the LPA seed — from an independent
  * pure-Scala graph/LPA/sweep rebuild, and the recall@k curve replayed
  * as rank-prefix intersections of the collected top-10 lists. Plus the
  * round-13 bpeApply regression pin: astral characters must tokenize by
  * CODE POINT (the training census and the oracle both split with a
  * one-per-code-point regex), never by UTF-16 unit. */
class Round13OpsSpec extends GraftSpec {

  /** Pure-Scala rebuild of the similarity graph + 3 LPA rounds the graph
    * family shares (two-blocking construction over doc_id < 1200) — the
    * Round12OpsSpec rebuild, kept independent per suite so a regression
    * in one replay can't silently rewrite the other's expectations. */
  private def graphAndLabels(): (Map[Long, Seq[Long]], Map[Long, Long]) = {
    val docs = t(spark, sfDir, "documents").filter(col("doc_id") < 1200)
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val blocks = docs.flatMap { case (id, src, lang, nc) =>
      Seq((s"s|$src|${nc / 100}", id), (s"l|$lang|${nc / 50}", id))
    }
    val edges = blocks.groupBy(_._1).values.flatMap { members =>
      val ids = members.map(_._2).toSeq
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lab).view.mapValues(_.size.toLong).toSeq
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    (adj, lab)
  }

  /** One synchronous local-move sweep against a FROZEN labeling: every
    * node's (gain DESC, community ASC) argmax over neighboring
    * communities, positive gains only — the engine's louvainMovesOn
    * replayed node-at-a-time in plain Scala. */
  private def sweepMoves(adj: Map[Long, Seq[Long]], deg: Map[Long, Long],
      twom: Long, lab: Map[Long, Long]): Map[Long, Long] = {
    val tot = lab.toSeq.groupBy(_._2).view
      .mapValues(_.map { case (n, _) => deg(n) }.sum).toMap
    adj.keys.toSeq.sorted.flatMap { n =>
      val cur = lab(n)
      val kic = adj(n).groupBy(lab).view.mapValues(_.size.toLong).toMap
      val kicur = kic.getOrElse(cur, 0L)
      val cands = kic.keys.toSeq.sorted.filter(_ != cur).map { c =>
        (c, twom * (kic(c) - kicur) - deg(n) * (tot(c) - tot(cur) + deg(n)))
      }
      cands.sortBy { case (c, g) => (-g, c) }.headOption
        .filter(_._2 > 0).map { case (c, _) => n -> c }
    }.toMap
  }

  private def qNum(adj: Map[Long, Seq[Long]], labels: Map[Long, Long]): Long = {
    val byC = adj.toSeq.flatMap { case (u, nbrs) => nbrs.map(v => (labels(u), labels(v))) }
      .groupBy(_._1)
    val degSum = byC.view.mapValues(_.size.toLong).toMap
    val inC = byC.view.mapValues(_.count { case (lu, lv) => lu == lv }.toLong).toMap
    val m2 = degSum.values.sum
    m2 * inC.values.sum - degSum.values.map(d => d * d).sum
  }

  test("graph_louvain_converged: trace replays sweeps 1..k sequentially, " +
      "each from the previous sweep's state") {
    val (adj, lab0) = graphAndLabels()
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val twom = deg.values.sum
    // expected trace: iterate the sweep on the POST-MOVE partition (the
    // fixpoint rule), cap 4, terminal zero-move sweep repeats the q
    var lab = lab0
    var expected = Vector((0L, 0L, qNum(adj, lab0)))
    var converged = false
    var k = 0
    while (!converged && k < 4) {
      k += 1
      val moves = sweepMoves(adj, deg, twom, lab)
      if (moves.isEmpty) { converged = true; expected :+= ((k.toLong, 0L, expected.last._3)) }
      else {
        lab = lab.map { case (n, l) => n -> moves.getOrElse(n, l) }
        expected :+= ((k.toLong, moves.size.toLong, qNum(adj, lab)))
      }
    }
    val got = GraphQueries.graphLouvainConverged(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toVector
    assert(got.map(_._3).distinct == Vector(twom), "constant 2m column")
    assert(got.map(_._5).distinct == Vector(converged), "converged flag")
    assert(got.map(t3 => (t3._1, t3._2, t3._4)) == expected,
      "per-sweep (sweep, n_moved, q_num) trace")
    // sweep 1 must match the one-sweep sibling's applied state exactly
    val applyRow = GraphQueries.graphLouvainApply(spark, sfDir).collect().head
    assert(expected(1)._2 == applyRow.getLong(0), "sweep-1 n_moved == apply's n_moved")
    assert(expected(1)._3 == applyRow.getLong(3), "sweep-1 q_num == apply's q_after_num")
    // the trace must show ≥ 2 executed sweeps on this fixture, or the
    // "from the previous sweep's state" half of the replay is vacuous
    assert(got.length >= 3, "fixture executed fewer than 2 sweeps — replay vacuous")
  }

  test("bpeApply: astral characters tokenize by code point, not UTF-16 unit") {
    import SparkSpecBase.spark.implicits._
    // "a😀b" as code points is [a, 😀, b]; under a UTF-16-unit split the
    // emoji becomes two surrogate tokens and the merge (a,😀) can never
    // fire. Train-side splitting is regex-based (one match per code
    // point), so apply MUST match it.
    val words = Seq("a😀b", "a😀b", "xy").toDF("w")
    val merges = Seq(("a", "😀"), ("a😀", "b"))
    val got = LlmExtra.bpeApply(words, merges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got("a😀b") == ((2L, "a😀b")),
      "emoji word fully merged into one token")
    assert(got("xy") == ((1L, "x y")), "untouched word splits by code point")
  }

  test("llm_sim_recall_at_k: prefix intersections of the collected top-10s; " +
      "recall@5 equals llm_sim_recall value-for-value") {
    def ranked(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val truth = ranked(graft.queries.Llm.simCosineTopkK(spark, sfDir, 10))
    val approx = ranked(LlmExtra.simIvfTopkK(spark, sfDir, 10))
    val got = LlmExtra.llmSimRecallAtK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq == truth.keys.toSeq.sorted, "one row per probe")
    got.foreach { case (pid, h1, h5, h10, nt10) =>
      val a = approx.getOrElse(pid, Seq.empty)
      def hits(k: Int) = (truth(pid).take(k).toSet intersect a.take(k).toSet).size.toLong
      assert(h1 == hits(1), s"probe $pid n_hit_1")
      assert(h5 == hits(5), s"probe $pid n_hit_5")
      assert(h10 == hits(10), s"probe $pid n_hit_10")
      assert(nt10 == truth(pid).size.toLong, s"probe $pid n_true_10")
    }
    // the curve's k=5 point must be THE recall@5 query's number: same
    // sets, same half-up ratio — any drift means the two queries no
    // longer share one ranking contract
    val r5 = LlmExtra.llmSimRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val curve5 = LlmExtra.llmSimRecallAtK(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap
    assert(curve5 == r5, "recall_at_5 column drifted from llm_sim_recall")
  }
}
