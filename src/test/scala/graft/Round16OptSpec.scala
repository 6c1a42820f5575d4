package graft

/** Round-16 OPTIMIZATION internals — like Round15OptSpec, these pin the
  * internal equivalences the rewrites rest on (the oracle pins every
  * graded output; a future edit breaking one of these fails here before
  * it reaches parity). */
class Round16OptSpec extends GraftSpec {

  test("louvain dendrogram: cross-level Q invariant survives the fused level censuses") {
    // contraction preserves Q, so each level's sweep-0 q_num equals the
    // previous level's terminal q_num — the invariant that catches a
    // broken fused census (wrong adjacency, wrong sweep tag) even
    // before oracle parity runs
    val rows = graft.queries.GraphQueries.graphLouvainDendrogram(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    val levels = rows.map(_._1).distinct.sorted
    assert(levels.nonEmpty && levels.head == 1L)
    levels.sliding(2).foreach {
      case Seq(a, b) =>
        val termA = rows.filter(_._1 == a).maxBy(_._2)._3
        val zeroB = rows.filter(r => r._1 == b && r._2 == 0L).head._3
        assert(zeroB == termA,
          s"level $b sweep-0 q_num $zeroB != level $a terminal q_num $termA")
      case _ => ()
    }
  }
}
