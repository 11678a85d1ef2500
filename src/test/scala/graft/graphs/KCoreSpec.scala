package graft.graphs

import graft.SparkSpec

class KCoreSpec extends SparkSpec {

  /** Symmetrized edge list from undirected pairs. */
  private def undirected(pairs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
  }

  test("cascading peel: tail drops first round, its anchor the next") {
    // triangle 1-2-3 (the 2-core) + path 3-4-5: round 1 peels 5? no —
    // deg(5)=1 <2 and deg(4)=2 → round 1 drops 5, round 2 drops 4
    // (its surviving degree fell to 1), triangle is the fixpoint.
    val edges = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val got = KCore.run(edges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("fixpoint: extra rounds are identity; k above max degree empties") {
    val edges = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)))
    val at4 = KCore.run(edges, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val at8 = KCore.run(edges, k = 2, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at4 == at8)
    assert(KCore.run(edges, k = 5, rounds = 3).count() == 0)
  }

  /** Two 4-cliques joined through node 10 by single bridges. */
  private def fusedCliques = {
    val k4a = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val k4b = for (a <- 5L to 8L; b <- 5L to 8L if a < b) yield (a, b)
    undirected(k4a ++ k4b ++ Seq((4L, 10L), (10L, 5L)))
  }

  test("two fused cliques: the bridge peels, both cliques survive") {
    // at k=3 the bridge node 10 (degree 2) peels; the cliques (internal
    // degree 3) are the fixpoint.
    val got = KCore.run(fusedCliques, k = 3, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(_._1) == (1L to 8L).toSet)
    assert(got.forall(_._2 == 3L))
  }

  test("round shape: a round adds no shuffle-map stage (1 vs 4 rounds)") {
    val one = countShuffleMapStages(KCore.run(fusedCliques, k = 3, rounds = 1))
    val four = countShuffleMapStages(KCore.run(fusedCliques, k = 3, rounds = 4))
    assert(four == one, s"1 round: $one stages, 4 rounds: $four")
  }

}
