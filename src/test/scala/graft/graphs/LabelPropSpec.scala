package graft.graphs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Label propagation: the distributed vote must match a driver-side
  * reference of the same synchronous plurality rule exactly, round by
  * round, plus hand-checkable community collapse and guards.
  */
class LabelPropSpec extends SparkSpec {

  /** Driver-side synchronous LPA with the operator's exact rule: adopt
    * the most frequent in-neighbor label, ties to the smallest label,
    * keep the old label when there are no in-neighbors.
    */
  private def reference(edges: Set[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val next = nodes.map { v =>
        val incoming = edges.filter(_._2 == v).toSeq.map(e => lab(e._1))
        if (incoming.isEmpty) v -> lab(v)
        else {
          val counts = incoming.groupBy(identity).view.mapValues(_.size)
          v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }.toMap
      lab = next
    }
    lab
  }

  private def toDf(edges: Set[(Long, Long)]) = {
    val s = spark; import s.implicits._
    edges.toSeq.toDF("src", "dst")
  }

  test("matches the driver-side reference on a pseudo-random graph, rounds 1..4") {
    // deterministic pseudo-random directed graph, some sinks and sources
    val edges = (0 until 90).map { i =>
      val a = (i * 37 + 11) % 30
      val b = (i * 53 + 7) % 31 // 30 is a sink-ish node id space offset
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2).toSet
    for (r <- 1 to 4) {
      val got = LabelProp.run(toDf(edges), rounds = r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
      assert(got == reference(edges, r), s"rounds=$r")
    }
  }

  test("two cliques joined by one edge collapse to their min ids") {
    def clique(ids: Seq[Long]): Set[(Long, Long)] =
      (for (a <- ids; b <- ids if a != b) yield (a, b)).toSet
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Set((4L, 10L), (10L, 4L))
    val got = LabelProp.run(toDf(edges), rounds = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got == reference(edges, 4))
    // communities are found: the two cliques end on different labels,
    // and each clique is internally uniform
    val c1 = Set(1L, 2L, 3L).map(got) // 4 sits on the bridge
    val c2 = Set(11L, 12L, 13L).map(got)
    assert(c1.size == 1 && c2.size == 1 && c1 != c2, s"labels: $got")
  }

  test("round shape: a round adds no shuffle-map stage (1 vs 4 rounds)") {
    val edges = toDf((0 until 60).map { i =>
      ((i * 17 + 3) % 20L, (i * 29 + 5) % 20L)
    }.filter(e => e._1 != e._2).toSet)
    val one = countShuffleMapStages(LabelProp.run(edges, rounds = 1))
    val four = countShuffleMapStages(LabelProp.run(edges, rounds = 4))
    assert(four == one, s"1 round: $one stages, 4 rounds: $four")
  }

  test("guards: rounds bounds enforced") {
    val e = toDf(Set((1L, 2L)))
    intercept[IllegalArgumentException](LabelProp.run(e, rounds = 0))
    intercept[IllegalArgumentException](LabelProp.run(e, rounds = 21))
  }
}
