package graft.graphs

import graft.SparkSpec

class HyperBallSpec extends SparkSpec {

  test("chain + hub: estimates track exact ball sizes within sketch error") {
    val s = spark; import s.implicits._
    // chain 1→2→3→4→5 plus hub 10→{11..16}
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)) ++
      (11L to 16L).map(v => (10L, v))).toDF("src", "dst")
    val est2 = HyperBall.neighborhoodSizes(edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact 2-hop ball sizes (incl. self)
    val exact = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 2L, 5L -> 1L,
      10L -> 7L) ++ (11L to 16L).map(_ -> 1L)
    exact.foreach { case (n, t) =>
      assert(math.abs(est2(n) - t) <= 2,
        s"node $n: est ${est2(n)} vs exact $t")
    }
    // sink nodes (ball = {self}) must read exactly 1: one register,
    // linear counting at zeros = 15 → round(16·ln(16/15)) = 1
    assert(est2(5L) == 1L && est2(11L) == 1L)
  }

  test("round shape: rounds add no shuffle-map stage (1 vs 4)") {
    // The round plan runs no exchange (the broadcast join streams the src
    // layout, the max-agg rides it), and all rounds are one plan.
    val s = spark; import s.implicits._
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)) ++
      (11L to 16L).map(v => (10L, v))).toDF("src", "dst")
    val one = countShuffleMapStages(HyperBall.neighborhoodSizes(edges, 1))
    val four = countShuffleMapStages(HyperBall.neighborhoodSizes(edges, 4))
    info(s"shuffle-map stages: 1 round $one, 4 rounds $four")
    assert(four == one, s"1 round: $one stages, 4 rounds: $four")
  }

  test("all rounds are one plan: executions stay flat, jobs grow by one broadcast a round (1 vs 4)") {
    val s = spark; import s.implicits._
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)) ++
      (11L to 16L).map(v => (10L, v))).toDF("src", "dst")
    val execs = Seq(1, 4).map(r =>
      countExecutions(HyperBall.neighborhoodSizes(edges, r)))
    val jobs = Seq(1, 4).map(r =>
      countJobs(HyperBall.neighborhoodSizes(edges, r)))
    info(s"SQL executions $execs, jobs $jobs")
    assert(execs == Seq(1, 1), s"SQL executions at 1 and 4 rounds: $execs")
    assert(jobs(1) - jobs(0) <= 3, s"jobs at 1 and 4 rounds: $jobs")
  }

  test("rounds grow balls monotonically; round count bounds the radius") {
    val s = spark; import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val e1 = HyperBall.neighborhoodSizes(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e3 = HyperBall.neighborhoodSizes(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1.keySet == e3.keySet)
    e1.keySet.foreach(n => assert(e1(n) <= e3(n),
      s"node $n shrank: ${e1(n)} -> ${e3(n)}"))
    // node 1 sees {1,2} after round 1, {1,2,3,4} after round 3
    assert(e1(1L) >= 1L && e1(1L) <= 3L)
    assert(e3(1L) >= 3L && e3(1L) <= 5L)
  }
}
