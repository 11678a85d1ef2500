package graft.graphs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degree-ordered triangle counting vs a brute-force driver-side
  * reference, plus the edge-hygiene and plan contracts.
  */
class TrianglesSpec extends SparkSpec {

  /** Brute force over the canonical undirected edge set: every node
    * triple with all three edges present — an independent code path the
    * distributed wedge join must match exactly.
    */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if und((a, b)) && und((a, c)) && und((b, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark; import s.implicits._
    Triangles.nodeTriangles(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("K4: every node sits in C(3,2) = 3 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(run(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle + pendant: pendant node never appears") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(run(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("duplicates, reversed duplicates and self-loops collapse") {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = clean ++ Seq((2L, 1L), (1L, 2L), (3L, 3L), (1L, 1L), (3L, 2L))
    assert(run(noisy) == run(clean))
  }

  test("no triangles (cycle of 5, bipartite-ish) gives an empty result") {
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))).isEmpty)
    assert(run(Seq.empty).isEmpty)
  }

  test("skewed wheel graph matches brute force (hub in every triangle)") {
    // Hub 0 joined to a 12-cycle: triangles = the 12 rim edges, hub in
    // all of them — the degree-skew case the rank orientation exists for.
    val rim = (1L to 12L).map(i => (i, if (i == 12L) 1L else i + 1))
    val spokes = (1L to 12L).map(i => (0L, i))
    val g = rim ++ spokes
    val r = run(g)
    assert(r == reference(g))
    assert(r(0L) == 12L)
  }

  test("mixed random-ish graph matches brute force exactly") {
    val g = (0 until 80).map(i =>
      ((i * 37L) % 23, ((i * i + 5L * i + 3) % 23)))
    assert(run(g) == reference(g))
  }

  test("topTriangleNodes: ordered by (count desc, node), k-limited") {
    val s = spark; import s.implicits._
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val g = k4 ++ Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val top = Triangles.topTriangleNodes(g.toDF("src", "dst"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L), (10L, 1L)))
    intercept[IllegalArgumentException] {
      Triangles.topTriangleNodes(g.toDF("src", "dst"), 0)
    }
  }

  test("plan contract: equi-joins only, no CartesianProduct") {
    val s = spark; import s.implicits._
    val g = (0 until 40).map(i => ((i * 7L) % 13, (i * 11L) % 13))
    // The un-checkpointed composition (nodeTriangles returns a
    // materialized localCheckpoint whose plan is an opaque scan).
    val (_, _, out) = Triangles.trianglesPlan(g.toDF("src", "dst"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs join in triangle plan:\n$plan")
  }

}
