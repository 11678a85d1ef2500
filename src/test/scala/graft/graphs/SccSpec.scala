package graft.graphs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** FW-BW coloring SCC contracts: hand-built cycle graphs, the
  * multi-phase case (an SCC shadowed by a higher-id ancestor), acyclic
  * drain-in-one-phase, symmetric-graph agreement with
  * ConnectedComponents, and a seeded random graph against an in-spec
  * Tarjan reference.
  */
class SccSpec extends SparkSpec {
  import spark.implicits._

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Scc.run(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cycles joined by a one-way bridge, plus a tail") {
    val got = sccOf(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // cycle A
      (3L, 4L), // bridge (one-way: A and B stay separate)
      (4L, 5L), (5L, 4L), // cycle B
      (5L, 6L))) // tail singleton
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L), got)
  }

  test("multi-phase: a cycle shadowed by a higher-id ancestor resolves " +
    "in a later phase") {
    // color(1)=color(2)=10 in phase 1, so only {10} retires there; the
    // {1,2} cycle must come out of phase 2.
    val got = sccOf(Seq((10L, 1L), (1L, 2L), (2L, 1L)))
    assert(got == Map(10L -> 10L, 1L -> 1L, 2L -> 1L), got)
  }

  test("acyclic graph: every node is its own singleton SCC") {
    val got = sccOf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L), got)
  }

  test("symmetric graph: SCCs equal connected components") {
    val und = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val sym = und ++ und.map(_.swap)
    val scc = sccOf(sym)
    val cc = ConnectedComponents.run(sym.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == cc, s"scc $scc vs cc $cc")
  }

  test("empty edge set returns an empty result, not a crash") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Scc.run(empty)
    assert(out.columns.toSeq == Seq("node", "scc_id"))
    assert(out.count() == 0L)
    assert(Scc.condensation(empty).count() == 0L)
  }

  test("self-loop-only nodes are singleton SCCs, not dropped") {
    val got = sccOf(Seq((5L, 5L), (1L, 2L), (2L, 1L)))
    assert(got == Map(5L -> 5L, 1L -> 1L, 2L -> 1L), got)
  }

  test("condensation contracts cycles into a DAG over scc ids") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // SCC 1
      (3L, 4L),
      (4L, 5L), (5L, 4L), // SCC 4
      (5L, 6L)) // singleton 6
    val dag = Scc.condensation(edges.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dag == Set((1L, 4L), (4L, 6L)), dag)
  }

  test("sizeHistogram counts SCCs per size") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // SCC 1
      (3L, 4L),
      (4L, 5L), (5L, 4L), // SCC 4
      (5L, 6L), (6L, 6L)) // singleton 6 (self-loop)
    val hist = Scc.sizeHistogram(edges.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hist == Set((3L, 1L), (2L, 1L), (1L, 1L)), hist)
  }

  test("run leaves at most one persisted RDD behind (multi-phase)") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.size
    sccOf(Seq((10L, 1L), (1L, 2L), (2L, 1L)))
    val after = sc.getPersistentRDDs.size
    assert(after <= before + 1, s"persisted RDDs: $before before, $after after")
    // what is left is the session's to evict
    spark.catalog.clearCache()
    val cleared = sc.getPersistentRDDs.size
    assert(cleared == before,
      s"persisted RDDs: $before before, $cleared after clearCache()")
  }

  test("seeded random graphs agree with an in-spec Tarjan reference " +
    "(sparse, dense, and skewed densities)") {
    // density sweep: m≈n (mostly small SCCs + singletons), m≈2.5n (one
    // giant SCC emerging), m≈6n (giant SCC + satellites) — each regime
    // exercises different phase/containment behavior
    for ((seed, n, m) <- Seq((7, 60, 150), (11, 80, 80), (13, 50, 300),
      (17, 40, 60), (23, 120, 200))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      assert(sccOf(edges) == tarjan(edges),
        s"FW-BW disagreed with Tarjan on seed=$seed n=$n m=$m")
    }
  }

  /** Iterative Tarjan (explicit stack), scc id = min member. */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Seq.empty)
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayDeque.empty[Long]
    val out = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      // frames: (node, iterator over successors)
      val frames = scala.collection.mutable.ArrayDeque((root, adj(root).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack.prepend(root); onStack += root
      while (frames.nonEmpty) {
        val (v, it) = frames.head
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.prepend(w); onStack += w
            frames.prepend((w, adj(w).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          frames.removeHead()
          if (frames.nonEmpty) {
            val p = frames.head._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.removeHead(); onStack -= w; members += w; w != v }) ()
            val m = members.min
            members.foreach(x => out(x) = m)
          }
        }
      }
    }
    out.toMap
  }
}
