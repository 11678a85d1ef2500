package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Sketches

/** HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
  * Centralities with HyperBall", 2013; public literature) — approximate
  * t-hop neighborhood sizes for EVERY node at once: each node carries an
  * HLL register set of its reachable ball, initialized to {self}, and
  * each round max-merges the registers of its out-neighbors. After t
  * rounds the registers sketch ball(n, t) exactly (register max-merge IS
  * set union), so one estimator pass yields |ball(n, t)| for every node
  * — the primitive behind effective-diameter and centrality
  * computations that exact per-node BFS (O(n) traversals) cannot touch
  * at scale.
  *
  * Scale posture: state is nodes·2^p register rows (p = 4 → 16 per
  * node). The adjacency is hash-partitioned on `src` ONCE with a
  * self-loop per node folded in: the self-merge
  * `regs ∪ fromNbrs` is algebraically a max over {v} ∪ out-nbrs(v), so
  * the self-loops let a single join cover it. Each round broadcasts the
  * register table into a join that streams that layout unmoved, so the
  * (node = src, bucket) max-agg rides it in place (hash(src) clusters
  * (node, bucket)): ZERO per-round exchanges. The broadcast is explicit
  * (the [[PageRank]] posture), so the register table must fit an
  * executor. All rounds are one plan, whose exchange reuse shares the
  * adjacency without a persist, materialized once at the end (the
  * [[PageRank]] lifecycle). This is the [[Bfs]] cost model
  * with a constant 2^p factor traded for EVERY source at once (n BFS
  * runs collapse into one sketch pass).
  *
  * Cross-engine: registers ride [[Sketches.hllRegisters]] (md5-derived,
  * q100 contract) and estimates [[Sketches.hllEstimateCorrected]]
  * (build-time linear-counting LUT), so every per-node estimate is an
  * exact integer both engines reproduce (q226).
  */
object HyperBall {

  /** `edges`: integral `src`/`dst`, directed as stored (symmetrize
    * upstream for undirected balls). Returns (node, est_reachable) —
    * the estimated |ball(node, rounds)| INCLUDING the node itself —
    * for every node with at least one edge endpoint, MATERIALIZED (a
    * `localCheckpoint`) before returning: one SQL execution at any round
    * count.
    */
  def neighborhoodSizes(edges: DataFrame, rounds: Int,
                        p: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"HyperBall: rounds in [1, 8], got $rounds")
    // The node set rides the adjacency's self-loops.
    val e = prepareAdjacency(edges)
    var regs = Sketches.hllRegisters(
      e.filter(col("src") === col("dst")).select(col("src").as("node")),
      Seq("node"), col("node"), p)
    for (_ <- 1 to rounds)
      regs = e.join(broadcast(regs), col("dst") === col("node"))
        .select(col("src").as("node"), col("bucket"), col("max_rho"))
        .groupBy(col("node"), col("bucket"))
        .agg(max(col("max_rho")).cast("int").as("max_rho"))
    Sketches.hllEstimateCorrected(regs, Seq("node"), p)
      .withColumnRenamed("est_distinct", "est_reachable")
      .localCheckpoint(eager = true)
  }

  /** The adjacency [[neighborhoodSizes]] rides: the DISTINCT long
    * (src, dst) set plus a self-loop per node, hash-partitioned on `src`
    * (hash(src) clusters (src, dst), so the dedup adds no second
    * exchange).
    */
  private[graphs] def prepareAdjacency(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val nodes = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct()
    e0.unionByName(
        nodes.select(col("node").as("src"), col("node").as("dst")))
      .repartition(col("src"))
      .distinct()
  }
}
