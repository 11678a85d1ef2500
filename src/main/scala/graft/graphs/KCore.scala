package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling (Seidman 1983; the distributed formulation
  * of Montresor et al. 2013): repeatedly delete nodes whose degree within
  * the surviving subgraph is below k. The k-core is the standard "dense
  * enough to matter" filter before community/influence analysis — the
  * graph-side sibling of the document-quality bar.
  *
  * Fixed rounds, not convergence detection, the [[LabelProp]] contract:
  * peeling is MONOTONE (active sets only shrink), so once a round removes
  * nothing every later round is identity — a `rounds` high enough for the
  * graph at hand computes the exact k-core, and extra rounds cost one
  * no-op plan each rather than a driver-side convergence probe per round.
  *
  * Scale posture: the adjacency is deduped and hash-partitioned on `dst`
  * ONCE and persisted (the [[LabelProp]] layout). Each round broadcasts
  * the (shrinking) node-sized active set into two LEFT SEMI joins that
  * stream that layout unmoved, so the groupBy(dst) degree count rides
  * it in place: ZERO per-round exchanges. The broadcast is explicit,
  * not left to AQE's size estimates of checkpointed rounds, so the node
  * table must fit an executor.
  */
object KCore {

  /** `edges`: integral `src`/`dst`, directed as stored — symmetrize
    * upstream for undirected semantics (degree counts in-neighbors);
    * duplicates collapse. Returns `(node, core_deg)` for nodes surviving
    * `rounds` peels, where `core_deg` is the in-degree within the
    * previous round's survivor set (at fixpoint: within the k-core
    * itself). Materialized before returning, so the persisted adjacency
    * is released rather than leaked into the caller's session.
    */
  def run(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"KCore: k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 20,
      s"KCore: rounds in [1, 20], got $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val adj = LabelProp.prepareAdjacency(edges).persist(lvl)
    adj.count()
    // Round 1: active_0 = all nodes, so the degree filter runs over the
    // raw adjacency (no-in-edge nodes have degree 0 and drop immediately).
    var active = adj.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
    for (_ <- 2 to rounds) {
      val actSide = broadcast(active.select(col("node")))
      val next = adj
        .join(actSide.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(actSide.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k)
      active = next.localCheckpoint(eager = false)
    }
    val out = active.select(col("node"), col("core_deg"))
    out.count()
    adj.unpersist(blocking = false)
    out
  }
}
