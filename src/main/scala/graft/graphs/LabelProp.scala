package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round synchronous label propagation (Raghavan et al. 2007) —
  * community detection by iterated plurality vote: every node starts
  * labeled with its own id, and each round simultaneously adopts the
  * most frequent label among its in-neighbors (ties broken by the
  * SMALLEST label, making every round a pure function of the previous
  * one — the asynchronous/random variants of the paper are deliberately
  * traded away for cross-engine determinism, the same contract as
  * [[PageRank]]'s fixed-point arithmetic).
  *
  * Fixed rounds, not convergence-detection: LPA on dense graphs can
  * oscillate under synchronous update, and a bounded k-round vote is the
  * honest distributed semantics (it also keeps the driver loop bounded
  * and every round's plan identical — the [[PageRank]] argument).
  *
  * Scale posture: the adjacency is deduped and hash-partitioned on `dst`
  * ONCE and persisted. Each round broadcasts the node-sized label table
  * into a join that streams that layout unmoved, so BOTH vote
  * aggregations ride it in place (hash(dst) clusters (dst, lab) and
  * (dst) alike): ZERO per-round exchanges. The broadcast is explicit,
  * not left to AQE's size estimates of checkpointed rounds, so the node
  * table must fit an executor. Lazy local
  * checkpoints collapse the loop into one job at the final action,
  * truncating lineage per round.
  */
object LabelProp {

  /** `edges`: integral `src`, `dst`, directed (symmetrize upstream for
    * undirected semantics); duplicates collapse. Returns (node, label)
    * after `rounds` synchronous votes for every node appearing as source
    * or destination; a node with no in-edges keeps its previous label.
    * Materialized before returning, so the persisted adjacency and
    * no-in-edge tables are released rather than leaked into the caller's
    * session.
    */
  def run(edges: DataFrame, rounds: Int = 4,
          reliable: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"LabelProp: rounds in [1, 20], got $rounds")
    if (reliable) require(
      edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs spark.sparkContext.setCheckpointDir(...) first")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val adj = prepareAdjacency(edges).persist(lvl)
    adj.count()
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    // A node with no in-edges never receives a vote, so its label is its
    // own id FOREVER — computed once, unioned into every round's result
    // instead of a per-round left join (one stage fewer per round; empty
    // on symmetric graphs).
    val noIn = nodes
      .join(adj.select(col("dst").as("node")).distinct(), Seq("node"),
        "left_anti")
      .select(col("node"), col("node").as("lab"))
      .persist(lvl)
    noIn.count()
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (_ <- 1 to rounds) {
      // Plurality vote: count each label among in-neighbors, then argmax
      // with min-label tiebreak — max of (count, -label) structs, the
      // kmeansAssign idiom (struct comparison is lexicographic). The
      // vote covers exactly the nodes with >= 1 in-edge; the constant
      // no-in-edge rows complete the node set.
      val labelSide = broadcast(labels)
      val voted = labelSide.join(adj, labelSide("node") === adj("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("__c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("__c").as("c"), (-col("lab")).as("nl"))).as("__b"))
        .select(col("dst").as("node"), (-col("__b.nl")).as("lab"))
      val next = voted.unionByName(noIn)
      labels = if (reliable) next.checkpoint(eager = false)
               else next.localCheckpoint(eager = false)
    }
    val out = labels.select(col("node"), col("lab").as("label"))
    out.count()
    adj.unpersist(blocking = false)
    noIn.unpersist(blocking = false)
    out
  }

  /** The adjacency the [[LabelProp]] and [[KCore]] rounds ride: the
    * DISTINCT long (src, dst) edge set hash-partitioned on `dst`
    * (hash(dst) clusters (src, dst), so the dedup adds no second
    * exchange).
    */
  private[graphs] def prepareAdjacency(edges: DataFrame): DataFrame =
    edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("dst"))
      .distinct()
}
