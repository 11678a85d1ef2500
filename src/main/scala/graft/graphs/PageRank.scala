package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list — the graph-centrality
  * primitive a curation pipeline uses to weight documents/items by link
  * structure (the original web-scale use case; here gated on an item
  * co-occurrence graph).
  *
  * Determinism contract: ranks are SCALED LONGS (fixed-point, `scale` =
  * 1e12), every step pure integer arithmetic —
  *   contrib(u) = r(u) div outdeg(u)        (integer division)
  *   r'(v) = (15 · scale) div 100 + (85 · Σ_u contrib(u)) div 100
  * — so the sum is exact, commutative and order-independent under any
  * partitioning, and a SQL oracle replays it bit-for-bit with unrolled
  * CTEs (all values non-negative, so truncating `div` ≡ DuckDB's
  * flooring `//`). The float formulation would be partitioning-dependent
  * in the 15th digit; the integer one loses at most 1/scale per hop,
  * far below any ranking-relevant difference.
  *
  * Overflow: Σ ranks ≤ nodes · scale (mass only shrinks: damping takes
  * 15% per hop, dangling mass vanishes), so the worst single-node inflow
  * is the whole mass and `85 · Σ contribs` must stay under Long.Max —
  * i.e. nodes · scale ≲ Long.Max/100. The DEFAULT therefore derives the
  * scale from a count of the nodes: `min(1e12, Long.Max/100/n)`,
  * which equals the historical 1e12 for every graph under ~9.2·10⁴
  * nodes and degrades precision (never safety) as graphs grow. Below
  * the 1e6 precision floor (≳9.2·10¹⁰ nodes) auto REFUSES with the
  * sizing formula rather than silently ranking at garbage precision —
  * past that point the fixed-point formulation needs 128-bit
  * accumulation, not a smaller scale. An EXPLICIT scale must lie in
  * [1000, Long.Max/100] and costs no node count: the rank expression
  * checks each inflow against Long.Max/85 (an overflowing sum reads as
  * Long.Max), so a scale too large for the graph fails the action with
  * the sizing formula in the message instead of an ANSI overflow.
  *
  * Scale posture: the distinct edge set is hash-partitioned on `dst`
  * ONCE with each source's out-degree folded in as a contribution-ready
  * adjacency (src, dst, deg), and persisted: every hop and the node set
  * read it, and exchange reuse would share only the shuffle beneath the
  * distinct and the degree join, re-running both per read (about 2×
  * slower at 4.8M edges, 3 hops). A hop's source ranks are
  * the previous hop's inflow table read through the rank formula
  * (hop 1 starts every node at `scale`, so it needs none): that
  * node-sized table broadcasts into a join that streams the adjacency
  * unmoved, so the groupBy(dst) inflow sum rides it in place — ZERO
  * per-hop exchanges and ONE broadcast per hop, the last one into the
  * final `nodes` LEFT JOIN that turns inflow into ranks. All hops are
  * one plan, materialized once at the end. The broadcasts are
  * explicit, not left to AQE's size estimates, so the node table must
  * fit an executor. The iteration count is FIXED (the operator is a
  * k-hop centrality score, not a fixpoint — near-dup/recommender use
  * sites want a handful of hops), so the plan stays small.
  * Nodes with no outgoing edges contribute nothing (standard dangling-
  * mass drop; total mass declines, rankings unaffected for comparison
  * use).
  */
object PageRank {

  /** `edges`: integral `src`, `dst` columns, directed (symmetrize
    * upstream for undirected graphs); duplicate edges are collapsed.
    * Returns (node, rank_fp) for every node that appears as a source or
    * destination, rank_fp the fixed-point long rank after `iterations`
    * damped hops from a uniform `scale` start. `scale = 0` (the default)
    * means AUTO: derived overflow-safe from the node count (see the
    * object doc); pass an explicit value when a downstream consumer —
    * such as a replaying oracle — pins the fixed-point base.
    * The returned DataFrame is
    * MATERIALIZED (checkpointed) before returning — an iterative operator
    * is always consumed, so the hop plan runs once here, the persisted
    * adjacency is released, and the caller gets a lineage-free table.
    * Auto scale adds one action, the node count.
    *
    * Fault posture: by default the result is a `localCheckpoint` —
    * blocks live only on executors, so losing an executor mid-run kills
    * the job (acceptable for a bounded handful of hops re-run from
    * scratch). Pass `reliable = true` to write the result to the
    * cluster checkpoint dir instead (requires
    * `spark.sparkContext.setCheckpointDir`), trading one write for
    * executor-loss recovery — the same knob, same reasoning, as
    * [[ConnectedComponents.run]].
    */
  def run(edges: DataFrame, iterations: Int = 3,
          scale: Long = 0L, reliable: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"PageRank: iterations in [1, 20], got $iterations")
    require(scale == 0L || (scale >= 1000L && scale <= Long.MaxValue / 100L),
      s"PageRank: scale in [1000, Long.Max/100] (or 0 for auto), got $scale")
    if (reliable) require(
      edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs spark.sparkContext.setCheckpointDir(...) first")
    val adj = prepareAdjacency(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    // Safe-scale bound: worst-case single-node inflow is the entire
    // starting mass n·s, and the hot expression is `85 * inflow` — keep
    // n·s ≤ Long.Max/100 (margin over 85). The auto default counts the
    // nodes (filling the adjacency cache the hops then read) and takes
    // the largest safe scale capped at the historical 1e12, so small
    // graphs are bit-identical to the old fixed default.
    val s = if (scale != 0L) scale else {
      val n = nodes.count()
      val safeCap = Long.MaxValue / 100L / math.max(n, 1L)
      require(safeCap >= 1000000L,
        s"PageRank: scale 1000000 overflows at $n nodes — need " +
          s"nodes*scale <= Long.Max/100; pass scale <= $safeCap")
      math.min(1000000000000L, safeCap)
    }
    // r(u) from the previous hop's inflow; a node with no inflow row
    // (no in-edges) sits at the base rank. An inflow past Long.Max/85
    // would overflow `85 * inflow`, and one past Long.Max overflows the
    // sum itself (`try_sum` yields null, read as Long.Max): both raise
    // with the sizing formula (only an explicit scale can get there).
    val in = "coalesce(__in, CAST(0 AS BIGINT))"
    val rank = s"(CASE WHEN $in <= ${Long.MaxValue / 85L}L " +
      s"THEN ${15L * s / 100L}L + (85 * $in) div 100 " +
      s"ELSE raise_error('PageRank: scale $s overflows — need " +
      "nodes*scale <= Long.Max/100; pass scale <= Long.Max/100/nodes') END)"
    val inflowSum = expr(s"coalesce(try_sum(__c), ${Long.MaxValue}L)").as("__in")
    var inflow = adj
      .select(col("dst").as("node"), expr(s"${s}L div __deg").as("__c"))
      .groupBy(col("node")).agg(inflowSum)
    for (_ <- 2 to iterations) {
      val prev = broadcast(inflow.withColumnRenamed("node", "src"))
      inflow = adj.join(prev, Seq("src"), "left")
        .select(col("dst").as("node"), expr(s"$rank div __deg").as("__c"))
        .groupBy(col("node")).agg(inflowSum)
    }
    // LEFT join keeps sink-only / source-only nodes alive at the base
    // rank (they receive no mass but stay rankable).
    val ranks = nodes.join(broadcast(inflow), Seq("node"), "left")
      .select(col("node"), expr(rank).as("rank_fp"))
    val out = if (reliable) ranks.checkpoint(eager = true)
              else ranks.localCheckpoint(eager = true)
    adj.unpersist(blocking = false)
    out
  }

  /** The contribution-ready adjacency [[run]] consumes: the DISTINCT
    * long (src, dst) set hash-partitioned on `dst` with each source's
    * out-degree folded in as `__deg` (a broadcast-joined node-sized
    * side table — a window over src would need a src layout).
    */
  private[graphs] def prepareAdjacency(edges: DataFrame): DataFrame = {
    val dedup = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("dst"))
      .distinct()
    val degs = dedup.groupBy(col("src").as("__dn"))
      .agg(count(lit(1)).as("__deg"))
    dedup.join(broadcast(degs), col("src") === col("__dn"))
      .select(col("src"), col("dst"), col("__deg"))
  }
}
