package graft.graphs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected graph — the local-clustering
  * primitive (community detection, link-spam scoring for document
  * graphs; the graph-side sibling of [[PageRank]] over the same item
  * co-occurrence edges).
  *
  * Algorithm: degree-ordered edge intersection (the "compact-forward"
  * variant of the open-literature MapReduce formulation — Suri &
  * Vassilvitskii's "Counting Triangles and the Curse of the Last
  * Reducer"; Latapy 2008 for compact-forward). Orient every undirected
  * edge from its lower-rank to its higher-rank endpoint, rank = (degree,
  * node) lexicographic; triangle {a, b, c} with ranks a < b < c is found
  * EXACTLY ONCE, as a common out-neighbor c of its lowest edge (a, b) —
  * no multiple counting, no direction enumeration.
  *
  * Why degree orientation is the 100 TB posture: out-degree under rank
  * orientation is bounded by O(√E) for ANY degree distribution (a node
  * of degree d only points at neighbors of rank ≥ its own, and at most
  * √E nodes have degree ≥ √E) — so the Σ outdeg² intersection work stays
  * polynomial even when a celebrity node has a million neighbors, the
  * exact skew that kills the naive three-way self-join. All joins are
  * equi-joins (spec asserts no CartesianProduct).
  *
  * Plan shape: symmetrize row-locally, then `repartition(src)` so the
  * dedup `distinct` RIDES the layout (hash clustering on `src` satisfies
  * the distinct's clustered distribution — no second exchange) and the
  * src-degree is a window count in place;
  * one more exchange on `dst` window-counts the other endpoint's degree
  * (symmetric graph: in-degree ≡ degree). Orientation is then a
  * row-local FILTER — each undirected edge survives exactly once, no
  * dedup join, no degree-table joins. The oriented adjacency and the
  * neighbor lists are persisted for their multiple consumers and
  * released after the (node-sized) result materializes.
  */
object Triangles {

  /** Per-node triangle participation counts from a directed/duplicated
    * edge list (`src`, `dst` integral; self-loops dropped, duplicates
    * and reverse duplicates collapse into one undirected edge). Only
    * nodes in ≥ 1 triangle appear — union with the node set for the
    * zero-filled variant.
    */
  def nodeTriangles(edges: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (adj, nbrs, out) = trianglesPlan(edges)
    adj.persist(lvl)
    nbrs.persist(lvl)
    // The oriented adjacency feeds three consumers (nbrs + both join
    // sides) and nbrs two — unpersisted, the whole edge build re-runs
    // per consumer (measured 6× at sf0.1: 64 s vs 12 s). The result is
    // one small row per triangle-bearing node, so materialize it through
    // a localCheckpoint and release the caches before returning.
    val result = out.localCheckpoint(eager = false)
    result.count()
    adj.unpersist(blocking = false)
    nbrs.unpersist(blocking = false)
    result
  }

  /** The lazy plan triple (oriented adjacency, out-neighbor lists,
    * per-node counts) — split out so the spec can assert plan contracts
    * on the un-checkpointed composition.
    */
  private[graphs] def trianglesPlan(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val adj = prepareOriented(edges)
    // Edge-intersection ("compact-forward") enumeration: for the
    // oriented edge (a, b), every common out-neighbor c ∈ N⁺(a) ∩ N⁺(b)
    // closes the triangle with rank(a) < rank(b) < rank(c) — each
    // triangle found exactly once, from its lowest-rank edge. Attaching
    // the two neighbor ARRAYS costs Σ outdeg² longs through the shuffle
    // as packed payloads, but — unlike the wedge-join formulation, which
    // materializes the same Σ outdeg² quantity as individual JOIN ROWS
    // probing the edge table — only true triangles ever become rows
    // (sf0.1 co-occurrence graph, 83 M element ops: 1.5 s of array
    // intersects vs 64 s of 83 M-row wedge join).
    val nbrs = adj.groupBy(col("a").as("node"))
      .agg(collect_list(col("b")).as("nbr"))
    val tri = adj
      .join(nbrs.select(col("node").as("__an"), col("nbr").as("na")),
        col("a") === col("__an"))
      .join(nbrs.select(col("node").as("__bn"), col("nbr").as("nb")),
        col("b") === col("__bn"))
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    val out = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    (adj, nbrs, out)
  }

  /** Top-k triangle-heavy nodes, unique-tiebroken — TakeOrdered, never a
    * global sort.
    */
  def topTriangleNodes(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topTriangleNodes: k >= 1, got $k")
    nodeTriangles(edges)
      .orderBy(col("n_triangles").desc, col("node").asc)
      .limit(k)
  }

  /** The degree-oriented adjacency [[trianglesPlan]] intersects: each
    * undirected edge once, low-rank → high-rank as (a, b). Symmetrize
    * row-locally (explode of the two orientations — NOT a union, which
    * would run the upstream edge build once per branch), then dedup +
    * both endpoint degrees in exactly two exchanges, zero joins.
    */
  private[graphs] def prepareOriented(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val dir = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .distinct()
      .withColumn("du", count(lit(1)).over(Window.partitionBy(col("src"))))
      .repartition(col("dst"))
      .withColumn("dv", count(lit(1)).over(Window.partitionBy(col("dst"))))
    dir
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"))
  }
}
