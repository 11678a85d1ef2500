package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-bucket candidate-pair generation with a hot-bucket guard.
  *
  * LSH candidate stages (MinHash bands, sign-LSH buckets, IVF cells) all
  * end the same way: a self-equi-join on the bucket key emitting every
  * unordered member pair. A bucket of m members yields m(m-1)/2 pairs —
  * and because an equi-join routes one key to ONE task, a degenerate
  * bucket (mass near-identical content) concentrates quadratic work on a
  * single reducer. Re-hashing with extra planes/bands cannot fix the
  * worst case: identical members re-hash into the same bucket forever.
  *
  * The guard is a triangle decomposition instead: members of a bucket
  * larger than `cap` are salted into g = ceil(m/cap) groups, and the
  * bucket's pairs are produced across g(g+1)/2 independent join cells
  * (p, q), p <= q — each cell joins ~cap × cap members on its own
  * reducer. Total work is unchanged (the pair set IS quadratic in m; that
  * is the operator's output), but per-task input is bounded by ~2·cap
  * rows, so the job scales out instead of melting one executor. Buckets
  * within `cap` take g = 1 and degenerate to the plain self-join cell
  * (0, 0).
  *
  * Pair coverage: a member with salt s plays the row role in cells
  * (s, q) for q in [s, g-1] and the column role in cells (p, s) for p in
  * [0, s]. An unordered pair with salts (s_i, s_j), s_i < s_j, meets
  * exactly once — in cell (s_i, s_j), row role i, column role j; equal
  * salts meet in the diagonal cell (s, s), deduplicated by id order.
  *
  * The guard is not free: the size agg, the salting join and the salted
  * persist are extra query stages on every call, whether or not any
  * bucket is hot. The LSH candidate operators therefore take it opt-in
  * (`cap = Some(n)`: `TextDedup.incrementalNearDupPairs`,
  * `Similarity.semDedup`) or not at all (`TextDedup.nearDupPairs`) and
  * run the plain band equi-join by default; the posting-list pair counts,
  * whose buckets are shingles with Zipfian document frequency, always
  * run through it.
  */
object CandidatePairs {

  /** Salted (row-role, col-role) cell expansion, shared with the spec so
    * the per-cell load bound is directly assertable. Input must have
    * columns (id, bk) plus any payload columns (e.g. a per-member weight),
    * which ride along unchanged; outputs have (bk, id, payload..., __p,
    * __q) with one row per (member, cell). The salted table is persisted —
    * both roles and the size lookup scan it, and the upstream bucketing
    * (sign projections, band hashing) is the expensive part of the stage.
    */
  private[graft] def roleSides(bucketed: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val sizes = bucketed.groupBy(col("bk")).agg(count(lit(1)).as("__m"))
    // The size lookup is an equi-join on the same key the candidate join
    // uses — co-partitioned, map-side-combinable agg, no new skew.
    val salted = bucketed.join(sizes, "bk")
      .withColumn("__g", ceil(col("__m") / cap).cast("int"))
      .withColumn("__s", pmod(xxhash64(col("id")), col("__g")).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val payload = bucketed.columns.filterNot(Set("bk", "id")).map(col).toSeq
    val rowRole = salted.select(Seq(col("bk"), col("id")) ++ payload ++ Seq(
      col("__s").as("__p"),
      explode(sequence(col("__s"), col("__g") - 1)).as("__q")): _*)
    val colRole = salted.select(Seq(col("bk"), col("id")) ++ payload ++ Seq(
      explode(sequence(lit(0), col("__s"))).as("__p"),
      col("__s").as("__q")): _*)
    (rowRole, colRole)
  }

  /** Distinct unordered in-bucket pairs (id_a < id_b) of an (id, bk)
    * table. Identical to the plain `a.bk = b.bk && a.id < b.id` self-join
    * (property-tested in CandidatePairsSpec), with per-task input bounded
    * by ~2·`cap` bucket members regardless of bucket skew.
    */
  def inBucketPairs(bucketed: DataFrame, cap: Int = 2048): DataFrame =
    rawPairs(bucketed.select(col("id"), col("bk")), cap).distinct()

  /** Payload-carrying in-bucket MEETINGS: one row per (unordered pair,
    * shared bucket), with every non-(`id`, `bk`) input column passed
    * through twice — `p` from one member, `__pb` (prefix-stripped,
    * b-suffixed) from the other. The id canonicalization (least/greatest)
    * does NOT swap payload sides, so callers must use the payload
    * SYMMETRICALLY (commutative products, min/max bounds — the
    * [[inBucketPairDots]] contract). This is the hook for per-meeting
    * candidate filters (PPJoin positional bounds and kin): filter the
    * meetings, then `.distinct()` the surviving (id_a, id_b). Shares the
    * hot-bucket salting of every other flavor.
    */
  def inBucketPairMeetings(bucketed: DataFrame, cap: Int = 2048): DataFrame =
    rawPairs(bucketed, cap)

  /** In-bucket pairs WITH bucket multiplicity: (id_a, id_b, n_shared)
    * where n_shared = number of buckets both members share. Because an
    * unordered pair meets exactly once per bucket (see the cell-coverage
    * argument above), the per-pair row count IS the co-occurrence count —
    * which makes this the candidate+intersection stage of posting-list
    * set similarity: with bk = set-element hash, n_shared = |A ∩ B| and
    * Jaccard follows from the per-member set sizes alone, no array
    * materialization on the pair. The count agg is map-side combinable,
    * so the quadratic pair stream collapses before the final shuffle.
    */
  def inBucketPairCounts(bucketed: DataFrame, cap: Int = 2048): DataFrame =
    rawPairs(bucketed.select(col("id"), col("bk")), cap)
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))

  /** Weighted sibling of [[inBucketPairCounts]] — the posting-list DOT
    * PRODUCT stage of sparse-vector similarity (TF-IDF cosine, BM25-style
    * scoring between documents): input rows are (id, bk, __w) with bk =
    * term and __w = the member's fixed-point weight on that term; output
    * is (id_a, id_b, n_shared, dot) with dot = Σ w_a·w_b over shared
    * buckets. The per-(pair, bucket) product is computed BEFORE the pair
    * is canonically ordered — multiplication is commutative, so weight
    * alignment survives the least/greatest swap — and the sum agg is
    * map-side combinable, so the quadratic pair stream collapses before
    * the final shuffle exactly as in the unweighted count. Weights must
    * be pre-quantized longs (the cross-engine fixed-point contract: a
    * long sum is exact and partition-order-independent where a double
    * sum is neither). Shares [[rawPairs]]' cell-coverage logic — the
    * weighted and unweighted paths cannot diverge.
    */
  def inBucketPairDots(bucketed: DataFrame, cap: Int = 2048): DataFrame =
    rawPairs(bucketed.select(col("id"), col("bk"), col("__w")), cap)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("__w") * col("__wb")).as("dot"))

  /** Bipartite in-bucket pairs — the incremental-ingest / query-vs-corpus
    * shape: every (big-side member, small-side member) pair sharing a
    * bucket, with the BIG side salted so a hot bucket's pairs spread
    * across g = ceil(m/cap) independent join cells instead of one
    * reducer. Each big row keeps its single salt cell; each small row is
    * replicated to all g of its bucket's cells — a (big, small) pair
    * therefore meets exactly ONCE (in the big member's cell), per-task
    * big-side input is bounded by ~cap members, and coverage is exact —
    * no recall loss, unlike occupancy-capped bucket dropping. Small-side
    * replication cost is |small rows in the bucket| × g, bounded by
    * contract (the small side is a nightly batch / query set). Buckets
    * with no big-side member yield no pairs and are dropped by the size
    * join. Output: one row per (id_big, id_small, shared bucket) —
    * callers wanting distinct pairs apply their own `.distinct()`.
    */
  def crossBucketPairs(big: DataFrame, small: DataFrame,
                       cap: Int = 2048): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // Only buckets with a member on BOTH sides can emit a pair, so the
    // big side is pre-restricted to the small side's bucket keys (a
    // broadcast-friendly semi join — the small side is a batch/query
    // set by contract). The bucket-count agg and the salting then run
    // over the relevant slice, not the whole corpus band table — this
    // is what keeps the guarded join at the plain asymmetric join's
    // cost when no bucket is hot.
    val bigR = big.join(broadcast(small.select(col("bk"))),
      Seq("bk"), "left_semi")
    // sizes feeds BOTH the big-side salting and the small-side cell
    // expansion — persisted so the count agg runs once even if AQE
    // replans one branch, and BROADCAST into both joins: it is bounded
    // by the small side's bucket cardinality (the same contract that
    // makes the semi build broadcastable), so the big side reaches the
    // final cell join without an intermediate shuffle.
    val sizes = bigR.groupBy(col("bk")).agg(count(lit(1)).as("__m"))
      .withColumn("__g", ceil(col("__m") / cap).cast("int"))
      .select(col("bk"), col("__g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val saltedBig = bigR.join(broadcast(sizes), "bk")
      .select(col("bk"),
        pmod(xxhash64(col("id")), col("__g")).cast("int").as("__s"),
        col("id").as("id_big"))
    val cellsSmall = small.join(broadcast(sizes), "bk")
      .select(col("bk"), explode(sequence(lit(0), col("__g") - 1)).as("__s"),
        col("id").as("id_small"))
    saltedBig.join(cellsSmall, Seq("bk", "__s"))
      .select(col("id_big"), col("id_small"))
  }

  /** One row per (unordered pair, shared bucket) — exactly one cell emits
    * a given pair for a given bucket. Payload columns on the input ride
    * through as (`p`, `__pb`) for the pair's two members in UNSPECIFIED
    * member order (the canonical id_a/id_b ordering is applied to ids
    * only) — callers must combine payloads commutatively (products,
    * sums), which is what every weighted consumer needs.
    */
  private def rawPairs(bucketed: DataFrame, cap: Int): DataFrame = {
    val payload = bucketed.columns.filterNot(Set("bk", "id")).toSeq
    val (a, b) = roleSides(bucketed, cap)
    val bRen = payload.foldLeft(b.withColumnRenamed("id", "__idb")) {
      (df, p) => df.withColumnRenamed(p, s"__${p.stripPrefix("__")}b")
    }
    a.join(bRen, Seq("bk", "__p", "__q"))
      .filter(col("__p") =!= col("__q") || col("id") < col("__idb"))
      .select(Seq(least(col("id"), col("__idb")).as("id_a"),
              greatest(col("id"), col("__idb")).as("id_b")) ++
        payload.flatMap(p =>
          Seq(col(p), col(s"__${p.stripPrefix("__")}b"))): _*)
  }
}
