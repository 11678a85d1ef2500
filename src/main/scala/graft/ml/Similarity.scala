package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over embedding columns (`array<float>`): exact cosine
  * top-k (the correctness baseline) and sign-LSH bucketed variants (the
  * scale path for corpus-sized candidate sets).
  *
  * Numeric contract: dot products and norms are folded left-to-right in
  * DOUBLE over exactly-converted floats, so the scores are bit-identical
  * across engines/partitionings (the DuckDB oracle reproduces them with
  * `list_reduce` in the same order).
  *
  * Scale posture:
  *  - `annTopK` broadcasts the (small) query set — a BroadcastNestedLoopJoin
  *    over the corpus, i.e. one corpus scan, no shuffle of the corpus, no
  *    CartesianProduct (plan-asserted in SimilaritySpec);
  *  - top-k extraction is two-stage (salted partial top-k, then final) so a
  *    handful of query keys never funnels the whole corpus through a
  *    handful of reducers;
  *  - `annTopKLsh`/`cosineDupPairsBucketed` bucket by random-hyperplane
  *    sign signatures — candidate generation is an equi-join on the bucket
  *    key, never all-pairs.
  */
object Similarity {

  /** Left-to-right double fold of Σ f(a_i, b_i) — deterministic. */
  private def foldSum(products: Column): Column =
    aggregate(products, lit(0.0), (acc, v) => acc + v)

  /** Dot product of two float-array columns in double precision. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** L2 norm in double precision. */
  def l2Norm(a: Column): Column =
    sqrt(foldSum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Cosine similarity, bit-stable (see object doc). Pure-HOF version —
    * works on any numeric arrays with no session setup; the operators
    * below use the native [[graft.functions.CosineSimilarity]] expression
    * (identical values, fused codegen'd loop) via [[nativeCosine]].
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Register-and-use the native cosine expression for float-array
    * columns — bit-identical to [[cosine]] (proved in SimilaritySpec),
    * ~an order of magnitude faster on the pairwise verify hot path.
    */
  private def nativeCosine(spark: org.apache.spark.sql.SparkSession)(
      a: Column, b: Column): Column = {
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.CosineSimilarity.cosine(a, b)
  }

  /** Deterministic two-stage top-k per key: a salted partial top-k bounds
    * the rows any single reducer sees, then the final per-key top-k runs on
    * ≤ saltBuckets·k rows per key. Result is identical to a single global
    * window (ordering must end in a unique tiebreaker).
    */
  def topKPerKey(df: DataFrame, key: Column, ordering: Seq[Column], k: Int,
                 saltCol: Column, saltBuckets: Int = 64): DataFrame = {
    val partial = Window.partitionBy(key, pmod(saltCol, lit(saltBuckets)))
      .orderBy(ordering: _*)
    val fin = Window.partitionBy(key).orderBy(ordering: _*)
    df.withColumn("__prank", row_number().over(partial))
      .filter(col("__prank") <= k).drop("__prank")
      .withColumn("rank", row_number().over(fin))
      .filter(col("rank") <= k)
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine (tiebreak: neighbor id asc). The query set must be
    * broadcast-small; the corpus streams through once.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(embCol).as("__q")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__c"))
      .join(q)
      .select(col("query_id"), col("neighbor_id"),
        nativeCosine(corpus.sparkSession)(col("__q"), col("__c")).as("cosine"))
    topKPerKey(scored, col("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Hard-negative mining for contrastive training (the in-batch-negatives
    * upgrade every embedding-model recipe ships): for each ANCHOR vector,
    * the k most-similar corpus vectors with a DIFFERENT label — maximally
    * confusing negatives, which train better than random ones.
    *
    * Same contract as [[annTopK]]: anchors are a training BATCH
    * (broadcast-small — that is the real mining shape, a batch against the
    * corpus, never corpus×corpus); the corpus streams through once;
    * ranking is exact bit-stable cosine with (cosine desc, id asc) order
    * and the salted two-stage top-k. Self-pairs are excluded by id and
    * same-label pairs by the label predicate, both in the broadcast join
    * condition — pruned pairs never reach the dot product.
    *
    * Output: (anchor_id, negative_id, rank, cosine).
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(embCol).as("__q"), col(labelCol).as("__ql")))
    val scored = corpus
      .select(col(idCol).as("negative_id"), col(embCol).as("__c"),
        col(labelCol).as("__cl"))
      .join(a, col("anchor_id") =!= col("negative_id") &&
        col("__ql") =!= col("__cl"))
      .select(col("anchor_id"), col("negative_id"),
        nativeCosine(corpus.sparkSession)(col("__q"), col("__c")).as("cosine"))
    topKPerKey(scored, col("anchor_id"),
      Seq(col("cosine").desc, col("negative_id").asc), k, col("negative_id"))
      .select(col("anchor_id"), col("negative_id"), col("rank"), col("cosine"))
  }

  /** Exact population covariance matrix of the embedding dimensions — the
    * distributed half of PCA/whitening (the d×d eigensolve that follows is
    * driver-side linear algebra over this output, which is dims²-sized,
    * not data-sized):
    *   cov(i,j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / n²   (upper triangle i ≤ j).
    *
    * Determinism: components quantize ONCE to 2^qBits fixed point, pair
    * products are exact longs summed in DECIMAL(38,0), and the final
    * divisions (by n² and by the 2^2q scale) are IEEE ops both engines
    * compute identically from identical integers.
    *
    * Scale posture: ONE corpus scan — every vector emits its d(d+1)/2
    * upper-triangle products PLUS d marker rows (j = −1) carrying the
    * per-dimension sums, so pair sums and dimension sums come out of the
    * same map-side-combinable aggregation (a second aggregation branch
    * would re-scan the corpus; Spark does not dedupe repeated subplans).
    * The aggregate is dims²-sized and persisted for the call (it feeds
    * the pair rows and both marginal joins; per-call lifecycle, the
    * session owner's `clearCache()` releases it); marginals broadcast.
    *
    * Output: (dim_i, dim_j, n, cov) with 1-based dims, i ≤ j, cov in
    * original (unquantized) units².
    */
  def covarianceMatrix(vectors: DataFrame, embCol: String = "embedding",
                       qBits: Int = 20): DataFrame = {
    require(qBits >= 1 && qBits <= 25,
      s"covarianceMatrix: qBits in [1, 25], got $qBits")
    val dec = "decimal(38,0)"
    val scale = math.pow(2, qBits)
    val q = vectors
      .select(transform(col(embCol),
        x => floor(x.cast("double") * lit(scale)).cast("long")).as("__q"))
      .select(col("__q"), size(col("__q")).as("__d"))
    val pairRows = q.select(explode(concat(
        flatten(transform(sequence(lit(1), col("__d")), i =>
          transform(sequence(i, col("__d")), j =>
            struct(i.as("i"), j.as("j"),
              (element_at(col("__q"), i) * element_at(col("__q"), j))
                .as("v"))))),
        transform(sequence(lit(1), col("__d")), i =>
          struct(i.as("i"), lit(-1).as("j"),
            element_at(col("__q"), i).as("v"))))).as("__p"))
      .select(col("__p.i").as("__i"), col("__p.j").as("__j"),
        col("__p.v").as("__v"))
    val agg = pairRows.groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__v").cast(dec)).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dims = agg.filter(col("__j") === -1)
      .select(col("__i").as("__dk"), col("__s").as("__dsum"))
    agg.filter(col("__j") =!= -1)
      .join(broadcast(dims.withColumnRenamed("__dk", "__i")
        .withColumnRenamed("__dsum", "__si")), Seq("__i"))
      .join(broadcast(dims.withColumnRenamed("__dk", "__j")
        .withColumnRenamed("__dsum", "__sj")), Seq("__j"))
      .select(col("__i").cast("long").as("dim_i"),
        col("__j").cast("long").as("dim_j"), col("__cnt").as("n"),
        ((col("__cnt").cast(dec) * col("__s") - col("__si") * col("__sj"))
          .cast("double")
          / (col("__cnt").cast(dec) * col("__cnt")).cast("double")
          / lit(math.pow(2, 2 * qBits))).as("cov"))
  }

  /** `vectors` with every row's `embCol` checked inside the plan: a
    * vector whose length is not `dims` (or a null one) fails the action
    * with `op` and `dims` in the message. Unchecked, a mismatch would
    * null-pad `zip_with` against the literal plane arrays or make a
    * native scorer yield NULL, silently misplacing or dropping that
    * vector.
    */
  private def checkDims(vectors: DataFrame, embCol: String, dims: Int,
                        op: String): DataFrame = {
    val n = size(col(embCol))
    vectors.withColumn(embCol, when(n === dims, col(embCol)).otherwise(
      raise_error(concat(lit(s"$op: dims=$dims but a row's $embCol has "),
        coalesce(n.cast("string"), lit("null")), lit(" elements")))))
  }

  /** Sign-LSH bucket id for hyperplane table `t`: `planes` bits, bit p =
    * sign of <v, hp_{t,p}>. Hyperplanes are driver-precomputed literal
    * arrays ([[oracleHyperplane]]) — hash-derived values inside HOF
    * lambdas would re-evaluate per row per element on the interpreted
    * evaluator.
    *
    * This HOF form is the readable reference implementation; the hot
    * paths use the native [[graft.functions.SignLshBuckets]] expression
    * (bit-identical buckets, proved in SignLshBucketsSpec, fused codegen
    * loop instead of tables × planes interpreted folds per row).
    */
  def signBucket(v: Column, planes: Int, dims: Int, table: Int = 0): Column =
    (0 until planes).map { p =>
      val hps = array((0 until dims).map(d => lit(oracleHyperplane(table, p, d))): _*)
      val proj = foldSum(zip_with(v, hps, (x, h) => x.cast("double") * h))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (idAlias [, embAlias], bk struct<t,b>) rows via the native
    * expression — one fused map-stage pass computing every table's
    * bucket, then posexplode into per-table rows.
    */
  private def nativeBuckets(vectors: DataFrame, planes: Int, tables: Int,
                            dims: Int, idCol: String, embCol: String,
                            idAlias: String, embAlias: Option[String]): DataFrame = {
    graft.functions.SignLshBuckets.register(vectors.sparkSession)
    val carried = Seq(col(idCol).as(idAlias)) ++ embAlias.map(a => col(embCol).as(a))
    vectors
      .select(carried :+ posexplode(graft.functions.SignLshBuckets.buckets(
        col(embCol), tables, planes, dims)): _*)
      .select(Seq(col(idAlias)) ++ embAlias.map(col(_)) :+
        struct(col("pos").as("t"), col("col").as("b")).as("bk"): _*)
  }

  /** Approximate ANN: candidates share at least one of `tables` sign-LSH
    * buckets (independent hyperplane sets), then exact cosine ranks them.
    * Recall < 1 by construction — this is the 100 TB path where the
    * broadcast-queries exact scan is too slow; `annTopK` is the oracle.
    */
  def annTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
                 planes: Int = 12, tables: Int = 4, dims: Int = 64,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame, op: String, id: String, emb: String) =
      nativeBuckets(checkDims(df, embCol, dims, op), planes, tables, dims,
        idCol, embCol, id, Some(emb))
    val q = bucketed(queries, "annTopKLsh queries", "query_id", "__q")
    val c = bucketed(corpus, "annTopKLsh corpus", "neighbor_id", "__c")
    val cand = q.join(c, q("bk") === c("bk"))
      .select(col("query_id"), col("neighbor_id"), col("__q"), col("__c"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      nativeCosine(corpus.sparkSession)(col("__q"), col("__c")).as("cosine"))
    topKPerKey(scored, col("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Score every (row, cell) pair and keep the caller's top-`keep` cells
    * per row — keep=1 assigns corpus vectors, keep=nProbe routes queries.
    * Cell dots come from the native [[graft.functions.IvfCellDots]]
    * expression (one fused codegen pass over plan-time centroids,
    * bit-identical to the HOF fold and the q51 oracle). The choice is
    * row-local: the row's (dot, −cell) pairs sort descending — score
    * desc, then cell asc — and the first `keep` explode, so no exchange
    * or window runs.
    */
  private[ml] def topCells(df: DataFrame, id: String, emb: String,
                           nCells: Int, dims: Int, keep: Int): DataFrame = {
    graft.functions.IvfCellDots.register(df.sparkSession)
    // arrays_zip names unnamed inputs' fields by position: "0" the dot,
    // "1" the negated cell
    val ranked = sort_array(arrays_zip(
        graft.functions.IvfCellDots.cellDots(col(emb), nCells, dims),
        lit((0 until nCells).map(-_).toArray)), asc = false)
    df.select(col(id), col(emb), explode(slice(ranked, 1, keep)).as("__top"))
      .select(col(id), col(emb), (-col("__top").getField("1")).as("cell"))
  }

  /** IVF-flavored ANN: corpus vectors live in their best centroid cell,
    * queries probe their `nProbe` best cells, and exact cosine ranks the
    * candidates — the inverted-file counterpart to [[annTopKLsh]].
    * Candidate generation is an equi-join on the cell id (never
    * all-pairs); recall grows with nProbe and is 1 for exact duplicates
    * (identical vectors share the same best cell).
    */
  def annTopKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int = 16, nProbe: Int = 4, dims: Int = 64,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val corpusCells = topCells(
      checkDims(corpus, embCol, dims, "annTopKIvf corpus")
        .select(col(idCol).as("neighbor_id"), col(embCol).as("__c")),
      "neighbor_id", "__c", nCells, dims, keep = 1)
    val queryCells = topCells(
      checkDims(queries, embCol, dims, "annTopKIvf queries")
        .select(col(idCol).as("query_id"), col(embCol).as("__q")),
      "query_id", "__q", nCells, dims, keep = nProbe)
    val scored = queryCells.join(corpusCells, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        nativeCosine(corpus.sparkSession)(col("__q"), col("__c")).as("cosine"))
    topKPerKey(scored, col("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Collect a (small) centroid table to the driver in deterministic id
    * order — model state for [[kmeansAssign]]/[[kmeansUpdateSums]]. This
    * is the legitimate driver-side collect: k centroids are the MODEL,
    * not the data (classic distributed k-means ships centroids to every
    * task each iteration; here they land in the plan as literal arrays).
    */
  def centroidsOf(centroids: DataFrame, idCol: String = "vec_id",
                  embCol: String = "embedding",
                  maxK: Int = 4096): Seq[(Long, Array[Float])] = {
    val rows = centroids.select(col(idCol).cast("long"), col(embCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    require(rows.nonEmpty, "centroidsOf: empty centroid set")
    require(rows.size <= maxK,
      s"centroidsOf: ${rows.size} centroids exceed maxK=$maxK — " +
        "centroids are driver-side model state and must stay small")
    rows
  }

  /** Hard cluster assignment against literal centroids — the k-means
    * assignment step. Pure MAP stage: each row computes k native-codegen
    * cosines and takes the row-local argmax via struct `greatest`
    * (tiebreak: smallest centroid id), so the plan has ZERO exchanges and
    * scales with corpus size alone (SimilaritySpec asserts the no-shuffle
    * plan). Scores are the bit-stable cosine contract, so the q71 oracle
    * reproduces assignment AND score exactly.
    */
  def kmeansAssign(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    assignWithEmb(vectors, centroids, idCol, embCol)
      .select(col("vec_id"), col("centroid_id"), col("cosine"))

  /** (vec_id, centroid_id, cosine, __e) with the embedding carried so the
    * update step can reuse the assignment's map stage without a re-scan
    * or a self-join.
    */
  private def assignWithEmb(vectors: DataFrame,
                            centroids: Seq[(Long, Array[Float])],
                            idCol: String, embCol: String): DataFrame = {
    require(centroids.nonEmpty, "kmeansAssign: empty centroid set")
    val dims = centroids.head._2.length
    require(centroids.forall(_._2.length == dims),
      s"kmeansAssign: centroids must all have $dims dims")
    graft.functions.CosineSimilarity.register(vectors.sparkSession)
    // argmax(cosine) with min-id tiebreak = max of (cosine, -id) structs;
    // struct comparison is lexicographic, so equal scores fall through to
    // the negated id. greatest() needs >= 2 args — pad a copy for k=1.
    val scored = centroids.map { case (cid, vec) =>
      struct(
        graft.functions.CosineSimilarity.cosine(
          col(embCol), typedLit(vec)).as("c"),
        lit(-cid).as("negid"))
    }
    val best = greatest((if (scored.size == 1) scored ++ scored else scored): _*)
    checkDims(vectors, embCol, dims, "kmeansAssign")
      .select(col(idCol).cast("long").as("vec_id"), col(embCol).as("__e"),
        best.as("__best"))
      .select(col("vec_id"), (-col("__best.negid")).as("centroid_id"),
        col("__best.c").as("cosine"), col("__e"))
  }

  /** The k-means UPDATE step's sufficient statistics, exact and
    * cross-engine deterministic: per (centroid, dimension), the count and
    * the fixed-point sum Σ floor(v · 2^quantBits) of member values. New
    * means are dim_sum_fp / n / 2^quantBits downstream.
    *
    * Why fixed-point: float sums depend on aggregation order, so a
    * partitioning-dependent double mean could never hash-match an
    * oracle. floor() to a long is tie-free (unlike decimal HALF_UP
    * rounding, which can land on exact .5 boundaries for dyadic floats)
    * and long sums are exact and commutative; at quantBits=20 the
    * per-dimension mean error is < 1e-6 — far below float32 resolution
    * for unit-scale embeddings.
    *
    * Plan shape: one map stage (assignment + posexplode) into ONE
    * map-side-combinable shuffle on (centroid_id, pos) — the textbook
    * distributed k-means iteration, n·d rows combined to k·d partials
    * per task before the exchange. ANSI mode fails loudly on long
    * overflow (possible past ~2^43 unit-scale rows per cell at the
    * default quantization — rescale quantBits down for that regime).
    */
  def kmeansUpdateSums(vectors: DataFrame,
                       centroids: Seq[(Long, Array[Float])],
                       quantBits: Int = 20, idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame = {
    require(quantBits >= 0 && quantBits <= 40,
      s"kmeansUpdateSums: quantBits must be in [0, 40], got $quantBits")
    val scale = (1L << quantBits).toDouble // exact power-of-two scaling
    assignWithEmb(vectors, centroids, idCol, embCol)
      .select(col("centroid_id"), posexplode(col("__e")).as(Seq("pos", "__v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(sum(floor(col("__v").cast("double") * scale)).as("dim_sum_fp"),
           count(lit(1)).as("n"))
  }

  /** Grouped mean-pooling of embedding vectors — one mean vector per key
    * (class centroids for probing/reweighting, chunk→document pooling,
    * cluster summaries). [[kmeansUpdateSums]]'s exact-sum recipe with the
    * grouping key supplied by the DATA instead of a centroid assignment:
    * each component quantized ONCE to `floor(v·2^quantBits)` (exact
    * integer-valued doubles — their sum is exact and order-independent
    * below 2⁵³), then `mean = (Σ/2^q)/n` with pinned operation order so
    * the oracle replays it bit-for-bit.
    *
    * Scale posture: posexplode is map-side; the (key, pos) agg is ONE
    * map-side-combinable shuffle of dims·rows narrow rows; output is
    * model-sized (|keys|·dims). No collect, no array on any shuffled row.
    */
  def groupMeanPool(vectors: DataFrame, keyCol: String,
                    embCol: String = "embedding",
                    quantBits: Int = 20): DataFrame = {
    require(quantBits >= 0 && quantBits <= 40,
      s"groupMeanPool: quantBits must be in [0, 40], got $quantBits")
    val scale = (1L << quantBits).toDouble
    vectors.filter(col(keyCol).isNotNull)
      .select(col(keyCol), posexplode(col(embCol)).as(Seq("pos", "__v")))
      .groupBy(col(keyCol), col("pos"))
      .agg(sum(floor(col("__v").cast("double") * scale)).as("dim_sum_fp"),
           count(lit(1)).as("n"))
      .withColumn("dim_mean",
        (col("dim_sum_fp") / scale) / col("n").cast("double"))
  }

  /** Product quantization (Jégou et al., PAMI 2011 — public literature):
    * split each `dims`-dim vector into `m` subvectors of `dims/m`
    * components; each subvector is coded as the index of its nearest
    * (squared-L2) sub-centroid from a per-subspace codebook of `k`
    * entries. Storage drops from dims·4 bytes to m·log2(k) bits per
    * vector (64× here) — the compression layer under billion-vector ANN.
    *
    * Codebooks are md5-derived literals (the q42/q51 scheme) so the
    * DuckDB oracle rebuilds every centroid component and reproduces
    * codes AND distances bit-for-bit: per (subspace, code, dim) the
    * component is `hashUnit("pq-$m-$k-$d")`, distances are left-to-right
    * double folds, argmin ties take the smallest code. Real systems
    * train codebooks with k-means — [[kmeansUpdateSums]] is that path;
    * the deterministic codebook keeps the GATE engine-independent.
    */
  private[graft] def pqDist(emb: Column, m: Int, k: Int, sub: Int): Column =
    (0 until sub).map { d =>
      val x = element_at(emb, m * sub + d + 1).cast("double") -
        lit(hashUnit(s"pq-$m-$k-$d"))
      x * x
    }.reduce(_ + _)

  /** Per-subspace argmin as a (dist, code) struct — `array_min` over
    * structs is lexicographic, so equal distances fall to the smaller
    * code, mirroring the oracle's `ORDER BY dist, k`.
    *
    * This expression-tree form is the readable reference implementation
    * (PqBestsSpec proves bit-parity); the hot paths use the native
    * [[graft.functions.PqBests]] / [[graft.functions.PqAdcLut]]
    * expressions — the tree is m·k·(dims/m) squared-diff terms (~3,800
    * nodes per join side in q83), and Catalyst's per-transform analysis
    * plus optimizer walks over it cost more wall time than the query's
    * own jobs (measured via PhaseProbe: ~850 ms build + ~1 s planning vs
    * ~1.1 s of jobs at sf0.1).
    */
  private[graft] def pqBest(emb: Column, m: Int, nCodes: Int, sub: Int): Column =
    array_min(array((0 until nCodes).map(k =>
      struct(pqDist(emb, m, k, sub).as("d"), lit(k).as("k"))): _*))

  /** Exploded PQ coding: one row per (vec_id, subspace) with the chosen
    * code and its squared-L2 distance. Pure map stage, zero exchanges
    * (spec-asserted) — the coding pass streams the corpus once; the
    * per-subspace argmin runs in [[graft.functions.PqBests]]'s fused
    * codegen loop (bit-identical to the tree form, PqBestsSpec).
    */
  def pqCodes(vectors: DataFrame, numSubspaces: Int = 8, numCodes: Int = 8,
              dims: Int = 64, idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    require(dims % numSubspaces == 0,
      s"pqCodes: dims=$dims must divide into $numSubspaces subspaces")
    graft.functions.PqBests.register(vectors.sparkSession)
    checkDims(vectors, embCol, dims, "pqCodes")
      .select(col(idCol).cast("long").as("vec_id"),
        graft.functions.PqBests.bests(col(embCol), numSubspaces, numCodes,
          dims).as("__bests"))
      .select(col("vec_id"), posexplode(col("__bests")).as(Seq("m", "__b")))
      .select(col("vec_id"), col("m"), col("__b.k").as("code"),
        col("__b.d").as("dist"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the corpus is only
    * its codes; each query computes its exact per-(subspace, code)
    * distance table row-locally, the tables broadcast with the query
    * set, and a corpus row's approximate distance is the ordered fold
    * Σ_m lut[m][code_m] — one corpus scan, no shuffle of the corpus, and
    * the same two-stage salted top-k as every ANN path here. Exact on
    * codebook centroids; approximation error is the quantization
    * residual (recall tracked against exact cosine in SimilaritySpec).
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
                numSubspaces: Int = 8, numCodes: Int = 8, dims: Int = 64,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    require(dims % numSubspaces == 0,
      s"pqAdcTopK: dims=$dims must divide into $numSubspaces subspaces")
    graft.functions.PqBests.register(corpus.sparkSession)
    graft.functions.PqAdcLut.register(corpus.sparkSession)
    // codes assembled row-locally in subspace order — no exploded
    // round-trip, no shuffle; the coding scan IS the corpus scan. Both
    // the coding argmin and the query-side distance tables run in the
    // native fused-loop expressions (see [[pqBest]]'s scaladoc for why).
    val codes = checkDims(corpus, embCol, dims, "pqAdcTopK corpus")
      .select(col(idCol).cast("long").as("neighbor_id"),
        graft.functions.PqBests.bests(col(embCol), numSubspaces, numCodes,
          dims).as("__bests"))
      .select(col("neighbor_id"), array((0 until numSubspaces).map(m =>
        element_at(col("__bests"), m + 1).getField("k")): _*).as("__codes"))
    val q = broadcast(checkDims(queries, embCol, dims, "pqAdcTopK queries")
      .select(col(idCol).cast("long").as("query_id"),
        graft.functions.PqAdcLut.lut(col(embCol), numSubspaces, numCodes,
          dims).as("__lut")))
    // Ordered fold expanded STATICALLY over the fixed subspace count —
    // the same left-to-right `0.0 + lut[1][c1+1] + … + lut[m][cm+1]`
    // sum, but as plain codegen-friendly expressions instead of an
    // interpreted aggregate(zip_with(…)) lambda pair (HOFs evaluate
    // outside whole-stage codegen, per element, per row).
    val adist = ((lit(0.0): Column) +: (0 until numSubspaces).map(m =>
        element_at(element_at(col("__lut"), m + 1),
          element_at(col("__codes"), m + 1) + lit(1))))
      .reduce(_ + _)
    val scored = codes.join(q)
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
    topKPerKey(scored, col("query_id"),
      Seq(col("adist").asc, col("neighbor_id").asc), topK, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }

  /** Uniform int8 scalar quantization of an embedding column — the
    * vector-compression step a 100 TB ANN corpus needs (4× smaller than
    * float32 before any index structure). Row-local, zero shuffles; every
    * arithmetic step is a single IEEE double op written in a fixed order,
    * so codes AND reconstruction errors are bit-reproducible in the
    * oracle (q73 pins every (vec, dim, code, err) tuple).
    *
    * Scheme: clamp to [lo, hi], code = min(floor((v-lo)/(hi-lo)·256),
    * 255) — 256 uniform cells with hi folded into the top cell; dequant
    * is the cell midpoint, so |err| ≤ (hi-lo)/512 + clamping loss.
    * Output one row per (vec_id, pos): exploded rather than an
    * array<int> column because the correctness gate hashes scalar cells.
    */
  def quantizeInt8(vectors: DataFrame, lo: Double = -1.0, hi: Double = 1.0,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    require(hi > lo, s"quantizeInt8: need hi > lo, got [$lo, $hi]")
    val clamped = least(greatest(col("__v").cast("double"), lit(lo)), lit(hi))
    vectors
      .select(col(idCol).cast("long").as("vec_id"),
        posexplode(col(embCol)).as(Seq("pos", "__v")))
      .select(col("vec_id"), col("pos"), col("__v"),
        least(floor((clamped - lit(lo)) / lit(hi - lo) * lit(256.0)), lit(255L))
          .cast("int").as("code"))
      .select(col("vec_id"), col("pos"), col("code"),
        abs(col("__v").cast("double") -
          (lit(lo) + (col("code") + lit(0.5)) * lit(hi - lo) / lit(256.0)))
          .as("err"))
  }

  /** md5-derived unit value in [-1, 1) — reproducible in ANY engine
    * (DuckDB: `('0x'||substr(md5(seed),1,15))::BIGINT`), which lets an
    * external oracle rebuild the exact same planes/centroids. Always
    * precomputed on the driver: the plane set is tiny and lands in the
    * plan as constant arrays — zero per-row hashing.
    */
  private def hashUnit(seed: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(seed.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2000003L).toDouble / 1000001.5 - 1.0
  }

  /** Hyperplane component for table t / plane p / dim d (q42 oracle
    * rebuilds exactly this seed string).
    */
  private def oracleHyperplane(t: Int, p: Int, d: Int): Double =
    hashUnit(s"hp-$t-$p-$d")

  /** Embedding near-duplicate pairs (id_a < id_b, cosine >= threshold)
    * with FULLY DETERMINISTIC sign-LSH bucketing: candidates share a
    * bucket in at least one of `tables` plane sets, then exact bit-stable
    * cosine filters them. Both the buckets and the scores are
    * reproducible in the DuckDB oracle (q42), so this operator is
    * correctness-gated end-to-end — semantics are "bucketed near-dup
    * join", the honest contract at corpus scale (an exact cosine≥τ join
    * is all-pairs by definition).
    */
  /** Bucket every vector into all `tables` sign-LSH buckets (one scan,
    * literal planes) and stream the in-bucket candidate pairs through
    * [[graft.operators.CandidatePairs.inBucketPairs]] — an equi-join on
    * the bucket key with a hot-bucket triangle split, so a degenerate
    * bucket (mass identical vectors) spreads its quadratic pair output
    * over many tasks instead of one reducer. A collect_list-per-bucket
    * expansion would instead materialize O(m²) pairs inside a single row.
    */
  private def bucketCandidatePairs(vectors: DataFrame, planes: Int,
                                   tables: Int, dims: Int,
                                   idCol: String, embCol: String): DataFrame =
    graft.operators.CandidatePairs.inBucketPairs(
      nativeBuckets(vectors, planes, tables, dims, idCol, embCol, "id", None))

  /** Precision is exact (every candidate gets a true cosine); recall is
    * governed by (planes, tables) — raise tables for higher recall at
    * proportionally more candidate-join work. The q42 oracle rebuilds the
    * default parameters' buckets exactly, gating this end-to-end.
    */
  def cosineDupPairsBucketed(vectors: DataFrame, threshold: Double,
                             planes: Int = 4, tables: Int = 3, dims: Int = 64,
                             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val checked = checkDims(vectors, embCol, dims, "cosineDupPairsBucketed")
    val cand = bucketCandidatePairs(checked, planes, tables, dims, idCol, embCol)
    val emb = checked.select(col(idCol).as("id"), col(embCol).as("emb"))
    cand
      .join(emb.select(col("id").as("id_a"), col("emb").as("ea")), Seq("id_a"))
      .join(emb.select(col("id").as("id_b"), col("emb").as("eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        nativeCosine(vectors.sparkSession)(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** End-to-end embedding near-dup REMOVAL — the vector-space sibling of
    * [[graft.text.TextDedup.keepCanonical]]: a cosine dup pair graph
    * `pairs` (id_a, id_b) — e.g. [[cosineDupPairsBucketed]] — →
    * connected components → LEFT ANTI on the losers (nodes ≠ their
    * component label), keeping the min-id vector of every duplicate
    * cluster. The corpus only ever joins the loser set, which is at most
    * the duplicate count.
    */
  def keepCanonical(vectors: DataFrame, pairs: DataFrame,
                    idCol: String = "vec_id"): DataFrame = {
    val comps = graft.graphs.ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    val losers = comps.filter(col("node") =!= col("component"))
      .select(col("node").as("__loser"))
    vectors.join(losers, vectors(idCol) === col("__loser"), "left_anti")
  }

  /** SemDeDup-style semantic dedup (cluster-then-dedup; Abbas et al.
    * 2023, public literature): assign every vector to its nearest
    * centroid ([[kmeansAssign]] — cosine, min-id tiebreak), then within
    * each cluster drop any vector that is `threshold`-close to a
    * SMALLER-id cluster-mate. Returns the survivors (id, centroid_id).
    *
    * Versus [[keepCanonical]] (all-pairs truth via LSH + connected
    * components): this trades cross-cluster recall for never comparing
    * outside a cluster — the curation-scale shape, where k is sized so
    * clusters stay small and the per-cluster quadratic is the budget.
    * The keep rule is pairwise, not transitive closure; on a chain
    * a < b < c with (a,b) and (b,c) close but (a,c) not, both b and c
    * drop — same removals as CC on that graph, without an iterative
    * fixpoint.
    *
    * Scale posture: assignment is the zero-exchange broadcast map
    * stage; the within-cluster pair join is a plain equi-join on the
    * centroid id by default (clusters are SIZED small by k — the
    * technique's own contract — and AQE skew splitting bounds per-task
    * load), with `cap = Some(n)` routing it through the
    * [[graft.operators.CandidatePairs]] hot-bucket guard for corpora
    * whose cluster sizes can't be trusted (the q123 trade: the guard's
    * extra stages cost fixed time, so it is opt-in). Losers are at most
    * the duplicate count and anti-join back.
    */
  def semDedup(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
               threshold: Double, idCol: String = "vec_id",
               embCol: String = "embedding",
               cap: Option[Int] = None): DataFrame = {
    // The assignment feeds the bucket-size agg, the salting, and the
    // final anti-join — persisted per call so the k-cosine argmax map
    // stage runs once, not once per consumer (n×2 rows; the usual
    // per-call lifecycle, released by the session owner's clearCache).
    val asg = kmeansAssign(vectors, centroids, idCol, embCol)
      .select(col("vec_id"), col("centroid_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = vectors.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("__e"))
    val pairs = cap match {
      case Some(c) => graft.operators.CandidatePairs.inBucketPairs(
        asg.select(col("vec_id").as("id"), col("centroid_id").as("bk")), c)
      case None => asg.as("a").join(asg.as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    }
    val losers = pairs
      .join(emb.select(col("vec_id").as("id_a"), col("__e").as("__ea")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("__e").as("__eb")), "id_b")
      .filter(cosine(col("__ea"), col("__eb")) >= threshold)
      .select(col("id_b").as("__loser")).distinct()
    asg.join(losers, asg("vec_id") === col("__loser"), "left_anti")
  }

  /** md5-derived Rademacher sign for one projection-matrix cell —
    * deterministic, data-independent, and rebuildable by any engine with
    * md5 (DuckDB: `('0x'||substr(md5(seed),1,15))::BIGINT % 2`), the same
    * parity contract as [[hashUnit]] / Sampling.hash60.
    */
  private def hashSign(seed: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(seed.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2L == 0L) 1L else -1L
  }

  /** Johnson–Lindenstrauss random projection with a Rademacher (±1) sign
    * matrix (Achlioptas 2003: database-friendly random projections —
    * sign entries preserve inner products in expectation with the same
    * JL guarantee as Gaussians, at integer cost). The d-dim float
    * embedding becomes an `outDims`-dim EXACT fixed-point vector:
    * component k = Σ_j sign(k,j) · floor(v_j · 2^quantBits).
    *
    * Why this shape at 100 TB: the projection is the shuffle-byte
    * reducer for everything pairwise downstream — ANN candidate
    * generation, near-dup verify, clustering — cutting d=64 floats to
    * e.g. 16 longs moves every subsequent exchange's payload down ~4×
    * while keeping distances JL-faithful. The operator itself is one
    * row-local map stage: ZERO exchanges, no UDFs, the sign matrix is
    * md5-derived model state folded into the plan as literal arrays
    * (and rebuilt bit-for-bit by the q145 oracle), and quantize-once
    * long arithmetic makes every component exact and
    * partition-order-independent (the q72 fixed-point contract).
    *
    * Output: (vec_id, proj_dim, comp_fp) — one row per projected
    * component, comp_fp at `quantBits` fractional bits.
    */
  def randomProjection(vectors: DataFrame, outDims: Int = 16, dims: Int = 64,
                       quantBits: Int = 20, salt: String = "rp",
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    require(quantBits >= 0 && quantBits <= 30,
      s"quantBits must be in [0, 30], got $quantBits")
    val scale = math.pow(2.0, quantBits)
    val vq = checkDims(vectors, embCol, dims, "randomProjection")
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(embCol), x => floor(x.cast("double") * lit(scale)))
          .as("__vq"))
    val comps = (0 until outDims).map { k =>
      val signs = (0 until dims).map(j => hashSign(s"$salt-$k-$j")).toArray
      struct(lit(k).as("proj_dim"),
        aggregate(zip_with(col("__vq"), typedLit(signs), (v, s) => v * s),
          lit(0L), (acc, x) => acc + x).as("comp_fp"))
    }
    vq.select(col("vec_id"), explode(array(comps: _*)).as("__c"))
      .select(col("vec_id"), col("__c.proj_dim").as("proj_dim"),
        col("__c.comp_fp").as("comp_fp"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` results that are relevant to the query AND
    * diverse among themselves — step t takes the candidate maximizing
    *   mmr(d) = λ·cos(q, d) − (1−λ)·max_{s∈S} cos(d, s)
    * over the already-selected set S (the first pick has no penalty
    * term). The de-duplicated retrieval shape RAG rerankers and
    * eval-set builders want where plain top-k returns k near-copies.
    *
    * Determinism: relevance and penalty are the bit-stable cosine folds,
    * λ-blend is one multiply/subtract in a fixed order, and every argmax
    * breaks ties by min id — so the selection sequence is exactly
    * replayable (the q149 oracle unrolls the k steps).
    *
    * Scale posture: k driver-loop steps; each step is ONE map stage over
    * the candidate set — relevance is computed once and carried, the
    * penalty folds over the ≤ k selected vectors shipped as plan
    * literals (model state, the centroid convention), and the argmax is
    * a TakeOrdered(1). Nothing pairwise ever shuffles; cost is
    * O(k · n · d) work in k bounded jobs.
    *
    * Output: (rank, vec_id, relevance, penalty, mmr) in selection order,
    * penalty null on the first pick.
    */
  def mmrSelect(corpus: DataFrame, query: Array[Float], k: Int,
                lambda: Double = 0.5, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 1000, s"mmrSelect: k in [1, 1000], got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrSelect: lambda in [0, 1], got $lambda")
    val spark = corpus.sparkSession
    // Relevance computed ONCE and persisted: every step re-scans this
    // (id, emb, rel) table, not the source (per-call cache lifecycle).
    val scored = corpus.select(col(idCol).cast("long").as("vec_id"),
        col(embCol).as("__e"),
        nativeCosine(spark)(col(embCol), typedLit(query)).as("relevance"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val selected = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Array[Float], (Double, Option[Double], Double))]
    // try/finally: the k-exhaustion require (and any collect failure)
    // must not strand the persisted relevance table in the CacheManager.
    try {
    for (step <- 1 to k) {
      val remaining = selected.map(_._1) match {
        case ids if ids.isEmpty => scored
        case ids => scored.filter(!col("vec_id").isInCollection(ids))
      }
      val pen = if (selected.isEmpty) lit(null).cast("double")
      else {
        val cosines = selected.toSeq.map(s =>
          nativeCosine(spark)(col("__e"), typedLit(s._2)))
        // greatest() needs >= 2 args — pad a copy for a 1-element set
        greatest((if (cosines.size == 1) cosines ++ cosines else cosines): _*)
      }
      val mmr = if (selected.isEmpty) lit(lambda) * col("relevance")
                else lit(lambda) * col("relevance") - lit(1.0 - lambda) * col("__pen")
      val top = remaining
        .withColumn("__pen", pen)
        .withColumn("__mmr", mmr)
        .orderBy(col("__mmr").desc, col("vec_id"))
        .select(col("vec_id"), col("__e"), col("relevance"), col("__pen"),
          col("__mmr"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"mmrSelect: corpus exhausted at step $step (need k=$k)")
      val r = top.head
      selected += ((r.getLong(0), r.getSeq[Float](1).toArray,
        (r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getDouble(4))))
    }
    } finally scored.unpersist(blocking = false)
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, _, (rel, p, mmrScore)), i) => (i + 1, id, rel, p, mmrScore) }
      .toDF("rank", "vec_id", "relevance", "penalty", "mmr")
  }

  /** Davies–Bouldin clustering quality (Davies & Bouldin 1979) in cosine
    * distance — the "are these clusters any good" number a curation
    * pipeline checks before trusting SemDeDup/prototype pruning built on
    * the same assignment: per cluster the mean distance of members to
    * their centroid (scatter, lower = tighter), and the DB ratio
    * R_i = max_{j≠i} (s_i + s_j) / d(c_i, c_j) (lower = better
    * separated).
    *
    * Determinism: per-member distances quantized ONCE to
    * floor((1−cos)·10⁶) longs, so scatters are exact integer sums over
    * any partitioning; centroid separations are the bit-stable cosine on
    * k² literal pairs; every later double op is order-fixed. The k×k
    * ratio stage is a deliberate bounded cross of two k-row tables (the
    * q92 convention — centroids are model state, k ≤ maxK).
    *
    * Output: (centroid_id, n_members, scatter, r_db).
    */
  def daviesBouldin(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    require(centroids.size >= 2, "daviesBouldin needs >= 2 centroids")
    val spark = vectors.sparkSession
    val scatter = kmeansAssign(vectors, centroids, idCol, embCol)
      .select(col("centroid_id"),
        floor((lit(1.0) - col("cosine")) * lit(1000000.0)).as("__q"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("__q")).as("__sq"))
      .select(col("centroid_id"), col("n_members"),
        (col("__sq").cast("double") / col("n_members").cast("double"))
          .as("scatter"))
    // centroid-pair separations: k² literal rows, exact same cosine fold
    import spark.implicits._
    val seps = centroids.flatMap { case (i, vi) =>
      centroids.collect { case (j, vj) if j != i =>
        (i, j, 1.0 - foldCosine(vi, vj))
      }
    }.toDF("__ci", "__cj", "__d")
    scatter.as("a")
      .join(broadcast(seps), col("a.centroid_id") === col("__ci"))
      .join(broadcast(scatter.as("b")
          .select(col("centroid_id").as("__cjb"), col("scatter").as("__sb"))),
        col("__cj") === col("__cjb"))
      .groupBy(col("a.centroid_id").as("centroid_id"),
        col("a.n_members").as("n_members"), col("a.scatter").as("scatter"))
      .agg(max((col("a.scatter") + col("__sb")) / col("__d")).as("r_db"))
  }

  /** Driver-side cosine with the EXACT operator fold order (left-to-right
    * double accumulation) — model-state separations must match what the
    * oracle's list_reduce computes.
    */
  private def foldCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws": keep the HARD examples): assign each vector to its
    * nearest centroid, rank cluster members most-prototypical-first
    * (cosine to centroid DESC, id tiebreak), and DROP the top `dropPct`
    * percent of every cluster — the redundant easy core — keeping the
    * informative tail. The SemDeDup sibling for data pruning by example
    * difficulty rather than pairwise duplication.
    *
    * The cut is integer arithmetic (`rank > cnt·dropPct div 100`) so
    * both engines agree exactly; cosine is the bit-stable double of
    * [[kmeansAssign]]. Plan shape: the assignment map stage plus ONE
    * window exchange on centroid_id — per-task input is bounded by the
    * largest cluster (k is a model knob: size clusters so corpus/k fits
    * a task, or pre-split hot clusters with the q58 salting idiom if
    * the assignment is adversarially skewed).
    *
    * Output: kept rows (vec_id, centroid_id, cosine, proto_rank).
    */
  def prototypePrune(vectors: DataFrame, centroids: Seq[(Long, Array[Float])],
                     dropPct: Int = 50, idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    require(dropPct >= 0 && dropPct < 100,
      s"dropPct must be in [0, 100), got $dropPct")
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    kmeansAssign(vectors, centroids, idCol, embCol)
      .withColumn("proto_rank", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("centroid_id"))))
      .filter(col("proto_rank") > expr(s"__cnt * $dropPct div 100"))
      .select(col("vec_id"), col("centroid_id"), col("cosine"), col("proto_rank"))
  }
}
