package graft.ml

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Vector-similarity checks: exact vs LSH agreement on planted duplicates,
  * and plan assertions for the scale posture.
  */
class SimilaritySpec extends SparkSpec {

  private def planted = {
    import spark.implicits._
    // 100 pseudo-random 8-dim vectors + an exact duplicate of vec 0 as id 100.
    val base = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }
    (base :+ ((100L, base.head._2))).toDF("vec_id", "embedding")
  }

  /** `planted` plus a 7-dim vector (id 101) as its LAST row, where a
    * check that samples one row never looks.
    */
  private def ragged = {
    import spark.implicits._
    planted.union(Seq((101L, Array.fill(7)(0.5f))).toDF("vec_id", "embedding"))
  }

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("a wrong-length vector past the first row fails the action with the op and dims") {
    val q = planted.filter(col("vec_id") === 0)
    val cents = Similarity.centroidsOf(planted.filter(col("vec_id") < 4))
    // thunks: an operator that plans eagerly may fold the local input
    // (and raise) before its action, which is still the guard's doing
    val guarded = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "annTopKIvf corpus" -> (() =>
        Similarity.annTopKIvf(ragged, q, k = 3, nCells = 8, nProbe = 3, dims = 8)),
      "annTopKLsh corpus" -> (() => Similarity.annTopKLsh(ragged, q, k = 3, dims = 8)),
      "kmeansAssign" -> (() => Similarity.kmeansAssign(ragged, cents)),
      "pqCodes" -> (() => Similarity.pqCodes(ragged, dims = 8)),
      "pqAdcTopK corpus" -> (() => Similarity.pqAdcTopK(ragged, q, 3, dims = 8)),
      "cosineDupPairsBucketed" -> (() =>
        Similarity.cosineDupPairsBucketed(ragged, threshold = 0.95, dims = 8)),
      "randomProjection" -> (() =>
        Similarity.randomProjection(ragged, outDims = 2, dims = 8)))
    for ((op, df) <- guarded) {
      val msg = messages(intercept[Exception](df().collect()))
      assert(msg.contains(s"$op: dims=8"), s"$op failed with: $msg")
    }
  }

  test("annTopK: planted exact duplicate is rank 1 with cosine 1") {
    val r = Similarity.annTopK(
      planted.filter(col("vec_id") > 0), planted.filter(col("vec_id") === 0), k = 3)
      .collect()
    assert(r.head.getAs[Long]("neighbor_id") == 100L)
    assert(math.abs(r.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("annTopK matches a single-window top-k (two-stage salting is exact)") {
    val em = Tables.embeddings(spark, sfDir)
    val queries = em.filter(col("vec_id") < 5)
    val corpus = em.filter(col("vec_id") >= 5)
    val twoStage = Similarity.annTopK(corpus, queries, 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val single = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(q)
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qe"), col("ce")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(twoStage == single)
  }

  test("annTopK plan: broadcast, no CartesianProduct, no shuffle of the corpus scan") {
    val em = Tables.embeddings(spark, sfDir)
    val plan = Similarity.annTopK(em.filter(col("vec_id") >= 10),
      em.filter(col("vec_id") < 10), 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast NLJ:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("annTopKLsh finds the planted duplicate and is a subset-ranking of exact") {
    val queries = planted.filter(col("vec_id") === 0)
    val corpus = planted.filter(col("vec_id") > 0)
    val approx = Similarity.annTopKLsh(corpus, queries, k = 3, dims = 8)
    val top = approx.filter(col("rank") === 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == 100L,
      "identical vector must share every sign-LSH bucket and rank first")
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("keepCanonical: min-id survivor per planted cluster, identity on dup-free input") {
    import spark.implicits._
    // three exact-dup clusters {0,100,101}, {1,102}, {2,103} + 97 singletons
    val base = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }
    val dups = Seq((100L, base(0)._2), (101L, base(0)._2),
      (102L, base(1)._2), (103L, base(2)._2))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairsBucketed(df, threshold = 0.999,
      planes = 8, tables = 6, dims = 8)
    val kept = Similarity.keepCanonical(df, pairs)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // reference: driver-side union-find over the SAME pair graph (the
    // sin fixture has incidental near-dups at this threshold, so the
    // expected survivor set is derived, not assumed)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = (base ++ dups).map(_._1).toSet
    val expectSurvivors = allIds.filter(id => find(id) == id)
    assert(kept == expectSurvivors,
      s"survivors != union-find minima: extra=${kept -- expectSurvivors} missing=${expectSurvivors -- kept}")
    // the planted exact dups are always losers; their minima survive
    assert(!kept.exists(Set(100L, 101L, 102L, 103L)), s"planted losers survived")
    assert(Set(0L, 1L, 2L).subsetOf(kept), "cluster minima must survive")
  }

  test("cosineDupPairsBucketed at high-recall params: planted pair surfaces; precision exact") {
    val pairs = Similarity.cosineDupPairsBucketed(planted, threshold = 0.95,
      planes = 8, tables = 6, dims = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 100L)), s"planted dup missing from $got")
    assert(pairs.filter(col("cosine") < 0.95).count() == 0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("annTopKIvf finds the planted duplicate; candidates come from probed cells only") {
    val queries = planted.filter(col("vec_id") === 0)
    val corpus = planted.filter(col("vec_id") > 0)
    val approx = Similarity.annTopKIvf(corpus, queries, k = 3, nCells = 8, nProbe = 3, dims = 8)
    val top = approx.filter(col("rank") === 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == 100L,
      "identical vector shares the best cell and must rank first")
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    // higher probe count can only widen the candidate set
    val wide = Similarity.annTopKIvf(corpus, queries, k = 3, nCells = 8, nProbe = 8, dims = 8)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val exact = Similarity.annTopK(corpus, queries, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(wide == exact, "probing every cell must equal the exact top-k")
  }

  /** Seeded 8-dim vectors with exact cell-dot ties: zero vectors score
    * 0.0 in every cell (a tie on every cell), and copies of vector 0 tie
    * it across rows.
    */
  private def cellTies = {
    import spark.implicits._
    val rnd = new scala.util.Random(51)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    (base ++ Seq(60L, 61L).map(i => (i, Array.fill(8)(0f))) ++
      Seq(62L, 63L).map(i => (i, base.head._2))).toDF("vec_id", "embedding")
  }

  /** The window formulation the row-local [[Similarity.topCells]]
    * replaced: posexplode every cell's dot, then the two-window top-k
    * (score desc, cell asc).
    */
  private def windowCells(df: org.apache.spark.sql.DataFrame, id: String,
                          emb: String, keep: Int) = {
    graft.functions.IvfCellDots.register(spark)
    Similarity.topKPerKey(
      df.select(col(id), col(emb),
          posexplode(graft.functions.IvfCellDots.cellDots(col(emb), 8, 8)))
        .select(col(id), col(emb), col("pos").as("cell"), col("col").as("__cs")),
      col(id), Seq(col("__cs").desc, col("cell").asc), keep, col("cell"))
      .drop("__cs", "rank")
  }

  test("topCells: the row-local choice equals the window top-k, exact dot ties included") {
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    for (keep <- Seq(1, 3, 8)) {
      val got = cells(Similarity.topCells(cellTies, "vec_id", "embedding", 8, 8, keep))
      assert(got == cells(windowCells(cellTies, "vec_id", "embedding", keep)),
        s"keep=$keep")
      // an all-tie row keeps the lowest cells
      assert(got.filter(_._1 == 60L).map(_._2) == (0 until keep).toSet)
    }
    val plan = Similarity.topCells(cellTies, "vec_id", "embedding", 8, 8, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"row-local cell choice planned a shuffle:\n$plan")
  }

  test("annTopKIvf keeps the window formulation's output on exact dot ties") {
    val queries = cellTies.filter(col("vec_id") < 10 || col("vec_id") === 60L)
    val corpus = cellTies.filter(col("vec_id") >= 10 && col("vec_id") =!= 60L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    graft.functions.CosineSimilarity.register(spark)
    val scored = windowCells(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("__q")), "query_id", "__q", 3)
      .join(windowCells(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__c")), "neighbor_id", "__c", 1), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.CosineSimilarity.cosine(col("__q"), col("__c")).as("cosine"))
    val want = rows(Similarity.topKPerKey(scored, col("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), 3, col("neighbor_id")))
    val got = rows(Similarity.annTopKIvf(corpus, queries, k = 3, nCells = 8,
      nProbe = 3, dims = 8))
    assert(got == want)
    // the copies of vector 0 share its cell and tie at cosine 1: id order
    assert(got.filter(t => t._1 == 0L && t._3 <= 2).map(_._2) == Set(62L, 63L))
  }

  test("cosineDupPairsBucketed: identical vectors always pair; no cartesian") {
    val pairs = Similarity.cosineDupPairsBucketed(planted, threshold = 0.95, dims = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 100L)),
      s"identical vectors share every bucket — missing from $got")
    assert(pairs.filter(col("cosine") < 0.95).count() == 0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("kmeansAssign equals brute-force nearest-centroid (annTopK k=1)") {
    val em = Tables.embeddings(spark, sfDir)
    val cents = Similarity.centroidsOf(em.filter(col("vec_id") < 8))
    val got = Similarity.kmeansAssign(em, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // annTopK over the centroid table as corpus: same scores, same
    // min-id tiebreak — an independent formulation of the same argmax.
    val expected = Similarity.annTopK(em.filter(col("vec_id") < 8), em, 1)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
  }

  test("kmeansAssign plan is a pure map stage: zero exchanges") {
    val em = Tables.embeddings(spark, sfDir)
    val cents = Similarity.centroidsOf(em.filter(col("vec_id") < 8))
    val plan = Similarity.kmeansAssign(em, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("kmeansUpdateSums: exact fixed-point sums on a handcrafted cluster") {
    val s = spark; import s.implicits._
    // two centroids on the axes; v1/v2 land on c0, v3 on c1
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
    val vecs = Seq(
      (10L, Array(0.5f, 0.25f)), (11L, Array(2f, 0.75f)), (12L, Array(0.1f, 3f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansUpdateSums(vecs, cents, quantBits = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // quantBits=2 → floor(4v): c0 dims = (floor(2)+floor(8), floor(1)+floor(3))
    assert(out == Map(
      (0L, 0) -> ((10L, 2L)), (0L, 1) -> ((4L, 2L)),
      (1L, 0) -> ((0L, 1L)), (1L, 1) -> ((12L, 1L))))
  }

  test("kmeansUpdateSums plan: exactly one exchange (the stats shuffle)") {
    val em = Tables.embeddings(spark, sfDir)
    val cents = Similarity.centroidsOf(em.filter(col("vec_id") < 8))
    val plan = Similarity.kmeansUpdateSums(em, cents)
      .queryExecution.executedPlan.toString
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("kmeans guards: empty/oversized/mismatched centroids fail loudly") {
    val s = spark; import s.implicits._
    val vecs = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(vecs, Seq.empty)
    }
    // the dims check is in the plan: the action fails, not the call
    val mismatched = Similarity.kmeansAssign(vecs, Seq((0L, Array(1f, 0f, 0f))))
    assert(messages(intercept[Exception](mismatched.collect()))
      .contains("kmeansAssign: dims=3"))
    intercept[IllegalArgumentException] {
      Similarity.centroidsOf(vecs, maxK = 0)
    }
  }

  test("pqCodes: one code per (vec, subspace), in range, map-only plan") {
    val em = Tables.embeddings(spark, sfDir)
    val out = Similarity.pqCodes(em)
    val n = em.count()
    assert(out.count() == n * 8)
    assert(out.filter(col("code") < 0 || col("code") >= 8 ||
      col("m") < 0 || col("m") >= 8 || col("dist") < 0).count() == 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PQ coding must not shuffle:\n$plan")
  }

  test("pqAdcTopK: self-match is the per-query minimum; corpus never shuffles") {
    val em = Tables.embeddings(spark, sfDir)
    // queries are ALSO corpus members: their codes match themselves, so
    // the self row's adist is the attainable minimum (argmin per
    // subspace) — it must sit at the top rank's distance.
    val out = Similarity.pqAdcTopK(em, em.filter(col("vec_id") < 5), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    (0L until 5L).foreach { q =>
      val rows = out.filter(_._1 == q)
      val self = rows.find(_._2 == q)
      assert(self.isDefined, s"query $q: self row missing from top-5")
      val best = rows.minBy(_._3)._4
      assert(self.get._4 == best, s"query $q: self adist ${self.get._4} != top $best")
    }
    val plan = Similarity.pqAdcTopK(em, em.filter(col("vec_id") < 5), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"expected broadcast scan:\n$plan")
  }

  test("quantizeInt8: edge codes, clamping, and midpoint error bound") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Array(-1f, 1f, 0f, -2f, 2f, 0.999f, -0.999f, 0.25f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs)
      .collect().map(r => r.getInt(1) -> ((r.getInt(2), r.getDouble(3)))).toMap
    // lo → 0, hi folds into the top cell (255), out-of-range clamps
    assert(out(0)._1 == 0 && out(1)._1 == 255)
    assert(out(3)._1 == 0 && out(4)._1 == 255) // clamped to [lo, hi]
    assert(out(7)._1 == 160) // (0.25+1)/2*256 = 160.0 exactly
    // in-range dims obey the midpoint bound of (hi-lo)/512
    Seq(0, 1, 2, 5, 6, 7).foreach { d =>
      assert(out(d)._2 <= 2.0 / 512 + 1e-12, s"dim $d err ${out(d)._2}")
    }
    intercept[IllegalArgumentException] {
      Similarity.quantizeInt8(vecs, lo = 1.0, hi = 1.0)
    }
  }

  test("quantizeInt8 plan is map-only: zero exchanges") {
    val plan = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
  }

  test("native CosineSimilarity expression is bit-identical to the HOF fold") {
    graft.functions.CosineSimilarity.register(spark)
    val em = Tables.embeddings(spark, sfDir)
    val a = em.select(col("embedding").as("ea"),
      element_at(col("embedding"), 1).as("x"))
    val pairs = a.crossJoin(broadcast(em.limit(3).select(col("embedding").as("eb"))))
    val diff = pairs.select(
      Similarity.cosine(col("ea"), col("eb")).as("hof"),
      graft.functions.CosineSimilarity.cosine(col("ea"), col("eb")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.count() == 0, "native and HOF cosine must agree bit-for-bit")
  }

  test("cosine is bit-stable and symmetric") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("b"), col("a")).as("ba")).head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(math.abs(r.getDouble(0) - 10.0 / 14.0) < 1e-12)
  }

  test("groupMeanPool: exact per-dim means keyed by the data; null keys dropped") {
    val s = spark; import s.implicits._
    val df = Seq(
      (Some(1), Array(1.0f, 2.0f)), (Some(1), Array(3.0f, 4.0f)),
      (Some(2), Array(-1.5f, 0.25f)),
      (Option.empty[Int], Array(9.0f, 9.0f)))
      .toDF("label", "embedding")
    val got = Similarity.groupMeanPool(df, "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // components are exactly representable → quantization is lossless
    assert(got == Map(
      (1, 0) -> ((4L * 1048576, 2L, 2.0)),
      (1, 1) -> ((6L * 1048576, 2L, 3.0)),
      (2, 0) -> ((-3L * 1048576 / 2, 1L, -1.5)),
      (2, 1) -> ((1048576L / 4, 1L, 0.25))), s"got $got")
    // single shuffle: posexplode is map-side, the (key, pos) agg is the
    // only exchange
    val plan = Similarity.groupMeanPool(df, "label")
      .queryExecution.executedPlan.toString
    assert(plan.split("\n").count(_.contains("Exchange")) == 1,
      s"groupMeanPool must be one narrow-row shuffle:\n$plan")
  }

  test("semDedup: within-cluster dups drop to min id; cross-cluster dups survive") {
    val s = spark; import s.implicits._
    // two orthogonal centroids; each cluster holds one planted identical
    // pair — the larger id of each pair must drop, the min survive
    val cents = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
    val vecs = Seq(
      (10L, Array(0.9f, 0.1f, 0f, 0f)),
      (11L, Array(0.9f, 0.1f, 0f, 0f)),   // dup of 10, same cluster → drops
      (20L, Array(0.1f, 0.9f, 0f, 0f)),
      (21L, Array(0.1f, 0.9f, 0f, 0f)))   // dup of 20, same cluster → drops
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, cents, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (20L, 2L)), s"got $got")
    // identical vectors in DIFFERENT clusters both survive (never compared)
    val split = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(split, cents, threshold = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    val plan = Similarity.semDedup(vecs, cents, 0.99)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the opt-in hot-bucket guard is output-equivalent to the default
    // plain within-cluster join
    val capped = Similarity.semDedup(vecs, cents, 0.99, cap = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == got, s"capped path diverged: $capped vs $got")
    spark.catalog.clearCache()
  }

  test("randomProjection: signs match the SQL md5 convention; components exact") {
    val s = spark; import s.implicits._
    // Unit vectors read the sign matrix straight off the output:
    // rp(e_j)[k] = sign(k, j) · floor(1 · 2^20) = ±1048576.
    val units = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(units, outDims = 2, dims = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(got.size == 4)
    // Independent derivation through Spark SQL's conv/md5 — the exact
    // expression the DuckDB oracle uses (hash60 parity contract).
    val sqlSigns = spark.range(1).select(
      (0 until 2).flatMap { k =>
        (0 until 2).map { j =>
          (conv(substring(md5(lit(s"rp-$k-$j")), 1, 15), 16, 10)
            .cast("long") % 2).as(s"s$k$j")
        }
      }: _*).head()
    for (k <- 0 until 2; j <- 0 until 2) {
      val sign = if (sqlSigns.getLong(k * 2 + j) == 0L) 1L else -1L
      assert(got((j.toLong, k)) == sign * 1048576L, s"k=$k j=$j")
    }
    // Exact fixed-point on a mixed vector: floor quantization then the
    // signed sum, replayed by hand.
    val v = Array(0.5f, -0.25f)
    val mixed = Seq((7L, v)).toDF("vec_id", "embedding")
    val comp = Similarity.randomProjection(mixed, outDims = 2, dims = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    val vq = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    for (k <- 0 until 2) {
      val s = (0 until 2).map { j =>
        (if (sqlSigns.getLong(k * 2 + j) == 0L) 1L else -1L) * vq(j)
      }.sum
      assert(comp(k) == s, s"k=$k")
    }
  }

  test("randomProjection plan is map-only: zero exchanges") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val plan = Similarity.randomProjection(vecs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mmrSelect: diversity beats a redundant near-dup; λ=1 degenerates to top-k") {
    val s = spark; import s.implicits._
    // query deliberately OFF every corpus direction: if the query were
    // colinear with the top pick, every candidate's penalty would equal
    // its relevance and all MMR scores degenerate to exactly 0
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f, 0f, 0f)),   // rel ≈ .994
      (2L, Array(0.9f, 0.11f, 0f, 0f)),  // near-dup of 1 (cos ≈ .99995)
      (3L, Array(0.6f, -0.6f, 0f, 0f)),  // diverse, rel ≈ .707
      (4L, Array(0f, 1f, 0f, 0f)))       // orthogonal to the query
      .toDF("vec_id", "embedding")
    val q = Array(1f, 0f, 0f, 0f)
    val order = Similarity.mmrSelect(corpus, q, k = 3, lambda = 0.5)
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    // 1 first (max rel); then 3 (2's penalty vs 1 crushes it); then 2
    // (−0.004 still beats 4's −0.055)
    assert(order == Seq(1L, 3L, 2L), s"order=$order")
    val first = Similarity.mmrSelect(corpus, q, k = 1, lambda = 0.5).head()
    assert(first.isNullAt(3), "first pick has no penalty")
    assert(first.getDouble(4) == 0.5 * first.getDouble(2))
    // λ=1: pure relevance ranking with id tiebreaks
    val rel = Similarity.mmrSelect(corpus, q, k = 4, lambda = 1.0)
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    val expected = corpus.select(col("vec_id"),
        Similarity.cosine(col("embedding"), typedLit(q)).as("c"))
      .orderBy(col("c").desc, col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(rel == expected, s"λ=1 selection $rel != relevance order $expected")
    // corpus smaller than k refuses loudly
    intercept[IllegalArgumentException](
      Similarity.mmrSelect(corpus, q, k = 5))
    spark.catalog.clearCache()
  }

  test("daviesBouldin: hand-computed scatters and ratios on orthogonal clusters") {
    val s = spark; import s.implicits._
    val cents = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
    val vecs = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),   // cos 1 to c1 → dist 0
      (11L, Array(1f, 1f, 0f, 0f)),   // cos √½ to both → c1 by min-cid tie
      (20L, Array(0f, 1f, 0f, 0f)))   // cos 1 to c2 → dist 0
      .toDF("vec_id", "embedding")
    val got = Similarity.daviesBouldin(vecs, cents)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // vec 11's dist fp, with the operator's exact expression shape:
    // cos = dot / (||a||·||c||) = 1 / (√2·√1)
    val q11 = math.floor(
      (1.0 - 1.0 / (math.sqrt(2.0) * math.sqrt(1.0))) * 1000000.0)
    val s1 = (0.0 + q11) / 2.0 // cluster 1: members 10, 11
    val s2 = 0.0
    val d12 = 1.0 // orthogonal centroids
    assert(got(1L) == ((2L, s1, (s1 + s2) / d12)))
    assert(got(2L) == ((1L, s2, (s2 + s1) / d12)))
    intercept[IllegalArgumentException](
      Similarity.daviesBouldin(vecs, cents.take(1)))
    spark.catalog.clearCache()
  }

  test("prototypePrune: rank cut keeps the hard tail, integer-division law") {
    val s = spark; import s.implicits._
    // One dominant centroid; cosines strictly ordered by construction.
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)))
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),     // cos 1.0    rank 1 (dropped)
      (2L, Array(1f, 0.5f, 0f, 0f)),   // rank 2 (dropped)
      (3L, Array(1f, 1f, 0f, 0f)),     // rank 3 (kept)
      (4L, Array(1f, 2f, 0f, 0f)),     // rank 4 (kept)
      (5L, Array(0f, 1f, 0f, 0f)))     // cos 0.0    rank 5 (kept)
      .toDF("vec_id", "embedding")
    val kept = Similarity.prototypePrune(vecs, cents, dropPct = 40)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    // cnt=5, drop = 5*40 div 100 = 2 → ranks 3..5 survive
    assert(kept == Map(3L -> 3, 4L -> 4, 5L -> 5))
    // dropPct = 0 keeps everything with ranks intact
    assert(Similarity.prototypePrune(vecs, cents, dropPct = 0).count() == 5)
    // per-cluster law on real embeddings: kept = cnt - cnt·50 div 100
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val cents8 = Similarity.centroidsOf(emb.filter(col("vec_id") < 8))
    val sizes = Similarity.kmeansAssign(emb, cents8)
      .groupBy("centroid_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val keptSizes = Similarity.prototypePrune(emb, cents8)
      .groupBy("centroid_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    sizes.foreach { case (cid, cnt) =>
      val expectKept = cnt - cnt * 50 / 100
      assert(keptSizes.getOrElse(cid, 0L) == expectKept, s"cid=$cid cnt=$cnt")
    }
  }

  test("hardNegatives: same-label and self pairs excluded, exact ranks") {
    val s = spark; import s.implicits._
    // 1-D "embeddings": cosine is sign(x*q) — anchors get ranked by sign
    // only, so use 2-D vectors with distinct angles instead.
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 0),   // anchor, label 0
      (1L, Seq(1.0f, 0.1f), 0),   // same label -> excluded
      (2L, Seq(1.0f, 0.2f), 1),   // nearest cross-label
      (3L, Seq(0.0f, 1.0f), 1),   // orthogonal
      (4L, Seq(-1.0f, 0.0f), 2))  // opposite
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(rows,
        rows.filter(col("vec_id") === 0L), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq.sortBy(_._3) == Seq((0L, 2L, 1), (0L, 3L, 2)))
  }


  test("covarianceMatrix: exact closed form on integer vectors") {
    val s = spark; import s.implicits._
    val rows = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), Seq(5.0f, 6.0f))
      .toDF("embedding")
    val got = Similarity.covarianceMatrix(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // population covariances all 24/9 = 8/3 on these lines
    val tp = BigInt(1) << 40
    def want(sxy: BigInt, si: BigInt, sj: BigInt): Double =
      ((BigInt(3) * sxy * tp - si * sj * tp).toDouble / BigInt(9).toDouble) / tp.toDouble
    assert(got.keySet == Set((1L, 1L), (1L, 2L), (2L, 2L)))
    assert(got((1L, 1L)) == ((3L, want(35, 9, 9))))
    assert(got((1L, 2L)) == ((3L, want(44, 9, 12))))
    assert(got((2L, 2L)) == ((3L, want(56, 12, 12))))
    assert(math.abs(got((1L, 1L))._2 - 8.0 / 3.0) < 1e-9)
    spark.catalog.clearCache()
  }

}
