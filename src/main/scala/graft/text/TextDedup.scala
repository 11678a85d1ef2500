package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large text corpora: exact (content-hash),
  * near-duplicate (MinHash + LSH banding with exact-Jaccard verification),
  * SimHash fingerprints, and a positional rolling-hash fingerprint.
  *
  * Scale posture (the 100 TB contract):
  *  - near-dup candidate generation is LSH-bucketed — a shuffle-join on
  *    (band, band_hash), NEVER an all-pairs cross join (plan-asserted in
  *    TextDedupSpec: no CartesianProduct);
  *  - per-document signatures (minhash / simhash / fingerprint) are computed
  *    row-locally with array expressions — zero shuffles, fully codegen'd
  *    built-ins, no UDFs;
  *  - the exact-Jaccard verify touches only candidate pairs (a tiny fraction
  *    of n²); shingle sets ride along on the candidate join.
  *
  * All hashing uses engine built-ins (xxhash64 internally where
  * cross-engine parity is not needed, md5-derived 60-bit hashes where the
  * DuckDB oracle must reproduce the value bit-for-bit).
  */
object TextDedup {

  /** Whitespace tokens (split on single space — documents are
    * single-space-separated word streams).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles, 1-based window over the token array —
    * the standard near-dup unit (shingle → minhash → band → bucket join).
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(shinglesAll(text, n))

  /** Every n-gram OCCURRENCE (no per-doc dedup) — [[shingles]] dedups for
    * set-similarity; frequency operators (count-min sketching, term
    * counting) need the multiset.
    */
  def shinglesAll(text: Column, n: Int): Column =
    // The token array is bound as a LAMBDA VARIABLE (via a one-element
    // transform) so split() runs once per row: a computed expression
    // referenced inside an HOF lambda body re-evaluates on EVERY element
    // access (see shingleHashesFromTokenHashes below), and the direct
    // form re-ran split() for each of the n element_at reads of every
    // gram — O(n·grams) full tokenizations per document.
    element_at(
      transform(array(tokens(text)), w => {
        val grams = transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
        when(size(w) >= n, grams).otherwise(array().cast("array<string>"))
      }),
      1)

  /** n-gram hashes over an ALREADY-MATERIALIZED token-hash array column.
    *
    * The token-hash array must be a real projected column, not a nested
    * expression: Spark evaluates higher-order lambdas interpreted (no
    * whole-stage codegen, no common-subexpression elimination), so a
    * non-trivial expression referenced inside the lambda is re-computed on
    * EVERY element access — nesting `transform(tokens, hash)` here made the
    * pipeline quadratic in document length. Stage the arrays through
    * `select`s instead (see [[shingleHashedDocs]]).
    */
  def shingleHashesFromTokenHashes(tokenHashes: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(tokenHashes) - (n - 1)),
      i => xxhash64((0 until n).map(j => element_at(tokenHashes, i + j)): _*))
    array_distinct(
      when(size(tokenHashes) >= n, grams).otherwise(array().cast("array<long>")))
  }

  /** (id, sh) with sh = distinct hashed n-gram shingles — each token
    * xxhash64'd once, each n-gram combining the n token hashes; no string
    * concatenation, and all downstream ops (minhash, intersect/union) work
    * on longs. Set-equivalent to [[shingles]] (64-bit collisions are
    * negligible at any corpus size that fits a cluster) at a fraction of
    * the cost. Intermediate arrays are staged as projected columns — see
    * [[shingleHashesFromTokenHashes]] for why that matters.
    */
  def shingleHashedDocs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    docs
      .select(col(idCol).cast("long").as("id"),
        transform(tokens(col(textCol)), t => xxhash64(t)).as("__hw"))
      .select(col("id"), shingleHashesFromTokenHashes(col("__hw"), n).as("sh"))

  /** MinHash LSH band keys via the native [[graft.functions.MinHashSignature]]
    * expression: the whole signature is one row-local pass over the hashed
    * shingle array inside whole-stage codegen, then each band's run of
    * minimums folds into one 64-bit bucket key.
    *
    * This is a pure map stage — NO exchange. (The relational alternative,
    * explode + 64 min() agg columns, shuffles the entire exploded shingle
    * stream; at corpus scale that shuffle dominates the operator.)
    * Output: (id, bk struct<band:int, h:long>), numBands rows per doc.
    */
  def minhashBands(shingleSets: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val nHashes = numBands * rowsPerBand
    graft.functions.MinHashSignature.register(shingleSets.sparkSession)
    shingleSets
      .select(col("id"),
        graft.functions.MinHashSignature.minhashSignature(col("sh"), nHashes).as("sig"))
      .select(col("id"), explode(array((0 until numBands).map { bnd =>
        struct(lit(bnd).as("band"),
          xxhash64(slice(col("sig"), bnd * rowsPerBand + 1, rowsPerBand)).as("h"))
      }: _*)).as("bk"))
  }

  /** Near-duplicate pairs (doc_a < doc_b) with exact shingle-set Jaccard >=
    * threshold, found via MinHash/LSH candidate generation + exact verify.
    *
    * The candidate self-join is an equi-join on the band key — it shuffles
    * each doc's numBands rows, not n² pairs. Recall is governed by
    * (numBands, rowsPerBand): the defaults (16×4) detect J=0.8 pairs with
    * p ≈ 0.9996 and J=0.9 pairs with p ≈ 1-1e-7. Precision is exact: every
    * candidate is verified with true Jaccard on the shingle sets.
    *
    * Candidates are the plain band self-join `a.bk = b.bk AND a.id < b.id`,
    * deduplicated; AQE skew splitting bounds per-TASK load on a hot band
    * bucket. Dedup exact duplicates upstream with dropDuplicateContent
    * where the clique output itself isn't wanted.
    *
    * Nothing is persisted: the shingle table feeds the banding stage and
    * both verify joins inside this one plan, and re-shingling is cheaper
    * than the nested plan a persist materializes under AQE.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numBands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.8): DataFrame = {
    // Short documents (< n tokens) have no shingles; exclude them with a
    // cheap SOURCE-column predicate. (A filter on the computed shingle
    // array would be alias-substituted by predicate pushdown and re-run
    // the whole pipeline at the scan.)
    val sh = shingleHashedDocs(
      docs.filter(size(tokens(col(textCol))) >= shingleN), idCol, textCol, shingleN)
    val banded = minhashBands(sh, numBands, rowsPerBand)
    val a = banded.select(col("id").as("doc_a"), col("bk"))
    val b = banded.select(col("id").as("doc_b"), col("bk"))
    val cand = a.join(b, Seq("bk")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup — the nightly-ingest shape of [[nearDupPairs]]:
    * score ONLY pairs involving at least one document from the fresh
    * batch; the existing corpus is never compared against itself. The
    * band join puts the fresh batch's band keys on one side and the
    * whole collection's on the other, so old–old pairs are never
    * GENERATED (not generated-then-filtered): candidate volume is
    * ∝ |fresh bands| × bucket occupancy, and a nightly batch against a
    * billion-doc corpus costs the batch's share, not the corpus
    * quadratic. In production the corpus-side signatures are the stored
    * per-doc state; here they're rebuilt per call (signatures must share
    * one hash space, which they do by construction).
    *
    * Output: (doc_a, doc_b, jaccard, a_new, b_new), doc_a < doc_b,
    * jaccard ≥ threshold, at least one of the flags true. Same
    * recall/verify contract as [[nearDupPairs]] (banding tuned for the
    * threshold; exact Jaccard verify on candidates only).
    *
    * Hot-bucket posture: by default (`cap = None`) the asymmetric band
    * join is one plain equi-join and AQE skew splitting bounds per-TASK
    * load — the fresh batch is small by contract, and the guard's extra
    * stages (size agg, salting, broadcasts) would roughly double the
    * query's fixed cost at modest corpora for protection the common
    * case doesn't need. Against a HOSTILE corpus (mass exact-dups
    * concentrating one bucket), pass `cap = Some(n)`: the join runs
    * through [[graft.operators.CandidatePairs.crossBucketPairs]], which
    * salts the corpus side of a hot bucket into ceil(m/n) cells with
    * EXACT pair coverage — bounded per-task input, identical output
    * (spec-asserted equivalence).
    *
    * CACHE LIFECYCLE: the combined corpus+fresh shingle table is
    * persisted per call, and a Dataset persist registers in the session
    * CacheManager: it stays until `clearCache()`/session end, not until
    * the returned plan is garbage-collected; a nightly
    * pipeline should hold the corpus shingle table as stored state and
    * rebuild only the fresh share (here both are rebuilt per call, the
    * sandbox stand-in for stored per-doc signatures).
    */
  def incrementalNearDupPairs(corpus: DataFrame, fresh: DataFrame,
                              idCol: String, textCol: String,
                              shingleN: Int = 3, numBands: Int = 16,
                              rowsPerBand: Int = 4,
                              threshold: Double = 0.8,
                              cap: Option[Int] = None): DataFrame = {
    val all = corpus
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__t"),
        lit(false).as("__new"))
      .unionByName(fresh.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__t"), lit(true).as("__new")))
    val flags = all.select(col("id"), col("__new"))
    val sh = shingleHashedDocs(
      all.filter(size(tokens(col("__t"))) >= shingleN), "id", "__t", shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Under the guard, banded feeds four consumers (corpus side twice —
    // size agg + salting — and the fresh side twice); persist it there
    // so the minhash signature pass runs once (numBands rows/doc; same
    // lifecycle note as sh). The default path keeps the two-consumer
    // plan unpersisted.
    val banded0 = minhashBands(sh, numBands, rowsPerBand)
    val banded = cap.fold(banded0)(_ => banded0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val newBanded = banded
      .join(flags.filter(col("__new")).select(col("id")), Seq("id"),
        "left_semi")
    val rawCand = cap match {
      case Some(c) =>
        graft.operators.CandidatePairs.crossBucketPairs(
            banded.select(col("id"), col("bk")),
            newBanded.select(col("id"), col("bk")), c)
          .select(col("id_big").as("id_all"), col("id_small").as("id_new"))
      case None =>
        banded.select(col("id").as("id_all"), col("bk"))
          .join(newBanded.select(col("id").as("id_new"), col("bk")), Seq("bk"))
          .select(col("id_all"), col("id_new"))
    }
    val cand = rawCand
      .filter(col("id_all") =!= col("id_new"))
      .select(least(col("id_all"), col("id_new")).as("doc_a"),
        greatest(col("id_all"), col("id_new")).as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .join(flags.select(col("id").as("doc_a"), col("__new").as("a_new")),
        Seq("doc_a"))
      .join(flags.select(col("id").as("doc_b"), col("__new").as("b_new")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("a_new"),
        col("b_new"))
  }

  /** Exact n-gram Jaccard near-duplicate pairs — the signature-free dedup
    * flavor: no MinHash, no banding, no candidate/verify split. The
    * shingle table is exploded into a posting list (shingle-hash → doc)
    * and every pair's intersection size is COUNTED from posting
    * co-occurrence ([[graft.operators.CandidatePairs.inBucketPairCounts]]);
    * Jaccard then follows from |A∩B| and the per-doc set sizes —
    * `i / (|A| + |B| - i)` — so no shingle array ever rides on a pair row.
    *
    * Versus [[nearDupPairs]] (MinHash+LSH): this is exact at ANY
    * threshold (LSH banding tuned for J≥0.8 misses low-J pairs), at the
    * cost of work proportional to Σ df(s)² over shingle document
    * frequencies. The hot-bucket triangle split bounds any single task at
    * ~2·cap posting rows, so a boilerplate shingle shared by a million
    * docs scales out instead of melting one reducer — but its total pair
    * stream is still quadratic, which is why corpora with heavy
    * boilerplate should set `maxDf`: shingles in more than maxDf docs are
    * dropped from the posting list (they carry no discriminating signal;
    * the resulting Jaccard is then a documented lower bound, as the
    * dropped shingles still count in |A|+|B|). maxDf=None is exact and is
    * what the q70 oracle replays.
    *
    * Output: (doc_a, doc_b, n_shared, jaccard), doc_a < doc_b,
    * jaccard >= threshold. Division is exact IEEE double on both engines,
    * so the DuckDB oracle reproduces the scores bit-for-bit.
    *
    * "Exact" is conditional on shingle hashing: n_shared counts 64-bit
    * xxhash64'd shingles, so an intra- or cross-doc hash collision would
    * shift a count where a string-shingle oracle would not. Collision
    * odds are ~m²/2⁶⁵ per doc pair (negligible at any corpus that fits a
    * cluster) but nonzero — the same caveat as [[shingleHashedDocs]].
    *
    * The shingle table is built here and persisted for this plan's
    * internal reuse (it stays in the session CacheManager until
    * unpersist/session end — see [[incrementalNearDupPairs]]'s lifecycle
    * note).
    */
  def jaccardNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 2, threshold: Double = 0.5,
                          maxDf: Option[Int] = None,
                          cap: Int = 2048): DataFrame =
    sizedPairCounts(docs, idCol, textCol, shingleN, maxDf, cap)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared") / (col("__na") + col("__nb") - col("n_shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The exact-set-similarity family's shingle table: the docs with at
    * least `shingleN` tokens as [[shingleHashedDocs]] (id, sh).
    */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int): DataFrame =
    shingleHashedDocs(docs.filter(size(tokens(col(textCol))) >= shingleN),
      idCol, textCol, shingleN)

  /** [[shinglePairCounts]] over the persisted [[shingleTable]], with both
    * docs' set sizes joined on: (doc_a, doc_b, n_shared, __na, __nb) —
    * what the Jaccard and containment scores divide. Set sizes are
    * row-local (size of the distinct-shingle array) — no aggregation; the
    * joins back onto pairs move one int per doc.
    */
  private def sizedPairCounts(docs: DataFrame, idCol: String,
                              textCol: String, shingleN: Int,
                              maxDf: Option[Int], cap: Int): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.select(col("id"), size(col("sh")).as("__n"))
    shinglePairCounts(sh, maxDf, cap)
      .join(sizes.select(col("id").as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("n_shared"), col("__na"), col("__nb"))
  }

  /** The posting-list co-occurrence count table (id_a, id_b, n_shared)
    * over a [[shingleHashedDocs]] table — the intermediate of every
    * intersection-based set-similarity score (Jaccard q70, containment
    * q110).
    */
  def shinglePairCounts(sh: DataFrame, maxDf: Option[Int] = None,
                        cap: Int = 2048): DataFrame = {
    val posting = dfFiltered(sh, maxDf)
    graft.operators.CandidatePairs.inBucketPairCounts(posting, cap)
  }

  /** The posting table of a shingle set table, optionally DF-filtered. */
  private def dfFiltered(sh: DataFrame, maxDf: Option[Int]): DataFrame = {
    val p = sh.select(col("id"), explode(col("sh")).as("bk"))
    maxDf.fold(p) { d =>
      require(d >= 1, s"maxDf must be >= 1, got $d")
      // DF filter = one map-side-combinable count on the posting key +
      // a semi join that is co-partitioned with the pair join's key.
      p.join(p.groupBy(col("bk")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= d).select("bk"), Seq("bk"), "left_semi")
    }
  }

  /** [[shinglePairCounts]] widened with the idf²-weighted DOT in the
    * SAME pair pass: (id_a, id_b, n_shared, dot), dot = Σ idf_fp² over
    * shared shingles with idf_fp = floor(ln(N/df)·10⁶) quantized once
    * per shingle — one co-occurrence join serves both the unweighted
    * (n_shared) and the idf-weighted (dot) scores. Runs one count job at
    * build time (corpus size for the idf table).
    */
  def shinglePairDots(sh: DataFrame, maxDf: Option[Int] = None,
                      cap: Int = 2048): DataFrame = {
    val posting = dfFiltered(sh, maxDf)
    // corpus size from the doc-grain table (one row per doc — every doc
    // has ≥1 shingle by the shingleHashedDocs contract); only a DF
    // filter can drop docs wholesale and force the posting-side count
    val n = maxDf.fold(sh.count())(_ =>
      posting.select(col("id")).distinct().count())
    graft.operators.CandidatePairs.inBucketPairDots(
      idfWeighted(posting, n, "shinglePairDots"), cap)
  }

  /** `posting` (id, bk) with each shingle's quantized idf weight
    * `__w` = floor(ln(n/df)·10⁶) over a corpus of `n` docs.
    */
  private def idfWeighted(posting: DataFrame, n: Long,
                          what: String): DataFrame = {
    require(n > 0, s"$what over an empty corpus")
    val idf = posting.groupBy(col("bk")).agg(count(lit(1)).as("__df"))
      .select(col("bk"),
        floor(log(lit(n.toDouble) / col("__df").cast("double"))
          * lit(1000000.0)).cast("long").as("__w"))
    posting.join(idf, Seq("bk"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric near-dup signal
    * Jaccard misses when sizes differ wildly: a short document quoted
    * wholesale inside a long one scores J = |A|/|B| ≈ 0 but containment
    * C = |A∩B|/min(|A|,|B|) ≈ 1 (the RefinedWeb/quote-detection
    * criterion, symmetrized by the min). Same posting-list pipeline,
    * candidate volume, and hashed-shingle caveat as
    * [[jaccardNearDupPairs]].
    *
    * Output: (doc_a, doc_b, n_shared, containment), doc_a < doc_b,
    * containment >= threshold; one exact IEEE division per pair, oracle-
    * reproducible.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 2, threshold: Double = 0.9,
                       maxDf: Option[Int] = None,
                       cap: Int = 2048): DataFrame =
    sizedPairCounts(docs, idCol, textCol, shingleN, maxDf, cap)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared") / least(col("__na"), col("__nb"))).as("containment"))
      .filter(col("containment") >= threshold)

  /** Exact n-gram Jaccard near-dup pairs via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07; public literature):
    * order every doc's shingles by ascending global document frequency
    * (rarest first, ties on the hash), keep only the first
    * `|A| - ceil(t·|A|) + 1` as the doc's prefix, and generate candidates
    * ONLY from prefix co-occurrence. Theorem: two sets with J ≥ t must
    * share at least one element within both prefixes under the same
    * global order — so verifying candidates with exact intersection
    * counts loses nothing, and the output is identical to
    * [[jaccardNearDupPairs]] (spec-asserted; q77 gates it on the same
    * oracle SQL as q70).
    *
    * Scale crossover vs the count-based form: candidate volume is
    * Σ prefix-df² over the RARE end of the shingle distribution instead
    * of Σ df² over all of it — on Zipfian real-text corpora at high
    * thresholds that is orders of magnitude smaller; on adversarially
    * uniform corpora (every pair co-occurring) both are output-bound and
    * the simpler count form wins by constants. Costs one extra shuffle
    * (the per-doc rank window) + the per-candidate array verify.
    *
    * Shares [[jaccardNearDupPairs]]'s hashed-shingle exactness caveat and
    * its persisted per-call shingle table.
    */
  def jaccardNearDupPairsPrefix(docs: DataFrame, idCol: String,
                                textCol: String, shingleN: Int = 2,
                                threshold: Double = 0.5,
                                cap: Int = 2048): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"jaccardNearDupPairsPrefix: threshold in (0,1], got $threshold")
    val sh = shingleTable(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = sh.select(col("id"), size(col("sh")).as("__n"),
      explode(col("sh")).as("bk"))
    val dfCounts = posting.groupBy(col("bk")).agg(count(lit(1)).as("__df"))
    // Prefix length uses a t nudged DOWN one ppb: a float ceil landing one
    // ULP above the exact product would SHORTEN the prefix and break the
    // filter's guarantee; a hair-longer prefix only adds candidates.
    val prefixLen = col("__n") -
      ceil(lit(threshold - 1e-9) * col("__n")) + lit(1)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__df").asc, col("bk").asc)
    // The prefix table feeds CandidatePairs' size-agg AND its pair join
    // (two consumers) — unpersisted, the whole posting ⋈ dfCounts ⋈
    // window pipeline re-ran once per consumer (three distinct bk
    // exchanges in the r16 executed plan). Prefix-sized state; per-call
    // lifecycle (harness clearCache).
    val prefix = posting.join(dfCounts, Seq("bk"))
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") <= prefixLen)
      .select(col("id"), col("bk"), col("__rk"), col("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // PPJoin POSITIONAL filter (Xiao et al., WWW'08; public literature)
    // on each meeting: J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|) = α, and for
    // the pair's FIRST shared prefix token at ranks (ra, rb) the overlap
    // is bounded by 1 + min(|A|−ra, |B|−rb). Keeping pairs where ANY
    // meeting passes is sound: the global df-order makes the first
    // meeting's bound the loosest, so a pair dropped here failed its
    // valid first-meeting bound (later meetings only ADD candidates the
    // exact verify discards). The bound is symmetric in the two sides,
    // which is exactly the alignment contract inBucketPairMeetings'
    // canonicalization requires. α is nudged one ppb DOWN: keeping a
    // borderline candidate is safe, dropping one is not. On the
    // templated-corpus regime (931 shingle buckets at sf0.1) this cut
    // candidates 7.9M → 3.5M and q77 ~5.0 → ~3.5 s (r16 profile).
    val meets = graft.operators.CandidatePairs.inBucketPairMeetings(prefix, cap)
    val alpha = ceil(lit(threshold / (1 + threshold) - 1e-9) *
      (col("__n") + col("__nb")))
    val cand = meets
      .filter(lit(1) + least(col("__n") - col("__rk"),
        col("__nb") - col("__rkb")) >= alpha)
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    cand
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a"),
        size(col("sh")).cast("long").as("__na")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b"),
        size(col("sh")).cast("long").as("__nb")), Seq("doc_b"))
      // same long-division expression as the count-based form, so the
      // jaccard doubles are bit-identical to q70's oracle
      .select(col("doc_a"), col("doc_b"), inter.as("n_shared"),
        (inter / (col("__na") + col("__nb") - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Test-set decontamination — the pretraining hygiene step: score every
    * corpus document by how many of its distinct n-gram shingles also
    * appear ANYWHERE in the probe set (eval/benchmark documents), so the
    * pipeline can drop or flag training docs that would leak test data.
    *
    * Returns one row per corpus document: (doc_id, n_shingles, n_shared);
    * callers threshold on the count or the ratio. Shingles are the same
    * xxhash64'd word n-grams as the near-dup path (set-equivalent to
    * string shingles; the q66 oracle recomputes the counts from string
    * sets).
    *
    * Scale posture: the probe side collapses to DISTINCT shingle hashes —
    * at eval-set sizes that's broadcast-small (AQE decides; no hint, the
    * operator also serves corpus-vs-corpus overlap where the probe is
    * big). The corpus side is the same map-only codegen'd shingle pass as
    * near-dup, exploded once; the overlap is a plain equi-join on the
    * shingle hash and a map-side-combinable count. A shingle shared by
    * many corpus docs fans out to those docs' rows only — never a pair
    * blowup, because the probe side is distinct.
    */
  def contaminationScores(corpus: DataFrame, probe: DataFrame, idCol: String,
                          textCol: String, shingleN: Int = 3): DataFrame = {
    val corpusSh = shingleHashedDocs(corpus, idCol, textCol, shingleN)
    val probeSh = shingleHashedDocs(probe, idCol, textCol, shingleN)
      .select(explode(col("sh")).as("h")).distinct()
    val shared = corpusSh.select(col("id").as("doc_id"), explode(col("sh")).as("h"))
      .join(probeSh, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpusSh.select(col("id").as("doc_id"), size(col("sh")).as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** Exact content dedup summary: one row per normalized-content hash with
    * the surviving (minimum) id and the duplicate count.
    */
  def exactDedupSummary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(lower(trim(col(textCol)))).as("content_hash"),
        col(idCol).as("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact content dedup: keep the minimum-id document per normalized text. */
  def dropDuplicateContent(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__ch")).orderBy(col(idCol).asc)
    docs.withColumn("__ch", md5(lower(trim(col(textCol)))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__ch")
  }

  /** 60-bit token hash derived from md5 — identical in Spark and DuckDB
    * (`conv(substring(md5(w),1,15),16,10)` ≡ `('0x'||substr(md5(w),1,15))::BIGINT`),
    * used wherever the oracle must reproduce signature values exactly.
    */
  def tokenHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** SimHash fingerprint (`bits` wide, default 60 to stay in a signed
    * long): bit b is set iff the sum over token instances of ±1 (sign of
    * bit b of the token hash) is positive.
    *
    * Relational formulation, like [[minhashBands]]: explode tokens, hash
    * each once, then ONE codegen'd map-side-combinable groupBy computing
    * all `bits` vote sums, and a flat 60-term pack. (An array-lambda
    * version walks bits×tokens through the interpreted HOF evaluator —
    * ~4× slower at bench scale.)
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val votes: Seq[Column] = (0 until bits).map { b =>
      sum(expr(s"2 * ((h >> $b) & 1) - 1")).as(s"s$b")
    }
    val packed = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .select(col("doc_id"), tokenHash60(col("w")).as("h"))
      .groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-duplicate pairs: band-bucketed candidate generation +
    * exact Hamming verify, completing SimHash as a dedup operator (q29
    * gates only the fingerprint). With `bands` equal-width bands over the
    * fingerprint, any pair within Hamming distance `bands - 1` leaves at
    * least one band untouched (pigeonhole), so candidate recall is EXACT
    * for `maxHamming <= bands - 1` — the q50 oracle (all-pairs at test
    * scale) checks precisely that. Candidates route through
    * [[graft.operators.CandidatePairs]], so a degenerate band bucket
    * (mass identical fingerprints) is triangle-split, never one reducer.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          bands: Int = 4, bits: Int = 60,
                          maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
    require(maxHamming <= bands - 1,
      s"recall is only exact for maxHamming <= ${bands - 1} with $bands bands")
    val width = bits / bands
    val sh = simhash(docs, idCol, textCol, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketed = sh.select(col("doc_id").as("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("v"))
      }: _*)).as("bk"))
    graft.operators.CandidatePairs.inBucketPairs(bucketed)
      .join(sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Positional polynomial fingerprint mod a prime near 1e9 (rolling-hash
    * family): fp = Σ_i (h(w_i) mod M) · i mod M, i 1-based. Order-sensitive
    * (token swaps change it) yet computed with a commutative sum, so it is
    * partitioning-independent.
    *
    * Overflow bounds hold for ANY document an array can hold: h mod M
    * < 2^30, position i ≤ Int.MaxValue < 2^31, so each term < 2^61; the
    * fold reduces mod M at every step, keeping the accumulator < 2^30 + 2^61.
    * (An earlier 1e15 modulus overflowed signed longs past ~9k tokens.)
    */
  val FingerprintMod: Long = 1000000007L

  def fingerprintCol(text: Column, m: Long = FingerprintMod): Column = {
    val terms = transform(tokens(text),
      (tok, i) => pmod(tokenHash60(tok), lit(m)) * (i.cast("long") + 1L))
    aggregate(terms, lit(0L), (acc, v) => pmod(acc + v, lit(m)))
  }

  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), fingerprintCol(col(textCol)).as("fp"))

  /** idf²-weighted set similarity — the templated-corpus fix for plain
    * Jaccard: boilerplate shingles (high document frequency) drown the
    * signal in |A∩B|, so weight each shingle by idf² and score
    *   wJ(A,B) = Σ_{s∈A∩B} idf(s)² / Σ_{s∈A∪B} idf(s)²
    * (any positive weight is a valid weighted-Jaccard instance; idf² is
    * what the posting-dot machinery computes EXACTLY: with per-posting
    * payload idf_fp, the pair dot Σ wa·wb over shared shingles is
    * Σ idf_fp² — integer-exact, no float fold).
    *
    * Determinism: idf_fp = floor(ln(N/df)·10⁶) quantized ONCE per
    * shingle; pair dots and per-doc Σ idf_fp² are exact long sums; the
    * one IEEE division per pair mirrors in the oracle. Scale posture is
    * [[jaccardNearDupPairs]]'s: posting-list co-occurrence through the
    * guarded pair join (per-task caps), never all-pairs.
    *
    * Output: (doc_a, doc_b, n_shared, dot, wjaccard), wjaccard ≥
    * threshold.
    */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 2, threshold: Double = 0.3,
                           cap: Int = 2048,
                           maxDf: Option[Int] = None): DataFrame = {
    // The posting table feeds the df counts, the weighted join, and the
    // corpus size — persisted for the call (session clearCache()
    // releases it). A DF filter changes the idf table AND the corpus
    // size, so both are taken from the filtered posting.
    val posting = dfFiltered(shingleTable(docs, idCol, textCol, shingleN),
        maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val weighted = idfWeighted(posting,
      posting.select(col("id")).distinct().count(), "weightedJaccardPairs")
    val docw = weighted.groupBy(col("id"))
      .agg(sum(col("__w") * col("__w")).as("__w2"))
    graft.operators.CandidatePairs.inBucketPairDots(weighted, cap)
      .join(docw.select(col("id").as("id_a"), col("__w2").as("__wa")), Seq("id_a"))
      .join(docw.select(col("id").as("id_b"), col("__w2").as("__wb2")), Seq("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("n_shared"), col("dot"),
        (col("dot").cast("double")
          / (col("__wa") + col("__wb2") - col("dot")).cast("double"))
          .as("wjaccard"))
      .filter(col("wjaccard") >= threshold)
  }

  /** LSH parameter-tuning table — "which (bands, rows) do I ship":
    * for each literal grid point, the expected recall of a minhash-band
    * blocking over the corpus's OWN observed near-dup pairs, via the
    * standard S-curve P(candidate | s) = 1 − (1 − s^r)^b evaluated at
    * each true pair's exact Jaccard. The tuning decision every dedup
    * deployment makes, computed from data instead of folklore.
    *
    * Determinism: s^r and (1−s^r)^b are UNROLLED left-associated
    * multiplication chains (never libm `pow`, whose last ulp differs
    * between engines), each pair's P is quantized ONCE to 10⁻⁹ fixed
    * point, and the per-cell mean is an exact long sum with truncating
    * division. The pair table is scanned ONCE: each pair fans out to one
    * row per grid cell (grid is literal-bounded, never data-sized), so an
    * unpersisted pair plan is never recomputed per cell.
    *
    * Output: (bands, rows_per_band, n_pairs, recall_fp) — recall in ppb.
    */
  def lshTuningTable(pairs: DataFrame, jaccardCol: String,
                     grid: Seq[(Int, Int)]): DataFrame = {
    require(grid.nonEmpty && grid.distinct.size == grid.size,
      s"lshTuningTable needs a distinct non-empty grid: $grid")
    require(grid.forall { case (b, r) => b >= 1 && r >= 1 && b <= 64 && r <= 64 },
      s"bands/rows must be in [1, 64]: $grid")
    def chainPow(base: Column, e: Int): Column =
      (1 until e).foldLeft(base)((acc, _) => acc * base)
    val s = col(jaccardCol).cast("double")
    val cells = grid.map { case (b, r) =>
      val p = lit(1.0) - chainPow(lit(1.0) - chainPow(s, r), b)
      struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        floor(p * lit(1.0e9)).cast("long").as("__pfp"))
    }
    pairs.select(explode(array(cells: _*)).as("__c"))
      .select(col("__c.bands"), col("__c.rows_per_band"), col("__c.__pfp"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__pfp")).as("__s"))
      .select(col("bands"), col("rows_per_band"), col("n_pairs"),
        expr("__s div n_pairs").as("recall_fp"))
  }

  /** Sorted-neighborhood dedup blocking (Hernández & Stolfo, SIGMOD
    * 1995): sort the corpus by a proximity-preserving key (here the text
    * itself — template corpora put near-duplicates lexicographically
    * adjacent) and emit only pairs within `w` positions of each other,
    * each verified with the EXACT shingle Jaccard. The classic
    * alternative blocking strategy to hashing families (minhash bands,
    * simhash buckets): O(N·w) candidate pairs by construction, no bucket
    * skew to guard.
    *
    * Shape: ONE global sort-exchange ranks the corpus (sorted
    * neighborhood is inherently a global order — at 100 TB use range
    * partitioning on the sort key; the windows-within-partition pairs are
    * unchanged), the ranked table is persisted (it is both pair sides;
    * per-call lifecycle), and each row fans out to its `w` forward
    * neighbors map-side — an equi-join on target rank, never an
    * inequality join.
    *
    * Output: (doc_a, doc_b, gap, jaccard_fp) — gap ∈ [1, w], Jaccard in
    * exact ppm over distinct n-gram shingles; pairs where both shingle
    * sets are empty are dropped (similarity undefined).
    */
  def sortedNeighborPairs(docs: DataFrame, idCol: String, textCol: String,
                          w: Int = 3, n: Int = 3): DataFrame = {
    require(w >= 1 && w <= 64, s"sortedNeighborPairs: w in [1, 64], got $w")
    val ranked = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        shingles(col(textCol), n).as("__sh"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__t").asc, col("doc_id").asc)).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = ranked
      .select(col("doc_id").as("doc_a"), col("__sh").as("__sa"), col("__rk"))
      .withColumn("gap", explode(sequence(lit(1L), lit(w.toLong))))
      .withColumn("__rt", col("__rk") + col("gap"))
    val b = ranked.select(col("doc_id").as("doc_b"), col("__sh").as("__sb"),
      col("__rk").as("__rt"))
    a.join(b, Seq("__rt"))
      .withColumn("__u", size(array_union(col("__sa"), col("__sb"))))
      .filter(col("__u") > 0)
      .select(col("doc_a"), col("doc_b"), col("gap"),
        expr("(CAST(size(array_intersect(__sa, __sb)) AS BIGINT) * 1000000)" +
          " div __u").as("jaccard_fp"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): from the k-gram hash sequence, each window of
    * `w` consecutive hashes contributes its minimum (RIGHTMOST minimal on
    * ties, the paper's robust-winnowing choice), deduped as (position,
    * hash) pairs. Guarantees: any shared run of w + k − 1 tokens between
    * two documents shares at least one fingerprint, and at least one
    * fingerprint survives per window span — the positional partial-overlap
    * detector whole-document hashing ([[fingerprint]]) cannot give.
    *
    * Entirely row-local (one map pass, no exchange), and — after r12's
    * verdict named the interpreted-HOF eval here the suite's #1 cost —
    * entirely NATIVE: gram hashing is [[graft.functions.GramHash60]]
    * (token bytes streamed into one reused MD5, no per-gram string or
    * hex materialization) and the window sweep is
    * [[graft.functions.WinnowMins]] (O(n) monotonic-deque rightmost-min
    * selection), both inside whole-stage codegen with parity specs
    * pinning native ≡ the original HOF recipe ≡ interpreted eval.
    * Documents with fewer than w k-grams fall back to one whole-array
    * window (so every non-empty gram sequence yields ≥ 1 fingerprint).
    *
    * Output: (doc_id, pos [1-based gram index], fp_hash), distinct.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, s"winnowFingerprints: k >= 1, got $k")
    require(w >= 2, s"winnowFingerprints: w >= 2, got $w")
    graft.functions.GramHash60.register(docs.sparkSession)
    graft.functions.WinnowMins.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.GramHash60.hashes(tokens(col(textCol)), k).as("__h"))
      .filter(size(col("__h")) >= 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowMins.fingerprints(col("__h"), w))
          .as("__f"))
      .select(col("doc_id"), col("__f.pos").as("pos"),
        col("__f.fp_hash").as("fp_hash"))
  }

  /** End-to-end near-dup REMOVAL — the step every dedup pipeline actually
    * ships: a near-dup pair graph `pairs` (doc_a, doc_b) — e.g.
    * [[simhashNearDupPairs]] — → connected components
    * ([[graft.graphs.ConnectedComponents]]) → keep ONE canonical document
    * per cluster (the minimum doc id, i.e. the component label) plus
    * every document in no cluster at all. Returns the SURVIVING docs
    * with their original columns.
    *
    * Anti-join shape: components yields (node, component); the losers are
    * exactly the nodes whose label differs from themselves, and the
    * survivors are `docs LEFT ANTI losers` — the full corpus never joins
    * against anything bigger than the near-dup node set (a tiny fraction
    * of the corpus by construction). At 100 TB the anti join shuffles on
    * the doc id like any equi-join; the loser side is small enough to
    * broadcast in real corpora.
    */
  def keepCanonical(docs: DataFrame, idCol: String,
                    pairs: DataFrame): DataFrame = {
    val comps = graft.graphs.ConnectedComponents.run(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val losers = comps.filter(col("node") =!= col("component"))
      .select(col("node").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** [[keepCanonical]] with an explicit QUALITY policy: per near-dup
    * cluster keep the member maximizing `score` (min id on ties), not
    * the min id — the curation-grade choice (RefinedWeb keeps the
    * longest/cleanest copy; min-id is only canonical-by-accident).
    * `score` is any deterministic numeric column over `docs` (token
    * count, q30 quality, a q138 classifier margin).
    *
    * Plan shape: the component fixpoint runs on the PAIR GRAPH only (the
    * [[keepCanonical]] argument); scores join onto the component node
    * set — near-dup-sized, not corpus-sized; the per-cluster argmax is
    * one map-side-combinable max-of-struct agg; survivors come back via
    * LEFT ANTI on the loser ids.
    */
  def keepCanonicalBy(docs: DataFrame, idCol: String, score: Column,
                      pairs: DataFrame): DataFrame = {
    val comps = graft.graphs.ConnectedComponents.run(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val scored = comps.join(
      docs.select(col(idCol).cast("long").as("node"), score.as("__s")),
      Seq("node"))
    // argmax(score, min id): max of (score, -node) structs — lexicographic
    val winners = scored.groupBy(col("component"))
      .agg(max(struct(col("__s").as("s"), (-col("node")).as("nn"))).as("__b"))
      .select((-col("__b.nn")).as("node"))
    val losers = comps.select(col("node"))
      .join(winners, Seq("node"), "left_anti")
      .select(col("node").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Paragraph-level dedup (C4/RefinedWeb-style): split every document
    * into consecutive `chunkTokens`-word chunks (the "paragraphs" of a
    * flat word-stream corpus), drop every chunk whose exact text already
    * appeared EARLIER in the corpus — first occurrence by (doc_id,
    * chunk order) survives, corpus-wide — and reassemble each document
    * from its surviving chunks in order. Documents whose every chunk was
    * boilerplate come back with empty text, preserving corpus row count
    * (callers filter on n_kept if they want drops).
    *
    * Output: (doc_id, clean_text, n_chunks, n_kept).
    *
    * Scale posture: chunking is row-local ([[graft.text.TextStats
    * .chunkTokens]] with zero overlap); keep-first is one window over the
    * chunk text — a hash shuffle keyed on the chunk STRING, which rides
    * every shuffled row (it is both the partition key and the payload the
    * reassembly needs), so a degenerate boilerplate chunk concentrates
    * its full text copies on one reducer. That is the same shape — and
    * the same skew exposure — as exact content dedup on raw text; chunks
    * are bounded at `chunkWords` tokens, which caps the per-row payload
    * in a way whole-document dedup can't. Reassembly is a
    * map-side-combinable collect+sort of the few surviving (idx, chunk)
    * structs per doc.
    */
  /** Duplicated-SPAN detection — the exact-substring dedup shape (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", reduced from suffix arrays to shingle granularity): a
    * token position is DUPLICATED when its n-token shingle occurs more
    * than once in the whole corpus (another document or elsewhere in its
    * own — repeated boilerplate counts), and maximal runs of consecutive
    * duplicated positions merge into spans. One row per (doc, span):
    * 1-based token bounds [span_start, span_end] (end covers the last
    * duplicated shingle's last token), the duplicated-shingle count, and
    * the span width in tokens.
    *
    * Whole-document dedup (q24/q27) misses PARTIAL overlaps — the quoted
    * paragraph inside an otherwise-novel page — which at web scale carry
    * most of the duplicated bytes; this finds exactly those.
    *
    * Scale posture: one positional shingle explode (linear in corpus
    * tokens), a map-side-combinable occurrence count on the 64-bit
    * shingle hash, a join back on that hash (posting-shaped; AQE skew
    * splitting applies), then a per-document gaps-and-islands window
    * over ONLY the duplicated positions — a small fraction of the corpus
    * after the df>1 filter. No global sort, no pair blowup: cost is
    * linear in corpus tokens + duplicated positions. Shingles are
    * 64-bit token-hash n-grams ([[shingleHashedDocs]]'s staging rule);
    * df structure equals string shingles up to collisions (q70 caveat).
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame = {
    require(n >= 1, s"dupSpans: shingle width must be >= 1, got $n")
    // Filter on the CHEAP token count, not on the hashed array: a filter
    // over a computed column is alias-substituted down to the scan
    // (CLAUDE.md gotcha), and documents is one input split — a pushed
    // xxhash64-transform filter would serialize the corpus hashing onto
    // a single core before the spread repartition ever runs (measured
    // 6.2 s vs 0.9 s at sf0.1).
    val grams = docs
      .filter(size(tokens(col(textCol))) >= n)
      .select(col(idCol).cast("long").as("doc_id"),
        transform(tokens(col(textCol)), t => xxhash64(t)).as("__hw"))
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("__hw")) - (n - 1)),
          i => xxhash64((0 until n).map(j => element_at(col("__hw"), i + j)): _*))
          .as("__g"))
      .select(col("doc_id"), posexplode(col("__g")))
      .select(col("doc_id"), (col("pos") + 1L).cast("long").as("pos"),
        col("col").as("s"))
    val dupShingles = grams.groupBy(col("s"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .select(col("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dupShingles, Seq("s"))
      .withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** BOILERPLATE removal by document frequency (the CCNet/C4 "frequent
    * line" filter): drop every chunk whose exact text appears in at
    * least `minDocs` DISTINCT documents — ALL its occurrences, first
    * included, which is what separates boilerplate removal from
    * [[chunkDedup]]'s keep-first dedup (nav bars and cookie banners are
    * noise in every copy, not content in their first). Documents
    * reassemble from surviving chunks in order; rows whose every chunk
    * was boilerplate come back with empty text (corpus row count
    * preserved, callers filter on n_kept).
    *
    * Output: (doc_id, clean_text, n_chunks, n_kept) — [[chunkDedup]]'s
    * contract.
    *
    * Scale posture: chunking is row-local; the frequency pass is one
    * distinct on (chunk, doc) + a map-side-combinable count, and the
    * removal list (chunks clearing `minDocs`) is by construction the
    * corpus's REPEATED tail — small, broadcast-friendly, anti-joined
    * against the chunk stream. Reassembly as in [[chunkDedup]].
    */
  def dropBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                      chunkWords: Int = 10, minDocs: Int = 3): DataFrame = {
    require(chunkWords > 0, s"dropBoilerplate: chunkWords must be positive")
    require(minDocs >= 2, s"dropBoilerplate: minDocs must be >= 2, got $minDocs")
    val chunks = TextStats.chunkTokens(docs, idCol, textCol, chunkWords, 0)
    val boiler = chunks.select(col("chunk_text"), col("doc_id")).distinct()
      .groupBy(col("chunk_text")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs).select(col("chunk_text"))
    val kept = chunks.join(boiler, Seq("chunk_text"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_start"), col("chunk_text")))),
            s => s.getField("chunk_text")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("doc_id"),
        ceil(size(tokens(col(textCol))).cast("double") / chunkWords)
          .cast("long").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 10): DataFrame = {
    require(chunkWords > 0, s"chunkDedup: chunkWords must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_text"))
      .orderBy(col("doc_id").asc, col("chunk_start").asc)
    val kept = TextStats.chunkTokens(docs, idCol, textCol, chunkWords, 0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_start"), col("chunk_text")))),
            s => s.getField("chunk_text")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("doc_id"),
        ceil(size(tokens(col(textCol))).cast("double") / chunkWords)
          .cast("long").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
