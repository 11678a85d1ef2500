package graft.text

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Near-dup/exact dedup + text fingerprints: correctness on planted
  * duplicates and plan-level scale assertions (no all-pairs joins).
  */
class TextDedupSpec extends SparkSpec {

  private def syntheticDocs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      // near-dup of 1: one token changed
      (2L, "the quick brown fox jumps over the lazy cat again and again today"),
      (3L, "completely different text about spark shuffles and partitions here now"),
      // exact dup of 3 (whitespace/case normalized away)
      (4L, "  Completely different text about spark shuffles and partitions here now "),
      (5L, "unrelated fifth document with its own words entirely disjoint tokens"),
    ).toDF("doc_id", "text")
  }

  test("nearDupPairs finds the planted near-dup and nothing else") {
    val pairs = TextDedup.nearDupPairs(syntheticDocs, "doc_id", "text",
      shingleN = 3, numBands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missing planted near-dup in $pairs")
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((2L, 5L)))
  }

  test("nearDupPairs plan has no CartesianProduct (LSH-bucketed, not all-pairs)") {
    val plan = TextDedup.nearDupPairs(Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("nearDupPairs on driver documents verifies candidates with exact Jaccard") {
    val pairs = TextDedup.nearDupPairs(Tables.documents(spark, sfDir), "doc_id", "text")
    assert(pairs.filter(col("jaccard") < 0.8 || col("jaccard") > 1.0).count() == 0)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("nearDupPairs on mass exact duplicates: every copy pair once, no CartesianProduct") {
    import spark.implicits._
    // 200 copies of one text: every band bucket of the copies holds 200
    // members; plus a near-dup pair and a loner
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hostile = spark.range(100L, 300L)
      .selectExpr("id AS doc_id", s"'$text' AS text")
      .unionByName(Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again today"),
        (2L, "the quick brown fox jumps over the lazy cat again and again today"),
        (3L, "unrelated fifth document with its own words entirely disjoint tokens"))
        .toDF("doc_id", "text"))
    val pairs = TextDedup.nearDupPairs(hostile, "doc_id", "text", threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val copies = (for (a <- 100L until 300L; b <- a + 1 until 300L) yield (a, b, 1.0)).toSet
    assert(got.length == got.toSet.size, "a candidate pair is emitted twice")
    assert(got.filter(_._1 >= 100L).toSet == copies)
    assert(got.filter(_._1 < 100L).map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)))
  }

  test("contaminationScores counts exactly the shingles shared with the probe set") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 4 trigram shingles
      (2L, "totally disjoint words nothing here"),
      (3L, "xx yy")).toDF("doc_id", "text") // < 3 tokens → 0 shingles
    val probe = Seq(
      (100L, "beta gamma delta epsilon other tail")).toDF("doc_id", "text")
    val out = TextDedup.contaminationScores(corpus, probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // doc 1 shares "beta gamma delta" and "gamma delta epsilon"
    assert(out == Map(1L -> ((4, 2L)), 2L -> ((3, 0L)), 3L -> ((0, 0L))))
  }

  test("contaminationScores plan joins on shingle hash, never all-pairs") {
    val docs = Tables.documents(spark, sfDir)
    val plan = TextDedup.contaminationScores(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"all-pairs join in plan:\n$plan")
  }

  test("jaccardNearDupPairs: count formula equals array-based exact Jaccard") {
    // Ground truth via the materialized-array form over the same hashed
    // shingle sets — the operator must reproduce it pair-for-pair at a
    // threshold (0.3) low enough to exercise non-dup scores too.
    val docs = syntheticDocs
    val sh = TextDedup.shingleHashedDocs(
      docs.filter(size(split(col("text"), " ")) >= 2), "doc_id", "text", 2)
    val a = sh.select(col("id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("doc_b"), col("sh").as("sh_b"))
    val expected = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_shared"),
        (size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = TextDedup.jaccardNearDupPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // planted near-dup (1,2) and the case/whitespace-variant pair (3,4) —
    // shingling is NOT normalized, so (3,4) scores high but below 1.0
    assert(got.exists(p => p._1 == 1L && p._2 == 2L) &&
      got.exists(p => p._1 == 3L && p._2 == 4L && p._4 < 1.0))
  }

  test("jaccardNearDupPairs: maxDf drops ubiquitous shingles, lower-bounds J") {
    val s = spark; import s.implicits._
    // "x y" appears in all three docs (df=3); with maxDf=2 it leaves the
    // posting list, so doc1-doc2's intersection loses one shingle while
    // their set sizes keep it — a strict lower bound, never an overcount.
    val docs = Seq(
      (1L, "x y a b c d"), (2L, "x y a b c e"), (3L, "x y q r s t"))
      .toDF("doc_id", "text")
    def j(maxDf: Option[Int]) = TextDedup.jaccardNearDupPairs(
        docs, "doc_id", "text", shingleN = 2, threshold = 0.01, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val exact = j(None); val capped = j(Some(2))
    assert(exact((1L, 2L)) == 4.0 / 6.0 && capped((1L, 2L)) == 3.0 / 7.0)
    assert(capped.forall { case (k, v) => v <= exact(k) })
    // pairs related ONLY through the dropped shingle disappear entirely
    assert(exact.contains((1L, 3L)) && !capped.contains((1L, 3L)))
  }

  test("prefix-filtered AllPairs equals the count-based exact form") {
    // Independent formulations, same exact contract — on the synthetic
    // docs AND at a threshold low enough that prefixes get long.
    for (t <- Seq(0.3, 0.5, 0.8)) {
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSet
      val a = norm(TextDedup.jaccardNearDupPairs(
        syntheticDocs, "doc_id", "text", shingleN = 2, threshold = t))
      val b = norm(TextDedup.jaccardNearDupPairsPrefix(
        syntheticDocs, "doc_id", "text", shingleN = 2, threshold = t))
      assert(a == b, s"t=$t: count-based $a != prefix $b")
    }
  }

  test("prefix-filtered plan: equi-join candidates, no CartesianProduct") {
    val plan = TextDedup.jaccardNearDupPairsPrefix(
        Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"all-pairs join in plan:\n$plan")
  }

  test("jaccardNearDupPairs plan: posting equi-join, no CartesianProduct") {
    val plan = TextDedup.jaccardNearDupPairs(
        Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"all-pairs join in plan:\n$plan")
  }

  test("exact dedup keeps the min-id copy of normalized-identical texts") {
    val kept = TextDedup.dropDuplicateContent(syntheticDocs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
    val summary = TextDedup.exactDedupSummary(syntheticDocs, "doc_id", "text")
    assert(summary.filter(col("n_copies") === 2).count() == 1)
  }

  test("simhash: near-dups are close in Hamming distance, unrelated docs far") {
    val sh = TextDedup.simhash(syntheticDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(3L) == sh(3L))
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(5L)),
      s"near-dup ${hamming(sh(1L), sh(2L))} !< unrelated ${hamming(sh(1L), sh(5L))}")
  }

  test("fingerprint is order-sensitive and stable") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "beta alpha gamma"),
      (3L, "alpha beta gamma")).toDF("doc_id", "text")
    val fp = TextDedup.fingerprint(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L), "identical text must fingerprint identically")
    assert(fp(1L) != fp(2L), "token swap must change the fingerprint")
  }

  test("shingles are distinct 1-based n-grams; short docs yield empty sets") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d"), Tuple1("x y")).toDF("text")
      .select(TextDedup.shingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toSet)
    assert(rows(0) == Set("a b c", "b c d"))
    assert(rows(1) == Set.empty)
  }

  test("keepCanonical keeps exactly corpus − (cluster members except min id)") {
    val s = spark; import s.implicits._
    // Planted clusters {1,2}, {3,4,6} (identical text ⇒ hamming 0),
    // 5 unique; expected survivors: min of each cluster + the singleton.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today", "en"),
      (2L, "the quick brown fox jumps over the lazy dog again today", "en"),
      (3L, "completely different text about spark shuffles and partitions now", "en"),
      (4L, "completely different text about spark shuffles and partitions now", "de"),
      (6L, "completely different text about spark shuffles and partitions now", "fr"),
      (5L, "unrelated fifth document with its own entirely disjoint tokens", "en"),
    ).toDF("doc_id", "text", "lang")
    val out = TextDedup.keepCanonical(docs, "doc_id",
      TextDedup.simhashNearDupPairs(docs, "doc_id", "text"))
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang"),
      "survivors must keep the original columns")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L))
  }

  test("keepCanonical with no near-dups is the identity") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
    ).toDF("doc_id", "text")
    assert(TextDedup.keepCanonical(docs, "doc_id",
      TextDedup.simhashNearDupPairs(docs, "doc_id", "text")).count() == 2)
  }

  test("chunkDedup drops repeated chunks corpus-wide, keep-first by (doc, order)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a1 a2 a3 b1 b2 b3"),   // defines chunks A, B
      (2L, "a1 a2 a3 c1 c2 c3"),   // A already seen → keeps only C
      (3L, "a1 a2 a3 b1 b2 b3"),   // nothing left → empty, row preserved
      (4L, "z1 z2 z3 a1 a2 a3"),   // fresh Z kept, trailing A dropped
      (5L, "d1 d2 d3 d1 d2 d3"),   // self-repeat: first copy survives
    ).toDF("doc_id", "text")
    val out = TextDedup.chunkDedup(docs, "doc_id", "text", chunkWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("a1 a2 a3 b1 b2 b3", 2L, 2L)))
    assert(out(2L) == (("c1 c2 c3", 2L, 1L)))
    assert(out(3L) == (("", 2L, 0L)))
    assert(out(4L) == (("z1 z2 z3", 2L, 1L)))
    assert(out(5L) == (("d1 d2 d3", 2L, 1L)))
    intercept[IllegalArgumentException](
      TextDedup.chunkDedup(docs, "doc_id", "text", chunkWords = 0))
  }

  test("chunkDedup output is partitioning-independent (keep-first is a total order)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    val words = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(rnd.nextInt(12) + 1)(words(rnd.nextInt(words.size))).mkString(" ")))
      .toDF("doc_id", "text")
    def result(df: org.apache.spark.sql.DataFrame) =
      TextDedup.chunkDedup(df, "doc_id", "text", chunkWords = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val expected = result(docs)
    assert(result(docs.repartition(7)) == expected)
    assert(result(docs.repartition(1)) == expected)
  }

  test("keepCanonical and chunkDedup plans stay candidate-bounded (no all-pairs)") {
    val docs = Tables.documents(spark, sfDir)
    val p1 = TextDedup.keepCanonical(docs, "doc_id",
        TextDedup.simhashNearDupPairs(docs, "doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoop"),
      s"all-pairs join in keepCanonical plan:\n$p1")
    val p2 = TextDedup.chunkDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoop"),
      s"all-pairs join in chunkDedup plan:\n$p2")
  }

  test("containmentPairs: full quote scores 1.0 where jaccard stays low") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long),
      (3L, "totally disjoint content with other words here")).toDF("doc_id", "text")
    val cont = TextDedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // doc 1's five bigrams all appear in doc 2 → containment = 1.0
    assert(cont == Set((1L, 2L, 1.0)), s"got $cont")
    // the same pair is INVISIBLE to jaccard at any similar threshold:
    // J = 5 shared / (5 + 36 − 5) ≈ 0.14
    val jac = TextDedup.jaccardNearDupPairs(docs, "doc_id", "text",
        shingleN = 2, threshold = 0.5)
      .collect()
    assert(jac.isEmpty, "jaccard should miss the asymmetric quote pair")
  }

  test("incrementalNearDupPairs: old-old pairs never appear; flags are correct") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    val corpus = Seq((1L, text), (2L, text), (5L, other)).toDF("doc_id", "text")
    val fresh = Seq((10L, text), (11L, text), (20L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val got = TextDedup.incrementalNearDupPairs(corpus, fresh, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3),
        r.getBoolean(4))).toSet
    // (1,2) is a perfect old-old dup — MUST NOT be generated; every pair
    // touching 10/11 appears with the right flags, including new-new
    assert(got == Set(
      (1L, 10L, false, true), (1L, 11L, false, true),
      (2L, 10L, false, true), (2L, 11L, false, true),
      (10L, 11L, true, true)), s"got $got")
    // matches the full-corpus pass restricted to fresh-touching pairs
    val full = TextDedup.nearDupPairs(corpus.unionByName(fresh), "doc_id", "text")
      .filter(col("doc_a") >= 10L || col("doc_b") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(t => (t._1, t._2)) == full)
    val plan = TextDedup.incrementalNearDupPairs(corpus, fresh, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"banded join only:\n$plan")
    // the opt-in hot-bucket guard (hostile-corpus posture) is output-
    // equivalent to the default plain join — including with a planted
    // mega-bucket far past the cap
    val hostile = corpus.unionByName(
      spark.range(100L, 400L).selectExpr("id AS doc_id",
        s"'$text' AS text"))
    def pairs(cap: Option[Int]) =
      TextDedup.incrementalNearDupPairs(hostile, fresh, "doc_id", "text",
          cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(16)) == pairs(None))
    spark.catalog.clearCache()
  }

  test("dupSpans merges consecutive duplicated positions into maximal spans") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),                 // shares "a b c","b c d" with doc 2
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q r"),           // self-repetition: all 7 trigrams dup
      (4L, "u1 u2 u3 u4 u5 u6"),           // fully unique → no rows
      (5L, "a b c k l m n o b c d"),       // two islands: pos 1 and pos 9
    ).toDF("doc_id", "text")
    val got = TextDedup.dupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (1L, 1L, 4L, 2L, 4L),   // positions 1,2 → tokens 1..4
      (2L, 2L, 5L, 2L, 4L),   // positions 2,3 → tokens 2..5
      (3L, 1L, 9L, 7L, 9L),   // every position duplicated → whole doc
      (5L, 1L, 3L, 1L, 3L),   // "a b c" at pos 1
      (5L, 9L, 11L, 1L, 3L),  // "b c d" at pos 9 — separate island
    ), s"got $got")
  }

  test("dupSpans plan: posting equi-join + per-doc window, no CartesianProduct") {
    val plan = TextDedup.dupSpans(Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"pair blowup in plan:\n$plan")
  }

  test("chunkDedup reassembles surviving chunks in document order") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "m1 m2 m3"),
      (2L, "x1 x2 x3 m1 m2 m3 y1 y2 y3"), // middle chunk dropped, x/y order kept
    ).toDF("doc_id", "text")
    val out = TextDedup.chunkDedup(docs, "doc_id", "text", chunkWords = 3)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(out.getString(1) == "x1 x2 x3 y1 y2 y3")
    assert(out.getLong(2) == 3L && out.getLong(3) == 2L)
  }

  test("dropBoilerplate removes EVERY occurrence past the doc-frequency bar") {
    val s = spark; import s.implicits._
    // "b1 b2 b3" is in 3 docs → boilerplate (all copies go, unlike
    // chunkDedup which keeps the first); "m1 m2 m3" in only 2 → stays.
    val docs = Seq(
      (1L, "b1 b2 b3 u1 u2 u3"),
      (2L, "b1 b2 b3 m1 m2 m3"),
      (3L, "v1 v2 v3 b1 b2 b3"),
      (4L, "m1 m2 m3"),
      (5L, "b1 b2 b3"), // all chunks boilerplate → empty text, n_kept 0
    ).toDF("doc_id", "text")
    val got = TextDedup.dropBoilerplate(docs, "doc_id", "text",
        chunkWords = 3, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, "u1 u2 u3", 2L, 1L),
      (2L, "m1 m2 m3", 2L, 1L),
      (3L, "v1 v2 v3", 2L, 1L),
      (4L, "m1 m2 m3", 1L, 1L),
      (5L, "", 1L, 0L)), s"got $got")
  }

  test("keepCanonicalBy: quality winner per cluster, min-id ties, singletons kept") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d"), (3L, "a b c"), // cluster, 2 longest
      (5L, "x y"), (6L, "x y"),                    // cluster, tied → 5
      (9L, "solo doc")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = TextDedup.keepCanonicalBy(docs, "doc_id",
        size(TextDedup.tokens(col("text"))).cast("long"), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L, 9L), s"kept $kept")
    // same graph under the min-id policy keeps 1 — the policies differ
    // exactly on the quality pick
    val minId = TextDedup.keepCanonical(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 5L, 9L), s"minId $minId")
  }

  /** JVM replica of tokenHash60 for driver-side winnowing reference. */
  private def refHash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("winnowFingerprints matches a driver-side reference; density holds") {
    val s = spark; import s.implicits._
    val words = (0 until 40).map(i => s"w${i * 7 % 13}")
    val text = words.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = TextDedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // reference: k=3 grams, w=4 windows, rightmost min per window
    val grams = words.sliding(3).map(_.mkString(" ")).toVector
    val hs = grams.map(refHash60)
    val want = (0 to hs.size - 4).map { i0 =>
      val sub = hs.slice(i0, i0 + 4)
      val m = sub.min
      val pos = i0 + sub.lastIndexOf(m) + 1 // 1-based gram index
      (pos.toLong, m)
    }.toSet
    assert(got == want)
    // density: every window of 4 grams contains a selected position
    (0 to hs.size - 4).foreach { i0 =>
      assert(got.exists { case (p, _) => p >= i0 + 1 && p <= i0 + 4 },
        s"window at $i0 uncovered")
    }
  }

  test("winnowFingerprints: short docs fall back to one whole-array window") {
    val s = spark; import s.implicits._
    // 5 tokens -> 3 grams < w=4 -> exactly one (rightmost-min) fingerprint
    val docs = Seq((1L, "a b c d e"), (2L, "x y")).toDF("doc_id", "text")
    val got = TextDedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.count(_._1 == 1L) == 1)
    assert(!got.exists(_._1 == 2L)) // 2 tokens -> no 3-grams at all
    val grams = Seq("a b c", "b c d", "c d e").map(refHash60)
    val m = grams.min
    assert(got.find(_._1 == 1L).get ==
      ((1L, (grams.lastIndexOf(m) + 1).toLong, m)))
  }

  test("winnowing guarantee: docs sharing w+k-1 tokens share a fingerprint") {
    val s = spark; import s.implicits._
    val shared = "s1 s2 s3 s4 s5 s6" // w+k-1 = 6 shared tokens
    val docs = Seq(
      (1L, s"p1 p2 p3 p4 $shared q1 q2"),
      (2L, s"r1 $shared t1 t2 t3")).toDF("doc_id", "text")
    val fp = TextDedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val common = fp.filter(_._1 == 1L).map(_._2).toSet
      .intersect(fp.filter(_._1 == 2L).map(_._2).toSet)
    assert(common.nonEmpty)
  }


  test("sortedNeighborPairs: window bound, exact jaccard, adjacency") {
    val s = spark; import s.implicits._
    // lexicographic order: a..., b..., c..., d... — near-dups adjacent
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota"),
      (4L, "zeta eta theta iota")).toDF("doc_id", "text")
    val got = TextDedup.sortedNeighborPairs(docs, "doc_id", "text", w = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // sort: 1, 2, 3, 4 (doc_id tiebreak on identical texts 3/4)
    // pairs: (1,2) g1, (1,3) g2, (2,3) g1, (2,4) g2, (3,4) g1
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // doc1/doc2 share "alpha beta gamma" of 2 distinct 3-grams each:
    // |∩|=1, |∪|=3 → 333333; identical docs → 10^6
    assert(got((1L, 2L)) == ((1L, 333333L)))
    assert(got((3L, 4L)) == ((1L, 1000000L)))
    assert(got((1L, 3L))._2 == 0L)
    spark.catalog.clearCache()
  }


  test("lshTuningTable: S-curve values exact at hand grid points") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L, 0.5), (3L, 4L, 1.0)).toDF("a", "b", "jaccard")
    val got = TextDedup.lshTuningTable(pairs, "jaccard",
        Seq((1, 1), (2, 1), (1, 2)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // (b=1,r=1): mean of P=s over {0.5, 1.0} = (5e8 + 1e9) div 2
    assert(got((1L, 1L)) == (500000000L + 1000000000L) / 2)
    // (b=2,r=1): P = 1-(1-s)^2 -> {0.75, 1.0}
    assert(got((2L, 1L)) == (750000000L + 1000000000L) / 2)
    // (b=1,r=2): P = s^2 -> {0.25, 1.0}
    assert(got((1L, 2L)) == (250000000L + 1000000000L) / 2)
  }


  test("weightedJaccardPairs: idf^2 weighting discounts boilerplate overlap") {
    val s = spark; import s.implicits._
    // Docs 1/2 share only the boilerplate prefix "the same header" that
    // EVERY doc carries (df=4 -> low idf); docs 3/4 additionally share a
    // rare tail. Plain Jaccard scores both pairs equally; idf^2 weighting
    // must score (3,4) strictly higher.
    val docs = Seq(
      (1L, "the same header alpha beta"),
      (2L, "the same header gamma delta"),
      (3L, "the same header rare tail"),
      (4L, "the same header rare tail")).toDF("doc_id", "text")
    val got = TextDedup.weightedJaccardPairs(docs, "doc_id", "text",
        threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(got((3L, 4L)) == 1.0)  // identical docs -> exactly 1
    assert(got((1L, 2L)) < got((3L, 4L)))
    // shared-prefix-only pairs: overlap is entirely boilerplate; with the
    // universal 2-grams at idf=0 the score collapses to ~0
    assert(got((1L, 2L)) < 0.05, s"boilerplate pair scored ${got((1L, 2L))}")
    spark.catalog.clearCache()
  }

  test("shinglePairDots: n_shared equals shinglePairCounts") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the same header alpha beta"),
      (2L, "the same header gamma delta"),
      (3L, "the same header rare tail"),
      (4L, "the same header rare tail"),
      (5L, "completely different words here")).toDF("doc_id", "text")
    val sh = TextDedup.shingleHashedDocs(docs, "doc_id", "text", n = 2)
      .persist()
    val dots = TextDedup.shinglePairDots(sh).persist()
    val counts = TextDedup.shinglePairCounts(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fromDots = dots.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(fromDots == counts,
      "n_shared must be identical across the widened pair table")
    spark.catalog.clearCache()
  }

}
