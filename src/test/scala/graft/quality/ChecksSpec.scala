package graft.quality

import graft.SparkSpec
import graft.pipeline.Medallion
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Quality combinators: each check passes on conforming data, fails with a
  * counted violation on planted bad rows, and the suite guards the gold
  * output the way dbt schema tests guard the reference's.
  */
class ChecksSpec extends SparkSpec {
  import spark.implicits._

  test("gold fct_sales_minute satisfies the reference's schema tests") {
    val fct = Medallion.salesMinute(Tables.events(spark, sfDir))
    val failures = Checks.keyContract(fct, "minute_bucket_us", Seq("gmv", "paid_orders"))
    assert(failures.isEmpty, failures.mkString("; "))
    assert(Checks.notNullProportion(fct, "paid_orders", 1.0).isRight)
  }

  test("keyContract returns exactly the separate notNull/unique calls' failures") {
    val s = spark; import s.implicits._
    def row(k: Option[Long], a: Option[Double], b: Option[Long]) = (k, a, b)
    val cases = Seq(
      ("clean", Seq(row(Some(1L), Some(1.0), Some(1L)),
        row(Some(2L), Some(2.0), Some(2L))), Nil),
      ("empty", Seq.empty[(Option[Long], Option[Double], Option[Long])], Nil),
      ("duplicate keys", Seq(row(Some(1L), Some(1.0), Some(1L)),
        row(Some(1L), Some(2.0), Some(2L)), row(Some(2L), Some(3.0), Some(3L)),
        row(Some(2L), Some(4.0), Some(4L)), row(Some(3L), Some(5.0), Some(5L))),
        Seq("unique(k): 2 violating row(s)")),
      // one duplicate group (NULL keys group together) plus two null rows
      ("two NULL keys", Seq(row(None, Some(1.0), Some(1L)),
        row(None, Some(2.0), Some(2L)), row(Some(1L), Some(3.0), Some(3L))),
        Seq("not_null(k): 2 violating row(s)", "unique(k): 1 violating row(s)")),
      ("nulls in each value column", Seq(row(Some(1L), None, Some(1L)),
        row(Some(2L), Some(2.0), None), row(Some(3L), None, None)),
        Seq("not_null(a): 2 violating row(s)", "not_null(b): 2 violating row(s)")))
    cases.foreach { case (name, rows, expected) =>
      val df = rows.toDF("k", "a", "b")
      val separate = Seq(Checks.notNull(df, "k"), Checks.unique(df, "k"),
        Checks.notNull(df, "a"), Checks.notNull(df, "b"))
        .collect { case Left(e) => e }
      assert(separate == expected, name)
      assert(Checks.keyContract(df, "k", Seq("a", "b")) == separate, name)
    }
  }

  test("unique and notNull flag planted duplicates and nulls with counts") {
    val df = Seq((1, "a"), (1, "b"), (2, null)).toDF("k", "v")
    assert(Checks.unique(df, "k").swap.exists(_.contains("1 violating")))
    assert(Checks.notNull(df, "v").swap.exists(_.contains("1 violating")))
    assert(Checks.unique(df, "k", "v").isRight)
  }

  test("acceptedValues / notEmptyString") {
    val df = Seq("click", "view", " ", "weird").toDF("t")
    assert(Checks.acceptedValues(df, "t", Seq("click", "view")).swap
      .exists(_.contains("2 violating")))
    assert(Checks.notEmptyString(df, "t").swap.exists(_.contains("1 violating")))
  }

  test("relationships: every event user resolves against its user set; orphan flagged") {
    val ev = Tables.events(spark, sfDir)
    val users = ev.select(col("user_id")).distinct()
    assert(Checks.relationships(ev, "user_id", users, "user_id").isRight)
    val orphan = Seq(999999L).toDF("user_id")
    assert(Checks.relationships(orphan, "user_id", users, "user_id").isLeft)
  }

  test("equalRowcount and recency") {
    val ev = Tables.events(spark, sfDir)
    assert(Checks.equalRowcount(ev, ev).isRight)
    assert(Checks.equalRowcount(ev, ev.limit(5)).isLeft)
    val maxTs = ev.agg(max(col("event_ts_us"))).head.getLong(0)
    assert(Checks.recency(ev, "event_ts_us", 1000L, maxTs).isRight)
    assert(Checks.recency(ev, "event_ts_us", 999L, maxTs + 2000L).isLeft)
  }

  test("sequentialValues (lag, W3) on a dense and a gapped series") {
    val dense = (0L until 10L).map(i => (i * 60, "x")).toDF("t", "p")
    assert(Checks.sequentialValues(dense, "t", 60).isRight)
    val gapped = Seq((0L, "x"), (60L, "x"), (180L, "x")).toDF("t", "p")
    assert(Checks.sequentialValues(gapped, "t", 60).swap
      .exists(_.contains("1 violating")))
  }

  test("mutuallyExclusiveRanges (lead, W4) detects the overlap") {
    val ok = Seq((0, 10), (10, 20), (25, 30)).toDF("lo", "hi")
    assert(Checks.mutuallyExclusiveRanges(ok, "lo", "hi").isRight)
    val bad = Seq((0, 10), (5, 20)).toDF("lo", "hi")
    assert(Checks.mutuallyExclusiveRanges(bad, "lo", "hi").swap
      .exists(_.contains("1 violating")))
  }

  test("atLeastOne: global probe and per-group variant") {
    val df = Seq(("a", Some(1)), ("a", None), ("b", None)).toDF("g", "v")
    assert(Checks.atLeastOne(df, "v").isRight)
    assert(Checks.atLeastOne(df.filter(col("v").isNull), "v").swap
      .exists(_.contains("no non-null")))
    // group "b" exists but is all-null on v → per-group check fails.
    assert(Checks.atLeastOne(df, "v", Seq("g")).swap
      .exists(_.contains("1 violating")))
    assert(Checks.atLeastOne(df.filter(col("g") === "a"), "v", Seq("g")).isRight)
  }

  test("cardinalityEquality: multiset match, mismatch counted both ways") {
    val a = Seq("x", "x", "y").toDF("c")
    val b = Seq("y", "x", "x").toDF("d")
    assert(Checks.cardinalityEquality(a, "c", b, "d").isRight)
    // b2 has x twice vs thrice and an extra z → (x,3),(x,2),(z,1) diffs.
    val a2 = Seq("x", "x", "x").toDF("c")
    val b2 = Seq("x", "x", "z").toDF("d")
    assert(Checks.cardinalityEquality(a2, "c", b2, "d").swap
      .exists(_.contains("3 violating")))
  }

  test("qualityReport counts rows/nulls/dups/negatives in one scan") {
    val r = Checks.qualityReport(Tables.events(spark, sfDir)).head
    assert(r.getAs[Long]("n_rows") > 0)
    assert(r.getAs[Long]("dup_event_ids") == 0L)
    assert(r.getAs[Long]("n_event_types") == 5L)
  }

  test("profile: per-column nulls/distinct/min/max, typed ordering") {
    val df = Seq(
      (Some(10L), Some("b")), (Some(2L), None),
      (Some(10L), Some("a")), (None, Some("a")))
      .toDF("k", "s")
    val got = Checks.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))).toMap
    // numeric min/max order numerically (2 < 10), then render as strings
    assert(got("k") == ((4L, 1L, 2L, "2", "10")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
  }

  test("fkOrphanReport: orphan counts per relation, NULL keys exempt") {
    val s = spark; import s.implicits._
    val fact = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val r = Checks.fkOrphanReport(Seq(("f->d", fact, "fk", dim, "pk")))
      .head()
    // 4 rows, one true orphan (99); the NULL key is a row, not an orphan
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("f->d", 4L, 1L, 250000L)))
  }

  test("profileApprox: exact counts/min/max, sketch distinct within HLL error") {
    val s = spark; import s.implicits._
    // 5000 rows: id distinct 5000, id%40 distinct 40, third all-null.
    val df = s.range(5000)
      .select(col("id"), (col("id") % 40).as("k"),
        lit(null).cast("long").as("z"))
    val exact = Checks.profile(df, Seq("id", "k", "z")).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val got = Checks.profileApprox(df, Seq("id", "k", "z")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    // non-distinct columns are EXACT and identical to profile()
    assert(got("id") == ((5000L, 0L, got("id")._3, "0", "4999")))
    assert(got("k") == ((5000L, 0L, got("k")._3, "0", "39")))
    assert(got("z")._3 == 0L && got("z")._2 == 5000L)
    // raw-HLL at p=8: std error 1.04/16 = 6.5%; assert 4 sigma on the
    // large cardinality, and the small one within linear slack.
    val relId = math.abs(got("id")._3 - exact("id")).toDouble / exact("id")
    assert(relId < 0.26, s"id estimate off by $relId (${got("id")._3} vs 5000)")
    assert(math.abs(got("k")._3 - exact("k")) <= 12,
      s"k estimate ${got("k")._3} vs 40")
    // determinism: the estimate is a fixed integer, not a sample
    val again = Checks.profileApprox(df, Seq("id", "k", "z")).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(again("id") == got("id")._3 && again("k") == got("k")._3)
  }

  test("profileApprox: estimates bit-identical to the register-table path") {
    val s = spark; import s.implicits._
    // Mixed types + multi-byte UTF-8 + an all-null column: pins the
    // native HllRegistersAgg (md5 over salt⧺value BYTES, bucket, rho)
    // against the expression-built register table it replaced.
    val df = Seq(
      (Some(1L), Some("café")), (Some(2L), Some("naïve")),
      (Some(3L), Some("plain")), (Some(1L), Some("café")), (None, None))
      .toDF("k", "t")
      .select(col("k"), col("t"), lit(null).cast("string").as("z"))
    val cols = Seq("k", "t", "z")
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("__v"))): _*))
        .as("__e"))
      .select(col("__e.column_name").as("column_name"),
        col("__e.__v").as("__v"))
      .filter(col("__v").isNotNull)
    val expected = graft.ml.Sketches.hllEstimateCorrected(
      graft.ml.Sketches.hllRegisters(pairs, Seq("column_name"), col("__v"), 8),
      Seq("column_name"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Checks.profileApprox(df, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    cols.foreach { c =>
      assert(got(c) == expected.getOrElse(c, 0L),
        s"$c: agg path ${got(c)} vs register-table ${expected.get(c)}")
    }
    // exact small cardinalities through the linear-counting branch
    assert(got("k") == 3L && got("t") == 3L && got("z") == 0L)
  }

  test("lDiversity: uniform sensitive groups flagged, NULL is a value") {
    val s = spark; import s.implicits._
    // group A: {x, x, y} div 2; group B: {z, z} div 1 (violates l=2);
    // group C: {x, NULL} div 2 (NULL counts)
    val df = Seq(("A", Some("x")), ("A", Some("x")), ("A", Some("y")),
      ("B", Some("z")), ("B", Some("z")), ("C", Some("x")), ("C", None))
      .toDF("q", "sens")
    val r = Checks.lDiversity(df, Seq("q"), "sens", l = 2).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 3L, 1L, 2L, 1L)))
  }

  test("functionalDependency: violation groups and one-row summary") {
    val s = spark; import s.implicits._
    // a→x consistent; b maps to two values; c consistent
    val df = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "z"), ("c", "y"))
      .toDF("det", "dep")
    val viol = Checks.functionalDependencyViolations(df, Seq("det"), "dep")
      .collect()
    assert(viol.map(_.getString(0)).toSeq == Seq("b"))
    assert((viol.head.getLong(1), viol.head.getLong(2)) == ((2L, 2L)))
    val r = Checks.functionalDependencyReport(df, Seq("det"), "dep").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 1L, 2L, 5L, 333333L)))
  }

  test("benfordAudit: digit counts, expected literals, exclusions") {
    val s = spark; import s.implicits._
    // values: 1xx appears 4 times, 2xx twice, 9 once; plus 0 and -5
    // excluded
    val df = Seq(100L, 123L, 19L, 1L, 200L, 250L, 9L, 0L, -5L).toDF("v")
    val rows = Checks.benfordAudit(df, "v").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.size == 9)
    assert(rows(1).getLong(1) == 4L && rows(2).getLong(1) == 2L &&
      rows(9).getLong(1) == 1L && rows(3).getLong(1) == 0L)
    assert(rows(1).getLong(5) == 7L) // n_total excludes non-positives
    assert(rows(1).getLong(6) == 2L) // 0 and -5
    assert(rows(1).getLong(2) == 4L * 1000000L / 7L) // obs ppm
    assert(rows(1).getLong(3) == Checks.benfordExpectedPpm(1))
    assert(rows(1).getLong(4) == rows(1).getLong(2) - rows(1).getLong(3))
  }

  test("kAnonymity: risk counts from exact group sizes, NULLs group") {
    val s = spark; import s.implicits._
    // groups: (a,1)x3, (a,2)x1, (NULL,1)x2 → k=3: two violating groups
    val df = Seq(Some("a") -> 1, Some("a") -> 1, Some("a") -> 1,
      Some("a") -> 2, None -> 1, None -> 1).toDF("q1", "q2")
    val r = Checks.kAnonymity(df, Seq("q1", "q2"), k = 3).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((3L, 6L, 3L, 2L, 3L, 1L)))
    assert(r.getLong(6) == 500000L) // 3 of 6 rows at risk
  }

}
