package graft.graphs

import graft.SparkSpec

class PageRankSpec extends SparkSpec {

  /** Driver-side fixed-point reference: the same integer recurrence
    * (contrib = rank / outdeg, next = 15·scale/100 + 85·Σcontrib/100)
    * over plain Maps — an independent code path the distributed plan
    * must match EXACTLY (longs, not approximately).
    */
  private def reference(edges: Set[(Long, Long)], iterations: Int,
                        scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = edges.flatMap { case (s, d) => Seq(s, d) }
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = 15L * scale / 100L
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iterations) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) => in(d) += rank(s) / outDeg(s) }
      rank = nodes.map(n => n -> (base + 85L * in(n) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iterations: Int,
                  reliable: Boolean = false): Map[Long, Long] = {
    val s = spark; import s.implicits._
    PageRank.run(edges.toDF("src", "dst"), iterations, reliable = reliable)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val fourNode = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))

  test("4-node graph matches the integer reference exactly (1 and 3 hops)") {
    for (it <- Seq(1, 3))
      assert(run(fourNode, it) == reference(fourNode.toSet, it), s"iterations=$it")
  }

  test("the hub (node 3, three in-links) outranks everything; source-only node 4 sits at base") {
    val r = run(fourNode, 3)
    assert(r(3L) == r.values.max)
    assert(r(4L) == 150000000000L) // base rank: receives no mass, stays rankable
  }

  test("2-cycle closed form: total mass is conserved exactly, rank stays at scale") {
    // contrib = scale/1; next = 0.15·scale + 0.85·scale = scale — every hop.
    assert(run(Seq((1L, 2L), (2L, 1L)), 5) ==
      Map(1L -> 1000000000000L, 2L -> 1000000000000L))
  }

  test("round shape: a hop adds no shuffle-map stage (1 vs 4 iterations)") {
    val s = spark; import s.implicits._
    val df = fourNode.toDF("src", "dst")
    val one = countShuffleMapStages(PageRank.run(df, 1))
    val four = countShuffleMapStages(PageRank.run(df, 4))
    assert(four == one, s"1 iteration: $one stages, 4 iterations: $four")
  }

  test("all hops are one plan: executions stay flat, jobs grow by one broadcast a hop (1 vs 4 iterations)") {
    val s = spark; import s.implicits._
    val df = fourNode.toDF("src", "dst")
    val execs = Seq(1, 4).map(it => countExecutions(PageRank.run(df, it)))
    assert(execs(1) == execs(0), s"SQL executions at 1 and 4 iterations: $execs")
    val jobs = Seq(1, 4).map(it => countJobs(PageRank.run(df, it)))
    info(s"SQL executions $execs, jobs $jobs")
    assert(jobs(1) - jobs(0) <= 3, s"jobs at 1 and 4 iterations: $jobs")
  }

  test("duplicate edges collapse before degree counting") {
    assert(run(Seq((1L, 2L), (1L, 2L), (2L, 1L)), 3) ==
      Map(1L -> 1000000000000L, 2L -> 1000000000000L))
  }

  test("sink node keeps receiving; its mass drains (dangling drop) but never below base") {
    // 1 → 2, 2 is a sink: r(2) after 1 hop = base + 85·scale/100; after 2
    // hops = base + 85·base/100 (node 1 is back at base).
    val r1 = run(Seq((1L, 2L)), 1)
    assert(r1 == Map(1L -> 150000000000L, 2L -> 1000000000000L))
    val r2 = run(Seq((1L, 2L)), 2)
    assert(r2 == Map(1L -> 150000000000L, 2L -> 277500000000L))
    assert(r2 == reference(Set((1L, 2L)), 2))
  }

  test("ranks are partitioning-independent: exact long equality under any layout") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val base = edges.toDF("src", "dst")
    val expected = reference(edges.toSet, 3)
    for (df <- Seq(base.repartition(7), base.repartition(1), base.coalesce(2)))
      assert(PageRank.run(df, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("iteration and scale bounds fail loudly") {
    val s = spark; import s.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](PageRank.run(e, iterations = 0))
    intercept[IllegalArgumentException](PageRank.run(e, iterations = 21))
    intercept[IllegalArgumentException](PageRank.run(e, scale = 999L))
  }

  test("million-node star: auto scale clears the overflow the old 1e12 default hit") {
    import org.apache.spark.sql.functions._
    val n = 1000000L // leaves, all pointing at node 0 — worst-case mass concentration
    val edges = spark.range(1L, n + 1L)
      .select(col("id").as("src"), lit(0L).as("dst"))
    // The historical fixed default is overflow-unsafe here: 85·(n·1e12)
    // exceeds Long.Max. The in-plan inflow guard refuses it with the
    // sizing formula at the action (run's own checkpoint) instead of an
    // ANSI overflow.
    val ex = intercept[Exception](
      PageRank.run(edges, iterations = 1, scale = 1000000000000L))
    val msg = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("overflows") &&
      msg.contains("nodes*scale <= Long.Max/100"), msg)
    // Auto scale: s = Long.Max/100/(n+1), capped at 1e12 — closed-form
    // star ranks after one hop, exact long equality.
    val s = Long.MaxValue / 100L / (n + 1L)
    val r = PageRank.run(edges, iterations = 1)
      .filter(col("node").isin(0L, 1L)).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val base = 15L * s / 100L
    assert(r(0L) == base + 85L * (n * s) / 100L) // center: whole mass inflow
    assert(r(1L) == base)                        // leaf: no inflow
  }

  test("an explicit-scale run is one SQL execution: no node count") {
    val s = spark; import s.implicits._
    val df = fourNode.toDF("src", "dst")
    val execs = countExecutions(PageRank.run(df, 3, scale = 1000000000000L))
    assert(execs == 1, s"$execs SQL executions")
  }

  test("an explicit scale past Long.Max/100 fails at the call; an inflow sum past Long.Max fails with the sizing formula") {
    import org.apache.spark.sql.functions._
    // 200 leaves into one hub: each leaf sends its whole rank
    val star = spark.range(1L, 201L).select(col("id").as("src"), lit(0L).as("dst"))
    // the base rank 15·s/100 would wrap past Long.Max/15
    for (sc <- Seq(Long.MaxValue / 99L, Long.MaxValue / 10L, Long.MaxValue))
      intercept[IllegalArgumentException](PageRank.run(star, iterations = 1, scale = sc))
    // at s = Long.Max/100 every contribution is in range, but the hub's
    // summed inflow 200·s passes Long.Max itself
    val ex = intercept[Exception](
      PageRank.run(star, iterations = 1, scale = Long.MaxValue / 100L))
    val msg = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("overflows") &&
      msg.contains("nodes*scale <= Long.Max/100"), msg)
  }

  test("empty edge list yields an empty rank table, not a failure") {
    val s = spark; import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.run(empty, 3).count() == 0L)
  }

  test("reliable checkpoint mode matches, and demands a checkpoint dir") {
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException](run(fourNode, 2, reliable = true))
    val dir = java.nio.file.Files.createTempDirectory("pr-chk").toString
    spark.sparkContext.setCheckpointDir(dir)
    try
      assert(run(fourNode, 2, reliable = true) == reference(fourNode.toSet, 2))
    finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
