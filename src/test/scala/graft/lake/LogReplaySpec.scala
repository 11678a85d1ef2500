package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Snapshot replay contracts: a checkpointed replay (classic parquet,
  * V2 top + sidecars) reconstructs exactly the state the JSON commits
  * alone do, and a log read runs a pinned number of Spark jobs.
  */
class LogReplaySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-replay").toString + "/tbl"

  private def logFile(root: String, v: Long): Path =
    Paths.get(root, "_delta_log", f"$v%020d.json")

  /** A copy of the table whose log holds JSON commits only: every
    * checkpoint, the `_sidecars/` directory and `_last_checkpoint` are
    * deleted in the copy.
    */
  private def jsonOnlyCopy(root: String): String = {
    val src = Paths.get(root)
    val dst = Paths.get(freshRoot())
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally w.close()
    val log = dst.resolve("_delta_log")
    val doomed = {
      val w2 = Files.walk(log)
      try w2.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.contains(".checkpoint.") || n == "_last_checkpoint" ||
          log.relativize(p).toString.startsWith("_sidecars")
      }.toSeq finally w2.close()
    }
    doomed.sortBy(-_.getNameCount).foreach(Files.delete)
    assert(DeltaLog.checkpointVersions(dst.toString).isEmpty)
    dst.toString
  }

  private def tableRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("k"), col("v"), col("d")).collect().map(_.toString)
      .toSeq.sorted

  test("checkpointed replay equals JSON-only replay at every version " +
    "past a classic and a V2 (sidecar) checkpoint, over every action " +
    "kind the log carries") {
    val rnd = new scala.util.Random(20261019L)
    val root = freshRoot()
    // partition values: a null, one that needs URL-encoding in `path`
    // (space and percent), and plain ones
    def batch(lo: Long, n: Int) = (0 until n).map { i =>
      val d = rnd.nextInt(4) match {
        case 0 => null
        case 1 => "a b%c"
        case 2 => "x"
        case _ => "y"
      }
      (lo + i, s"v${lo + i}-${rnd.nextInt(1000)}", d)
    }.toDF("k", "v", "d").repartition(3)
    def compareAtCurrent(): Unit = {
      val copy = jsonOnlyCopy(root)
      val v = DeltaLog.currentVersion(root)
      assert(DeltaLog.currentVersion(copy) == v)
      assert(DeltaLog.filesAt(spark, copy, v) ==
        DeltaLog.filesAt(spark, root, v), s"files at $v")
      assert(tableRows(DeltaLog.readAt(spark, copy, v)) ==
        tableRows(DeltaLog.readAt(spark, root, v)), s"rows at $v")
      assert(DeltaLog.txnWatermark(spark, copy, "app") ==
        DeltaLog.txnWatermark(spark, root, "app"), s"txn at $v")
      assert(DeltaLog.tableMeta(spark, copy) ==
        DeltaLog.tableMeta(spark, root), s"meta at $v")
      def dvCount(r: String): Long = DeltaLog.detail(spark, r)
        .select("numDeletionVectors").head().getLong(0)
      assert(dvCount(copy) == dvCount(root), s"DVs at $v")
    }
    DeltaLog.commitPartitioned(spark, root, batch(1L, 30), Seq("d"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.commitPartitioned(spark, root, batch(100L, 30), Seq("d"))
    val beforeDelete = DeltaLog.currentVersion(root)
    DeltaLog.deleteWhereLongDV(spark, root, "k", 5L, 15L)
    DeltaLog.restore(spark, root, beforeDelete)
    DeltaLog.updateWhereLong(spark, root, "k", 100L, 110L,
      Map("v" -> lit("updated")))
    DeltaLog.commitPartitioned(spark, root, batch(200L, 10), Seq("d"),
      txn = Some(("app", 7L)))
    DeltaLog.setTableProperties(spark, root,
      Map("graft.replay.marker" -> "1"))
    val classicAt = DeltaLog.currentVersion(root)
    DeltaLog.checkpoint(spark, root, classicAt)
    compareAtCurrent()
    // tail past the classic checkpoint: a DV lands, then the V2 upgrade
    DeltaLog.deleteWhereLongDV(spark, root, "k", 200L, 204L)
    compareAtCurrent()
    DeltaLog.enableV2Checkpoints(spark, root)
    compareAtCurrent()
    DeltaLog.commitPartitioned(spark, root, batch(300L, 10), Seq("d"),
      txn = Some(("app", 9L)))
    val v2At = DeltaLog.currentVersion(root)
    DeltaLog.checkpointV2(spark, root, v2At, maxAddsPerSidecar = 2L)
    assert(Files.list(Paths.get(root, "_delta_log", "_sidecars"))
      .count() >= 2L, "the V2 checkpoint must spread over sidecars")
    compareAtCurrent()
    // tail past the V2 checkpoint: a CDF update and an append
    DeltaLog.updateWhereLong(spark, root, "k", 300L, 304L,
      Map("v" -> lit("late")))
    compareAtCurrent()
    DeltaLog.commitPartitioned(spark, root, batch(400L, 5), Seq("d"))
    compareAtCurrent()
    // time travel over the whole checkpointed range agrees too
    val copy = jsonOnlyCopy(root)
    (classicAt to DeltaLog.currentVersion(root)).foreach { v =>
      assert(DeltaLog.filesAt(spark, copy, v) ==
        DeltaLog.filesAt(spark, root, v), s"files at $v")
      assert(tableRows(DeltaLog.readAt(spark, copy, v)) ==
        tableRows(DeltaLog.readAt(spark, root, v)), s"rows at $v")
    }
    // the log exercised every action kind the decoder reads
    val kinds = (0L to DeltaLog.currentVersion(root)).flatMap { v =>
      Files.readAllLines(logFile(root, v)).asScala
        .filter(_.trim.nonEmpty).map(_.drop(2).takeWhile(_ != '"'))
    }.toSet
    assert(Set("protocol", "metaData", "add", "remove", "cdc", "txn",
      "commitInfo").subsetOf(kinds), kinds)
    assert(DeltaLog.filesAt(spark, root, classicAt).exists(_.contains("%")),
      "a partition directory needing URL-encoding must be active")
  }

  test("log reads run a pinned number of Spark jobs") {
    // classic checkpoint over 64 files, plus a one-commit tail
    val classic = freshRoot()
    DeltaLog.commitFlat(spark, classic, spark.range(1L, 65L, 1L, 64)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    DeltaLog.checkpoint(spark, classic, 0L)
    DeltaLog.commitFlat(spark, classic, Seq((65L, "t")).toDF("k", "v"))
    assert(DeltaLog.filesAt(spark, classic, 1L).size == 65)
    // one scan of the checkpoint part; the JSON tail and the decode of
    // the serialized rows run no job
    assert(countJobs(DeltaLog.read(spark, classic)) == 1)
    assert(DeltaLog.read(spark, classic).count() == 65L)
    // V2 parquet top whose adds live in three sidecars
    val v2 = freshRoot()
    DeltaLog.commitFlat(spark, v2, spark.range(1L, 7L, 1L, 6)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    DeltaLog.enableV2Checkpoints(spark, v2)
    DeltaLog.checkpointV2(spark, v2, 1L, maxAddsPerSidecar = 2L)
    DeltaLog.commitFlat(spark, v2, Seq((7L, "t")).toDF("k", "v"))
    // one scan of the top, one of its sidecars
    assert(countJobs(DeltaLog.read(spark, v2)) == 2)
    assert(DeltaLog.read(spark, v2).count() == 7L)
    // an append tail of three commits
    val tail = freshRoot()
    (0 to 3).foreach(i => DeltaLog.commitFlat(spark, tail,
      Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(countJobs(DeltaLog.readAppendsSince(spark, tail, 0L)) == 0)
    assert(DeltaLog.readAppendsSince(spark, tail, 0L).count() == 3L)
    // V2 JSON top with inline adds and no sidecars
    val json = freshRoot()
    DeltaLog.commitFlat(spark, json, Seq((1L, "a")).toDF("k", "v"))
    DeltaLog.enableV2Checkpoints(spark, json)
    val uuid = "0a1b2c3d-9999-8888-7777-666655554444"
    val top = Paths.get(json, "_delta_log",
      f"${1L}%020d.checkpoint.$uuid.json")
    Files.write(top, (Files.readAllLines(logFile(json, 0L)).asScala ++
      Files.readAllLines(logFile(json, 1L)).asScala)
      .filterNot(_.contains("\"commitInfo\""))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    (0L to 1L).foreach(v => Files.delete(logFile(json, v)))
    assert(DeltaLog.read(spark, json).count() == 1L)
    // a JSON top is read line by line on the driver
    assert(countJobs(DeltaLog.read(spark, json)) == 0)
  }

  test("encodeAction is the inverse of decodeAction for every action " +
    "kind") {
    import DeltaLog._
    val rnd = new scala.util.Random(20261020L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def opt[T](t: => T): Option[T] = if (rnd.nextBoolean()) Some(t) else None
    def path(): String = pick("", "/abs/") +
      pick("d=x", "d=a b%c", "d=__HIVE_DEFAULT_PARTITION__", "k=1/d=é") +
      s"/part-${rnd.nextInt(100)}.parquet"
    def pv(): Map[String, String] = pick(Map.empty[String, String],
      Map("d" -> null), Map("d" -> "a b%c"), Map("d" -> "x", "k" -> "1"))
    def dv(): DvDescriptor = pick(
      DvDescriptor("i", "wi5b=000010000siXQKl0rr91000f55c8Xg0@@D72lkbi5=-{L",
        None, 40, 6L),
      DvDescriptor("u", "ab^-aqEH.-t@S}K{vb[*k^", Some(1L), 30, 2L),
      DvDescriptor("u", "ab^-aqEH.-t@S}K{vb[*k^", None, 30, 2L),
      DvDescriptor("p", "/tmp/t/deletion_vector_x.bin", opt(41L), 30, 1L))
    def features(): Seq[String] =
      pick(Nil, Seq("deletionVectors"), Seq("v2Checkpoint", "columnMapping"))
    def action(): Action = rnd.nextInt(10) match {
      case 0 => Protocol(1 + rnd.nextInt(3), 2 + rnd.nextInt(6), features(),
        features())
      case 1 => MetaData(s"id-${rnd.nextInt(1000)}",
        """{"type":"struct","fields":[]}""", pick(Nil, Seq("d"), Seq("k", "d")),
        pick(Map.empty[String, String],
          Map("delta.enableChangeDataFeed" -> "true",
            "delta.constraints.kpos" -> "k > 0 AND v <> \"q\"")))
      case 2 => AddFile(path(), pv(), opt(rnd.nextInt(1 << 20).toLong),
        opt(rnd.nextLong().abs), rnd.nextBoolean(),
        opt("""{"numRecords":3,"minValues":{"v":"a\"b"},"nullCount":{}}"""),
        opt(dv()))
      case 3 => RemoveFile(path(), opt(rnd.nextLong().abs), rnd.nextBoolean())
      case 4 => AddCdc(path(), pv(), rnd.nextInt(1 << 20).toLong)
      case 5 => Txn(pick("app", "stream-1"), rnd.nextInt(100).toLong)
      case 6 => CommitInfo(opt(pick("WRITE", "MERGE")), opt(rnd.nextLong().abs),
        opt(rnd.nextLong().abs))
      case 7 => Sidecar(s"sidecar-${rnd.nextInt(1000)}.parquet",
        rnd.nextInt(1 << 20).toLong, rnd.nextLong().abs)
      case _ => CheckpointMetadata(rnd.nextInt(1000).toLong)
    }
    val actions = Seq.fill(500)(action())
    actions.foreach(a => assert(decodeAction(encodeAction(a)).contains(a),
      encodeAction(a)))
    val kinds = actions.map(_.getClass.getSimpleName).toSet
    assert(kinds.size == 9, kinds)
    assert(actions.exists {
      case a: AddFile => a.deletionVector.exists(_.offset.isEmpty) &&
        a.partitionValues.values.exists(_ == null)
      case _ => false
    })
  }

  /** A commit line with what differs from run to run masked: wall-clock
    * timestamps and file mtimes, UUIDs (file names, table ids, DV blob
    * names), the Z85 address of an on-disk DV and the temporary table
    * roots.
    */
  private def masked(line: String, roots: Seq[(String, String)]): String = {
    val rooted = roots.foldLeft(line) { case (l, (r, name)) =>
      l.replace(r, name) }
    rooted
      .replaceAll("\"(timestamp|inCommitTimestamp|modificationTime|" +
        "deletionTimestamp)\":\\d+", "\"$1\":T")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-" +
        "[0-9a-f]{12}", "U")
      .replaceAll("(\"storageType\":\"u\",\"pathOrInlineDv\":\")[^\"]{20}\"",
        "$1Z\"")
  }

  test("commit files of a fixed script are byte-identical to the " +
    "recorded lines, timestamps, mtimes and UUIDs masked") {
    val root = freshRoot()
    val cloneRoot = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
        .toDF("k", "v", "d").coalesce(1), Seq("d"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.commitPartitioned(spark, root,
      Seq((10L, "n", null), (11L, "m", "a b%c"), (12L, "o", "x"))
        .toDF("k", "v", "d").coalesce(1), Seq("d"))
    val afterDv = DeltaLog.deleteWhereLongDV(spark, root, "k", 2L, 3L)
    DeltaLog.updateWhereLong(spark, root, "k", 10L, 11L,
      Map("v" -> lit("u")))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((1L, "merged", "x"), (20L, "new", "y")).toDF("k", "v", "d"))
    DeltaLog.commitPartitioned(spark, root,
      Seq((30L, "t", "y")).toDF("k", "v", "d").coalesce(1), Seq("d"),
      txn = Some(("app", 1L)))
    DeltaLog.addCheckConstraint(spark, root, "kpos", "k > 0")
    DeltaLog.enableV2Checkpoints(spark, root)
    DeltaLog.restore(spark, root, afterDv)
    DeltaLog.shallowClone(spark, root, cloneRoot)
    val roots = Seq(cloneRoot -> "CLONE", root -> "ROOT").map {
      case (r, n) => Paths.get(r).toAbsolutePath.normalize().toString -> n }
    def commits(r: String, name: String): Seq[String] =
      (0L to DeltaLog.currentVersion(r)).flatMap { v =>
        // adds follow directory listing order: compare each commit's
        // lines as a set
        s"# $name $v" +: Files.readAllLines(logFile(r, v)).asScala.toSeq
          .map(masked(_, roots)).sorted
      }
    val got = commits(root, "table") ++ commits(cloneRoot, "clone")
    val want = scala.io.Source.fromResource("graft/lake/commit-lines.txt",
      getClass.getClassLoader).getLines().toSeq
    assert(got.size == want.size, got.mkString("\n"))
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("checkpoint writes run a pinned number of Spark jobs") {
    // two identical 64-file tables, so neither write replays the
    // other's checkpoint
    def table64(): String = {
      val root = freshRoot()
      DeltaLog.commitFlat(spark, root, spark.range(1L, 65L, 1L, 64)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
      DeltaLog.enableV2Checkpoints(spark, root)
      assert(DeltaLog.filesAt(spark, root, 1L).size == 64)
      root
    }
    val classic = table64()
    val v2 = table64()
    // one parquet write; the replay of a JSON-only log runs no job
    assert(countJobs(DeltaLog.checkpoint(spark, classic, 1L)) == 1)
    // four sidecar writes and one top write
    assert(countJobs(DeltaLog.checkpointV2(spark, v2, 1L,
      maxAddsPerSidecar = 16L)) == 5)
    assert(DeltaLog.read(spark, classic).count() == 64L)
    assert(DeltaLog.read(spark, v2).count() == 64L)
  }
}
