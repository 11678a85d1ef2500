package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Delta-protocol contracts: the writers produce a log an external
  * Delta reader could open (protocol/metaData/add/remove JSON actions,
  * 0-based commits, removes on rewrite, metaData re-emitted only on
  * schema change), pinned readers and time travel survive later
  * commits, and the reader replays externally-written checkpointless
  * logs (unknown actions skipped, URL-encoded paths, last-action-wins,
  * declared schema pinned) while refusing what it can't honor.
  */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-delta").toString + "/tbl"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def commitLines(root: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(root, "_delta_log", f"$v%020d.json"))
      .asScala.toSeq.filter(_.trim.nonEmpty)

  test("commit 0 carries protocol+metaData; rewrite emits removes; appends never do") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c")).toDF("k", "v").coalesce(1), rewrite = true)
    val c0 = commitLines(root, 0L)
    assert(c0.exists(_.contains("\"protocol\"")), c0.mkString("|"))
    assert(c0.exists(_.contains("\"minReaderVersion\":1")), c0.mkString("|"))
    assert(c0.exists(_.contains("\"metaData\"")), c0.mkString("|"))
    assert(c0.exists(_.contains("\"schemaString\"")), c0.mkString("|"))
    assert(c0.count(_.contains("\"add\"")) == 1)
    assert(!c0.exists(_.contains("\"remove\"")))
    // append: one add, no removes, no repeated metaData (schema unchanged)
    val c1 = commitLines(root, 1L)
    assert(c1.count(_.contains("\"add\"")) == 1)
    assert(!c1.exists(_.contains("\"remove\"")))
    assert(!c1.exists(_.contains("\"metaData\"")))
    // rewrite: removes BOTH parent files, adds its own
    val c2 = commitLines(root, 2L)
    assert(c2.count(_.contains("\"remove\"")) == 2, c2.mkString("|"))
    assert(c2.count(_.contains("\"add\"")) == 1)
  }

  // ----- externally-written logs -----

  /** Writes `df` as ONE parquet file named `name` directly under `root`
    * (the flat layout external writers produce).
    */
  private def writeFlat(root: String, name: String,
                        df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft-delta-flat").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(root, name).getParent)
    Files.move(part, Paths.get(root, name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeCommit(root: String, v: Long, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.write(Paths.get(root, "_delta_log", f"$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val extSchema =
    """{"type":"struct","fields":[
      {"name":"k","type":"long","nullable":true,"metadata":{}},
      {"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
      .replaceAll("\n\\s*", "")

  test("reads an externally-written checkpointless multi-commit log") {
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeFlat(root, "part b.parquet", Seq((2L, "b")).toDF("k", "v"))
    writeFlat(root, "part-c.parquet", Seq((3L, "c")).toDF("k", "v"))
    // commit 0: unusual field order, commitInfo noise, URL-encoded path
    writeCommit(root, 0L, Seq(
      """{"commitInfo":{"operation":"WRITE","engineInfo":"someone-else"}}""",
      s"""{"metaData":{"partitionColumns":[],"schemaString":"${extSchema.replace("\"", "\\\"")}","format":{"provider":"parquet","options":{}},"id":"ext-1234","configuration":{}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"part%20b.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // commit 1: retire a, add c; txn noise ignored
    writeCommit(root, 1L, Seq(
      """{"txn":{"appId":"x","version":9}}""",
      """{"remove":{"path":"part-a.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"part-c.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    assert(DeltaLog.currentVersion(root) == 1L)
    assert(rows(DeltaLog.readAt(spark, root, 0L)) == Set((1L, "a"), (2L, "b")))
    assert(rows(DeltaLog.read(spark, root)) == Set((2L, "b"), (3L, "c")))
    assert(DeltaLog.filesAt(spark, root, 1L) ==
      Seq("part b.parquet", "part-c.parquet"))
  }

  test("empty active set returns the declared schema with zero rows") {
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"ext-1","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeCommit(root, 1L, Seq(
      """{"remove":{"path":"part-a.parquet","deletionTimestamp":2,"dataChange":true}}"""))
    val df = DeltaLog.read(spark, root)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.count() == 0L)
  }

  test("refuses what it cannot honor NAMING the missing feature; opens " +
    "higher protocols whose feature set is fully supported") {
    def protoTable(proto: String, config: String = "{}"): String = {
      val root = freshRoot()
      writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
      writeCommit(root, 0L, Seq(
        s"""{"protocol":$proto}""",
        s"""{"metaData":{"id":"ext-1","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":$config}}""",
        """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
      root
    }
    // protocol 3 with an unsupported feature: refusal NAMES it
    // (typeWidening AND variantType graduated to supported in r20 —
    // collations is the current refused example)
    val e1 = intercept[IllegalArgumentException](DeltaLog.read(spark,
      protoTable("""{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["collations"]}""")))
    assert(e1.getMessage.contains("collations"), e1.getMessage)
    // protocol 3 with only supported features (incl. deletionVectors,
    // which this reader implements): OPENS
    assert(rows(DeltaLog.read(spark, protoTable(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","vacuumProtocolCheck","deletionVectors"]}"""))) ==
      Set((1L, "a")))
    // protocol 3, columnMapping named but mode none: OPENS
    assert(rows(DeltaLog.read(spark, protoTable(
      """{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"]}""",
      """{"delta.columnMapping.mode":"none"}"""))) == Set((1L, "a")))
    // protocol 2, mapping mode unset (= none): OPENS
    assert(rows(DeltaLog.read(spark, protoTable(
      """{"minReaderVersion":2,"minWriterVersion":5}"""))) == Set((1L, "a")))
    // protocol 2 with name-mode mapping: OPENS (identity mapping when no
    // physicalName metadata is present)
    assert(rows(DeltaLog.read(spark,
      protoTable("""{"minReaderVersion":2,"minWriterVersion":5}""",
        """{"delta.columnMapping.mode":"name"}"""))) == Set((1L, "a")))
    // protocol 2 with ID-mode mapping: refusal names the mode
    val e2 = intercept[IllegalArgumentException](DeltaLog.read(spark,
      protoTable("""{"minReaderVersion":2,"minWriterVersion":5}""",
        """{"delta.columnMapping.mode":"id"}""")))
    assert(e2.getMessage.contains("columnMapping"), e2.getMessage)
    // protocol beyond 3: refused outright
    val e5 = intercept[IllegalArgumentException](DeltaLog.read(spark,
      protoTable("""{"minReaderVersion":4,"minWriterVersion":7}""")))
    assert(e5.getMessage.contains("minReaderVersion 4"), e5.getMessage)

    val root3 = freshRoot()
    writeCommit(root3, 0L, Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""))
    writeCommit(root3, 2L, Seq("""{"add":{"path":"p.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e3 = intercept[IllegalArgumentException](DeltaLog.readAt(spark, root3, 2L))
    assert(e3.getMessage.contains("missing"))

    // absolute paths are legal (shallow clones record them); a non-file
    // scheme is the remaining loud refusal
    val root4 = freshRoot()
    writeCommit(root4, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"ext-4","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"s3://bucket/p.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e4 = intercept[IllegalArgumentException](DeltaLog.read(spark, root4))
    assert(e4.getMessage.contains("scheme 's3'"), e4.getMessage)
  }

  // ----- checkpoints -----

  test("a declared checkpointInterval writes checkpoints + _last_checkpoint; " +
    "reader survives a compacted JSON prefix") {
    val root = freshRoot()
    DeltaLog.commitFlatSlices(spark, root,
      (1 to 5).map(i => (i.toLong, s"v$i", i)).toDF("k", "v", "__slice")
        .coalesce(1),
      "__slice", 1 to 5,
      configuration = Map("delta.checkpointInterval" -> "2"))
    // Delta versions 0..4; a checkpoint lands whenever the tail lags
    // the newest one by the interval: at 1 and 3.
    assert(DeltaLog.checkpointVersions(root).map(_._1) == Seq(1L, 3L))
    val lc = Files.readAllLines(
      Paths.get(root, "_delta_log", "_last_checkpoint")).asScala.mkString
    assert(lc.contains("\"version\":3"), lc)
    val full = rows(DeltaLog.read(spark, root))
    assert(full == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    // Simulate a checkpoint-compacted log: delete JSON commits 0..3.
    (0L to 3L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(rows(DeltaLog.read(spark, root)) == full,
      "replay must start from the newest checkpoint, not refuse")
    // Time travel to the checkpointed version itself also works...
    assert(rows(DeltaLog.readAt(spark, root, 3L)) ==
      (1 to 4).map(i => (i.toLong, s"v$i")).toSet)
    // ...but a version BELOW every usable start is a loud refusal.
    val e = intercept[IllegalArgumentException](
      DeltaLog.readAt(spark, root, 0L))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("DML that matches no rows commits nothing, even when stats " +
    "overlap; commit-version conflicts are loud") {
    val root = freshRoot()
    // one file with k in {1, 10}: stats overlap [4,6] but no row matches
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (10L, "j")).toDF("k", "v").coalesce(1))
    val v0 = DeltaLog.currentVersion(root)
    assert(DeltaLog.deleteWhereLong(spark, root, "k", 4L, 6L) == v0,
      "no-match DELETE must not commit")
    assert(DeltaLog.currentVersion(root) == v0)
    assert(DeltaLog.updateWhereLong(spark, root, "k", 4L, 6L,
      Map("v" -> lit("x"))) == v0, "no-match UPDATE must not commit")
    assert(DeltaLog.currentVersion(root) == v0)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (10L, "j")))
    // no staged leftovers accumulate under the table root
    val stagingDir = Paths.get(root, ".graft_staging")
    if (Files.isDirectory(stagingDir)) {
      val leftovers = Files.walk(stagingDir).iterator().asScala
        .count(p => Files.isRegularFile(p))
      assert(leftovers == 0, s"$leftovers staged files leaked")
    }
    // a commit landed by "someone else" at v0+1 between a stale writer's
    // version read and its rename: the rename must fail loudly and must
    // NOT clobber the committed file (put-if-absent, not REPLACE)
    writeCommit(root, v0 + 1,
      Seq("""{"commitInfo":{"operation":"SOMEONE-ELSE"}}"""))
    val before = commitLines(root, v0 + 1)
    val stale = DeltaLog.CommitInfo(Some("STALE-WRITER"), None, None)
    val e = intercept[IllegalStateException](
      DeltaLog.writeCommitFile(root, v0 + 1, Seq(stale)))
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    assert(commitLines(root, v0 + 1) == before,
      "the existing commit must survive the conflict untouched")
  }

  test("checkpointed replay of a many-file log equals the JSON fold: " +
    "same active set, same rows, same skipping inputs") {
    val root = freshRoot()
    // 3 commits x 4 files, then a rewrite that retires them all and a
    // final append — adds, removes, and checkpoint state all in play
    (1 to 3).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        (1 to 8).map(j => (i * 100L + j, s"v$i-$j")).toDF("k", "v")
          .repartition(4))
    }
    DeltaLog.commitFlat(spark, root,
      (1 to 6).map(j => (900L + j, s"w$j")).toDF("k", "v")
        .repartition(3), rewrite = true)
    DeltaLog.commitFlat(spark, root,
      Seq((999L, "tail")).toDF("k", "v").coalesce(1))
    // the JSON fold, before any checkpoint exists
    val jsonFiles = DeltaLog.filesAt(spark, root, 4L).toSet
    val jsonRows = rows(DeltaLog.read(spark, root))
    val jsonCount = DeltaLog.statsCount(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(jsonRows == (901L to 906L).map(k => (k, s"w${k - 900}")).toSet +
      ((999L, "tail")))
    // replay from the checkpoint plus the one-commit tail
    DeltaLog.checkpoint(spark, root, 3L)
    assert(DeltaLog.filesAt(spark, root, 4L).toSet == jsonFiles)
    assert(rows(DeltaLog.read(spark, root)) == jsonRows)
    assert(DeltaLog.statsCount(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head == jsonCount)
    assert(rows(DeltaLog.read(spark, root)
      .where(col("k").between(905L, 999L)))
      == jsonRows.filter(t => t._1 >= 905L))
  }

  test("checkpointed replay keeps same-version remove+add files " +
    "active across a DV-delete + RESTORE tail") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(4))
    val dv0 = DeltaLog.currentVersion(root)
    DeltaLog.checkpoint(spark, root, dv0)
    // tail beyond the checkpoint: a DV delete commits remove+add of the
    // SAME path in one version (retire the bare entry, re-add with the
    // DV), and the RESTORE past it commits another same-version pair
    // re-attaching the pre-delete state — the fold must let the add win
    // within a commit or these files vanish from the active set
    DeltaLog.deleteWhereLongDV(spark, root, "k", 5L, 12L)
    val afterDelete = rows(DeltaLog.read(spark, root))
    DeltaLog.restore(spark, root, dv0)
    val restored = rows(DeltaLog.read(spark, root))
    assert(restored == (1L to 40L).map(k => (k, s"v$k")).toSet)
    assert(afterDelete ==
      restored.filterNot(t => t._1 >= 5L && t._1 <= 12L))
  }

  test("deleteWhereLongDV: soft-delete via deletion vectors — no data " +
    "rewrite, merged on repeat, protocol upgraded, time travel intact") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1))
    val dataFilesBefore = DeltaLog.filesAt(spark, root, 0L)
    val bytesBefore = dataFilesBefore
      .map(f => Files.size(Paths.get(root, f))).sum
    // DELETE k in [5, 8] — via DV, no rewrite
    val v1 = DeltaLog.deleteWhereLongDV(spark, root, "k", 5L, 8L)
    assert(v1 == 1L)
    assert(rows(DeltaLog.read(spark, root)) ==
      (1L to 20L).filterNot(k => k >= 5 && k <= 8)
        .map(k => (k, s"v$k")).toSet)
    // the data file is UNTOUCHED (same path, same bytes)
    assert(DeltaLog.filesAt(spark, root, v1) == dataFilesBefore)
    assert(dataFilesBefore.map(f => Files.size(Paths.get(root, f))).sum
      == bytesBefore, "DV delete must not rewrite data")
    // protocol upgraded to 3/7 + deletionVectors in the DV commit
    val c1 = commitLines(root, 1L)
    assert(c1.exists(l => l.contains("\"minReaderVersion\":3")
      && l.contains("deletionVectors")), c1.mkString("|"))
    // time travel BEFORE the delete still sees every row
    assert(rows(DeltaLog.readAt(spark, root, 0L)) ==
      (1L to 20L).map(k => (k, s"v$k")).toSet)
    // metadata-only count reflects the DV cardinality
    assert(DeltaLog.statsCount(spark, root).collect().head.getLong(0)
      == 16L)
    // second DV delete MERGES (k=1 plus already-deleted 5..8)
    val v2 = DeltaLog.deleteWhereLongDV(spark, root, "k", 1L, 1L)
    assert(rows(DeltaLog.read(spark, root)) ==
      (2L to 20L).filterNot(k => k >= 5 && k <= 8)
        .map(k => (k, s"v$k")).toSet)
    assert(DeltaLog.statsCount(spark, root).collect().head.getLong(0)
      == 15L)
    // deleting already-deleted rows is a no-op commit-wise
    assert(DeltaLog.deleteWhereLongDV(spark, root, "k", 5L, 8L) == v2)
    // checkpoint survival: DV descriptors ride the checkpoint
    DeltaLog.checkpoint(spark, root, v2)
    (0L to v2).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(rows(DeltaLog.read(spark, root)) ==
      (2L to 20L).filterNot(k => k >= 5 && k <= 8)
        .map(k => (k, s"v$k")).toSet,
      "DV must survive checkpoint compaction")
    // copy-on-write DML on a DV'd file rewrites the LIVE rows and
    // CLEARS the DV: the delete drops k=2 on top of the DV'd 5..8,
    // already-DV'd rows never resurrect, and the new add carries no
    // descriptor
    DeltaLog.deleteWhereLong(spark, root, "k", 2L, 2L)
    assert(rows(DeltaLog.read(spark, root)) ==
      (2L to 20L).filterNot(k => (k >= 5 && k <= 8) || k == 2L)
        .map(k => (k, s"v$k")).toSet)
    val postDelete = DeltaLog.currentVersion(root)
    assert(!commitLines(root, postDelete).exists(l =>
      l.contains("\"add\"") && l.contains("deletionVector")),
      "the rewrite must clear the DV from its add")
    DeltaLog.updateWhereLong(spark, root, "k", 3L, 3L,
      Map("v" -> lit("THREE")))
    assert(rows(DeltaLog.read(spark, root)).contains((3L, "THREE")))
    assert(!rows(DeltaLog.read(spark, root)).exists(_._1 == 5L),
      "the update rewrite must not resurrect DV-deleted rows")
  }

  test("restore rolls back DML in one commit; history stays travelable") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c")).toDF("k", "v").coalesce(1))
    assert(DeltaLog.deleteWhereLong(spark, root, "k", 2L, 3L) == 2L)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a")))
    assert(DeltaLog.restore(spark, root, 1L) == 3L)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the pre-restore state is history, not rewritten
    assert(rows(DeltaLog.readAt(spark, root, 2L)) == Set((1L, "a")))
    // restoring to the current snapshot's own content is a no-op
    assert(DeltaLog.restore(spark, root, 3L) == 3L)
  }

  test("restore across a DV delete swaps the descriptor both ways") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 2L, 2L)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (3L, "c")))
    // back to 0: same data file, descriptor dropped
    assert(DeltaLog.restore(spark, root, 0L) == 2L)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // forward again to the DV'd snapshot: descriptor re-attached
    assert(DeltaLog.restore(spark, root, 1L) == 3L)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (3L, "c")))
  }

  test("restore refuses a vacuumed-away snapshot loudly") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    DeltaLog.deleteWhereLong(spark, root, "k", 2L, 2L)
    DeltaLog.vacuum(spark, root)
    val e = intercept[IllegalArgumentException](
      DeltaLog.restore(spark, root, 0L))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("shallow clone: zero-copy read equals source; DML diverges the " +
    "clone only; clone vacuum never touches source files") {
    val root = freshRoot()
    // ONE source file so the k=2 delete is a genuine partial rewrite
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
    val clone = freshRoot()
    DeltaLog.shallowClone(spark, root, clone)
    assert(rows(DeltaLog.read(spark, clone)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // zero data copied: no parquet outside the clone's _delta_log
    def cloneParquets() = {
      val w = Files.walk(Paths.get(clone))
      try w.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") &&
          !p.toString.contains("_delta_log") &&
          !p.toString.contains(".graft_staging"))
      finally w.close()
    }
    assert(cloneParquets() == 0)
    // copy-on-write DELETE on the clone: clone diverges, source doesn't
    DeltaLog.deleteWhereLong(spark, clone, "k", 2L, 2L)
    assert(rows(DeltaLog.read(spark, clone)) == Set((1L, "a"), (3L, "c")))
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(cloneParquets() == 1, "the rewrite must land under the clone")
    // clone vacuum walks its own root only — source files survive
    DeltaLog.vacuum(spark, clone)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(DeltaLog.read(spark, clone)) == Set((1L, "a"), (3L, "c")))
  }

  test("shallow clone re-addresses DV sidecars as absolute p-storage; " +
    "a DV delete on the clone merges into a clone-local sidecar") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 2L, 3L)
    val clone = freshRoot()
    DeltaLog.shallowClone(spark, root, clone)
    assert(rows(DeltaLog.read(spark, clone)) ==
      Set((1L, "v1"), (4L, "v4"), (5L, "v5")))
    assert(commitLines(clone, 0L)
      .exists(_.contains("\"storageType\":\"p\"")))
    DeltaLog.deleteWhereLongDV(spark, clone, "k", 4L, 4L)
    assert(rows(DeltaLog.read(spark, clone)) ==
      Set((1L, "v1"), (5L, "v5")))
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "v1"), (4L, "v4"), (5L, "v5")))
  }

  test("mergeLongKey: whole-row upsert — matched rows replaced, new rows " +
    "inserted, stats-pruned files never rewritten") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1))
    val before = DeltaLog.filesAt(spark, root, 1L)
    val mv = DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    assert(mv == 2L)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "B"), (3L, "c"), (10L, "x"), (11L, "y")))
    // source keys span [2,3]: the (10,11) file is outside the range and
    // must survive BY IDENTITY (never rewritten)
    val after = DeltaLog.filesAt(spark, root, 2L)
    assert(after.intersect(before).size == 1, s"$before -> $after")
    assert(after.size == 3, s"rewrite + untouched + insert file: $after")
    // time travel below the merge still sees the old rows
    assert(rows(DeltaLog.readAt(spark, root, 1L)) ==
      Set((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
  }

  test("mergeLongKey: CDF records update pre/postimages and inserts; " +
    "a no-match merge is a pure append the feed synthesizes") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    val feed = DeltaLog.readChangeFeed(spark, root, 0L)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "b", "update_preimage"),
      (2L, "B", "update_postimage"), (3L, "c", "insert")))
    // no-match merge: adds only — the append tail stays readable
    DeltaLog.mergeKey(spark, root, "k",
      Seq((90L, "z")).toDF("k", "v"))
    assert(rows(DeltaLog.readAppendsSince(spark, root, 1L)) ==
      Set((90L, "z")))
    val feed2 = DeltaLog.readChangeFeed(spark, root, 1L)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed2 == Set((90L, "z", "insert")))
  }

  test("mergeKey: NULL source keys always insert; duplicate keys, " +
    "extra columns and DV'd files refuse loudly; partitioned targets " +
    "merge partition-locally") {
    val root = freshRoot()
    // the key must be DECLARED nullable or the NULL insert trips the
    // NOT NULL writer invariant (tuple-encoded Long => non-nullable)
    DeltaLog.commitFlat(spark, root,
      Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "v").coalesce(1))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((Some(2L), "B"), (None, "n")).toDF("k", "v"))
    val df = DeltaLog.read(spark, root)
    assert(df.filter(col("k").isNull).count() == 1L)
    assert(rows(df.filter(col("k").isNotNull)) ==
      Set((1L, "a"), (2L, "B")))
    val eDup = intercept[IllegalArgumentException](
      DeltaLog.mergeKey(spark, root, "k",
        Seq((5L, "x"), (5L, "y")).toDF("k", "v")))
    assert(eDup.getMessage.contains("multiple source rows"), eDup.getMessage)
    val eExtra = intercept[IllegalArgumentException](
      DeltaLog.mergeKey(spark, root, "k",
        Seq((5L, "x", 1)).toDF("k", "v", "w")))
    assert(eExtra.getMessage.contains("extra columns"), eExtra.getMessage)
    // partitioned targets merge partition-locally: the matched row's
    // rewrite stays in its partition, inserts route by their OWN
    // partition value (including brand-new partitions)
    val part = freshRoot()
    DeltaLog.commitPartitioned(spark, part,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "pt"), Seq("pt"))
    DeltaLog.mergeKey(spark, part, "k",
      Seq((2L, "B", "p2"), (3L, "c", "p3")).toDF("k", "v", "pt"))
    assert(DeltaLog.read(spark, part).select("k", "v", "pt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((1L, "a", "p1"), (2L, "B", "p2"), (3L, "c", "p3")))
    // a merge key that IS a partition column refuses
    val ePk = intercept[IllegalArgumentException](
      DeltaLog.mergeKey(spark, part, "pt",
        Seq((9L, "z", "p1")).toDF("k", "v", "pt")))
    assert(ePk.getMessage.contains("partition column"), ePk.getMessage)
    // MERGE into a table with a DV'd file: the rewrite drops the
    // matched LIVE rows, never resurrects the DV-deleted k=2, and the
    // new add carries no descriptor
    val dvRoot = freshRoot()
    DeltaLog.commitFlat(spark, dvRoot,
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, dvRoot, "k", 2L, 2L)
    DeltaLog.mergeKey(spark, dvRoot, "k", Seq((3L, "X")).toDF("k", "v"))
    assert(rows(DeltaLog.read(spark, dvRoot)) ==
      Set((1L, "v1"), (3L, "X"), (4L, "v4"), (5L, "v5")))
    assert(!commitLines(dvRoot, DeltaLog.currentVersion(dvRoot))
      .exists(l => l.contains("\"add\"") && l.contains("deletionVector")),
      "the merge rewrite must clear the DV from its add")
  }

  test("CDF over DML on DV'd files: already-DV-deleted rows never " +
    "re-emit as deletes, and a merge classes them as INSERTS") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 3L, 4L) // v1
    // copy-on-write delete over the DV'd file: only LIVE rows 2 and 5
    // may appear in the feed — 3 and 4 were deleted in v1
    DeltaLog.deleteWhereLong(spark, root, "k", 2L, 5L) // v2
    val feed = DeltaLog.readChangeFeed(spark, root, 1L)
      .select("k", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "delete"), (5L, "delete")), feed.toString)

    // merge against a still-DV'd file: the DV-deleted key must class
    // as an INSERT (its target row is logically gone), the live key as
    // an update pair
    val root2 = freshRoot()
    DeltaLog.commitFlat(spark, root2,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.deleteWhereLongDV(spark, root2, "k", 3L, 4L) // v1
    DeltaLog.mergeKey(spark, root2, "k",
      Seq((3L, "back"), (6L, "SIX")).toDF("k", "v")) // v2
    val feed2 = DeltaLog.readChangeFeed(spark, root2, 1L)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed2 == Set((3L, "back", "insert"),
      (6L, "v6", "update_preimage"), (6L, "SIX", "update_postimage")),
      feed2.toString)
    assert(rows(DeltaLog.read(spark, root2)) ==
      ((1L to 10L).filterNot(Set(3L, 4L, 6L)).map(k => (k, s"v$k")) ++
        Seq((3L, "back"), (6L, "SIX"))).toSet)
  }

  test("identity columns on a MAPPED table: the high-water mark folds " +
    "from physical-keyed footer stats, batches continue above it") {
    // create a name-mapped table WITH an identity column in one shot
    val root = freshRoot()
    DeltaLog.createIdentityTable(spark, root,
      Seq("a", "b", "c").toDF("v"), "id", start = 10L, step = 3L,
      configuration = Map("delta.columnMapping.mode" -> "name"))
    val ids0 = DeltaLog.read(spark, root).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids0.toSeq == Seq(10L, 13L, 16L), ids0.toSeq.toString)
    // the next batch must continue ABOVE the recorded mark — under
    // physical-keyed stats a logical-keyed fold would silently restart
    DeltaLog.commitFlat(spark, root, Seq("d", "e").toDF("v"))
    val ids1 = DeltaLog.read(spark, root).select("id")
      .collect().map(_.getLong(0))
    assert(ids1.length == 5 && ids1.distinct.length == 5,
      s"identity ids must stay unique: ${ids1.toSeq}")
    assert(ids1.forall(i => (i - 10L) % 3L == 0L), ids1.toSeq.toString)
    assert(ids1.sorted.drop(3).forall(_ > 16L),
      s"later batch must continue above the mark: ${ids1.toSeq}")
    // files store physical names
    val f = DeltaLog.filesAt(spark, root, 1L).head
    assert(spark.read.parquet(Paths.get(root, f).toString)
      .columns.forall(_.startsWith("col-")),
      "mapped identity table files must store physical names")
  }

  test("maintenance on mapped tables: OPTIMIZE ZORDER and partitioned " +
    "compaction rewrite physical-named files; resolution unchanged") {
    // name-mode flat table, two LONG columns for the Morton fold
    val zSchema =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"w","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-www"}}]}"""
        .replaceAll("\n\\s*", "")
    val root = freshRoot()
    writeFlat(root, "part-a.parquet",
      (1L to 50L).map(k => (k, k * 3L)).toDF("col-aaa", "col-www")
        .coalesce(1))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmz","format":{"provider":"parquet","options":{}},"schemaString":"${zSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLog.commitFlat(spark, root,
      (51L to 100L).map(k => (k, k * 3L)).toDF("k", "w").coalesce(1))
    DeltaLog.optimizeZOrder(spark, root, "k", "w", bits = 8, numFiles = 2)
    val got = DeltaLog.read(spark, root).select("k", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L to 100L).map(k => (k, k * 3L)).toSet)
    val zFile = DeltaLog.filesAt(spark, root,
      DeltaLog.currentVersion(root)).head
    assert(spark.read.parquet(Paths.get(root, zFile).toString)
      .columns.toSeq == Seq("col-aaa", "col-www"),
      "z-ordered rewrite must store physical names")

    // partitioned mapped table: two small files in one partition compact
    val pSchema =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-ppp"}}]}"""
        .replaceAll("\n\\s*", "")
    val root2 = freshRoot()
    writeFlat(root2, "col-ppp=x/f1.parquet", Seq(Tuple1(1L)).toDF("col-aaa"))
    writeCommit(root2, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmpc","format":{"provider":"parquet","options":{}},"schemaString":"${pSchema.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"col-ppp%3Dx/f1.parquet","partitionValues":{"col-ppp":"x"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLog.commitPartitioned(spark, root2,
      Seq((2L, "x")).toDF("k", "p"), Seq("p"))
    DeltaLog.compactPartitioned(spark, root2)
    assert(DeltaLog.read(spark, root2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "x"), (2L, "x")))
    val active = DeltaLog.filesAt(spark, root2,
      DeltaLog.currentVersion(root2))
    assert(active.size == 1, active.toString)
    assert(spark.read.parquet(Paths.get(root2, active.head).toString)
      .columns.toSeq == Seq("col-aaa"),
      "compacted file must store the physical data-column name")
  }

  test("partitioned merge CDF under COLLIDING basenames: one write's " +
    "part files repeat names across partition dirs — pre-images must " +
    "keep their own file's bucket (r17 regression: a basename tag join " +
    "multiplied every pre-image into every bucket)") {
    val root = freshRoot()
    // ONE partitioned commit: part-00000-<uuid> repeats in every pt dir
    DeltaLog.commitPartitioned(spark, root,
      (1L to 40L).map(k => (k, k * 10L, (k % 4).toString))
        .toDF("k", "x", "pt"), Seq("pt"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.mergeKey(spark, root, "k",
      (1L to 20L).map(k => (k, -k, ((k + 1) % 4).toString))
        .toDF("k", "x", "pt")
        .unionByName((100L to 110L).map(k => (k, k, (k % 4).toString))
          .toDF("k", "x", "pt")))
    val feed = DeltaLog.readChangeFeed(spark, root, 0L)
    val pre = feed.filter(col("_change_type") === "update_preimage")
    assert(pre.count() == 20L, s"pre rows: ${pre.count()}")
    assert(pre.filter(col("pt") =!= pmod(col("k"), lit(4)).cast("string"))
      .count() == 0L, "pre-images must carry their ORIGINAL bucket")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(post.count() == 20L)
    assert(post.filter(col("pt") =!=
      pmod(col("k") + 1, lit(4)).cast("string")).count() == 0L,
      "post-images must carry the source row's NEW bucket")
    assert(feed.filter(col("_change_type") === "insert").count() == 11L)
  }

  test("mergeKey: STRING keys — the reference's order_id merge shape; " +
    "exact probe leaves untouched files un-rewritten") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq(("o-1", 10L), ("o-2", 20L), ("o-3", 30L)).toDF("oid", "amt")
        .coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq(("o-4", 40L)).toDF("oid", "amt").coalesce(1))
    DeltaLog.mergeKey(spark, root, "oid",
      Seq(("o-2", 21L), ("o-5", 50L)).toDF("oid", "amt"))
    val got = DeltaLog.read(spark, root).select("oid", "amt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("o-1" -> 10L, "o-2" -> 21L, "o-3" -> 30L,
      "o-4" -> 40L, "o-5" -> 50L))
    // the o-4 file had no matched key: the semi-join probe must leave
    // it active and un-rewritten even without stats pruning
    val v1files = DeltaLog.filesAt(spark, root, 1L).toSet
    val v2files = DeltaLog.filesAt(spark, root, 2L).toSet
    assert(v1files.intersect(v2files).nonEmpty,
      "untouched file must survive the merge un-rewritten")
  }

  test("mergeKey: cross-partition move — the matched row leaves its " +
    "old partition, lands by its NEW partition value; per-partition " +
    "CDF records pre in the old and post in the new partition") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
        .toDF("k", "v", "pt"), Seq("pt"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // k=2 moves p1 → p2 with a new payload; k=9 inserts into p3
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B", "p2"), (9L, "z", "p3")).toDF("k", "v", "pt"))
    val got = DeltaLog.read(spark, root).select("k", "v", "pt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", "p1"), (2L, "B", "p2"), (3L, "c", "p2"),
      (9L, "z", "p3")))
    // survivor k=1 stayed in its rewritten p1 file; partition dirs hold
    // what the partitionValues say
    val active = DeltaLog.filesAt(spark, root, 1L)
    assert(active.exists(_.startsWith("pt=p1/")), active.toString)
    assert(active.exists(_.startsWith("pt=p3/")), active.toString)
    val feed = DeltaLog.readChangeFeed(spark, root, 0L)
      .select("k", "v", "pt", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(feed == Set(
      (2L, "b", "p1", "update_preimage"),
      (2L, "B", "p2", "update_postimage"),
      (9L, "z", "p3", "insert")))
  }

  test("mergeSchema append: new columns append nullable and survive a " +
    "checkpoint; missing columns read null; type changes and unflagged " +
    "evolution refuse") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val eNoFlag = intercept[IllegalArgumentException](
      DeltaLog.commitFlat(spark, root,
        Seq((2L, "b", 0.5)).toDF("k", "v", "w")))
    assert(eNoFlag.getMessage.contains("mergeSchema"), eNoFlag.getMessage)
    DeltaLog.commitFlat(spark, root,
      Seq((2L, "b", 0.5)).toDF("k", "v", "w"), mergeSchema = true)
    // a batch MISSING the evolved column: its files simply lack it
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v"),
      mergeSchema = true)
    val df = DeltaLog.read(spark, root)
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    val got = df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some(0.5)),
      (3L, "c", None)))
    val eType = intercept[IllegalArgumentException](
      DeltaLog.commitFlat(spark, root,
        Seq((4L, "d", "oops")).toDF("k", "v", "w"), mergeSchema = true))
    assert(eType.getMessage.contains("type changes"), eType.getMessage)
    // the evolved metaData must survive checkpoint compaction
    DeltaLog.checkpoint(spark, root, 2L)
    (0L to 1L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(DeltaLog.read(spark, root).columns.toSeq == Seq("k", "v", "w"))
    assert(DeltaLog.read(spark, root).count() == 3L)
  }

  test("CHECK constraints: add validates existing rows and bumps the " +
    "writer floor; every write path enforces inline; drop lifts") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    val eBad = intercept[IllegalArgumentException](
      DeltaLog.addCheckConstraint(spark, root, "k_big", "k > 1"))
    assert(eBad.getMessage.contains("existing rows violate"), eBad.getMessage)
    DeltaLog.addCheckConstraint(spark, root, "k_pos", "k > 0")
    assert(commitLines(root, 1L)
      .exists(_.contains("\"minWriterVersion\":3")))
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v"))
    val before = DeltaLog.currentVersion(root)
    intercept[Exception](DeltaLog.commitFlat(spark, root,
      Seq((-1L, "x")).toDF("k", "v")))
    intercept[Exception](DeltaLog.mergeKey(spark, root, "k",
      Seq((-5L, "y")).toDF("k", "v")))
    intercept[Exception](DeltaLog.updateWhereLong(spark, root, "k",
      1L, 1L, Map("k" -> lit(-9L))))
    assert(DeltaLog.currentVersion(root) == before,
      "a violating write must not commit")
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    DeltaLog.dropCheckConstraint(spark, root, "k_pos")
    DeltaLog.commitFlat(spark, root, Seq((-1L, "x")).toDF("k", "v"))
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (-1L, "x")))
    intercept[IllegalArgumentException](
      DeltaLog.dropCheckConstraint(spark, root, "nope"))
  }

  test("NOT NULL invariant: a declared non-nullable column refuses a " +
    "batch carrying NULLs, including via mergeSchema-missing columns") {
    val root = freshRoot()
    // tuple-encoded Long => nullable=false in the declared schema
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val before = DeltaLog.currentVersion(root)
    intercept[Exception](DeltaLog.commitFlat(spark, root,
      Seq((Some(2L), "b"), (None, "n")).toDF("k", "v")))
    assert(DeltaLog.currentVersion(root) == before)
    // a mergeSchema batch missing the non-null column is all-NULL there
    intercept[Exception](DeltaLog.commitFlat(spark, root,
      Seq(("only-v", 1.0)).toDF("v", "w"), mergeSchema = true))
    assert(DeltaLog.currentVersion(root) == before)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a")))
  }

  test("optimizeZOrder: identical rows as dataChange=false, DVs applied " +
    "and cleared, history time-travelable, selective reads prune files") {
    val root = freshRoot()
    // four files EACH spanning the full x range — worst-case skipping
    (0 until 4).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        (0L until 64L).map(j => (j, j % 4, s"r$i-$j"))
          .toDF("x", "y", "s").coalesce(1))
    }
    DeltaLog.deleteWhereLongDV(spark, root, "x", 10L, 10L)
    val vPre = DeltaLog.currentVersion(root)
    def all(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val pre = all(DeltaLog.read(spark, root))
    assert(pre.size == 4 * 64 - 4)
    val filesBefore = scannedFiles(DeltaLog.read(spark, root)
      .where(col("x").between(0L, 7L)))
    assert(filesBefore == 4, "every pre-optimize file overlaps [0,7]")
    val vOpt = DeltaLog.optimizeZOrder(spark, root, "x", "y", 6, 4)
    assert(vOpt == vPre + 1)
    assert(all(DeltaLog.read(spark, root)) == pre)
    // the commit is pure layout: dataChange=false everywhere, DVs gone
    val lines = commitLines(root, vOpt)
    assert(lines.forall(l => !l.contains("\"dataChange\":true")), lines)
    assert(lines.filter(_.contains("\"add\""))
      .forall(!_.contains("deletionVector")), "OPTIMIZE must clear DVs")
    // narrow per-file x ranges now prune the selective read
    val filesAfter = scannedFiles(DeltaLog.read(spark, root)
      .where(col("x").between(0L, 7L)))
    assert(filesAfter < filesBefore && filesAfter <= 2,
      s"$filesBefore -> $filesAfter")
    // pre-optimize versions stay travelable; the append tail skips it
    assert(all(DeltaLog.readAt(spark, root, vPre)) == pre)
    assert(DeltaLog.readAppendsSince(spark, root, vPre).count() == 0L)
  }

  test("generated columns: computed when the batch lacks them, verified " +
    "when provided, recomputed on UPDATE, SET of one refuses") {
    val root = freshRoot()
    val base = DeltaLog.withGenerationExpression(
      Seq((1L, 10L, 20L)).toDF("k", "x", "dbl"), "dbl", "x * 2")
    DeltaLog.commitFlat(spark, root, base)
    assert(commitLines(root, 0L)
      .exists(_.contains("\"minWriterVersion\":4")))
    // batch WITHOUT the generated column: computed
    DeltaLog.commitFlat(spark, root, Seq((2L, 7L)).toDF("k", "x"))
    // batch WITH a consistent value: verified, passes
    DeltaLog.commitFlat(spark, root, Seq((3L, 5L, 10L)).toDF("k", "x", "dbl"))
    def all() = DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all() == Set((1L, 10L, 20L), (2L, 7L, 14L), (3L, 5L, 10L)))
    // batch with a LYING value: fails loudly, nothing commits
    val before = DeltaLog.currentVersion(root)
    intercept[Exception](DeltaLog.commitFlat(spark, root,
      Seq((4L, 6L, 999L)).toDF("k", "x", "dbl")))
    assert(DeltaLog.currentVersion(root) == before)
    // UPDATE recomputes the generated column from the post-SET value
    DeltaLog.updateWhereLong(spark, root, "k", 2L, 2L,
      Map("x" -> lit(100L)))
    assert(all() == Set((1L, 10L, 20L), (2L, 100L, 200L), (3L, 5L, 10L)))
    val eSet = intercept[IllegalArgumentException](
      DeltaLog.updateWhereLong(spark, root, "k", 1L, 1L,
        Map("dbl" -> lit(0L))))
    assert(eSet.getMessage.contains("GENERATED ALWAYS"), eSet.getMessage)
    // MERGE computes missing generated columns on the source
    DeltaLog.mergeKey(spark, root, "k",
      Seq((3L, 8L), (9L, 1L)).toDF("k", "x"))
    assert(all() == Set((1L, 10L, 20L), (2L, 100L, 200L),
      (3L, 8L, 16L), (9L, 1L, 2L)))
  }

  test("vacuum retention judges by the remove's deletionTimestamp: a " +
    "long-lived file removed just now survives even with an ancient " +
    "mtime (time travel inside the window keeps reading); aging the " +
    "RECORDED removal past the horizon collects it") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"),
      rewrite = true)
    val orphanRel = DeltaLog.filesAt(spark, root, 0L).head
    // ancient WRITE time, recent REMOVAL: the mtime test alone would
    // collect it — the recorded deletionTimestamp must win, or a
    // long-lived file deleted a second ago dies under its readers
    Files.setLastModifiedTime(Paths.get(root, orphanRel),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    assert(DeltaLog.vacuum(spark, root, 3600000L).isEmpty)
    assert(rows(DeltaLog.readAt(spark, root, 0L)) == Set((1L, "a")))
    // age the RECORDED removal past the window (edit the commit's
    // deletionTimestamp): collected, current snapshot untouched
    val commit1 = Paths.get(root, "_delta_log",
      f"${1L}%020d.json")
    val aged = new String(Files.readAllBytes(commit1), "UTF-8")
      .replaceAll(""""deletionTimestamp":\d+""",
        s""""deletionTimestamp":${System.currentTimeMillis() - 7200000L}""")
    Files.write(commit1, aged.getBytes("UTF-8"))
    assert(DeltaLog.vacuum(spark, root, 3600000L) == Seq(orphanRel))
    assert(rows(DeltaLog.read(spark, root)) == Set((2L, "b")))
  }

  test("no-arg vacuum honors declared delta.deletedFileRetentionDuration; " +
    "interval strings parse; undeclared tables collect immediately") {
    assert(DeltaLog.parseIntervalMs("interval 1 week") == 604800000L)
    assert(DeltaLog.parseIntervalMs("interval 2 days") == 172800000L)
    assert(DeltaLog.parseIntervalMs("INTERVAL 36 Hours") == 129600000L)
    assert(intercept[IllegalArgumentException] {
      DeltaLog.parseIntervalMs("interval 3 fortnights")
    }.getMessage.contains("fortnight"))
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      configuration =
        Map("delta.deletedFileRetentionDuration" -> "interval 1 hour"))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"),
      rewrite = true)
    // the fresh tombstone is inside the declared window — no-arg
    // vacuum must keep it and v0 stays travelable
    assert(DeltaLog.vacuum(spark, root).isEmpty)
    assert(rows(DeltaLog.readAt(spark, root, 0L)) == Set((1L, "a")))
    // an undeclared table's no-arg vacuum stays the zero-retention
    // collect (documented local default)
    val root2 = freshRoot()
    DeltaLog.commitFlat(spark, root2, Seq((1L, "a")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root2, Seq((2L, "b")).toDF("k", "v"),
      rewrite = true)
    assert(DeltaLog.vacuum(spark, root2).nonEmpty)
  }

  test("readWhere intersects predicate layers: a partition-equality × " +
    "long-range conjunction scans FEWER files than either predicate " +
    "alone; rows are the exact conjunction") {
    import spark.implicits._
    val root = freshRoot()
    // 4 partitions × 4 disjoint-range files each = 16 files: the range
    // predicate alone keeps one file PER partition (4), the partition
    // predicate alone keeps its whole partition (4), the conjunction
    // keeps exactly 1
    (0 until 4).foreach { r =>
      DeltaLog.commitPartitioned(spark, root,
        (0 until 4).flatMap(b => (r * 100 until r * 100 + 100)
          .map(k => (k.toLong, s"b$b"))).toDF("k", "bucket")
          .repartition(4, col("bucket")),
        Seq("bucket"))
    }
    assert(DeltaLog.filesAt(spark, root,
      DeltaLog.currentVersion(root)).size == 16)
    val range = col("k").between(150, 160)
    val part = col("bucket") === "b2"
    val rangeOnly = DeltaLog.read(spark, root).where(range)
    val partOnly = DeltaLog.read(spark, root).where(part)
    val both = DeltaLog.read(spark, root).where(range && part)
    val (nRange, nPart, nBoth) =
      (scannedFiles(rangeOnly), scannedFiles(partOnly), scannedFiles(both))
    assert(nRange == 4L, s"range-only scanned $nRange files")
    assert(nPart == 4L, s"partition-only scanned $nPart files")
    assert(nBoth == 1L,
      s"the conjunction must scan strictly fewer files ($nBoth) than " +
        s"either single-column prune ($nRange / $nPart)")
    assert(both.select("k").as[Long].collect().toSet ==
      (150L to 160L).toSet)
    // the point layer composes too: point × partition opens only the
    // kept files of the one partition
    val pointBoth = DeltaLog.read(spark, root)
      .where(col("k") === 155L && col("bucket") === "b1")
    assert(scannedFiles(pointBoth) <= 1L)
    assert(pointBoth.select("k").as[Long].collect().toSeq == Seq(155L))
  }

  test("readWhere DateRange prunes through ISO-rendered date stats; " +
    "vacuumDryRun reports without deleting") {
    import spark.implicits._
    val root = freshRoot()
    (0 until 4).foreach { i =>
      val base = java.time.LocalDate.of(2022, 1, 1).plusMonths(i * 3L)
      DeltaLog.commitFlat(spark, root,
        (0 until 30).map(j =>
          (java.sql.Date.valueOf(base.plusDays(j.toLong)), j.toLong))
          .toDF("d", "x").coalesce(1))
    }
    val ranged = DeltaLog.read(spark, root).where(col("d").between(
      java.sql.Date.valueOf("2022-04-05"),
      java.sql.Date.valueOf("2022-04-20")))
    assert(scannedFiles(ranged) == 1L,
      "date range must stats-prune to the one covering file")
    assert(ranged.count() == 16L)
    // dry run after a delete: reports the reclaimable set, deletes
    // nothing; the real vacuum then removes exactly that set
    DeltaLog.deleteWhereLong(spark, root, "x", 0L, 5L)
    val wouldGo = DeltaLog.vacuumDryRun(spark, root)
    assert(wouldGo.nonEmpty)
    assert(wouldGo.forall(rel => Files.exists(Paths.get(root, rel))),
      "dry run must not delete")
    assert(DeltaLog.vacuum(spark, root) == wouldGo)
    assert(wouldGo.forall(rel => !Files.exists(Paths.get(root, rel))))
  }

  test("readWhere IsNull/IsNotNull prune through recorded nullCount " +
    "and compose with range conjuncts") {
    import spark.implicits._
    val root = freshRoot()
    // three one-file commits: all-present, mixed, all-null
    DeltaLog.commitFlat(spark, root,
      Seq((Option(1L), "a"), (Option(2L), "a")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((Option(3L), "b"), (Option.empty[Long], "b"))
        .toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((Option.empty[Long], "c"), (Option.empty[Long], "c"))
        .toDF("k", "v").coalesce(1))
    val nulls = DeltaLog.read(spark, root).where(col("k").isNull)
    assert(scannedFiles(nulls) == 2L,
      "IS NULL must skip the zero-nullCount file")
    assert(nulls.select("v").as[String].collect().sorted.toSeq ==
      Seq("b", "c", "c"))
    val notNulls = DeltaLog.read(spark, root).where(col("k").isNotNull)
    assert(scannedFiles(notNulls) == 2L,
      "IS NOT NULL must skip the all-null file")
    assert(notNulls.select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // conjunction: IS NOT NULL × range [1,2] — the null layer drops
    // the all-null file, the range layer drops the mixed file (min 3)
    val both = DeltaLog.read(spark, root)
      .where(col("k").isNotNull && col("k").between(1L, 2L))
    assert(scannedFiles(both) == 1L)
    assert(both.select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("readWhere LongIn/StringIn prune per listed value: stats drop " +
    "files no value lands in, footer blooms drop in-range non-owners") {
    import spark.implicits._
    // stats layer: four files with DISJOINT key ranges — an IN list
    // touching two of them scans exactly two
    val ranged = freshRoot()
    (0 until 4).foreach { i =>
      DeltaLog.commitFlat(spark, ranged,
        (i * 100 until i * 100 + 100).map(k => (k.toLong, s"f$i"))
          .toDF("k", "v").coalesce(1))
    }
    val two = DeltaLog.read(spark, ranged)
      .where(col("k").isin(5L, 310L, 315L))
    assert(scannedFiles(two) == 2L,
      "stats must keep only the two files the IN list lands in")
    assert(two.select("k").as[Long].collect().toSet ==
      Set(5L, 310L, 315L))
    // bloom layer: four files with fully-OVERLAPPING ranges but
    // DISJOINT residues mod 8 — stats keep all four for any in-range
    // value, the blooms keep only the owners of the listed values
    val hashed = freshRoot()
    (0 until 4).foreach { i =>
      DeltaLog.commitFlat(spark, hashed,
        (0L until 64L).map(j => (8 * j + i, s"f$i-$j")).toDF("k", "v")
          .coalesce(1),
        writeOptions = DeltaLog.bloomOptions(Seq("k"), ndv = 64))
    }
    val owners = DeltaLog.read(spark, hashed)
      .where(col("k").isin(128L, 129L, 6L)) // residues 0, 1, absent
    assert(scannedFiles(owners) == 2L,
      "blooms must keep only the owner files of listed values")
    assert(owners.select("k").as[Long].collect().toSet ==
      Set(128L, 129L))
    // a string IN: same layers on a string key; a non-ASCII value
    // keeps files at the stats layer (truncation guard) but the bloom
    // still answers exactly, and the filter itself stays correct
    val named = freshRoot()
    (0 until 3).foreach { i =>
      DeltaLog.commitFlat(spark, named,
        (0 until 20).map(j => (s"u$i-$j", i.toLong)).toDF("name", "x")
          .coalesce(1),
        writeOptions = DeltaLog.bloomOptions(Seq("name"), ndv = 32))
    }
    val sIn = DeltaLog.read(spark, named)
      .where(col("name").isin("u0-5", "u2-7", "absent-é"))
    assert(scannedFiles(sIn) == 2L,
      "string IN must scan only the owners (bloom is byte-exact even " +
        "for the non-ASCII miss)")
    assert(sIn.select("name").as[String].collect().toSet ==
      Set("u0-5", "u2-7"))
  }

  test("file skipping is sound: read().where(p) returns the locally " +
    "filtered rows for every predicate shape, and the shapes the rule " +
    "understands scan fewer files") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(919L)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("i", IntegerType), StructField("dec", DecimalType(12, 2)),
      StructField("d", DateType), StructField("s", StringType),
      StructField("ts", TimestampType), StructField("dbl", DoubleType),
      StructField("b", BooleanType), StructField("p", StringType)))
    val day0 = java.time.LocalDate.of(2021, 1, 1)
    // one file's rows: k = lo..lo+24 shuffled, the other columns follow
    // k, so every file's ranges are disjoint; `kind` marks the odd files
    def fileRows(lo: Long, p: String, kind: String = ""): Seq[Row] =
      rnd.shuffle((lo until lo + 25).toList).map { k =>
        Row(k,
          if (kind == "nullI" || (kind == "mixed" && k % 3 == 0)) null
          else Int.box((k % 7).toInt),
          java.math.BigDecimal.valueOf(k * 25, 2),
          java.sql.Date.valueOf(
            if (kind == "farDates") java.time.LocalDate.of(10000, 1, 1)
              .plusDays(k % 25)
            else day0.plusDays(k)),
          if (kind == "nonAscii") s"é-$k" else f"s-$k%04d",
          new java.sql.Timestamp(k * 1000L),
          if (kind == "mixed" && rnd.nextBoolean()) Double.NaN else k / 3.0,
          Boolean.box(rnd.nextBoolean()), p)
      }
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
    val kinds = Map((1, "x") -> "nullI", (1, "y") -> "mixed",
      (2, "x") -> "nonAscii", (3, "y") -> "farDates")
    val root = freshRoot()
    (0 until 4).foreach { c =>
      DeltaLog.commitPartitioned(spark, root, frame(Seq("x", "y").flatMap(p =>
        fileRows(c * 100L + (if (p == "y") 50L else 0L), p,
          kinds.getOrElse((c, p), "")))), Seq("p"))
    }
    DeltaLog.deleteWhereLongDV(spark, root, "k", 10L, 14L)
    // two external adds: truncated (still enclosing) string stats, and
    // no stats at all
    val trunc = fileRows(900L, "x").sortBy(_.getLong(0)).zip(Seq(
      "trunc-aaaa-long", "trunc-mmmm-long", "trunc-zzzz-long"))
      .map { case (r, s) => Row.fromSeq(r.toSeq.updated(4, s)) }
    writeFlat(root, "p=x/ext-trunc.parquet", frame(trunc).drop("p"))
    writeFlat(root, "p=y/ext-nostats.parquet",
      frame(fileRows(950L, "y")).drop("p"))
    val stats = """{"numRecords":3,"minValues":{"k":900,"s":"trunc-a"},""" +
      """"maxValues":{"k":902,"s":"trunc-{"},"nullCount":{"k":0,"i":0}}"""
    val v = DeltaLog.currentVersion(root)
    writeCommit(root, v + 1, Seq(
      s"""{"add":{"path":"p=x/ext-trunc.parquet","partitionValues":{"p":"x"},"size":1,"modificationTime":1,"dataChange":true,"stats":"${stats.replace("\"", "\\\"")}"}}""",
      """{"add":{"path":"p=y/ext-nostats.parquet","partitionValues":{"p":"y"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val total = DeltaLog.filesAt(spark, root, v + 1).size.toLong
    assert(total == 10L)
    val unpruned = DeltaLog.read(spark, root).collect()
    assert(unpruned.length == 8 * 25 - 5 + 3 + 25)
    val local = spark.createDataFrame(unpruned.toList.asJava,
      DeltaLog.read(spark, root).schema)
    def check(p: org.apache.spark.sql.Column): Long = {
      val df = DeltaLog.read(spark, root).where(p)
      val n = scannedFiles(df)
      assert(df.collect().map(_.toString).sorted.toSeq ==
        local.where(p).collect().map(_.toString).sorted.toSeq,
        s"rows differ under $p")
      n
    }
    def day(n: Int) = java.sql.Date.valueOf(day0.plusDays(n.toLong))
    // bounds sit on recorded min/max values where they can: an
    // off-by-one in the rule loses rows there
    val pruned = Seq(
      col("k") === 150L, col("k") === 124L, lit(205L) === col("k"),
      col("k") < 20L, lit(20L) > col("k"), col("k") <= 250L,
      col("k") > 323L, col("k") >= 374L, lit(374L) <= col("k"),
      col("k").between(150L, 160L), col("k").between(10L, 12L),
      col("k").isin(5L, 50L, 224L, 960L),
      col("k").isin((300L to 320L): _*), col("i").isNull,
      col("i").isNotNull, col("i") > 100, col("k") < 10L || col("k") > 370L,
      col("k") > 100L && col("dec") < new java.math.BigDecimal("40.00"),
      col("dec").between(new java.math.BigDecimal("25.00"),
        new java.math.BigDecimal("30.00")),
      col("d").between(day(100), day(124)), col("d") === day(260),
      col("d") > java.sql.Date.valueOf("9999-12-31"),
      col("s") === "s-0260", col("s").between("s-0300", "s-0330"),
      col("s") === "trunc-zzzz-long", col("s") > "trunc-b",
      col("p") === "x" && col("k").between(100L, 400L))
    val kept = Seq(
      col("ts") > new java.sql.Timestamp(300000L), col("dbl") > 100.0,
      col("dbl").isNaN, col("b") === true, col("s") === "é-205",
      col("k").cast("string") === "205")
    val rowsOnly = Seq(!(col("k") > 300L), col("dbl") < col("k"),
      col("p") === "x" || col("k") > 370L, col("k") === 955L)
    pruned.foreach { p =>
      val n = check(p)
      assert(n < total, s"$p scanned $n of $total files")
    }
    kept.foreach { p =>
      val n = check(p)
      assert(n == total, s"$p scanned $n of $total files")
    }
    rowsOnly.foreach(check)
  }

  test("cleanUpExpiredLogs cuts at a checkpoint boundary: expired " +
    "prefix commits and superseded checkpoints go, every retained " +
    "version still replays; unexpired commits pin older checkpoints") {
    import spark.implicits._
    val root = freshRoot()
    (0 to 5).foreach(i => DeltaLog.commitFlat(spark, root,
      Seq((Option(i.toLong), s"v$i")).toDF("k", "v").coalesce(1)))
    DeltaLog.checkpoint(spark, root, 2L)
    DeltaLog.checkpoint(spark, root, 4L)
    def age(v: Long): Unit = Files.setLastModifiedTime(
      Paths.get(root, "_delta_log", f"$v%020d.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    val hour = 3600000L
    // nothing expired: no-op
    assert(DeltaLog.cleanUpExpiredLogs(spark, root, hour).isEmpty)
    // 0..2 expired, 3 fresh: the cut can only land on checkpoint 2 —
    // commits 0 and 1 go, checkpoint 2 and everything above stay
    Seq(0L, 1L, 2L).foreach(age)
    val gone1 = DeltaLog.cleanUpExpiredLogs(spark, root, hour)
    assert(gone1 == Seq(f"${0L}%020d.json", f"${1L}%020d.json"))
    assert(rows(DeltaLog.readAt(spark, root, 2L)).size == 3)
    (3L to 5L).foreach(v =>
      assert(rows(DeltaLog.readAt(spark, root, v)).size == v.toInt + 1))
    assert(intercept[IllegalArgumentException] {
      DeltaLog.readAt(spark, root, 1L)
    }.getMessage.contains("does not exist"))
    // everything below the newest checkpoint expired: cut at 4 —
    // commits 2,3 and the superseded classic checkpoint 2 go
    Seq(3L, 4L, 5L).foreach(age)
    val gone2 = DeltaLog.cleanUpExpiredLogs(spark, root, hour)
    assert(gone2.toSet == Set(f"${2L}%020d.json", f"${3L}%020d.json",
      f"${2L}%020d.checkpoint.parquet"))
    assert(rows(DeltaLog.readAt(spark, root, 4L)).size == 5)
    assert(rows(DeltaLog.readAt(spark, root, 5L)).size == 6)
    assert(DeltaLog.currentVersion(root) == 5L)
    // further writes continue the chain normally after a cleanup
    DeltaLog.commitFlat(spark, root,
      Seq((Option(6L), "v6")).toDF("k", "v").coalesce(1))
    assert(rows(DeltaLog.readAt(spark, root, 6L)).size == 7)
  }

  test("cleanUpExpiredLogs sweeps V2 tops and their now-unreferenced " +
    "sidecars; the retained V2 checkpoint still replays") {
    import spark.implicits._
    val root = freshRoot()
    (0 to 1).foreach(i => DeltaLog.commitFlat(spark, root,
      (1L to 4L).map(k => (Option(k + i * 10L), s"c$i"))
        .toDF("k", "v").coalesce(1)))
    DeltaLog.enableV2Checkpoints(spark, root)
    DeltaLog.checkpointV2(spark, root, 2L, maxAddsPerSidecar = 1L)
    DeltaLog.commitFlat(spark, root,
      Seq((Option(100L), "tail")).toDF("k", "v").coalesce(1))
    DeltaLog.checkpointV2(spark, root, 3L, maxAddsPerSidecar = 1L)
    val logd = Paths.get(root, "_delta_log")
    val sideDir = logd.resolve("_sidecars")
    def ageAll(dir: java.nio.file.Path): Unit = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach(p =>
        Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 7200000L)))
      finally s.close()
    }
    ageAll(logd); ageAll(sideDir)
    val before = { val s = Files.list(sideDir)
      try s.iterator().asScala.count(Files.isRegularFile(_))
      finally s.close() }
    val gone = DeltaLog.cleanUpExpiredLogs(spark, root, 3600000L)
    // cut at 3: commits 0..2 and the v2 top at 2 go; the top-2
    // sidecars are unreferenced now and aged — swept
    assert(gone.exists(_.endsWith(f"${2L}%020d.json")))
    assert(gone.exists(n => n.startsWith(f"${2L}%020d.checkpoint.")))
    assert(gone.exists(_.startsWith("_sidecars/")))
    val after = { val s = Files.list(sideDir)
      try s.iterator().asScala.count(Files.isRegularFile(_))
      finally s.close() }
    assert(after < before)
    assert(rows(DeltaLog.readAt(spark, root, 3L)).size == 9)
    assert(DeltaLog.readAt(spark, root, 3L).count() == 9L)
  }

  test("renameColumn / dropColumn on mapped tables: metaData-only " +
    "commits with zero data movement; re-added names get FRESH " +
    "physical ids (dropped bytes never resurrect); refusals loud") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w")
        .coalesce(1),
      configuration = Map("delta.columnMapping.mode" -> "name"))
    val filesBefore = DeltaLog.filesAt(spark, root, 0L).toSet
    DeltaLog.renameColumn(spark, root, "v", "label")
    assert(DeltaLog.filesAt(spark, root,
      DeltaLog.currentVersion(root)).toSet == filesBefore,
      "rename must move zero data")
    val renamed = DeltaLog.read(spark, root)
    assert(renamed.columns.toSeq == Seq("k", "label", "w"))
    assert(renamed.select("k", "label").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    // writes after the rename land under the SAME physical column:
    // old and new files read back as one table
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c", 30L)).toDF("k", "label", "w").coalesce(1))
    assert(DeltaLog.read(spark, root).select("label")
      .as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    // drop w, then re-add the NAME via evolution: the fresh physical
    // id reads null from every pre-drop file
    DeltaLog.dropColumn(spark, root, "w")
    assert(DeltaLog.read(spark, root).columns.toSeq == Seq("k", "label"))
    DeltaLog.commitFlat(spark, root,
      Seq((4L, "d", 99L)).toDF("k", "label", "w").coalesce(1),
      mergeSchema = true)
    val readd = DeltaLog.read(spark, root).select("k", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(readd == Set((1L, -1L), (2L, -1L), (3L, -1L), (4L, 99L)),
      s"dropped bytes must not resurrect: $readd")
    // refusals: unmapped table, taken target, unknown source,
    // constraint-referenced column, partition column, last column
    val plain = freshRoot()
    DeltaLog.commitFlat(spark, plain,
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    assert(intercept[IllegalArgumentException](
      DeltaLog.renameColumn(spark, plain, "v", "x"))
      .getMessage.contains("no column mapping"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.dropColumn(spark, plain, "v"))
      .getMessage.contains("no column mapping"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.renameColumn(spark, root, "label", "k"))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.renameColumn(spark, root, "gone", "x"))
      .getMessage.contains("no column gone"))
    DeltaLog.addCheckConstraint(spark, root, "label_nonempty",
      "length(label) > 0")
    assert(intercept[IllegalArgumentException](
      DeltaLog.renameColumn(spark, root, "label", "title"))
      .getMessage.contains("CHECK constraint"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.dropColumn(spark, root, "label"))
      .getMessage.contains("CHECK constraint"))
    val parted = freshRoot()
    DeltaLog.commitPartitioned(spark, parted,
      Seq((1L, "p0"), (2L, "p1")).toDF("k", "bucket"),
      Seq("bucket"),
      configuration = Map("delta.columnMapping.mode" -> "name"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.dropColumn(spark, parted, "bucket"))
      .getMessage.contains("partitions"))
    // a partition-column RENAME carries partitionColumns and pruning
    DeltaLog.renameColumn(spark, parted, "bucket", "shard")
    val pruned = DeltaLog.read(spark, parted).where(col("shard") === "p0")
    assert(pruned.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(scannedFiles(pruned) == 1L)
  }

  test("delta.symlinkFormatManifest.enabled regenerates manifests on " +
    "every data commit; DV deletes refuse on manifest tables; " +
    "enabling over live DVs refuses") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
    DeltaLog.setTableProperties(spark, root,
      Map("delta.symlinkFormatManifest.enabled" -> "true"))
    DeltaLog.commitFlat(spark, root,
      Seq((4L, "d")).toDF("k", "v").coalesce(1))
    val mf = Paths.get(root, "_symlink_format_manifest", "manifest")
    assert(Files.exists(mf), "the data commit must regenerate manifests")
    assert(Files.readAllLines(mf).size == 2)
    // a CoW delete that drops a whole file shrinks the manifest
    DeltaLog.deleteWhereLong(spark, root, "k", 1L, 3L)
    val lines = Files.readAllLines(mf).asScala.toSeq
    assert(lines.size == 1, lines)
    assert(spark.read.parquet(lines: _*).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((4L, "d")))
    // DV deletes refuse while the property is on
    assert(intercept[IllegalArgumentException](
      DeltaLog.deleteWhereLongDV(spark, root, "k", 4L, 4L))
      .getMessage.contains("symlink"))
    // enabling the property over live DVs refuses
    val dvr = freshRoot()
    DeltaLog.commitFlat(spark, dvr,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, dvr, "k", 2L, 3L)
    assert(intercept[IllegalArgumentException](
      DeltaLog.setTableProperties(spark, dvr,
        Map("delta.symlinkFormatManifest.enabled" -> "true")))
      .getMessage.contains("deletion vectors"))
  }

  test("setTableProperties co-upgrades the protocol (CDF on a legacy " +
    "table, ICT starts its chain at the enabling commit); appendOnly " +
    "enforces immediately; unset removes keys; refusals loud") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
    // enable CDF mid-life: the protocol floor bumps to 4 and the next
    // DML records a change feed
    val vCdf = DeltaLog.setTableProperties(spark, root,
      Map("delta.enableChangeDataFeed" -> "true"))
    val pLine = commitLines(root, vCdf).mkString("|")
    assert(pLine.contains("\"minWriterVersion\":4"), pLine)
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B")).toDF("k", "v"))
    val feed = DeltaLog.readChangeFeed(spark, root, vCdf)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "b", "update_preimage"),
      (2L, "B", "update_postimage")))
    // enable ICT: the enabling commit carries the chain's first
    // inCommitTimestamp and the protocol goes features-form
    val vIct = DeltaLog.setTableProperties(spark, root,
      Map("delta.enableInCommitTimestamps" -> "true"))
    val ictLine = commitLines(root, vIct).mkString("|")
    assert(ictLine.contains("inCommitTimestamp"), ictLine)
    assert(ictLine.contains("\"minWriterVersion\":7"), ictLine)
    assert(ictLine.contains("changeDataFeed"), ictLine)
    // disabling or unsetting ICT refuses
    assert(intercept[IllegalArgumentException](
      DeltaLog.setTableProperties(spark, root,
        Map("delta.enableInCommitTimestamps" -> "false")))
      .getMessage.contains("cannot be disabled"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.unsetTableProperties(spark, root,
        Seq("delta.enableInCommitTimestamps")))
      .getMessage.contains("cannot be unset"))
    // custom key round-trip; appendOnly enforces on the next delete.
    // The table is features-form now: a further property set must NOT
    // inflate writerFeatures with undeclared legacy-implied features
    val vProps = DeltaLog.setTableProperties(spark, root,
      Map("team.owner" -> "graft", "delta.appendOnly" -> "true"))
    val propLines = commitLines(root, vProps).mkString("|")
    assert(!propLines.contains("columnMapping"),
      s"features set must not inflate: $propLines")
    assert(!propLines.contains("identityColumns"), propLines)
    assert(intercept[IllegalArgumentException](
      DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L))
      .getMessage.contains("appendOnly"))
    DeltaLog.unsetTableProperties(spark, root,
      Seq("delta.appendOnly", "team.owner"))
    DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((2L, "B"), (3L, "c")))
    // mapping-mode flip refuses
    assert(intercept[IllegalArgumentException](
      DeltaLog.setTableProperties(spark, root,
        Map("delta.columnMapping.mode" -> "name")))
      .getMessage.contains("physical-layout"))
  }

  test("generateSymlinkManifest writes per-partition manifests of " +
    "absolute active paths; regeneration drops vanished partitions; " +
    "DV'd snapshots refuse; shallowClone pins a VERSION AS OF") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "b0"), (2L, "b0"), (10L, "b1")).toDF("k", "bucket")
        .repartition(2, col("bucket")),
      Seq("bucket"))
    val written = DeltaLog.generateSymlinkManifest(spark, root)
    assert(written.toSet ==
      Set("_symlink_format_manifest/bucket=b0/manifest",
        "_symlink_format_manifest/bucket=b1/manifest"), written)
    val viaManifest = spark.read
      .option("basePath", root)
      .parquet(written.flatMap(r =>
        Files.readAllLines(Paths.get(root, r)).asScala): _*)
      .select("k", "bucket").as[(Long, String)].collect().toSet
    assert(viaManifest == Set((1L, "b0"), (2L, "b0"), (10L, "b1")))
    // partition b1 vanishes: its manifest must vanish with it
    DeltaLog.deleteWhereLong(spark, root, "k", 10L, 10L)
    val again = DeltaLog.generateSymlinkManifest(spark, root)
    assert(again == Seq("_symlink_format_manifest/bucket=b0/manifest"))
    assert(!Files.exists(
      Paths.get(root, "_symlink_format_manifest", "bucket=b1")))
    // DV'd actives refuse — whole-file symlink readers would
    // resurrect the deleted rows
    val dvRoot = freshRoot()
    DeltaLog.commitFlat(spark, dvRoot,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, dvRoot, "k", 2L, 3L)
    assert(intercept[IllegalArgumentException](
      DeltaLog.generateSymlinkManifest(spark, dvRoot))
      .getMessage.contains("deletion vectors"))
    // clone VERSION AS OF: the clone's commit 0 is the old snapshot
    val src = freshRoot()
    DeltaLog.commitFlat(spark, src,
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, src,
      Seq((2L, "b")).toDF("k", "v").coalesce(1))
    val tgt = freshRoot() + "-clone"
    DeltaLog.shallowClone(spark, src, tgt, version = 0L)
    assert(rows(DeltaLog.read(spark, tgt)) == Set((1L, "a")))
    assert(intercept[IllegalArgumentException](
      DeltaLog.shallowClone(spark, src, freshRoot() + "-x", version = 9L))
      .getMessage.contains("does not exist"))
  }

  test("restoreAsOf and readChangeFeedAsOf resolve by commit " +
    "timestamp: the window's first-at-or-after/last-at-or-before " +
    "bounds are Delta's, ICT-aware; empty windows refuse") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      configuration = Map(
        "delta.enableChangeDataFeed" -> "true",
        "delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B")).toDF("k", "v")) // v1: update
    DeltaLog.mergeKey(spark, root, "k",
      Seq((3L, "c")).toDF("k", "v")) // v2: insert
    // resolution runs on the ICT clock, not commitInfo.timestamp —
    // probe with the exact values the resolver reads
    def ts(v: Long): Long = {
      val txt = new String(Files.readAllBytes(
        Paths.get(root, "_delta_log", f"$v%020d.json")), "UTF-8")
      """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(txt).get.group(1).toLong
    }
    // feed window [ts(v1), ts(v1)]: exactly v1's changes
    val w1 = DeltaLog.readChangeFeedAsOf(spark, root, ts(1L), ts(1L))
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(w1 == Set((2L, "b", "update_preimage"),
      (2L, "B", "update_postimage")))
    // open-ended from v2's timestamp: just the insert
    val w2 = DeltaLog.readChangeFeedAsOf(spark, root, ts(2L))
      .select("k", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(w2 == Set((3L, "insert")))
    // from BEFORE v0: the creating commit's rows arrive as inserts too
    val all = DeltaLog.readChangeFeedAsOf(spark, root, ts(0L) - 10L)
    assert(all.count() == 5L)
    // a window between two commits' timestamps holds no commit: refuse
    // (ICT is strictly monotonic, so ts(v1)+… gaps exist iff ts differ)
    if (ts(2L) - ts(1L) > 1L) {
      assert(intercept[IllegalArgumentException](
        DeltaLog.readChangeFeedAsOf(spark, root, ts(1L) + 1L, ts(2L) - 1L))
        .getMessage.contains("no commit inside"))
    }
    assert(intercept[IllegalArgumentException](
      DeltaLog.readChangeFeedAsOf(spark, root, ts(2L) + 1L))
      .getMessage.contains("no commit at or after"))
    // restore by timestamp: back to v1's snapshot
    val rv = DeltaLog.restoreAsOf(spark, root, ts(1L))
    assert(rv == 3L)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (2L, "B")))
  }

  test("auto-checkpoint: a declared delta.checkpointInterval compacts " +
    "the log whenever the tail lags the newest checkpoint by the " +
    "interval — v2 form once the feature is declared; undeclared " +
    "tables never auto-checkpoint") {
    import spark.implicits._
    val root = freshRoot()
    def cps: Seq[String] = {
      val s = Files.list(Paths.get(root, "_delta_log"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains(".checkpoint.")).toSeq.sorted
      finally s.close()
    }
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.checkpointInterval" -> "2"))
    assert(cps.isEmpty) // v0: creating commit, nothing to compact yet
    DeltaLog.commitFlat(spark, root,
      Seq((2L, "b")).toDF("k", "v").coalesce(1))
    assert(cps == Seq(f"${1L}%020d.checkpoint.parquet"),
      "lag 2 past no-checkpoint must compact at v1")
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c")).toDF("k", "v").coalesce(1))
    assert(cps.size == 1, "lag 1 must not compact")
    DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L) // v3: lag 2
    assert(cps.contains(f"${3L}%020d.checkpoint.parquet"),
      "DML commits participate in the lag count")
    // declare v2 checkpoints (protocol-upgrade commit v4, unhooked by
    // design), then the next data commit compacts in the SIDECAR form
    DeltaLog.enableV2Checkpoints(spark, root)
    DeltaLog.commitFlat(spark, root,
      Seq((4L, "d")).toDF("k", "v").coalesce(1)) // v5: lag 2
    assert(cps.exists(_.startsWith(f"${5L}%020d.checkpoint.")),
      s"v2 auto-checkpoint missing: $cps")
    assert(Files.isDirectory(
      Paths.get(root, "_delta_log", "_sidecars")))
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
    // undeclared table: same traffic, zero checkpoints
    val plain = freshRoot()
    (0 until 4).foreach(i => DeltaLog.commitFlat(spark, plain,
      Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1)))
    val s2 = Files.list(Paths.get(plain, "_delta_log"))
    val names = try s2.iterator().asScala
      .map(_.getFileName.toString).toSeq finally s2.close()
    assert(!names.exists(_.contains(".checkpoint.")))
  }

  test("cleanUpExpiredLogs sweeps the change-data files of reclaimed " +
    "commits (their only reference is the deleted JSON); the retained " +
    "range's feed stays readable, the reclaimed range refuses") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B")).toDF("k", "v")) // v1: one cdc file
    DeltaLog.mergeKey(spark, root, "k",
      Seq((3L, "C")).toDF("k", "v")) // v2: one cdc file
    DeltaLog.checkpoint(spark, root, 2L)
    def cdcCount: Int = {
      val s = Files.list(Paths.get(root, "_change_data"))
      try s.iterator().asScala.count(Files.isRegularFile(_))
      finally s.close()
    }
    assert(cdcCount == 2)
    val gone = DeltaLog.cleanUpExpiredLogs(spark, root, 0L)
    // commits 0,1 reclaimed — v1's cdc file goes with them, v2's stays
    assert(gone.exists(_.endsWith(f"${1L}%020d.json")))
    assert(gone.count(_.startsWith("_change_data/")) == 1, gone)
    assert(cdcCount == 1)
    val feed = DeltaLog.readChangeFeed(spark, root, 1L)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((3L, "c", "update_preimage"),
      (3L, "C", "update_postimage")))
    assert(intercept[IllegalArgumentException](
      DeltaLog.readChangeFeed(spark, root, 0L))
      .getMessage.contains("needs its JSON commits"))
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("own-written V2 checkpoint + sidecars: the FULL state replays " +
    "after the JSON prefix is trimmed — files, stats skipping, DV " +
    "state, txn watermarks, configuration") {
    import spark.implicits._
    val root = freshRoot()
    // three disjoint-range slices (stats-prunable), a txn watermark,
    // a DV delete — every state dimension the checkpoint must carry
    DeltaLog.commitFlat(spark, root,
      (1L to 100L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      configuration =
        Map("delta.deletedFileRetentionDuration" -> "interval 1 hour"))
    DeltaLog.commitFlat(spark, root,
      (101L to 200L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      txn = Some(("appA", 7L)))
    DeltaLog.commitFlat(spark, root,
      (201L to 300L).map(k => (k, k)).toDF("k", "x").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 150L, 160L)
    DeltaLog.enableV2Checkpoints(spark, root)
    val v = DeltaLog.currentVersion(root)
    val before = DeltaLog.read(spark, root).as[(Long, Long)]
      .collect().toSet
    // 3 adds at 2 adds/sidecar → MULTIPLE sidecar files exercised
    DeltaLog.checkpointV2(spark, root, v, maxAddsPerSidecar = 2L)
    val sidecars = {
      val s = Files.list(Paths.get(root, "_delta_log", "_sidecars"))
      try s.iterator().asScala.toSeq finally s.close()
    }
    assert(sidecars.size >= 2,
      s"expected multiple sidecars, got ${sidecars.size}")
    // trim every JSON commit: the V2 checkpoint is now the only state
    (0L to v).foreach(i => Files.deleteIfExists(
      Paths.get(root, "_delta_log", f"$i%020d.json")))
    assert(DeltaLog.read(spark, root).as[(Long, Long)].collect().toSet
      == before, "post-trim replay must equal the pre-trim snapshot")
    // stats rode the sidecar adds: the range read still prunes
    val pruned = scannedFiles(DeltaLog.read(spark, root)
      .where(col("k").between(250L, 260L)))
    assert(pruned == 1L, s"stats skipping must survive: $pruned files")
    // txn watermark survived compaction (the r15 lesson)
    assert(DeltaLog.txnWatermark(spark, root, "appA") == Some(7L))
    // configuration survived — the retention property is still declared
    val props = DeltaLog.detail(spark, root)
      .select("properties").head().getMap[String, String](0)
    assert(props.get("delta.deletedFileRetentionDuration")
      .contains("interval 1 hour"))
    // and a further commit on top of the v2 checkpoint still works
    DeltaLog.commitFlat(spark, root,
      (301L to 310L).map(k => (k, k)).toDF("k", "x").coalesce(1))
    assert(DeltaLog.read(spark, root).count() == before.size + 10L)
  }

  test("classic checkpoint carries table configuration: CDF and " +
    "retention declarations survive a trimmed JSON prefix") {
    import spark.implicits._
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 10L).map(k => (k, k)).toDF("k", "x").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.commitFlat(spark, root,
      (11L to 20L).map(k => (k, k)).toDF("k", "x").coalesce(1))
    val v = DeltaLog.currentVersion(root)
    DeltaLog.checkpoint(spark, root, v)
    (0L to v).foreach(i => Files.deleteIfExists(
      Paths.get(root, "_delta_log", f"$i%020d.json")))
    assert(DeltaLog.changeFeedEnabled(spark, root),
      "checkpointed configuration lost delta.enableChangeDataFeed")
  }

  test("vacuum never collects dot-prefixed writer scratch: in-flight " +
    ".graft_staging parquet survives a zero-retention pass") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"))
    // a file staged between an executor write and the driver's
    // commit-time move — active in spirit, orphan to the snapshot
    val staged = Paths.get(root, ".graft_staging", "inflight.parquet")
    Files.createDirectories(staged.getParent)
    Files.write(staged, Array[Byte](1, 2, 3))
    assert(DeltaLog.vacuum(spark, root).isEmpty)
    assert(Files.exists(staged),
      "zero-retention vacuum collected an in-flight staged file")
  }

  test("in-commit timestamps: the creation flag starts a monotonic " +
    "chain every successor continues; versionAsOf resolves by ICT even " +
    "when every file mtime lies") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"))
    DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L)
    val ictRe = """"inCommitTimestamp":(\d+)""".r
    val icts = (0L to 2L).map { v =>
      val hit = commitLines(root, v).flatMap(l =>
        ictRe.findFirstMatchIn(l).map(_.group(1).toLong))
      assert(hit.nonEmpty, s"commit $v lacks inCommitTimestamp")
      hit.head
    }
    assert(icts(0) < icts(1) && icts(1) < icts(2), icts.toString)
    // the features-form protocol names the feature
    assert(commitLines(root, 0L).exists(l =>
      l.contains("\"minWriterVersion\":7") &&
        l.contains("inCommitTimestamp")), commitLines(root, 0L).toString)
    // mtimes all lie (equal, in the past): ICT still resolves versions
    val past = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    (0L to 2L).foreach(v => Files.setLastModifiedTime(
      Paths.get(root, "_delta_log", f"$v%020d.json"), past))
    assert(DeltaLog.versionAsOf(root, icts(1)) == 1L)
    assert(DeltaLog.versionAsOf(root, icts(2) - 1) == 1L)
    assert(DeltaLog.versionAsOf(root, icts(2)) == 2L)
  }

  test("ICT chain continues from a predecessor whose commitInfo is not " +
    "the first action (protocol does not mandate ordering)") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    // an external writer's commit: commitInfo LAST, with an ICT far in
    // the future — a first-line-only reader restarts the chain from
    // wall clock and emits a NON-monotonic successor timestamp
    val future = System.currentTimeMillis() + 9000000000L
    writeCommit(root, 1L, Seq(
      """{"txn":{"appId":"external-writer","version":7}}""",
      s"""{"commitInfo":{"operation":"WRITE","inCommitTimestamp":$future}}"""))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"))
    val ictRe = """"inCommitTimestamp":(\d+)""".r
    val ict2 = commitLines(root, 2L).flatMap(l =>
      ictRe.findFirstMatchIn(l).map(_.group(1).toLong))
    assert(ict2.headOption.contains(future + 1),
      s"chain restarted from wall clock: $ict2 vs predecessor $future")
  }

  test("identity columns: creation seeds the high-water mark, later " +
    "batches continue above it unique and step-aligned; explicit " +
    "values refuse") {
    val root = freshRoot()
    DeltaLog.createIdentityTable(spark, root,
      Seq("a", "b", "c").toDF("v"), "id", start = 10L, step = 3L)
    assert(commitLines(root, 0L)
      .exists(_.contains("\"minWriterVersion\":6")))
    DeltaLog.commitFlat(spark, root, Seq("d", "e").toDF("v"))
    val ids = DeltaLog.read(spark, root).select("id")
      .collect().map(_.getLong(0))
    assert(ids.length == 5 && ids.distinct.length == 5, ids.toSeq)
    assert(ids.forall(i => i >= 10 && (i - 10) % 3 == 0), ids.toSeq)
    // the second batch's every id is above the first batch's max
    val b0 = DeltaLog.readAt(spark, root, 0L).select("id")
      .collect().map(_.getLong(0))
    val b1 = DeltaLog.readAppendsSince(spark, root, 0L).select("id")
      .collect().map(_.getLong(0))
    assert(b0.max < b1.min, s"${b0.toSeq} vs ${b1.toSeq}")
    val e = intercept[IllegalArgumentException](
      DeltaLog.commitFlat(spark, root, Seq(("x", 999L)).toDF("v", "id")))
    assert(e.getMessage.contains("IDENTITY"), e.getMessage)
  }

  test("appendOnly: every delete/update/merge-with-match/restore/" +
    "rewrite refuses; appends, pure-insert merge and OPTIMIZE stay legal") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v"),
      configuration = Map("delta.appendOnly" -> "true"))
    DeltaLog.commitFlat(spark, root, Seq((9L, "v9")).toDF("k", "v"))
    DeltaLog.mergeKey(spark, root, "k", Seq((90L, "x")).toDF("k", "v"))
    def refused(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(refused(DeltaLog.deleteWhereLong(spark, root, "k", 1L, 2L))
      .contains("appendOnly"))
    assert(refused(DeltaLog.deleteWhereLongDV(spark, root, "k", 1L, 2L))
      .contains("appendOnly"))
    assert(refused(DeltaLog.updateWhereLong(spark, root, "k", 1L, 2L,
      Map("v" -> lit("z")))).contains("appendOnly"))
    assert(refused(DeltaLog.mergeKey(spark, root, "k",
      Seq((1L, "z")).toDF("k", "v"))).contains("appendOnly"))
    assert(refused(DeltaLog.restore(spark, root, 0L))
      .contains("appendOnly"))
    assert(refused(DeltaLog.commitFlat(spark, root,
      Seq((1L, "z")).toDF("k", "v"), rewrite = true))
      .contains("appendOnly"))
    DeltaLog.optimizeZOrder(spark, root, "k", "k", 4, 2)
    assert(DeltaLog.read(spark, root).count() == 10L)
  }

  test("detail: the one-row DESCRIBE DETAIL summary") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.appendOnly" -> "true"))
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v")
      .coalesce(1))
    val d = DeltaLog.detail(spark, root).collect().head
    assert(d.getAs[String]("format") == "parquet")
    assert(d.getAs[Long]("numFiles") == 2L)
    assert(d.getAs[Long]("version") == 1L)
    assert(d.getAs[Long]("sizeInBytes") > 0L)
    assert(d.getAs[Map[String, String]]("properties")
      .get("delta.appendOnly").contains("true"))
  }

  test("unknown writer features refuse every mutation NAMING the " +
    "feature while reads stay open") {
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","rowTracking"]}}""",
      s"""{"metaData":{"id":"ext-w","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a")))
    def refused(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(refused(DeltaLog.commitFlat(spark, root,
      Seq((2L, "b")).toDF("k", "v"))).contains("rowTracking"))
    assert(refused(DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L))
      .contains("rowTracking"))
    assert(refused(DeltaLog.mergeKey(spark, root, "k",
      Seq((3L, "c")).toDF("k", "v"))).contains("rowTracking"))
    assert(refused(DeltaLog.optimizeZOrder(spark, root, "k", "k", 4, 1))
      .contains("rowTracking"))
  }

  test("bloom point lookup: stats can't prune an unsorted column, the " +
    "bloom layer can; bloom-less files conservatively stay") {
    val root = freshRoot()
    // four files with fully-OVERLAPPING ranges but DISJOINT values:
    // file i holds {8j + i} — a range check keeps all four for any
    // in-range probe, the bloom keeps exactly the owner; residues
    // 4..7 (mod 8) are in range but absent everywhere
    (0 until 4).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        (0L until 64L).map(j => (8 * j + i, s"f$i-$j")).toDF("k", "v")
          .coalesce(1),
        writeOptions = DeltaLog.bloomOptions(Seq("k"), ndv = 64))
    }
    val hit = DeltaLog.read(spark, root).where(col("k") === 128L)
    val nHit = scannedFiles(hit)
    assert(nHit == 1L, s"bloom must keep only the owner file: $nHit")
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((128L, "f0-16")))
    // absent value (within range, wrong residue never written): 0 files
    val miss = DeltaLog.read(spark, root).where(col("k") === 6L)
    assert(scannedFiles(miss) == 0L)
    assert(miss.count() == 0L)
    // a bloom-less commit stays conservatively readable
    DeltaLog.commitFlat(spark, root,
      Seq((6L, "late")).toDF("k", "v").coalesce(1))
    val late = DeltaLog.read(spark, root).where(col("k") === 6L)
    assert(scannedFiles(late) == 1L)
    assert(late.collect().map(_.getString(1)).toSeq == Seq("late"))
  }

  test("convertToDelta adopts a parquet directory in place — flat and " +
    "hive-partitioned — with stats from the first commit; DML works " +
    "on the adopted table; double-convert refuses") {
    // flat: a plain Spark parquet write, multiple part files
    val flat = freshRoot()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(2).write.parquet(flat)
    DeltaLog.convertToDelta(spark, flat)
    assert(rows(DeltaLog.read(spark, flat)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // footer stats landed: metadata-only count works
    assert(DeltaLog.statsCount(spark, flat).collect().head.getLong(0) == 3L)
    // the adopted table takes DML like any native one
    DeltaLog.deleteWhereLong(spark, flat, "k", 2L, 2L)
    assert(rows(DeltaLog.read(spark, flat)) == Set((1L, "a"), (3L, "c")))
    val e = intercept[IllegalArgumentException](
      DeltaLog.convertToDelta(spark, flat))
    assert(e.getMessage.contains("_delta_log"), e.getMessage)
    // hive-partitioned: key=value paths become typed partitionValues
    val part = freshRoot()
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x"))
      .toDF("k", "v", "pt").write.partitionBy("pt").parquet(part)
    DeltaLog.convertToDelta(spark, part,
      new org.apache.spark.sql.types.StructType()
        .add("pt", org.apache.spark.sql.types.StringType))
    val got = DeltaLog.read(spark, part).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
    // partition pruning works from the adopted log
    val pruned = DeltaLog.read(spark, part).filter(col("pt") === "y")
    assert(pruned.count() == 1L)
    assert(scannedFiles(pruned) == 1L)
  }

  test("versionAsOf honors commitInfo.inCommitTimestamp over file mtime") {
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeFlat(root, "part-b.parquet", Seq((2L, "b")).toDF("k", "v"))
    // both commit FILES written "now", but the writer recorded in-commit
    // timestamps far in the past — those must win
    writeCommit(root, 0L, Seq(
      """{"commitInfo":{"operation":"WRITE","inCommitTimestamp":1000000}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"ext-ict","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeCommit(root, 1L, Seq(
      """{"commitInfo":{"operation":"WRITE","inCommitTimestamp":2000000}}""",
      """{"add":{"path":"part-b.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    assert(DeltaLog.versionAsOf(root, 1500000L) == 0L)
    assert(DeltaLog.versionAsOf(root, 2000000L) == 1L)
    val e = intercept[IllegalArgumentException](
      DeltaLog.versionAsOf(root, 999999L))
    assert(e.getMessage.contains("no commit"), e.getMessage)
  }

  test("DV vacuum + protocol round-trip: superseded DV sidecars are " +
    "orphans, the active one survives, writerFeatures ride checkpoints") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark,  root,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 2L, 2L)
    DeltaLog.deleteWhereLongDV(spark, root, "k", 5L, 5L) // merges: new DV file
    val binsBefore = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("deletion_vector_")).toSeq
    assert(binsBefore.size == 2, binsBefore)
    val expect = (1L to 10L).filterNot(Set(2L, 5L)).map(k => (k, s"v$k")).toSet
    // vacuum drops the superseded sidecar, keeps the active one
    val orphans = DeltaLog.vacuum(spark, root)
    assert(orphans.count(_.startsWith("deletion_vector_")) == 1, orphans)
    assert(rows(DeltaLog.read(spark, root)) == expect,
      "active DV must survive vacuum")
    // checkpoint: protocol row carries reader AND writer features
    val cur = DeltaLog.currentVersion(root)
    DeltaLog.checkpoint(spark, root, cur)
    val cpFile = Paths.get(root, "_delta_log",
      f"$cur%020d.checkpoint.parquet")
    val proto = spark.read.parquet(cpFile.toString)
      .where(col("protocol").isNotNull)
      .select(col("protocol.readerFeatures"), col("protocol.writerFeatures"))
      .collect().head
    assert(proto.getSeq[String](0) == Seq("deletionVectors"), proto)
    // the 2→7 upgrade enumerates what legacy writer version 2 implied
    assert(proto.getSeq[String](1) ==
      Seq("appendOnly", "invariants", "deletionVectors"), proto)
    // replay from the checkpoint alone still applies the DV
    DeltaLog.versions(root).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(rows(DeltaLog.read(spark, root)) == expect)
  }

  test("reads an externally-written add with an INLINE deletion vector " +
    "and refuses DV adds in an append tail") {
    val root = freshRoot()
    writeFlat(root, "part-a.parquet",
      (0L to 9L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    // inline DV deleting row positions 0, 3, 9 (z85 of the portable bitmap)
    val data = Dv.serialize(Dv.positionSet(Seq(0L, 3L, 9L)))
    val padded = java.util.Arrays.copyOf(data,
      (data.length + 3) / 4 * 4) // z85 needs 4-byte alignment
    val inline = Dv.z85Encode(padded)
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"ext-dv","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"$inline","sizeInBytes":${padded.length},"cardinality":3}}}"""))
    // rows at parquet positions 0,3,9 of the single sorted-written file
    // are (0,v0),(3,v3),(9,v9)
    assert(rows(DeltaLog.read(spark, root)) ==
      (0L to 9L).filterNot(Set(0L, 3L, 9L)).map(k => (k, s"v$k")).toSet)
    val e = intercept[IllegalArgumentException](
      DeltaLog.readAppendsSince(spark, root, -1L))
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
  }

  test("reads V2 checkpoints: parquet top + sidecars, and a JSON top " +
    "with inline adds; v2Checkpoint feature tables open") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    // ---- variant 1: parquet top + two sidecar files ----
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeFlat(root, "part-b.parquet", Seq((2L, "b")).toDF("k", "v"))
    writeFlat(root, "part-c.parquet", Seq((3L, "c")).toDF("k", "v"))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType))))
    val cpmType = StructType(Seq(StructField("version", LongType)))
    val sidecarType = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType)))
    val topSchema = StructType(Seq(
      StructField("add", addType), StructField("metaData", metaType),
      StructField("protocol", protoType),
      StructField("checkpointMetadata", cpmType),
      StructField("sidecar", sidecarType)))
    val sideSchema = StructType(Seq(StructField("add", addType)))
    def onePartParquet(target: java.nio.file.Path, schema: StructType,
                       rowsIn: Seq[Row]): Unit = {
      val tmp = Files.createTempDirectory("graft-v2cp").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(rowsIn, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    val logDir = Paths.get(root, "_delta_log")
    val sideDir = logDir.resolve("_sidecars")
    // sidecars carry adds a and b (one each)
    onePartParquet(sideDir.resolve("s1.parquet"), sideSchema, Seq(
      Row(Row("part-a.parquet", Map.empty[String, String], 1L, 1L, true))))
    onePartParquet(sideDir.resolve("s2.parquet"), sideSchema, Seq(
      Row(Row("part-b.parquet", Map.empty[String, String], 1L, 1L, true))))
    // top: protocol(3, v2Checkpoint) + metaData + checkpointMetadata +
    // two sidecar refs, NO adds of its own
    val uuid = "0a1b2c3d-1111-2222-3333-444455556666"
    onePartParquet(logDir.resolve(f"${1L}%020d.checkpoint.$uuid.parquet"),
      topSchema, Seq(
        Row(null, null, Row(3, 7, Seq("v2Checkpoint")), null, null),
        Row(null, Row("ext-v2", Row("parquet"), extSchema, Seq.empty[String],
          Map.empty[String, String]), null, null, null),
        Row(null, null, null, Row(1L), null),
        Row(null, null, null, null, Row("s1.parquet", 1L)),
        Row(null, null, null, null, Row("s2.parquet", 1L))))
    // JSON commits 0..1 compacted away; tail commit 2 adds c
    writeCommit(root, 2L, Seq(
      """{"add":{"path":"part-c.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    assert(DeltaLog.currentVersion(root) == 2L)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(DeltaLog.readAt(spark, root, 1L)) ==
      Set((1L, "a"), (2L, "b")))

    // ---- variant 2: JSON top with INLINE adds, no sidecars ----
    val root2 = freshRoot()
    writeFlat(root2, "part-a.parquet", Seq((7L, "x")).toDF("k", "v"))
    val uuid2 = "0a1b2c3d-9999-8888-7777-666655554444"
    Files.createDirectories(Paths.get(root2, "_delta_log"))
    Files.write(Paths.get(root2, "_delta_log",
      f"${0L}%020d.checkpoint.$uuid2.json"),
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"ext-v2b","format":{"provider":"parquet","options":{}},"schemaString":"${extSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{}}}""",
        """{"checkpointMetadata":{"version":0}}""",
        """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(rows(DeltaLog.read(spark, root2)) == Set((7L, "x")))
  }

  test("column mapping: name mode resolves physical parquet names, " +
    "partitioned and flat; id mode resolves by parquet FIELD IDS with " +
    "names irrelevant, and id-mode writes stamp field ids") {
    // data file stores PHYSICAL names col-aaa / col-bbb
    val mappedSchema =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}}]}"""
        .replaceAll("\n\\s*", "")
    val root = freshRoot()
    writeFlat(root, "part-a.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("col-aaa", "col-bbb"))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cm","format":{"provider":"parquet","options":{}},"schemaString":"${mappedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = DeltaLog.read(spark, root)
    assert(df.columns.toSeq == Seq("k", "v"), df.columns.toSeq)
    assert(rows(df) == Set((1L, "a"), (2L, "b")))

    // partitioned: partitionValues keyed by the PHYSICAL name
    val mappedPart =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-ppp"}}]}"""
        .replaceAll("\n\\s*", "")
    val root2 = freshRoot()
    writeFlat(root2, "col-ppp=x/f1.parquet", Seq(Tuple1(5L)).toDF("col-aaa"))
    writeCommit(root2, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cm2","format":{"provider":"parquet","options":{}},"schemaString":"${mappedPart.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"col-ppp%3Dx/f1.parquet","partitionValues":{"col-ppp":"x"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df2 = DeltaLog.read(spark, root2)
    assert(df2.columns.toSeq == Seq("k", "p"))
    assert(df2.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((5L, "x")))

    // id mode: columns resolve by the parquet footer's FIELD IDS — the
    // file's own column names are deliberately DIFFERENT from both the
    // logical names and the declared physicalName, so only id matching
    // can produce the right values
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType, MetadataBuilder}
    val root3 = freshRoot()
    val mb1 = new MetadataBuilder().putLong("parquet.field.id", 1L).build()
    val mb2 = new MetadataBuilder().putLong("parquet.field.id", 2L).build()
    val withIds = spark.createDataFrame(
      Seq((1L, "a"), (2L, "b")).toDF("x", "y").rdd,
      StructType(Seq(StructField("file-k", LongType, true, mb1),
        StructField("file-v", StringType, true, mb2))))
    writeFlat(root3, "part-a.parquet", withIds)
    writeCommit(root3, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cm3","format":{"provider":"parquet","options":{}},"schemaString":"${mappedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df3 = DeltaLog.read(spark, root3)
    assert(df3.columns.toSeq == Seq("k", "v"), df3.columns.toSeq)
    assert(rows(df3) == Set((1L, "a"), (2L, "b")))
    // id-mode WRITES: appends and DML stamp parquet.field.id on new
    // files (physical names too), so both this reader and external
    // id-mode readers resolve them
    DeltaLog.commitFlat(spark, root3,
      Seq((3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLong(spark, root3, "k", 2L, 2L)
    DeltaLog.mergeKey(spark, root3, "k",
      Seq((4L, "D"), (9L, "i")).toDF("k", "v"))
    assert(rows(DeltaLog.read(spark, root3)) ==
      Set((1L, "a"), (3L, "c"), (4L, "D"), (9L, "i")))
    // footer proof: the newest add carries field ids 1/2
    val newest = DeltaLog.filesAt(spark, root3,
      DeltaLog.currentVersion(root3)).filterNot(_ == "part-a.parquet").head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(root3, newest).toString),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val ids = try r.getFooter.getFileMetaData.getSchema.getFields
      .asScala.map(f => Option(f.getId).map(_.intValue())).toSeq
      finally r.close()
    assert(ids == Seq(Some(1), Some(2)),
      s"new id-mode file must carry field ids: $ids")
  }

  test("name-mode column mapping WRITES: append/delete/update/merge/DV " +
    "delete/restore run through logical names, new parquet stores " +
    "PHYSICAL names; creation and CDF-mapped DML refuse") {
    val mappedSchema =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}}]}"""
        .replaceAll("\n\\s*", "")
    val root = freshRoot()
    writeFlat(root, "part-a.parquet",
      (1L to 10L).map(k => (k, s"v$k")).toDF("col-aaa", "col-bbb")
        .coalesce(1))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmw","format":{"provider":"parquet","options":{}},"schemaString":"${mappedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // append through LOGICAL names — the new file must store PHYSICAL
    DeltaLog.commitFlat(spark, root,
      (11L to 14L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    val newFile = DeltaLog.filesAt(spark, root, 1L)
      .filterNot(_ == "part-a.parquet").head
    assert(spark.read.parquet(Paths.get(root, newFile).toString)
      .columns.toSeq == Seq("col-aaa", "col-bbb"),
      "appended parquet must store physical field names")
    assert(rows(DeltaLog.read(spark, root)) ==
      (1L to 14L).map(k => (k, s"v$k")).toSet)
    // copy-on-write DELETE (footer stats of the new file are keyed
    // physical — skipping must still work)
    DeltaLog.deleteWhereLong(spark, root, "k", 3L, 4L)
    assert(rows(DeltaLog.read(spark, root)) ==
      (1L to 14L).filterNot(k => k == 3L || k == 4L)
        .map(k => (k, s"v$k")).toSet)
    // UPDATE through a logical SET expression
    DeltaLog.updateWhereLong(spark, root, "k", 5L, 5L,
      Map("v" -> lit("FIVE")))
    assert(rows(DeltaLog.read(spark, root)).contains((5L, "FIVE")))
    // MERGE: replace k=6, insert k=100
    DeltaLog.mergeKey(spark, root, "k",
      Seq((6L, "SIX"), (100L, "hundred")).toDF("k", "v"))
    val afterMerge = rows(DeltaLog.read(spark, root))
    assert(afterMerge.contains((6L, "SIX")) &&
      afterMerge.contains((100L, "hundred")), afterMerge.toString)
    val vPreDv = DeltaLog.currentVersion(root)
    // DV delete: physical-named scan, byte-identical re-add
    DeltaLog.deleteWhereLongDV(spark, root, "k", 7L, 8L)
    assert(rows(DeltaLog.read(spark, root)) ==
      afterMerge.filterNot(t => t._1 == 7L || t._1 == 8L))
    // RESTORE across the DV delete
    DeltaLog.restore(spark, root, vPreDv)
    assert(rows(DeltaLog.read(spark, root)) == afterMerge)
    // CREATING a mapped table assigns fresh col-<uuid> physical names
    // and column ids; the very first file already stores them, reads
    // stay logical, and later appends + mergeSchema EVOLUTION continue
    // the id sequence (maxColumnId bumps)
    val createRoot = freshRoot()
    DeltaLog.commitFlat(spark, createRoot,
      Seq((1L, "a")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.columnMapping.mode" -> "name"))
    val c0 = commitLines(createRoot, 0L).mkString("|")
    assert(c0.contains("\"delta.columnMapping.maxColumnId\":\"2\""), c0)
    assert(c0.contains("col-"), c0)
    assert(c0.contains("\"minReaderVersion\":2"), c0)
    val f0 = DeltaLog.filesAt(spark, createRoot, 0L).head
    assert(spark.read.parquet(Paths.get(createRoot, f0).toString)
      .columns.forall(_.startsWith("col-")),
      "created mapped table's first file must store physical names")
    assert(rows(DeltaLog.read(spark, createRoot)) == Set((1L, "a")))
    DeltaLog.commitFlat(spark, createRoot,
      Seq((2L, "b")).toDF("k", "v").coalesce(1))
    // additive evolution assigns the NEW column id 3
    DeltaLog.commitFlat(spark, createRoot,
      Seq((3L, "c", 7L)).toDF("k", "v", "w").coalesce(1),
      mergeSchema = true)
    val evolved = DeltaLog.read(spark, createRoot)
    assert(evolved.columns.toSeq == Seq("k", "v", "w"))
    assert(evolved.collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet ==
      Set((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 7L)))
    val cEvo = commitLines(createRoot, 2L).mkString("|")
    assert(cEvo.contains("\"delta.columnMapping.maxColumnId\":\"3\""), cEvo)
    // id-mode creation stamps parquet field ids from the first file
    val idCreate = freshRoot()
    DeltaLog.commitFlat(spark, idCreate,
      Seq((1L, "a")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.columnMapping.mode" -> "id"))
    val fi = DeltaLog.filesAt(spark, idCreate, 0L).head
    val inF = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(idCreate, fi).toString),
      spark.sparkContext.hadoopConfiguration)
    val rF = org.apache.parquet.hadoop.ParquetFileReader.open(inF)
    val idsF = try rF.getFooter.getFileMetaData.getSchema.getFields
      .asScala.map(f => Option(f.getId).map(_.intValue())).toSeq
      finally rF.close()
    assert(idsF == Seq(Some(1), Some(2)),
      s"id-mode creation must stamp field ids: $idsF")
    assert(rows(DeltaLog.read(spark, idCreate)) == Set((1L, "a")))
    // DML on a CDF-enabled MAPPED table: cdc files store PHYSICAL
    // names, the feed reads back logical
    val rootCdf = freshRoot()
    writeFlat(rootCdf, "part-a.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("col-aaa", "col-bbb")
        .coalesce(1))
    writeCommit(rootCdf, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmc","format":{"provider":"parquet","options":{}},"schemaString":"${mappedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.enableChangeDataFeed":"true"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLog.deleteWhereLong(spark, rootCdf, "k", 2L, 2L)
    DeltaLog.mergeKey(spark, rootCdf, "k",
      Seq((3L, "C"), (9L, "i")).toDF("k", "v"))
    val feed = DeltaLog.readChangeFeed(spark, rootCdf, 0L)
      .select("k", "v", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "b", "delete"),
      (3L, "c", "update_preimage"), (3L, "C", "update_postimage"),
      (9L, "i", "insert")), feed.toString)
    // the cdc parquet itself stores physical names
    val cdcDir = Paths.get(rootCdf, "_change_data")
    val cdcFiles = Files.list(cdcDir)
    val one = try cdcFiles.iterator().asScala
      .find(_.toString.endsWith(".parquet")).get finally cdcFiles.close()
    assert(spark.read.parquet(one.toString).columns.sorted.toSeq ==
      Seq("_change_type", "col-aaa", "col-bbb"),
      spark.read.parquet(one.toString).columns.toSeq.toString)
  }

  test("name-mode column mapping WRITES, partitioned: appends route to " +
    "physical partition directories with physical-keyed partitionValues") {
    val mappedPart =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-ppp"}}]}"""
        .replaceAll("\n\\s*", "")
    val root = freshRoot()
    writeFlat(root, "col-ppp=x/f1.parquet", Seq(Tuple1(5L)).toDF("col-aaa"))
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmp","format":{"provider":"parquet","options":{}},"schemaString":"${mappedPart.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"col-ppp%3Dx/f1.parquet","partitionValues":{"col-ppp":"x"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLog.commitPartitioned(spark, root,
      Seq((6L, "x"), (7L, "y")).toDF("k", "p"), Seq("p"))
    val c1 = commitLines(root, 1L).mkString("|")
    assert(c1.contains("col-ppp%3D") || c1.contains("col-ppp="),
      s"new files must land under the PHYSICAL partition dir: $c1")
    assert(c1.contains("\"col-ppp\":"),
      s"partitionValues must key by the PHYSICAL name: $c1")
    val got = DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((5L, "x"), (6L, "x"), (7L, "y")))
    // partition-column metadata DELETE needs numeric partition values —
    // merge into the mapped partitioned table instead
    DeltaLog.mergeKey(spark, root, "k",
      Seq((6L, "z"), (9L, "y")).toDF("k", "p"))
    assert(DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((5L, "x"), (6L, "z"), (7L, "y"), (9L, "y")))
  }

  test("footer stats emit only order-preserving min/max: ASCII strings " +
    "yes, non-ASCII strings and annotated types no") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "apple", "café", BigDecimal("1.50")),
        (2L, "zebra", "über", BigDecimal("2.75")))
        .toDF("k", "ascii_s", "uni_s", "dec")
        .coalesce(1))
    val statsLine = commitLines(root, 0L).find(_.contains("\"stats\"")).get
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val add = mapper.readTree(statsLine).path("add")
    val stats = mapper.readTree(add.path("stats").asText())
    assert(stats.path("numRecords").asLong() == 2L)
    val mins = stats.path("minValues")
    val maxs = stats.path("maxValues")
    assert(mins.path("k").asLong() == 1L && maxs.path("k").asLong() == 2L)
    assert(mins.path("ascii_s").asText() == "apple"
      && maxs.path("ascii_s").asText() == "zebra")
    assert(!mins.has("uni_s") && !maxs.has("uni_s"),
      "non-ASCII string bounds must be omitted (unsigned-byte order " +
        "disagrees with Java string order)")
    assert(!mins.has("dec") && !maxs.has("dec"),
      "binary/decimal-backed bounds must be omitted")
    // null counts still carried for every column
    assert(stats.path("nullCount").path("uni_s").asLong() == 0L)
  }

  test("reads an externally-authored checkpoint (hand-written parquet + tail commit)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", Seq((1L, "a")).toDF("k", "v"))
    writeFlat(root, "part-b.parquet", Seq((2L, "b")).toDF("k", "v"))
    writeFlat(root, "part-c.parquet", Seq((3L, "c")).toDF("k", "v"))
    // Checkpoint at version 1 (covering adds a+b), authored directly with
    // an EXTRA struct field (stats) and a remove tombstone — both must be
    // tolerated. No JSON commits 0/1 exist: compacted away.
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    val ext = extSchema
    val cpRows = Seq(
      Row(null, null, null, Row(1, 2)),
      Row(null, null,
        Row("ext-9", Row("parquet", Map.empty[String, String]), ext,
          Seq.empty[String], Map.empty[String, String]), null),
      Row(Row("part-a.parquet", Map.empty[String, String], 1L, 1L, false,
        """{"numRecords":1}"""), null, null, null),
      Row(Row("part-b.parquet", Map.empty[String, String], 1L, 1L, false,
        null), null, null, null),
      Row(null, Row("gone.parquet", 1L, false), null, null))
    val tmp = Files.createTempDirectory("cp-ext").toString
    spark.createDataFrame(
      spark.sparkContext.parallelize(cpRows, 1), cpSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.move(part,
      Paths.get(root, "_delta_log", f"${1L}%020d.checkpoint.parquet"))
    // JSON tail: commit 2 retires a, adds c.
    writeCommit(root, 2L, Seq(
      """{"remove":{"path":"part-a.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"part-c.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    assert(rows(DeltaLog.readAt(spark, root, 1L)) ==
      Set((1L, "a"), (2L, "b")))
    assert(rows(DeltaLog.read(spark, root)) == Set((2L, "b"), (3L, "c")))
  }

  // ----- partitioned tables -----

  private def partRows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
    df.select(col("k"), col("v"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet

  test("partitioned writer/reader round-trip: hive paths, partitionValues, " +
    "null + escaped values, append and rewrite") {
    val root = freshRoot()
    val d1 = Seq((1L, "a", "x"), (2L, "b", "y y"), (3L, "c", null))
      .toDF("k", "v", "p")
    val v0 = DeltaLog.commitPartitioned(spark, root, d1, Seq("p"))
    assert(v0 == 0L)
    assert(partRows(DeltaLog.read(spark, root)) ==
      Set((1L, "a", "x"), (2L, "b", "y y"), (3L, "c", null)))
    // add paths are hive-style col=value
    assert(DeltaLog.filesAt(spark, root, 0L).forall(_.startsWith("p=")),
      DeltaLog.filesAt(spark, root, 0L).mkString("|"))
    // append keeps prior files active
    DeltaLog.commitPartitioned(spark, root, Seq((4L, "d", "x"))
      .toDF("k", "v", "p"), Seq("p"))
    assert(partRows(DeltaLog.read(spark, root)) ==
      Set((1L, "a", "x"), (2L, "b", "y y"), (3L, "c", null), (4L, "d", "x")))
    // rewrite retires everything first
    DeltaLog.commitPartitioned(spark, root, Seq((9L, "z", "w"))
      .toDF("k", "v", "p"), Seq("p"), rewrite = true)
    assert(partRows(DeltaLog.read(spark, root)) == Set((9L, "z", "w")))
    // time travel still sees the pre-rewrite state
    assert(partRows(DeltaLog.readAt(spark, root, 1L)).size == 4)
    // partitioning is pinned: wrong partition cols refuse
    val e = intercept[IllegalArgumentException](
      DeltaLog.commitPartitioned(spark, root, d1, Seq("v")))
    assert(e.getMessage.contains("partitioned by"))
  }

  test("partition pruning: a filter on the partition column drops other " +
    "partitions' scans from the plan") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
        .toDF("k", "v", "p"), Seq("p"))
    val pruned = DeltaLog.read(spark, root).filter(col("p") === "y")
    // ONE basePath-discovery relation: the partition filter prunes at
    // planning — the executed scan opens only the matching partition
    assert(scannedFiles(pruned) == 1L)
    assert(partRows(pruned) == Set((2L, "b", "y")))
  }

  test("compactPartitioned: fat partitions collapse to one file with " +
    "dataChange=false; rows and time travel intact") {
    val root = freshRoot()
    // three appends land multiple files in partitions x and y
    (1 to 3).foreach { i =>
      DeltaLog.commitPartitioned(spark, root,
        Seq((i.toLong, s"a$i", "x"), (i.toLong + 10, s"b$i", "y"))
          .toDF("k", "v", "p"), Seq("p"))
    }
    val before = partRows(DeltaLog.read(spark, root))
    val preVersion = DeltaLog.currentVersion(root)
    val filesBefore = DeltaLog.filesAt(spark, root, preVersion)
    assert(filesBefore.count(_.startsWith("p=x/")) == 3, filesBefore)
    val v = DeltaLog.compactPartitioned(spark, root)
    assert(v == preVersion + 1)
    val filesAfter = DeltaLog.filesAt(spark, root, v)
    assert(filesAfter.count(_.startsWith("p=x/")) == 1, filesAfter)
    assert(filesAfter.count(_.startsWith("p=y/")) == 1, filesAfter)
    assert(partRows(DeltaLog.read(spark, root)) == before,
      "compaction must not change rows")
    // protocol idiom: the compaction commit carries dataChange=false
    // (commitInfo is provenance, not a file action)
    val lines = commitLines(root, v)
      .filterNot(_.contains("\"commitInfo\""))
    assert(lines.forall(_.contains("\"dataChange\":false")), lines.mkString("|"))
    assert(commitLines(root, v)
      .exists(_.contains("\"operation\":\"OPTIMIZE\"")))
    // pre-compaction version still time travels
    assert(partRows(DeltaLog.readAt(spark, root, preVersion)) == before)
    // idempotent: nothing fat left, no new commit
    assert(DeltaLog.compactPartitioned(spark, root) == v)
  }

  test("versionAsOf resolves by commit mtime; refuses pre-history timestamps") {
    import java.nio.file.attribute.FileTime
    val root = freshRoot()
    (1 to 3).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    // pin commit mtimes to known instants
    Seq(0L -> 1000000L, 1L -> 2000000L, 2L -> 3000000L).foreach { case (v, t) =>
      Files.setLastModifiedTime(
        Paths.get(root, "_delta_log", f"$v%020d.json"), FileTime.fromMillis(t))
    }
    assert(DeltaLog.versionAsOf(root, 1000000L) == 0L)
    assert(DeltaLog.versionAsOf(root, 2500000L) == 1L)
    assert(DeltaLog.versionAsOf(root, 9999999L) == 2L)
    assert(rows(DeltaLog.readAsOf(spark, root, 2500000L)) ==
      Set((1L, "v1"), (2L, "v2")))
    val e = intercept[IllegalArgumentException](
      DeltaLog.versionAsOf(root, 999999L))
    assert(e.getMessage.contains("older than retained history"), e.getMessage)
  }

  test("checkpoint of a PARTITIONED table round-trips partitionValues " +
    "and keeps pruning after JSON compaction") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      DeltaLog.commitPartitioned(spark, root,
        Seq((i.toLong, s"a$i", "x"), (i.toLong + 10, s"b$i", "y"))
          .toDF("k", "v", "p"), Seq("p"))
    }
    DeltaLog.checkpoint(spark, root, 2L)
    val full = partRows(DeltaLog.read(spark, root))
    (0L to 1L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(partRows(DeltaLog.read(spark, root)) == full,
      "partitioned replay from checkpoint diverged")
    val pruned = DeltaLog.read(spark, root).filter(col("p") === "x")
    assert(scannedFiles(pruned) == 3L,
      "post-checkpoint partitioned read must still prune to p=x's files")
    assert(partRows(pruned) == full.filter(_._3 == "x"))
  }

  test("adds carry footer stats; statsCount answers from the log alone; " +
    "readWhereLong skips non-overlapping files (and survives checkpointing)") {
    val root = freshRoot()
    // three appends with DISJOINT k ranges -> three files with disjoint
    // min/max stats
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      DeltaLog.commitFlat(spark, root,
        r.map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    }
    DeltaLog.checkpoint(spark, root, 2L)
    // stats JSON shape on the adds
    val c0 = commitLines(root, 0L)
    assert(c0.exists(l => l.contains("\"stats\"") &&
      l.contains("numRecords") && l.contains("minValues")), c0.mkString("|"))
    // metadata-only count: no footer/data IO, log adds only
    val sc = DeltaLog.statsCount(spark, root).head()
    assert(sc.getLong(0) == 30L && sc.getLong(1) == 3L, sc.toString)
    // skipping: [12, 18] overlaps ONLY the middle file
    val skipped = DeltaLog.read(spark, root)
      .where(col("k").between(12L, 18L))
    assert(scannedFiles(skipped) == 1L)
    assert(rows(skipped) == (12L to 18L).map(i => (i, s"v$i")).toSet)
    // a column with no stats entry is conservatively kept: bounds on v
    // (a string column) must not skip anything for a long query on k
    // spanning everything
    assert(scannedFiles(DeltaLog.read(spark, root)
      .where(col("k").between(1L, 30L))) == 3L)
    // stats flow THROUGH the checkpoint: compact the JSON prefix away,
    // metadata count and skipping still work
    (0L to 1L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    val sc2 = DeltaLog.statsCount(spark, root).head()
    assert(sc2.getLong(0) == 30L, sc2.toString)
    assert(scannedFiles(DeltaLog.read(spark, root)
      .where(col("k").between(12L, 18L))) == 1L)
  }

  test("deleteWhereLong: copy-on-write on overlapping files only; " +
    "emptied files become pure removes; NULLs survive") {
    val root = freshRoot()
    // three files with disjoint k ranges + one NULL-k row in the middle
    Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L), Seq(20L, 21L, 22L)).foreach { ks =>
      DeltaLog.commitFlat(spark, root,
        (ks.map(k => (Option(k), s"v$k")) ++
          (if (ks.head == 10L) Seq((None: Option[Long], "vnull")) else Nil))
          .toDF("k", "v").coalesce(1))
    }
    val filesBefore = DeltaLog.filesAt(spark, root, DeltaLog.currentVersion(root))
    // [10, 11] overlaps only the middle file; first/last untouched
    val v = DeltaLog.deleteWhereLong(spark, root, "k", 10L, 11L)
    val filesAfter = DeltaLog.filesAt(spark, root, v)
    assert(filesAfter.count(filesBefore.contains) == 2,
      s"non-overlapping files must be untouched: $filesBefore -> $filesAfter")
    val got = DeltaLog.read(spark, root).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "v1"), (2L, "v2"), (3L, "v3"), (12L, "v12"),
      (20L, "v20"), (21L, "v21"), (22L, "v22"), (-1L, "vnull")), got)
    // delete the whole last range: its file becomes a pure remove
    val v2 = DeltaLog.deleteWhereLong(spark, root, "k", 20L, 22L)
    assert(DeltaLog.filesAt(spark, root, v2).size == filesAfter.size - 1)
    // no-op interval commits nothing
    assert(DeltaLog.deleteWhereLong(spark, root, "k", 500L, 600L) == v2)
  }

  test("updateWhereLong: only stat-overlapping files rewrite; non-matching " +
    "rows pass through; schema pinned; partition SET refused") {
    val root = freshRoot()
    Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L)).foreach { ks =>
      DeltaLog.commitFlat(spark, root,
        ks.map(k => (k, s"v$k")).toDF("k", "v")
          .coalesce(1))
    }
    val filesBefore = DeltaLog.filesAt(spark, root, DeltaLog.currentVersion(root))
    val v = DeltaLog.updateWhereLong(spark, root, "k", 10L, 11L,
      Map("v" -> lit("UPDATED")))
    val filesAfter = DeltaLog.filesAt(spark, root, v)
    assert(filesAfter.count(filesBefore.contains) == 1,
      s"the non-overlapping file must be untouched: $filesBefore -> $filesAfter")
    assert(rows(DeltaLog.read(spark, root)) == Set(
      (1L, "v1"), (2L, "v2"), (3L, "v3"),
      (10L, "UPDATED"), (11L, "UPDATED"), (12L, "v12")))
    // no-op interval: no commit
    assert(DeltaLog.updateWhereLong(spark, root, "k", 500L, 600L,
      Map("v" -> lit("X"))) == v)
    // partitioned table: SET on a partition column refused
    val root2 = freshRoot()
    DeltaLog.commitPartitioned(spark, root2,
      Seq((1L, "a", "x")).toDF("k", "v", "p"), Seq("p"))
    val e = intercept[IllegalArgumentException](
      DeltaLog.updateWhereLong(spark, root2, "k", 1L, 1L,
        Map("p" -> lit("y"))))
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("readAppendsSince returns only files activated after the version") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    assert(rows(DeltaLog.readAppendsSince(spark, root, 0L)) ==
      Set((2L, "v2"), (3L, "v3")))
    assert(rows(DeltaLog.readAppendsSince(spark, root, 2L)) == Set.empty)
  }

  test("readAppendsSince skips compaction commits (no re-emitted rows) " +
    "and refuses DML in the tail") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "x"), (2L, "b", "x")).toDF("k", "v", "p"), Seq("p"))
    DeltaLog.commitPartitioned(spark, root,
      Seq((3L, "c", "x")).toDF("k", "v", "p"), Seq("p"))
    DeltaLog.compactPartitioned(spark, root) // v2: dataChange=false
    DeltaLog.commitPartitioned(spark, root,
      Seq((4L, "d", "x")).toDF("k", "v", "p"), Seq("p")) // v3
    // tail from the start: each appended row EXACTLY once — the
    // compaction rewrite (which contains rows 1..3 again) is skipped
    val tail = DeltaLog.readAppendsSince(spark, root, -1L)
    assert(tail.count() == 4L, s"compaction re-emitted rows: ${tail.count()}")
    assert(rows(tail) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // appends strictly after compaction: just the v3 row
    assert(rows(DeltaLog.readAppendsSince(spark, root, 2L)) == Set((4L, "d")))
    // a DELETE in the tail is changed history -> loud refusal
    DeltaLog.deleteWhereLong(spark, root, "k", 1L, 1L)
    val e = intercept[IllegalArgumentException](
      DeltaLog.readAppendsSince(spark, root, 2L).collect())
    assert(e.getMessage.contains("CDC"), e.getMessage)
  }

  test("readAppendsSince skips an external OPTIMIZE that retains DV " +
    "descriptors on its dataChange=false adds") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c")).toDF("k", "v").coalesce(1))
    // layout-only rewrite by an external engine: the compacted file
    // keeps its deletion vector, dataChange=false on both actions — a
    // logical no-op an append tail must SKIP (refusing DVs applies only
    // to dataChange adds, which change visible history)
    val existing = DeltaLog.filesAt(spark, root, 1L).head
    writeCommit(root, 2L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"remove":{"path":"$existing","dataChange":false}}""",
      """{"add":{"path":"compacted-ext.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":false,"deletionVector":{"storageType":"u","pathOrInlineDv":"0123456789abcdefghij","offset":1,"sizeInBytes":40,"cardinality":1}}}"""))
    assert(rows(DeltaLog.readAppendsSince(spark, root, 0L)) ==
      Set((3L, "c")))
  }

  test("a fully checkpoint-compacted log (zero JSON commits) still reads") {
    val root = freshRoot()
    (1 to 3).foreach { i =>
      DeltaLog.commitFlat(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "v").coalesce(1))
    }
    DeltaLog.checkpoint(spark, root, 2L)
    val full = rows(DeltaLog.read(spark, root))
    // retention cleanup deletes EVERY JSON commit; checkpoint at 2 is
    // the whole log now
    (0L to 2L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(DeltaLog.currentVersion(root) == 2L,
      "currentVersion must see the checkpoint")
    assert(rows(DeltaLog.read(spark, root)) == full)
  }

  test("deleteWhereLong on a partition column is metadata-only partition drop") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "1"), (2L, "b", "2"), (3L, "c", "3"))
        .toDF("k", "v", "p"), Seq("p"))
    val v = DeltaLog.deleteWhereLong(spark, root, "p", 2L, 3L)
    assert(v == 1L)
    assert(partRows(DeltaLog.read(spark, root)) == Set((1L, "a", "1")))
    // pure metadata: the commit has removes only, no adds
    val lines = commitLines(root, v)
      .filterNot(_.contains("\"commitInfo\""))
    assert(lines.forall(_.contains("\"remove\"")), lines.mkString("|"))
    assert(commitLines(root, v)
      .exists(_.contains("\"operation\":\"DELETE\"")))
  }

  test("vacuum deletes files the current version no longer references; " +
    "current snapshot intact") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "v", "p"), Seq("p"))
    DeltaLog.commitPartitioned(spark, root,
      Seq((9L, "z", "x")).toDF("k", "v", "p"), Seq("p"), rewrite = true)
    val before = partRows(DeltaLog.read(spark, root))
    val deleted = DeltaLog.vacuum(spark, root)
    assert(deleted.nonEmpty, "the rewritten-away files must be vacuumed")
    assert(partRows(DeltaLog.read(spark, root)) == before)
    // older version is gone for good (Delta's vacuum contract)
    intercept[Exception] {
      DeltaLog.readAt(spark, root, 0L).collect()
    }
    // a second vacuum finds nothing
    assert(DeltaLog.vacuum(spark, root).isEmpty)
  }

  test("a txn replay is a no-op before validation: a replayed batch of " +
    "the pre-evolution shape lands nothing on an evolved table") {
    val root = freshRoot()
    assert(DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      txn = Some(("a", 0L))) == 0L)
    DeltaLog.commitFlat(spark, root, Seq((2L, "b", 0.5)).toDF("k", "v", "w"),
      mergeSchema = true)
    val cur = DeltaLog.currentVersion(root)
    // the old shape would fail the schema check; the replay must not
    // get that far
    assert(DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      txn = Some(("a", 0L))) == cur)
    assert(DeltaLog.currentVersion(root) == cur, "the replay wrote a commit")
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (2L, "b")))
  }

  test("txn watermarks make commitPartitioned exactly-once, surviving " +
    "checkpoint compaction") {
    val root = freshRoot()
    val d1 = Seq((1L, "a", "x")).toDF("k", "v", "p")
    val d2 = Seq((2L, "b", "y")).toDF("k", "v", "p")
    assert(DeltaLog.commitPartitioned(spark, root, d1, Seq("p"),
      txn = Some(("app", 0L))) == 0L)
    assert(DeltaLog.commitPartitioned(spark, root, d2, Seq("p"),
      txn = Some(("app", 1L))) == 1L)
    // replayed batch 0: watermark already at 1 -> NO-OP, no new version
    assert(DeltaLog.commitPartitioned(spark, root, d1, Seq("p"),
      txn = Some(("app", 0L))) == 1L)
    assert(partRows(DeltaLog.read(spark, root)) ==
      Set((1L, "a", "x"), (2L, "b", "y")))
    // another app's watermark is independent
    assert(DeltaLog.commitPartitioned(spark, root, d1, Seq("p"),
      txn = Some(("other", 0L))) == 2L)
    // watermarks flow through the checkpoint: compact the prefix away,
    // replay of (app, 1) is still a no-op
    DeltaLog.checkpoint(spark, root, 2L)
    (0L to 1L).foreach(v => Files.delete(
      Paths.get(root, "_delta_log", f"$v%020d.json")))
    assert(DeltaLog.commitPartitioned(spark, root, d2, Seq("p"),
      txn = Some(("app", 1L))) == 2L, "replay after compaction must no-op")
  }

  test("reads an externally-written partitioned log with typed partition values") {
    val root = freshRoot()
    // data files carry ONLY the data column; the partition column d
    // (a DATE) lives in partitionValues, per the protocol.
    writeFlat(root, "d=2024-01-01/f1.parquet", Seq(Tuple1(1L)).toDF("k"))
    writeFlat(root, "d=2024-01-02/f2.parquet", Seq(Tuple1(2L)).toDF("k"))
    val pSchema =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{}},
        {"name":"d","type":"date","nullable":true,"metadata":{}}]}"""
        .replaceAll("\n\\s*", "")
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"${pSchema.replace("\"", "\\\"")}","partitionColumns":["d"],"configuration":{}}}""",
      """{"add":{"path":"d=2024-01-01/f1.parquet","partitionValues":{"d":"2024-01-01"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"d=2024-01-02/f2.parquet","partitionValues":{"d":"2024-01-02"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = DeltaLog.read(spark, root)
    assert(df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("k", "bigint"), ("d", "date")))
    val got = df.collect().map(r => (r.getLong(0), r.getDate(1).toString)).toSet
    assert(got == Set((1L, "2024-01-01"), (2L, "2024-01-02")))
  }

  test("RESTORE across a mergeSchema evolution re-emits the target " +
    "metaData: the restored read has the ORIGINAL shape, history still " +
    "replays the evolution, and restore FORWARD works") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c", 7L)).toDF("k", "v", "w").coalesce(1),
      mergeSchema = true)
    DeltaLog.deleteWhereLong(spark, root, "k", 2L, 2L)
    DeltaLog.restore(spark, root, 0L)
    val got = DeltaLog.read(spark, root)
    assert(got.columns.toSeq == Seq("k", "v"), got.columns.toSeq)
    assert(rows(got) == Set((1L, "a"), (2L, "b")))
    // the evolution history stays addressable below the restore commit
    assert(DeltaLog.readAt(spark, root, 1L).columns.toSeq ==
      Seq("k", "v", "w"))
    // restore FORWARD to the evolved snapshot
    DeltaLog.restore(spark, root, 1L)
    val fwd = DeltaLog.read(spark, root)
    assert(fwd.columns.toSeq == Seq("k", "v", "w"))
    assert(fwd.count() == 3L)
    // a pure PROPERTY change (no files) restores too: the commit is
    // metaData-only
    val root2 = freshRoot()
    DeltaLog.commitFlat(spark, root2,
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    DeltaLog.addCheckConstraint(spark, root2, "k_pos", "k > 0")
    DeltaLog.restore(spark, root2, 0L)
    // the constraint is gone: a violating append now lands
    DeltaLog.commitFlat(spark, root2,
      Seq((-5L, "neg")).toDF("k", "v").coalesce(1))
    assert(rows(DeltaLog.read(spark, root2)) ==
      Set((1L, "a"), (-5L, "neg")))
  }

  test("per-partition Z-ORDER: clustering stays inside each hive " +
    "directory, DVs apply+clear, dataChange=false, and selective reads " +
    "prune files they could not prune before") {
    val root = freshRoot()
    // two partitions ('a'/'b'), four FULL-RANGE interleaved files each:
    // worst-case skipping (every file spans x ∈ [0, 1024))
    val rows = (0L until 1024L).flatMap(x =>
      Seq(("a", x, x * 2 % 1024L), ("b", x, x * 3 % 1024L)))
    val df = rows.toDF("p", "x", "y")
    (0 until 4).foreach { i =>
      DeltaLog.commitPartitioned(spark, root,
        df.filter(pmod(col("x"), lit(4)) === i).coalesce(1), Seq("p"))
    }
    assert(DeltaLog.filesAt(spark, root, 3L).size == 8)
    // a narrow x-window before Z-order: stats prune NOTHING
    val before = scannedFiles(DeltaLog.read(spark, root)
      .where(col("x").between(10L, 20L)))
    assert(before == 8, s"pre-zorder narrow read must scan all 8, got " +
      s"$before")
    // DV-delete a slice inside the window, then Z-order
    DeltaLog.deleteWhereLongDV(spark, root, "x", 100L, 199L)
    val v = DeltaLog.optimizeZOrder(spark, root, "x", "y", 10, 8)
    // dataChange=false on every action of the OPTIMIZE commit
    val lines = commitLines(root, v).filter(l =>
      l.contains("\"add\"") || l.contains("\"remove\""))
    assert(lines.nonEmpty &&
      lines.forall(_.contains("\"dataChange\":false")), lines.head)
    // every new file lives INSIDE its partition directory
    val active = DeltaLog.filesAt(spark, root, v)
    assert(active.forall(r => r.startsWith("p=a/") || r.startsWith("p=b/")),
      active.mkString(", "))
    assert(!lines.filter(_.contains("\"add\""))
      .exists(_.contains("deletionVector")),
      "OPTIMIZE must apply+clear deletion vectors")
    // read-back equality: the full set minus the DV'd slice
    val got = DeltaLog.read(spark, root)
      .select("p", "x", "y").as[(String, Long, Long)].collect().toSet
    val want = rows.filterNot(r => r._2 >= 100L && r._2 <= 199L).toSet
    assert(got == want)
    // the same narrow window now PRUNES: contiguous Morton runs give
    // each file a narrow x-range inside its partition
    def scan(p: org.apache.spark.sql.Column) =
      DeltaLog.read(spark, root).where(p)
    val (xs, ys) = (col("x").between(10L, 20L), col("y").between(30L, 50L))
    val after = scan(xs)
    val nAfter = scannedFiles(after)
    assert(nAfter < 8, s"post-zorder narrow read still scans $nAfter")
    assert(after.select("p", "x", "y").as[(String, Long, Long)]
      .collect().toSet == want.filter(r => r._2 >= 10L && r._2 <= 20L))
    // the Z-order payoff: a 2-D box prunes at least as hard as either
    // 1-D range, and strictly harder than the whole table
    val nY = scannedFiles(scan(ys))
    val box = scan(xs && ys)
    val nBox = scannedFiles(box)
    assert(nBox <= math.min(nAfter, nY), s"box $nBox, x $nAfter, y $nY")
    assert(nBox < active.size, s"box scans $nBox of ${active.size}")
    val boxRows = want.filter(r => r._2 >= 10L && r._2 <= 20L &&
      r._3 >= 30L && r._3 <= 50L)
    assert(boxRows.nonEmpty)
    assert(box.select("p", "x", "y").as[(String, Long, Long)]
      .collect().toSet == boxRows)
    // a window outside the domain scans no file at all
    val outside = scan(col("x").between(5000L, 6000L))
    assert(scannedFiles(outside) == 0L && outside.count() == 0L)
  }

  test("NESTED column mapping: items array<struct<...>> (the reference's " +
    "silver shape) reads, appends, merges and evolves through logical " +
    "names in name mode; id mode resolves nested fields by FIELD ID") {
    import org.apache.spark.sql.types._
    // ---- name mode ----
    // data file stores PHYSICAL names at every level:
    //   col-oid, col-items: array<struct<col-pid, col-qty>>
    val fileDf = Seq(
      ("o1", Seq((101L, 2L), (102L, 1L))),
      ("o2", Seq((103L, 5L))))
      .toDF("oid", "items")
      .select(col("oid").as("col-oid"),
        expr("transform(items, x -> named_struct('col-pid', x._1, " +
          "'col-qty', x._2))").as("col-items"))
    val root = freshRoot()
    writeFlat(root, "part-a.parquet", fileDf)
    val nestedSchema =
      """{"type":"struct","fields":[
        {"name":"order_id","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-oid"}},
        {"name":"items","type":{"type":"array","elementType":{"type":"struct","fields":[
          {"name":"product_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-pid"}},
          {"name":"qty","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"col-qty"}}]},"containsNull":true},"nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-items"}}]}"""
        .replaceAll("\n\\s*", "")
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-nested","format":{"provider":"parquet","options":{}},"schemaString":"${nestedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    def itemsOf(df: org.apache.spark.sql.DataFrame): Map[String, Seq[(Long, Long)]] =
      df.selectExpr("order_id",
        "transform(items, x -> struct(x.product_id, x.qty)) AS t")
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getLong(0), x.getLong(1))).toSeq).toMap
    val df = DeltaLog.read(spark, root)
    assert(df.schema.fieldNames.toSeq == Seq("order_id", "items"))
    assert(df.schema("items").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("product_id", "qty"), df.schema.treeString)
    assert(itemsOf(df) == Map(
      "o1" -> Seq((101L, 2L), (102L, 1L)), "o2" -> Seq((103L, 5L))))
    // append through LOGICAL nested names — the new file must store
    // PHYSICAL names at every level
    val logicalBatch = Seq(("o3", Seq((104L, 7L))))
      .toDF("order_id", "items0")
      .select(col("order_id"),
        expr("transform(items0, x -> named_struct('product_id', x._1, " +
          "'qty', x._2))").as("items"))
    DeltaLog.commitFlat(spark, root, logicalBatch)
    val newFile = DeltaLog.filesAt(spark, root, 1L)
      .filterNot(_ == "part-a.parquet").head
    val newSchema = spark.read
      .parquet(Paths.get(root, newFile).toString).schema
    assert(newSchema.fieldNames.toSeq == Seq("col-oid", "col-items"))
    assert(newSchema("col-items").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("col-pid", "col-qty"), newSchema.treeString)
    // string-key MERGE round-trips the nested column through the
    // batched rewrite (o2 replaced, o9 inserted)
    val src = Seq(("o2", Seq((103L, 9L))), ("o9", Seq((105L, 1L))))
      .toDF("order_id", "items0")
      .select(col("order_id"),
        expr("transform(items0, x -> named_struct('product_id', x._1, " +
          "'qty', x._2))").as("items"))
    DeltaLog.mergeKey(spark, root, "order_id", src)
    assert(itemsOf(DeltaLog.read(spark, root)) == Map(
      "o1" -> Seq((101L, 2L), (102L, 1L)), "o2" -> Seq((103L, 9L)),
      "o3" -> Seq((104L, 7L)), "o9" -> Seq((105L, 1L))))

    // ---- id mode: nested resolution by FIELD ID, junk names ----
    val idRoot = freshRoot()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val junkSchema = StructType(Seq(
      StructField("j1", StringType, true, meta(1)),
      StructField("j2", ArrayType(StructType(Seq(
        StructField("j3", LongType, true, meta(3)),
        StructField("j4", LongType, true, meta(4)))), true), true,
        meta(2))))
    val junkDf = spark.createDataFrame(fileDf.rdd, junkSchema)
    writeFlat(idRoot, "part-a.parquet", junkDf)
    writeCommit(idRoot, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-nested-id","format":{"provider":"parquet","options":{}},"schemaString":"${nestedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"}}}""",
      """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val idDf = DeltaLog.read(spark, idRoot)
    assert(idDf.schema.fieldNames.toSeq == Seq("order_id", "items"))
    assert(itemsOf(idDf) == Map(
      "o1" -> Seq((101L, 2L), (102L, 1L)), "o2" -> Seq((103L, 5L))))
    // id-mode append stamps NESTED parquet.field.id on the new file
    DeltaLog.commitFlat(spark, idRoot, logicalBatch)
    val idNew = DeltaLog.filesAt(spark, idRoot, 1L)
      .filterNot(_ == "part-a.parquet").head
    val inF = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(idRoot, idNew).toString),
      spark.sparkContext.hadoopConfiguration)
    val rF = org.apache.parquet.hadoop.ParquetFileReader.open(inF)
    val footerIds = try {
      val s = rF.getFooter.getFileMetaData.getSchema
      val items = s.getType(1).asGroupType() // col-items (LIST)
        .getType(0).asGroupType() // list
        .getType(0).asGroupType() // element struct
      (Option(s.getFields.get(0).getId).map(_.intValue()),
        Option(s.getFields.get(1).getId).map(_.intValue()),
        items.getFields.asScala.map(f =>
          Option(f.getId).map(_.intValue())).toSeq)
    } finally rF.close()
    assert(footerIds._1 == Some(1) && footerIds._2 == Some(2),
      footerIds.toString)
    assert(footerIds._3 == Seq(Some(3), Some(4)), footerIds.toString)
    assert(itemsOf(DeltaLog.read(spark, idRoot)) == Map(
      "o1" -> Seq((101L, 2L), (102L, 1L)), "o2" -> Seq((103L, 5L)),
      "o3" -> Seq((104L, 7L))))

    // ---- creation with mapping on assigns NESTED ids/physicalNames ----
    val createRoot = freshRoot()
    DeltaLog.commitFlat(spark, createRoot, logicalBatch,
      configuration = Map("delta.columnMapping.mode" -> "name"))
    val c0 = commitLines(createRoot, 0L).mkString("|")
    assert(c0.contains("\"delta.columnMapping.maxColumnId\":\"4\""), c0)
    val created = DeltaLog.read(spark, createRoot)
    assert(itemsOf(created) == Map("o3" -> Seq((104L, 7L))))
    val cf = DeltaLog.filesAt(spark, createRoot, 0L).head
    val cs = spark.read.parquet(Paths.get(createRoot, cf).toString).schema
    assert(cs.fieldNames.forall(_.startsWith("col-")), cs.treeString)
    assert(cs.fields.collectFirst { case f if f.dataType.isInstanceOf[ArrayType] =>
      f.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
        .fieldNames.forall(_.startsWith("col-")) }.getOrElse(false),
      cs.treeString)
  }

  test("partitioned MERGE CDF pre-images on an id-mode table resolve by " +
    "FIELD ID even when the data file's stored names differ from the " +
    "declared physicalName") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType, MetadataBuilder}
    // data file stores names junk-1/junk-2 with field ids 1/2 — legal
    // per the protocol (id mode: names irrelevant); a name-matched
    // basePath scan reads it as all-NULL
    val mb1 = new MetadataBuilder().putLong("parquet.field.id", 1L).build()
    val mb2 = new MetadataBuilder().putLong("parquet.field.id", 2L).build()
    val junkNamed = spark.createDataFrame(
      Seq((1L, "a"), (2L, "b")).toDF("x", "y").rdd,
      StructType(Seq(StructField("junk-1", LongType, true, mb1),
        StructField("junk-2", StringType, true, mb2))))
    val root = freshRoot()
    writeFlat(root, "col-ppp=x/f1.parquet", junkNamed)
    val schemaJson =
      """{"type":"struct","fields":[
        {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
        {"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}},
        {"name":"p","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-ppp"}}]}"""
        .replaceAll("\n\\s*", "")
    writeCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"ext-cmid-cdf","format":{"provider":"parquet","options":{}},"schemaString":"${schemaJson.replace("\"", "\\\"")}","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"id","delta.enableChangeDataFeed":"true"}}}""",
      """{"add":{"path":"col-ppp%3Dx/f1.parquet","partitionValues":{"col-ppp":"x"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaLog.mergeKey(spark, root, "k",
      Seq((1L, "A", "x"), (9L, "i", "y")).toDF("k", "v", "p"))
    val feed = DeltaLog.readChangeFeed(spark, root, 0L)
      .select("k", "v", "p", DeltaLog.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(feed == Set((1L, "a", "x", "update_preimage"),
      (1L, "A", "x", "update_postimage"), (9L, "i", "y", "insert")),
      feed.toString)
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "A"), (2L, "b"), (9L, "i")))
  }

  test("auto-manifest maintenance is INCREMENTAL: enabling the " +
    "property generates the full tree, then a single-partition append " +
    "rewrites ONLY that partition's manifest and a vanished partition " +
    "loses its directory — untouched manifests' bytes never move") {
    val root = freshRoot()
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "b0"), (2L, "b0"), (10L, "b1"), (20L, "b2"), (30L, "b3"))
        .toDF("k", "bucket").repartition(4, col("bucket")),
      Seq("bucket"))
    // ENABLE generates the whole tree right here (not at next commit)
    DeltaLog.setTableProperties(spark, root,
      Map("delta.symlinkFormatManifest.enabled" -> "true"))
    val base = Paths.get(root, "_symlink_format_manifest")
    def manifest(b: String) = base.resolve(s"bucket=$b").resolve("manifest")
    Seq("b0", "b1", "b2", "b3").foreach(b =>
      assert(Files.isRegularFile(manifest(b)), s"missing manifest $b"))
    def mtime(b: String): java.nio.file.attribute.FileTime =
      Files.getLastModifiedTime(manifest(b))
    val before = Seq("b1", "b2", "b3").map(b => b -> mtime(b)).toMap
    Thread.sleep(25)
    // single-partition append: postCommit must rewrite b0's manifest
    // ONLY — O(touched partitions), the 100 TB contract
    DeltaLog.commitPartitioned(spark, root,
      Seq((3L, "b0")).toDF("k", "bucket").coalesce(1), Seq("bucket"))
    val b0Lines = Files.readAllLines(manifest("b0")).asScala
    assert(b0Lines.size == 2, s"b0 manifest should list 2 files: $b0Lines")
    Seq("b1", "b2", "b3").foreach(b => assert(mtime(b) == before(b),
      s"untouched partition $b's manifest was rewritten"))
    // vanish b1: its manifest directory goes, b2/b3 still never move
    Thread.sleep(25)
    DeltaLog.deleteWhereLong(spark, root, "k", 10L, 10L)
    assert(!Files.exists(base.resolve("bucket=b1")),
      "vanished partition kept its manifest dir")
    Seq("b2", "b3").foreach(b => assert(mtime(b) == before(b),
      s"untouched partition $b's manifest was rewritten on delete"))
    // the manifests still reproduce the snapshot exactly
    val viaManifest = {
      val w = Files.walk(base)
      val paths = try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString == "manifest")
        .flatMap(p => Files.readAllLines(p).asScala).toSeq
      finally w.close()
      spark.read.option("basePath", root).parquet(paths: _*)
        .select("k", "bucket").as[(Long, String)].collect().toSet
    }
    assert(viaManifest ==
      Set((1L, "b0"), (2L, "b0"), (3L, "b0"), (20L, "b2"), (30L, "b3")))
  }

  test("restore's post-commit maintenance follows the RESTORED " +
    "configuration (off → DV version restores fine; back on → " +
    "manifests regenerate); a property+DV target refuses BEFORE the " +
    "commit; shallowClone refuses to carry the property") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 2L, 3L) // v1: DVs live
    DeltaLog.commitFlat(spark, root,
      DeltaLog.read(spark, root).coalesce(1), rewrite = true) // v2: clean
    DeltaLog.setTableProperties(spark, root,
      Map("delta.symlinkFormatManifest.enabled" -> "true")) // v3
    val rootManifest = Paths.get(root, "_symlink_format_manifest",
      "manifest")
    assert(Files.isRegularFile(rootManifest))
    // restore BACK to the DV version: the restored metaData DROPS the
    // property, so maintenance follows the TARGET configuration — no
    // regeneration, no DV refusal, the commit lands (the r19-flagged
    // post-durable-commit throw) — and the now-unmaintained tree is
    // REMOVED (absence is loud; a frozen pre-restore tree would keep
    // external readers on the old snapshot until vacuum dangled them)
    DeltaLog.restore(spark, root, 1L) // v4
    assert(DeltaLog.read(spark, root).count() == 6L)
    assert(!Files.exists(Paths.get(root, "_symlink_format_manifest")),
      "property-off restore left the stale manifest tree behind")
    // restore FORWARD to the manifest-enabled state: the restored
    // property is back ON, so postCommit regenerates against it
    DeltaLog.restore(spark, root, 3L) // v5
    val listed = Files.readAllLines(rootManifest).asScala.toSet
    val active = DeltaLog.read(spark, root).inputFiles
      .map(f => Paths.get(new java.net.URI(f)).toString).toSet
    assert(listed == active, s"$listed vs $active")
    // an EXTERNALLY-authored version can declare the property WITH
    // live DVs (this writer refuses to create that shape); restoring
    // to it must refuse BEFORE anything durable lands
    val xroot = freshRoot()
    DeltaLog.commitFlat(spark, xroot,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    DeltaLog.deleteWhereLongDV(spark, xroot, "k", 2L, 3L) // v1: DVs
    val schemaJson = DeltaLog.tableMeta(spark, xroot)._1.json
      .replace("\"", "\\\"")
    writeCommit(xroot, 2L, Seq(
      s"""{"metaData":{"id":"ext-manifest-dv","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.symlinkFormatManifest.enabled":"true"}}}"""))
    DeltaLog.unsetTableProperties(spark, xroot,
      Seq("delta.symlinkFormatManifest.enabled")) // v3: property off
    val vBefore = DeltaLog.currentVersion(xroot)
    val ex = intercept[IllegalArgumentException](
      DeltaLog.restore(spark, xroot, 2L))
    assert(ex.getMessage.contains("deletion vectors"), ex.getMessage)
    assert(DeltaLog.currentVersion(xroot) == vBefore,
      "the refused restore left a durable commit behind")
    // clone guard: absolute-path adds can never regenerate manifests
    val cex = intercept[IllegalArgumentException](
      DeltaLog.shallowClone(spark, root, freshRoot()))
    assert(cex.getMessage.contains("symlinkFormatManifest"),
      cex.getMessage)
  }

  test("vacuum at scale shape: >8 partition directories and >64 " +
    "orphans take the DISTRIBUTED listing + delete paths with " +
    "identical semantics — junk collected, actives and scratch kept") {
    val root = freshRoot()
    val buckets = (0 until 12).map(i => f"b$i%02d")
    DeltaLog.commitPartitioned(spark, root,
      buckets.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("k", "bucket").repartition(12, col("bucket")),
      Seq("bucket"))
    // 120 orphan ".parquet" files strewn across the partition dirs
    // (vacuum never opens candidates, so junk bytes suffice) + writer
    // scratch and CDC-lookalike trees that must survive
    buckets.foreach { b =>
      (0 until 10).foreach(j => Files.write(
        Paths.get(root, s"bucket=$b", s"orphan-$j.parquet"),
        Array[Byte](9, 9, 9)))
    }
    Files.createDirectories(Paths.get(root, ".graft_staging", "x"))
    Files.write(Paths.get(root, ".graft_staging", "x", "inflight.parquet"),
      Array[Byte](1))
    Files.createDirectories(Paths.get(root, "_change_data"))
    Files.write(Paths.get(root, "_change_data", "cdc-keep.parquet"),
      Array[Byte](1))
    val activeBefore = DeltaLog.read(spark, root).inputFiles.toSet
    val gone = DeltaLog.vacuum(spark, root)
    assert(gone.size == 120, s"expected 120 orphans, got ${gone.size}")
    assert(gone.forall(_.contains("orphan-")), gone.take(3))
    buckets.foreach(b => assert(!Files.exists(
      Paths.get(root, s"bucket=$b", "orphan-0.parquet"))))
    assert(Files.exists(
      Paths.get(root, ".graft_staging", "x", "inflight.parquet")),
      "writer scratch collected")
    assert(Files.exists(Paths.get(root, "_change_data", "cdc-keep.parquet")),
      "CDC file collected")
    assert(DeltaLog.read(spark, root).inputFiles.toSet == activeBefore)
    assert(DeltaLog.read(spark, root).count() == 12L)
  }

  test("optimistic concurrency: a losing BLIND APPEND reconciles " +
    "against a disjoint winner and lands at the next version; " +
    "metadata-changing winners, competing txn watermarks and " +
    "non-append losers refuse with nothing committed") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // v0
    val srcFile = Paths.get(new java.net.URI(
      DeltaLog.read(spark, root).inputFiles.head))
    def alias(name: String): Long = {
      Files.copy(srcFile, Paths.get(root, name),
        StandardCopyOption.REPLACE_EXISTING)
      Files.size(Paths.get(root, name))
    }
    def addNode(p: String, sz: Long) = DeltaLog.AddFile(p, Map.empty,
      Some(sz), Some(1L), dataChange = true, None, None)
    // winner takes v1 first (an external blind append); the loser's
    // blind append reconciles and lands at v2
    val szW = alias("w.parquet")
    writeCommit(root, 1L, Seq(
      s"""{"add":{"path":"w.parquet","partitionValues":{},"size":$szW,"modificationTime":1,"dataChange":true}}"""))
    val szO = alias("o.parquet")
    val landed = DeltaLog.writeCommitFile(root, 1L,
      Seq(addNode("o.parquet", szO)), operation = "WRITE",
      retryDataConflicts = true)
    assert(landed == 2L)
    assert(DeltaLog.currentVersion(root) == 2L)
    assert(DeltaLog.read(spark, root).count() == 6L) // 3 aliases x 2 rows
    // a winner that CHANGES METADATA is not disjoint — refuse, and
    // nothing lands at v4
    val schemaJson = DeltaLog.tableMeta(spark, root)._1.json
      .replace("\"", "\\\"")
    writeCommit(root, 3L, Seq(
      s"""{"metaData":{"id":"ext-conc","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}"""))
    val exMeta = intercept[IllegalStateException](
      DeltaLog.writeCommitFile(root, 3L,
        Seq(addNode("never.parquet", 1L)), retryDataConflicts = true))
    assert(exMeta.getMessage.contains("metadata/protocol"),
      exMeta.getMessage)
    assert(DeltaLog.currentVersion(root) == 3L)
    // a winner advancing the SAME appId's txn watermark would be
    // re-opened by our lower one — refuse; a DIFFERENT appId is
    // disjoint and reconciles
    writeCommit(root, 4L, Seq("""{"txn":{"appId":"appX","version":9}}"""))
    val exTxn = intercept[IllegalStateException](
      DeltaLog.writeCommitFile(root, 4L,
        Seq(addNode("never.parquet", 1L), DeltaLog.Txn("appX", 3L)),
        retryDataConflicts = true))
    assert(exTxn.getMessage.contains("txn watermark"), exTxn.getMessage)
    assert(DeltaLog.currentVersion(root) == 4L)
    val szO3 = alias("o3.parquet")
    assert(DeltaLog.writeCommitFile(root, 4L,
      Seq(addNode("o3.parquet", szO3), DeltaLog.Txn("appY", 1L)),
      retryDataConflicts = true) == 5L)
    assert(DeltaLog.read(spark, root).count() == 8L)
    // a loser that REMOVES files computed its rewrite from a stale
    // state — never replay it blindly
    writeCommit(root, 6L, Seq(
      s"""{"add":{"path":"o.parquet","partitionValues":{},"size":$szO,"modificationTime":2,"dataChange":true}}"""))
    val exRm = intercept[IllegalStateException](
      DeltaLog.writeCommitFile(root, 6L,
        Seq(DeltaLog.RemoveFile("w.parquet", None, dataChange = true)),
        retryDataConflicts = true))
    assert(exRm.getMessage.contains("not a blind append"), exRm.getMessage)
    assert(DeltaLog.currentVersion(root) == 6L)
  }

  test("TYPE WIDENING: int→long is a metaData-only commit (zero data " +
    "movement) — old narrow files read widened, DML rewrites and " +
    "MERGE work across mixed physical forms, the change is recorded " +
    "under delta.typeChanges, the protocol carries the feature in " +
    "BOTH sets, and refusals (narrowing, partition columns) are loud") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = freshRoot()
    spark.createDataFrame(
      Seq((1, "a"), (2, "b"), (3, "c"))
        .map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
      .coalesce(1).createOrReplaceTempView("tw_src")
    DeltaLog.commitFlat(spark, root, spark.table("tw_src").coalesce(1))
    val filesBefore = DeltaLog.read(spark, root).inputFiles.toSet
    DeltaLog.widenColumnType(spark, root, "k", LongType) // v1: meta-only
    assert(DeltaLog.read(spark, root).inputFiles.toSet == filesBefore,
      "widening moved data")
    val (sch, _) = DeltaLog.tableMeta(spark, root)
    assert(sch("k").dataType == LongType)
    assert(sch("k").metadata.contains("delta.typeChanges"))
    val tc = sch("k").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1 && tc(0).getString("fromType") == "integer" &&
      tc(0).getString("toType") == "long", tc.mkString(","))
    // protocol: features form with typeWidening in BOTH sets
    val protoLine = commitLines(root, 1L).find(_.contains("protocol")).get
    assert(protoLine.contains("typeWidening"), protoLine)
    assert(protoLine.contains("readerFeatures") &&
      protoLine.contains("writerFeatures"), protoLine)
    // a wide batch lands beside the narrow file; the mixed read widens
    DeltaLog.commitFlat(spark, root,
      Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1))
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (2L, "b"),
      (3L, "c"), (10L, "x"), (11L, "y")))
    // the DSv2 streaming source widens the STILL-NARROW file too
    // (before the merge rewrites it wide)
    val name = s"tw_stream_${System.nanoTime()}"
    val q = spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root).load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == Set((1L, "a"), (2L, "b"), (3L, "c"),
      (10L, "x"), (11L, "y")), streamed.toString)
    // MERGE across mixed physical forms: updates hit the NARROW file
    DeltaLog.mergeKey(spark, root, "k",
      Seq((2L, "B"), (99L, "new")).toDF("k", "v"))
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (2L, "B"),
      (3L, "c"), (10L, "x"), (11L, "y"), (99L, "new")))
    // refusals: narrowing, and widening a PARTITION column
    assert(intercept[IllegalArgumentException](
      DeltaLog.widenColumnType(spark, root, "k", IntegerType))
      .getMessage.contains("not a supported widening"))
    val proot = freshRoot()
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, 7)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", LongType),
        org.apache.spark.sql.types.StructField("b", IntegerType))))
      .coalesce(1).createOrReplaceTempView("tw_psrc")
    DeltaLog.commitPartitioned(spark, proot,
      spark.table("tw_psrc").coalesce(1), Seq("b"))
    assert(intercept[IllegalArgumentException](
      DeltaLog.widenColumnType(spark, proot, "b", LongType))
      .getMessage.contains("partition column"))
    // an EXTERNAL table recording a typeWidening change OUTSIDE the
    // implemented bit-exact subset must refuse at the gate, not crash
    // mid-scan (the feature legally admits int→double, date→ts_ntz…)
    val xroot = freshRoot()
    val xschema =
      """{"type":"struct","fields":[
        {"name":"k","type":"double","nullable":true,"metadata":{"delta.typeChanges":[{"fromType":"integer","toType":"double"}]}},
        {"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
        .replaceAll("\n\\s*", "").replace("\"", "\\\"")
    writeCommit(xroot, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      s"""{"metaData":{"id":"ext-tw","format":{"provider":"parquet","options":{}},"schemaString":"$xschema","partitionColumns":[],"configuration":{}}}"""))
    val xex = intercept[IllegalArgumentException](
      DeltaLog.read(spark, xroot).collect())
    assert(xex.getMessage.contains("integer → double"), xex.getMessage)
  }

  test("VARIANT columns: creation declares the variantType feature " +
    "(reader 3 / writer 7, BOTH sets), data round-trips through " +
    "commit/read/DML rewrites, streamed variant rows equal the batch " +
    "read, and mergeSchema evolution cannot smuggle variant in") {
    val root = freshRoot()
    val df = spark.sql(
      """SELECT id AS k, parse_json(concat('{"a": ', id, '}')) AS v
         FROM range(5)""")
    DeltaLog.commitFlat(spark, root, df.coalesce(1))
    val proto = commitLines(root, 0L).find(_.contains("protocol")).get
    assert(proto.contains("\"minReaderVersion\":3") &&
      proto.contains("\"minWriterVersion\":7"), proto)
    assert(proto.contains("readerFeatures") &&
      proto.contains("writerFeatures"), proto)
    assert("variantType".r.findAllIn(proto).size == 2, proto)
    val got = DeltaLog.read(spark, root)
      .selectExpr("k", "variant_get(v, '$.a', 'long') AS a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L to 4L).map(i => (i, i)).toSet, got.toString)
    // the streaming source reads variant through the batch read's
    // parquet path: streamed rows equal the batch read
    val name = s"var_stream_${System.nanoTime()}"
    val q = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root).load()
      .writeStream.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    def typed(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("k", "variant_get(v, '$.a', 'long') AS a",
        "to_json(v) AS j").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batchRows = typed(DeltaLog.read(spark, root))
    assert(batchRows.size == 5 && typed(spark.table(name)) == batchRows)
    // copy-on-write DML rewrites the file carrying variant bytes
    DeltaLog.deleteWhereLong(spark, root, "k", 0L, 0L)
    assert(DeltaLog.read(spark, root)
      .selectExpr("variant_get(v, '$.a', 'long') AS a")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // evolution cannot add a variant column to a non-variant table
    val plain = freshRoot()
    DeltaLog.commitFlat(spark, plain,
      Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val eex = intercept[IllegalArgumentException](
      DeltaLog.commitFlat(spark, plain,
        spark.sql("""SELECT CAST(2 AS BIGINT) AS k, 'b' AS v,
          parse_json('{"x":1}') AS w""").coalesce(1),
        mergeSchema = true))
    assert(eex.getMessage.contains("VARIANT"), eex.getMessage)
  }

  test("cleanUpExpiredLogs' sidecar sweep keeps a FRESH unreferenced " +
    "sidecar even at zero retention (in-flight checkpointV2 grace) " +
    "while collecting an aged one") {
    val root = freshRoot()
    (0 to 1).foreach(i => DeltaLog.commitFlat(spark, root,
      Seq((Option(i.toLong), s"c$i")).toDF("k", "v").coalesce(1)))
    DeltaLog.enableV2Checkpoints(spark, root)
    val v = DeltaLog.currentVersion(root)
    DeltaLog.checkpointV2(spark, root, v)
    val sideDir = Paths.get(root, "_delta_log", "_sidecars")
    // two unreferenced strays: one fresh (an in-flight checkpoint's
    // sidecar whose top has not landed), one aged past the grace
    val fresh = sideDir.resolve("fresh-stray.parquet")
    val aged = sideDir.resolve("aged-stray.parquet")
    Files.write(fresh, Array[Byte](1, 2, 3))
    Files.write(aged, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(aged, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 3600000L))
    val gone = DeltaLog.cleanUpExpiredLogs(spark, root, 0L)
    assert(gone.contains("_sidecars/aged-stray.parquet"), gone)
    assert(Files.exists(fresh),
      "zero-retention sweep collected a freshly-landed sidecar")
    assert(!Files.exists(aged))
  }

  test("commitFlatSlices equals sequential commitFlat version for version") {
    val src = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v")
    // sequential reference: one commitFlat per slice
    val seqRoot = freshRoot()
    (0 until 3).foreach(i => DeltaLog.commitFlat(spark, seqRoot,
      src.filter(pmod(col("k"), lit(3)) === i),
      configuration =
        if (i == 0) Map("delta.enableChangeDataFeed" -> "true")
        else Map.empty))
    // one-scan form
    val slcRoot = freshRoot()
    val last = DeltaLog.commitFlatSlices(spark, slcRoot,
      src.withColumn("__slice", pmod(col("k"), lit(3))),
      "__slice", Seq(0, 1, 2),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    assert(last == 2L)
    assert(DeltaLog.versions(slcRoot) == Seq(0L, 1L, 2L))
    (0L to 2L).foreach { v =>
      assert(rows(DeltaLog.readAt(spark, slcRoot, v)) ==
        rows(DeltaLog.readAt(spark, seqRoot, v)), s"version $v")
    }
    // the slice column never reaches the table schema
    assert(DeltaLog.read(spark, slcRoot).columns.toSeq == Seq("k", "v"))
    // CDF parity: every version's feed carries the same rows/kinds
    val feed = (r: String) => DeltaLog.readChangeFeed(spark, r, -1L)
      .select(col("k"), col("v"), col("_change_type"),
        col("_commit_version"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getLong(3))).toSet
    assert(feed(slcRoot) == feed(seqRoot))
    // APPEND continuation: further slices land on the existing table
    // exactly like sequential commitFlat appends would
    DeltaLog.commitFlat(spark, seqRoot,
      src.filter(col("k") <= 10).withColumn("v", concat(col("v"), lit("x"))))
    DeltaLog.commitFlat(spark, seqRoot,
      src.filter(col("k") > 290).withColumn("v", concat(col("v"), lit("x"))))
    DeltaLog.commitFlatSlices(spark, slcRoot,
      src.withColumn("v", concat(col("v"), lit("x")))
        .withColumn("__slice", when(col("k") <= 10, 0)
          .when(col("k") > 290, 1)),
      "__slice", Seq(0, 1))
    (3L to 4L).foreach { v =>
      assert(rows(DeltaLog.readAt(spark, slcRoot, v)) ==
        rows(DeltaLog.readAt(spark, seqRoot, v)), s"append version $v")
    }
    assert(feed(slcRoot) == feed(seqRoot),
      "CDF parity must hold through the appended slices")
    // refusal matrix: schema change on append, missing slice col
    intercept[IllegalArgumentException] {
      DeltaLog.commitFlatSlices(spark, slcRoot,
        src.withColumn("extra", lit(1))
          .withColumn("__slice", pmod(col("k"), lit(3))),
        "__slice", Seq(0, 1, 2))
    }
    intercept[IllegalArgumentException] {
      DeltaLog.commitFlatSlices(spark, freshRoot(), src, "__nope", Seq(0))
    }
  }

  test("commitPartitionedSlices equals sequential commitPartitioned") {
    val src = (1L to 300L)
      .map(i => (i, s"v$i", s"t${i % 4}")).toDF("k", "v", "pt")
    val seqRoot = freshRoot()
    (0 until 2).foreach(i => DeltaLog.commitPartitioned(spark, seqRoot,
      src.filter(pmod(col("k"), lit(2)) === i), Seq("pt")))
    val slcRoot = freshRoot()
    DeltaLog.commitPartitionedSlices(spark, slcRoot,
      src.withColumn("__slice", pmod(col("k"), lit(2))),
      "__slice", Seq(0, 1), Seq("pt"))
    (0L to 1L).foreach { v =>
      assert(rows(DeltaLog.readAt(spark, slcRoot, v)) ==
        rows(DeltaLog.readAt(spark, seqRoot, v)), s"version $v")
    }
    // partition pruning parity: the partitionValues landed typed+keyed
    val pruned = DeltaLog.read(spark, slcRoot).where(col("pt") === "t1")
    assert(pruned.count() == src.filter(col("pt") === "t1").count())
    assert(DeltaLog.read(spark, slcRoot).columns.toSet ==
      Set("k", "v", "pt"))
  }

  test("commitFlatSlices: onePerSlice lands one file per version; " +
    "ICT chains monotonically") {
    val src = (1L to 200L).map(i => (i, i * 1.5)).toDF("k", "x")
    val root = freshRoot()
    DeltaLog.commitFlatSlices(spark, root,
      src.withColumn("__slice", pmod(col("k"), lit(3))),
      "__slice", Seq(0, 1, 2),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"),
      onePerSlice = true)
    (0L to 2L).foreach { v =>
      val adds = commitLines(root, v).count(_.contains("\"add\""))
      assert(adds == 1, s"version $v expected 1 add, got $adds")
    }
    val icts = (0L to 2L).map { v =>
      """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(commitLines(root, v).mkString("\n"))
        .map(_.group(1).toLong)
        .getOrElse(fail(s"version $v has no inCommitTimestamp"))
    }
    assert(icts == icts.sorted && icts.distinct == icts,
      s"ICT chain must be strictly monotonic: $icts")
    // content equals the source regardless of routing
    assert(DeltaLog.read(spark, root).count() == 200L)
  }

  // ----- versioned-table contracts -----

  /** MERGE as one rewrite commit: latest-wins over the current snapshot
    * plus `batch` (a fresh table takes the deduplicated batch).
    */
  private def mergeCommit(root: String,
                          batch: org.apache.spark.sql.DataFrame): Long = {
    val merged =
      if (DeltaLog.currentVersion(root) < 0L)
        Upsert.latestWins(batch, Seq("k"), Seq("ts", "k"))
      else Upsert.merge(DeltaLog.read(spark, root), batch, Seq("k"),
        Seq("ts", "k"))
    DeltaLog.commitFlat(spark, root, merged, rewrite = true)
  }

  test("pinned reader keeps its snapshot while a merge commits underneath") {
    val root = freshRoot()
    mergeCommit(root, Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ts"))
    val pinned = DeltaLog.read(spark, root) // file list resolved NOW
    // a second merge rewrites the table as v1; v0's files are untouched
    mergeCommit(root, Seq((2L, "B", 2L), (3L, "c", 2L)).toDF("k", "v", "ts"))
    assert(rows(pinned) == Set((1L, "a"), (2L, "b")),
      "reader pinned before the merge must still see the pre-merge rows")
    assert(rows(DeltaLog.read(spark, root)) ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("time travel: readAt replays every committed state; history lists versions") {
    val root = freshRoot()
    val v0 = mergeCommit(root, Seq((1L, "a", 1L)).toDF("k", "v", "ts"))
    val v1 = mergeCommit(root,
      Seq((1L, "A", 2L), (2L, "b", 2L)).toDF("k", "v", "ts"))
    assert((v0, v1) == (0L, 1L))
    assert(DeltaLog.versions(root) == Seq(0L, 1L))
    assert(rows(DeltaLog.readAt(spark, root, 0L)) == Set((1L, "a")))
    assert(rows(DeltaLog.readAt(spark, root, 1L)) == Set((1L, "A"), (2L, "b")))
    intercept[IllegalArgumentException](DeltaLog.readAt(spark, root, 2L))
  }

  test("idempotent re-delivery: merging the same batch twice is a no-op state") {
    val root = freshRoot()
    val batch = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ts")
    mergeCommit(root, batch)
    mergeCommit(root, batch)
    assert(rows(DeltaLog.read(spark, root)) == Set((1L, "a"), (2L, "b")))
    assert(DeltaLog.currentVersion(root) == 1L) // two commits, same state
  }

  test("diff: insert/delete/update classification with null-safe column compare") {
    val root = freshRoot()
    // v0: keys 1..4; v1: 1 unchanged, 2 value-changed, 3 null→value
    // (must classify update, not unchanged), 4 deleted, 5 inserted
    DeltaLog.commitFlat(spark, root,
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
        .toDF("k", "v"))
    DeltaLog.commitFlat(spark, root,
      Seq((1L, Some("a")), (2L, Some("B")), (3L, Some("c")), (5L, Some("e")))
        .toDF("k", "v"), rewrite = true)
    val got = DeltaLog.diff(spark, root, 0L, 1L, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(got == Set(
      ("update", 2L, Some("b"), Some("B")),
      ("update", 3L, None, Some("c")),
      ("delete", 4L, Some("d"), None),
      ("insert", 5L, None, Some("e"))), s"got $got")
    // mismatched column sets refuse loudly
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a", 9L)).toDF("k", "v", "extra"), rewrite = true,
      mergeSchema = true)
    intercept[IllegalArgumentException](
      DeltaLog.diff(spark, root, 1L, 2L, Seq("k")))
  }

  test("diff: a null-keyed row classifies by PRESENCE, not key null-ness") {
    val root = freshRoot()
    def df(rows: Seq[(Option[Long], String)]) = rows.toDF("k", "v")
    // v0 has a null-keyed row; v1 does not → that row is a DELETE (the
    // presence-marker contract; key-null inference would invert it to
    // an insert). The null keys in both versions pair null-safely.
    DeltaLog.commitFlat(spark, root, df(Seq(Some(1L) -> "a", None -> "x")))
    DeltaLog.commitFlat(spark, root,
      df(Seq(Some(1L) -> "a", Some(2L) -> "b")), rewrite = true)
    val got = DeltaLog.diff(spark, root, 0L, 1L, Seq("k"))
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.toString).getOrElse("null"),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(got == Set(
      ("delete", "null", Some("x"), None),
      ("insert", "2", None, Some("b"))), s"got $got")
    // and a null-keyed row present in BOTH versions with a changed value
    // is an update, not an insert/delete pair
    DeltaLog.commitFlat(spark, root,
      df(Seq(Some(1L) -> "a", None -> "y")), rewrite = true)
    val got2 = DeltaLog.diff(spark, root, 0L, 2L, Seq("k"))
      .collect().map(r => (r.getString(0),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(got2 == Set(("update", Some("x"), Some("y"))), s"got $got2")
  }

  test("countFast: footer-sum count equals the real count, zero data read") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root, spark.range(0, 1234)
      .selectExpr("id AS k", "CAST(id AS STRING) AS v", "id AS ts"))
    DeltaLog.commitFlat(spark, root, spark.range(5000, 5432)
      .selectExpr("id AS k", "CAST(id AS STRING) AS v", "id AS ts"))
    val r = DeltaLog.countFast(spark, root).head()
    assert(r.getLong(0) == 1234L + 432L)
    assert(r.getLong(1) >= 2L) // at least one file per commit
    assert(r.getLong(0) == DeltaLog.read(spark, root).count())
    // deletion-vector cardinalities come off the footer sum
    DeltaLog.deleteWhereLongDV(spark, root, "k", 0L, 9L)
    assert(DeltaLog.countFast(spark, root).head().getLong(0) ==
      DeltaLog.read(spark, root).count())
  }

  test("commitFlatSlices: each slice version keeps its predecessors' files") {
    val src = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v")
    val seqRoot = freshRoot()
    (0 until 3).foreach(i => DeltaLog.commitFlat(spark, seqRoot,
      src.filter(pmod(col("k"), lit(3)) === i)))
    val slcRoot = freshRoot()
    DeltaLog.commitFlatSlices(spark, slcRoot,
      src.withColumn("__slice", pmod(col("k"), lit(3))),
      "__slice", Seq(0, 1, 2))
    (1L to 2L).foreach { v =>
      // append semantics: version v adds files and removes none
      val prev = DeltaLog.filesAt(spark, slcRoot, v - 1L).toSet
      val cur = DeltaLog.filesAt(spark, slcRoot, v).toSet
      assert(prev.subsetOf(cur) && cur.size > prev.size, s"version $v")
      assert(commitLines(slcRoot, v).forall(!_.contains("\"remove\"")))
      assert(rows(DeltaLog.readAt(spark, slcRoot, v)) ==
        rows(DeltaLog.readAt(spark, seqRoot, v)), s"version $v")
    }
    assert(DeltaLog.countFast(spark, slcRoot).head().getLong(0) == 300L)
  }

  test("compaction is a new version with identical rows; v0 stays readable") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      spark.range(0L, 1000L).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("v")).repartition(8),
      rewrite = true)
    val before = rows(DeltaLog.read(spark, root))
    // flat-table compaction is OPTIMIZE into one file
    val v1 = DeltaLog.optimizeZOrder(spark, root, "k", "k", 6, 1)
    assert(v1 == 1L)
    assert(rows(DeltaLog.read(spark, root)) == before)
    assert(rows(DeltaLog.readAt(spark, root, 0L)) == before)
    assert(DeltaLog.filesAt(spark, root, 1L).size <
      DeltaLog.filesAt(spark, root, 0L).size)
  }

  test("optimizeZOrder on a flat rewrite keeps rows, history, and skips files") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      spark.range(0L, 4096L).select(col("id").as("k"), col("id").as("v"),
        pmod(col("id") * 37L, lit(64L)).as("x"),
        pmod(col("id") * 101L, lit(64L)).as("y")).repartition(8),
      rewrite = true)
    val before = DeltaLog.read(spark, root).collect().map(_.toString).sorted.toSeq
    val v1 = DeltaLog.optimizeZOrder(spark, root, "x", "y", 6, 8)
    assert(v1 == 1L)
    assert(DeltaLog.read(spark, root).collect().map(_.toString).sorted.toSeq
      == before, "optimize must not change rows")
    assert(DeltaLog.readAt(spark, root, 0L).collect().length == 4096,
      "pre-optimize version must stay readable")
    // the clustered layout actually skips: a selective x-range opens
    // fewer files than the table has
    val opened = scannedFiles(DeltaLog.read(spark, root)
      .where(col("x").between(0L, 8L)))
    assert(opened < 8, s"no skipping benefit: $opened of 8 files overlap x<=8")
  }

  test("random rewrite/append sequences track the in-memory model at " +
    "every version (two seeds)") {
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("k"), col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val root = freshRoot()
      // model: committed version -> expected multiset of (k, v)
      var model = Map.empty[Long, Seq[(Long, Long)]]
      for (step <- 1 to 10) {
        val batch =
          Seq.fill(1 + rnd.nextInt(5))((rnd.nextInt(6).toLong, rnd.nextLong(1000)))
        val parent = DeltaLog.currentVersion(root)
        val rewrite = rnd.nextInt(3) == 0
        val v = DeltaLog.commitFlat(spark, root, batch.toDF("k", "v"),
          rewrite = rewrite)
        val base = if (rewrite || parent < 0L) Seq.empty else model(parent)
        model += v -> (base ++ batch).sorted
        assert(DeltaLog.versions(root) == model.keys.toSeq.sorted,
          s"seed $seed step $step: version list diverged")
        model.foreach { case (mv, expected) =>
          assert(rowsOf(DeltaLog.readAt(spark, root, mv)) == expected,
            s"seed $seed step $step: version $mv content diverged")
        }
      }
    }
  }
}
