package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import java.nio.file.Files

/** 100 TB-posture contracts for the Delta DML WRITE path: wide
  * copy-on-write DML runs a BOUNDED number of Spark jobs (one probe +
  * one rewrite), never one job per touched file; a bulk MERGE's insert
  * set lands as multiple target-sized files in one job; DV deletes
  * build their bitmaps executor-side (the driver handles bitmap bytes,
  * never row positions).
  */
class DeltaDmlScaleSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-dml-scale").toString + "/tbl"

  test("a DELETE touching 64 files runs a bounded job count " +
    "(one probe + one rewrite), not O(touched files)") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 6400L).map(k => (k, k % 7)).toDF("k", "x").repartition(64))
    assert(DeltaLog.filesAt(spark, root, 0L).size == 64)
    val jobs = countJobs {
      DeltaLog.deleteWhereLong(spark, root, "k", 1L, 6399L)
    }
    // probe (shuffle + collect) + rewrite (shuffle + write)
    assert(jobs <= 4, s"wide delete ran $jobs jobs — O(files) regression")
    assert(DeltaLog.read(spark, root).select("k").as[Long].collect()
      .toSeq == Seq(6400L))
  }

  test("a 64-file read, flat or partitioned, runs as many jobs as a " +
    "1-file read: the log is the listing, no discovery job") {
    def readJobs(root: String, p: Option[Long] = None): (Int, Long) = {
      var n = 0L
      val jobs = countJobs {
        val df = DeltaLog.read(spark, root)
        n = p.map(v => df.filter(col("p") === v)).getOrElse(df).count()
      }
      (jobs, n)
    }
    val one = freshRoot()
    DeltaLog.commitFlat(spark, one,
      (1L to 100L).map(k => (k, k % 7)).toDF("k", "x").coalesce(1))
    val flat = freshRoot() + "-flat"
    DeltaLog.commitFlat(spark, flat,
      (1L to 6400L).map(k => (k, k % 7)).toDF("k", "x").repartition(64))
    val part = freshRoot() + "-part"
    DeltaLog.commitPartitioned(spark, part,
      (1L to 6400L).map(k => (k, k % 8)).toDF("k", "p").repartition(8),
      Seq("p"))
    assert(DeltaLog.filesAt(spark, flat, 0L).size == 64)
    assert(DeltaLog.filesAt(spark, part, 0L).size == 64)
    val (oneJobs, oneRows) = readJobs(one)
    assert(oneRows == 100L)
    assert(oneJobs == 2, s"1-file count ran $oneJobs jobs")
    assert(readJobs(flat) == ((oneJobs, 6400L)))
    assert(readJobs(part) == ((oneJobs, 6400L)))
    // a partition filter prunes in the index, still without a listing
    assert(readJobs(part, Some(2L)) == ((oneJobs, 800L)))
  }

  test("an UPDATE touching 64 files runs a bounded job count and " +
    "rewrites every touched file") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 6400L).map(k => (k, k % 7)).toDF("k", "x").repartition(64))
    val jobs = countJobs {
      DeltaLog.updateWhereLong(spark, root, "k", 1L, 6400L,
        Map("x" -> lit(-1L)))
    }
    assert(jobs <= 4, s"wide update ran $jobs jobs — O(files) regression")
    val got = DeltaLog.read(spark, root)
    assert(got.count() == 6400L)
    assert(got.filter(col("x") =!= -1L).count() == 0L)
  }

  test("a bulk MERGE lands its insert set as multiple target-sized " +
    "files in one commit; rewrite survivors intact") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      (1L to 100L).map(k => (k, k)).toDF("k", "x").coalesce(1))
    val saved = DeltaLog.mergeInsertRowsPerFile
    try {
      DeltaLog.mergeInsertRowsPerFile = 1000L
      DeltaLog.mergeKey(spark, root, "k",
        (50L to 4049L).map(k => (k, -k)).toDF("k", "x"))
    } finally DeltaLog.mergeInsertRowsPerFile = saved
    // 4 000 source rows at 1 000/file = 4 insert files + the rewritten
    // survivor file (rows 1..49)
    val active = DeltaLog.filesAt(spark, root, 1L)
    assert(active.size == 5, s"expected 5 active files, got ${active.size}")
    val got = DeltaLog.read(spark, root).as[(Long, Long)].collect().toMap
    assert(got.size == 4049)
    assert((1L to 49L).forall(k => got(k) == k), "survivors changed")
    assert((50L to 4049L).forall(k => got(k) == -k), "merged rows wrong")
  }

  test("STRING-key point merge prunes candidates to O(matching) files: " +
    "truncation-enclosing stats ranges on a sorted layout, footer " +
    "blooms on an unsorted one, and merge-written files re-prune") {
    // layout A: each file covers a DISJOINT sorted key range — stats
    // alone must prune a point merge to one candidate (no blooms)
    val sortedRoot = freshRoot() + "-sorted"
    (0 until 16).foreach { i =>
      DeltaLog.commitFlat(spark, sortedRoot,
        (0 until 100).map(j => (f"id-$i%02d-$j%03d", j.toLong))
          .toDF("k", "x").coalesce(1))
    }
    assert(DeltaLog.filesAt(spark, sortedRoot, 15L).size == 16)
    val candSorted = DeltaLog.mergeCandidateRels(spark, sortedRoot, "k",
      Seq(("id-07-050", -1L)).toDF("k", "x"))
    assert(candSorted.size == 1,
      s"sorted string layout must stats-prune to 1 file, got " +
        s"${candSorted.size}")
    // the public string-RANGE read prunes on the same stats, in the
    // job count of an unpruned read (the index prunes at planning)
    def ranged = DeltaLog.read(spark, sortedRoot)
      .where(col("k").between("id-07-000", "id-07-999"))
    val nRanged = scannedFiles(ranged)
    assert(nRanged == 1L,
      s"string range read must open 1 of 16 files, got $nRanged")
    var n = 0L
    assert(countJobs { n = ranged.count() } == 2)
    assert(n == 100L)
    // layout B: keys HASH-spread across 16 files so every stats range
    // spans the whole key space — the per-file BLOOM is what prunes
    val hashedRoot = freshRoot() + "-hashed"
    val all = (0 until 1600).map(j => (f"ord-$j%04d", j.toLong))
    DeltaLog.commitFlat(spark, hashedRoot, all.toDF("k", "x")
      .repartition(16), writeOptions = DeltaLog.bloomOptions(Seq("k")))
    assert(DeltaLog.filesAt(spark, hashedRoot, 0L).size == 16)
    // the bloom-pruned point read: footer probes run during planning,
    // outside any Spark job, so it adds no job
    def point = DeltaLog.read(spark, hashedRoot).where(col("k") === "ord-0042")
    assert(scannedFiles(point) <= 3L)
    assert(countJobs { n = point.count() } == 2)
    assert(n == 1L)
    val candHashed = DeltaLog.mergeCandidateRels(spark, hashedRoot, "k",
      Seq(("ord-0042", -1L)).toDF("k", "x"))
    assert(candHashed.size <= 3,
      s"bloom point prune must keep O(matching) files of 16, got " +
        s"${candHashed.size}")
    // the merge itself: correct, and its own OUTPUT files carry a key
    // bloom (adaptive-sized), so the NEXT point merge still prunes
    DeltaLog.mergeKey(spark, hashedRoot, "k",
      Seq(("ord-0042", -42L), ("zzz-9999", 9999L)).toDF("k", "x"))
    val got = DeltaLog.read(spark, hashedRoot).as[(String, Long)]
      .collect().toMap
    assert(got.size == 1601 && got("ord-0042") == -42L &&
      got("zzz-9999") == 9999L)
    val cand2 = DeltaLog.mergeCandidateRels(spark, hashedRoot, "k",
      Seq(("ord-0042", 0L)).toDF("k", "x"))
    assert(cand2.size <= 3,
      s"merge-written files must stay bloom-prunable, got ${cand2.size}")
    // bloom present on a merge-written file, readable by the parquet
    // BloomFilterReader surface (not just our prune path)
    val newFiles = DeltaLog.filesAt(spark, hashedRoot, 1L)
      .filterNot(DeltaLog.filesAt(spark, hashedRoot, 0L).toSet)
    assert(newFiles.nonEmpty)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(hashedRoot, newFiles.head).toString),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val hasBloom = try {
      val block = r.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val cm = block.getColumns.asScala
        .find(_.getPath.toDotString == "k").get
      r.getBloomFilterDataReader(block).readBloomFilter(cm) != null
    } finally r.close()
    assert(hasBloom, "merge output must carry a bloom on the merge key")
    // point lookup through the public surface agrees
    assert(point.as[(String, Long)].collect().toSeq ==
      Seq(("ord-0042", -42L)))
  }

  test("INT-key point merge prunes candidates to O(matching) files: " +
    "numeric stats ranges on a sorted layout, footer blooms (hashed by " +
    "the file's INT32 physical form) on an unsorted one") {
    // layout A: disjoint sorted int ranges — stats alone prune to 1
    val sortedRoot = freshRoot() + "-sorted"
    (0 until 16).foreach { i =>
      DeltaLog.commitFlat(spark, sortedRoot,
        (0 until 100).map(j => (i * 100 + j, j.toLong))
          .toDF("k", "x").coalesce(1))
    }
    assert(DeltaLog.filesAt(spark, sortedRoot, 15L).size == 16)
    val candSorted = DeltaLog.mergeCandidateRels(spark, sortedRoot, "k",
      Seq((750, -1L)).toDF("k", "x"))
    assert(candSorted.size == 1,
      s"sorted int layout must stats-prune to 1 file, got " +
        s"${candSorted.size}")
    // layout B: hash-spread keys, every stats range spans the space —
    // the footer bloom prunes, probed through the INT32 hash form
    val hashedRoot = freshRoot() + "-hashed"
    DeltaLog.commitFlat(spark, hashedRoot,
      (0 until 1600).map(j => (j, j.toLong)).toDF("k", "x")
        .repartition(16), writeOptions = DeltaLog.bloomOptions(Seq("k")))
    assert(DeltaLog.filesAt(spark, hashedRoot, 0L).size == 16)
    val candHashed = DeltaLog.mergeCandidateRels(spark, hashedRoot, "k",
      Seq((42, -1L)).toDF("k", "x"))
    assert(candHashed.size <= 3,
      s"int bloom point prune must keep O(matching) files of 16, got " +
        s"${candHashed.size}")
    // the merge is correct and its output re-prunes (bloom-on-write
    // now covers int keys)
    DeltaLog.mergeKey(spark, hashedRoot, "k",
      Seq((42, -42L), (99999, 9L)).toDF("k", "x"))
    val got = DeltaLog.read(spark, hashedRoot)
      .as[(Int, Long)].collect().toMap
    assert(got.size == 1601 && got(42) == -42L && got(99999) == 9L)
    val cand2 = DeltaLog.mergeCandidateRels(spark, hashedRoot, "k",
      Seq((42, 0L)).toDF("k", "x"))
    assert(cand2.size <= 3,
      s"merge-written int files must stay bloom-prunable, got ${cand2.size}")
    // the long-point public read probes the INT32 bloom correctly
    assert(DeltaLog.read(spark, hashedRoot).where(col("k") === 42)
      .as[(Int, Long)].collect().toSeq == Seq((42, -42L)))
  }

  test("DATE-key point merge prunes candidates through ISO-rendered " +
    "date stats; merged values round-trip") {
    val root = freshRoot()
    // 16 files, each one month of 2021 onward — disjoint date ranges
    (0 until 16).foreach { i =>
      val base = java.time.LocalDate.of(2021, 1, 1).plusMonths(i.toLong)
      DeltaLog.commitFlat(spark, root,
        (0 until 25).map(j =>
          (java.sql.Date.valueOf(base.plusDays(j.toLong)), j.toLong))
          .toDF("d", "x").coalesce(1))
    }
    assert(DeltaLog.filesAt(spark, root, 15L).size == 16)
    val cand = DeltaLog.mergeCandidateRels(spark, root, "d",
      Seq((java.sql.Date.valueOf("2021-08-10"), -1L)).toDF("d", "x"))
    assert(cand.size == 1,
      s"sorted date layout must stats-prune to 1 file, got ${cand.size}")
    DeltaLog.mergeKey(spark, root, "d",
      Seq((java.sql.Date.valueOf("2021-08-10"), -10L)).toDF("d", "x"))
    val got = DeltaLog.read(spark, root)
      .filter(col("d") === java.sql.Date.valueOf("2021-08-10"))
      .select("x").as[Long].collect().toSeq
    assert(got == Seq(-10L))
  }

  test("HOSTILE layout (duplicate basenames at MIXED depths, converted " +
    "table) runs the batched DML path in a pinned job count: the scan " +
    "tags rows by the file's ordinal in the log") {
    // a CONVERTed layout whose file names and path tails collide: the
    // same basename part-0.parquet at depth 0, 1 and 2
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "a", "b"))
    def writeOne(rel: String, lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hostile")
      (lo to hi).map(k => (k, k % 7)).toDF("k", "x")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally l.close()
      }
      java.nio.file.Files.move(part, java.nio.file.Paths.get(root, rel))
    }
    writeOne("part-0.parquet", 1L, 100L)
    writeOne("a/part-0.parquet", 101L, 200L)
    writeOne("a/b/part-0.parquet", 201L, 300L)
    DeltaLog.convertToDelta(spark, root)
    assert(DeltaLog.filesAt(spark, root, 0L).size == 3)
    // wide DELETE touching all three files: one probe and one rewrite
    // (two jobs each), never per-file
    val jobs = countJobs {
      DeltaLog.deleteWhereLong(spark, root, "k", 1L, 299L)
    }
    assert(jobs <= 4, s"hostile-layout delete ran $jobs jobs")
    assert(DeltaLog.read(spark, root).select("k").as[Long].collect()
      .toSeq == Seq(300L))
    // UPDATE keeps working over the rewritten mixed-depth survivors
    DeltaLog.updateWhereLong(spark, root, "k", 300L, 300L,
      Map("x" -> lit(-1L)))
    assert(DeltaLog.read(spark, root).as[(Long, Long)].collect()
      .toSeq == Seq((300L, -1L)))
  }

  test("compactPartitioned runs ONE job for many fat partitions, " +
    "applies+clears DVs and materializes clone-absolute references") {
    val root = freshRoot()
    // 16 partitions × 4 files each
    (0 until 4).foreach { i =>
      DeltaLog.commitPartitioned(spark, root,
        (0L until 160L).map(k => (k, (k % 16).toString))
          .toDF("k", "p").repartition(1), Seq("p"))
    }
    assert(DeltaLog.filesAt(spark, root, 3L).size == 64)
    // DV-delete a slice so some files carry deletion vectors
    DeltaLog.deleteWhereLongDV(spark, root, "k", 10L, 20L)
    val jobs = countJobs { DeltaLog.compactPartitioned(spark, root) }
    assert(jobs <= 8, s"compaction of 16 fat partitions ran $jobs jobs")
    val v = DeltaLog.currentVersion(root)
    val active = DeltaLog.filesAt(spark, root, v)
    assert(active.size == 16, s"${active.size} files after compaction")
    // DVs cleared, live rows preserved (each k appears 4x, minus the
    // DV'd range)
    val got = DeltaLog.read(spark, root).select("k").as[Long].collect()
    assert(got.length == 4 * (160 - 11))
    assert(!got.exists(k => k >= 10L && k <= 20L))
    // bin-to-target-size: a big partition splits at the row target
    // inside the same one-job pass, rows intact
    val binRoot = freshRoot() + "-bin"
    (0 until 2).foreach { _ =>
      DeltaLog.commitPartitioned(spark, binRoot,
        (0L until 1000L).map(k => (k, (k % 2).toString))
          .toDF("k", "p").repartition(1), Seq("p"))
    }
    DeltaLog.compactPartitioned(spark, binRoot,
      targetRowsPerFile = Some(300L))
    val binned = DeltaLog.filesAt(spark, binRoot,
      DeltaLog.currentVersion(binRoot))
    assert(binned.size == 8,
      s"1000 rows/partition at 300/file must bin to 4 files each: $binned")
    assert(DeltaLog.read(spark, binRoot).count() == 2000L)

    // clone: absolute references materialize under the CLONE's root
    val clone = freshRoot() + "-clone"
    DeltaLog.shallowClone(spark, root, clone)
    DeltaLog.compactPartitioned(spark, clone)
    val cloneActive = DeltaLog.filesAt(spark, clone,
      DeltaLog.currentVersion(clone))
    assert(cloneActive.forall(!_.startsWith("/")),
      s"clone compaction left absolute refs: $cloneActive")
    assert(DeltaLog.read(spark, clone).count() == got.length)
  }

  test("BitmapAgg: DV bitmaps build executor-side — the driver row is " +
    "BINARY bitmap bytes that deserialize to the full position set") {
    val agg = udaf(DeltaLog.BitmapAgg,
      org.apache.spark.sql.Encoders.scalaLong)
    val df = spark.range(1000000L).select((col("id") * 2).as("p"))
      .agg(agg(col("p")).as("dv"))
    assert(df.schema.head.dataType == BinaryType,
      "driver must receive bitmap BYTES, not positions")
    val ps = Dv.deserialize(df.collect().head.getAs[Array[Byte]](0))
    assert(ps.cardinality == 1000000L)
    assert(ps.contains(1999998L) && !ps.contains(1L))
  }

  test("DV delete of a MILLION rows: bitmap-sized driver state, " +
    "correct read-back, cardinality recorded") {
    val root = freshRoot()
    DeltaLog.commitFlat(spark, root,
      spark.range(1100000L).select(col("id").as("k"),
        (col("id") % 10L).as("x")))
    DeltaLog.deleteWhereLongDV(spark, root, "k", 0L, 999999L)
    assert(DeltaLog.read(spark, root).count() == 100000L)
    assert(DeltaLog.read(spark, root).agg(min(col("k"))).head().getLong(0)
      == 1000000L)
    // per-file DVs: descriptor cardinalities across the commit sum to
    // the full million
    val c1 = Files.readAllLines(
      java.nio.file.Paths.get(root, "_delta_log",
        f"${1L}%020d.json")).toString
    val total = """"cardinality":(\d+)""".r
      .findAllMatchIn(c1).map(_.group(1).toLong).sum
    assert(total == 1000000L, s"DV cardinalities sum to $total: ${c1.take(600)}")
  }

  test("distributed VACUUM (many dirs, many orphans) runs a BOUNDED " +
    "job count — one listing fan-out + one delete fan-out, never " +
    "O(directories) or O(orphans)") {
    val root = freshRoot()
    val buckets = (0 until 12).map(i => f"b$i%02d")
    DeltaLog.commitPartitioned(spark, root,
      buckets.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("k", "bucket").repartition(12, col("bucket")),
      Seq("bucket"))
    buckets.foreach { b =>
      (0 until 10).foreach(j => java.nio.file.Files.write(
        java.nio.file.Paths.get(root, s"bucket=$b", s"junk-$j.parquet"),
        Array[Byte](1)))
    }
    var gone: Seq[String] = Nil
    val jobs = countJobs { gone = DeltaLog.vacuum(spark, root) }
    assert(gone.size == 120)
    assert(jobs <= 4,
      s"distributed vacuum ran $jobs jobs — per-dir/per-orphan blowup")
    assert(DeltaLog.read(spark, root).count() == 12L)
  }
}
