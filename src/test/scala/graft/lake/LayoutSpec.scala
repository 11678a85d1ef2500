package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Morton key arithmetic + the Z-order clustered writer's layout
  * contract: data preserved, per-file sortedness, and narrow per-file
  * bounding boxes on BOTH dimensions (the data-skipping property).
  */
class LayoutSpec extends SparkSpec {

  test("mortonKey interleaves bits (x even positions, y odd)") {
    val s = spark; import s.implicits._
    val out = Seq((5L, 3L), (0L, 0L), (7L, 0L), (0L, 7L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.mortonKey(col("x"), col("y"), 16).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x=101, y=011 → z bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 27
    assert(out == Seq(27L, 0L, 0x15L, 0x2AL, (1L << 32) - 1))
    intercept[IllegalArgumentException] {
      Layout.mortonKey(col("x"), col("y"), 32)
    }
  }

  test("mortonKey equals its generated SQL form (one source of truth)") {
    val s = spark; import s.implicits._
    val df = Seq.tabulate(200)(i => ((i * 37L) % 1024, (i * 91L) % 1024))
      .toDF("x", "y")
    val diff = df.select(
        Layout.mortonKey(col("x"), col("y"), 10).as("a"),
        expr(Layout.mortonOracleSql("x", "y", 10)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("zorderWrite: data preserved, files sorted, both dims' ranges narrow") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-zorder").toString + "/t"
    // 64x64 grid, shuffled input order
    val rows = scala.util.Random.shuffle(
      for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
    val df = rows.toDF("x", "y")
    Layout.zorderWrite(df, dir, "x", "y", bits = 6, numFiles = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64 * 64 &&
      back.distinct().count() == 64 * 64, "round-trip lost rows")
    // per-file: z-sorted, and each file's (x, y) bounding box must be a
    // small fraction of the full domain on BOTH dims — the property that
    // makes min/max skipping work on either filter column. A 1-D sort by
    // x would give width-64 y-ranges in every file.
    val perFile = back
      .select(input_file_name().as("f"), col("x"), col("y"),
        Layout.mortonKey(col("x"), col("y"), 6).as("z"))
    val unsorted = perFile
      .withColumn("__prev", lag(col("z"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
          .orderBy(monotonically_increasing_id())))
      .filter(col("__prev") > col("z")).count()
    assert(unsorted == 0, "file contents not z-sorted")
    val boxes = perFile.groupBy(col("f"))
      .agg((max(col("x")) - min(col("x"))).as("xr"),
        (max(col("y")) - min(col("y"))).as("yr"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(boxes.length >= 8, s"expected >= 8 files, got ${boxes.length}")
    val (avgX, avgY) = (boxes.map(_._1).sum / boxes.length.toDouble,
      boxes.map(_._2).sum / boxes.length.toDouble)
    assert(avgX <= 40 && avgY <= 40,
      s"bounding boxes too wide for z-clustering: avgX=$avgX avgY=$avgY")
  }

  test("tileManifest: every tile is a small rectangle on BOTH dims") {
    val s = spark; import s.implicits._
    val rows = for (x <- 0 until 256; y <- 0 until 256 by 4) yield (x.toLong, y.toLong)
    // tile = top 8 of 16 Morton bits = high nibble of x × high nibble of
    // y — each tile's x and y ranges are ≤ 16 wide BY CONSTRUCTION; the
    // manifest must observe exactly that (the pruning guarantee).
    val m = Layout.tileManifest(rows.toDF("x", "y"), "x", "y", 8, 8).collect()
    assert(m.length == 256, s"16x16 tiles expected, got ${m.length}")
    assert(m.forall(r => r.getLong(3) - r.getLong(2) <= 15 &&
      r.getLong(5) - r.getLong(4) <= 15),
      "tile bounding box wider than the tile's Morton rectangle")
    assert(m.map(_.getLong(1)).sum == rows.length, "manifest row counts must total the table")
    intercept[IllegalArgumentException] {
      Layout.tileManifest(rows.toDF("x", "y"), "x", "y", 8, 17)
    }
  }

  test("rendezvousMoves: growth moves keys only INTO the added shards") {
    val s = spark; import s.implicits._
    val keys = (1L to 400L).toDF("k")
    val rep = graft.lake.Layout.rendezvousMoves(keys, "k", 8, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rep.map(_._3).sum == 400L)
    // HRW minimal movement: a key moves only if one of the NEW shards
    // (8..11) wins; no key may move between surviving shards
    rep.filter(_._4).foreach { case (f, t, _, _) =>
      assert(t >= 8L && t < 12L && f < 8L, s"illegal move $f -> $t")
    }
    assert(rep.exists(_._4) && rep.exists(!_._4))
    // same shard count -> nothing moves
    val same = graft.lake.Layout.rendezvousMoves(keys, "k", 8, 8)
      .collect().map(r => r.getBoolean(3))
    assert(same.forall(_ == false))
  }

}
