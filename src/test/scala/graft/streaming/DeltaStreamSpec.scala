package graft.streaming

import graft.SparkSpec
import graft.lake.DeltaLog
import org.apache.spark.sql.functions.lit

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The graft-delta streaming SOURCE: version-granular micro-batches,
  * exactly-once offsets under checkpoint restart, schema-evolution
  * null-fill in flight, and the loud append-tail contracts.
  */
class DeltaStreamSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def readStream(root: String) =
    spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root).load()

  test("micro-batches follow commits; new commits arrive incrementally; " +
    "OPTIMIZE's dataChange=false commit adds nothing") {
    val root = freshDir("graft-dstream")
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v"))
    val name = s"ds_${System.nanoTime()}"
    val q = readStream(root).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got() == Set((1L, "a"), (2L, "b"), (3L, "c")))
      DeltaLog.commitFlat(spark, root, Seq((4L, "d")).toDF("k", "v"))
      q.processAllAvailable()
      assert(got() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      // layout-only commit: nothing new flows
      DeltaLog.optimizeZOrder(spark, root, "k", "k", 4, 2)
      q.processAllAvailable()
      assert(got() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q.stop()
  }

  test("checkpoint restart resumes exactly-once: only post-checkpoint " +
    "commits replay into a fresh sink") {
    val root = freshDir("graft-dstream-ckpt")
    val ckpt = Files.createTempDirectory("graft-dstream-ck").toString
    val out = Files.createTempDirectory("graft-dstream-out")
      .resolve("o").toString
    DeltaLog.commitFlat(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // memory sink refuses recovery — the parquet FILE sink is the
    // restart-capable one, and its own manifest makes output
    // exactly-once end to end
    def sink() = readStream(root).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def got() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val q1 = sink()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(got() == Seq((1L, "a"), (2L, "b")))
    // append while the stream is DOWN, then restart from the checkpoint
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v"))
    val q2 = sink()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(got() == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "restart must replay ONLY the missed commit, exactly once")
  }

  test("maxVersionsPerTrigger drains a backlog in bounded batches, " +
    "losing nothing") {
    val root = freshDir("graft-dstream-adm")
    (1 to 5).foreach(i =>
      DeltaLog.commitFlat(spark, root, Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val ckpt = Files.createTempDirectory("graft-dstream-admck").toString
    val out = Files.createTempDirectory("graft-dstream-admout")
      .resolve("o").toString
    val q = spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("maxVersionsPerTrigger", "2").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    // 5 commits at <=2 versions per batch = at least 3 offset entries
    val offsets = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
    val n = try offsets.iterator().asScala
      .count(!_.getFileName.toString.startsWith(".")) finally offsets.close()
    assert(n >= 3, s"expected >=3 bounded batches, saw $n offset files")
  }

  test("maxFilesPerTrigger splits ONE fat commit across micro-batches " +
    "at file granularity (sub-commit offsets), loses nothing, and a " +
    "checkpoint restart with a fat backlog resumes exactly-once") {
    val root = freshDir("graft-dstream-mft")
    // one commit, six files — version-granular admission would land it
    // in a single batch no matter the limit
    DeltaLog.commitFlat(spark, root,
      (1L to 12L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6))
    val ckpt = Files.createTempDirectory("graft-dstream-mftck").toString
    val out = Files.createTempDirectory("graft-dstream-mftout")
      .resolve("o").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.streaming.DeltaStreamProvider")
        .option("path", root).option("maxFilesPerTrigger", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 12L).map(i => (i, s"v$i")).toSet)
    // 6 files at <=2 per batch = at least 3 offset entries, and the
    // intermediate ones are SUB-COMMIT (serialized with an index)
    val offDir = java.nio.file.Paths.get(ckpt, "offsets")
    def offsetBodies: Seq[String] = {
      val s = Files.list(offDir)
      try s.iterator().asScala
        .filter(!_.getFileName.toString.startsWith("."))
        .map(p => Files.readAllLines(p).asScala.mkString("\n")).toSeq
      finally s.close()
    }
    assert(offsetBodies.size >= 3,
      s"expected >=3 bounded batches, saw ${offsetBodies.size}")
    assert(offsetBodies.exists(_.contains("\"index\"")),
      "no sub-commit offset was recorded for a mid-commit boundary")
    // restart against a NEW fat backlog commit: only the new rows land
    DeltaLog.commitFlat(spark, root,
      (13L to 18L).map(i => (i, s"v$i")).toDF("k", "v").repartition(6))
    run()
    val got2 = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got2.size == 18, s"exactly-once violated: ${got2.size} rows")
    assert(got2.toSet == (1L to 18L).map(i => (i, s"v$i")).toSet)
  }

  test("maxBytesPerTrigger rates by recorded add sizes and always " +
    "admits at least one file, so files larger than the budget drain") {
    val root = freshDir("graft-dstream-mbt")
    DeltaLog.commitFlat(spark, root,
      (1L to 8L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4))
    val ckpt = Files.createTempDirectory("graft-dstream-mbtck").toString
    val out = Files.createTempDirectory("graft-dstream-mbtout")
      .resolve("o").toString
    // 1 byte per trigger < any parquet file: progress guarantee makes
    // this one-file-per-batch, never a stall
    val q = spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("maxBytesPerTrigger", "1").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 8L).map(i => (i, s"v$i")).toSet)
    val offsets = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
    val n = try offsets.iterator().asScala
      .count(!_.getFileName.toString.startsWith(".")) finally offsets.close()
    assert(n >= 4, s"expected one-file batches (>=4 offsets), saw $n")
    // the three rate options are mutually exclusive — loud refusal
    val ex = intercept[Exception] {
      val bad = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root).option("maxFilesPerTrigger", "2")
        .option("maxBytesPerTrigger", "10").load()
        .writeStream.format("memory")
        .queryName(s"mbt_bad_${System.nanoTime()}").start()
      try bad.processAllAvailable() finally bad.stop()
    }
    assert(ex.getMessage != null)
  }

  test("partitioned tables stream with typed partition-value constants, " +
    "null partitions included") {
    val root = freshDir("graft-dstream-part")
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", Some("x")), (2L, "b", Some("y")), (3L, "c", None))
        .map { case (k, v, p) => (k, v, p.orNull) }.toDF("k", "v", "pt"),
      Seq("pt"))
    val name = s"dsp_${System.nanoTime()}"
    val q = readStream(root).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getString(2)))).toSet
      assert(got == Set((1L, "a", Some("x")), (2L, "b", Some("y")),
        (3L, "c", None)))
    } finally q.stop()
  }

  test("NESTED types stream: items array<struct> and a map column read " +
    "through the Group walk ≡ batch; nested NAME-mapped and junk-named " +
    "ID-mapped tables resolve at every level") {
    import org.apache.spark.sql.functions.{col, expr}
    // plain nested: array<struct<pid,qty>> + map<string,long>
    val root = freshDir("graft-dstream-nested")
    val base = Seq(
      ("o1", Seq((101L, 2L), (102L, 1L)), Map("a" -> 1L)),
      ("o2", Seq((103L, 5L)), Map("b" -> 2L, "c" -> 3L)),
      ("o3", Seq.empty[(Long, Long)], Map.empty[String, Long]))
      .toDF("oid", "items0", "m")
      .select(col("oid"),
        expr("transform(items0, x -> named_struct('pid', x._1, " +
          "'qty', x._2))").as("items"), col("m"))
    DeltaLog.commitFlat(spark, root, base.coalesce(1))
    val name = s"dsn_${System.nanoTime()}"
    val q = readStream(root).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("oid",
        "transform(items, x -> struct(x.pid, x.qty)) AS t",
        "map_entries(m) AS me")
        .collect().map(r => (r.getString(0),
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getLong(0), x.getLong(1))).toSeq,
          r.getSeq[org.apache.spark.sql.Row](2)
            .map(x => (x.getString(0), x.getLong(1))).toSet)).toSet
    assert(flat(spark.table(name)) == flat(DeltaLog.read(spark, root)))

    // nested NAME-mapped: file stores physical names at every level
    val root2 = freshDir("graft-dstream-nested-map")
    Files.createDirectories(java.nio.file.Paths.get(root2))
    val tmp = Files.createTempDirectory("stage")
    base.select(col("oid").as("col-oid"),
      expr("transform(items, x -> named_struct('col-pid', x.pid, " +
        "'col-qty', x.qty))").as("col-items"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = {
      val l = Files.list(tmp)
      try l.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally l.close()
    }
    Files.move(part, java.nio.file.Paths.get(root2, "part-a.parquet"))
    val nestedSchema =
      """{"type":"struct","fields":[
        {"name":"oid","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-oid"}},
        {"name":"items","type":{"type":"array","elementType":{"type":"struct","fields":[
          {"name":"pid","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-pid"}},
          {"name":"qty","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"col-qty"}}]},"containsNull":true},"nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-items"}}]}"""
        .replaceAll("\n\\s*", "")
    Files.createDirectories(java.nio.file.Paths.get(root2, "_delta_log"))
    Files.write(java.nio.file.Paths.get(root2, "_delta_log",
      f"${0L}%020d.json"),
      (Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"dsn-map","format":{"provider":"parquet","options":{}},"schemaString":"${nestedSchema.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"}}}""",
        """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val name2 = s"dsnm_${System.nanoTime()}"
    val q2 = readStream(root2).writeStream.format("memory")
      .queryName(name2).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table(name2)
      .selectExpr("oid", "transform(items, x -> struct(x.pid, x.qty)) AS t")
      .collect().map(r => (r.getString(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getLong(1))).toSeq)).toSet
    assert(got2 == Set(
      ("o1", Seq((101L, 2L), (102L, 1L))),
      ("o2", Seq((103L, 5L))),
      ("o3", Seq.empty)), got2.toString)

    // delta-to-delta ROUND TRIP of the nested table through the SINK
    val dst = freshDir("graft-dstream-nested-dst")
    val ckpt = Files.createTempDirectory("graft-dsn-ck").toString
    val q3 = readStream(root).writeStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", dst).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(flat(DeltaLog.read(spark, dst)) == flat(DeltaLog.read(spark, root)))
  }

  test("streaming SINK: epochs commit with txn watermarks; a replayed " +
    "epoch is a no-op; delta-to-delta pipeline round-trips") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sinkRoot = freshDir("graft-dsink")
    val ckpt = Files.createTempDirectory("graft-dsink-ck").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", sinkRoot).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      in.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      in.addData(Seq((3L, "c")))
      q.processAllAvailable()
    } finally q.stop()
    def rowsOf(root: String) = DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsOf(sinkRoot) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the commits carry WRITE provenance + txn watermarks
    val lines0 = Files.readAllLines(java.nio.file.Paths.get(sinkRoot,
      "_delta_log", f"${0L}%020d.json")).asScala.mkString
    assert(lines0.contains("\"operation\":\"WRITE\"") &&
      lines0.contains("txn"), lines0)
    // a replayed epoch (same appId+version) must be a no-op
    val appId = {
      val re = """"appId":"([^"]+)"""".r
      re.findFirstMatchIn(lines0).get.group(1)
    }
    DeltaLog.commitFlat(spark, sinkRoot, Seq((9L, "dup")).toDF("k", "v"),
      txn = Some((appId, 0L)))
    assert(rowsOf(sinkRoot) == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "replayed epoch 0 must not re-append")
    // delta-to-delta: stream the sink table into ANOTHER delta table
    val dstRoot = freshDir("graft-dsink2")
    val ckpt2 = Files.createTempDirectory("graft-dsink-ck2").toString
    val q2 = readStream(sinkRoot)
      .writeStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", dstRoot).option("checkpointLocation", ckpt2)
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(rowsOf(dstRoot) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming a COLUMN-MAPPED table: name mode resolves physical " +
    "file names, id mode resolves by parquet field ids — logical " +
    "columns stream out") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType, MetadataBuilder}
    def author(mode: String, fileCols: (String, String)): String = {
      val root = freshDir(s"graft-dstream-cm-$mode")
      val rootP = java.nio.file.Paths.get(root)
      Files.createDirectories(rootP)
      val mb1 = new MetadataBuilder().putLong("parquet.field.id", 1L).build()
      val mb2 = new MetadataBuilder().putLong("parquet.field.id", 2L).build()
      val df = spark.createDataFrame(
        Seq((1L, "a"), (2L, "b")).toDF("x", "y").rdd,
        StructType(Seq(StructField(fileCols._1, LongType, true, mb1),
          StructField(fileCols._2, StringType, true, mb2))))
      val tmp = Files.createTempDirectory("graft-cm-stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp))
        .iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, rootP.resolve("part-a.parquet"))
      val mapped =
        """{"type":"struct","fields":[
          {"name":"k","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},
          {"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}}]}"""
          .replaceAll("\n\\s*", "")
      Files.createDirectories(rootP.resolve("_delta_log"))
      Files.write(rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
        (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"ext-cm-$mode","format":{"provider":"parquet","options":{}},"schemaString":"${mapped.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"$mode"}}}""",
          """{"add":{"path":"part-a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      root
    }
    // name mode: the file stores the declared PHYSICAL names
    val nameRoot = author("name", ("col-aaa", "col-bbb"))
    // id mode: file names match NEITHER logical nor physical — only
    // the field ids can resolve
    val idRoot = author("id", ("file-k", "file-v"))
    Seq(nameRoot, idRoot).foreach { root =>
      val name = s"cmstream_${System.nanoTime()}"
      val q = readStream(root).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got == Set((1L, "a"), (2L, "b")), s"$root: $got")
        assert(spark.table(name).columns.toSeq == Seq("k", "v"))
      } finally q.stop()
    }
    // SINK into the mapped tables: written parquet stores PHYSICAL
    // names (id mode also stamps field ids); read-back logical
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Seq(nameRoot, idRoot).foreach { root =>
      val ckpt = Files.createTempDirectory("graft-cm-sink-ck").toString
      val in = MemoryStream[(Long, String)]
      val q = in.toDF().toDF("k", "v").writeStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        in.addData(Seq((3L, "c")))
        q.processAllAvailable()
      } finally q.stop()
      val got = DeltaLog.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")), s"$root: $got")
      val newest = DeltaLog.filesAt(spark, root,
        DeltaLog.currentVersion(root)).filterNot(_ == "part-a.parquet").head
      val cols = spark.read.parquet(
        java.nio.file.Paths.get(root, newest).toString).columns.toSeq
      assert(cols == Seq("col-aaa", "col-bbb"),
        s"$root sink file stores $cols — expected physical names")
      if (root == idRoot) {
        val in2 = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(
            java.nio.file.Paths.get(root, newest).toString),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in2)
        val ids = try r.getFooter.getFileMetaData.getSchema.getFields
          .asScala.map(f => Option(f.getId).map(_.intValue())).toSeq
          finally r.close()
        assert(ids == Seq(Some(1), Some(2)),
          s"id-mode sink file must stamp field ids: $ids")
      }
    }
  }

  test("NESTED sink into an ID-mapped table: staged files stamp field " +
    "ids at EVERY level; stored names are not authoritative (a junk " +
    "physicalName rename after the write still reads by id)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{array, col, struct}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("graft-dstream-nested-id")
    val rootP = java.nio.file.Paths.get(root)
    Files.createDirectories(rootP.resolve("_delta_log"))
    def schemaStr(oid: String, items: String, pid: String,
        qty: String): String =
      s"""{"type":"struct","fields":[
        {"name":"order_id","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"$oid"}},
        {"name":"items","type":{"type":"array","elementType":{"type":"struct","fields":[
          {"name":"product_id","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"$pid"}},
          {"name":"qty","type":"long","nullable":true,"metadata":{"delta.columnMapping.id":4,"delta.columnMapping.physicalName":"$qty"}}]},"containsNull":true},"nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"$items"}}]}"""
        .replaceAll("\n\\s*", "")
    def metaLine(id: String, sch: String): String =
      s"""{"metaData":{"id":"$id","format":{"provider":"parquet","options":{}},"schemaString":"${sch.replace("\"", "\\\"")}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"}}}"""
    Files.write(rootP.resolve("_delta_log").resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        metaLine("nested-id", schemaStr("col-oid", "col-items", "col-pid",
          "col-qty")))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val in = MemoryStream[(String, Long)]
    val shaped = in.toDF().toDF("order_id", "ck")
      .select(col("order_id"),
        array(struct(col("ck").as("product_id"),
          (col("ck") * 2).as("qty"))).as("items"))
    val ckpt = Files.createTempDirectory("graft-nested-id-ck").toString
    val q = shaped.writeStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      in.addData(Seq(("O-1", 10L), ("O-2", 20L)))
      q.processAllAvailable()
    } finally q.stop()
    // the staged file records ids at EVERY level: top fields 1/2, the
    // list-element struct's fields 3/4 — and stores physical names
    val staged = DeltaLog.filesAt(spark, root,
      DeltaLog.currentVersion(root)).head
    val in2 = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(root, staged).toString),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in2)
    try {
      val sch = r.getFooter.getFileMetaData.getSchema
      assert(sch.getFields.asScala.map(_.getName).toSeq ==
        Seq("col-oid", "col-items"))
      assert(sch.getFields.asScala
        .map(f => Option(f.getId).map(_.intValue())).toSeq ==
        Seq(Some(1), Some(2)))
      val element = sch.getType(1).asGroupType() // col-items LIST
        .getType(0).asGroupType()                // repeated list
        .getType(0).asGroupType()                // element struct
      assert(element.getFields.asScala.map(_.getName).toSeq ==
        Seq("col-pid", "col-qty"))
      assert(element.getFields.asScala
        .map(f => Option(f.getId).map(_.intValue())).toSeq ==
        Seq(Some(3), Some(4)),
        "inner struct fields must carry their column-mapping ids")
    } finally r.close()
    def readBack(): Set[(String, Long, Long)] =
      DeltaLog.read(spark, root)
        .select(col("order_id"),
          org.apache.spark.sql.functions.explode(col("items")).as("i"))
        .select(col("order_id"), col("i.product_id"), col("i.qty"))
        .collect().map(r2 => (r2.getString(0), r2.getLong(1),
          r2.getLong(2))).toSet
    val expected = Set(("O-1", 10L, 20L), ("O-2", 20L, 40L))
    assert(readBack() == expected)
    // junk-rename every physicalName (ids unchanged): id mode treats
    // stored names as non-authoritative, so the staged file must still
    // resolve by its field ids
    val v = DeltaLog.currentVersion(root)
    Files.write(rootP.resolve("_delta_log").resolve(f"${v + 1}%020d.json"),
      (metaLine("nested-id", schemaStr("zz-a", "zz-b", "zz-c", "zz-d")) +
        "\n").getBytes("UTF-8"))
    assert(readBack() == expected,
      "id-mode read must survive a physicalName rename over staged files")
  }

  test("streaming SINK into a PARTITIONED table: rows route to hive " +
    "partition directories executor-side, adds carry partitionValues, " +
    "partition columns never land in the data files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("graft-dsink-part")
    // the table pre-exists partitioned by pt — the sink adopts its
    // partitioning (the reference's event_date-partitioned silver)
    DeltaLog.commitPartitioned(spark, root,
      Seq((1L, "a", "p1")).toDF("k", "v", "pt"), Seq("pt"))
    val ckpt = Files.createTempDirectory("graft-dsink-part-ck").toString
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("k", "v", "pt").writeStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      in.addData(Seq((2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", null)))
      q.processAllAvailable()
      in.addData(Seq((5L, "e", "p2")))
      q.processAllAvailable()
    } finally q.stop()
    val got = DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"),
      (4L, "d", null), (5L, "e", "p2")), got.toString)
    // streamed adds live under hive partition dirs with pv-keyed adds
    val c1 = Files.readAllLines(java.nio.file.Paths.get(root,
      "_delta_log", f"${1L}%020d.json")).asScala.mkString("|")
    assert(c1.contains("pt=p1/") && c1.contains("pt=p2/") &&
      c1.contains("pt=__HIVE_DEFAULT_PARTITION__/"), c1)
    assert(c1.contains("\"pt\":\"p2\"") && c1.contains("\"pt\":null"), c1)
    // partition column excluded from the staged parquet itself
    val p2file = java.nio.file.Paths.get(root).resolve("pt=p2")
    val parts = Files.list(p2file)
    val one = try parts.iterator().asScala
      .find(_.toString.endsWith(".parquet")).get finally parts.close()
    assert(spark.read.parquet(one.toString).columns.toSeq == Seq("k", "v"),
      "partition column must not be stored in the data file")
  }

  test("streaming CHANGE FEED: cdc files stream with their own " +
    "_change_type, appends synthesize insert; stream ≡ batch feed; " +
    "CDF-less tables refuse") {
    val root = freshDir("graft-dstream-cdf")
    DeltaLog.commitFlat(spark, root,
      (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.commitFlat(spark, root, Seq((7L, "v7")).toDF("k", "v"))
    DeltaLog.deleteWhereLong(spark, root, "k", 2L, 3L)
    DeltaLog.updateWhereLong(spark, root, "k", 5L, 5L,
      Map("v" -> lit("V5")))
    val name = s"dcdf_${System.nanoTime()}"
    val q = spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val streamed =
      try {
        q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getLong(0),
          r.getString(1), r.getString(2), r.getLong(3))).toSet
      } finally q.stop()
    val batch = DeltaLog.readChangeFeed(spark, root, -1L)
      .select("k", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(streamed == batch, s"stream $streamed\nbatch  $batch")
    assert(streamed.exists(_._3 == "update_preimage") &&
      streamed.exists(_._3 == "delete") &&
      streamed.count(_._3 == "insert") == 7)
    // CDF-less table refuses the option loudly
    val plain = freshDir("graft-dstream-nocdf")
    DeltaLog.commitFlat(spark, plain, Seq((1L, "a")).toDF("k", "v"))
    val q2 = spark.readStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", plain).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName(s"x$name")
      .outputMode("append").start()
    val e = intercept[Exception](try q2.processAllAvailable()
      finally q2.stop())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("enableChangeDataFeed")),
      chain(e).mkString(" | "))
  }

  test("startingTimestamp streams from the first commit at or after " +
    "the bound (ICT-aware); a future bound streams only what arrives " +
    "next; combining with startingVersion refuses") {
    val root = freshDir("graft-dstream-sts")
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"),
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root, Seq((3L, "c")).toDF("k", "v"))
    def ict(v: Long): Long = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_delta_log", f"$v%020d.json")),
        "UTF-8")
      """"inCommitTimestamp":(\d+)""".r
        .findFirstMatchIn(txt).get.group(1).toLong
    }
    val name = s"dsts_${System.nanoTime()}"
    val q = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root)
      .option("startingTimestamp", ict(1L).toString).load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((2L, "b"), (3L, "c")))
    } finally q.stop()
    // a bound past the retained history: nothing until a new commit
    val name2 = s"dsts2_${System.nanoTime()}"
    val q2 = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root)
      .option("startingTimestamp", (ict(2L) + 1L).toString).load()
      .writeStream.format("memory").queryName(name2)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).isEmpty)
      DeltaLog.commitFlat(spark, root, Seq((4L, "d")).toDF("k", "v"))
      q2.processAllAvailable()
      assert(spark.table(name2).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        Set((4L, "d")))
    } finally q2.stop()
    // both options at once refuse loudly
    val e = intercept[Exception] {
      val qq = spark.readStream
        .format("graft.streaming.DeltaStreamProvider")
        .option("path", root)
        .option("startingVersion", "0")
        .option("startingTimestamp", "0").load()
        .writeStream.format("memory")
        .queryName(s"dsts3_${System.nanoTime()}")
        .outputMode("append").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("mutually exclusive")),
      chain(e).mkString(" | "))
  }

  test("startingVersion skips history; schema evolution null-fills " +
    "pre-evolution files in flight; DML in the tail fails the stream " +
    "loudly") {
    val root = freshDir("graft-dstream-sv")
    DeltaLog.commitFlat(spark, root, Seq((1L, "a")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root, Seq((2L, "b")).toDF("k", "v"))
    DeltaLog.commitFlat(spark, root,
      Seq((3L, "c", 0.5)).toDF("k", "v", "w"), mergeSchema = true)
    val name = s"dsv_${System.nanoTime()}"
    val q = spark.readStream
      .format("graft.streaming.DeltaStreamProvider")
      .option("path", root).option("startingVersion", "0").load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).collect().map(r => (r.getLong(0),
        r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSet
      assert(got == Set((2L, "b", None), (3L, "c", Some(0.5))))
      // DML lands in the tail: the next pull must fail, not mis-read
      DeltaLog.deleteWhereLong(spark, root, "k", 2L, 2L)
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage != null)
      // the underlying contract is named in the cause chain
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert((chain(e) ++ chain(q.exception.orNull))
        .exists(m => m.contains("append tail") || m.contains("CDC")),
        chain(e).mkString(" | "))
    } finally q.stop()
  }

  private def sinkTo(df: org.apache.spark.sql.DataFrame, root: String) =
    df.writeStream.format("graft.streaming.DeltaStreamProvider")
      .option("path", root)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsink-ck").toString)
      .outputMode("append").start()

  test("a DECIMAL(18,2) money column streams source → sink → read " +
    "unchanged") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val src = freshDir("graft-dstream-dec")
    DeltaLog.commitFlat(spark, src,
      Seq((1L, "19.99"), (2L, "0.01"), (3L, "1234567890123456.78"))
        .toDF("k", "s")
        .select(col("k"), col("s").cast("decimal(18,2)").as("amount")))
    val dst = freshDir("graft-dstream-dec-dst")
    val q = sinkTo(readStream(src), dst)
    try q.processAllAvailable() finally q.stop()
    val out = DeltaLog.read(spark, dst)
    assert(out.schema("amount").dataType == DecimalType(18, 2))
    def money(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toSet
    assert(money(out) == Set((1L, "19.99"), (2L, "0.01"),
      (3L, "1234567890123456.78")))
    assert(money(out) == money(DeltaLog.read(spark, src)))
  }

  test("the sink enforces a CHECK constraint: a violating micro-batch " +
    "fails and leaves the table at its prior version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("graft-dsink-check")
    DeltaLog.commitFlat(spark, root, Seq((1L, 5L)).toDF("k", "qty"))
    DeltaLog.addCheckConstraint(spark, root, "qty_positive", "qty > 0")
    val in = MemoryStream[(Long, Long)]
    val q = sinkTo(in.toDF().toDF("k", "qty"), root)
    val ok =
      try {
        in.addData(Seq((2L, 3L)))
        q.processAllAvailable()
        val v = DeltaLog.currentVersion(root)
        in.addData(Seq((3L, -1L)))
        intercept[Exception](q.processAllAvailable())
        v
      } finally q.stop()
    assert(DeltaLog.currentVersion(root) == ok,
      "a violating batch must not commit")
    assert(DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 5L), (2L, 3L)))
  }

  test("the sink computes a generated column the stream does not carry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshDir("graft-dsink-gen")
    DeltaLog.commitFlat(spark, root, DeltaLog.withGenerationExpression(
      Seq((1L, 10L, 20L)).toDF("k", "x", "dbl"), "dbl", "x * 2"))
    val in = MemoryStream[(Long, Long)]
    val q = sinkTo(in.toDF().toDF("k", "x"), root)
    try {
      in.addData(Seq((2L, 7L), (3L, 5L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(DeltaLog.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 10L, 20L), (2L, 7L, 14L), (3L, 5L, 10L)))
  }
}
