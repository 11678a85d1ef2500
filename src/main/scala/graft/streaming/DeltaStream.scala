package graft.streaming

import graft.lake.DeltaLog

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.PartitionReaderFromIterator
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Structured-Streaming SOURCE and SINK over the graft Delta log — the
  * `spark.readStream.format("graft.streaming.DeltaStreamProvider")
  * .option("path", root)` surface (Delta's own streaming-source shape;
  * the reference consumes its tables the same way:
  * analytics/spark/jobs/silver_orders.py reads a Delta source stream),
  * and `writeStream.format(...)` into a Delta table.
  *
  * SOURCE: DataSource V2, micro-batch only. OFFSETS ARE LOG VERSIONS: a
  * batch is the half-open commit range `(start, end]`, so offsets are
  * deterministic, replayable and exactly-once under checkpoint
  * recovery — the engine persists them in the offset log and re-plans
  * the identical file set on restart ([[DeltaLog.appendedFilesIn]],
  * the same loud append-tail contract as `readAppendsSince`:
  * OPTIMIZE's dataChange=false commits skip; DML in the tail refuses).
  *
  * Scale: one InputPartition per appended file — reading parallelizes
  * across executors up to the append width; no driver row handling.
  * Each file is read by Spark's own parquet reader over the scan schema
  * `DeltaLog.read` uses ([[DeltaLog.scanSchema]]), so the stream and
  * the batch read share one type, widening and column-mapping rule
  * (physical names under name mode, field ids under id mode, at every
  * nesting level); columns a file lacks read null (schema evolution).
  *
  * `option("startingVersion", v)` starts the FIRST run after commit v
  * (default −1 = from table creation); `option("startingTimestamp",
  * epochMillis)` instead streams from the first commit AT or AFTER
  * the bound (ICT-aware, mutually exclusive with startingVersion; a
  * bound past retained history streams only future commits);
  * `maxVersionsPerTrigger` bounds
  * each batch's commit range; `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` rate at FILE granularity via a sub-commit
  * offset, so one fat commit (compaction, backfill) drains across
  * several micro-batches (at most one of the three);
  * `readChangeFeed=true` streams the CHANGE FEED instead (cdc files
  * with their own `_change_type`, synthesized inserts,
  * `_commit_version` constants). Partition values and the change-feed
  * constants ride each file as typed per-file constants.
  *
  * SINK: a [[DeltaStreamSink]] — each micro-batch is one
  * `DeltaLog.commitFlat` / `commitPartitioned` under a txn watermark.
  */
class DeltaStreamProvider extends TableProvider with StreamSinkProvider {

  // the WRITE path hands getTable the query's schema directly (the
  // sink may CREATE the table); reads without a user schema still infer
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (schema, _) = DeltaLog.tableMeta(SparkSession.active,
      DeltaStreamProvider.rootOf(options))
    if (options.getBoolean("readChangeFeed", false))
      schema.add(DeltaStreamProvider.ChangeType, StringType)
        .add(DeltaStreamProvider.CommitVersion, LongType)
    else schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = DeltaStreamProvider.rootOf(options)
    def long(key: String): Option[Long] =
      Option(options.get(key)).map(_.toLong)
    val explicitVersion = long("startingVersion")
    val startingTs = long("startingTimestamp")
    require(explicitVersion.isEmpty || startingTs.isEmpty,
      "DeltaStreamProvider: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    val startingVersion = startingTs match {
      // Delta's startingTimestamp rule: changes stream FROM the first
      // commit at or after the bound (the offset is exclusive, hence
      // the -1); a bound past the retained history streams only what
      // arrives next
      case Some(ts) => DeltaLog.firstVersionAtOrAfter(root, ts)
        .map(_ - 1L).getOrElse(DeltaLog.currentVersion(root))
      case None => explicitVersion.getOrElse(-1L)
    }
    val admission = DeltaAdmission(long("maxVersionsPerTrigger"),
      long("maxFilesPerTrigger"), long("maxBytesPerTrigger"))
    new DeltaStreamTable(root, schema, startingVersion, admission,
      options.getBoolean("readChangeFeed", false))
  }

  // the table declares no STREAMING_WRITE capability, so
  // DataStreamWriter takes its V1 path and asks for this sink
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"DeltaStreamProvider sink: append output mode only, got $outputMode")
    new DeltaStreamSink(DeltaStreamProvider.rootOf(
      new CaseInsensitiveStringMap(parameters.asJava)))
  }
}

object DeltaStreamProvider {
  /** The change-feed columns a `readChangeFeed` stream appends. */
  private[streaming] val ChangeType = "_change_type"
  private[streaming] val CommitVersion = "_commit_version"
  private[streaming] val ChangeFeedCols = Seq(ChangeType, CommitVersion)

  private[streaming] def rootOf(options: CaseInsensitiveStringMap): String = {
    val root = options.get("path")
    require(root != null,
      "DeltaStreamProvider: option(\"path\", <table root>) is required")
    root
  }
}

private[streaming] class DeltaStreamTable(root: String, schema0: StructType,
                                          startingVersion: Long,
                                          admission: DeltaAdmission,
                                          cdf: Boolean)
  extends Table with SupportsRead {

  override def name(): String = s"graft-delta `$root`"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema0
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val spark = SparkSession.active
          val (_, pcs) = DeltaLog.tableMeta(spark, root)
          if (cdf) require(DeltaLog.changeFeedEnabled(spark, root),
            s"DeltaStreamProvider: $root does not declare " +
              "delta.enableChangeDataFeed — no change feed to stream")
          val table = StructType(schema0.filterNot(f =>
            cdf && DeltaStreamProvider.ChangeFeedCols.contains(f.name)))
          new DeltaMicroBatchStream(root, schema0,
            DeltaLog.scanSchema(spark, root, table), startingVersion,
            admission, pcs, cdf)
        }
      }
    }
}

/** A streaming offset at SUB-COMMIT granularity: commits `<= version`
  * fully consumed, plus the first `index` files of commit
  * `version + 1` (per-commit file order is deterministic — commit-JSON
  * line order — so a restart replays identical slices). `index == 0`
  * serializes as the bare version number, byte-identical to the
  * version-granular offsets older checkpoints recorded, so existing
  * streams resume unchanged; partial offsets serialize as a JSON
  * object.
  */
private[streaming] case class VersionOffset(version: Long,
                                            index: Long = 0L) extends Offset {
  override def json(): String =
    if (index == 0L) version.toString
    else s"""{"version":$version,"index":$index}"""
}

private[streaming] object VersionOffset {
  def parse(json: String): VersionOffset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      VersionOffset(n.path("version").asLong(), n.path("index").asLong())
    } else VersionOffset(t.toLong)
  }
}

/** Version-capped admission: `maxVersionsPerTrigger` bounds how many
  * commits one micro-batch may drain — the first start against a long
  * backlog proceeds in bounded batches instead of planning one giant
  * one, and every intermediate batch is a replayable (start, end]
  * range like any other.
  */
private[streaming] case class ReadMaxVersions(n: Long) extends ReadLimit

/** File/byte-capped admission (`maxFilesPerTrigger` /
  * `maxBytesPerTrigger`, Delta's own rate-limit options): a single FAT
  * commit — a compaction, a bulk backfill — splits across micro-batches
  * at file granularity via the sub-commit offset, instead of landing
  * in one giant batch no matter the limit. Sizes come from the adds'
  * recorded `size` field (zero extra IO). A batch always admits at
  * least one file, so a file larger than the byte budget still drains.
  */
private[streaming] case class ReadMaxFilesG(n: Long) extends ReadLimit
private[streaming] case class ReadMaxBytesG(n: Long) extends ReadLimit

/** The three per-trigger admission options (at most one set). */
private[streaming] case class DeltaAdmission(maxVersions: Option[Long],
                                             maxFiles: Option[Long],
                                             maxBytes: Option[Long]) {
  require(Seq(maxVersions, maxFiles, maxBytes).count(_.nonEmpty) <= 1,
    "DeltaStreamProvider: at most one of maxVersionsPerTrigger / " +
      "maxFilesPerTrigger / maxBytesPerTrigger")
  Seq("maxVersionsPerTrigger" -> maxVersions, "maxFilesPerTrigger" -> maxFiles,
    "maxBytesPerTrigger" -> maxBytes).foreach { case (name, v) =>
    v.foreach(n => require(n >= 1, s"DeltaStreamProvider: $name >= 1, got $n"))
  }
  def readLimit: ReadLimit =
    maxVersions.map(ReadMaxVersions(_): ReadLimit)
      .orElse(maxFiles.map(ReadMaxFilesG(_): ReadLimit))
      .orElse(maxBytes.map(ReadMaxBytesG(_): ReadLimit))
      .getOrElse(ReadLimit.allAvailable())
}

/** `physical` is the scan schema of the table's own columns of
  * `schema` (every column but the change-feed ones), by position.
  */
private[streaming] class DeltaMicroBatchStream(root: String,
                                               schema: StructType,
                                               physical: StructType,
                                               startingVersion: Long,
                                               admission: DeltaAdmission,
                                               partitionCols: Seq[String],
                                               cdf: Boolean)
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def getDefaultReadLimit: ReadLimit = admission.readLimit

  /** Ordered file list of ONE commit — (relative path, partition
    * values, reader extras, recorded size). Deterministic across
    * restarts (commit-JSON line order): both admission control and
    * planning paginate by position into this list. A one-entry memo
    * (draining is sequential: admission and planning revisit the SAME
    * fat commit every trigger) keeps file-granular rate limiting
    * O(commit) instead of O(commit²) in JSON re-parses.
    */
  private var commitFilesMemo: (Long, Seq[(String, Map[String, String], Map[String, String], Long)]) =
    (Long.MinValue, Seq.empty)

  private def commitFiles(v: Long): Seq[(String, Map[String, String], Map[String, String], Long)] =
    synchronized {
      if (commitFilesMemo._1 != v)
        commitFilesMemo = (v, commitFilesUncached(v))
      commitFilesMemo._2
    }

  private def commitFilesUncached(v: Long): Seq[(String, Map[String, String], Map[String, String], Long)] =
    if (cdf)
      DeltaLog.changeFilesIn(root, v - 1, v).map { case (_, rel, pv, ct, sz) =>
        (rel, pv, Map(DeltaStreamProvider.CommitVersion -> v.toString) ++
          ct.map(DeltaStreamProvider.ChangeType -> _), sz)
      }
    else
      DeltaLog.appendedFilesIn(root, v - 1, v).map { case (_, rel, pv, sz) =>
        (rel, pv, Map.empty[String, String], sz)
      }

  /** Walk commits from `so`, admitting whole commits while the
    * file/byte budget holds and stopping MID-COMMIT (a sub-commit
    * offset) when it does not. Zero-file commits (metadata-only,
    * empty appends) pass through freely; the first file of a batch is
    * always admitted so progress is guaranteed.
    */
  private def admitBounded(so: VersionOffset, cur: Long,
                           maxFiles: Long, maxBytes: Long): VersionOffset = {
    var v = so.version + 1
    var idx = so.index.toInt
    var files = 0L
    var bytes = 0L
    var out = so
    var done = false
    while (!done && v <= cur) {
      val fs = commitFiles(v)
      var i = idx
      while (!done && i < fs.size) {
        val sz = fs(i)._4
        if (files + 1 > maxFiles || (bytes + sz > maxBytes && files > 0))
          done = true
        else { files += 1; bytes += sz; i += 1 }
      }
      if (i > idx || i >= fs.size)
        out = if (i >= fs.size) VersionOffset(v, 0L)
        else VersionOffset(v - 1, i.toLong)
      if (i >= fs.size) { v += 1; idx = 0 } else done = true
    }
    out
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = DeltaLog.currentVersion(root)
    val so = start.asInstanceOf[VersionOffset]
    limit match {
      case ReadMaxVersions(n) =>
        VersionOffset(math.min(cur, so.version + n))
      case ReadMaxFilesG(n) => admitBounded(so, cur, n, Long.MaxValue)
      case ReadMaxBytesG(n) => admitBounded(so, cur, Long.MaxValue, n)
      case _ => VersionOffset(cur)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this admission-aware source")

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset]
    val e = end.asInstanceOf[VersionOffset]
    val lastV = if (e.index > 0L) e.version + 1 else e.version
    val tz = SparkSession.active.sessionState.conf.sessionLocalTimeZone
    val out = Array.newBuilder[InputPartition]
    var v = s.version + 1
    while (v <= lastV) {
      val fs = commitFiles(v)
      val from = if (v == s.version + 1) s.index.toInt else 0
      val until = if (e.index > 0L && v == e.version + 1) e.index.toInt
      else fs.size
      var i = from
      while (i < until) {
        val (rel, pv, extras, _) = fs(i)
        val consts = constantCols(extras)
        // Delta partition-value strings → typed values by the batch
        // scan's rule, keyed physical on mapped tables with the logical
        // name as a fallback
        val values = consts.map { c =>
          val raw = extras.getOrElse(c,
            pv.getOrElse(physicalName(c), pv.get(c).orNull))
          DeltaLog.typedPartitionValue(raw, schema(c).dataType, tz)
        }
        out += DeltaFilePartition(java.nio.file.Paths.get(root, rel).toString,
          consts, InternalRow.fromSeq(values))
        i += 1
      }
      v += 1
    }
    out.result()
  }

  /** The columns a file's rows take as per-file constants, in reader
    * order: the table's partition columns, then the change-feed
    * columns the file does not store (`_commit_version` always,
    * `_change_type` for a synthesized insert — a cdc file carries its
    * own).
    */
  private def constantCols(extras: Map[String, String]): Seq[String] =
    partitionCols ++
      DeltaStreamProvider.ChangeFeedCols.filter(extras.contains)

  // the table's columns lead `schema`; the change-feed columns, which
  // `physical` does not cover, come last
  private val physicalByName: Map[String, StructField] =
    physical.fields.zip(schema.fields).map { case (p, f) => f.name -> p }.toMap

  private def physicalName(c: String): String = physicalByName(c).name

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // the constant layouts [[constantCols]] yields: a cdc file stores
    // its `_change_type`, a synthesized insert takes it as a constant
    val layouts =
      if (!cdf) Seq(Nil)
      else Seq(Seq(DeltaStreamProvider.CommitVersion),
        DeltaStreamProvider.ChangeFeedCols)
    DeltaStreamReaderFactory(layouts.map(partitionCols ++ _).map { consts =>
      val fileCols = schema.fields.filterNot(f => consts.contains(f.name))
      // a cdc file's own `_change_type` is a feed artifact, never mapped
      val required = StructType(fileCols.map(f =>
        physicalByName.getOrElse(f.name, f)))
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, required, StructType(consts.map(schema(_))), required, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      // the reader yields file columns then constants; put them back
      // in declared order
      val produced = fileCols.map(_.name) ++ consts
      consts -> (read, schema.fields.map(f =>
        BoundReference(produced.indexOf(f.name), f.dataType,
          nullable = true)).toSeq)
    }.toMap)
  }
}

/** One appended (or cdc) file and its per-file constants (partition
  * values, change-feed columns), typed, in [[constantCols]] order.
  */
private[streaming] case class DeltaFilePartition(
    path: String, constantCols: Seq[String], constants: InternalRow)
  extends InputPartition

/** Spark's parquet reader per constant layout, built on the driver,
  * each with the projection back to the declared column order.
  */
private[streaming] case class DeltaStreamReaderFactory(
    readers: Map[Seq[String],
      (PartitionedFile => Iterator[InternalRow], Seq[BoundReference])])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DeltaFilePartition]
    val (read, declaredOrder) = readers(p.constantCols)
    val project = UnsafeProjection.create(declaredOrder)
    // the whole file is one split, whatever size its add records
    // (external logs may record none): row groups are selected by the
    // midpoint rule over [start, start + length)
    val file = PartitionedFile(p.constants, SparkPath.fromPathString(p.path),
      0L, Long.MaxValue)
    new PartitionReaderFromIterator(read(file).map(project))
  }
}

/** Exactly-once streaming SINK into the Delta log: each micro-batch is
  * converted to a batch Dataset by Spark's own `ForeachBatchSink` and
  * committed as ONE append — `commitPartitioned` when the table already
  * has partition columns (rows route to hive partition directories),
  * `commitFlat` otherwise (creating the table on the first batch) —
  * under the txn watermark `("graft-stream-sink-" + queryId, batchId)`.
  * A replayed batch after recovery is a no-op (the Delta
  * idempotent-writer pattern, checked before any validation), and the
  * batch passes every writer rule `commitFlat` enforces: NOT NULL and
  * CHECK constraints, generated and identity columns, column mapping.
  */
private[streaming] class DeltaStreamSink(root: String) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    new ForeachBatchSink[Row](commit, ExpressionEncoder(data.schema))
      .addBatch(batchId, data)

  private def commit(batch: Dataset[Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the query's persistent id (stable across restarts), which
    // StreamExecution publishes as a local property
    val txn = Some(("graft-stream-sink-" +
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"), batchId))
    val pcs =
      if (DeltaLog.currentVersion(root) < 0L) Nil
      else DeltaLog.tableMeta(spark, root)._2
    if (pcs.isEmpty) DeltaLog.commitFlat(spark, root, batch, txn = txn)
    // a partitioned write of no rows yields no files to commit
    else if (!batch.isEmpty)
      DeltaLog.commitPartitioned(spark, root, batch, pcs, txn = txn)
  }
}
