package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, EqualTo, EvalMode, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, Or, Predicate}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{assert_true, col, count, expr, hash,
  lit, max, pmod, sum, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** graft's versioned-table format: the Delta Lake transaction log
  * (delta.io PROTOCOL.md), the storage layer of the reference (its
  * tables are Delta: analytics/spark/jobs/silver_orders.py:72-84,
  * analytics/spark/conf/spark-defaults.conf:5-10). Every versioned
  * table graft writes is a `_delta_log` of 0-based JSON commits beside
  * its parquet files, so an EXTERNAL Delta reader (Spark+delta, duckdb
  * delta_scan, delta-rs) opens it directly and graft opens theirs.
  *
  *  - '''Writers''' commit `protocol`/`metaData` at version 0 and then
  *    one JSON commit per operation: appends and rewrites
  *    ([[commitFlat]], [[commitPartitioned]], the one-scan
  *    [[commitFlatSlices]]/[[commitPartitionedSlices]] backfills), DML
  *    ([[deleteWhereLong]], [[updateWhereLong]], [[mergeKey]], deletion
  *    vectors), maintenance ([[optimizeZOrder]], [[compactPartitioned]],
  *    [[vacuum]]) and [[restore]]. A rewrite emits `remove` for every
  *    file it retires; `metaData` is re-emitted only when the schema or
  *    table configuration changes. The commit point is a put-if-absent
  *    rename of the commit file, so a writer racing another for the
  *    same version fails loudly (blind appends reconcile and retry). A
  *    declared `delta.checkpointInterval` writes classic parquet
  *    CHECKPOINTS (`%020d.checkpoint.parquet` plus `_last_checkpoint`)
  *    as the log grows, so readers of a long log replay one parquet
  *    file and a JSON tail instead of every commit.
  *
  *  - '''Reader''' ([[read]]/[[readAt]]): replays the log. Version
  *    resolution starts from the NEWEST complete checkpoint at or below
  *    the requested version (single-part `%020d.checkpoint.parquet` or
  *    multi-part `%020d.checkpoint.%010d.%010d.parquet`; discovery is
  *    by listing, so a stale or missing `_last_checkpoint` hint never
  *    breaks reads), then applies the JSON commits after it — one
  *    fold over both, every action decoded by one decoder: `add`
  *    activating a file, `remove` retiring it (last action per path
  *    wins), `metaData` carrying the schema, `txn` a watermark,
  *    `commitInfo` and unknown actions skipped. The file
  *    list resolves eagerly and IS the scan's file listing (no
  *    directory discovery), so a returned frame is a pinned snapshot:
  *    later commits never change what it reads, and every version stays
  *    time-travelable until [[vacuum]] reclaims its files. PARTITIONED
  *    tables are honored: `metaData.partitionColumns` names columns
  *    whose values live in each add's `partitionValues` (not in the
  *    data files); the scan's file index carries them typed per file,
  *    so a filter on a partition column PRUNES whole files at plan
  *    time, as a filter on a data column does through the adds' stats
  *    and footer blooms ([[mightSatisfy]]).
  *    Scope: parquet format, relative paths, reader protocol 1;
  *    protocol 2 with column-mapping mode none or name (physical
  *    parquet names resolved from schema metadata); protocol 3 when
  *    every named readerFeature is supported (deletionVectors,
  *    timestampNtz, vacuumProtocolCheck, v2Checkpoint, columnMapping in
  *    modes none/name). Anything else fails loudly NAMING the missing
  *    feature rather than returning wrong rows.
  *
  * Scale posture: everything here is file-granularity metadata — one
  * JSON line (or checkpoint row) per file per commit, schema reads
  * touch parquet FOOTERS only — bounded by layout, never data size.
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  /** Executor for overlapping INDEPENDENT Spark jobs inside one DML
    * commit (change-capture writes vs the data rewrite): Spark's
    * scheduler runs concurrent jobs FIFO, so the side job back-fills
    * executor slots freed by the main job's tail instead of paying its
    * whole fixed cost sequentially. Daemon threads; unbounded pool is
    * safe — at most one side job per in-flight DML call.
    */
  private[graft] lazy val sideJobEc: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-delta-sidejob")
        t.setDaemon(true)
        t
      }))

  private def logDir(root: String): Path = Paths.get(root, "_delta_log")
  private def commitName(v: Long): String = f"$v%020d.json"
  private def checkpointName(v: Long): String = f"$v%020d.checkpoint.parquet"
  private def versionOf(name: String): Long =
    name.stripSuffix(".json").toLong

  private def listLog(root: String): Seq[String] = {
    val log = logDir(root)
    if (!Files.isDirectory(log)) Seq.empty
    else {
      val s = Files.list(log)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  }

  /** Delta commit versions present in `_delta_log`, ascending. */
  def versions(root: String): Seq[Long] =
    listLog(root)
      .filter(n => n.length == 25 && n.endsWith(".json")
        && n.dropRight(5).forall(_.isDigit))
      .map(versionOf).sorted

  /** Versions with a COMPLETE checkpoint present (single-part, or every
    * part of a multi-part set), ascending, with their parquet files.
    */
  def checkpointVersions(root: String): Seq[(Long, Seq[Path])] = {
    val names = listLog(root)
    val SingleRe = """(\d{20})\.checkpoint\.parquet""".r
    val single = names.collect { case n @ SingleRe(v) =>
      v.toLong -> Seq(logDir(root).resolve(n))
    }
    // multi-part: <v:20>.checkpoint.<k:10>.<n:10>.parquet
    val MultiRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    val multi = names.collect { case n @ MultiRe(v, k, t) =>
      (v.toLong, k.toInt, t.toInt, logDir(root).resolve(n))
    }.groupBy(_._1).collect {
      case (v, parts) if {
        val total = parts.head._3
        parts.map(_._2).toSet == (1 to total).toSet &&
          parts.forall(_._3 == total)
      } => v -> parts.sortBy(_._2).map(_._4)
    }
    (single ++ multi).sortBy(_._1)
  }

  /** One discovered checkpoint: classic parquet parts, or a V2 top file
    * (`<v>.checkpoint.<uuid>.{json|parquet}`, PROTOCOL.md "V2
    * Checkpoints") whose `sidecar` actions reference add/remove files
    * under `_delta_log/_sidecars/`.
    */
  private sealed trait CpRef { def version: Long }
  private case class ClassicCp(version: Long, parts: Seq[Path]) extends CpRef
  private case class V2Cp(version: Long, top: Path) extends CpRef

  private def checkpointRefs(root: String): Seq[CpRef] = {
    val classic = checkpointVersions(root)
      .map { case (v, ps) => ClassicCp(v, ps) }
    val V2Re = """(\d{20})\.checkpoint\.([0-9a-zA-Z-]{36})\.(json|parquet)""".r
    val v2 = listLog(root).collect { case n @ V2Re(v, _, _) =>
      V2Cp(v.toLong, logDir(root).resolve(n))
    }
    // same-version tie: classic sorts LAST (preferred — fewer moving
    // parts); both reconstruct the same state
    (classic ++ v2).sortBy(r =>
      (r.version, r match { case _: V2Cp => 0; case _ => 1 }))
  }

  /** Highest Delta version present — JSON commits OR complete
    * checkpoints (a fully compacted log whose retention cleanup deleted
    * every JSON commit is still readable from its newest checkpoint);
    * −1 if no log exists.
    */
  def currentVersion(root: String): Long =
    (versions(root) ++ checkpointRefs(root).map(_.version))
      .maxOption.getOrElse(-1L)

  /** [[writeCommitFileOnce]] plus bounded optimistic-concurrency
    * reconciliation (`retryDataConflicts = true`): when the version is
    * taken by a concurrent writer, a commit that is a BLIND APPEND
    * (only `add` / `txn` actions — no removes, no metaData/protocol,
    * no cdc) re-attempts at the next version after checking the
    * winner's commit is logically disjoint — no metaData/protocol
    * change (our data was validated against the old schema) and no
    * txn watermark for any of our appIds (a later lower watermark
    * would re-open replayed batches). Anything else refuses loudly
    * with nothing committed, exactly as before: a losing DELETE/MERGE
    * computed its rewrite from a state the winner may have changed,
    * and replaying it blindly could resurrect or drop rows. Returns
    * the version actually committed.
    */
  private[lake] def writeCommitFile(root: String, dv: Long,
                                    actions: Seq[Action],
                                    operation: String = null,
                                    ictStart: Boolean = false,
                                    retryDataConflicts: Boolean = false,
                                    maxAttempts: Int = 5): Long = {
    var v = dv
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        writeCommitFileOnce(root, v, actions, operation, ictStart)
        return v
      } catch {
        case e: IllegalStateException
          if retryDataConflicts && attempt < maxAttempts &&
            e.getCause.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
          val blind = actions.forall {
            case _: AddFile | _: Txn => true
            case _ => false
          }
          if (!blind) throw new IllegalStateException(
            s"DeltaLog: commit version $v of $root was taken by a " +
              "concurrent writer and this commit is not a blind " +
              "append (it removes files or changes metadata) — its " +
              "state basis may be stale; re-run against the current " +
              "version. Nothing was committed.", e)
          val winner = commitActions(root, v)
          val winnerMeta = winner.exists {
            case _: MetaData | _: Protocol => true
            case _ => false
          }
          val ourApps = actions.collect { case t: Txn => t.appId }.toSet
          val winnerTxnClash = winner.exists {
            case t: Txn => ourApps(t.appId)
            case _ => false
          }
          if (winnerMeta || winnerTxnClash) throw new IllegalStateException(
            s"DeltaLog: commit version $v of $root was taken by a " +
              "concurrent writer whose commit " +
              (if (winnerMeta) "changes metadata/protocol"
               else "advances a txn watermark this commit also carries") +
              " — not logically disjoint; re-run against the current " +
              "version. Nothing was committed.", e)
          v += 1
      }
    }
    v // unreachable
  }

  /** Commit-file write with put-if-absent semantics: the fully-written
    * temp file is hard-linked into place (renamed WITHOUT
    * `REPLACE_EXISTING`/`ATOMIC_MOVE` where links are unsupported), so a
    * concurrent or stale writer racing for the same version fails with
    * `FileAlreadyExistsException` instead of silently clobbering
    * committed history (the Delta commit protocol's requirement).
    */
  private def writeCommitFileOnce(root: String, dv: Long,
                                  actions: Seq[Action],
                                  operation: String = null,
                                  ictStart: Boolean = false): Unit = {
    // In-commit timestamps (the `inCommitTimestamp` writer feature):
    // once a table carries one, every successor commit continues the
    // MONOTONIC chain — max(wall clock, predecessor + 1) — so
    // timestamp time travel survives file-mtime churn (copies and
    // retention rewrites). The chain is self-perpetuating: presence on
    // the predecessor commit is the signal, so no caller but the
    // creating one (`ictStart`) needs to know. If the predecessor JSON
    // was compacted away the chain restarts from wall clock —
    // monotonic unless the clock itself regressed.
    val prevIct: Option[Long] =
      if (dv <= 0L || !Files.exists(logDir(root).resolve(commitName(dv - 1))))
        None
      else commitInfoOf(root, dv - 1).flatMap(_.inCommitTimestamp)
    val ict: Option[Long] = prevIct
      .map(p => math.max(System.currentTimeMillis(), p + 1))
      .orElse(if (ictStart) Some(System.currentTimeMillis()) else None)
    // commitInfo FIRST, the way Delta's writer lays commits out — pure
    // provenance (operation name + wall-clock), never state: replay
    // ignores it, DESCRIBE-HISTORY-style surfaces read it
    val all =
      if (operation == null && ict.isEmpty) actions
      else CommitInfo(Option(operation), Some(System.currentTimeMillis()),
        ict) +: actions
    val body = all.map(encodeAction).mkString("", "\n", "\n")
    val tmp = logDir(root).resolve(commitName(dv) + ".__tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    val target = logDir(root).resolve(commitName(dv))
    // ATOMIC put-if-absent: link(2) fails EEXIST atomically in the
    // kernel, closing the stat-then-rename window Files.move leaves
    // (rename(2) silently replaces a target created between NIO's
    // existence check and the rename — under the concurrent writers
    // [[writeCommitFile]] now supports, that was a lost-commit race).
    // Filesystems without hard links fall back to the rename form,
    // which remains safe for the documented single-writer deployment.
    try {
      try Files.createLink(target, tmp)
      catch {
        case _: UnsupportedOperationException |
             _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, target)
      }
      Files.deleteIfExists(tmp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"DeltaLog: commit version $dv of $root already exists — " +
            "concurrent writer conflict; the committed file was NOT " +
            "overwritten", e)
    }
  }

  // ------------------------------------------------------------------
  // Checkpoints
  // ------------------------------------------------------------------

  /** Classic single-file checkpoint parquet columns (PROTOCOL.md:
    * Checkpoints) — one row per action, the action in its column, nulls
    * elsewhere. `remove` and `txn` are emitted as all-null columns so
    * the file carries the canonical five-column shape external readers
    * expect; state reconstruction needs no tombstones.
    */
  private val checkpointSchema = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType, true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType, true)),
      // appended LAST so existing ordinal reads stay valid
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", LongType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType, true))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType, true)),
      StructField("createdTime", LongType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType)))))))

  /** [[checkpointSchema]] plus the V2-checkpoint actions (appended LAST
    * so classic ordinal reads stay valid): `checkpointMetadata` and
    * `sidecar` (PROTOCOL.md "V2 Checkpoints"). Classic files read with
    * this schema simply carry the two as null columns.
    */
  private val checkpointSchemaV2 = StructType(checkpointSchema.fields ++ Seq(
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType)))),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType))))))

  // ------------------------------------------------------------------
  // Log actions: one codec for every reader and writer
  // ------------------------------------------------------------------

  /** One `_delta_log` action (PROTOCOL.md "Actions"), the shape every
    * log reader pattern-matches whether the action came from a commit
    * file, a checkpoint row or a V2 checkpoint top, and the shape every
    * writer builds ([[encodeAction]]). Paths are DECODED
    * ([[decodePath]]); partition values keep their nulls.
    */
  private[lake] sealed trait Action
  private[lake] case class Protocol(minReaderVersion: Int,
      minWriterVersion: Int, readerFeatures: Seq[String],
      writerFeatures: Seq[String]) extends Action
  private[lake] case class MetaData(id: String, schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String]) extends Action
  private[lake] case class AddFile(path: String,
      partitionValues: Map[String, String], size: Option[Long],
      modificationTime: Option[Long], dataChange: Boolean,
      stats: Option[String], deletionVector: Option[DvDescriptor])
    extends Action
  private[lake] case class RemoveFile(path: String,
      deletionTimestamp: Option[Long], dataChange: Boolean) extends Action
  private[lake] case class AddCdc(path: String,
      partitionValues: Map[String, String], size: Long) extends Action
  private[lake] case class Txn(appId: String, version: Long) extends Action
  private[lake] case class CommitInfo(operation: Option[String],
      timestamp: Option[Long], inCommitTimestamp: Option[Long])
    extends Action
  private[lake] case class Sidecar(path: String, sizeInBytes: Long,
      modificationTime: Long) extends Action
  private[lake] case class CheckpointMetadata(version: Long) extends Action

  /** Decode one action line: a commit-file line, a V2 JSON top line, or
    * a checkpoint row serialized by `toJSON` (a checkpoint row IS a
    * commit line once its null columns are dropped). The action is the
    * line's object-valued field; `domainMetadata` and unknown actions
    * decode to None. The protocol's defaults live here: `dataChange`
    * true, reader/writer floors 1/2, absent features empty, provider
    * parquet (any other provider refuses).
    */
  private[lake] def decodeAction(line: String): Option[Action] = {
    def long(n: JsonNode): Option[Long] =
      if (n.isNumber) Some(n.asLong()) else None
    def text(n: JsonNode): Option[String] =
      if (n.isTextual) Some(n.asText()) else None
    def strings(n: JsonNode): Seq[String] =
      if (n.isArray) n.elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    def pairs(n: JsonNode): Map[String, String] =
      if (!n.isObject) Map.empty
      else n.properties().asScala.map(e => e.getKey ->
        (if (e.getValue.isNull) null else e.getValue.asText())).toMap
    mapper.readTree(line).properties().asScala
      .find(_.getValue.isObject).flatMap { e =>
        val a = e.getValue
        def path = decodePath(a.path("path").asText())
        e.getKey match {
          case "add" => Some(AddFile(path, pairs(a.path("partitionValues")),
            long(a.path("size")), long(a.path("modificationTime")),
            a.path("dataChange").asBoolean(true), text(a.path("stats")),
            dvFromNode(a.path("deletionVector"))))
          case "remove" => Some(RemoveFile(path,
            long(a.path("deletionTimestamp")),
            a.path("dataChange").asBoolean(true)))
          case "cdc" => Some(AddCdc(path, pairs(a.path("partitionValues")),
            a.path("size").asLong(0L)))
          case "metaData" =>
            val provider = a.path("format").path("provider").asText("parquet")
            require(provider == "parquet",
              s"DeltaLog: format provider '$provider' unsupported")
            Some(MetaData(a.path("id").asText(null),
              a.path("schemaString").asText(null),
              strings(a.path("partitionColumns")),
              pairs(a.path("configuration"))))
          case "protocol" => Some(Protocol(
            a.path("minReaderVersion").asInt(1),
            a.path("minWriterVersion").asInt(2),
            strings(a.path("readerFeatures")),
            strings(a.path("writerFeatures"))))
          case "txn" =>
            for (app <- text(a.path("appId")); ver <- long(a.path("version")))
              yield Txn(app, ver)
          case "commitInfo" => Some(CommitInfo(text(a.path("operation")),
            long(a.path("timestamp")), long(a.path("inCommitTimestamp"))))
          case "sidecar" => Some(Sidecar(a.path("path").asText(),
            a.path("sizeInBytes").asLong(0L),
            a.path("modificationTime").asLong(0L)))
          case "checkpointMetadata" =>
            long(a.path("version")).map(CheckpointMetadata)
          case _ => None
        }
      }
  }

  /** The inverse of [[decodeAction]]: one action as its log line, the
    * fields in the order graft writes them — `commitInfo` with a
    * constant `engineInfo`, `cdc` with a constant `dataChange:false`,
    * absent options and empty protocol feature lists omitted. Commit
    * files and checkpoints both encode through here.
    */
  private[lake] def encodeAction(a: Action): String = {
    val out = new java.io.StringWriter
    val g = mapper.getFactory.createGenerator(out)
    def obj(name: String)(body: => Unit): Unit = {
      g.writeObjectFieldStart(name); body; g.writeEndObject()
    }
    def strings(name: String, xs: Seq[String]): Unit = {
      g.writeArrayFieldStart(name); xs.foreach(g.writeString); g.writeEndArray()
    }
    def pairs(name: String, m: Map[String, String]): Unit =
      obj(name)(m.foreach { case (k, v) => g.writeStringField(k, v) })
    def long(name: String, v: Option[Long]): Unit =
      v.foreach(g.writeNumberField(name, _))
    g.writeStartObject()
    a match {
      case CommitInfo(operation, timestamp, ict) => obj("commitInfo") {
        long("timestamp", timestamp)
        operation.foreach(g.writeStringField("operation", _))
        long("inCommitTimestamp", ict)
        g.writeStringField("engineInfo", "graft-deltalog")
      }
      case Protocol(reader, writer, readerFeatures, writerFeatures) =>
        obj("protocol") {
          g.writeNumberField("minReaderVersion", reader)
          g.writeNumberField("minWriterVersion", writer)
          if (readerFeatures.nonEmpty) strings("readerFeatures", readerFeatures)
          if (writerFeatures.nonEmpty) strings("writerFeatures", writerFeatures)
        }
      case MetaData(id, schemaString, partitionColumns, configuration) =>
        obj("metaData") {
          g.writeStringField("id", id)
          obj("format") {
            g.writeStringField("provider", "parquet")
            obj("options")(())
          }
          g.writeStringField("schemaString", schemaString)
          strings("partitionColumns", partitionColumns)
          pairs("configuration", configuration)
        }
      case f: AddFile => obj("add") {
        g.writeStringField("path", encodePath(f.path))
        pairs("partitionValues", f.partitionValues)
        long("size", f.size)
        long("modificationTime", f.modificationTime)
        g.writeBooleanField("dataChange", f.dataChange)
        f.stats.foreach(g.writeStringField("stats", _))
        f.deletionVector.foreach(d => obj("deletionVector") {
          g.writeStringField("storageType", d.storageType)
          g.writeStringField("pathOrInlineDv", d.pathOrInlineDv)
          long("offset", d.offset)
          g.writeNumberField("sizeInBytes", d.sizeInBytes)
          g.writeNumberField("cardinality", d.cardinality)
        })
      }
      case RemoveFile(path, deletionTimestamp, dataChange) => obj("remove") {
        g.writeStringField("path", encodePath(path))
        long("deletionTimestamp", deletionTimestamp)
        g.writeBooleanField("dataChange", dataChange)
      }
      case AddCdc(path, partitionValues, size) => obj("cdc") {
        g.writeStringField("path", encodePath(path))
        pairs("partitionValues", partitionValues)
        g.writeNumberField("size", size)
        g.writeBooleanField("dataChange", false)
      }
      case Txn(appId, version) => obj("txn") {
        g.writeStringField("appId", appId)
        g.writeNumberField("version", version)
      }
      case Sidecar(path, sizeInBytes, modificationTime) => obj("sidecar") {
        g.writeStringField("path", path)
        g.writeNumberField("sizeInBytes", sizeInBytes)
        g.writeNumberField("modificationTime", modificationTime)
      }
      case CheckpointMetadata(version) => obj("checkpointMetadata") {
        g.writeNumberField("version", version)
      }
    }
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** The one reader of `_delta_log` JSON lines (commit files and V2
    * JSON checkpoint tops): `f` gets the file's actions decoded lazily,
    * so a lookup that stops at its first match reads no further.
    */
  private def jsonActions[T](file: Path)(f: Iterator[Action] => T): T = {
    val br = Files.newBufferedReader(file)
    try f(Iterator.continually(br.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty).flatMap(decodeAction))
    finally br.close()
  }

  /** The actions of commit `v`, in file order. */
  private def commitActions(root: String, v: Long): Seq[Action] =
    jsonActions(logDir(root).resolve(commitName(v)))(_.toVector)

  /** The commits `from..to` with their actions, each read as the caller
    * reaches it. Every commit of the range must be present: a gap
    * refuses up front, `why` saying what needs the commits.
    */
  private def commitActions(root: String, from: Long, to: Long, op: String,
                            why: String): Iterator[(Long, Seq[Action])] = {
    val present = versions(root).toSet
    (from to to).foreach(v => require(present.contains(v),
      s"DeltaLog.$op: commit $v missing from $root — $why"))
    (from to to).iterator.map(v => v -> commitActions(root, v))
  }

  /** Every action of a checkpoint, in file order. A V2 top's `sidecar`
    * actions pull in the file actions of each sidecar under
    * `_delta_log/_sidecars/`.
    */
  private def checkpointActions(spark: SparkSession, root: String,
                                ref: CpRef): Seq[Action] = ref match {
    case ClassicCp(_, parts) => parquetActions(spark, parts)
    case V2Cp(_, top) =>
      val own = v2TopActions(spark, top)
      val sidecars = own.collect { case Sidecar(p, _, _) =>
        logDir(root).resolve("_sidecars").resolve(p)
      }
      if (sidecars.isEmpty) own else own ++ parquetActions(spark, sidecars)
  }

  /** A V2 top's own actions: a JSON top is read line by line with no
    * Spark job, a parquet top like any checkpoint parquet.
    */
  private def v2TopActions(spark: SparkSession, top: Path): Seq[Action] =
    if (top.toString.endsWith(".json")) jsonActions(top)(_.toVector)
    else parquetActions(spark, Seq(top))

  /** The actions of checkpoint parquet files, in the order given: their
    * [[checkpointSchemaV2]] rows serialized to action lines in one Spark
    * job. One scan per file, unioned — a multi-path scan would order
    * its rows by file size.
    */
  private def parquetActions(spark: SparkSession,
                             files: Seq[Path]): Seq[Action] =
    files.map(f => spark.read.schema(checkpointSchemaV2).parquet(f.toString))
      .reduce(_ union _).toJSON.collect().toSeq.flatMap(decodeAction)

  /** The snapshot `st` as checkpoint actions: its protocol and
    * metaData, its txn watermarks (Delta checkpoints carry them, so
    * exactly-once sinks survive compaction) and, apart, its active adds
    * with `dataChange=false` (the checkpoint convention). The
    * configuration MUST ride the metaData: replay takes it from here
    * once the JSON prefix is trimmed — dropping it silently un-declares
    * CDF/appendOnly/constraints/mapping mode/ICT.
    */
  private def snapshotActions(st: LogState, op: String, root: String,
      version: Long): (Seq[Action], Seq[Action], Seq[AddFile]) = {
    val schemaJson = st.schema.map(_.json).getOrElse(
      throw new IllegalStateException(
        s"DeltaLog.$op: no metaData in $root log at $version"))
    (Seq(Protocol(st.minReaderVersion, st.minWriterVersion,
        st.readerFeatures, st.writerFeatures),
      MetaData(st.tableId, schemaJson, st.partitionColumns, st.configuration)),
      st.txnVersions.toSeq.sortBy(_._1).map { case (app, v) => Txn(app, v) },
      st.files.map(_.copy(dataChange = false)))
  }

  /** Write `actions` as ONE parquet file of `schema` rows — one row per
    * action, the action in its column, nulls elsewhere — staged like
    * [[writeSingleParquet]]. The rows are the encoded lines read back
    * by Spark's JSON reader: the inverse of [[parquetActions]].
    */
  private def writeActionsParquet(spark: SparkSession, root: String,
      actions: Seq[Action], schema: StructType, prefix: String): Path = {
    import spark.implicits._
    writeSingleParquet(spark.read.schema(schema)
      .json(spark.createDataset(actions.map(encodeAction))), root, prefix)
  }

  /** Write the parquet checkpoint for `version` ([[snapshotActions]]:
    * protocol, metaData, txn watermarks, one add per active file) plus
    * the `_last_checkpoint` pointer `{"version":v,"size":n}`.
    * Idempotent: an existing checkpoint for `version` is left untouched
    * (the pointer still refreshes to the newest checkpoint present).
    */
  def checkpoint(spark: SparkSession, root: String, version: Long): Unit = {
    val target = logDir(root).resolve(checkpointName(version))
    var writtenRows = -1L
    if (!Files.exists(target)) {
      val (meta, txns, adds) = snapshotActions(replay(spark, root, version),
        "checkpoint", root, version)
      val actions = meta ++ txns ++ adds
      val part = writeActionsParquet(spark, root, actions, checkpointSchema,
        "graft-delta-ckpt")
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      writtenRows = actions.size.toLong
    }
    // _last_checkpoint is a HINT (readers discover by listing); keep it
    // pointing at the newest checkpoint present. The row count is known
    // when this call wrote the newest checkpoint; otherwise one parquet
    // read (footer-sized file) recovers it
    val newest = checkpointVersions(root).map(_._1).max
    writeLastCheckpoint(root, newest,
      if (newest == version && writtenRows >= 0L) writtenRows
      else countCheckpointRows(spark, root, newest))
  }

  /** Point the `_last_checkpoint` hint at `version` (`size` actions). */
  private def writeLastCheckpoint(root: String, version: Long,
                                  size: Long): Unit = {
    val n = mapper.createObjectNode()
    n.put("version", version)
    n.put("size", size)
    val tmp = logDir(root).resolve("_last_checkpoint.__tmp")
    Files.write(tmp, mapper.writeValueAsString(n).getBytes("UTF-8"))
    Files.move(tmp, logDir(root).resolve("_last_checkpoint"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def countCheckpointRows(spark: SparkSession, root: String,
                                  v: Long): Long = {
    val files = checkpointVersions(root).find(_._1 == v).get._2
    spark.read.parquet(files.map(_.toString): _*).count()
  }

  /** Declare the `v2Checkpoint` table feature (one protocol-upgrade
    * commit, Delta's own shape: version floors 3/7 with every
    * legacy-implied feature enumerated so external feature-gated
    * writers keep honoring them). No-op when already declared.
    * [[checkpointV2]] requires it — writing a V2 checkpoint on a table
    * whose protocol does not announce the feature would strand readers
    * that list the log expecting classic checkpoints only.
    */
  def enableV2Checkpoints(spark: SparkSession, root: String): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "enableV2Checkpoints")
    if (st.minReaderVersion >= 3 && st.readerFeatures.contains("v2Checkpoint")
        && st.writerFeatures.contains("v2Checkpoint")) return v
    // legacy minReaderVersion 2 implies columnMapping — enumerate it
    writeCommitFile(root, v + 1, Seq(Protocol(3, 7,
      ((if (st.minReaderVersion == 2) Seq("columnMapping") else Seq.empty) ++
        st.readerFeatures :+ "v2Checkpoint").distinct,
      (legacyWriterFeatures(st.minWriterVersion) ++ st.writerFeatures :+
        "v2Checkpoint").distinct)), operation = "UPGRADE PROTOCOL")
    v + 1
  }

  /** Write a V2 CHECKPOINT for `version` (PROTOCOL.md "V2
    * Checkpoints") — the form whose FILE ACTIONS live in sidecar
    * parquet files under `_delta_log/_sidecars/`, split at
    * `maxAddsPerSidecar` rows: a 100 TB table's hundred-million-action
    * state neither serializes through one file nor re-writes whole on
    * every checkpoint cadence. The top
    * `<v>.checkpoint.<uuid>.parquet` carries the non-file actions —
    * protocol, metaData, txn watermarks (the r15 lesson: losing them
    * breaks exactly-once sinks after compaction), `checkpointMetadata`
    * — plus one `sidecar` action per sidecar file. The reader side
    * ([[checkpointActions]]) already consumes this shape (q262);
    * this is its writer. Refreshes `_last_checkpoint`. Idempotent per
    * version: an existing V2 top for `version` is left untouched.
    */
  def checkpointV2(spark: SparkSession, root: String, version: Long,
                   maxAddsPerSidecar: Long = 1000000L): Unit = {
    require(maxAddsPerSidecar >= 1L,
      s"DeltaLog.checkpointV2: maxAddsPerSidecar >= 1")
    if (checkpointRefs(root).exists {
      case V2Cp(v, _) => v == version
      case _ => false
    }) return
    val st = replay(spark, root, version)
    require(st.minReaderVersion >= 3 &&
      st.readerFeatures.contains("v2Checkpoint"),
      s"DeltaLog.checkpointV2: $root does not declare the v2Checkpoint " +
        "reader feature — run enableV2Checkpoints first")
    val (meta, txns, adds) = snapshotActions(st, "checkpointV2", root,
      version)
    val sidecarDir = logDir(root).resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    val sidecars = adds.grouped(
      math.min(maxAddsPerSidecar, Int.MaxValue.toLong).toInt)
      .map { batch =>
        val part = writeActionsParquet(spark, root, batch,
          checkpointSchemaV2, "graft-delta-ckpt-sc")
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val target = sidecarDir.resolve(name)
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
        Sidecar(name, Files.size(target),
          Files.getLastModifiedTime(target).toMillis)
      }.toSeq
    val top = meta ++ (CheckpointMetadata(version) +: txns) ++ sidecars
    val topPart = writeActionsParquet(spark, root, top, checkpointSchemaV2,
      "graft-delta-ckpt-v2")
    val topName =
      f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"
    Files.move(topPart, logDir(root).resolve(topName),
      StandardCopyOption.ATOMIC_MOVE)
    writeLastCheckpoint(root, version, (top.size + adds.size).toLong)
  }

  /** Post-commit auto-checkpoint (`delta.checkpointInterval`): once a
    * table declares the property, every data commit measures how far
    * the JSON tail has grown past the newest checkpoint and compacts
    * when the lag reaches the interval. The LAG rule — not Delta's
    * `version % N` — survives metadata-only commits, external writers
    * and reclaimed prefixes without ever leaving a long uncompacted
    * tail. Opt-in by design: a checkpoint costs a replay + a parquet
    * write, which tables a few commits long never amortize, so
    * undeclared tables keep the explicit [[checkpoint]] workflow.
    * Decisions read the PRE-commit state the caller already replayed
    * (zero added IO); a commit that itself declares the property or
    * the `v2Checkpoint` feature (which selects the sidecar form here)
    * takes effect from its successor.
    */
  /** Post-commit maintenance seam, called by every data-mutating entry
    * point with the PRE-commit state the caller already replayed:
    * auto-checkpoint ([[maybeAutoCheckpoint]]) and — when the table
    * declares `delta.symlinkFormatManifest.enabled` (Delta's own
    * auto-manifest property) — regeneration of the symlink manifests
    * so external whole-file readers always see the just-committed
    * snapshot. DV-writing DML refuses UPFRONT on manifest-enabled
    * tables ([[deleteWhereLongDV]]), the property cannot be enabled
    * over live DVs or absolute-path adds ([[setTableProperties]]),
    * [[restore]] refuses before its commit when the restored snapshot
    * would reinstate DVs under the property, and [[shallowClone]]
    * refuses to carry the property onto absolute-path adds — so the
    * regeneration here never throws after a durable commit. Restore
    * passes the POST-restore configuration (the target's), so a
    * restore that flips the property on or off is maintained by what
    * it restored, not by the state it replaced.
    */
  /** Minimum age an unreferenced checkpoint sidecar must reach before
    * [[cleanUpExpiredLogs]] may collect it, independent of the
    * caller's retention — an in-flight [[checkpointV2]] lands its
    * sidecars BEFORE its top, so a zero-retention sweep racing it
    * must not see them as orphans.
    */
  private[lake] val SidecarSweepGraceMs: Long = 15L * 60L * 1000L

  private def manifestEnabled(cfg: Map[String, String]): Boolean =
    cfg.get("delta.symlinkFormatManifest.enabled")
      .exists(_.trim.equalsIgnoreCase("true"))

  private def postCommit(spark: SparkSession, root: String,
                         st: LogState, committed: Long): Unit = {
    maybeAutoCheckpoint(spark, root, st)
    if (manifestEnabled(st.configuration))
      // incremental: only the partition directories THIS WRITER'S
      // committed version's add/remove set touched are rewritten
      // (reading the one commit JSON is O(commit), never O(table)); a
      // full-table regeneration per commit was O(all partitions) in
      // driver file writes — the r19-flagged scale killer. The
      // version is the CALLER'S, not currentVersion(root): under the
      // concurrent appends [[writeCommitFile]] reconciles, reading
      // the newest version here could regenerate a RACING writer's
      // partitions and leave this commit's manifest stale.
      regenerateManifests(spark, root,
        Some(touchedPartitionDirs(root, committed)))
  }

  private def maybeAutoCheckpoint(spark: SparkSession, root: String,
                                  st: LogState): Unit =
    st.configuration.get("delta.checkpointInterval")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ >= 1L).foreach { iv =>
        val cur = currentVersion(root)
        val newest =
          checkpointRefs(root).map(_.version).maxOption.getOrElse(-1L)
        if (cur > 0L && cur - newest >= iv) {
          if (st.readerFeatures.contains("v2Checkpoint"))
            checkpointV2(spark, root, cur)
          else checkpoint(spark, root, cur)
        }
      }

  // ------------------------------------------------------------------
  // Reader: _delta_log → DataFrame
  // ------------------------------------------------------------------

  /** `add.deletionVector` descriptor (PROTOCOL.md: Deletion Vector
    * Descriptor Schema): `storageType` `u` (UUID-named file beside the
    * table, path suffix = optional prefix + 20-char Z85 UUID), `i`
    * (whole blob Z85-inlined in `pathOrInlineDv`), or `p` (absolute
    * path — out of scope here, like absolute data paths).
    */
  private[lake] case class DvDescriptor(storageType: String,
                                        pathOrInlineDv: String,
                                        offset: Option[Long],
                                        sizeInBytes: Int,
                                        cardinality: Long) {
    /** The serialized RoaringBitmapArray bytes, resolving `u` storage
      * under `root` (CRC-verified).
      */
    def readBytes(root: String): Array[Byte] = storageType match {
      case "i" => Dv.z85Decode(pathOrInlineDv)
      case "u" =>
        val suffix = pathOrInlineDv.takeRight(20)
        val prefix = pathOrInlineDv.dropRight(20)
        val uuid = Dv.uuidFromBytes(Dv.z85Decode(suffix))
        val dir =
          if (prefix.isEmpty) Paths.get(root)
          else Paths.get(root, prefix)
        Dv.readBlob(dir.resolve(Dv.dvFileName(uuid)),
          offset.getOrElse(1L), sizeInBytes)
      case "p" =>
        // absolute-path storage (what shallow clones record so the
        // clone's DVs keep resolving to the SOURCE's sidecars)
        val path = decodePath(pathOrInlineDv)
        require(path.startsWith("/"),
          s"DeltaLog: storageType 'p' requires an absolute path, got " +
            s"'$pathOrInlineDv'")
        Dv.readBlob(Paths.get(path), offset.getOrElse(1L), sizeInBytes)
      case other => throw new IllegalArgumentException(
        s"DeltaLog: deletion vector storageType '$other' unsupported " +
          "(u, i and p only)")
    }

    /** Decode the position set, resolving `u` storage under `root`. */
    def read(root: String): Dv.PositionSet =
      Dv.deserialize(readBytes(root))

    /** Table-relative sidecar path of a `u`-storage descriptor (the
      * optional prefix + the UUID-derived blob name) — the single
      * rendering restore's existence check, vacuum's active-DV keep
      * set and shallowClone's re-addressing all share.
      */
    def sidecarRel: String = {
      require(storageType == "u",
        s"DeltaLog: sidecarRel is defined for 'u' storage, not " +
          s"'$storageType'")
      val prefix = pathOrInlineDv.dropRight(20)
      val uuid = Dv.uuidFromBytes(Dv.z85Decode(pathOrInlineDv.takeRight(20)))
      (if (prefix.isEmpty) "" else prefix + "/") + Dv.dvFileName(uuid)
    }
  }

  private def dvFromNode(n: JsonNode): Option[DvDescriptor] =
    if (n == null || !n.isObject) None
    else Some(DvDescriptor(
      n.path("storageType").asText(),
      n.path("pathOrInlineDv").asText(),
      if (n.path("offset").isNumber) Some(n.path("offset").asLong())
      else None,
      n.path("sizeInBytes").asInt(),
      n.path("cardinality").asLong()))

  /** Replayed log state at a version: declared schema + partition
    * columns (from `metaData`), protocol floor, table id, txn
    * watermarks and the active adds in activation order.
    */
  private case class LogState(
    schema: Option[StructType],
    partitionColumns: Seq[String],
    minReaderVersion: Int,
    minWriterVersion: Int,
    readerFeatures: Seq[String],
    writerFeatures: Seq[String],
    configuration: Map[String, String],
    tableId: String,
    files: Vector[AddFile],
    txnVersions: Map[String, Long]) {
    /** The active adds by path. */
    lazy val byPath: Map[String, AddFile] = files.map(a => a.path -> a).toMap
  }

  /** Reader features this implementation genuinely honors when named by
    * a protocol-3 table: `deletionVectors` (full read support — add
    * actions carrying DV descriptors have the deleted positions
    * filtered by `_metadata.row_index`, see [[scanFiles]]),
    * `timestampNtz` (plain type support — the declared-schema read
    * handles TIMESTAMP_NTZ like any other type) and
    * `vacuumProtocolCheck` (constrains vacuum, not reads).
    * `columnMapping` is honored in modes none/absent (identity) and
    * `name` (reads resolve `delta.columnMapping.physicalName` from the
    * schema metadata; mapped tables are read-only here); `v2Checkpoint`
    * tables replay from the V2 top file + its sidecars (see
    * [[checkpointActions]]). Mode `id` and anything else would make a
    * plain replay return WRONG ROWS, so the refusal names the specific
    * feature.
    */
  private val supportedReaderFeatures: Set[String] =
    Set("deletionVectors", "timestampNtz", "vacuumProtocolCheck",
      "v2Checkpoint", "typeWidening", "variantType")

  /** Does the schema hold a VARIANT anywhere (the `variantType`
    * feature's trigger)? Matched by typeName so the check survives
    * VariantType's representation across Spark versions.
    */
  private def hasVariantType(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f => hasVariantType(f.dataType))
    case a: ArrayType => hasVariantType(a.elementType)
    case m: MapType =>
      hasVariantType(m.keyType) || hasVariantType(m.valueType)
    case other => other.typeName == "variant"
  }

  /** The typeWidening changes this reader actually implements — the
    * bit-exact subset (integral chain, float→double). The FEATURE
    * admits more (date→timestampNtz, int→double, decimal growth);
    * [[validateTypeChanges]] refuses those upfront so an external
    * table never passes the gate and then crashes mid-scan.
    */
  private val supportedWidenings: Set[(String, String)] = Set(
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("float", "double"))

  private def validateTypeChanges(root: String,
                                  schema: StructType): Unit = {
    def walk(dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach { f =>
        if (f.metadata.contains("delta.typeChanges")) {
          val arr =
            try f.metadata.getMetadataArray("delta.typeChanges")
            catch { case _: Exception => Array.empty[Metadata] }
          arr.foreach { m =>
            val from =
              if (m.contains("fromType")) m.getString("fromType") else "?"
            val to =
              if (m.contains("toType")) m.getString("toType") else "?"
            require(supportedWidenings((from, to)),
              s"DeltaLog: table $root records a type change " +
                s"$from → $to on column ${f.name} — this reader widens " +
                "only the bit-exact subset (byte/short/int → wider " +
                "integral, float → double); reading would return " +
                "wrong rows or crash mid-scan")
          }
        }
        walk(f.dataType)
      }
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType); walk(m.valueType)
      case _ => ()
    }
    walk(schema)
  }

  private def mappingMode(st: LogState): String =
    st.configuration.getOrElse("delta.columnMapping.mode", "none")

  /** Loud, SPECIFIC refusal for protocol surfaces this reader lacks —
    * `minReaderVersion > 1` alone is not a reason to refuse: a
    * protocol-3 table whose feature set is fully supported opens.
    * Column mapping: `none` trivially readable, `name` readable (reads
    * resolve physical column names from the schema metadata — see
    * [[physicalTopLevel]]), `id` readable (reads match by the parquet
    * footer's field ids via `parquet.field.id` requested-schema
    * metadata — see [[physDataType]]); any future mode refuses
    * naming itself.
    */
  private def validateReaderSupport(root: String, st: LogState): Unit = {
    val mode = mappingMode(st)
    val mappingOk = mode == "none" || mode == "name" || mode == "id"
    st.minReaderVersion match {
      case v if v <= 1 => ()
      case 2 =>
        require(mappingOk,
          s"DeltaLog: table $root requires columnMapping mode '$mode' " +
            "which this reader lacks (none, name and id supported)")
      case 3 =>
        val unsupported = st.readerFeatures.filterNot { f =>
          supportedReaderFeatures(f) || (f == "columnMapping" && mappingOk)
        }
        require(unsupported.isEmpty,
          s"DeltaLog: table $root requires reader feature(s) " +
            s"${unsupported.sorted.mkString(", ")} which this reader lacks" +
            (if (st.readerFeatures.contains("columnMapping") && !mappingOk)
               s" (columnMapping mode '$mode'; none, name and id supported)"
             else ""))
      case v =>
        require(false,
          s"DeltaLog: table $root requires minReaderVersion $v, beyond " +
            "this reader's protocol support (max 3)")
    }
    if (st.readerFeatures.contains("typeWidening"))
      st.schema.foreach(validateTypeChanges(root, _))
  }

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  /** Top-level logical → physical field mapping under column mapping
    * (PROTOCOL.md: data files store columns under
    * `delta.columnMapping.physicalName`; the declared schema carries the
    * mapping in field metadata). Fields without a physicalName keep
    * their logical name. NESTED mappings resolve through
    * [[physDataType]]/[[toLogicalField]] — this map is only the
    * top-level column-reference layer (selects, stats keys, partition
    * values).
    */
  private def physicalTopLevel(schema: StructType): Map[String, String] =
    schema.fields.map { f =>
      f.name -> (if (f.metadata.contains(PhysicalNameKey))
                   f.metadata.getString(PhysicalNameKey)
                 else f.name)
    }.toMap

  private val ColumnIdKey = "delta.columnMapping.id"

  /** Whether `dt` (or anything nested inside it) carries a
    * physicalName mapping — i.e. a physical-named scan changes NESTED
    * field names too, and the logical projection must CAST-rename
    * (struct casts are positional) instead of a plain alias.
    */
  private def nestedMapped(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f =>
      f.metadata.contains(PhysicalNameKey) || nestedMapped(f.dataType))
    case a: ArrayType => nestedMapped(a.elementType)
    case m: MapType => nestedMapped(m.keyType) || nestedMapped(m.valueType)
    case _ => false
  }

  /** Rename struct fields at EVERY level to their physicalName
    * (identity where unmapped); `withIds` additionally stamps
    * `parquet.field.id` from `delta.columnMapping.id` at every level —
    * the id-mode scan/write shape, where Spark's parquet reader
    * (fieldId.read.enabled, set by GraftSession) matches columns by
    * the footer's FIELD IDS recursively and the writer records them.
    * Nested fields missing an id under id mode refuse loudly — the
    * mapping is unresolvable.
    */
  private def physDataType(dt: DataType, withIds: Boolean): DataType =
    dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val phys = if (f.metadata.contains(PhysicalNameKey))
          f.metadata.getString(PhysicalNameKey) else f.name
        val mb = new MetadataBuilder()
        if (withIds) {
          require(f.metadata.contains(ColumnIdKey),
            s"DeltaLog: id-mode field '${f.name}' lacks $ColumnIdKey " +
              "schema metadata — the mapping is unresolvable")
          mb.putLong("parquet.field.id", f.metadata.getLong(ColumnIdKey))
        }
        StructField(phys, physDataType(f.dataType, withIds), f.nullable,
          mb.build())
      })
      case a: ArrayType =>
        a.copy(elementType = physDataType(a.elementType, withIds))
      case m: MapType => m.copy(keyType = physDataType(m.keyType, withIds),
        valueType = physDataType(m.valueType, withIds))
      case other => other
    }

  /** The logical shape with mapping metadata stripped at every level —
    * the cast target that renames a scanned physical-named nested
    * column back to its logical field names. Fully NULLABLE: a cast to
    * a non-nullable nested field fails resolution when the scan
    * relaxed nullability, and nullability enforcement is the
    * invariants layer's job, not the rename's.
    */
  private def cleanDataType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, cleanDataType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(cleanDataType(a.elementType),
      containsNull = true)
    case m: MapType => MapType(cleanDataType(m.keyType),
      cleanDataType(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Nullable-lenient copy of a (physical) type, metadata preserved —
    * the WRITE-side cast target ([[toPhysicalField]]); same rationale
    * as [[cleanDataType]]'s nullability note.
    */
  private def nullableDataType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableDataType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullableDataType(a.elementType),
      containsNull = true)
    case m: MapType => MapType(nullableDataType(m.keyType),
      nullableDataType(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Logical projection of one scanned PHYSICAL-named column: a plain
    * alias when the type nests no mapping, a cast-rename (positional
    * over struct fields, element-wise through arrays/maps) when it
    * does.
    */
  private def toLogicalField(f: StructField,
      physName: String): org.apache.spark.sql.Column =
    if (nestedMapped(f.dataType))
      col(physName).cast(cleanDataType(f.dataType)).as(f.name)
    else col(physName).as(f.name)

  /** Physical projection of one LOGICAL column about to be written:
    * alias when flat; cast to the physical-named nested type when
    * mapped. Id mode's NESTED `parquet.field.id` stamps ride the cast
    * target's field metadata (the parquet writer reads them per
    * nested StructField); the TOP-level id is stamped separately by
    * [[stampFieldIds]].
    */
  private def toPhysicalField(withIds: Boolean, f: StructField,
      physName: String): org.apache.spark.sql.Column =
    if (nestedMapped(f.dataType))
      col(f.name).cast(nullableDataType(physDataType(f.dataType, withIds)))
        .as(physName)
    else col(f.name).as(physName)

  /** The read-side (scanSchema, logical→physical name map) pair for a
    * table's mapping mode: identity for `none`, recursively renamed
    * fields for `name`, renamed + field-id-stamped fields for `id`.
    */
  private def readSchemaFor(st: LogState,
      dataSchema: StructType): (StructType, Map[String, String]) =
    mappingMode(st) match {
      case "name" =>
        (physDataType(dataSchema, withIds = false).asInstanceOf[StructType],
          physicalTopLevel(dataSchema))
      case "id" =>
        (physDataType(dataSchema, withIds = true).asInstanceOf[StructType],
          physicalTopLevel(dataSchema))
      case _ =>
        (dataSchema, dataSchema.fieldNames.map(n => n -> n).toMap)
    }

  /** WRITE-path mapping gate: modes none, name and id are writable
    * (name/id writes resolve logical→physical at the IO boundary, id
    * writes additionally stamp `parquet.field.id` on new files); any
    * future mode refuses loudly naming itself.
    */
  private def requireWritableMapping(st: LogState, op: String): Unit = {
    val mode = mappingMode(st)
    require(mode == "none" || mode == "name" || mode == "id",
      s"DeltaLog.$op: columnMapping mode '$mode' tables are read-only " +
        "through this bridge (modes none, name and id are writable)")
  }

  /** PHYSICAL-name-keyed parquet field ids of a mapped schema. */
  private def fieldIdsOf(schema: StructType): Map[String, Long] = {
    val phys = physicalTopLevel(schema)
    schema.fields.collect { case f if f.metadata.contains(ColumnIdKey) =>
      phys(f.name) -> f.metadata.getLong(ColumnIdKey)
    }.toMap
  }

  /** PHYSICAL-name-keyed parquet field ids for id-mode writes (empty
    * otherwise): new files must carry the ids the table's readers
    * match by, or they read as all-NULL.
    */
  private def physFieldIds(st: LogState,
      schema: StructType): Map[String, Long] =
    if (mappingMode(st) != "id") Map.empty
    else fieldIdsOf(schema)

  /** Assign column-mapping metadata — `delta.columnMapping.id` above
    * `startId` plus a fresh `col-<uuid>` physicalName — to every field
    * lacking it at EVERY nesting level (table creation with mapping
    * on, and the new columns of a mapped schema evolution; the
    * protocol maps nested struct fields individually). Returns the
    * schema and the new maxColumnId.
    */
  private def assignMapping(schema: StructType,
      startId: Long): (StructType, Long) = {
    var next = startId
    def assignDt(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(assignField))
      case a: ArrayType => a.copy(elementType = assignDt(a.elementType))
      case m: MapType => m.copy(keyType = assignDt(m.keyType),
        valueType = assignDt(m.valueType))
      case other => other
    }
    def assignField(f: StructField): StructField = {
      val withMeta =
        if (f.metadata.contains(ColumnIdKey)) f
        else {
          next += 1
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong(ColumnIdKey, next)
            .putString(PhysicalNameKey,
              s"col-${java.util.UUID.randomUUID()}")
            .build())
        }
      withMeta.copy(dataType = assignDt(withMeta.dataType))
    }
    (StructType(schema.fields.map(assignField)), next)
  }

  /** Stamp `parquet.field.id` metadata onto a PHYSICAL-named batch
    * about to be written (identity when `fieldIds` is empty — i.e.,
    * everything but id-mode tables). Spark's parquet writer
    * (fieldId.write.enabled, set by GraftSession) then records the ids
    * in the footer.
    */
  private def stampFieldIds(df: DataFrame,
      fieldIds: Map[String, Long]): DataFrame =
    if (fieldIds.isEmpty) df
    else df.select(df.columns.map { c =>
      fieldIds.get(c) match {
        case Some(id) => col(c).as(c, new MetadataBuilder()
          .putLong("parquet.field.id", id).build())
        case None => col(c)
      }
    }.toIndexedSeq: _*)

  /** Logical → physical rename map for the WRITE paths: empty (identity)
    * when unmapped, the [[physicalTopLevel]] table under name mode.
    */
  private def physicalWriteMap(st: LogState,
                               schema: StructType): Map[String, String] =
    if (mappingMode(st) == "none") Map.empty
    else physicalTopLevel(schema)

  /** Rename a batch about to be WRITTEN into a mapped table to its
    * PHYSICAL field names at every nesting level (identity when
    * unmapped) — new parquet must store the same physical names/ids
    * the table's existing files do or every mapped reader sees the new
    * rows as all-NULL. Columns NOT in `schema` (e.g. `_change_type` on
    * a CDC batch) pass through untouched.
    */
  private def toPhysicalDf(st: LogState, schema: StructType,
                           df: DataFrame): DataFrame = {
    val phys = physicalWriteMap(st, schema)
    if (phys.isEmpty) df
    else stampFieldIds(
      df.select(df.columns.toIndexedSeq.map { c =>
        schema.fields.find(_.name == c) match {
          case Some(f) =>
            toPhysicalField(mappingMode(st) == "id", f,
              phys.getOrElse(c, c))
          case None => col(c)
        }
      }: _*),
      physFieldIds(st, schema))
  }

  /** Rows per file a MERGE's insert set lands as: a bulk upsert writes
    * ceil(sourceRows / this) target-sized files in ONE job instead of
    * serializing 10⁹ rows through a single task; a point merge
    * (source ≤ one file) keeps the shuffle-free single-file path.
    * Test seam.
    */
  private[lake] var mergeInsertRowsPerFile: Long = 4L << 20

  /** Largest source-key set a MERGE enumerates driver-side for the
    * footer-bloom point prune ([[mergeCandidates]] layer 2) — above
    * it, bulk merges rely on range pruning + the semi-join probe
    * (where most files genuinely hold matches anyway).
    */
  private val mergeBloomMaxKeys: Long = 1024L

  /** The snapshot at `upTo`: one in-order fold of the newest usable
    * checkpoint's actions and the JSON commits after it (PROTOCOL.md
    * "Action Reconciliation"). Last action per path wins, so within a
    * commit a later `add` beats an earlier `remove` of the same path
    * (DV deletes and RESTORE commit both), and a re-add without a DV
    * clears the DV; txn watermarks keep their max. Checkpoint
    * tombstones are not state for reads.
    */
  private def replay(spark: SparkSession, root: String,
                     upTo: Long): LogState = {
    val present = versions(root)
    val fromCp = checkpointRefs(root).filter(_.version <= upTo).lastOption
    require(present.contains(upTo) || fromCp.exists(_.version == upTo),
      s"DeltaLog: version $upTo of $root does not exist " +
        s"(have ${present.mkString(",")})")
    // the JSON tail must be contiguous from the replay start — a gap
    // below the newest checkpoint is fine (that's what the checkpoint
    // is FOR); a gap above it means missing history
    val tail = commitActions(root, fromCp.map(_.version + 1).getOrElse(0L),
      upTo, "replay", "no usable checkpoint covers it (newest usable: " +
        s"${fromCp.map(_.version).getOrElse(-1L)})")
    val fromCheckpoint = fromCp.toSeq
      .flatMap(checkpointActions(spark, root, _))
      .filterNot(_.isInstanceOf[RemoveFile])
    var schema: Option[StructType] = None
    var partitionCols = Seq.empty[String]
    var config = Map.empty[String, String]
    var tableId: String = null
    var proto = Protocol(1, 2, Seq.empty, Seq.empty)
    val active = new java.util.LinkedHashMap[String, AddFile]()
    val txns = scala.collection.mutable.Map.empty[String, Long]
    (fromCheckpoint.iterator ++ tail.flatMap(_._2)).foreach {
      case p: Protocol => proto = p
      case m: MetaData =>
        if (m.id != null) tableId = m.id
        partitionCols = m.partitionColumns
        config = m.configuration
        if (m.schemaString != null) schema =
          Some(DataType.fromJson(m.schemaString).asInstanceOf[StructType])
      case a: AddFile => active.put(a.path, a)
      case r: RemoveFile => active.remove(r.path)
      case Txn(app, ver) =>
        txns(app) = math.max(txns.getOrElse(app, Long.MinValue), ver)
      case _ => () // commitInfo / cdc / sidecar / checkpointMetadata
    }
    val st = LogState(schema, partitionCols, proto.minReaderVersion,
      proto.minWriterVersion, proto.readerFeatures, proto.writerFeatures,
      config, tableId, active.values().asScala.toVector, txns.toMap)
    validateReaderSupport(root, st)
    st
  }

  /** Delta `path` fields are URL-encoded (PROTOCOL.md) and either
    * RELATIVE to the table root or ABSOLUTE (shallow clones reference
    * their source's files absolutely); `file:` URIs decode to local
    * absolute paths, any other scheme refuses loudly (local
    * filesystems only here).
    */
  private def decodePath(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      u.getScheme match {
        case null => u.getPath
        case "file" => u.getPath
        case other => throw new IllegalArgumentException(
          s"DeltaLog: path scheme '$other' unsupported ('$raw' — " +
            "local files only)")
      }
    } catch { case _: java.net.URISyntaxException => raw }

  /** Resolve an action path against the table root — identity for the
    * absolute paths shallow-cloned logs carry.
    */
  private def resolvePath(root: String, rel: String): Path =
    if (rel.startsWith("/")) Paths.get(rel) else Paths.get(root, rel)

  /** [[resolvePath]] as the Hadoop path Spark's scan and the footer
    * readers open.
    */
  private def dataPath(root: String, rel: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(resolvePath(root, rel).toUri)

  /** Staging directory UNDER the table root (created on demand): the
    * final rename of a staged file into the table or its `_delta_log` is
    * then guaranteed same-filesystem — staging in `java.io.tmpdir`
    * (commonly tmpfs) made every `ATOMIC_MOVE` throw
    * `AtomicMoveNotSupportedException` whenever /tmp and the table lived
    * on different filesystems. The dot-prefixed name keeps Spark's file
    * listing (and therefore every reader) blind to it.
    */
  private def stagingBase(root: String): Path =
    Files.createDirectories(Paths.get(root, ".graft_staging"))

  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  /** Write `df` as ONE parquet file staged UNDER `root` (see
    * [[stagingBase]]); returns the part-file path, hoisted out of the
    * Spark output dir (whose `_SUCCESS`/checksum noise is deleted) —
    * callers rename it to its final home, same-filesystem by
    * construction. Callers that decide NOT to keep the file must
    * `Files.delete` it.
    */
  private def writeSingleParquet(df: DataFrame, root: String,
                                 prefix: String,
                                 writeOptions: Map[String, String] =
                                   Map.empty): Path = {
    val staging = Files.createTempDirectory(stagingBase(root), prefix)
    df.coalesce(1).write.options(writeOptions).mode("overwrite")
      .parquet(staging.toString)
    val s = Files.list(staging)
    val part =
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"DeltaLog: no parquet produced in $staging"))
      finally s.close()
    val hoisted = stagingBase(root).resolve(part.getFileName)
    Files.move(part, hoisted, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(staging)
    hoisted
  }

  /** Write `df` as `numFiles` parquet files staged UNDER `root` in ONE
    * Spark job (round-robin repartition: balanced file sizes); returns
    * the hoisted part files. The
    * multi-file sibling of [[writeSingleParquet]] for bulk writes that
    * must not serialize through one task.
    */
  private def writeParquetFiles(df: DataFrame, root: String,
                                prefix: String, numFiles: Int,
                                writeOptions: Map[String, String] =
                                  Map.empty): Seq[Path] = {
    require(numFiles >= 1, s"DeltaLog.writeParquetFiles: numFiles >= 1")
    val staging = Files.createTempDirectory(stagingBase(root), prefix)
    df.repartition(numFiles).write.options(writeOptions).mode("overwrite")
      .parquet(staging.toString)
    val s = Files.list(staging)
    val parts =
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    require(parts.nonEmpty, s"DeltaLog: no parquet produced in $staging")
    val hoisted = parts.map { part =>
      val h = stagingBase(root).resolve(part.getFileName)
      Files.move(part, h, StandardCopyOption.ATOMIC_MOVE)
      h
    }
    deleteRecursively(staging)
    hoisted
  }

  /** Typed aggregator building the serialized PORTABLE roaring bitmap
    * from row positions — executor-side DV construction: partial
    * bitmaps merge map-side, the driver receives bitmap BYTES per
    * file, never row positions (driver memory ∝ bitmap size, not
    * deleted-row count). Java serialization for the buffer: bitmaps
    * are Externalizable and the shuffled state is bitmap-sized.
    */
  private[lake] object BitmapAgg
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Dv.PositionSetBuilder, Array[Byte]] {
    def zero: Dv.PositionSetBuilder = new Dv.PositionSetBuilder
    def reduce(b: Dv.PositionSetBuilder, pos: Long): Dv.PositionSetBuilder =
      b.add(pos)
    def merge(a: Dv.PositionSetBuilder,
              b: Dv.PositionSetBuilder): Dv.PositionSetBuilder = a.merge(b)
    def finish(b: Dv.PositionSetBuilder): Array[Byte] =
      Dv.serialize(b.result())
    def bufferEncoder: org.apache.spark.sql.Encoder[Dv.PositionSetBuilder] =
      org.apache.spark.sql.Encoders.javaSerialization[Dv.PositionSetBuilder]
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Per-file columns of a tagged [[scanFiles]]: the file's ordinal in
    * the scan's file list (a constant the [[LogFileIndex]] supplies
    * beside the partition values) and the row's position in its file
    * (`_metadata.row_index`). Deletion vectors, the batched probe and
    * rewrite, and DV deletes all key on (ordinal, position); an ordinal
    * maps back to the caller's file by index.
    */
  private val SrcTagCol = "__graft_src"
  private val PosCol = "__graft_pos"

  /** A Delta `partitionValues` string as the typed value its rows
    * carry: a cast of the string in the session time zone (`null` is
    * the null partition). The one typing rule for the batch scan's
    * index and the streaming source.
    */
  private[graft] def typedPartitionValue(raw: String, dt: DataType,
                                         tz: String): Any =
    Cast(Literal(raw), dt, Some(tz)).eval()

  /** Spark `FileIndex` over a replayed snapshot's file list: the log IS
    * the listing, so no directory discovery or listing job runs. Each
    * file is its own `PartitionDirectory` whose row holds the table's
    * typed partition values and the file's ordinal ([[SrcTagCol]]);
    * `listFiles` evaluates the partition filters on those rows and
    * Spark's pushed data filters on each file's add `stats` and footer
    * bloom ([[mightSatisfy]]), so all pruning happens at planning
    * (visible in the executed scan's `numFiles`, not in `inputFiles`).
    * Equal file lists make equal indexes, so two reads of one snapshot
    * share cache entries and exchanges.
    */
  private case class LogFileIndex(partitionSchema: StructType,
      entries: Seq[(org.apache.hadoop.fs.FileStatus, InternalRow,
        Option[String])],
      fieldIds: Map[String, Long],
      conf: org.apache.hadoop.conf.Configuration)
    extends FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
      entries.map(_._1.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val names = partitionSchema.fieldNames
      val usable = partitionFilters.filter(
        _.references.forall(a => names.contains(a.name)))
      val keep: InternalRow => Boolean =
        if (usable.isEmpty) _ => true
        else Predicate.createInterpreted(usable.reduce(And).transform {
          case a: AttributeReference =>
            val i = names.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }).eval
      entries.collect { case (status, row, stats) if keep(row) &&
          mightSatisfy(dataFilters, status.getPath, stats, fieldIds, conf) =>
        PartitionDirectory(row, Array(status)) }
    }
    override def inputFiles: Array[String] =
      entries.map(_._1.getPath.toUri.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = entries.map(_._1.getLen).sum
  }

  /** The one table-data scan: `files` of state `st` read through a
    * [[LogFileIndex]] by Spark's parquet source, returning the logical
    * columns `cols` in order. Data columns resolve by physical name or
    * field id ([[readSchemaFor]]); columns the table does not declare
    * (a cdc file's `_change_type`) read as named; partition columns come
    * from the index. Rows a file's deletion vector deletes are
    * anti-joined away on ([[SrcTagCol]], [[PosCol]]). `tagged` keeps
    * those two columns. File lengths come from a stat of each file —
    * external adds may record any `size`, and splits must see the real
    * one.
    */
  private def scanFiles(spark: SparkSession, root: String, st: LogState,
      files: Seq[AddFile], cols: StructType,
      tagged: Boolean = false): DataFrame = {
    // every caller has already refused a log without metaData
    val schema = st.schema.getOrElse(cols)
    val pcs = st.partitionColumns
    val partitionSchema = StructType(pcs.map(c =>
      StructField(c, schema(c).dataType, nullable = true)) :+
      StructField(SrcTagCol, IntegerType, nullable = false))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = files.zipWithIndex.map { case (f, i) =>
      val path = dataPath(root, f.path)
      val values = pcs.map { c =>
        val key = pvKeyOf(st, schema, c, f.partitionValues).getOrElse(
          throw new IllegalArgumentException(
            s"DeltaLog: add ${f.path} lacks partitionValues for declared " +
              s"partition column $c"))
        typedPartitionValue(f.partitionValues(key), schema(c).dataType, tz)
      }
      (path.getFileSystem(conf).getFileStatus(path),
        InternalRow.fromSeq(values :+ i), f.stats)
    }
    val (fileCols, extra) = cols.filterNot(f => pcs.contains(f.name))
      .partition(f => schema.fieldNames.contains(f.name))
    val (scanSchema, physMap) = readSchemaFor(st, StructType(fileCols))
    val relation = HadoopFsRelation(LogFileIndex(partitionSchema, entries,
        physFieldIds(st, schema), conf),
      partitionSchema,
      nullableDataType(StructType(scanSchema ++ extra)).asInstanceOf[StructType],
      None, new ParquetFileFormat, Map.empty)(spark)
    val out = cols.fields.toSeq.map(f =>
      if (pcs.contains(f.name)) col(f.name)
      else toLogicalField(f, physMap.getOrElse(f.name, f.name)))
    val dvs = files.zipWithIndex.flatMap { case (f, i) =>
      f.deletionVector.map(i -> _) }
    val df = spark.baseRelationToDataFrame(relation)
    if (dvs.isEmpty && !tagged) df.select(out: _*)
    else {
      // _metadata is unreachable after any projection: row_index rides
      // the scan's own select
      val scanned = df.select(out :+ col(SrcTagCol) :+
        col("_metadata.row_index").as(PosCol): _*)
      val live =
        if (dvs.isEmpty) scanned
        else scanned.join(dvPositions(spark, root, dvs),
          Seq(SrcTagCol, PosCol), "left_anti")
      if (tagged) live else live.drop(SrcTagCol, PosCol)
    }
  }

  /** ([[SrcTagCol]], [[PosCol]]) rows of the given files' deletion
    * vectors — positions exploded EXECUTOR-side from the shipped bitmap
    * bytes, broadcast when the build is join-sized. The anti-join key
    * of every live-rows scan.
    */
  private def dvPositions(spark: SparkSession, root: String,
      dvs: Seq[(Int, DvDescriptor)]): DataFrame = {
    import spark.implicits._
    val df = spark.createDataset(dvs.map { case (i, d) => i -> d.readBytes(root) })
      .flatMap { case (i, b) => Dv.deserialize(b).positions.map(p => (i, p)) }
      .toDF(SrcTagCol, PosCol)
    // broadcast bound is on BUILD BYTES, not row count: estimate the
    // per-row cost (int tag + boxed long + map-entry overhead) and stay
    // under a safe build size
    val estBytes = dvs.map(_._2.cardinality * 68L).sum
    if (estBytes <= (64L << 20))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Exact TOUCHED subset of `candidates`: ONE column-pruned,
    * predicate-pushable tagged scan over the candidates' live rows.
    * `matcher` narrows the scanned rows to the matched ones (a filter,
    * or a semi-join against source keys) and must preserve the
    * [[SrcTagCol]] column. A file whose matching rows are all already
    * DV-deleted is NOT touched (rewriting it would commit a dataChange
    * no-op). Candidate order is preserved in the result. At 10 k
    * candidate files the probe is one job, not 10 k.
    */
  private def probeTouched(spark: SparkSession, root: String,
      candidates: Seq[AddFile],
      probeSchema: StructType, matcher: DataFrame => DataFrame,
      st: LogState): Seq[AddFile] = {
    import spark.implicits._
    if (candidates.isEmpty) return Nil
    val hit: Set[Int] = matcher(
        scanFiles(spark, root, st, candidates, probeSchema, tagged = true))
      .select(col(SrcTagCol)).distinct()
      .as[Int].collect().toSet
    candidates.zipWithIndex.collect { case (c, i) if hit(i) => c }
  }

  /** Rewrite `files` in ONE Spark job: a single tagged scan of their
    * live rows, `transform` applied (it sees the logical data columns
    * plus [[SrcTagCol]] and must carry the tag through — filters,
    * withColumn folds and join-based row drops all do), then ONE
    * dynamic-partitioned write producing exactly one staged file per
    * touched input (hash repartition on the tag lands every source
    * file's rows in one task). Files are rewritten under PHYSICAL names
    * / field ids on mapped tables; a DV-carrying input rewrites its live
    * rows, so the rewrite CLEARS the DV. Returns rel → staged part file;
    * a rel whose rewrite kept ZERO rows is absent (its partition
    * directory is never created). A DELETE touching 10 k files runs one
    * probe job and one rewrite job, never 10 k sequential jobs.
    */
  private def rewriteFilesBatched(spark: SparkSession, root: String,
      files: Seq[AddFile], dataSchema: StructType,
      transform: DataFrame => DataFrame,
      prefix: String,
      st: LogState,
      writeOptions: Map[String, String] = Map.empty): Map[String, Path] = {
    if (files.isEmpty) return Map.empty
    val staging = Files.createTempDirectory(stagingBase(root), prefix)
    toPhysicalDf(st, dataSchema,
        transform(scanFiles(spark, root, st, files, dataSchema, tagged = true))
          .select(dataSchema.fieldNames.toSeq.map(col) :+ col(SrcTagCol): _*))
      .repartition(files.size, col(SrcTagCol))
      .write.options(writeOptions).partitionBy(SrcTagCol).mode("overwrite")
      .parquet(staging.toString)
    val out = Map.newBuilder[String, Path]
    val dirs = Files.list(staging)
    try dirs.iterator().asScala.filter(Files.isDirectory(_)).foreach { d =>
      val dn = d.getFileName.toString
      if (dn.startsWith(SrcTagCol + "=")) {
        val i = dn.drop(SrcTagCol.length + 1).toInt
        val s = Files.list(d)
        val part =
          try s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"DeltaLog: no parquet produced for ${files(i).path} in $staging"))
          finally s.close()
        // one task writes several partition dirs under ONE part name —
        // hoist under a fresh UUID so sibling moves cannot collide
        val hoisted = stagingBase(root).resolve(
          s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
        Files.move(part, hoisted, StandardCopyOption.ATOMIC_MOVE)
        out += files(i).path -> hoisted
      }
    } finally dirs.close()
    deleteRecursively(staging)
    out.result()
  }

  /** Canonical `add` for an on-disk table file: size/mtime from the
    * filesystem, `stats` from the footer.
    */
  private def addFor(root: String, rel: String, pv: Map[String, String],
                     dataChange: Boolean,
                     conf: org.apache.hadoop.conf.Configuration,
                     dv: Option[DvDescriptor] = None): AddFile = {
    val fp = resolvePath(root, rel)
    AddFile(rel, pv, Some(Files.size(fp)),
      Some(Files.getLastModifiedTime(fp).toMillis), dataChange,
      Some(footerStatsJson(fp, conf)), dv)
  }

  /** `remove` of `rel`, stamped now. */
  private def removeOf(rel: String, dataChange: Boolean): RemoveFile =
    RemoveFile(rel, Some(System.currentTimeMillis()), dataChange)

  // ------------------------------------------------------------------
  // Change data feed (PROTOCOL.md: Add CDC File; the `cdc` action)
  // ------------------------------------------------------------------

  /** The CDF row-kind column CDC files carry and [[readChangeFeed]]
    * returns: `insert`, `delete`, `update_preimage`, `update_postimage`.
    */
  val ChangeTypeCol = "_change_type"

  private def cdfEnabled(st: LogState): Boolean =
    st.configuration.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Writer features this implementation genuinely HONORS when
    * mutating a features-form (writer 7) table: the legacy set it
    * implements (appendOnly/invariants/checkConstraints/changeDataFeed/
    * generatedColumns/identityColumns), columnMapping (every write on a
    * mapped table refuses downstream anyway), deletionVectors,
    * v2Checkpoint, inCommitTimestamp, vacuumProtocolCheck and
    * timestampNtz. A table naming anything else (rowTracking,
    * domainMetadata, icebergCompat*, …) would be CORRUPTED by a writer
    * that ignores the feature's write obligations — so every mutating
    * entry point refuses, NAMING the feature, while reads stay open
    * (reader features are vetted separately).
    */
  private val honoredWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "columnMapping", "identityColumns",
    "deletionVectors", "v2Checkpoint", "inCommitTimestamp",
    "vacuumProtocolCheck", "timestampNtz",
    // the feature's write obligation — record each change under
    // delta.typeChanges when altering a type — is honored by
    // [[widenColumnType]], the only type-altering entry point here;
    // ordinary writes land in the DECLARED (widened) type
    "typeWidening",
    // variant columns write through Spark's native parquet variant
    // encoding (metadata/value binary pair); no extra obligation
    "variantType")

  private def requireWritable(st: LogState, op: String): Unit = {
    val unknown = st.writerFeatures.filterNot(honoredWriterFeatures)
    require(unknown.isEmpty,
      s"DeltaLog.$op: table declares writer feature(s) " +
        s"${unknown.mkString(", ")} this writer does not implement — " +
        "writing would violate their obligations; table stays readable")
  }

  /** `delta.appendOnly=true` (PROTOCOL.md writer-version-2 feature):
    * an append-only table refuses every operation that DELETES or
    * CHANGES existing rows — any `remove` with `dataChange=true`.
    * Layout-only rewrites (OPTIMIZE / ZORDER: `dataChange=false`) and
    * pure appends stay legal. Called by every mutating entry point.
    */
  private def requireNotAppendOnly(st: LogState, op: String): Unit =
    require(!st.configuration.get("delta.appendOnly")
      .exists(_.trim.equalsIgnoreCase("true")),
      s"DeltaLog.$op: table is delta.appendOnly=true — it refuses " +
        "deletes and updates; only appends and layout-only OPTIMIZE " +
        "are legal")

  /** Stage `df` (data columns + [[ChangeTypeCol]]) as one CDC parquet
    * under `_change_data/` and return its `cdc` action carrying `pv`
    * (CDC files never affect snapshot state, only the change feed).
    */
  private def writeCdcFile(df: DataFrame, root: String,
                           pv: Map[String, String],
                           st: LogState): AddCdc = {
    // mapped tables: cdc files store PHYSICAL data-column names/ids at
    // every nesting level, like every other data file (the
    // `_change_type` column is a feed artifact, never mapped —
    // toPhysicalDf passes non-schema columns through)
    val out = st.schema.map(toPhysicalDf(st, _, df)).getOrElse(df)
    val part = writeSingleParquet(out, root, "graft-delta-cdc")
    val dir = Files.createDirectories(Paths.get(root, "_change_data"))
    val target = dir.resolve(
      "cdc-" + java.util.UUID.randomUUID() + ".parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    AddCdc(Paths.get(root).relativize(target).toString
      .replace(java.io.File.separatorChar, '/'), pv, Files.size(target))
  }

  /** Partitioned sibling of [[writeCdcFile]] — ONE dynamic-partitioned
    * job writes EVERY touched partition's cdc rows (`df` carries the
    * table's partition columns alongside data + `_change_type`), then
    * each staged part moves under `_change_data` with a pv-keyed cdc
    * action. The scale posture for partitioned DML change capture: cdc
    * jobs are O(1), never O(touched partitions).
    */
  private def writeCdcFilesPartitioned(df: DataFrame, root: String,
      pcs: Seq[String], st: LogState): Seq[AddCdc] = {
    require(pcs.nonEmpty, "writeCdcFilesPartitioned: partitioned only")
    val physMap = st.schema.map(physicalWriteMap(st, _))
      .getOrElse(Map.empty[String, String])
    val out = st.schema.map(toPhysicalDf(st, _, df)).getOrElse(df)
    val physPcs = pcs.map(c => physMap.getOrElse(c, c))
    val staging = Files.createTempDirectory(stagingBase(root),
      "graft-delta-cdc")
    out.repartition(physPcs.map(col): _*)
      .write.mode("overwrite").partitionBy(physPcs: _*)
      .parquet(staging.toString)
    val walk = Files.walk(staging)
    val parts =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally walk.close()
    val dir = Files.createDirectories(Paths.get(root, "_change_data"))
    val cdcs = parts.map { p =>
      val relStaged = staging.relativize(p).toString
        .replace(java.io.File.separatorChar, '/')
      val pv = partitionValuesOf(relStaged, physPcs)
      val target = dir.resolve(
        "cdc-" + java.util.UUID.randomUUID() + ".parquet")
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      AddCdc(Paths.get(root).relativize(target).toString
        .replace(java.io.File.separatorChar, '/'), pv, Files.size(target))
    }
    deleteRecursively(staging)
    cdcs
  }

  /** Writer features a LEGACY `minWriterVersion` implies — what a
    * protocol upgrade to version 7 must enumerate explicitly so
    * external feature-gated writers keep honoring them (PROTOCOL.md:
    * Writer Version Requirements).
    */
  private def legacyWriterFeatures(v: Int): Seq[String] =
    Seq(2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns")
      .collect { case (floor, f) if floor <= v => f }

  /** Can `path`'s stats range intersect [lo, hi] on `column`? Missing
    * stats, or no numeric min/max for the column → conservatively true.
    */
  /** Mark `column` GENERATED ALWAYS AS (`genSql`) — Delta's generated
    * columns (PROTOCOL.md / delta.io: the `delta.generationExpression`
    * key in the StructField metadata of `schemaString`). Returns a
    * DataFrame whose schema carries the marker; committing it CREATES
    * the generated-column table (the declared schema is the contract
    * every later writer is held to, including external logs whose
    * schemaString carries the same key).
    */
  def withGenerationExpression(df: DataFrame, column: String,
                               genSql: String): DataFrame = {
    require(df.columns.contains(column),
      s"DeltaLog.withGenerationExpression: $column not in the DataFrame")
    val old = df.schema(column).metadata
    val meta = new MetadataBuilder().withMetadata(old)
      .putString("delta.generationExpression", genSql).build()
    df.withColumn(column, col(column).as(column, meta))
  }

  /** Identity columns declared in a schema (Delta's GENERATED … AS
    * IDENTITY: `delta.identity.start/step/allowExplicitInsert` plus the
    * writer-maintained `delta.identity.highWaterMark` in the field
    * metadata of `schemaString`).
    */
  private case class IdentityCol(name: String, start: Long, step: Long,
                                 allowExplicit: Boolean, hwm: Option[Long])

  private def identityInfo(schema: StructType): Seq[IdentityCol] =
    schema.fields.filter(_.metadata.contains("delta.identity.start"))
      .map { f =>
        val m = f.metadata
        IdentityCol(f.name, m.getLong("delta.identity.start"),
          m.getLong("delta.identity.step"),
          m.contains("delta.identity.allowExplicitInsert") &&
            m.getBoolean("delta.identity.allowExplicitInsert"),
          if (m.contains("delta.identity.highWaterMark"))
            Some(m.getLong("delta.identity.highWaterMark")) else None)
      }.toSeq

  /** `schema` with `col`'s `delta.identity.highWaterMark` set. */
  private def withHwm(schema: StructType, col: String,
                      hwm: Long): StructType =
    StructType(schema.fields.map { f =>
      if (f.name != col) f
      else f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("delta.identity.highWaterMark", hwm).build())
    })

  /** CREATE a table whose `idCol` is GENERATED ALWAYS AS IDENTITY
    * (START WITH `start` STEP `step`, PROTOCOL.md legacy writer
    * version 6): the creation batch gets ids assigned distributed —
    * `start + step·(partition-block offset)` via
    * monotonically_increasing_id, so assignment is one pass with NO
    * global sort or driver round-trip; ids are unique and
    * step-aligned but may have GAPS, exactly Delta's documented
    * identity semantics. The committed metaData records the
    * high-water mark (read back from the written files' FOOTER stats —
    * zero extra pass), and every later [[commitFlat]] batch that lacks
    * the column continues above it; batches providing explicit values
    * refuse unless `allowExplicitInsert`.
    */
  def createIdentityTable(spark: SparkSession, root: String,
                          df: DataFrame, idCol: String,
                          start: Long = 1L, step: Long = 1L,
                          allowExplicitInsert: Boolean = false,
                          configuration: Map[String, String] = Map.empty): Long = {
    require(step > 0, s"DeltaLog.createIdentityTable: step > 0 (got " +
      s"$step — descending identities are out of scope, documented)")
    require(!df.columns.contains(idCol),
      s"DeltaLog.createIdentityTable: $idCol already exists in the batch")
    val meta = new MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
      .putBoolean("delta.identity.allowExplicitInsert", allowExplicitInsert)
      .build()
    val seeded = df.select(df.columns.map(col).toSeq :+
      (lit(start) + lit(step) *
        org.apache.spark.sql.functions.monotonically_increasing_id())
        .cast(LongType).as(idCol, meta): _*)
    commitFlat(spark, root, seeded, configuration = configuration)
  }

  /** (column, generation sql) pairs declared in a schema. */
  private def generationExprs(schema: StructType): Seq[(String, String)] =
    schema.fields
      .filter(_.metadata.contains("delta.generationExpression"))
      .map(f => f.name ->
        f.metadata.getString("delta.generationExpression")).toSeq

  /** Delta's generated-column write semantics: a batch LACKING the
    * column gets it COMPUTED from its expression; a batch PROVIDING it
    * is verified inline (`assert_true` riding the write — the same
    * zero-extra-pass shape as [[enforceInvariants]]): a provided value
    * that disagrees with GENERATED ALWAYS AS fails the write loudly.
    * Restores the declared column order when the computed columns
    * complete the schema.
    */
  private def applyGeneratedColumns(df: DataFrame,
                                    schema: StructType): DataFrame = {
    val gens = generationExprs(schema)
    if (gens.isEmpty) return df
    val applied = gens.foldLeft(df) { case (d, (c, g)) =>
      val e = expr(g).cast(schema(c).dataType)
      if (!d.columns.contains(c)) d.withColumn(c, e)
      else d.filter(assert_true(col(c) <=> e,
        lit(s"generated column $c does not match GENERATED ALWAYS AS " +
          s"($g)")).isNull)
    }
    if (schema.fieldNames.toSet == applied.columns.toSet)
      applied.select(schema.fieldNames.map(col).toSeq: _*)
    else applied
  }

  /** CHECK constraints recorded in the table configuration
    * (PROTOCOL.md / Delta's `ALTER TABLE ADD CONSTRAINT`:
    * `delta.constraints.<name> = <sql>`), name-sorted.
    */
  private def constraintsOf(cfg: Map[String, String]): Seq[(String, String)] =
    cfg.collect { case (k, v) if k.startsWith("delta.constraints.") =>
      k.stripPrefix("delta.constraints.") -> v }.toSeq.sortBy(_._1)

  /** Wrap a batch with INLINE writer invariants — NOT NULL for every
    * non-nullable declared column and every `delta.constraints.*`
    * CHECK expression. Enforcement rides the write itself (an
    * `assert_true` inside a filter — no second pass over the data, the
    * shape of Delta's own CheckDeltaInvariant node): the first
    * violating row fails the write loudly before any commit lands.
    * A CHECK must evaluate to TRUE — NULL counts as a violation
    * (write `… OR x IS NULL` when nulls are legal). Declared columns
    * the batch lacks are evaluated as typed NULLs, so a NOT NULL
    * column missing from a mergeSchema batch still refuses.
    */
  private def enforceInvariants(df: DataFrame, schema: StructType,
                                cfg: Map[String, String]): DataFrame = {
    val notNull = schema.fields.filter(!_.nullable)
      .map(f => (s"NOT NULL constraint violated: column ${f.name}",
        col(f.name).isNotNull))
    val checks = constraintsOf(cfg).map { case (n, sql) =>
      (s"CHECK constraint $n ($sql) violated",
        expr(sql).cast("boolean") <=> lit(true))
    }
    if (notNull.isEmpty && checks.isEmpty) return df
    val missing = schema.fields.filterNot(f => df.columns.contains(f.name))
    val widened = missing.foldLeft(df)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val checked = (notNull ++ checks).foldLeft(widened) {
      case (d, (msg, cond)) =>
        d.filter(assert_true(cond, lit(msg)).isNull)
    }
    checked.select(df.columns.map(col).toSeq: _*)
  }

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (sql)`: validates every
    * EXISTING row first (one scan — Delta's own semantics: adding a
    * constraint a current row violates fails), then commits a
    * metaData re-emit carrying `delta.constraints.name` plus the
    * protocol floor CHECK enforcement requires (legacy writer
    * version 3, or the `checkConstraints` writer feature on a
    * features table). Every later write through this bridge enforces
    * it inline. Returns the new version.
    */
  def addCheckConstraint(spark: SparkSession, root: String, name: String,
                         sql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"DeltaLog.addCheckConstraint: constraint name '$name' must be " +
        "alphanumeric/_")
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    // constraint SQL references LOGICAL names; validation reads via
    // readAt (mapped-aware) and enforcement runs in logical space —
    // all three mapping modes (none, name, id) work
    requireWritableMapping(st, "addCheckConstraint")
    require(!st.configuration.contains(s"delta.constraints.$name"),
      s"DeltaLog.addCheckConstraint: constraint $name already exists")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val violating = readAt(spark, root, v)
      .filter(!(expr(sql).cast("boolean") <=> lit(true)))
    require(violating.isEmpty,
      s"DeltaLog.addCheckConstraint: existing rows violate $name ($sql)")
    val cfg = st.configuration + (s"delta.constraints.$name" -> sql)
    val protocol =
      if (st.minWriterVersion < 3)
        Some(Protocol(st.minReaderVersion, 3, Nil, Nil))
      else if (st.minWriterVersion >= 7 &&
        !st.writerFeatures.contains("checkConstraints"))
        Some(Protocol(st.minReaderVersion, st.minWriterVersion,
          st.readerFeatures, (st.writerFeatures :+ "checkConstraints").distinct))
      else None
    writeCommitFile(root, v + 1, protocol.toSeq :+ MetaData(st.tableId,
      schema.json, st.partitionColumns, cfg), operation = "ADD CONSTRAINT")
    v + 1
  }

  /** `ALTER TABLE DROP CONSTRAINT name` — metaData re-emit without it.
    * Unknown names refuse (typos must not silently "succeed").
    */
  def dropCheckConstraint(spark: SparkSession, root: String,
                          name: String): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    val key = s"delta.constraints.$name"
    require(st.configuration.contains(key),
      s"DeltaLog.dropCheckConstraint: no constraint named $name")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    writeCommitFile(root, v + 1, Seq(MetaData(st.tableId,
      schema.json, st.partitionColumns, st.configuration - key)),
      operation = "DROP CONSTRAINT")
    v + 1
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metaData-only commit
    * merging `props` into the table configuration, with the PROTOCOL
    * co-upgraded when a property demands a higher writer floor
    * (Delta's own behavior: enabling changeDataFeed on a writer-2
    * table bumps it to 4 — legacy floors imply their feature sets, so
    * the bump is enumerable; a features-form table appends the named
    * feature instead). `delta.enableInCommitTimestamps` may be
    * ENABLED here (the monotonic chain starts at THIS commit, which
    * carries the first `inCommitTimestamp`) but never disabled or
    * unset — timestamp resolution over the existing ICT history would
    * silently break. `delta.columnMapping.*` changes refuse: flipping
    * the mode is a physical-layout migration (every field needs a
    * physicalName/id), not a property write.
    */
  def setTableProperties(spark: SparkSession, root: String,
                         props: Map[String, String]): Long = {
    require(props.nonEmpty, "DeltaLog.setTableProperties: empty props")
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "setTableProperties")
    props.keys.find(_.startsWith("delta.columnMapping.")).foreach(k =>
      require(props.get(k) == st.configuration.get(k),
        s"DeltaLog.setTableProperties: $k is a physical-layout " +
          "declaration, not a flippable property — create the table " +
          "with the mapping mode it should keep"))
    if (props.get("delta.symlinkFormatManifest.enabled")
        .exists(_.trim.equalsIgnoreCase("true"))) {
      val dvd = st.files.count(_.deletionVector.isDefined)
      require(dvd == 0,
        s"DeltaLog.setTableProperties: $dvd active file(s) carry " +
          "deletion vectors — symlink-manifest readers see whole files " +
          "and would resurrect their deleted rows; compact the DVs " +
          "away before enabling delta.symlinkFormatManifest.enabled")
      val abs = st.files.count(_.path.startsWith("/"))
      require(abs == 0,
        s"DeltaLog.setTableProperties: $abs active file(s) are " +
          "absolute-path references (a shallow clone) — manifests " +
          "have no partition directory for them; compact the clone " +
          "into its own files before enabling " +
          "delta.symlinkFormatManifest.enabled")
    }
    val wasIct = st.configuration.get("delta.enableInCommitTimestamps")
      .exists(_.trim.equalsIgnoreCase("true"))
    val wantIct = props.get("delta.enableInCommitTimestamps")
      .map(_.trim.equalsIgnoreCase("true"))
    require(!(wasIct && wantIct.contains(false)),
      "DeltaLog.setTableProperties: inCommitTimestamps cannot be " +
        "disabled — existing-history timestamp resolution would break")
    val enablingIct = !wasIct && wantIct.contains(true)
    val cfg = st.configuration ++ props
    val needsCdf = cfg.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val legacyFloor = math.max(st.minWriterVersion,
      if (needsCdf) 4 else 2)
    val protocol = if (enablingIct || st.minWriterVersion >= 7) {
      // features form. The base set differs by where the table starts:
      // CONVERTING a legacy table enumerates what its legacy floor
      // implied (those obligations already bind); a table ALREADY on
      // features keeps exactly its declared set — re-deriving from a
      // floor would inflate it with features it never declared
      // (columnMapping on an unmapped table), which external minimal
      // writers would then refuse to honor.
      val base =
        if (st.minWriterVersion >= 7) st.writerFeatures
        else legacyWriterFeatures(math.min(legacyFloor, 6))
      val feats = (base ++
        (if (needsCdf) Seq("changeDataFeed") else Nil) ++
        (if (enablingIct || wasIct) Seq("inCommitTimestamp") else Nil))
        .distinct
      if (st.minWriterVersion < 7 ||
          !feats.forall(st.writerFeatures.contains))
        Some(Protocol(st.minReaderVersion, 7, st.readerFeatures, feats))
      else None
    } else if (legacyFloor > st.minWriterVersion)
      Some(Protocol(st.minReaderVersion, legacyFloor, Nil, Nil))
    else None
    writeCommitFile(root, v + 1, protocol.toSeq :+ MetaData(st.tableId,
      schema.json, st.partitionColumns, cfg),
      operation = "SET TBLPROPERTIES", ictStart = enablingIct)
    // ENABLING auto-manifests generates the full tree right here —
    // later commits then maintain it incrementally; without this, a
    // table re-enabling the property after manifest-less commits
    // would keep stale manifests for partitions those commits touched
    if (manifestEnabled(cfg) && !manifestEnabled(st.configuration))
      regenerateManifests(spark, root, None)
    v + 1
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — removes configuration keys
    * in one metaData commit. The protocol keeps its declared features
    * (a declaration is a floor, not a usage count). Refused:
    * `delta.enableInCommitTimestamps` (the chain must stay resolvable)
    * and `delta.columnMapping.*` (physical layout, not a property).
    */
  def unsetTableProperties(spark: SparkSession, root: String,
                           keys: Seq[String]): Long = {
    require(keys.nonEmpty, "DeltaLog.unsetTableProperties: empty keys")
    keys.foreach { k =>
      require(k != "delta.enableInCommitTimestamps",
        "DeltaLog.unsetTableProperties: inCommitTimestamps cannot be " +
          "unset — existing-history timestamp resolution would break")
      require(!k.startsWith("delta.columnMapping."),
        s"DeltaLog.unsetTableProperties: $k is physical layout, not a " +
          "removable property")
    }
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "unsetTableProperties")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    writeCommitFile(root, v + 1, Seq(MetaData(st.tableId,
      schema.json, st.partitionColumns, st.configuration -- keys)),
      operation = "UNSET TBLPROPERTIES")
    v + 1
  }

  /** Delta schema-string primitive name of a widenable type. */
  private def deltaTypeName(dt: DataType): String = dt match {
    case ByteType => "byte"
    case ShortType => "short"
    case IntegerType => "integer"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case other => throw new IllegalArgumentException(
      s"DeltaLog: no delta type name for $other")
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>` — Delta's TYPE
    * WIDENING (PROTOCOL.md: Type Widening; the `typeWidening`
    * reader+writer feature). A metaData-only commit: the declared
    * schema re-emits with the widened type and the change recorded
    * under the field's `delta.typeChanges` metadata (fromType/toType,
    * the protocol's audit trail); ZERO data movement — files written
    * before keep their narrower physical form and every read path
    * here widens them natively (Spark's parquet readers promote
    * int32→int64 / float→double in the scan, the streaming source's
    * included). Allowed changes are the lossless integral chain
    * byte→short→int→long plus float→double — the set whose widened
    * values are bit-exact, so cross-engine hashes never move.
    * Refused: narrowing or cross-family changes (loud), partition
    * columns (their values live as directory strings typed by the
    * declared schema — a flip would silently re-type history), and
    * columns a CHECK constraint or generation expression mentions
    * (the stored SQL would re-resolve against a different type).
    * The protocol co-upgrades to the features form carrying
    * `typeWidening` in BOTH feature sets (legacy floors enumerate,
    * declared sets stay exact — the r19 discipline).
    */
  def widenColumnType(spark: SparkSession, root: String, column: String,
                      to: DataType): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "widenColumnType")
    requireWritableMapping(st, "widenColumnType")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val f = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"DeltaLog.widenColumnType: no column $column in ${schema.fieldNames.toSeq}"))
    val widens = (f.dataType, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(widens,
      s"DeltaLog.widenColumnType: ${f.dataType.simpleString} → " +
        s"${to.simpleString} is not a supported widening (integral " +
        "chain byte→short→int→long, or float→double)")
    require(!st.partitionColumns.contains(column),
      s"DeltaLog.widenColumnType: $column is a partition column — its " +
        "recorded directory values are typed by the declared schema; " +
        "widening them would silently re-type history")
    requireNoStoredSqlOn(st, schema, column, "widenColumnType")
    val change = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("fromType", deltaTypeName(f.dataType))
      .putString("toType", deltaTypeName(to)).build()
    val prior =
      if (f.metadata.contains("delta.typeChanges"))
        f.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty[org.apache.spark.sql.types.Metadata]
    val newMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ change).build()
    val widened = StructType(schema.fields.map(x =>
      if (x.name == column) x.copy(dataType = to, metadata = newMeta)
      else x))
    val needReader = !(st.minReaderVersion >= 3 &&
      st.readerFeatures.contains("typeWidening"))
    val needWriter = !(st.minWriterVersion >= 7 &&
      st.writerFeatures.contains("typeWidening"))
    val protocol = Option.when(needReader || needWriter)(Protocol(3, 7,
      ((if (st.minReaderVersion >= 3) st.readerFeatures
      else if (st.minReaderVersion >= 2 || mappingMode(st) != "none")
        Seq("columnMapping")
      else Seq.empty) :+ "typeWidening").distinct,
      ((if (st.minWriterVersion >= 7) st.writerFeatures
      else legacyWriterFeatures(st.minWriterVersion)) :+ "typeWidening")
        .distinct))
    writeCommitFile(root, v + 1, protocol.toSeq :+ MetaData(st.tableId,
      widened.json, st.partitionColumns, st.configuration),
      operation = "CHANGE COLUMN")
    v + 1
  }

  /** Columns a stored SQL expression textually references —
    * word-boundary identifier match, backquoted or bare. Conservative
    * by design: column DDL REFUSES when a CHECK constraint or a
    * generation expression mentions the column (the stored SQL would
    * silently break), trading false refusals on collision-prone names
    * for never corrupting a live rule — Delta refuses the same way.
    */
  private def exprMentions(sql: String, column: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(column) +
      "(?![A-Za-z0-9_])").r.findFirstIn(sql).isDefined

  private def requireNoStoredSqlOn(st: LogState, schema: StructType,
                                   column: String, op: String): Unit = {
    constraintsOf(st.configuration).foreach { case (name, sql) =>
      require(!exprMentions(sql, column),
        s"DeltaLog.$op: CHECK constraint $name references $column — " +
          "drop the constraint first")
    }
    schema.fields
      .filter(_.metadata.contains("delta.generationExpression"))
      .foreach { f =>
        val sql = f.metadata.getString("delta.generationExpression")
        require(f.name == column || !exprMentions(sql, column),
          s"DeltaLog.$op: generated column ${f.name}'s expression " +
            s"references $column — drop the generated column first")
      }
  }

  /** `ALTER TABLE … RENAME COLUMN` — the zero-rewrite rename column
    * mapping exists for: ONE metaData commit changes the field's
    * LOGICAL name while its `physicalName`/`id` (what data files
    * store, and what stats/partitionValues/blooms are keyed by) stay
    * put, so every existing file keeps reading untouched. Refused on
    * unmapped tables (their physical layout IS their logical names —
    * Delta requires mapping the same way), on unknown/taken names,
    * and when a CHECK constraint or another column's generation
    * expression references the column. Partition-column renames carry
    * through `partitionColumns` (logical there; the recorded
    * physical-keyed partitionValues stay valid).
    */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "renameColumn")
    require(mappingMode(st) != "none",
      s"DeltaLog.renameColumn: $root has no column mapping — a rename " +
        "would orphan every data file's stored column; enable mapping " +
        "(mode name or id) first")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    require(schema.fieldNames.contains(from),
      s"DeltaLog.renameColumn: no column $from in $root")
    require(!schema.fieldNames.contains(to),
      s"DeltaLog.renameColumn: column $to already exists in $root")
    requireNoStoredSqlOn(st, schema, from, "renameColumn")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    writeCommitFile(root, v + 1, Seq(MetaData(st.tableId,
      renamed.json, st.partitionColumns.map(c => if (c == from) to else c),
      st.configuration)), operation = "RENAME COLUMN")
    v + 1
  }

  /** `ALTER TABLE … DROP COLUMN` — a metaData-only commit removes the
    * field from the declared schema; data files keep their physical
    * column (readers project by the remaining mapped names, so the
    * bytes become dead weight reclaimed by the next rewrite), which
    * is why the protocol gates the operation on column mapping. A
    * later re-add of the same LOGICAL name gets a FRESH
    * physicalName/id from [[assignMapping]] and therefore never
    * resurrects the dropped bytes. Refused: unmapped tables,
    * partition columns, the last column, and columns a CHECK
    * constraint or generation expression references.
    */
  def dropColumn(spark: SparkSession, root: String,
                 column: String): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritable(st, "dropColumn")
    require(mappingMode(st) != "none",
      s"DeltaLog.dropColumn: $root has no column mapping — dropping " +
        "would shift what positional readers see; enable mapping " +
        "(mode name or id) first")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    require(schema.fieldNames.contains(column),
      s"DeltaLog.dropColumn: no column $column in $root")
    require(!st.partitionColumns.contains(column),
      s"DeltaLog.dropColumn: $column partitions $root — repartition " +
        "the table instead")
    require(schema.fields.length > 1,
      s"DeltaLog.dropColumn: $column is the last column of $root")
    requireNoStoredSqlOn(st, schema, column, "dropColumn")
    val remaining = StructType(schema.fields.filterNot(_.name == column))
    writeCommitFile(root, v + 1, Seq(MetaData(st.tableId,
      remaining.json, st.partitionColumns, st.configuration)),
      operation = "DROP COLUMN")
    v + 1
  }

  /** Stats key for `column`: under column mapping, recorded stats are
    * keyed by PHYSICAL name (both external writers and this one derive
    * them from the parquet footer, which stores physical fields).
    */
  private def statsKeyOf(st: LogState, column: String): String =
    if (mappingMode(st) != "none")
      st.schema.map(sch => physicalTopLevel(
        StructType(sch.filter(_.name == column)))
        .getOrElse(column, column)).getOrElse(column)
    else column

  /** `column` as [[mightSatisfy]] names it: the stats (physical) key,
    * with the declared type.
    */
  private def statsColumn(st: LogState, column: String): AttributeReference =
    AttributeReference(statsKeyOf(st, column),
      st.schema.map(_.apply(column).dataType).getOrElse(NullType))()

  /** A DML operation's `column BETWEEN lo AND hi` for [[mightSatisfy]]:
    * on an integral or DECIMAL column each bound is cast to the column's
    * type in TRY mode, so a bound the type cannot hold turns NULL; a NULL
    * bound, or any other column type, keeps every file.
    */
  private def statsBetween(st: LogState, column: String, lo: Long,
                           hi: Long): Expression = {
    val a = statsColumn(st, column)
    def bound(v: Long) = Literal(a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType =>
        Cast(Literal(v), a.dataType, None, EvalMode.TRY).eval()
      case _ => null
    }, a.dataType)
    And(GreaterThanOrEqual(a, bound(lo)), LessThanOrEqual(a, bound(hi)))
  }

  /** The one file-skipping rule, for reads (the scan's
    * [[LogFileIndex]], on Spark's pushed data filters) and writes (the
    * DML candidate sets): false only when the file's add `stats`, or its
    * footer bloom, prove that no row satisfies every predicate in
    * `preds`. Predicates name columns by PHYSICAL name, the key of both
    * the stats and the footer. The rule recurses through And/Or; its
    * leaves are `=`, `<`, `<=`, `>`, `>=` against a literal on either
    * side, IN and INSET (min/max), and IS [NOT] NULL (`nullCount` against
    * `numRecords`). Min/max prune integral, DECIMAL, DATE and STRING
    * columns: a recorded bound is typed by the [[typedPartitionValue]]
    * cast in TRY mode and compared by Catalyst's ordering for the type.
    * STRING bounds and literals must be ASCII: external writers truncate
    * string stats, and only there do all the orderings in play agree.
    * `=`/IN on a [[bloomProbeable]] column then probe the footer bloom,
    * only on files the stats kept. Any other shape or type, a
    * cast-wrapped column, or a missing or uncastable stat keeps the
    * file. Stats are physical, so the rule holds under deletion vectors
    * (a DV only removes rows).
    */
  private def mightSatisfy(preds: Seq[Expression],
      file: org.apache.hadoop.fs.Path, stats: Option[String],
      fieldIds: Map[String, Long],
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    preds.isEmpty || {
      val s = stats.map(statsReader.readTree)
        .getOrElse(mapper.missingNode())
      val tz = SQLConf.get.sessionLocalTimeZone
      def ascii(v: Any) = v.toString.forall(_ < 0x80)
      def longOf(n: JsonNode) = if (n.isNumber) Some(n.asLong()) else None
      // typed recorded (min, max) of a pruned column, when both cast
      def bounds(a: AttributeReference): Option[(Any, Any)] = {
        val numeric = a.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               _: DecimalType => Some(true)
          case DateType | StringType => Some(false)
          case _ => None
        }
        def typed(n: JsonNode) = numeric
          .filter(num => if (num) n.isNumber else n.isTextual)
          .flatMap(_ => Option(Cast(Literal(n.asText()), a.dataType,
            Some(tz), EvalMode.TRY).eval()))
        for {
          lo <- typed(s.path("minValues").path(a.name))
          hi <- typed(s.path("maxValues").path(a.name))
          if a.dataType != StringType || (ascii(lo) && ascii(hi))
        } yield (lo, hi)
      }
      // a literal the rule cannot place: NULL, or typed unlike the column
      def unknown(a: AttributeReference, v: Literal) =
        v.value == null || v.dataType != a.dataType
      // might a row in the file's [min, max] satisfy `test` against `v`?
      def range(a: AttributeReference, v: Literal)(
          test: (Ordering[Any], Any, Any) => Boolean): Boolean =
        unknown(a, v) || (a.dataType == StringType && !ascii(v.value)) ||
          bounds(a).forall { case (lo, hi) =>
            test(TypeUtils.getInterpretedOrdering(a.dataType), lo, hi) }
      def member(a: AttributeReference, vs: Seq[Literal],
                 bloom: Boolean): Boolean = vs.exists(unknown(a, _)) || {
        val in = vs.filter(v => range(a, v)((o, lo, hi) =>
          o.lteq(lo, v.value) && o.gteq(hi, v.value)))
        in.nonEmpty && (!bloom || !bloomProbeable(a.dataType) ||
          bloomKeepsFile(file, a.name, fieldIds.get(a.name),
            in.map(_.value match {
              case u: UTF8String => u.toString
              // integral and DATE (epoch days): the probe's Long form
              case n: java.lang.Number => java.lang.Long.valueOf(n.longValue)
              case other => other
            }), conf))
      }
      def might(e: Expression, bloom: Boolean): Boolean = e match {
        case And(l, r) => might(l, bloom) && might(r, bloom)
        case Or(l, r) => might(l, bloom) || might(r, bloom)
        case EqualTo(v: Literal, a: AttributeReference) =>
          might(EqualTo(a, v), bloom)
        case LessThan(v: Literal, a: AttributeReference) =>
          might(GreaterThan(a, v), bloom)
        case LessThanOrEqual(v: Literal, a: AttributeReference) =>
          might(GreaterThanOrEqual(a, v), bloom)
        case GreaterThan(v: Literal, a: AttributeReference) =>
          might(LessThan(a, v), bloom)
        case GreaterThanOrEqual(v: Literal, a: AttributeReference) =>
          might(LessThanOrEqual(a, v), bloom)
        case EqualTo(a: AttributeReference, v: Literal) =>
          member(a, Seq(v), bloom)
        case In(a: AttributeReference, vs)
            if vs.forall(_.isInstanceOf[Literal]) =>
          member(a, vs.map(_.asInstanceOf[Literal]), bloom)
        case InSet(a: AttributeReference, vs) =>
          member(a, vs.toSeq.map(Literal(_, a.dataType)), bloom)
        case LessThan(a: AttributeReference, v: Literal) =>
          range(a, v)((o, lo, _) => o.lt(lo, v.value))
        case LessThanOrEqual(a: AttributeReference, v: Literal) =>
          range(a, v)((o, lo, _) => o.lteq(lo, v.value))
        case GreaterThan(a: AttributeReference, v: Literal) =>
          range(a, v)((o, _, hi) => o.gt(hi, v.value))
        case GreaterThanOrEqual(a: AttributeReference, v: Literal) =>
          range(a, v)((o, _, hi) => o.gteq(hi, v.value))
        case IsNull(a: AttributeReference) =>
          longOf(s.path("nullCount").path(a.name)).forall(_ > 0L)
        case IsNotNull(a: AttributeReference) =>
          (longOf(s.path("nullCount").path(a.name)),
            longOf(s.path("numRecords"))) match {
            case (Some(nulls), Some(rows)) => nulls < rows
            case _ => true
          }
        case _ => true
      }
      preds.forall(might(_, bloom = false)) &&
        preds.forall(might(_, bloom = true))
    }

  /** Stats JSON reader: decimal bounds parse exactly, not through a
    * double.
    */
  private val statsReader = mapper.reader(
    com.fasterxml.jackson.databind.DeserializationFeature
      .USE_BIG_DECIMAL_FOR_FLOATS)

  /** Inverse of [[decodePath]]: percent-encode a table-relative path the
    * way the protocol expects (spaces, '%', … escaped; '/', '=' kept).
    */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** Read the table AT Delta commit `version`, via the Delta log alone
    * — the same path for graft-written and externally-written tables.
    * The file list resolves HERE, eagerly, so the frame is a pinned
    * snapshot that later commits cannot change. The schema is pinned
    * from the log's `metaData`, so an empty active set still returns
    * the declared shape (and mixed-footer unions resolve the Delta way:
    * declared schema wins). For a PARTITIONED table, partition-column
    * values come from each add's `partitionValues`, typed by
    * [[typedPartitionValue]] in the scan's file index — a filter on a
    * partition column prunes whole files at planning (pinned by
    * DeltaLogSpec via the executed scan's `numFiles`).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val st = replay(spark, root, version)
    assembleFiles(spark, root, st, st.files)
  }

  /** Build the DataFrame for a (possibly pruned) subset of a state's
    * active files — the full-schema entry point to [[scanFiles]] for
    * [[readAt]], the stats-skipping read and the change feed.
    */
  private def assembleFiles(spark: SparkSession, root: String, st: LogState,
                            files: Seq[AddFile]): DataFrame =
    scanFiles(spark, root, st, files, st.schema.getOrElse(
      throw new IllegalStateException(
        s"DeltaLog: no metaData action in $root log — schema unknown")))

  /** partitionValues key for logical partition column `c` — PHYSICAL
    * under name-mode column mapping (that is what mapped writers record;
    * logical accepted as a fallback for writers that kept it).
    */
  private def pvKeyOf(st: LogState, schema: StructType, c: String,
                      pv: Map[String, String]): Option[String] = {
    val candidates =
      if (mappingMode(st) != "none")
        Seq(physicalTopLevel(StructType(schema.filter(_.name == c)))
          .getOrElse(c, c), c)
      else Seq(c)
    candidates.find(pv.contains)
  }

  /** Metadata-only COUNT(*) over the CURRENT snapshot from the log
    * alone — no footer or data IO: sums `numRecords` from every active
    * add's `stats`. Requires stats on every active file (graft-written
    * logs carry them; an external log without stats fails loudly
    * rather than undercounting). Output is ONE row: (n_rows, n_files).
    */
  def statsCount(spark: SparkSession, root: String): DataFrame = {
    val st = replay(spark, root, currentVersion(root))
    val counts = st.files.map { f =>
      val s = f.stats.getOrElse(throw new IllegalStateException(
        s"DeltaLog.statsCount: active file ${f.path} has no stats — " +
          "cannot count from metadata"))
      val n = mapper.readTree(s).path("numRecords")
      require(n.isNumber,
        s"DeltaLog.statsCount: stats of ${f.path} lack numRecords")
      // physical rows minus the file's deleted positions (descriptor
      // cardinality) — still zero data IO
      n.asLong() - f.deletionVector.map(_.cardinality).getOrElse(0L)
    }
    spark.createDataFrame(Seq((counts.sum, counts.size.toLong)))
      .toDF("n_rows", "n_files")
  }

  /** Metadata-only COUNT(*) from parquet FOOTERS — the count a lakehouse
    * answers without touching a data page and without trusting the
    * log's `stats` (which external writers may omit): each active file's
    * footer carries exact per-row-group row counts, so the snapshot's
    * total is the sum over the files [[filesAt]] lists, minus each
    * file's deletion-vector cardinality. Footer reads are DISTRIBUTED
    * (Hadoop FileSystem API, so the same code walks HDFS/S3); bytes
    * read ∝ footer size, not table size. q225 gates the sum against
    * the real COUNT(*).
    *
    * Output is ONE row: (n_rows, n_files).
    */
  def countFast(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val st = replay(spark, root, currentVersion(root))
    val files = st.files.map(_.path)
    val deleted = st.files.flatMap(_.deletionVector).map(_.cardinality).sum
    // Ship the SESSION'S hadoopConfiguration to the tasks (resolved
    // key/value pairs, rebuilt into a Configuration per task) — a bare
    // `new Configuration()` inside the task loses S3 credentials / FS
    // settings.
    val hadoopProps: Array[(String, String)] =
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    val confBc = spark.sparkContext.broadcast(hadoopProps)
    spark.createDataset(files.map(f => resolvePath(root, f).toString))
      .repartition(math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => conf.set(k, v) }
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }
      .toDF("__n")
      .agg((org.apache.spark.sql.functions.coalesce(sum(col("__n")),
        lit(0L)) - lit(deleted)).as("n_rows"), count(lit(1)).as("n_files"))
  }

  /** Nullability and field metadata are write-path metadata, not
    * physical schema — the shared normalization for schema-shape
    * checks ([[commitData]] and the slice commits).
    */
  private def normSchema(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = normSchema(f.dataType), nullable = true,
        metadata = Metadata.empty)))
    case a: ArrayType => a.copy(elementType = normSchema(a.elementType),
      containsNull = true)
    case m: MapType => m.copy(valueType = normSchema(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** `CONVERT TO DELTA` — adopt an EXISTING parquet directory in place:
    * commit 0 declares protocol + metaData (schema from the parquet
    * footers via Spark's own merged read schema; partition columns
    * from the caller, typed from the hive paths' `key=value` segments
    * the way Spark infers them — caller passes their declared types
    * via `partitionSchema`) and one `add` per data file with footer
    * stats, so file skipping works from the first read. ZERO data
    * rewritten or moved — the defining property of CONVERT. Refuses a
    * directory that already has a `_delta_log`. Returns version 0.
    *
    * Scale: one footer read per file for stats (the same IO Delta's
    * own CONVERT pays); file listing is a local walk here — on object
    * stores the manifest-building step would be the distributed
    * countFast-style list.
    */
  def convertToDelta(spark: SparkSession, root: String,
                     partitionSchema: StructType = new StructType()): Long = {
    require(!Files.isDirectory(logDir(root)),
      s"DeltaLog.convertToDelta: $root already has a _delta_log")
    require(Files.isDirectory(Paths.get(root)),
      s"DeltaLog.convertToDelta: $root is not a directory")
    val pcs = partitionSchema.fieldNames.toSeq
    val rootPath = Paths.get(root)
    val walk = Files.walk(rootPath)
    val rels =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => rootPath.relativize(p).toString
          .replace(java.io.File.separatorChar, '/'))
        // hive/Spark listing semantics: underscore- and dot-prefixed
        // segments (_change_data, _SUCCESS dirs, hidden staging) are
        // metadata, never table data
        .filterNot(_.split('/').exists(seg =>
          seg.startsWith("_") || seg.startsWith(".")))
        .toSeq.sorted
      finally walk.close()
    require(rels.nonEmpty,
      s"DeltaLog.convertToDelta: no parquet files under $root")
    // data schema from Spark's parquet reader (footer-merged), the
    // partition columns appended with their declared types
    val dataSchema = spark.read.parquet(
      rels.map(r => Paths.get(root, r).toString): _*).schema
    pcs.foreach(c => require(!dataSchema.fieldNames.contains(c),
      s"DeltaLog.convertToDelta: partition column $c also exists in " +
        "the data files"))
    val schema = StructType(dataSchema.fields ++ partitionSchema.fields)
    val conf = spark.sparkContext.hadoopConfiguration
    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft-delta:" + root).getBytes("UTF-8")).toString
    val adds = rels.map { rel =>
      val pv = if (pcs.isEmpty) Map.empty[String, String]
               else partitionValuesOf(rel, pcs)
      addFor(root, rel, pv, dataChange = true, conf)
    }
    Files.createDirectories(logDir(root))
    writeCommitFile(root, 0L, Seq(Protocol(1, 2, Nil, Nil),
      MetaData(tableId, schema.json, pcs, Map.empty)) ++ adds,
      operation = "CONVERT")
    0L
  }

  /** Footer-only bloom probe: true when the file might contain ANY of
    * `keys` (LONG or STRING) in the column named `physName` — or when
    * no bloom was written (conservatively kept). On an id-mode table
    * the file's stored column name may legally differ from the
    * declared physicalName, so when `fieldId` is given the footer
    * SCHEMA resolves the actual stored name by field id first (the
    * q287 resolution rule — a name match there could silently probe a
    * different column). One footer open per file regardless of key
    * count; data pages are never read.
    */
  private def bloomKeepsFile(file: org.apache.hadoop.fs.Path,
      physName: String, fieldId: Option[Long], keys: Seq[Any],
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val colName = fieldId.flatMap { id =>
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .find(f => Option(f.getId).exists(_.intValue().toLong == id))
          .map(_.getName)
      }.getOrElse(physName)
      r.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == colName) match {
          case None => true
          case Some(cm) =>
            val bf = r.getBloomFilterDataReader(block).readBloomFilter(cm)
            if (bf == null) true
            else {
              // hash by the FILE's physical form: an int32 column's
              // bloom hashed 4-byte ints at write time — probing it
              // with hash(long) would answer garbage (silently keeping
              // OR dropping the wrong files); a long key that cannot
              // narrow to the stored int32 cannot be in the file
              import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
              val ptn = cm.getPrimitiveType.getPrimitiveTypeName
              keys.exists {
                case l: java.lang.Long => ptn match {
                  case PrimitiveTypeName.INT64 =>
                    bf.findHash(bf.hash(l.longValue()))
                  case PrimitiveTypeName.INT32 =>
                    val v = l.longValue()
                    v >= Int.MinValue && v <= Int.MaxValue &&
                      bf.findHash(bf.hash(v.toInt))
                  case _ => true // unexpected physical form: keep
                }
                case s: String if ptn == PrimitiveTypeName.BINARY =>
                  bf.findHash(bf.hash(
                    org.apache.parquet.io.api.Binary.fromString(s)))
                case _ => true // unprobeable key/physical pair: keep
              }
            }
        }
      }
    } finally r.close()
  }

  /** Copy-on-write DELETE of rows with `column` in [lo, hi] over the
    * current snapshot, committed as `remove`+`add` with
    * `dataChange=true`. File-skipping applies BEFORE any IO: only files
    * whose stats range intersects the interval are touched; a touched
    * file that loses every row becomes a pure `remove`. When `column`
    * IS a partition column the delete is pure metadata — whole
    * partitions drop with zero data IO (partition values must then be
    * numeric). No-op (no commit) when nothing matches. Returns the
    * table version afterwards.
    */
  def deleteWhereLong(spark: SparkSession, root: String, column: String,
                      lo: Long, hi: Long): Long = {
    require(lo <= hi, s"DeltaLog.deleteWhereLong: empty interval [$lo, $hi]")
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "deleteWhereLong")
    requireNotAppendOnly(st, "deleteWhereLong")
    requireWritable(st, "deleteWhereLong")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val pcSet = st.partitionColumns.toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val actions = Seq.newBuilder[Action]
    var touched = 0
    if (pcSet(column)) {
      st.files.foreach { f =>
        val pv = f.partitionValues
        val key = pvKeyOf(st, schema, column, pv).getOrElse(
          throw new IllegalArgumentException(
            s"DeltaLog.deleteWhereLong: add ${f.path} lacks " +
              s"partitionValues for declared partition column $column"))
        val inRange = Option(pv(key)).exists { s =>
          try { val x = s.toLong; x >= lo && x <= hi }
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"DeltaLog.deleteWhereLong: partition value '$s' of " +
                s"$column is not numeric") }
        }
        if (inRange) { actions += removeOf(f.path, true); touched += 1 }
      }
    } else {
      val dataSchema = StructType(schema.filterNot(f => pcSet(f.name)))
      val inRange = Seq(statsBetween(st, column, lo, hi))
      val overlapping = st.files.filter(f => mightSatisfy(
        inRange, dataPath(root, f.path), f.stats, Map.empty, conf))
      val matches = col(column) >= lo && col(column) <= hi
      // stats say overlap, but overlap ≠ match: rewriting a file no row
      // of which matches would poison any later readAppendsSince over
      // the tail for a change that changed nothing. ONE probe job over
      // the predicate column finds the exact touched set.
      val exactTouched = probeTouched(spark, root, overlapping,
        StructType(Seq(dataSchema(column))), _.filter(matches), st)
      // Change data feed: a partial-file DELETE cannot be synthesized
      // from its remove+add pair (survivor rows would read as
      // delete+reinsert), so when CDF is on the matched rows land in a
      // CDC file — one per touched partition, predicate-pushed re-read
      // of only the touched source files (still on disk until vacuum).
      // The cdc write reads only PRE-rewrite files and writes only under
      // _change_data, so it is independent of the rewrite job — launched
      // here so the two jobs OVERLAP (FIFO scheduling back-fills the
      // rewrite's task tail) instead of paying two sequential fixed
      // costs; an orphaned cdc file from a failed rewrite is never
      // referenced by any commit and falls to vacuum.
      val cdcFut: Option[Future[Seq[AddCdc]]] =
        if (!cdfEnabled(st)) None
        else Some(Future {
          exactTouched.groupBy(_.partitionValues).toSeq
            .sortBy(_._1.mkString(" "))
            .map { case (pv, group) =>
              // live rows only: a row the file's prior DV already
              // deleted must not re-emit as a delete
              val deleted = scanFiles(spark, root, st, group, dataSchema)
                .filter(matches)
                .withColumn(ChangeTypeCol, lit("delete"))
              writeCdcFile(deleted, root, pv, st)
            }
        }(sideJobEc))
      // ONE rewrite job over every touched file (a file that keeps zero
      // rows simply never appears — pure remove). A DV-carrying file
      // rewrites its LIVE survivors and the new add drops the DV.
      val rewritten = rewriteFilesBatched(spark, root, exactTouched,
        dataSchema, _.filter(!matches || col(column).isNull),
        "graft-delta-del", st)
      exactTouched.foreach { f =>
        val rel = f.path
        actions += removeOf(rel, true); touched += 1
        rewritten.get(rel).foreach { part =>
          // a shallow-cloned (absolute) source file rewrites into
          // THIS table's root — never beside the source
          val full = resolvePath(root, rel)
          val targetDir =
            if (rel.startsWith("/")) Paths.get(root) else full.getParent
          val target = targetDir.resolve(part.getFileName)
          Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
          val newRel = Paths.get(root).relativize(target).toString
            .replace(java.io.File.separatorChar, '/')
          actions += addFor(root, newRel, f.partitionValues,
            dataChange = true, conf)
        }
      }
      cdcFut.foreach(f => actions ++= Await.result(f, Duration.Inf))
    }
    if (touched == 0) return v
    writeCommitFile(root, v + 1, actions.result(), operation = "DELETE")
    postCommit(spark, root, st, v + 1)
    v + 1
  }

  /** DELETE via DELETION VECTORS — the modern Delta write path
    * (PROTOCOL.md table feature `deletionVectors`; what Delta 3.x DML
    * does by default): instead of rewriting every touched file, the
    * matching ROW POSITIONS are recorded in a roaring bitmap stored in
    * a `deletion_vector_<uuid>.bin` sidecar, and each touched file is
    * re-added with the DV descriptor attached. IO is matching-rows
    * metadata, never a data rewrite — on a 100 TB table a small DELETE
    * touches kilobytes where copy-on-write rewrites gigabytes. Files
    * that already carry a DV get the new positions MERGED in (one
    * descriptor per file, always the union). The commit upgrades the
    * table protocol to 3/7 + `deletionVectors` the first time a DV
    * lands, exactly as Delta's own writer does. File skipping applies
    * as in [[deleteWhereLong]]; no-op (no commit) when nothing new
    * matches. Returns the table version afterwards.
    *
    * Positions per file are collected to the driver bitmap-sized (the
    * same shape Delta's writer materializes); the scan that finds them
    * is predicate-pushed and reads only stat-overlapping files.
    */
  def deleteWhereLongDV(spark: SparkSession, root: String, column: String,
                        lo: Long, hi: Long): Long = {
    require(lo <= hi, s"DeltaLog.deleteWhereLongDV: empty interval [$lo, $hi]")
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "deleteWhereLongDV")
    requireNotAppendOnly(st, "deleteWhereLongDV")
    requireWritable(st, "deleteWhereLongDV")
    require(!st.configuration.get("delta.symlinkFormatManifest.enabled")
      .exists(_.trim.equalsIgnoreCase("true")),
      "DeltaLog.deleteWhereLongDV: the table auto-generates symlink " +
        "manifests, and whole-file manifest readers would resurrect " +
        "DV-deleted rows — use the copy-on-write deleteWhereLong, or " +
        "unset delta.symlinkFormatManifest.enabled first")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val pcSet = st.partitionColumns.toSet
    require(!pcSet(column),
      "DeltaLog.deleteWhereLongDV: partition-column deletes are pure " +
        "metadata — use deleteWhereLong")
    val dataSchema = StructType(schema.filterNot(f => pcSet(f.name)))
    val conf = spark.sparkContext.hadoopConfiguration
    val inRange = Seq(statsBetween(st, column, lo, hi))
    val overlapping = st.files.filter(f => mightSatisfy(
      inRange, dataPath(root, f.path), f.stats, Map.empty, conf))
    val actions = Seq.newBuilder[Action]
    val dvUuid = java.util.UUID.randomUUID()
    val dvFile = Paths.get(root, Dv.dvFileName(dvUuid))
    val pathOrInline = Dv.z85Encode(Dv.uuidBytes(dvUuid))
    val matches = col(column) >= lo && col(column) <= hi
    // Matched LIVE positions per file are built EXECUTOR-side into the
    // serialized portable bitmap by ONE aggregation job over one tagged
    // scan: the driver receives bitmap BYTES per file, never row
    // positions — driver memory ∝ bitmap size, not deleted-row count.
    val matchedBytes: Map[String, Array[Byte]] =
      if (overlapping.isEmpty) Map.empty
      else {
        val bitmapAgg = org.apache.spark.sql.functions.udaf(
          BitmapAgg, org.apache.spark.sql.Encoders.scalaLong)
        scanFiles(spark, root, st, overlapping,
            StructType(Seq(dataSchema(column))), tagged = true)
          .filter(matches)
          .groupBy(col(SrcTagCol)).agg(bitmapAgg(col(PosCol)).as("__dv"))
          .collect()
          .map(r => overlapping(r.getInt(0)).path -> r.getAs[Array[Byte]](1))
          .toMap
      }
    // every matched position is live, so each matched file gains
    // fresh deletes
    if (matchedBytes.isEmpty) return v
    val touched = overlapping.filter(f => matchedBytes.contains(f.path))
    touched.foreach { f =>
      val matchedPs = Dv.deserialize(matchedBytes(f.path))
      val union = f.deletionVector.map(_.read(root))
        .map(e => Dv.union(e, matchedPs)).getOrElse(matchedPs)
      val (offset, size) = Dv.appendBlob(dvFile, Dv.serialize(union))
      val desc = DvDescriptor("u", pathOrInline, Some(offset), size,
        union.cardinality)
      actions += removeOf(f.path, dataChange = true)
      actions += addFor(root, f.path, f.partitionValues, dataChange = true,
        conf, dv = Some(desc))
    }
    // CDF: a DV delete is invisible to add/remove synthesis (the data
    // file is re-added byte-identical), so the freshly deleted rows
    // MUST land in a CDC file — the predicate re-finds them over the
    // files' live rows (rows a PRIOR DV deleted stay out), one scan
    // per touched partition.
    if (cdfEnabled(st)) {
      touched.groupBy(_.partitionValues).toSeq.sortBy(_._1.mkString(" "))
        .foreach { case (pv, group) =>
          val deleted = scanFiles(spark, root, st, group, dataSchema)
            .filter(matches)
            .withColumn(ChangeTypeCol, lit("delete"))
          actions += writeCdcFile(deleted, root, pv, st)
        }
    }
    // first DV on this table: upgrade the protocol the way Delta does
    val hasDvFeature = st.minReaderVersion >= 3 &&
      st.readerFeatures.contains("deletionVectors")
    // a legacy minWriterVersion implies features version 7 must
    // ENUMERATE — dropping them here would let a feature-gated external
    // writer stop honoring e.g. changeDataFeed
    val protocolUpgrade = Option.when(!hasDvFeature)(Protocol(3, 7,
      (st.readerFeatures :+ "deletionVectors").distinct,
      (legacyWriterFeatures(st.minWriterVersion) ++ st.writerFeatures :+
        "deletionVectors").distinct))
    writeCommitFile(root, v + 1, protocolUpgrade.toSeq ++ actions.result(),
      operation = "DELETE")
    postCommit(spark, root, st, v + 1)
    v + 1
  }

  /** Copy-on-write UPDATE: rows with `column` in [lo, hi] get the `set`
    * expressions applied (other rows pass through bit-identical);
    * committed as `remove`+`add` with `dataChange=true`. File skipping
    * as in [[deleteWhereLong]]: only stat-overlapping files rewrite.
    * `set` columns must be data columns (partition values are identity
    * — an UPDATE that moves rows across partitions is a delete+insert,
    * out of scope here); each expression is cast back to the declared
    * type so the schema cannot drift. No-op when nothing overlaps.
    */
  def updateWhereLong(spark: SparkSession, root: String, column: String,
                      lo: Long, hi: Long,
                      set: Map[String, org.apache.spark.sql.Column]): Long = {
    require(lo <= hi, s"DeltaLog.updateWhereLong: empty interval [$lo, $hi]")
    require(set.nonEmpty, "DeltaLog.updateWhereLong: empty SET")
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "updateWhereLong")
    requireNotAppendOnly(st, "updateWhereLong")
    requireWritable(st, "updateWhereLong")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val pcSet = st.partitionColumns.toSet
    require(!pcSet(column) && set.keySet.forall(!pcSet(_)),
      "DeltaLog.updateWhereLong: partition columns cannot be predicated " +
        "or SET (cross-partition moves are delete+insert)")
    val dataSchema = StructType(schema.filterNot(f => pcSet(f.name)))
    set.keySet.foreach(k => require(dataSchema.fieldNames.contains(k),
      s"DeltaLog.updateWhereLong: SET column $k not in data schema"))
    // generated columns cannot be SET; they RECOMPUTE after the SET
    // expressions (Delta's UPDATE semantics), appended to the ordered
    // assignment list so they see post-SET values
    val gens = generationExprs(dataSchema)
    gens.foreach { case (c, _) => require(!set.contains(c),
      s"DeltaLog.updateWhereLong: $c is GENERATED ALWAYS — it " +
        "recomputes from its expression, it cannot be SET") }
    val assignments = set.toSeq.sortBy(_._1) ++
      gens.map { case (c, g) => c -> expr(g) }
    val conf = spark.sparkContext.hadoopConfiguration
    val inRange = Seq(statsBetween(st, column, lo, hi))
    val overlapping = st.files.filter(f => mightSatisfy(
      inRange, dataPath(root, f.path), f.stats, Map.empty, conf))
    if (overlapping.isEmpty) return v
    val matches = col(column) >= lo && col(column) <= hi
    // stats overlap ≠ rows match: rewriting an unmatched file would
    // poison later readAppendsSince tails for a change that changed
    // nothing. ONE probe job over the predicate column, not a limit-1
    // probe per candidate file.
    val exactTouched = probeTouched(spark, root, overlapping,
      StructType(Seq(dataSchema(column))), _.filter(matches), st)
    if (exactTouched.isEmpty) return v
    val actions = Seq.newBuilder[Action]
    // CDF: matched rows before and after the SET — the only record of
    // WHICH rows changed (the remove+add pair is file-grain); one
    // multi-file scan per touched partition. Postimage from the MATCHED
    // source rows, not the rewritten file: a SET that rewrites the
    // predicate column itself would make the new file unfilterable.
    // Pre and post images come from ONE scan: originals are staged
    // under __graft_pre_* aliases, the ordered assignments fold on top
    // (generated columns must see post-SET values), and a row-doubling
    // explode emits both images — half the touched-file IO of the
    // previous pre ∪ post two-leg union. The cdc write reads only
    // PRE-rewrite files and writes only under _change_data, so it is
    // independent of the rewrite job and launched to OVERLAP it (FIFO
    // back-fill); an orphaned cdc file from a failed rewrite is never
    // referenced by any commit and falls to vacuum.
    val cdcFut: Option[Future[Seq[AddCdc]]] =
      if (!cdfEnabled(st)) None
      else Some(Future {
        import org.apache.spark.sql.functions.{array, explode, struct}
        exactTouched.groupBy(_.partitionValues).toSeq
          .sortBy(_._1.mkString(" "))
          .map { case (pv, group) =>
            // live rows only: prior-DV-deleted rows are not updated
            val matched = scanFiles(spark, root, st, group, dataSchema)
              .filter(matches)
            val staged = dataSchema.fieldNames.foldLeft(matched)(
              (d, c) => d.withColumn(s"__graft_pre_$c", col(c)))
            val folded = assignments.foldLeft(staged) { case (df, (c, e)) =>
              df.withColumn(c, e.cast(dataSchema(c).dataType))
            }
            val both = folded.select(explode(array(
                struct(dataSchema.fieldNames.toSeq
                  .map(c => col(s"__graft_pre_$c").as(c)) :+
                  lit("update_preimage").as(ChangeTypeCol): _*),
                struct(dataSchema.fieldNames.toSeq.map(c => col(c)) :+
                  lit("update_postimage").as(ChangeTypeCol): _*)))
                .as("__graft_chg"))
              .select((dataSchema.fieldNames.toSeq :+ ChangeTypeCol)
                .map(f => col(s"__graft_chg.$f")): _*)
            writeCdcFile(both, root, pv, st)
          }
      }(sideJobEc))
    // ONE rewrite job over every touched file; an UPDATE keeps every
    // LIVE row, so each touched rel must come back. A DV-carrying file
    // rewrites its live rows and the new add drops the DV.
    val rewritten = rewriteFilesBatched(spark, root, exactTouched,
      dataSchema,
      source => enforceInvariants(
        assignments.foldLeft(source) { case (df, (c, e)) =>
          df.withColumn(c,
            org.apache.spark.sql.functions.when(matches, e)
              .otherwise(col(c)).cast(dataSchema(c).dataType))
        }, dataSchema, st.configuration),
      "graft-delta-upd", st)
    exactTouched.foreach { f =>
      val rel = f.path
      val part = rewritten.getOrElse(rel, throw new IllegalStateException(
        s"DeltaLog.updateWhereLong: rewrite of $rel produced no rows — " +
          "an UPDATE must keep every row"))
      val full = resolvePath(root, rel)
      val targetDir =
        if (rel.startsWith("/")) Paths.get(root) else full.getParent
      val target = targetDir.resolve(part.getFileName)
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
      val newRel = Paths.get(root).relativize(target).toString
        .replace(java.io.File.separatorChar, '/')
      actions += removeOf(rel, true)
      actions += addFor(root, newRel, f.partitionValues, dataChange = true,
        conf)
    }
    cdcFut.foreach(f => actions ++= Await.result(f, Duration.Inf))
    writeCommitFile(root, v + 1, actions.result(), operation = "UPDATE")
    postCommit(spark, root, st, v + 1)
    v + 1
  }

  /** Copy-on-write MERGE — Delta's `MERGE INTO` in its most common
    * shape (the reference's upsert: match on a key, update every
    * column, insert the rest; analytics/spark/jobs/silver_orders.py
    * merges on STRING `order_id` into an `event_date`-partitioned
    * silver table — exactly this): every source row whose `key`
    * matches a target row REPLACES that row whole, source rows with no
    * match INSERT. One commit: each touched target file rewrites
    * WITHOUT its matched rows (`remove`+`add`, staying in its
    * partition directory), the full source lands as target-sized new
    * files routed by partition value — so target = (target ∖ matched)
    * ∪ source, cross-partition moves fall out naturally (the old row
    * leaves its file, the new row lands where its own partition values
    * say), and untouched files are never rewritten.
    *
    * File-skipping BEFORE the exact one-job semi-join probe: integral,
    * date, decimal and string keys all prune candidates by footer-stats
    * range (a point-key merge into a sorted 100 TB table touches one
    * file), integral/date/string additionally by footer blooms; other
    * key types degrade gracefully to probing every active file — the
    * probe scan reads the key column only and still narrows the rewrite
    * to the exactly-touched set.
    *
    * Contracts, all loud: source must cover the full table schema
    * including partition columns (extra columns refused — silent drops
    * hide writer bugs); non-null source keys must be UNIQUE (Delta's
    * multiple-source-rows-match error); NULL source keys never match
    * and always insert; the key must be a data column (partition-key
    * merges are metadata games this writer doesn't play). Touched
    * files carrying deletion vectors rewrite their LIVE rows and the
    * new add CLEARS the DV; column-mapped tables (name and id modes)
    * resolve at the IO boundary. When CDF is on, matched rows land in
    * per-partition
    * `cdc` files as `update_preimage` (in the OLD row's partition) /
    * `update_postimage` and `insert` (in the SOURCE row's partition);
    * a pure-insert merge commits adds only and the feed synthesizes
    * its inserts like any append. No-op (no commit) on an empty
    * source. Returns the table version afterwards.
    */
  /** Candidate file set of a [[mergeKey]] probe, from metadata only, so
    * a point upsert into a 100 TB table opens only files that can hold a
    * matching key: [[mightSatisfy]] keeps the files whose stats overlap
    * `key BETWEEN min AND max` of the source keys, then, when the key
    * set is enumerable ([[mergeBloomMaxKeys]]) and the key type is
    * [[bloomProbeable]], the survivors that `key IN (keys)` keeps by
    * stats and footer bloom. On an UNSORTED key stats prune nothing and
    * the bloom is what keeps a point merge from scanning the whole table;
    * files [[mergeKey]] itself wrote carry a key bloom by construction.
    * IO here is footer bytes ∝ candidate count, never data pages.
    */
  private[lake] def mergeCandidates(spark: SparkSession, root: String,
      st: LogState, key: String, srcKeys: DataFrame,
      srcRows: Long): Seq[AddFile] = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val conf = spark.sparkContext.hadoopConfiguration
    val fieldIds = st.schema.map(physFieldIds(st, _)).getOrElse(Map.empty)
    def kept(files: Seq[AddFile], pred: Expression) =
      files.filter(f => mightSatisfy(Seq(pred), dataPath(root, f.path),
        f.stats, fieldIds, conf))
    val a = statsColumn(st, key)
    val kr = srcKeys.agg(fmin(col(key)), fmax(col(key))).head()
    if (kr.isNullAt(0)) Nil // all-NULL keys: pure insert
    else {
      val ranged = kept(st.files, And(
        GreaterThanOrEqual(a, Literal.create(kr.get(0), a.dataType)),
        LessThanOrEqual(a, Literal.create(kr.get(1), a.dataType))))
      if (ranged.isEmpty || !bloomProbeable(a.dataType) ||
          srcRows > mergeBloomMaxKeys) ranged
      // srcRows bounds the key count, so this collect is point/batch
      // sized by the gate above — never a bulk upsert's key set
      else kept(ranged, In(a, srcKeys.collect()
        .map(r => Literal.create(r.get(0), a.dataType)).toSeq))
    }
  }

  /** Key types the footer-bloom point layer can probe (and the
    * merge-written key bloom is worth recording for): integral and
    * date keys hash through the file's own INT32/INT64 physical form,
    * strings as UTF-8 binary. Decimals are excluded — their physical
    * encoding varies by precision (INT32/INT64/FIXED_LEN_BYTE_ARRAY)
    * across writers, so a probe hash is not reliably comparable.
    */
  private def bloomProbeable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         StringType => true
    case _ => false
  }

  /** Test seam: the pruned candidate rel set a [[mergeKey]] of `source`
    * on `key` would probe — metadata-only, no DML performed.
    */
  private[lake] def mergeCandidateRels(spark: SparkSession, root: String,
      key: String, source: DataFrame): Seq[String] = {
    val st = replay(spark, root, currentVersion(root))
    val srcKeys = source.filter(col(key).isNotNull).select(col(key))
    mergeCandidates(spark, root, st, key, srcKeys, source.count())
      .map(_.path)
  }

  def mergeKey(spark: SparkSession, root: String, key: String,
               source: DataFrame): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "mergeKey")
    requireWritable(st, "mergeKey")
    val fullSchema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val pcs = st.partitionColumns
    val pcSet = pcs.toSet
    require(fullSchema.fieldNames.contains(key),
      s"DeltaLog.mergeKey: key $key not in schema")
    require(!pcSet(key),
      s"DeltaLog.mergeKey: key $key is a partition column — match on a " +
        "data column (partition-grain replacement is overwrite territory)")
    val dataSchema = StructType(fullSchema.filterNot(f => pcSet(f.name)))
    // generated columns: computed when the source lacks them,
    // verified inline when it provides them
    val sourceG = applyGeneratedColumns(source, fullSchema)
    val missing = fullSchema.fieldNames.filterNot(sourceG.columns.contains)
    require(missing.isEmpty,
      s"DeltaLog.mergeKey: source lacks columns ${missing.mkString(", ")}")
    val extra = sourceG.columns.filterNot(fullSchema.fieldNames.contains)
    require(extra.isEmpty,
      s"DeltaLog.mergeKey: source carries extra columns " +
        s"${extra.mkString(", ")} the target schema cannot hold")
    val src = sourceG.select(fullSchema.fields
      .map(f => col(f.name).cast(f.dataType)).toSeq: _*).persist()
    try {
      // ONE pre-flight job over the persisted source replaces three
      // materializations (the isEmpty probe, the dup-key guard's
      // grouped count, and the row count): total rows = Σ of per-key
      // counts (the NULL-key group included), dup guard = the max
      // multiplicity among non-null keys. srcRows feeds BOTH the
      // insert-file binning below and the bloom-prune enumerability
      // gate.
      val srcStats = src.groupBy(col(key)).agg(count(lit(1)).as("__c"))
        .agg(sum(col("__c")).as("__n"),
          max(when(col(key).isNotNull, col("__c"))).as("__dup")).head()
      val srcRows = if (srcStats.isNullAt(0)) 0L else srcStats.getLong(0)
      if (srcRows == 0L) return v
      require(srcStats.isNullAt(1) || srcStats.getLong(1) <= 1L,
        "DeltaLog.mergeKey: multiple source rows share a key — " +
          "which one updates the matched target row is undefined")
      val srcKeys = src.filter(col(key).isNotNull).select(col(key))
      val conf = spark.sparkContext.hadoopConfiguration
      val candidates = mergeCandidates(spark, root, st, key, srcKeys,
        srcRows)
      val physMap = physicalWriteMap(st, fullSchema)
      // exact touched set by ONE semi-join probe job over the
      // candidates' key columns only
      val touched = probeTouched(spark, root, candidates,
        StructType(Seq(dataSchema(key))),
        _.join(srcKeys, Seq(key), "left_semi"), st)
        .sortBy(_.path)
      // every file a merge writes carries a BLOOM on the merge key, so
      // the NEXT point merge or point read prunes this table's own
      // upsert traffic without relying on external writers to have
      // indexed the key. Only for key types the prune layers can
      // actually probe (~0.2-0.4 s local fixed cost per merge, bought
      // back at the first point upsert into the written files). The
      // filter is sized for the most rows one written file can hold — a
      // rewrite keeps at most its touched file's rows, an insert file at
      // most mergeInsertRowsPerFile source rows — where parquet's
      // adaptive sizing never went below a 64 KiB candidate.
      val keyBloomOpts =
        if (bloomProbeable(fullSchema(key).dataType)) {
          val fileRows = touched.map(f => f.stats
            .map(mapper.readTree(_).path("numRecords"))
            .filter(_.isNumber).map(_.asLong())
            .getOrElse(mergeInsertRowsPerFile))
          bloomOptions(Seq(physMap.getOrElse(key, key)),
            (fileRows :+ math.min(srcRows, mergeInsertRowsPerFile)).max)
        } else Map.empty[String, String]
      val actions = Seq.newBuilder[Action]
      // an append-only table allows the pure-insert merge (nothing
      // matched); any matched row would rewrite history
      if (touched.nonEmpty) requireNotAppendOnly(st, "mergeKey")
      // CDF: the remove+add pairs are file-grain — only cdc files
      // record WHICH rows updated vs inserted. Matched keys are read
      // back from the touched source files (on disk until vacuum).
      // Pre-images live in the OLD row's partition; postimages and
      // inserts in the SOURCE row's own partition. The cdc write reads
      // only PRE-rewrite files plus the persisted source and writes
      // only under _change_data — independent of both the rewrite and
      // the insert job, so it is launched here to OVERLAP them (FIFO
      // back-fill); an orphaned cdc file from a failed rewrite is never
      // referenced by any commit and falls to vacuum.
      val cdcFut: Option[Future[Seq[AddCdc]]] =
        if (!(cdfEnabled(st) && touched.nonEmpty)) None
        else Some(Future {
          // live rows only: keys whose target rows were all DV-deleted
          // are inserts, not updates. Pre-images carry their FILE's
          // partition values (the scan's index supplies them);
          // post-images and inserts the source row's own.
          val touchedRows = scanFiles(spark, root, st, touched, fullSchema)
          val matchedKeys = touchedRows.select(col(key))
            .join(srcKeys, Seq(key), "left_semi").distinct().persist()
          def inOrder(df: DataFrame) =
            df.select(fullSchema.fieldNames.map(col).toSeq: _*)
          try {
            val pre = inOrder(touchedRows
              .join(srcKeys, Seq(key), "left_semi"))
              .withColumn(ChangeTypeCol, lit("update_preimage"))
            val post = inOrder(src.join(matchedKeys, Seq(key), "left_semi"))
              .withColumn(ChangeTypeCol, lit("update_postimage"))
            val ins = inOrder(src.join(matchedKeys, Seq(key), "left_anti"))
              .withColumn(ChangeTypeCol, lit("insert"))
            val changes = pre.unionByName(post).unionByName(ins)
            // partitioned: ONE dynamic-partitioned write, jobs O(1),
            // never O(partitions)
            if (pcs.isEmpty) Seq(writeCdcFile(changes, root, Map.empty, st))
            else writeCdcFilesPartitioned(changes, root, pcs, st)
          } finally matchedKeys.unpersist()
        }(sideJobEc))
      // ONE rewrite job drops the matched rows from every touched file
      // (a file that loses all its rows becomes a pure remove); each
      // rewrite stays in its source file's partition directory. A
      // DV-carrying file rewrites its LIVE rows and the add drops the DV.
      val rewritten = rewriteFilesBatched(spark, root, touched,
        dataSchema, _.join(srcKeys, Seq(key), "left_anti"),
        "graft-delta-merge", st, keyBloomOpts)
      touched.foreach { f =>
        val rel = f.path
        actions += removeOf(rel, dataChange = true)
        rewritten.get(rel).foreach { part =>
          // a shallow-cloned (absolute) source file rewrites into THIS
          // table's root — never beside the source
          val full = resolvePath(root, rel)
          val targetDir =
            if (rel.startsWith("/")) Paths.get(root) else full.getParent
          val target = targetDir.resolve(part.getFileName)
          Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
          val newRel = Paths.get(root).relativize(target).toString
            .replace(java.io.File.separatorChar, '/')
          actions += addFor(root, newRel, f.partitionValues,
            dataChange = true, conf)
        }
      }
      // the whole source — updated versions of matched rows plus the
      // genuinely new ones — lands as target-sized files in ONE job
      // (a bulk upsert batch must not serialize through one task)
      val insFiles = math.max(1L, (srcRows + mergeInsertRowsPerFile - 1) /
        mergeInsertRowsPerFile).toInt
      // insert files store PHYSICAL names on a mapped table (identity
      // rename otherwise); partition directories and partitionValues
      // key by the physical partition-column name
      val insDf = toPhysicalDf(st, fullSchema,
        enforceInvariants(src, fullSchema, st.configuration))
      val physPcs = pcs.map(c => physMap.getOrElse(c, c))
      if (pcs.isEmpty) {
        val insParts =
          if (insFiles == 1) // point merge: coalesce, no shuffle
            Seq(writeSingleParquet(insDf, root, "graft-delta-merge",
              keyBloomOpts))
          else writeParquetFiles(insDf, root, "graft-delta-merge", insFiles,
            keyBloomOpts)
        insParts.foreach { insPart =>
          val insTarget = Paths.get(root).resolve(insPart.getFileName)
          Files.move(insPart, insTarget, StandardCopyOption.ATOMIC_MOVE)
          actions += addFor(root, insTarget.getFileName.toString,
            Map.empty, dataChange = true, conf)
        }
      } else {
        // dynamic-partitioned insert, ONE job: partition cols + a
        // key-hash salt spread a bulk batch across tasks without
        // serializing a hot partition through one of them
        val staging = Files.createTempDirectory(stagingBase(root),
          "graft-delta-merge")
        insDf
          .repartition(insFiles, physPcs.map(col) :+
            pmod(hash(col(physMap.getOrElse(key, key))), lit(insFiles)): _*)
          .write.options(keyBloomOpts).mode("overwrite")
          .partitionBy(physPcs: _*)
          .parquet(staging.toString)
        val walk = Files.walk(staging)
        val dataFiles =
          try walk.iterator().asScala
            .filter(p => Files.isRegularFile(p)
              && p.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.toString)
          finally walk.close()
        dataFiles.foreach { p =>
          val rel = staging.relativize(p).toString
            .replace(java.io.File.separatorChar, '/')
          val target = Paths.get(root, rel)
          Files.createDirectories(target.getParent)
          Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
          actions += addFor(root, rel, partitionValuesOf(rel, physPcs),
            dataChange = true, conf)
        }
        deleteRecursively(staging)
      }
      cdcFut.foreach(f => actions ++= Await.result(f, Duration.Inf))
      writeCommitFile(root, v + 1, actions.result(), operation = "MERGE")
      postCommit(spark, root, st, v + 1)
      v + 1
    } finally src.unpersist()
  }

  /** Rows APPENDED after `sinceVersion` — the incremental-ETL tail
    * read a downstream job consumes between runs. Semantics mirror the
    * Delta streaming source: the JSON commits of the tail are walked
    * directly; `add`s with `dataChange=true` contribute their rows,
    * whole `dataChange=false` commits (OPTIMIZE compaction) are
    * SKIPPED — the rewritten rows were already consumed from their
    * original files, which remain readable until vacuum — and a
    * `remove` with `dataChange=true` in the tail (DML/rewrite) FAILS
    * LOUDLY: changed history must flow through a CDC surface, an
    * append tail cannot represent it. The tail's JSON commits must be
    * present (a checkpoint compacts STATE, not the append history).
    */
  def readAppendsSince(spark: SparkSession, root: String,
                       sinceVersion: Long): DataFrame = {
    val cur = currentVersion(root)
    val st = replay(spark, root, cur)
    assembleFiles(spark, root, st,
      appendedFilesIn(root, sinceVersion, cur).map { case (_, rel, pv, sz) =>
        AddFile(rel, pv, Some(sz), None, dataChange = true, None, None) })
  }

  /** The (version, relPath, partitionValues) of every data file
    * APPENDED in `(sinceVersion, toVersion]` — the file-grain tail walk
    * [[readAppendsSince]] and the streaming source share. Same loud
    * contracts: tail commits must be present, `dataChange=false`
    * commits (OPTIMIZE) skip, DV attachments and `dataChange=true`
    * removes refuse (changed history needs the CDC surface).
    */
  private[graft] def appendedFilesIn(root: String, sinceVersion: Long,
      toVersion: Long): Seq[(Long, String, Map[String, String], Long)] = {
    commitActions(root, sinceVersion + 1, toVersion, "appendedFilesIn",
      "the append tail needs its JSON commits (checkpoints compact " +
        "state, not history)").flatMap { case (v, actions) =>
      actions.collect {
        case a: AddFile if a.dataChange =>
          // the DV refusal applies only to dataChange adds: an
          // external OPTIMIZE that rewrites with dataChange=false
          // while RETAINING DV descriptors is a layout-only no-op for
          // an append tail and must skip like any other compaction
          require(a.deletionVector.isEmpty,
            s"DeltaLog.appendedFilesIn: commit $v of $root attaches a " +
              "deletion vector (DELETE via DV) — an append tail cannot " +
              "represent changed history; consume CDC instead")
          (v, a.path, a.partitionValues, a.size.getOrElse(0L))
        case r: RemoveFile if r.dataChange =>
          throw new IllegalArgumentException(
            s"DeltaLog.appendedFilesIn: commit $v of $root removes data " +
              "with dataChange=true (DELETE/UPDATE/rewrite) — an append " +
              "tail cannot represent changed history; consume CDC instead")
      }
    }.toSeq
  }

  /** The parquet scan schema that reads the LOGICAL columns of
    * `dataSchema` from the data files of `root`'s current snapshot:
    * physical names at every nesting level under name mapping, plus
    * `parquet.field.id` stamps under id mapping, identity when
    * unmapped — the scan [[read]] runs, for callers that read data
    * files through Spark's parquet reader themselves (the streaming
    * source). Fields keep their position; columns the table does not
    * declare pass through unchanged.
    */
  private[graft] def scanSchema(spark: SparkSession, root: String,
                                dataSchema: StructType): StructType = {
    val st = replay(spark, root, currentVersion(root))
    val declared = st.schema.map(_.fields.map(f => f.name -> f).toMap)
      .getOrElse(Map.empty[String, StructField])
    readSchemaFor(st, StructType(dataSchema.fields.map(f =>
      declared.getOrElse(f.name, f))))._1
  }

  /** Whether the table currently declares change-data-feed capture. */
  def changeFeedEnabled(spark: SparkSession, root: String): Boolean =
    cdfEnabled(replay(spark, root, currentVersion(root)))

  /** File-grain CHANGE FEED walk of `(sinceVersion, toVersion]` for the
    * streaming source: per file `(version, rel, partitionValues,
    * changeTypeConstant)` — `None` when the file is a `cdc` file that
    * CARRIES its own `_change_type` column, `Some("insert")` for a
    * synthesized pure-append commit. A commit that removes data with
    * `dataChange=true` and no cdc files refuses loudly (this writer
    * always records cdc for DML on CDF tables; external whole-file
    * deletes belong to the batch [[readChangeFeed]], which can
    * synthesize them).
    */
  private[graft] def changeFilesIn(root: String, sinceVersion: Long,
      toVersion: Long): Seq[(Long, String, Map[String, String], Option[String], Long)] = {
    commitActions(root, sinceVersion + 1, toVersion, "changeFilesIn",
      "the feed tail needs its JSON commits").flatMap { case (v, actions) =>
      val cdcs = actions.collect { case c: AddCdc =>
        (v, c.path, c.partitionValues, Option.empty[String], c.size)
      }
      if (cdcs.nonEmpty) cdcs
      else {
        require(!actions.exists {
          case r: RemoveFile => r.dataChange
          case _ => false
        }, s"DeltaLog.changeFilesIn: commit $v of $root removes data " +
            "without cdc files — the stream cannot represent it; use " +
            "the batch readChangeFeed")
        actions.collect { case a: AddFile if a.dataChange =>
          (v, a.path, a.partitionValues, Some("insert"), a.size.getOrElse(0L))
        }
      }
    }.toSeq
  }

  /** The declared schema and partition columns of the CURRENT version —
    * the metadata surface external integrations (the streaming source)
    * open a table with.
    */
  def tableMeta(spark: SparkSession, root: String): (StructType, Seq[String]) = {
    val st = replay(spark, root, currentVersion(root))
    (st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown")),
      st.partitionColumns)
  }

  /** Change rows between two committed versions, derived after the fact
    * from the two snapshots (no write-path capture, so it works on any
    * table, CDF-enabled or not): one row per key whose state changed
    * from `fromVersion` to `toVersion`, classified `insert` (key only in
    * `to`), `delete` (only in `from`) or `update` (in both, any non-key
    * column differing null-safely), with the full before/after column
    * images (`old_*` / `new_*`). Unchanged keys are absent. Both
    * snapshots must be key-unique on `keys` (the MERGE table contract)
    * and share a column set.
    *
    * Scale posture: ONE full-outer shuffle join on the key — the
    * minimum any snapshot comparison can do — with every classification
    * predicate row-local (IS DISTINCT FROM, codegen'd).
    */
  def diff(spark: SparkSession, root: String, fromVersion: Long,
           toVersion: Long, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "DeltaLog.diff: at least one key column")
    val a = readAt(spark, root, fromVersion)
    val b = readAt(spark, root, toVersion)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"DeltaLog.diff: column sets differ (${a.columns.mkString(",")} vs " +
        s"${b.columns.mkString(",")}) — diff a schema change via readAt directly")
    val vals = a.columns.filterNot(keys.contains).toSeq
    // Side presence comes from an explicit marker, NOT from key
    // null-ness: a null-keyed row present only in `from` would otherwise
    // read as "insert" (all join-side columns are null after a full
    // outer miss, keys included). The join itself is null-SAFE so
    // null-keyed rows pair up instead of cross-emitting.
    val aa = a.select(a.columns.map(c => col(c).as(s"__a_$c")).toIndexedSeq
      :+ lit(true).as("__a_present"): _*)
    val bb = b.select(b.columns.map(c => col(c).as(s"__b_$c")).toIndexedSeq
      :+ lit(true).as("__b_present"): _*)
    val cond = keys.map(k => aa(s"__a_$k") <=> bb(s"__b_$k")).reduce(_ && _)
    val inA = col("__a_present").isNotNull
    val inB = col("__b_present").isNotNull
    val changed = vals.map(c =>
      !(col(s"__a_$c") <=> col(s"__b_$c"))).reduceOption(_ || _)
      .getOrElse(lit(false))
    aa.join(bb, cond, "full_outer")
      .withColumn("change_type",
        when(!inA, lit("insert"))
          .when(!inB, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(col("change_type") +:
        keys.map(k => org.apache.spark.sql.functions.coalesce(
          col(s"__b_$k"), col(s"__a_$k")).as(k)) ++:
        vals.flatMap(c => Seq(col(s"__a_$c").as(s"old_$c"),
          col(s"__b_$c").as(s"new_$c"))): _*)
  }

  /** The CHANGE DATA FEED of versions `(sinceVersion, toVersion]` —
    * every row-level change with `_change_type` (`insert` / `delete` /
    * `update_preimage` / `update_postimage`), `_commit_version` and
    * `_commit_timestamp` appended to the data columns; Delta's own CDF
    * read surface (PROTOCOL.md: Add CDC File). Per commit: when `cdc`
    * actions are present they ARE the feed for that version
    * (add/remove ignored, the protocol's rule); otherwise changes are
    * SYNTHESIZED — `add dataChange=true` rows as inserts, each
    * `remove dataChange=true` file's rows as deletes (whole-file
    * deletes and blind appends, the cases Delta itself derives).
    * Refused loudly: tables without `delta.enableChangeDataFeed`, DV
    * commits lacking CDC files (the byte-identical re-add makes
    * synthesis blind to them), removed files that carried a DV (their
    * dead rows would resurrect), and vacuumed-away removed files.
    *
    * Scale posture: driver work is one JSON parse per tail commit
    * (tails are incremental-ETL-sized); row IO is distributed scans of
    * exactly the CDC/changed files. `toVersion < 0` means the current
    * version.
    */
  def readChangeFeed(spark: SparkSession, root: String,
                     sinceVersion: Long, toVersion: Long = -1L): DataFrame = {
    val cur = currentVersion(root)
    val to = if (toVersion < 0L) cur else toVersion
    require(sinceVersion <= to && to <= cur,
      s"DeltaLog.readChangeFeed: bad version range ($sinceVersion, $to] " +
        s"on a table at version $cur")
    val st = replay(spark, root, cur)
    require(cdfEnabled(st),
      s"DeltaLog.readChangeFeed: $root does not set " +
        "delta.enableChangeDataFeed=true — no change feed was recorded")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $root log — schema unknown"))
    val outCols = schema.fieldNames.toSeq :+ ChangeTypeCol
    val commits = commitActions(root, sinceVersion + 1, to,
      "readChangeFeed", "the change feed needs its JSON commits " +
        "(checkpoints compact state, not history)")
    val perVersion = commits.flatMap { case (v, actions) =>
      val cdcList = actions.collect { case c: AddCdc =>
        AddFile(c.path, c.partitionValues, Some(c.size), None,
          dataChange = false, None, None) }
      val addList = actions.collect { case a: AddFile if a.dataChange => a }
      val removeList = actions.collect {
        case r: RemoveFile if r.dataChange => r.path }
      val changes: Option[DataFrame] =
        if (cdcList.nonEmpty)
          // one scan over the version's cdc files; `_change_type` is a
          // feed artifact the table does not declare, read as named
          Some(scanFiles(spark, root, st, cdcList, StructType(schema.fields :+
            StructField(ChangeTypeCol, StringType, nullable = true))))
        else if (addList.isEmpty && removeList.isEmpty) None
        else {
          require(addList.forall(_.deletionVector.isEmpty),
            s"DeltaLog.readChangeFeed: commit $v of $root attaches a " +
              "deletion vector without CDC files — row-level changes " +
              "were not recorded and cannot be synthesized")
          val inserted =
            if (addList.isEmpty) None
            else {
              addList.foreach { a =>
                require(Files.exists(resolvePath(root, a.path)),
                  s"DeltaLog.readChangeFeed: added file ${a.path} of " +
                    s"commit $v was vacuumed away — this change-feed " +
                    "range is no longer readable")
              }
              // the adds as committed at v carry no DV (checked above),
              // so the insert reads the full file whatever DV a LATER
              // version attached
              Some(assembleFiles(spark, root, st, addList)
                .withColumn(ChangeTypeCol, lit("insert")))
            }
          val deleted =
            if (removeList.isEmpty) None
            else {
              val prev = replay(spark, root, v - 1)
              val rfiles = removeList.map { rel =>
                require(prev.byPath.contains(rel),
                  s"DeltaLog.readChangeFeed: remove $rel at commit $v " +
                    s"was not active at ${v - 1}")
                val f = prev.byPath(rel)
                require(f.deletionVector.isEmpty,
                  s"DeltaLog.readChangeFeed: removed file $rel carried " +
                    "a deletion vector — whole-file synthesis would " +
                    "resurrect its dead rows; the writer should have " +
                    "recorded CDC files")
                require(Files.exists(resolvePath(root, rel)),
                  s"DeltaLog.readChangeFeed: removed file $rel was " +
                    "vacuumed away — this change-feed range is no " +
                    "longer readable")
                f
              }
              Some(assembleFiles(spark, root, prev, rfiles)
                .withColumn(ChangeTypeCol, lit("delete")))
            }
          Some((inserted.toSeq ++ deleted.toSeq).reduce(_ unionByName _))
        }
      changes.map(_
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(commitTimestamp(root, v))))
        .select((outCols ++ Seq("_commit_version", "_commit_timestamp"))
          .map(col): _*))
    }.toSeq
    if (perVersion.isEmpty) {
      val outSchema = StructType(schema.fields ++ Seq(
        StructField(ChangeTypeCol, StringType, nullable = true),
        StructField("_commit_version", LongType, nullable = false),
        StructField("_commit_timestamp", TimestampType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    } else perVersion.reduce(_ unionByName _)
  }

  /** RESTORE the table to the snapshot of an earlier `version` (Delta's
    * `RESTORE TABLE … TO VERSION AS OF`): ONE new commit whose actions
    * make the current active set equal the target's — files active then
    * but not now are re-added (with their recorded partition values,
    * stats and DV descriptor), files active now but not then are
    * removed, and a file whose DV CHANGED in between is re-added with
    * the target descriptor. History is never rewritten — the restore is
    * itself a commit, so the pre-restore state stays time-travelable.
    * Refuses loudly when a file (or DV sidecar) the target needs was
    * vacuumed away. Restoring PAST a schema/partitioning/property
    * change re-emits the target version's metaData in the restore
    * commit. Metadata-only: no data IO at any scale. Returns the new
    * version (or the current one when already identical).
    */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val cur = currentVersion(root)
    require(version >= 0L && version <= cur,
      s"DeltaLog.restore: version $version outside [0, $cur] of $root")
    val target = replay(spark, root, version)
    val current = replay(spark, root, cur)
    // restore moves LOG entries only (no column IO), so mapped tables
    // (name AND id mode) restore fine
    requireWritableMapping(current, "restore")
    requireNotAppendOnly(current, "restore")
    requireWritable(current, "restore")
    // restoring PAST a schema change (mergeSchema evolution, ALTER,
    // property change) reinstates the target version's metaData in the
    // restore commit — the protocol permits re-emitting metaData at
    // any commit, and readers at cur+1 then see exactly the restored
    // snapshot's schema/partitioning/configuration. History replays:
    // the evolution commits stay addressable below cur+1.
    val needMeta = target.schema != current.schema ||
      target.partitionColumns != current.partitionColumns ||
      target.configuration != current.configuration
    val toAdd = target.files.filter(f => current.byPath.get(f.path)
      .forall(_.deletionVector != f.deletionVector))
    val toRemove = current.files.map(_.path)
      .filterNot(target.byPath.contains) ++
      toAdd.map(_.path).filter(current.byPath.contains)
    if (toAdd.isEmpty && toRemove.isEmpty && !needMeta) return cur
    toAdd.foreach { f =>
      require(Files.exists(resolvePath(root, f.path)),
        s"DeltaLog.restore: ${f.path} of version $version was vacuumed " +
          "away — that snapshot is no longer restorable")
      f.deletionVector.filter(_.storageType == "u").foreach { d =>
        val sidecar = d.sidecarRel
        require(Files.exists(Paths.get(root, sidecar)),
          s"DeltaLog.restore: DV sidecar $sidecar of version $version " +
            "was vacuumed away — that snapshot is no longer restorable")
      }
    }
    val meta = Option.when(needMeta)(MetaData(current.tableId,
      target.schema.getOrElse(throw new IllegalStateException(
        s"DeltaLog.restore: version $version has no metaData")).json,
      target.partitionColumns, target.configuration))
    // the target's own adds, re-emitted as data changes; size and mtime
    // fall back to the filesystem where the target's log omits them
    val adds = toAdd.map { f =>
      val fp = resolvePath(root, f.path)
      f.copy(dataChange = true,
        size = f.size.orElse(Some(Files.size(fp))),
        modificationTime = f.modificationTime.orElse(
          Some(Files.getLastModifiedTime(fp).toMillis)))
    }
    // the POST-restore configuration (= the target's: needMeta re-emits
    // it; !needMeta means it already equals the current one) governs
    // post-commit maintenance. Refuse BEFORE the commit lands when it
    // declares auto-manifests but the restored snapshot carries DVs —
    // otherwise the durable restore would be followed by the manifest
    // regeneration throwing, leaving on-disk manifests stale at the
    // pre-restore snapshot (mirrors the deleteWhereLongDV guard).
    val restoredDvs = target.files.count(_.deletionVector.isDefined)
    if (manifestEnabled(target.configuration))
      require(restoredDvs == 0,
        s"DeltaLog.restore: $restoredDvs file(s) of version $version " +
          "carry deletion vectors and the restored configuration " +
          "declares delta.symlinkFormatManifest.enabled — symlink " +
          "readers would resurrect their deleted rows; unset the " +
          "property or restore to a DV-free version")
    writeCommitFile(root, cur + 1, meta.toSeq ++
      toRemove.distinct.map(removeOf(_, dataChange = true)) ++ adds,
      operation = "RESTORE")
    // a restore that FLIPS the property on reinstates auto-manifests
    // over a tree that went stale (or missing) while it was off — the
    // incremental touched-set below only covers this commit's files,
    // so regenerate fully first (mirrors the setTableProperties
    // enable path)
    if (manifestEnabled(target.configuration) &&
        !manifestEnabled(current.configuration))
      regenerateManifests(spark, root, None)
    // …and a restore that flips it OFF must not leave the pre-restore
    // tree behind: with maintenance now following the restored
    // configuration, nothing would ever update it again — external
    // readers would silently keep the pre-restore snapshot and then
    // dangle once vacuum collects those files. Absence is loud;
    // staleness is not.
    if (!manifestEnabled(target.configuration) &&
        manifestEnabled(current.configuration)) {
      val tree = Paths.get(root).toAbsolutePath.normalize()
        .resolve("_symlink_format_manifest")
      if (Files.isDirectory(tree)) deleteRecursively(tree)
    }
    postCommit(spark, root,
      current.copy(configuration = target.configuration), cur + 1)
    cur + 1
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): a new
    * table whose commit 0 re-declares the source's protocol, schema,
    * partitioning and configuration, and whose adds reference the
    * source's CURRENT active files by ABSOLUTE path (PROTOCOL.md
    * allows absolute `path` fields — this is what they exist for).
    * Zero data copied at any scale; recorded stats/partition values/DV
    * descriptors carry over (DV sidecars re-addressed as absolute
    * `p`-storage so they keep resolving to the source's blobs).
    * The clone then evolves INDEPENDENTLY: copy-on-write DML rewrites
    * land under the clone's root, the source never mutates; the
    * clone's vacuum walks only its own root, so source files are never
    * collected. Returns the clone's version 0.
    */
  def shallowClone(spark: SparkSession, sourceRoot: String,
                   targetRoot: String, version: Long = -1L): Long = {
    require(!Files.isDirectory(logDir(targetRoot)),
      s"DeltaLog.shallowClone: $targetRoot already has a _delta_log")
    // `CLONE src VERSION AS OF v`: the clone's commit 0 is the
    // source's state AT that version (−1 = current) — time travel
    // materialized as a new table, still zero data copies
    val srcCur = currentVersion(sourceRoot)
    require(version <= srcCur,
      s"DeltaLog.shallowClone: version $version does not exist in " +
        s"$sourceRoot (current is $srcCur)")
    val st = replay(spark, sourceRoot,
      if (version < 0L) srcCur else version)
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog: no metaData action in $sourceRoot log — schema unknown"))
    // a clone's adds are ABSOLUTE references into the source — the
    // auto-manifest property it would inherit can never regenerate
    // under the clone's root (no table-relative partition directory),
    // so the clone's FIRST data commit would throw AFTER its durable
    // write. Refuse here, before anything lands (mirrors the restore
    // guard); clone without the property and re-enable it once the
    // clone's files are its own (compact).
    require(!manifestEnabled(st.configuration),
      s"DeltaLog.shallowClone: $sourceRoot declares " +
        "delta.symlinkFormatManifest.enabled — a clone's " +
        "absolute-path adds cannot regenerate manifests; unset the " +
        "property on the source (or clone a version without it) and " +
        "re-enable on the clone after compacting")
    val srcAbs = Paths.get(sourceRoot).toAbsolutePath.normalize()
    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft-delta:" + targetRoot).getBytes("UTF-8")).toString
    val adds = st.files.map { f =>
      val abs =
        if (f.path.startsWith("/")) f.path // cloning a clone: already absolute
        else srcAbs.resolve(f.path).toString
      f.copy(path = abs, dataChange = true,
        size = f.size.orElse(Some(Files.size(Paths.get(abs)))),
        modificationTime = f.modificationTime.orElse(Some(0L)),
        // re-address a source-relative DV sidecar absolutely
        deletionVector = f.deletionVector.map(d =>
          if (d.storageType != "u") d
          else d.copy(storageType = "p",
            pathOrInlineDv = srcAbs.resolve(d.sidecarRel).toString)))
    }
    val actions = Seq(Protocol(st.minReaderVersion, st.minWriterVersion,
        st.readerFeatures, st.writerFeatures),
      MetaData(tableId, schema.json, st.partitionColumns, st.configuration)) ++
      adds
    Files.createDirectories(logDir(targetRoot))
    // a clone of an ICT table starts its own monotonic chain — the
    // carried configuration says timestamps are in-commit, so its
    // commits must actually have them
    writeCommitFile(targetRoot, 0L, actions, operation = "CLONE",
      ictStart = st.configuration.get("delta.enableInCommitTimestamps")
        .exists(_.trim.equalsIgnoreCase("true")))
    0L
  }

  /** `GENERATE symlink_format_manifest` — the Presto / Athena /
    * legacy-Hive interop surface delta.io documents: one `manifest`
    * text file per partition directory under
    * `_symlink_format_manifest/`, each line the ABSOLUTE path of an
    * active data file of that partition (flat tables write the single
    * root manifest). The whole tree regenerates per call — manifests
    * of partitions the current snapshot no longer holds are removed,
    * so a stale reader never resurrects a dropped partition. Refused
    * while any active file carries a deletion vector: a symlink
    * reader sees whole files and would resurrect the deleted rows
    * (compact the DVs away first). Returns the written manifest paths
    * relative to the table root.
    */
  def generateSymlinkManifest(spark: SparkSession,
                              root: String): Seq[String] =
    regenerateManifests(spark, root, None)

  /** Partition directories (the path above the file name; `""` for a
    * flat table's root) the add/remove set of commit `v` touches — the
    * incremental manifest-regeneration unit. Reads ONE commit JSON:
    * O(commit), never O(table).
    */
  private def touchedPartitionDirs(root: String, v: Long): Set[String] =
    commitActions(root, v).collect {
      case a: AddFile => a.path
      case r: RemoveFile => r.path
    }.map { rel =>
      val slash = rel.lastIndexOf('/')
      if (slash < 0) "" else rel.substring(0, slash)
    }.toSet

  /** Manifest (re)generation over a bounded set of partition
    * directories: `touched = Some(dirs)` rewrites exactly those
    * partitions' manifests (the [[postCommit]] incremental path — a
    * single-partition append on a 10k-partition table rewrites ONE
    * manifest, not 10k); `None` is the full sweep ([[generateSymlink
    * Manifest]]), covering every active partition plus every manifest
    * already on disk so vanished partitions are cleaned. Each manifest
    * is replaced IN PLACE via tmp + atomic rename — external readers
    * never see a missing or torn manifest (the old whole-tree
    * delete+rewrite exposed a manifest-less window every commit).
    * Vanished partitions lose their manifest and any now-empty parent
    * directories. Refuses DV-bearing snapshots (whole-file readers
    * would resurrect deleted rows) and absolute-path actives (a
    * shallow clone's borrowed files have no table-relative partition
    * directory — materialize them first).
    */
  private def regenerateManifests(spark: SparkSession, root: String,
                                  touched: Option[Set[String]]): Seq[String] = {
    val st = replay(spark, root, currentVersion(root))
    val dvd = st.files.filter(_.deletionVector.isDefined)
    require(dvd.isEmpty,
      s"DeltaLog.generateSymlinkManifest: ${dvd.size} active file(s) " +
        "carry deletion vectors — a symlink reader would resurrect " +
        "their deleted rows; rewrite them first (compact/OPTIMIZE)")
    val abs = st.files.filter(_.path.startsWith("/"))
    require(abs.isEmpty,
      s"DeltaLog.generateSymlinkManifest: ${abs.size} active file(s) " +
        "are absolute-path references (a shallow clone) — they have " +
        "no partition directory under this root; compact the clone " +
        "into its own files first")
    val rootAbs = Paths.get(root).toAbsolutePath.normalize()
    val base = rootAbs.resolve("_symlink_format_manifest")
    // group active files by their partition DIRECTORY (everything
    // above the file name; flat tables group under "")
    val byDir: Map[String, Seq[String]] = st.files.map(_.path).map { rel =>
      val slash = rel.lastIndexOf('/')
      val dir = if (slash < 0) "" else rel.substring(0, slash)
      dir -> resolvePath(root, rel).toAbsolutePath.normalize().toString
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val consider: Set[String] = touched match {
      // a touched set against a manifest tree that does not exist yet
      // (property enabled before any manifests were generated) must
      // fall back to the full sweep or untouched partitions would
      // never get manifests
      case Some(dirs) if Files.isDirectory(base) => dirs
      case _ =>
        val onDisk: Set[String] =
          if (!Files.isDirectory(base)) Set.empty
          else {
            val w = Files.walk(base)
            try w.iterator().asScala
              .filter(p => Files.isRegularFile(p) &&
                p.getFileName.toString == "manifest")
              .map(p => base.relativize(p.getParent).toString
                .replace(java.io.File.separatorChar, '/'))
              .toSet
            finally w.close()
          }
        byDir.keySet ++ onDisk
    }
    consider.toSeq.sorted.flatMap { dir =>
      val outDir = if (dir.isEmpty) base else base.resolve(dir)
      byDir.get(dir) match {
        case Some(entries) =>
          Files.createDirectories(outDir)
          val body = entries.sorted.mkString("", "\n", "\n")
          // UUID-suffixed tmp: two post-commit regenerations of the
          // same partition (concurrent appends) must not share one
          // staging name — the loser's delete would strand the winner
          val tmp = outDir.resolve(
            s"manifest.__tmp-${java.util.UUID.randomUUID()}")
          Files.write(tmp, body.getBytes("UTF-8"))
          Files.move(tmp, outDir.resolve("manifest"),
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          Some(if (dir.isEmpty) "_symlink_format_manifest/manifest"
          else s"_symlink_format_manifest/$dir/manifest")
        case None =>
          Files.deleteIfExists(outDir.resolve("manifest"))
          var d = outDir
          while (d != null && d != base && Files.isDirectory(d) && {
            val s = Files.list(d)
            try !s.iterator().hasNext finally s.close()
          }) { Files.delete(d); d = d.getParent }
          None
      }
    }
  }

  /** Physically delete data files the CURRENT version no longer
    * references — Delta's VACUUM. The retention window comes from the
    * table's declared `delta.deletedFileRetentionDuration` (an
    * `interval N <unit>` string, Delta's own property); a table that
    * declares none collects with ZERO retention here (the dev-friendly
    * local form — Delta's managed default is `interval 1 week`, which
    * deployments that want the grace period should declare on the
    * table). Returns the deleted table-relative paths.
    */
  def vacuum(spark: SparkSession, root: String): Seq[String] = {
    val st = replay(spark, root, currentVersion(root))
    vacuum(spark, root,
      st.configuration.get("delta.deletedFileRetentionDuration")
        .map(parseIntervalMs).getOrElse(0L))
  }

  /** Delta duration property (`interval N week|day|hour|minute|second|
    * millisecond[s]`) → milliseconds; loud on anything else.
    */
  private[lake] def parseIntervalMs(s: String): Long = {
    val Re = """(?i)\s*interval\s+(\d+)\s+(\w+?)s?\s*""".r
    s match {
      case Re(n, unit) =>
        val per = unit.toLowerCase match {
          case "week" => 7L * 86400000L
          case "day" => 86400000L
          case "hour" => 3600000L
          case "minute" => 60000L
          case "second" => 1000L
          case "millisecond" => 1L
          case other => throw new IllegalArgumentException(
            s"DeltaLog: unsupported interval unit '$other' in '$s'")
        }
        n.toLong * per
      case _ => throw new IllegalArgumentException(
        s"DeltaLog: cannot parse duration '$s' (expected " +
          "'interval N <unit>')")
    }
  }

  /** [[vacuum]] with an EXPLICIT retention window: a no-longer-active
    * file survives this pass while its REMOVAL is newer than
    * `retentionMs` — eligibility is judged by the newest
    * `remove.deletionTimestamp` the retained JSON commits record for
    * it (Delta's own rule: a long-lived file deleted a second ago must
    * survive, which its write-time mtime cannot express), so
    * time-travel reads of versions removed INSIDE the window keep
    * working and concurrent readers of recent versions stay alive.
    * Files the retained log never mentions (crash leftovers, or
    * removes compacted away behind a checkpoint) fall back to the
    * modification-time test. Zero retention is the full collect.
    */
  /** `VACUUM ... DRY RUN` — the paths a [[vacuum]] at `retentionMs`
    * WOULD delete, deleting nothing (what an operator reads before
    * committing to an irreversible reclaim).
    */
  def vacuumDryRun(spark: SparkSession, root: String,
                   retentionMs: Long = 0L): Seq[String] =
    vacuumImpl(spark, root, retentionMs, delete = false)

  def vacuum(spark: SparkSession, root: String,
             retentionMs: Long): Seq[String] =
    vacuumImpl(spark, root, retentionMs, delete = true)

  /** Directory counts above which [[vacuumImpl]] ships its listing /
    * its deletes to executors instead of walking serially on the
    * driver — at 100×-scale file counts the single-threaded walk and
    * orphan-by-orphan delete loop ARE the vacuum bottleneck, while a
    * flat gate fixture (zero subdirectories, a handful of orphans)
    * never pays a Spark job for what one readdir answers.
    */
  private val VacuumDistributeDirs = 8
  private val VacuumDistributeDeletes = 64

  /** Vacuum candidate: a data/DV file's table-relative path plus the
    * mtime captured DURING listing (one stat, reused by the retention
    * fallback instead of a second driver-side stat per file).
    */
  private def vacuumListDir(fs: org.apache.hadoop.fs.FileSystem,
                            rootPrefix: String,
                            dir: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val out = Seq.newBuilder[(String, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile) {
        val name = s.getPath.getName
        val rel = s.getPath.toUri.getPath.stripPrefix(rootPrefix)
        if ((name.endsWith(".parquet") ||
          (name.startsWith("deletion_vector_") && name.endsWith(".bin"))) &&
          // dot-prefixed segments are writer scratch, never table
          // data — .graft_staging holds in-flight parquet between an
          // executor write and the driver's commit-time move; a
          // concurrent zero-retention vacuum collecting them would
          // make that move fail (mirrors convertToDelta's listing)
          !rel.split('/').exists(_.startsWith(".")))
          out += ((rel, s.getModificationTime))
      }
    }
    out.result()
  }

  private def vacuumImpl(spark: SparkSession, root: String,
                         retentionMs: Long, delete: Boolean): Seq[String] = {
    require(retentionMs >= 0L, s"DeltaLog.vacuum: retentionMs >= 0")
    val st = replay(spark, root, currentVersion(root))
    val active = st.byPath.keySet
    // DV sidecars referenced by an ACTIVE descriptor stay; the rest are
    // history (an old DV superseded by a merge, or of a removed file)
    val activeDvFiles: Set[String] = st.files.flatMap(_.deletionVector)
      .collect { case d if d.storageType == "u" => d.sidecarRel }.toSet
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    val rootPrefix = rootPath.toString + "/"
    val hadoopProps: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.toArray
    }
    val driverFs = new org.apache.hadoop.fs.Path(rootPath.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // top level on the driver (one readdir): depth-1 files list
    // directly; each subdirectory is an independent walk unit — the
    // _delta_log / _change_data / dot-scratch exclusions are whole
    // top-level trees, so pruning them here skips the walk entirely
    // (CDC files are never snapshot-active; deleting them would
    // silently destroy the change feed — CDF retention is its own
    // policy, not vacuum's)
    val top = driverFs.listStatus(
      new org.apache.hadoop.fs.Path(rootPath.toString)).toSeq
    val excludedTop = Set("_delta_log", "_change_data")
    val dirUnits = top.filter(s => s.isDirectory &&
      !excludedTop(s.getPath.getName) && !s.getPath.getName.startsWith("."))
      .map(_.getPath)
    val rootFiles: Seq[(String, Long)] = top.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith(".") &&
        (name.endsWith(".parquet") ||
          (name.startsWith("deletion_vector_") && name.endsWith(".bin")))
    }.map(s => (s.getPath.getName, s.getModificationTime))
    val dirFiles: Seq[(String, Long)] =
      if (dirUnits.size <= VacuumDistributeDirs)
        dirUnits.flatMap(d => vacuumListDir(driverFs, rootPrefix, d))
      else {
        // many partition directories: one walk unit per directory,
        // shipped to executors with the session's resolved hadoop conf
        // (the countFast idiom — a bare Configuration in the task
        // would lose FS settings)
        val confBc = spark.sparkContext.broadcast(hadoopProps)
        val prefix = rootPrefix
        spark.sparkContext
          .parallelize(dirUnits.map(_.toString),
            math.min(dirUnits.size, spark.sparkContext.defaultParallelism))
          .mapPartitions { dirs =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confBc.value.foreach { case (k, v) => conf.set(k, v) }
            dirs.flatMap { d =>
              val p = new org.apache.hadoop.fs.Path(d)
              vacuumListDir(p.getFileSystem(conf), prefix, p).iterator
            }
          }.collect().toSeq
      }
    val onDiskTimed: Seq[(String, Long)] = rootFiles ++ dirFiles
    val onDisk = onDiskTimed.map(_._1)
    val mtimes: Map[String, Long] = onDiskTimed.toMap
    val cutoff = System.currentTimeMillis() - retentionMs
    // newest recorded removal time per file, from the retained JSON
    // tail (one driver-side parse per commit — tails are
    // incremental-ETL-sized; removes compacted behind a checkpoint
    // fall back to mtime below)
    lazy val removalTimes: Map[String, Long] =
      if (retentionMs == 0L) Map.empty
      else versions(root).flatMap(v => commitActions(root, v).collect {
        // a remove without a timestamp contributes nothing — the file
        // then falls back to the mtime test like unknowns
        case RemoveFile(rel, Some(ts), _) => rel -> ts
      }).groupMapReduce(_._1)(_._2)(math.max)
    val orphans = onDisk.filterNot(rel =>
      active(rel) || activeDvFiles(rel))
      .filter(rel => retentionMs == 0L ||
        removalTimes.getOrElse(rel,
          mtimes.getOrElse(rel,
            Files.getLastModifiedTime(Paths.get(root, rel)).toMillis))
          <= cutoff)
    if (delete) {
      if (orphans.size <= VacuumDistributeDeletes)
        orphans.foreach(rel => Files.delete(Paths.get(root, rel)))
      else {
        // large reclaims ship the deletes to executors too — the
        // orphan-by-orphan driver loop is the other serial half of
        // the 100×-scale bottleneck; a false return (vanished /
        // undeletable file) fails the task loudly like Files.delete
        val confBc = spark.sparkContext.broadcast(hadoopProps)
        val prefix = rootPrefix
        val failed = spark.sparkContext
          .parallelize(orphans,
            math.min(math.max(1, orphans.size / 64),
              spark.sparkContext.defaultParallelism))
          .mapPartitions { rels =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confBc.value.foreach { case (k, v) => conf.set(k, v) }
            val fs = new org.apache.hadoop.fs.Path(prefix)
              .getFileSystem(conf)
            rels.filterNot(rel => fs.delete(
              new org.apache.hadoop.fs.Path(prefix + rel), false))
          }.collect()
        if (failed.nonEmpty) throw new java.io.IOException(
          s"DeltaLog.vacuum: ${failed.length} orphan(s) could not be " +
            s"deleted, first: ${failed.head}")
      }
    }
    orphans.sorted
  }

  /** Sidecar parquet names a V2 checkpoint top references, without
    * loading the sidecars themselves (the cleanup walk needs names
    * only — content stays unread).
    */
  private def sidecarRefsOf(spark: SparkSession, top: Path): Seq[String] =
    v2TopActions(spark, top).collect { case s: Sidecar => s.path }

  /** Delta's METADATA cleanup — the `_delta_log` sibling of [[vacuum]]
    * (`delta.logRetentionDuration`, default `interval 30 days`): drop
    * commit JSONs and checkpoints a newer checkpoint has made
    * redundant once the history they serve ages past the retention
    * window. The cut lands on a CHECKPOINT boundary — the largest
    * checkpoint version whose every predecessor commit is expired —
    * so the retained log keeps the replay contract intact: every
    * version ≥ the cut still reconstructs from a retained checkpoint
    * plus a contiguous JSON tail, and time travel inside the window
    * is untouched. Expiry follows each commit's RECORDED timestamp
    * (`inCommitTimestamp` where the table carries the feature, else
    * commit-file mtime — the same clock [[versionAsOf]] resolves by),
    * and stops at the first unexpired commit, so a regressed
    * filesystem clock can only retain more, never gap the chain.
    * Unreferenced `_sidecars` parquet older than the window (from
    * deleted V2 tops, or interrupted checkpoint writes) is swept
    * last. Returns the deleted log-relative paths.
    */
  /** Change-data files a commit's `cdc` actions reference, log-relative
    * (the cleanup walk needs names only — content stays unread).
    */
  private def cdcRefsOf(root: String, v: Long): Seq[String] =
    commitActions(root, v).collect { case c: AddCdc => c.path }

  def cleanUpExpiredLogs(spark: SparkSession, root: String): Seq[String] = {
    val st = replay(spark, root, currentVersion(root))
    cleanUpExpiredLogs(spark, root, st.configuration
      .get("delta.logRetentionDuration").map(parseIntervalMs)
      .getOrElse(30L * 86400000L)) // Delta's documented default
  }

  def cleanUpExpiredLogs(spark: SparkSession, root: String,
                         retentionMs: Long): Seq[String] = {
    require(retentionMs >= 0L,
      "DeltaLog.cleanUpExpiredLogs: retentionMs >= 0")
    val refs = checkpointRefs(root)
    if (refs.isEmpty) return Seq.empty // the JSON chain IS the state
    val cutoffMs = System.currentTimeMillis() - retentionMs
    // expired commits form a PREFIX of the retained versions: stop at
    // the first unexpired one regardless of what follows
    val expiredPrefixMax = {
      var last = -1L
      val it = versions(root).iterator
      var go = true
      while (go && it.hasNext) {
        val v = it.next()
        if (commitTimestamp(root, v) <= cutoffMs) last = v else go = false
      }
      last
    }
    // the cut: largest checkpoint version every version BELOW which is
    // expired (a checkpoint with no JSON predecessors qualifies too —
    // versions(root) then starts at or above it)
    val cutOpt = refs.map(_.version).distinct.sorted.reverse.find(cv =>
      versions(root).forall(v => v >= cv || v <= expiredPrefixMax))
    val logd = logDir(root)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    cutOpt.foreach { cut =>
      // `cdc` actions live ONLY in commit JSONs (checkpoints exclude
      // them per the protocol), so the change-data files of the
      // reclaimed prefix become unreadable the moment their commits go
      // — sweep them with the commits. Vacuum deliberately never
      // touches `_change_data`; THIS is the one place a CDC file's
      // lifetime ends, because its sole reference is being deleted.
      // Retained commits' refs are subtracted defensively (a cdc file
      // is written by exactly one commit, so the set is empty today).
      val (expired, retained) = versions(root).partition(_ < cut)
      val deadCdc = expired.flatMap(cdcRefsOf(root, _)).toSet --
        retained.flatMap(cdcRefsOf(root, _)).toSet
      expired.foreach { v =>
        Files.delete(logd.resolve(commitName(v)))
        deleted += commitName(v)
      }
      deadCdc.toSeq.sorted
        .filter(r => r.startsWith("_change_data/") && !r.contains(".."))
        .foreach { rel =>
          val p = resolvePath(root, rel)
          if (Files.deleteIfExists(p)) deleted += rel
        }
      refs.filter(_.version < cut).foreach {
        case ClassicCp(_, parts) => parts.foreach { p =>
          Files.delete(p); deleted += p.getFileName.toString
        }
        case V2Cp(_, top) =>
          Files.delete(top); deleted += top.getFileName.toString
      }
    }
    // sweep sidecars no retained V2 top references — age-guarded so an
    // in-flight checkpointV2 (sidecars land before the top) is safe.
    // The age cutoff is bounded AWAY from 'now' by a fixed grace
    // window independent of the caller's retention: with retention 0
    // (the deterministic-gate form) the plain cutoff IS 'now', and
    // freshly-landed sidecars whose top has not yet been written
    // would be collected out from under the checkpoint being built.
    val sideCutoffMs = math.min(cutoffMs,
      System.currentTimeMillis() - SidecarSweepGraceMs)
    val sideDir = logd.resolve("_sidecars")
    if (Files.isDirectory(sideDir)) {
      val live: Set[String] = checkpointRefs(root).collect {
        case V2Cp(_, top) => sidecarRefsOf(spark, top)
      }.flatten.toSet
      val s = Files.list(sideDir)
      val onDisk =
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally s.close()
      onDisk.filter(p => !live(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis <= sideCutoffMs).foreach { p =>
        Files.delete(p)
        deleted += "_sidecars/" + p.getFileName.toString
      }
    }
    deleted.toSeq.sorted
  }

  /** Delta `stats` JSON for a data file from its parquet FOOTER alone
    * (numRecords from row-group counts; minValues/maxValues/nullCount
    * per top-level primitive column from column-chunk statistics —
    * bytes read ∝ footer size, never data size). Columns whose chunks
    * lack usable statistics are omitted from min/max but still
    * null-counted when known.
    */
  private def footerStatsJson(file: Path,
                              conf: org.apache.hadoop.conf.Configuration): String = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file.toString), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // Raw per-column extrema folded across row groups with the
      // column's own parquet PrimitiveComparator — NOT Java
      // Comparable: binary stats order by UNSIGNED bytes, and
      // String.compareTo disagrees with that above 0x7f, which would
      // emit invalid bounds an external reader then data-skips on.
      final class ColAcc(var mn: AnyRef, var mx: AnyRef,
                         val cmp: java.util.Comparator[AnyRef],
                         val ptype: org.apache.parquet.schema.PrimitiveType)
      val accs = scala.collection.mutable.Map.empty[String, ColAcc]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      var statless = Set.empty[String]
      blocks.foreach(_.getColumns.asScala.foreach { c =>
        val path = c.getPath.toArray
        if (path.length == 1) {
          val name = path(0)
          val s = c.getStatistics
          if (s == null) statless += name
          else {
            if (s.isNumNullsSet)
              nulls(name) = nulls.getOrElse(name, 0L) + s.getNumNulls
            if (s.hasNonNullValue) {
              val mn = s.genericGetMin.asInstanceOf[AnyRef]
              val mx = s.genericGetMax.asInstanceOf[AnyRef]
              if (mn == null || mx == null) statless += name
              else accs.get(name) match {
                case Some(a) =>
                  if (a.cmp.compare(mn, a.mn) < 0) a.mn = mn
                  if (a.cmp.compare(mx, a.mx) > 0) a.mx = mx
                case None =>
                  accs(name) = new ColAcc(mn, mx,
                    s.comparator().asInstanceOf[java.util.Comparator[AnyRef]],
                    c.getPrimitiveType)
              }
            }
          }
        }
      })
      // Emit min/max ONLY for values whose JSON rendering preserves the
      // comparator's ordering: plain numerics/booleans, int-annotated
      // ints, DATE ints (rendered ISO, Delta's own form), int-backed
      // DECIMALs (rendered as scaled JSON numbers, Delta's own form), and
      // pure-ASCII utf8 strings (ASCII ⇒ unsigned-byte order ==
      // code-point order == JSON string order). FLBA-backed decimals,
      // timestamps and non-ASCII strings are omitted — the way Delta
      // itself truncates or skips what it cannot render faithfully.
      def renderable(pt: org.apache.parquet.schema.PrimitiveType,
                     v: AnyRef): Option[Any] = {
        import org.apache.parquet.schema.LogicalTypeAnnotation
        val ann = pt.getLogicalTypeAnnotation
        val plainOrInt = ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
        def dec(unscaled: Long): Option[Any] = {
          val scale = ann
            .asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
            .getScale
          Some(java.math.BigDecimal.valueOf(unscaled, scale))
        }
        v match {
          case b: java.lang.Boolean => Some(b)
          case l: java.lang.Long if plainOrInt => Some(l)
          case i: java.lang.Integer if plainOrInt => Some(i)
          case i: java.lang.Integer
            if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
            Some(java.time.LocalDate.ofEpochDay(i.longValue()).toString)
          case l: java.lang.Long
            if ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
            dec(l.longValue())
          case i: java.lang.Integer
            if ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
            dec(i.longValue())
          case d: java.lang.Double if ann == null => Some(d)
          case f: java.lang.Float if ann == null => Some(f)
          case bin: org.apache.parquet.io.api.Binary
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            (try Some(bin.toStringUsingUTF8) catch { case _: Throwable => None })
              .filter(_.forall(_ < 0x80))
          case _ => None
        }
      }
      val root = mapper.createObjectNode()
      root.put("numRecords", numRecords)
      val mnO = root.putObject("minValues")
      val mxO = root.putObject("maxValues")
      val nlO = root.putObject("nullCount")
      def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
                 k: String, v: Any): Unit = v match {
        case l: java.lang.Long => o.put(k, l.longValue())
        case i: java.lang.Integer => o.put(k, i.intValue())
        case d: java.lang.Double => o.put(k, d.doubleValue())
        case f: java.lang.Float => o.put(k, f.floatValue())
        case b: java.lang.Boolean => o.put(k, b.booleanValue())
        case bd: java.math.BigDecimal => o.put(k, bd)
        case s: String => o.put(k, s)
        case other => o.put(k, other.toString)
      }
      accs.keySet.filterNot(statless).toSeq.sorted.foreach { k =>
        val a = accs(k)
        (renderable(a.ptype, a.mn), renderable(a.ptype, a.mx)) match {
          case (Some(lo), Some(hi)) => putVal(mnO, k, lo); putVal(mxO, k, hi)
          case _ => () // unrenderable bounds: omitted, readers keep the file
        }
      }
      nulls.keySet.toSeq.sorted.foreach(k => nlO.put(k, nulls(k)))
      mapper.writeValueAsString(root)
    } finally r.close()
  }

  /** Read the current snapshot (highest Delta commit). */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, currentVersion(root))

  /** Active table-relative files at `version` — the planning surface an
    * external integration scans (exposed for specs and manifests).
    */
  def filesAt(spark: SparkSession, root: String, version: Long): Seq[String] =
    replay(spark, root, version).files.map(_.path)

  // ------------------------------------------------------------------
  // Partitioned writer
  // ------------------------------------------------------------------

  /** Commit `df` to a PARTITIONED Delta table at `root` — hive-style
    * `col=value` data paths (Spark's `partitionBy` writes them, special
    * characters percent-escaped, nulls as `__HIVE_DEFAULT_PARTITION__`),
    * one `add` per file with its partition values in `partitionValues`,
    * `partitionColumns` declared in commit 0's `metaData`. `rewrite =
    * true` emits `remove` for every currently-active file first (the
    * INSERT OVERWRITE shape); `false` appends. Subsequent commits must
    * keep the same schema and partitioning (schema evolution on a
    * partitioned table is out of scope — fails loudly, never silently
    * diverges). Returns the committed Delta version.
    *
    * Scale posture: the data write is an ordinary distributed
    * `partitionBy` parquet write; everything else is one JSON line per
    * file. The file move into the table root is a same-filesystem
    * rename per file, and the commit point is the log file's atomic
    * rename — a crash beforehand leaves unreferenced files invisible
    * to readers.
    */
  def commitPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partitionCols: Seq[String],
                        rewrite: Boolean = false,
                        txn: Option[(String, Long)] = None,
                        configuration: Map[String, String] = Map.empty): Long = {
    require(partitionCols.nonEmpty,
      "DeltaLog.commitPartitioned: partitionCols must be non-empty " +
        "(use commitFlat for unpartitioned tables)")
    require(partitionCols.forall(df.columns.contains),
      s"DeltaLog.commitPartitioned: $partitionCols not all in ${df.columns.toSeq}")
    commitData(spark, root, df, partitionCols, rewrite, txn, configuration)
  }

  /** Commit `df` to an UNPARTITIONED Delta table at `root` — the flat
    * sibling of [[commitPartitioned]] with the same txn-watermark
    * exactly-once semantics (a replayed (appId, version) at or below
    * the recorded watermark is a no-op). An EMPTY `df` still commits
    * (protocol/metaData/txn actions, zero adds) so a watermark advances
    * even when a batch contributes no rows — the foreachBatch shape.
    */
  def commitFlat(spark: SparkSession, root: String, df: DataFrame,
                 rewrite: Boolean = false,
                 txn: Option[(String, Long)] = None,
                 configuration: Map[String, String] = Map.empty,
                 mergeSchema: Boolean = false,
                 writeOptions: Map[String, String] = Map.empty): Long =
    commitData(spark, root, df, Seq.empty, rewrite, txn, configuration,
      mergeSchema, writeOptions)

  /** Parquet writer options enabling a BLOOM FILTER on each column —
    * the per-file point-lookup index [[mightSatisfy]] consults:
    * on an UNSORTED column min/max stats cannot prune (every file
    * spans the range), but the bloom answers "definitely absent" from
    * footer bytes alone. Pass to `commitFlat(writeOptions = …)`;
    * `ndv` sizes the filter (expected distinct values per file).
    */
  def bloomOptions(cols: Seq[String], ndv: Long = 0L): Map[String, String] =
    cols.flatMap { c =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
        (if (ndv > 0L)
          Seq(s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
        else Nil)
    }.toMap

  /** One-scan multi-commit builder: commits the slices of `df` named by
    * `values` of the integral column `sliceCol` (excluded from the table
    * schema) as successive versions 0..k-1 of a FRESH flat table, reading
    * the source ONCE. Semantically identical to
    * `values.foreach(i => commitFlat(spark, root, df.filter(sliceCol === i).drop(sliceCol)))`
    * with `configuration` on the first commit — same per-version file
    * counts (each scan task writes one file per slice directory), same
    * footer-derived stats, same protocol floor, same per-commit
    * checkpoint/manifest maintenance — but the k full source scans
    * collapse to one slice-partitioned write job. The staged files are
    * hoisted under fresh names because one write task reuses its part
    * name across every slice directory (the sibling-collision lesson).
    *
    * Scale posture: a k-version backfill of a 100 TB source is k full
    * scans under sequential commitFlat and ONE here; per-commit driver
    * work (footer stats, commit JSON, maintenance) stays O(commit).
    *
    * Supported shape (the backfill/fixture surface): fresh root, flat
    * unpartitioned schema, no column mapping, no identity columns, no
    * variant. CDF, in-commit timestamps, checkpointInterval, symlink
    * manifests, constraints and generated-column floors behave exactly
    * as under [[commitFlat]]. `onePerSlice = true` reproduces the
    * `commitFlat(df.coalesce(1))` one-file-per-commit layout.
    */
  def commitFlatSlices(spark: SparkSession, root: String, df: DataFrame,
                       sliceCol: String, values: Seq[Int],
                       configuration: Map[String, String] = Map.empty,
                       writeOptions: Map[String, String] = Map.empty,
                       onePerSlice: Boolean = false): Long =
    commitSlicesImpl(spark, root, df, sliceCol, values, Seq.empty,
      configuration, writeOptions, onePerSlice)

  /** The partitioned sibling of [[commitFlatSlices]]: each slice lands
    * as one version of a fresh table hive-partitioned by
    * `partitionCols`, from ONE slice+partition-routed write job —
    * semantically identical to sequential
    * `commitPartitioned(df.filter(sliceCol === i).drop(sliceCol), partitionCols)`
    * calls with `configuration` on the first.
    */
  def commitPartitionedSlices(spark: SparkSession, root: String,
                              df: DataFrame, sliceCol: String,
                              values: Seq[Int],
                              partitionCols: Seq[String],
                              configuration: Map[String, String] = Map.empty,
                              writeOptions: Map[String, String] = Map.empty): Long = {
    require(partitionCols.nonEmpty,
      "DeltaLog.commitPartitionedSlices: partitionCols must be " +
        "non-empty (use commitFlatSlices for unpartitioned tables)")
    commitSlicesImpl(spark, root, df, sliceCol, values, partitionCols,
      configuration, writeOptions, onePerSlice = false)
  }

  private def commitSlicesImpl(spark: SparkSession, root: String,
                               df: DataFrame, sliceCol: String,
                               values: Seq[Int],
                               partitionCols: Seq[String],
                               configuration: Map[String, String],
                               writeOptions: Map[String, String],
                               onePerSlice: Boolean): Long = {
    require(values.nonEmpty, "DeltaLog.commitFlatSlices: values is empty")
    require(values.distinct == values,
      "DeltaLog.commitFlatSlices: duplicate slice values")
    require(df.columns.contains(sliceCol),
      s"DeltaLog.commitFlatSlices: slice column $sliceCol not in " +
        s"${df.columns.toSeq}")
    require(partitionCols.forall(df.columns.contains)
        && !partitionCols.contains(sliceCol),
      s"DeltaLog.commitFlatSlices: partition columns $partitionCols " +
        s"must be data columns distinct from $sliceCol")
    require(!configuration.get("delta.columnMapping.mode")
        .exists(_ != "none"),
      "DeltaLog.commitFlatSlices: column mapping is out of scope — " +
        "use commitFlat per batch")
    val dataSchema = StructType(df.schema.filterNot(_.name == sliceCol))
    require(identityInfo(dataSchema).isEmpty,
      "DeltaLog.commitFlatSlices: identity columns need per-commit " +
        "high-water-mark maintenance — use commitFlat per batch")
    require(!hasVariantType(dataSchema),
      "DeltaLog.commitFlatSlices: variant columns are out of scope — " +
        "use commitFlat per batch")
    // APPEND to an existing table: same checks a per-slice commitFlat
    // chain would hit — writable, same partitioning, exact schema (no
    // evolution through this path), no generated/identity obligations.
    val v0 = currentVersion(root) + 1L
    val prior = if (v0 == 0L) None else Some(replay(spark, root, v0 - 1L))
    prior.foreach { st =>
      requireWritableMapping(st, "commitFlatSlices")
      requireWritable(st, "commitFlatSlices")
      require(mappingMode(st) == "none",
        "DeltaLog.commitFlatSlices: column-mapped target — use " +
          "commitFlat per batch")
      require(st.partitionColumns == partitionCols,
        s"DeltaLog.commitFlatSlices: table is partitioned by " +
          s"${st.partitionColumns}, got $partitionCols")
      require(configuration.isEmpty,
        "DeltaLog.commitFlatSlices: table configuration is set at " +
          "CREATION only — later slices inherit it")
      st.schema.foreach { sch =>
        require(normSchema(sch) == normSchema(dataSchema),
          "DeltaLog.commitFlatSlices: schema change on a committed " +
            "table — use commitFlat with mergeSchema")
        require(generationExprs(sch).isEmpty && identityInfo(sch).isEmpty,
          "DeltaLog.commitFlatSlices: generated/identity columns need " +
            "per-commit maintenance — use commitFlat per batch")
      }
    }
    val ictEnabled = configuration.get("delta.enableInCommitTimestamps")
      .exists(_.trim.equalsIgnoreCase("true"))
    Files.createDirectories(Paths.get(root))
    // invariants (NOT NULL + CHECK constraints) enforced on the rows
    // exactly as a per-slice commitFlat would — the slice column rides
    // along and is dropped by the partitioned write below
    val enforced = enforceInvariants(df, dataSchema,
      prior.map(_.configuration).getOrElse(configuration))
      .withColumn(sliceCol, col(sliceCol).cast("int"))
      .filter(col(sliceCol).isin(values.map(Integer.valueOf): _*))
    val routed =
      if (onePerSlice) enforced.repartition(values.length, col(sliceCol))
      else enforced
    val stagingPath = Files.createTempDirectory(stagingBase(root),
      "graft-delta-slices")
    routed.write.mode("overwrite").options(writeOptions)
      .partitionBy((sliceCol +: partitionCols): _*)
      .parquet(stagingPath.toString)
    val walk = Files.walk(stagingPath)
    val staged =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      finally walk.close()
    // slice value from the leading hive dir; hoist to root — keeping
    // the partition sub-path — under a slice-unique leaf name (within
    // one slice the part names are already unique)
    val bySlice = staged.groupBy { p =>
      val rel = stagingPath.relativize(p).toString
        .replace(java.io.File.separatorChar, '/')
      rel.split('/').collectFirst {
        case seg if seg.startsWith(sliceCol + "=") =>
          seg.substring(sliceCol.length + 1).toInt
      }.getOrElse(throw new IllegalStateException(
        s"DeltaLog.commitFlatSlices: staged file $rel has no slice dir"))
    }
    val movedBySlice: Map[Int, Seq[String]] = bySlice.map { case (sv, ps) =>
      sv -> ps.sortBy(_.toString).map { p =>
        val rel = stagingPath.relativize(p).toString
          .replace(java.io.File.separatorChar, '/')
        val below = rel.split('/').dropWhile(
          _.startsWith(sliceCol + "=")) // partition dirs + leaf
        val fresh = (below.init :+ s"s$sv-${below.last}").mkString("/")
        val target = Paths.get(root, fresh)
        Files.createDirectories(target.getParent)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        fresh
      }
    }
    deleteRecursively(stagingPath)
    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft-delta:" + root).getBytes("UTF-8")).toString
    Files.createDirectories(logDir(root))
    val conf = spark.sparkContext.hadoopConfiguration
    var committed = -1L
    values.zipWithIndex.foreach { case (sv, vi) =>
      val v = v0 + vi.toLong
      val actions = Seq.newBuilder[Action]
      if (v == 0L) {
        // protocol floor: the commitData creation logic restricted to
        // the shapes admitted above (no mapping/variant/identity)
        val legacyFloor =
          if (configuration.get("delta.enableChangeDataFeed")
            .exists(_.trim.equalsIgnoreCase("true")) ||
            generationExprs(dataSchema).nonEmpty) 4 else 2
        actions += (if (ictEnabled) Protocol(1, 7, Nil,
            (legacyWriterFeatures(legacyFloor) :+ "inCommitTimestamp").distinct)
          else Protocol(1, legacyFloor, Nil, Nil))
        actions += MetaData(tableId, dataSchema.json, partitionCols,
          configuration)
      }
      movedBySlice.getOrElse(sv, Seq.empty).foreach { rel =>
        actions += addFor(root, rel,
          partitionValuesOf(rel, partitionCols), dataChange = true, conf)
      }
      val cv = writeCommitFile(root, v, actions.result(),
        operation = "WRITE", ictStart = v == 0L && ictEnabled,
        retryDataConflicts = true)
      if (v > 0L) postCommit(spark, root, replay(spark, root, v - 1), cv)
      committed = cv
    }
    committed
  }

  private def commitData(spark: SparkSession, root: String, df: DataFrame,
                         partitionCols: Seq[String], rewrite: Boolean,
                         txn: Option[(String, Long)],
                         configuration: Map[String, String] = Map.empty,
                         mergeSchema: Boolean = false,
                         writeOptions: Map[String, String] = Map.empty): Long = {
    val v = currentVersion(root) + 1
    val prior =
      if (v == 0L) None
      else Some(replay(spark, root, v - 1))
    // Exactly-once via txn watermarks (the protocol's mechanism): if
    // this (appId, version) is at or below the log's recorded watermark
    // the batch already landed — a replay is a NO-OP, not a double
    // append. This is what makes a streaming sink on this writer
    // idempotent across micro-batch replays. It runs BEFORE any
    // validation: the original batch already passed the checks below,
    // and re-checking a replay against the table's CURRENT rules
    // (an evolved schema, a new constraint) would fail it spuriously.
    txn.foreach { case (app, ver) =>
      val applied = prior.exists(
        _.txnVersions.get(app).exists(_ >= ver))
      if (applied) return v - 1
    }
    // generated columns: compute what the batch lacks / verify what it
    // provides, BEFORE the schema-shape check sees the batch
    val dfG0 = prior.flatMap(_.schema) match {
      case Some(ds) => applyGeneratedColumns(df, ds)
      case None => df
    }
    // identity columns: a batch lacking one continues ABOVE the
    // recorded high-water mark — distributed block assignment
    // (monotonically_increasing_id: unique, step-aligned, gaps legal —
    // Delta's documented identity semantics), one pass, no global sort
    val dfG = prior.flatMap(_.schema) match {
      case Some(ds) =>
        identityInfo(ds).foldLeft(dfG0) { case (d, ic) =>
          if (!d.columns.contains(ic.name)) {
            val base = ic.hwm.getOrElse(ic.start - ic.step)
            d.withColumn(ic.name, (lit(base + ic.step) + lit(ic.step) *
              org.apache.spark.sql.functions.monotonically_increasing_id())
              .cast(LongType))
          } else {
            require(ic.allowExplicit,
              s"DeltaLog.commitData: ${ic.name} is GENERATED ALWAYS AS " +
                "IDENTITY — explicit values refuse " +
                "(allowExplicitInsert=false)")
            d
          }
        }
      case None => dfG0
    }
    // CREATION with column mapping: assign every field its columnId +
    // a fresh physicalName (the ALTER TABLE SET columnMapping upgrade
    // shape) so the very first files land under physical names/ids
    val createMode =
      if (prior.isEmpty)
        configuration.getOrElse("delta.columnMapping.mode", "none")
      else "none"
    require(createMode == "none" || createMode == "name"
        || createMode == "id",
      s"DeltaLog.commitData: columnMapping mode '$createMode' is " +
        "unsupported (none, name, id)")
    val (createdSchema, createdConfig) =
      if (createMode == "none") (None, configuration)
      else {
        val (ms, maxId) = assignMapping(dfG.schema, 0L)
        (Some(ms), configuration +
          ("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    var evolvedSchema: Option[StructType] = None
    var evolvedConfig: Option[Map[String, String]] = None
    prior.foreach { st =>
      requireWritableMapping(st, "commitData")
      requireWritable(st, "commitData")
      require(st.partitionColumns == partitionCols,
        s"DeltaLog.commitData: table is partitioned by " +
          s"${st.partitionColumns}, got $partitionCols")
      // nullability and field metadata (generation markers, comments)
      // are write-path metadata, not a schema change: a stricter
      // (non-null) batch may land in a nullable table and vice versa —
      // Delta's own writer behaves the same way
      def norm(dt: DataType): DataType = normSchema(dt)
      st.schema.foreach { sch =>
        if (norm(sch) != norm(dfG.schema)) {
          require(mergeSchema,
            "DeltaLog.commitData: schema change on a committed table — " +
              "pass mergeSchema=true for additive evolution, or rewrite " +
              "to a new root")
          // Delta's mergeSchema: shared columns keep their declared
          // type (no silent casts/widening), columns absent from the
          // batch stay (their files simply lack them — the declared-
          // schema read returns null), genuinely NEW top-level columns
          // append as nullable and the commit re-emits metaData with
          // the evolved schema (the Delta schema-evolution idiom).
          val byName = sch.fields.map(f => f.name -> f).toMap
          dfG.schema.fields.filter(f => byName.contains(f.name))
            .foreach(f => require(
              norm(byName(f.name).dataType) == norm(f.dataType),
              s"DeltaLog.commitData: column ${f.name} is " +
                s"${byName(f.name).dataType} in the table but " +
                s"${f.dataType} in the batch — type changes are not " +
                "schema evolution"))
          val newFields = dfG.schema.fields
            .filterNot(f => byName.contains(f.name))
            .map(_.copy(nullable = true))
          // evolution re-emits metaData, never protocol — a variant
          // column sneaking in through mergeSchema would leave the
          // table's declared features silent about bytes external
          // readers cannot interpret
          newFields.foreach(nf => require(!hasVariantType(nf.dataType),
            s"DeltaLog.commitData: new column ${nf.name} is VARIANT — " +
              "variant columns enter at table CREATION (the " +
              "variantType feature must be declared by the protocol " +
              "from commit 0), not through mergeSchema evolution"))
          if (newFields.nonEmpty) {
            if (mappingMode(st) == "none")
              evolvedSchema = Some(StructType(sch.fields ++ newFields))
            else {
              // mapped evolution: new columns get fresh ids/physical
              // names above the recorded maxColumnId, which bumps
              val startId = st.configuration
                .get("delta.columnMapping.maxColumnId")
                .flatMap(_.toLongOption)
                .getOrElse(sch.fields.collect {
                  case f if f.metadata.contains(ColumnIdKey) =>
                    f.metadata.getLong(ColumnIdKey)
                }.foldLeft(0L)(math.max))
              val (assigned, maxId) =
                assignMapping(StructType(newFields), startId)
              evolvedSchema = Some(StructType(sch.fields ++ assigned.fields))
              evolvedConfig = Some(st.configuration +
                ("delta.columnMapping.maxColumnId" -> maxId.toString))
            }
          }
        }
      }
    }
    Files.createDirectories(Paths.get(root))
    val stagingPath = Files.createTempDirectory(stagingBase(root),
      "graft-delta-part")
    // writer invariants ride the write itself — NOT NULL columns and
    // delta.constraints.* CHECKs fail the batch before a commit lands
    val declared = evolvedSchema.orElse(prior.flatMap(_.schema))
      .orElse(createdSchema).getOrElse(dfG.schema)
    val enforced = enforceInvariants(dfG, declared,
      prior.map(_.configuration).getOrElse(configuration))
    // mapped target (pre-existing OR being created): the batch lands
    // under PHYSICAL field names (+field ids in id mode), partition
    // directories and partitionValues keyed physical
    val physMap = prior.map(physicalWriteMap(_, declared))
      .getOrElse(createdSchema.map(physicalTopLevel).getOrElse(Map.empty))
    val outFieldIds = prior.map(physFieldIds(_, declared)).getOrElse(
      if (createMode == "id") fieldIdsOf(declared)
      else Map.empty[String, Long])
    val wantIds = prior.map(mappingMode(_) == "id")
      .getOrElse(createMode == "id")
    val physOut =
      if (physMap.isEmpty) enforced
      else stampFieldIds(
        enforced.select(enforced.columns.toIndexedSeq.map { c =>
          declared.fields.find(_.name == c) match {
            case Some(f) =>
              toPhysicalField(wantIds, f, physMap.getOrElse(c, c))
            case None => col(c)
          }
        }: _*),
        outFieldIds)
    val physPcs = partitionCols.map(c => physMap.getOrElse(c, c))
    val writer = physOut.write.mode("overwrite").options(writeOptions)
    (if (physPcs.nonEmpty) writer.partitionBy(physPcs: _*)
     else writer).parquet(stagingPath.toString)
    // Move each data file into the table root under its partition path
    // (same-filesystem by construction — see stagingBase).
    val moved = Seq.newBuilder[(String, Map[String, String])]
    val walk = Files.walk(stagingPath)
    val dataFiles =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      finally walk.close()
    dataFiles.foreach { p =>
      val rel = stagingPath.relativize(p).toString
        .replace(java.io.File.separatorChar, '/')
      val target = Paths.get(root, rel)
      Files.createDirectories(target.getParent)
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      moved += rel -> partitionValuesOf(rel, physPcs)
    }
    deleteRecursively(stagingPath)
    val added = moved.result()
    // a partitioned write always yields files; a flat EMPTY batch may
    // legitimately yield none (the commit still advances the watermark)
    require(added.nonEmpty || partitionCols.isEmpty,
      s"DeltaLog.commitData: write produced no parquet files")
    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft-delta:" + root).getBytes("UTF-8")).toString
    Files.createDirectories(logDir(root))
    require(configuration.isEmpty || v == 0L,
      "DeltaLog.commitData: table configuration is set at CREATION " +
        "(version 0) only — later commits inherit it")
    val actions = Seq.newBuilder[Action]
    val ictEnabled = configuration.get("delta.enableInCommitTimestamps")
      .exists(_.trim.equalsIgnoreCase("true"))
    // VARIANT columns require the variantType reader+writer feature
    // from commit 0 — external readers must refuse-or-support by
    // declaration, never discover variant bytes mid-scan
    val hasVariant = hasVariantType(createdSchema.getOrElse(dfG.schema))
    if (v == 0L) {
      // change data feed AND generated columns are legacy
      // writer-version-4 features (PROTOCOL.md: Writer Version
      // Requirements) — a table created with either must declare the
      // writer floor that implies them. In-commit timestamps have no
      // legacy floor: they force the features form (writer 7) with the
      // implied legacy features enumerated.
      val legacyFloor0 =
        if (identityInfo(dfG.schema).nonEmpty) 6
        else if (configuration.get("delta.enableChangeDataFeed")
          .exists(_.trim.equalsIgnoreCase("true")) ||
          generationExprs(dfG.schema).nonEmpty) 4 else 2
      // columnMapping's legacy writer floor is 5
      val legacyFloor =
        if (createMode != "none") math.max(legacyFloor0, 5)
        else legacyFloor0
      // column mapping requires reader 2 (legacy form); variant the
      // features form (reader 3)
      actions += Protocol(
        if (hasVariant) 3 else if (createMode != "none") 2 else 1,
        if (ictEnabled || hasVariant) 7 else legacyFloor,
        if (!hasVariant) Nil
        else (if (createMode != "none") Seq("columnMapping") else Seq.empty)
          :+ "variantType",
        if (!(ictEnabled || hasVariant)) Nil
        else (legacyWriterFeatures(legacyFloor) ++
          (if (ictEnabled) Seq("inCommitTimestamp") else Nil) ++
          (if (hasVariant) Seq("variantType") else Nil)).distinct)
      actions += MetaData(tableId,
        createdSchema.getOrElse(dfG.schema).json, partitionCols,
        createdConfig)
    }
    // additive evolution: re-emit metaData with the widened schema,
    // preserving the table's ORIGINAL id and configuration
    evolvedSchema.foreach { es =>
      val st = prior.get
      actions += MetaData(st.tableId, es.json, partitionCols,
        evolvedConfig.getOrElse(st.configuration))
    }
    txn.foreach { case (app, ver) => actions += Txn(app, ver) }
    if (rewrite) prior.foreach { st =>
      requireNotAppendOnly(st, "commitData(rewrite)")
      st.files.foreach(f => actions += removeOf(f.path, dataChange = true))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val adds = added.map { case (rel, pv) =>
      addFor(root, rel, pv, dataChange = true, conf)
    }
    actions ++= adds
    // identity high-water marks: fold each identity column's max over
    // the written files' EMBEDDED footer stats (zero extra IO) and
    // re-emit metaData whenever the mark advanced — the contract the
    // next batch's assignment continues from
    // `declared` (not the bare batch schema): a mapped CREATION records
    // its assigned physicalNames here, and the stats fold must key them
    val hwmSchema = declared
    val idents = identityInfo(hwmSchema)
    if (idents.nonEmpty && adds.nonEmpty) {
      var sch = hwmSchema
      var changed = false
      idents.foreach { ic =>
        // footer-derived stats key by PHYSICAL name on mapped tables
        val statsKey = physicalTopLevel(
          StructType(hwmSchema.filter(_.name == ic.name)))
          .getOrElse(ic.name, ic.name)
        val maxes = adds.flatMap(_.stats).flatMap { stats =>
          val mx = mapper.readTree(stats).path("maxValues").path(statsKey)
          if (mx.isNumber) Some(mx.asLong()) else None
        }
        if (maxes.nonEmpty && ic.hwm.forall(_ < maxes.max)) {
          sch = withHwm(sch, ic.name, maxes.max); changed = true
        }
      }
      if (changed)
        actions += MetaData(
          prior.map(_.tableId).getOrElse(tableId), sch.json,
          partitionCols,
          evolvedConfig.getOrElse(
            prior.map(_.configuration).getOrElse(createdConfig)))
    }
    // blind appends (the common ingest shape) reconcile version
    // collisions with a concurrent writer — see [[writeCommitFile]];
    // schema-evolving / creating / rewriting commits refuse as before
    val committed = writeCommitFile(root, v, actions.result(),
      operation = "WRITE", ictStart = v == 0L && ictEnabled,
      retryDataConflicts = true)
    prior.foreach(postCommit(spark, root, _, committed))
    committed
  }

  /** The commit version that carries `txn` action (appId, txnVersion) —
    * the anchor a restart-safe consumer uses to time-travel to the
    * state just BEFORE a given batch landed. Scans the retained JSON
    * commits newest-first (checkpoints compact txn actions to their
    * latest watermark, so only the retained tail is addressable — in
    * the replay-recent-batch use this is always the live window).
    */
  /** The recorded txn watermark for `appId` on this table (highest
    * `txn.version` replayed into the current state), or None for a
    * fresh consumer / nonexistent table — the restart anchor an
    * exactly-once incremental consumer reads before deciding what
    * still needs applying.
    */
  def txnWatermark(spark: SparkSession, root: String,
                   appId: String): Option[Long] =
    if (!Files.isDirectory(logDir(root))) None
    else replay(spark, root, currentVersion(root)).txnVersions.get(appId)

  def txnCommitVersion(root: String, appId: String,
                       txnVersion: Long): Option[Long] =
    versions(root).sorted.reverse.find(v =>
      commitActions(root, v).contains(Txn(appId, txnVersion)))

  /** `OPTIMIZE … ZORDER BY (x, y)` through the Delta log: the current
    * active set rewrites Z-clustered ([[Layout.zorderWrite]] —
    * Morton-keyed range partitioning + in-partition sort, one shuffle)
    * as `remove`+`add` with `dataChange=false`: identical logical rows,
    * so append tails skip the commit and every earlier version stays
    * time-travelable until vacuum. Each new file covers a contiguous
    * Morton run = a small (x, y) rectangle, so its footer min/max are
    * NARROW on both dimensions and [[read]]'s file index/external
    * data-skipping readers prune selective reads on EITHER column —
    * the reason to Z-order at all. Deletion vectors are APPLIED and
    * cleared (Delta's own OPTIMIZE does the same), and shallow-cloned
    * absolute references are MATERIALIZED under this table's root —
    * this is the clone-localization pass [[compactPartitioned]]'s
    * refusal points at. Both columns must be LONG (the Morton fold's
    * contract). No-op on an empty table.
    *
    * PARTITIONED tables cluster WITHIN each partition (Delta's own
    * `OPTIMIZE … ZORDER BY` semantics — the README's recommended
    * maintenance for date-partitioned silver): one range exchange on
    * (partition cols, morton) + one dynamic-partitioned write, so
    * every output file stays inside its hive directory and covers a
    * contiguous Morton run there. `numFiles` is the TABLE-wide target;
    * range partitioning apportions files to partitions by sampled row
    * share. Still one shuffle + one job at any partition count.
    */
  def optimizeZOrder(spark: SparkSession, root: String, xCol: String,
                     yCol: String, bits: Int, numFiles: Int): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "optimizeZOrder")
    requireWritable(st, "optimizeZOrder")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog.optimizeZOrder: no metaData in $root log"))
    val pcs = st.partitionColumns
    val pcSet = pcs.toSet
    Seq(xCol, yCol).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"DeltaLog.optimizeZOrder: column $c not in schema")
      require(!pcSet(c),
        s"DeltaLog.optimizeZOrder: $c is a partition column — Z-order " +
          "clusters data columns within partitions")
      require(schema(c).dataType == LongType,
        s"DeltaLog.optimizeZOrder: $c is ${schema(c).dataType}, the " +
          "Morton fold needs LongType")
    }
    if (st.files.isEmpty) return v
    // DV-aware, clone-aware current read — deleted rows drop out here;
    // mapped tables rewrite under PHYSICAL names (+field ids), with the
    // Morton fold running on the renamed columns
    val physMap = physicalWriteMap(st, schema)
    val df = readAt(spark, root, v)
    val staging = Files.createTempDirectory(stagingBase(root),
      "graft-delta-zorder")
    val conf = spark.sparkContext.hadoopConfiguration
    val actions = Seq.newBuilder[Action]
    st.files.foreach(f => actions += removeOf(f.path, dataChange = false))
    if (pcs.isEmpty) {
      Layout.zorderWrite(toPhysicalDf(st, schema, df), staging.toString,
        physMap.getOrElse(xCol, xCol), physMap.getOrElse(yCol, yCol),
        bits, numFiles)
      val listed = Files.list(staging)
      val parts =
        try listed.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally listed.close()
      require(parts.nonEmpty,
        s"DeltaLog.optimizeZOrder: rewrite produced no parquet files")
      parts.sortBy(_.getFileName.toString).foreach { p =>
        val target = Paths.get(root).resolve(p.getFileName)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        actions += addFor(root, target.getFileName.toString,
          Map.empty, dataChange = false, conf)
      }
    } else {
      // per-partition clustering in ONE job: range-partition on
      // (partition cols, morton key) so contiguous Morton runs stay
      // inside each partition value, then one dynamic-partitioned
      // write routes every file into its hive directory
      val physPcs = pcs.map(c => physMap.getOrElse(c, c))
      val m = lit(1L << bits)
      val physX = physMap.getOrElse(xCol, xCol)
      val physY = physMap.getOrElse(yCol, yCol)
      toPhysicalDf(st, schema, df)
        .withColumn("__zkey", Layout.mortonKey(
          pmod(col(physX), m), pmod(col(physY), m), bits))
        .repartitionByRange(numFiles,
          physPcs.map(col) :+ col("__zkey"): _*)
        .sortWithinPartitions(physPcs.map(col) :+ col("__zkey"): _*)
        .drop("__zkey")
        .write.mode("overwrite").partitionBy(physPcs: _*)
        .parquet(staging.toString)
      val walk = Files.walk(staging)
      val parts =
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p)
            && p.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.toString)
        finally walk.close()
      require(parts.nonEmpty,
        s"DeltaLog.optimizeZOrder: rewrite produced no parquet files")
      // prefer the RECORDED pv rendering over the re-parsed directory
      // string (same rationale as compactPartitioned)
      val pcTypes = pcs.map(c =>
        physMap.getOrElse(c, c) -> schema(c).dataType).toMap
      val recordedPvs = st.files.map(_.partitionValues).distinct
      parts.foreach { p =>
        val rel = staging.relativize(p).toString
          .replace(java.io.File.separatorChar, '/')
        val target = Paths.get(root, rel)
        Files.createDirectories(target.getParent)
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        actions += addFor(root, rel,
          preferRecordedPv(partitionValuesOf(rel, physPcs), recordedPvs,
            physPcs, pcTypes),
          dataChange = false, conf)
      }
    }
    deleteRecursively(staging)
    writeCommitFile(root, v + 1, actions.result(), operation = "OPTIMIZE")
    postCommit(spark, root, st, v + 1)
    v + 1
  }

  /** OPTIMIZE for a partitioned Delta table: every partition holding
    * more than one active file is rewritten as ONE file, committed as
    * `remove` + `add` actions with `dataChange = false` — the
    * protocol's compaction idiom (readers know no rows changed, so
    * streaming consumers skip the commit). Partitions already at one
    * file are untouched; if nothing needs compacting no commit is
    * written. Returns the table's version afterwards.
    *
    * Scale posture: ONE job for every fat partition — the DV/clone/
    * mapping-aware assembly reads live rows and a dynamic-partitioned
    * write lands one file per partition directory (hash repartition on
    * the partition columns), so compacting 10 k fat partitions is one
    * scan + one write, never 10 k sequential jobs; the commit is one
    * JSON line per touched file. DV-carrying files compact to their
    * LIVE rows with the DV cleared (Delta's OPTIMIZE semantics) and
    * shallow-cloned absolute references MATERIALIZE under this table's
    * root — the clone-localization pass. One-file-per-partition is the
    * local-scale simplification of OPTIMIZE's bin-to-target-size — a
    * partition bigger than a sane file would bin into
    * ceil(bytes/target) files instead.
    * (Unpartitioned tables compact through [[optimizeZOrder]]; this is
    * the partitioned-layout sibling.)
    *
    * `targetRowsPerFile` bins each partition's output at the target
    * inside the same job (a 100 TB partition must not serialize into
    * one file); binned runs are maintenance passes, not no-op
    * idempotent like the default one-file shape.
    */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetRowsPerFile: Option[Long] = None): Long = {
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    requireWritableMapping(st, "compactPartitioned")
    require(st.partitionColumns.nonEmpty,
      "DeltaLog.compactPartitioned: table is not partitioned " +
        "(use optimizeZOrder for flat tables)")
    requireWritable(st, "compactPartitioned")
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"DeltaLog.compactPartitioned: no metaData in $root log"))
    val pcSet = st.partitionColumns.toSet
    val pcs = st.partitionColumns
    // a partition needs compacting when it holds more than one file,
    // any DV'd file (compaction APPLIES and clears the DV — Delta's
    // OPTIMIZE semantics) or a shallow-cloned absolute reference (the
    // clone-localization pass)
    val fat = st.files.groupBy(_.partitionValues).filter { case (_, files) =>
      files.size > 1 || files.exists(f =>
        f.deletionVector.isDefined || f.path.startsWith("/"))
    }
    if (fat.isEmpty) return v
    val fatFiles = fat.values.flatten.toSeq.sortBy(_.path)
    val actions = Seq.newBuilder[Action]
    val conf = spark.sparkContext.hadoopConfiguration
    // ONE job for every fat partition (was: one sequential job per
    // partition): the DV/clone/mapping-aware assembly reads live rows
    // with partition literals attached, and a dynamic-partitioned
    // write lands exactly one file per partition directory
    val physMap = physicalWriteMap(st, schema)
    val physPcs = pcs.map(c => physMap.getOrElse(c, c))
    val staging = Files.createTempDirectory(stagingBase(root),
      "graft-delta-compact")
    // bin-to-target-size: a 100 TB-scale partition must not serialize
    // into one giant file — maxRecordsPerFile splits each partition's
    // output at the target inside the same single job (None keeps the
    // one-file-per-partition local-scale shape)
    val binned = targetRowsPerFile.map { n =>
      require(n >= 1, s"compactPartitioned: targetRowsPerFile >= 1, got $n")
      Map("maxRecordsPerFile" -> n.toString)
    }.getOrElse(Map.empty[String, String])
    toPhysicalDf(st, schema, assembleFiles(spark, root, st, fatFiles))
      .repartition(fat.size, physPcs.map(col): _*)
      .write.options(binned).mode("overwrite").partitionBy(physPcs: _*)
      .parquet(staging.toString)
    val walk = Files.walk(staging)
    val parts =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p)
          && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally walk.close()
    fatFiles.foreach(f => actions += removeOf(f.path, dataChange = false))
    // re-emit the RECORDED pv strings where they denote the same typed
    // partition — the dynamic write's directory rendering can normalize
    // them (int '01' → '1'), and pv-string drift splits the partition
    // for string-grouping log consumers
    val pcTypes = pcs.map(c =>
      physMap.getOrElse(c, c) -> schema(c).dataType).toMap
    parts.foreach { p =>
      val rel = staging.relativize(p).toString
        .replace(java.io.File.separatorChar, '/')
      val target = Paths.get(root, rel)
      Files.createDirectories(target.getParent)
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      actions += addFor(root, rel,
        preferRecordedPv(partitionValuesOf(rel, physPcs), fat.keys,
          physPcs, pcTypes),
        dataChange = false, conf)
    }
    deleteRecursively(staging)
    writeCommitFile(root, v + 1, actions.result(), operation = "OPTIMIZE")
    postCommit(spark, root, st, v + 1)
    v + 1
  }

  /** Delta-style timestamp time travel: the version whose commit file
    * is the newest one modified at or before `tsMillis` (Delta resolves
    * timestamps from commit-file modification times). JSON commits
    * only — a checkpoint-compacted prefix has no commit files left to
    * date, matching Delta's own behavior of refusing timestamps older
    * than the retained history.
    */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val vs = versions(root).filter(v => commitTimestamp(root, v) <= tsMillis)
    require(vs.nonEmpty,
      s"DeltaLog: no commit at or before $tsMillis in $root " +
        "(older than retained history, or table is newer)")
    vs.max
  }

  /** A commit's effective timestamp: `commitInfo.inCommitTimestamp`
    * when the writer recorded one (the `inCommitTimestamps` table
    * feature — filesystem-clock-independent, PROTOCOL.md), else the
    * commit file's modification time (classic Delta resolution).
    */
  private def commitTimestamp(root: String, v: Long): Long =
    commitInfoOf(root, v).flatMap(_.inCommitTimestamp).getOrElse(
      Files.getLastModifiedTime(logDir(root).resolve(commitName(v))).toMillis)

  /** Commit `v`'s first `commitInfo`, reading no further than it: this
    * writer leads with it, but the protocol does not mandate ordering,
    * so an external commit whose commitInfo sits later is still found
    * (an in-commit-timestamp chain must not restart from wall clock
    * below its predecessor's timestamp).
    */
  private def commitInfoOf(root: String, v: Long): Option[CommitInfo] =
    jsonActions(logDir(root).resolve(commitName(v)))(
      _.collectFirst { case c: CommitInfo => c })

  /** Read the table as of a wall-clock timestamp (millis). */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readAt(spark, root, versionAsOf(root, tsMillis))

  /** First retained version whose effective timestamp ([[versionAsOf]]'s
    * ICT-aware clock) is at or after `tsMillis` — the streaming
    * source's `startingTimestamp` rule; None when every retained
    * commit predates the bound (stream only what arrives next).
    */
  def firstVersionAtOrAfter(root: String, tsMillis: Long): Option[Long] =
    versions(root).find(v => commitTimestamp(root, v) >= tsMillis)

  /** RESTORE to the snapshot a TIMESTAMP resolves — the
    * `RESTORE TABLE ... TO TIMESTAMP AS OF` form (latest commit at or
    * before `tsMillis`, [[versionAsOf]]'s ICT-aware clock) of the
    * version-exact [[restore]].
    */
  def restoreAsOf(spark: SparkSession, root: String, tsMillis: Long): Long =
    restore(spark, root, versionAsOf(root, tsMillis))

  /** Change feed by TIMESTAMP window — Delta's `startingTimestamp`/
    * `endingTimestamp` form of [[readChangeFeed]]: the window covers
    * every commit whose effective timestamp ([[versionAsOf]]'s clock,
    * `inCommitTimestamp`-aware) lies in `[fromTs, toTs]`. Delta's own
    * boundary rules: the FIRST commit at or after `fromTs` opens the
    * window, the last commit at or before `toTs` closes it; a window
    * no commit lands in refuses loudly (like an out-of-range version
    * pair) rather than answering an empty feed that silently drops
    * changes.
    */
  def readChangeFeedAsOf(spark: SparkSession, root: String, fromTs: Long,
                         toTs: Long = Long.MaxValue): DataFrame = {
    require(fromTs <= toTs,
      s"DeltaLog.readChangeFeedAsOf: empty window ($fromTs > $toTs)")
    val vs = versions(root)
    val from = vs.find(v => commitTimestamp(root, v) >= fromTs)
      .getOrElse(throw new IllegalArgumentException(
        s"DeltaLog.readChangeFeedAsOf: no commit at or after $fromTs " +
          s"in $root"))
    val to = vs.filter(v => commitTimestamp(root, v) <= toTs)
    require(to.nonEmpty && to.max >= from,
      s"DeltaLog.readChangeFeedAsOf: no commit inside [$fromTs, $toTs] " +
        s"in $root")
    readChangeFeed(spark, root, from - 1, to.max)
  }

  /** DESCRIBE-HISTORY surface: one row per RETAINED JSON commit with
    * the `commitInfo` provenance Delta writers (and this one) record —
    * (version, operation, timestamp). The timestamp prefers
    * `commitInfo.timestamp` / `inCommitTimestamp`, falling back to the
    * commit file's mtime; commits an external writer laid down without
    * commitInfo surface a null operation rather than being hidden.
    * Driver work is one JSON scan per retained commit — checkpointed
    * history beyond the retained tail is summarized state and has no
    * per-commit provenance to report.
    */
  /** `DESCRIBE DETAIL` — the one-row table summary Delta surfaces:
    * format/id/location, partitioning, active file count and total
    * bytes (recorded `add.size`, falling back to the filesystem),
    * deletion-vector count, current version, protocol floors and the
    * table properties. Metadata-only: reads the log, never data.
    */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(root)
    val st = replay(spark, root, v)
    val bytes = st.files.map(f =>
      f.size.getOrElse(Files.size(resolvePath(root, f.path)))).sum
    Seq(("parquet", st.tableId,
      Paths.get(root).toAbsolutePath.normalize().toString,
      st.partitionColumns, st.files.size.toLong, bytes,
      st.files.count(_.deletionVector.isDefined).toLong, v,
      st.minReaderVersion,
      st.minWriterVersion, st.configuration))
      .toDF("format", "id", "location", "partitionColumns", "numFiles",
        "sizeInBytes", "numDeletionVectors", "version",
        "minReaderVersion", "minWriterVersion", "properties")
  }

  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).sorted.map { v =>
      val ci = commitInfoOf(root, v)
      (v, ci.flatMap(_.operation).orNull,
        ci.flatMap(_.timestamp).getOrElse(commitTimestamp(root, v)))
    }.toDF("version", "operation", "timestamp")
  }

  /** Prefer a RECORDED partitionValues map over the `parsed` rendering
    * of a dynamically-written directory when exactly one recorded map
    * denotes the same TYPED partition: the cast-and-render round trip
    * normalizes value strings (an int partition recorded '01' re-parses
    * as '1'), and re-emitting the drifted rendering makes
    * string-grouping consumers treat one partition as two until the
    * next full compaction. String compare first (the common, exact
    * case); numeric columns fall back to a BigDecimal compare.
    * Ambiguity or no match keeps `parsed` — correctness never depends
    * on this, it is a log-stability nicety.
    */
  private def preferRecordedPv(parsed: Map[String, String],
      recorded: Iterable[Map[String, String]],
      physPcs: Seq[String],
      pcTypes: Map[String, DataType]): Map[String, String] = {
    def sameTyped(a: String, b: String, dt: DataType): Boolean =
      (a == null && b == null) || (a != null && b != null && (a == b || {
        dt match {
          case LongType | IntegerType | ShortType | ByteType | DoubleType |
               FloatType | _: DecimalType =>
            try new java.math.BigDecimal(a)
              .compareTo(new java.math.BigDecimal(b)) == 0
            catch { case _: NumberFormatException => false }
          case _ => false
        }
      }))
    val matches = recorded.filter(r =>
      physPcs.forall(c => r.contains(c) &&
        sameTyped(r(c), parsed.getOrElse(c, null),
          pcTypes.getOrElse(c, StringType)))).toSeq.distinct
    matches match {
      case Seq(one) => one
      case _ => parsed
    }
  }

  /** Parse `col=value` segments of a hive-laid-out relative path into
    * the add's `partitionValues`: hive percent-escapes decode,
    * `__HIVE_DEFAULT_PARTITION__` means null.
    */
  private def partitionValuesOf(rel: String,
                                partitionCols: Seq[String]): Map[String, String] = {
    val segs = rel.split('/').dropRight(1)
    require(segs.length == partitionCols.length
      && segs.zip(partitionCols).forall { case (s, c) =>
        s.startsWith(c + "=") },
      s"DeltaLog: path '$rel' does not match partitioning $partitionCols")
    segs.zip(partitionCols).map { case (s, c) =>
      val raw = s.drop(c.length + 1)
      val dec = unescapeHive(raw)
      c -> (if (dec == "__HIVE_DEFAULT_PARTITION__") null else dec)
    }.toMap
  }

  /** Hive path unescape: ONLY %XX sequences (hive's escapePathName never
    * writes '+'; URLDecoder would corrupt a literal '+' to a space).
    */
  private def unescapeHive(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Inverse of [[unescapeHive]] — hive's escapePathName character set
    * (control chars, DEL, double-quote, hash, percent, quote, star,
    * slash, colon, equals, question mark, backslash, braces, brackets,
    * caret) percent-encodes; everything else passes through (hive does
    * NOT escape spaces or '+', which is why [[unescapeHive]] must not
    * URL-decode).
    */
  private def escapeHive(s: String): String = {
    val special = "\"#%'*/:=?\\{[]^"
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (c < ' ' || c == '\u007f' || special.indexOf(c.toInt) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }
}
