package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.pipeline.{Medallion, Runner}
import graft.streaming.BronzeIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side. perfbench/run.py generates the inputs from
  * the seed, launches this main, and turns the run record it writes
  * (`--out`) into metrics and output checks.
  *
  * Usage: Main --workload stream|curate --seed N --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out FILE
  */
object Main {

  final class Ctx(val spark: SparkSession, val tracer: Tracer,
                  val args: Map[String, String]) {
    val inputs: Path = Paths.get(args("inputs"))
    val work: Path = Paths.get(args("work"))
    val base: String = work.resolve("lake").toString
    val seconds: Double = args("seconds").toDouble
    private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def record(m: Map[String, Any]): Unit = synchronized { ops += m }
    def allOps: Seq[Map[String, Any]] = synchronized(ops.toSeq)

    /** One measured operation. A thrown exception makes it a failed
      * operation, recorded with the class of its root cause; nothing is
      * retried here.
      */
    def op[A](kind: String, name: String, units: Long,
              extra: => Map[String, Any] = Map.empty)(body: => A): Option[A] = {
      val wall = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var span = 0L
      val r = try Right(tracer.span(name, kind) { span = tracer.currentId; body })
      catch { case NonFatal(e) => Left(e) }
      val dur = (System.nanoTime() - t0) / 1e9
      record(Map("kind" -> kind, "name" -> name, "start_ms" -> wall,
        "dur_s" -> dur, "ok" -> r.isRight, "units" -> units, "span" -> span,
        "error" -> r.left.toOption.map(rootClass)) ++ extra)
      r.toOption
    }
  }

  def rootClass(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    if (c eq e) e.getClass.getName else s"${e.getClass.getName}/${c.getClass.getName}"
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = GraftSession.local("perfbench")
    val tracer = new Tracer(args("trace") == "1", spark.sparkContext)
    val progress = new ProgressListener
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(new JobListener(tracer))
      spark.streams.addListener(progress)
    }
    val ctx = new Ctx(spark, tracer, args)
    val out = mutable.LinkedHashMap[String, Any]("workload" -> args("workload"))
    // stopping the session drains the listener bus, so the counters and
    // progress reports of the last operation are in before they are written
    try out ++= (args("workload") match {
      case "stream" => stream(ctx)
      case "curate" => curate(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    })
    finally spark.stop()
    out("ops") = ctx.allOps
    if (tracer.enabled) {
      out("progress") = progress.progress.asScala.toSeq
      Files.writeString(Paths.get(args("out") + ".trace.json"), json(tracer.toJson))
    }
    Files.writeString(Paths.get(args("out")), json(out))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  // ---------------------------------------------------------------- inputs

  /** One stream file from the generator's manifest (stream.tsv): its
    * path, its event count, and when it is due in the measured window,
    * in ms from the window's start; set-up files have no due time.
    */
  final case class StreamFile(path: Path, events: Long, dueMs: Option[Long])

  private def streamFiles(ctx: Ctx): Seq[StreamFile] =
    Files.readAllLines(ctx.inputs.resolve("stream.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map(r =>
        StreamFile(ctx.inputs.resolve(r(0)), r(1).toLong, r(2).toLongOption))

  // -------------------------------------------------------------- medallion

  /** Data files of the three medallion tables: path → bytes. */
  private def lakeFiles(base: String): Map[String, Long] = {
    val root = Paths.get(base)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** One micro-batch through Runner.runManaged: bronze, silver and gold
    * merges plus the gold gate. An aborted run is a failed operation.
    * Traced runs also list the table directories before and after.
    */
  private def refresh(ctx: Ctx, name: String, events: Long,
                      extra: Map[String, Any])(input: DataFrame): Boolean = {
    val before = if (ctx.tracer.enabled) lakeFiles(ctx.base) else Map.empty[String, Long]
    var stages: Seq[Map[String, Any]] = Nil
    def lake: Map[String, Any] =
      if (!ctx.tracer.enabled) Map.empty
      else {
        val after = lakeFiles(ctx.base)
        val written = after.keySet -- before.keySet
        Map("files_written" -> written.size,
          "bytes_written" -> written.toSeq.map(after).sum,
          "files_live" -> after.size, "bytes_live" -> after.values.sum)
      }
    ctx.op("microbatch", name, events, extra ++ Map("stages" -> stages, "lake" -> lake)) {
      val m = ctx.tracer.span("pipeline.runManaged", "pipeline")(
        Runner.runManaged(ctx.spark, input, ctx.base))
      stages = m.stages.map(s => Map("stage" -> s.stage,
        "attempts" -> s.attempts, "ms" -> s.durationMs))
      if (m.abortedAt.nonEmpty)
        throw m.stages.reverse.flatMap(_.cause).headOption.getOrElse(
          new IllegalStateException(
            s"aborted at ${m.abortedAt.get}: ${m.qualityFailures.mkString("; ")}"))
    }.isDefined
  }

  // ---------------------------------------------------------------- serving

  val readNames: Seq[String] = Seq("last60_gmv", "top10_minutes", "user_spend",
    "freshness")

  /** The dashboard reads, against the published table directories. */
  def dashboardRead(spark: SparkSession, base: String, name: String): DataFrame = {
    def gold = spark.read.parquet(s"$base/gold/fct_sales_minute")
    def silver = spark.read.parquet(s"$base/silver/events_clean")
    name match {
      case "last60_gmv" => // vw_sales_last_60min, relative to the newest bucket
        val all = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        gold.withColumn("__mx", max(col("minute_bucket_us")).over(all))
          .filter(col("minute_bucket_us") >= col("__mx") - 3600L * 1000000L)
          .drop("__mx")
      case "top10_minutes" =>
        gold.orderBy(col("gmv").desc, col("minute_bucket_us")).limit(10)
      case "user_spend" =>
        silver.filter(col("event_type") === "purchase").groupBy(col("user_id"))
          .agg(Medallion.moneySum(col("value")).as("spend"),
            count(lit(1)).as("purchases"))
      case "freshness" => Medallion.freshness(silver)
    }
  }

  /** Every node of an executed plan, descending into AQE query stages. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case o => o +: (o.children.flatMap(planNodes) ++ o.subqueries.flatMap(planNodes))
  }

  /** Plan-side facts of a finished query: exchanges in the final AQE plan,
    * planning time and the files and bytes its scans read.
    */
  private def planFacts(qe: QueryExecution): Map[String, Any] = {
    val nodes = planNodes(qe.executedPlan)
    def metric(n: String) = nodes.flatMap(_.metrics.get(n)).map(_.value).sum
    Map("exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "plan_ms" -> qe.tracker.phases.values.map(_.durationMs).sum,
      "files_scanned" -> metric("numFiles"),
      "bytes_scanned" -> metric("filesSize"))
  }

  /** Plan facts of a traced operation, taken after its timing ended. */
  private def plan(ctx: Ctx, qe: Option[QueryExecution]): Option[Map[String, Any]] =
    qe.filter(_ => ctx.tracer.enabled).map(planFacts)

  /** Dashboard readers beside the stream's writer, and how often each
    * refreshes its dashboard.
    */
  val Readers = 2
  val ReadEveryMs = 1000L

  /** Closed-loop dashboard readers with think time: each issues a read in
    * a seeded order, and its next one when the previous one has returned
    * and ReadEveryMs has passed since it was issued, until `stop` is set.
    * Readers that never pause would take every core the micro-batch leaves
    * free, so its time would follow the read mix rather than graft.
    *
    * A read holds `swaps`' read lock, and a micro-batch's merges its write
    * lock: Upsert's rename-aside swap is not isolated from readers, and a
    * read that overlaps it fails at random, so the failures would differ
    * between runs of one seed. The wait for the lock is not part of a
    * read's time. A read that fails all the same is recorded as failed and
    * not retried.
    */
  private def startReaders(ctx: Ctx, stop: AtomicBoolean,
                           swaps: ReentrantReadWriteLock): Seq[Thread] =
    (0 until Readers).map { r =>
      val rng = new scala.util.Random(ctx.args("seed").toLong * 1000 + r)
      val th = new Thread(() => {
        var next = System.currentTimeMillis() + r * ReadEveryMs / Readers
        while (!stop.get) {
          val wait = next - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          else {
            next = System.currentTimeMillis() + ReadEveryMs
            val name = readNames(rng.nextInt(readNames.size))
            var qe: Option[QueryExecution] = None
            swaps.readLock().lock()
            try ctx.op("read", name, 1, Map("reader" -> r, "plan" -> plan(ctx, qe))) {
              ctx.tracer.span("serving.read", "serving") {
                val df = dashboardRead(ctx.spark, ctx.base, name)
                df.collect()
                qe = Some(df.queryExecution)
              }
            }
            finally swaps.readLock().unlock()
          }
        }
      }, s"reader-$r")
      th.start()
      th
    }

  // -------------------------------------------------------------- streaming

  /** Micro-batch trigger: the reference's processing-time cadence
    * (BronzeIngest.DefaultTrigger). The window's files all land before one
    * trigger, and the set-up micro-batch ends before the window starts,
    * so the measured micro-batch starts on that trigger in every run.
    */
  val TriggerMs = 10000L

  /** Event-to-gold stream with dashboard reads beside it.
    *
    * Set-up lands the set-up file, day 0, which creates the tables, and
    * starts the stream, whose first trigger reads it. Then set-up runs
    * each read once and starts the readers.
    * The measured window starts 100 ms after a trigger. This thread then
    * lands Kafka-envelope parquet files in the landing directory on the
    * generator's schedule (open loop: the schedule never waits for graft),
    * while the readers query the published tables until gold holds every
    * file, between the micro-batches' merges (startReaders). graft reads
    * the files through BronzeIngest.source (files) and bronzeProject; each
    * micro-batch parses the payload and lands it with Runner.runManaged.
    * Each file is timed from when it was due to when the gold commit
    * holding it returned.
    *
    * Spark fires processing-time triggers on multiples of the interval
    * since the epoch. Starting the window at a fixed offset from a trigger
    * makes each file's wait for its trigger the same in every run, leaving
    * graft's own time as what varies. The sleep to that offset depends
    * only on the clock's phase at start; it is recorded as `grid_wait_ms`
    * and left out of set-up time.
    */
  def stream(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val (setup, timed) = streamFiles(ctx).zipWithIndex.partition(_._1.dueMs.isEmpty)
    val landing = ctx.work.resolve("landing")
    Files.createDirectories(landing)
    val committedMs = new ConcurrentHashMap[Int, Long]()
    val swaps = new ReentrantReadWriteLock(true)
    val payload = StructType.fromDDL("event_id BIGINT, ts_us BIGINT, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

    def land(f: StreamFile): Long = {
      Files.move(f.path, landing.resolve(f.path.getFileName), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    val onBatch: (DataFrame, Long) => Unit = (mb, id) => {
      // the stream thread pins its call site to the query's start; clear
      // it so executions name their real call sites (the quality counters
      // find Checks by it)
      spark.sparkContext.clearCallSite()
      val parsed = mb
        .select(col("raw_key").cast("int").as("file"),
          from_json(col("raw_value"), payload).as("e"))
        .select(col("file"), col("e.event_id"), col("e.user_id"),
          col("e.event_type"), col("e.value"), col("e.props"),
          col("e.ts_us").as("event_ts_us"))
        .withColumn("event_ts", expr("timestamp_micros(event_ts_us)"))
        .withColumn("event_date", to_date(col("event_ts")))
        .persist()
      try {
        val perFile = parsed.groupBy(col("file")).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1))
        val files = Map("files" -> perFile.map(_._1).toSeq)
        swaps.writeLock().lock()
        val ok = try refresh(ctx, s"mb$id", perFile.map(_._2).sum, files)(parsed.drop("file"))
        finally swaps.writeLock().unlock()
        if (ok) {
          val done = System.currentTimeMillis()
          perFile.foreach { case (f, _) => committedMs.put(f, done) }
        }
      } finally parsed.unpersist()
    }

    setup.foreach(f => land(f._1))
    val src = BronzeIngest.source(spark, Map(
      "graft.stream.source" -> "files",
      "graft.stream.path" -> landing.toString))
    val query = BronzeIngest.bronzeProject(src).writeStream
      .option("checkpointLocation", ctx.work.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch(onBatch)
      .start()

    def committed(files: Seq[Int], timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      def all = files.forall(committedMs.containsKey)
      while (!all && System.currentTimeMillis() < end) {
        query.exception.foreach(e => throw e)
        Thread.sleep(20)
      }
      all
    }
    val stop = new AtomicBoolean(false)
    try {
      require(committed(setup.map(_._2), 180000L), "the set-up files were not committed")
      readNames.foreach(n => dashboardRead(spark, ctx.base, n).collect())
      val readers = startReaders(ctx, stop, swaps)
      val now = System.currentTimeMillis()
      val t0 = (now / TriggerMs + 1) * TriggerMs + 100
      Thread.sleep(t0 - now)
      val landed = timed.map { case (f, _) =>
        val wait = t0 + f.dueMs.get - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(f)
      }
      val lastLand = landed.max
      val drained = committed(timed.map(_._2), 90000L)
      val drainMs = System.currentTimeMillis()
      stop.set(true)
      readers.foreach(_.join())
      // the reads again, on the final tables, for the output check
      readNames.foreach { n =>
        dashboardRead(spark, ctx.base, n).write
          .parquet(ctx.work.resolve("reads").resolve(n).toString)
      }
      Map("first_op_ms" -> t0, "grid_wait_ms" -> (t0 - now),
        "window_s" -> (drainMs - t0) / 1e3,
        "drained" -> drained, "drain_s" -> (drainMs - lastLand) / 1e3,
        "files_delivered" -> (setup.size + timed.size),
        "lake" -> ctx.base, "reads_dir" -> ctx.work.resolve("reads").toString,
        "stream_files" -> timed.zip(landed).map { case ((f, i), at) =>
          Map("file" -> i, "events" -> f.events, "due_ms" -> (t0 + f.dueMs.get),
            "landed_ms" -> at, "committed_ms" -> committedMs.asScala.get(i))
        })
    } finally {
      stop.set(true)
      query.stop()
    }
  }

  // ---------------------------------------------------------------- curate

  /** Operator-library gates, one per family. Text ranking (q69) and
    * sketches (q102) were measured too and left out: with them a run does
    * not fit the benchmark's time budget (perfbench/BASELINE.md).
    */
  val gates: Seq[(String, String)] = Seq(
    "q24_neardup_pairs" -> "dedup",
    "q51_ann_ivf" -> "ann",
    "q94_pagerank" -> "graphs")

  /** Bench's forcing: every column of every row folded with xxhash64. */
  private def fold(df: DataFrame): (Long, QueryExecution) = {
    val hashed = df.select(xxhash64(struct(df.columns.map(col).toSeq: _*)).as("__h"))
      .agg(expr("bit_xor(__h)"))
    (hashed.head().getLong(0), hashed.queryExecution)
  }

  /** Each gate runs once in set-up, writing its result for the DuckDB
    * check; the fold of that result is the reference every timed run of
    * the gate must reproduce. Timed runs go in rounds of every gate until
    * `seconds` have passed, and at least five rounds, so a burst of host
    * load that slows one or two rounds does not move a gate's median; the
    * last round is completed, so every gate is timed equally often.
    */
  def curate(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val sf = ctx.inputs.resolve("sf").toString
    val queries = graft.SparkEntry.queries
    val outDir = ctx.work.resolve("gates")
    val reference = gates.map { case (n, f) =>
      spark.catalog.clearCache()
      ctx.op("setup", n, 1, Map("family" -> f)) {
        queries(n)(spark, sf).write.parquet(outDir.resolve(n).toString)
      }
      n -> fold(spark.read.parquet(outDir.resolve(n).toString))._1
    }.toMap
    Files.writeString(outDir.resolve("oracle_sql.json"), json(
      gates.map { case (n, _) => n -> graft.SparkEntry.oracleSql(n) }.toMap))
    val t0 = System.currentTimeMillis()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var round = 0
    while (round < 5 || System.nanoTime() < deadline) {
      // rotate the starting gate so no gate always follows the same one
      gates.indices.map(i => gates((i + round) % gates.size)).foreach { case (n, f) =>
        spark.catalog.clearCache()
        var result: Option[(Long, QueryExecution)] = None
        ctx.op("gate", n, 1, Map("family" -> f, "plan" -> plan(ctx, result.map(_._2)),
            "matches" -> result.exists(_._1 == reference(n)))) {
          result = Some(ctx.tracer.span(s"operators.$f", "operators")(
            fold(queries(n)(spark, sf))))
        }
      }
      round += 1
    }
    Map("first_op_ms" -> t0, "window_s" -> (System.currentTimeMillis() - t0) / 1e3,
      "gates_dir" -> outDir.toString)
  }
}
