package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval: a benchmark operation (parent 0) or a call into a
  * graft module made while serving it. Counters from Spark listeners are
  * added to the span that tagged the job and to every ancestor, so an
  * operation span holds the totals of everything it caused.
  */
final class Span(val id: Long, val parent: Long, val name: String,
                 val layer: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  private val counters = mutable.Map.empty[String, Double]
  private val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def addTask(ms: Long): Unit = synchronized { taskMs += ms }
  def snapshot: (Map[String, Double], Seq[Long]) =
    synchronized((counters.toMap, taskMs.toSeq))
}

/** Spans kept in memory and written out when the run ends. Each span id
  * is set as a Spark local property before the call, so every job the
  * call submits from this thread carries it to the listeners.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]

  def spans: Seq[Span] = byId.values.asScala.toSeq.sortBy(_.id)
  def lookup(id: Long): Option[Span] = Option(byId.get(id))
  /** Id of the calling thread's innermost open span; 0 outside spans. */
  def currentId: Long = Option(current.get).map(_.id).getOrElse(0L)

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(),
        if (parent == null) 0L else parent.id, name, layer, System.nanoTime())
      byId.put(s.id, s)
      val prevProp = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Tracer.Key, prevProp)
      }
    }

  /** Add a counter to `s` and all of its ancestors. */
  def addUp(s: Span, key: String, v: Double): Unit = {
    var cur = s
    while (cur != null) {
      cur.add(key, v)
      cur = if (cur.parent == 0L) null else byId.get(cur.parent)
    }
  }

  def root(s: Span): Span = {
    var cur = s
    while (cur.parent != 0L) cur = byId.get(cur.parent)
    cur
  }

  /** Self time: duration minus the union of the child spans' intervals. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs),
      math.min(c.endNs, s.endNs))).filter(t => t._2 > t._1).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.endNs - s.startNs) - covered
  }

  def toJson: Seq[Map[String, Any]] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val (c, tasks) = s.snapshot
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s, kids.getOrElse(s.id, Nil)),
        "counters" -> c, "task_ms" -> (if (s.parent == 0L) tasks else Nil))
    }
  }
}

object Tracer { val Key = "perfbench.span" }

/** Attributes Spark jobs, stages and tasks to the span whose id the
  * submitting thread carried. SQL executions started from
  * graft.quality.Checks (their call site names it) are counted as
  * quality-gate work, together with every job they run: AQE submits an
  * execution's shuffle stages from its own threads, so the execution id,
  * not the job's call site, links a job to its check.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val qualityStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val qualitySpan = new ConcurrentHashMap[Long, Span]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.details != null && s.details.contains("graft.quality.Checks") =>
      qualityStart.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      val t0 = qualityStart.remove(x.executionId)
      Option(qualitySpan.remove(x.executionId)).foreach { s =>
        tracer.addUp(s, "quality_checks", 1)
        tracer.addUp(s, "quality_ms", (x.time - t0).toDouble)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    for {
      p <- Option(e.properties)
      id <- Option(p.getProperty(Tracer.Key))
      s <- tracer.lookup(id.toLong)
    } {
      e.stageIds.foreach(st => stageSpan.put(st, s))
      tracer.addUp(s, "jobs", 1)
      Option(p.getProperty("spark.sql.execution.id")).map(_.toLong)
        .filter(qualityStart.containsKey).foreach { ex =>
          qualitySpan.put(ex, s)
          tracer.addUp(s, "quality_jobs", 1)
        }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      if (e.taskMetrics != null)
        tracer.root(s).addTask(e.taskMetrics.executorRunTime)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.remove(info.stageId)).foreach { s =>
      tracer.addUp(s, "stages", 1)
      tracer.addUp(s, "tasks", info.numTasks)
      val m = info.taskMetrics
      if (m != null) {
        tracer.addUp(s, "run_s", m.executorRunTime / 1e3)
        tracer.addUp(s, "cpu_s", m.executorCpuTime / 1e9)
        tracer.addUp(s, "gc_s", m.jvmGCTime / 1e3)
        tracer.addUp(s, "shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        tracer.addUp(s, "spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
}

/** Keeps every streaming progress report that read rows. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      progress.add(Map("batch_id" -> p.batchId, "rows" -> p.numInputRows) ++
        p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.longValue })
  }
}
