package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, tests fork). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.configure(s)
  }
  val sfDir = "/root/testdata/sf0.001"
  /** Plan traversal that descends into adaptive query stages. */
  object plans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir: String = SparkSpec.sfDir

  /** Flush the listener bus so every posted job-start is counted
    * (bytecode-public `listenerBus.waitUntilEmpty`, Scala
    * private[spark] — reflection, the SerializableConfiguration trick).
    */
  private def flushListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
      .get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .getOrElse {
        val m = bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
          .get
        m.invoke(bus, java.lang.Long.valueOf(30000L))
      }
  }

  /** Events counted by `listener` while `body` runs. Events posted
    * before the call are flushed first so none is miscounted.
    */
  private def countEvents(body: => Unit)(
      listener: AtomicInteger => SparkListener): Int = {
    val n = new AtomicInteger
    val l = listener(n)
    flushListeners()
    spark.sparkContext.addSparkListener(l)
    try { body; flushListeners() }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** Files actually SCANNED by `df`'s executed plan (sum of the file
    * scans' numFiles metrics, inside adaptive query stages too), after
    * collecting it. A Delta read's file index prunes at planning — by
    * partition values, stats and footer blooms — which
    * `DataFrame.inputFiles` (the whole snapshot) never shows. Pass a
    * DataFrame not yet executed: a re-executed scan does not list its
    * files again, so its numFiles reads 0.
    */
  protected def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    SparkSpec.plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Spark jobs started by `body` — a timing-free cost contract. */
  protected def countJobs(body: => Unit): Int =
    countEvents(body)(n => new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })

  /** SQL executions started by `body`: each pays fixed planning and
    * AQE stage-scheduling time, however little it computes.
    */
  protected def countExecutions(body: => Unit): Int =
    countEvents(body)(n => new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    })

  /** Shuffle-map stages completed by `body`: stages carrying a
    * `shuffleDepId`, i.e. the exchanges the plan really ran (a reused
    * shuffle's stage is skipped, not completed). `shuffleDepId` is
    * Scala private[spark] but bytecode-public — reflection, as above.
    */
  protected def countShuffleMapStages(body: => Unit): Int =
    countEvents(body)(n => new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val dep = info.getClass.getMethod("shuffleDepId").invoke(info)
        if (dep.asInstanceOf[Option[_]].isDefined) n.incrementAndGet()
      }
    })
}
