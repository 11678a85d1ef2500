package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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

  /** Spark jobs started by `body` — a timing-free cost contract. Jobs
    * posted before the call are flushed first so none is miscounted.
    */
  protected def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    flushListeners()
    spark.sparkContext.addSparkListener(l)
    try { body; flushListeners() }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }
}
