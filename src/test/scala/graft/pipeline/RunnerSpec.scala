package graft.pipeline

import graft.SparkSpec
import graft.sources.Tables
import java.nio.file.Files

/** End-to-end medallion composition: bronze→silver→gold lands the same
  * fact as the direct query, quality gates pass, rerun is a no-op.
  */
class RunnerSpec extends SparkSpec {

  test("bronze→silver→gold equals the direct gold query; rerun is idempotent") {
    val dir = Files.createTempDirectory("graft-runner").toString
    val events = Tables.events(spark, sfDir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val r1 = Runner.run(spark, events, dir)
    assert(r1.qualityFailures.isEmpty, r1.qualityFailures.mkString("; "))
    // materialize before the rerun: the atomic swap replaces the files a
    // lazy reader has already listed
    val gold1 = canon(r1.gold)
    assert(gold1 == canon(Medallion.salesMinute(events)),
      "pipeline gold must equal the direct aggregation")
    val r2 = Runner.run(spark, events, dir)
    assert(canon(r2.gold) == gold1, "rerun must be a no-op")
  }

  test("bronze accumulates across runs; a crashed-looking rerun stays consistent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-runner2").toString
    def ev(id: Long, v: Double, ts: String) = {
      val t = java.sql.Timestamp.valueOf(ts)
      (id, id % 3, "purchase", v, t, t.getTime * 1000L, new java.sql.Date(t.getTime))
    }
    val batch1 = Seq(ev(1, 10.0, "2024-01-01 01:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "event_ts", "event_ts_us", "event_date")
    val batch2 = Seq(ev(1, 10.0, "2024-01-01 01:00:00"),   // replay
                     ev(2, 20.0, "2024-01-01 01:01:00"))
      .toDF("event_id", "user_id", "event_type", "value", "event_ts", "event_ts_us", "event_date")
    Runner.run(spark, batch1, dir)
    val r2 = Runner.run(spark, batch2, dir)
    assert(spark.read.parquet(s"$dir/bronze/events_raw").count() == 2,
      "bronze must accumulate distinct deliveries and collapse replays")
    assert(r2.qualityFailures.isEmpty)
    assert(spark.read.parquet(r2.goldPath)
      .agg(org.apache.spark.sql.functions.sum("gmv")).head.getDouble(0) == 30.0)
  }

  test("withRetry: transient failures retried with exponential backoff, then succeed") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (report, out) = Runner.withRetry("flaky", retries = 3,
        backoffMs = 100L, slaMs = Long.MaxValue, sleep = sleeps += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"transient $calls")
      "ok"
    }
    assert(out.contains("ok"))
    assert(report.attempts == 3 && report.error.isEmpty)
    assert(sleeps.toSeq == Seq(100L, 200L), "backoff must double per retry")
  }

  test("withRetry: exhausted retries surface the terminal error") {
    val (report, out) = Runner.withRetry[Unit]("doomed", retries = 2,
        backoffMs = 1L, slaMs = Long.MaxValue, sleep = _ => ()) {
      throw new RuntimeException("hard down")
    }
    assert(out.isEmpty)
    assert(report.attempts == 3)
    assert(report.error.exists(_.contains("hard down")))
  }

  test("SLA breaches are surfaced per stage but never abort the run") {
    val dir = Files.createTempDirectory("graft-runner3").toString
    val m = Runner.runManaged(spark, Tables.events(spark, sfDir), dir,
      retries = 0, slaMs = 0L)
    assert(m.result.nonEmpty && m.abortedAt.isEmpty)
    assert(m.stages.map(_.stage) == Seq("bronze", "silver", "gold"))
    assert(m.stages.forall(_.slaBreached), m.stages.toString)
  }

  test("quality-gate abort vetoes the gold publish and leaves the table unmodified") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-runner4").toString
    def ev(id: Long, v: Option[Double], ts: String) = {
      val t = java.sql.Timestamp.valueOf(ts)
      (id, id % 3, "purchase", v, t, t.getTime * 1000L, new java.sql.Date(t.getTime))
    }
    val good = Seq(ev(1, Some(10.0), "2024-01-01 01:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "event_ts", "event_ts_us", "event_date")
    val m1 = Runner.runManaged(spark, good, dir)
    assert(m1.abortedAt.isEmpty && m1.qualityFailures.isEmpty)
    val goldBefore = spark.read.parquet(s"$dir/gold/fct_sales_minute")
      .collect().map(_.toString).sorted.toSeq
    // a null-value purchase in a FRESH minute makes the candidate's gmv
    // null — the gate must reject it BEFORE the swap
    val bad = Seq(ev(2, None, "2024-01-01 02:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "event_ts", "event_ts_us", "event_date")
    val m2 = Runner.runManaged(spark, bad, dir)
    assert(m2.abortedAt.contains("gold"))
    assert(m2.qualityFailures.exists(_.contains("gmv")), m2.qualityFailures.toString)
    assert(m2.result.isEmpty)
    val goldAfter = spark.read.parquet(s"$dir/gold/fct_sales_minute")
      .collect().map(_.toString).sorted.toSeq
    assert(goldAfter == goldBefore, "aborted publish must leave gold untouched")
    // upstream layers keep their idempotent commits (Airflow task semantics)
    assert(spark.read.parquet(s"$dir/bronze/events_raw").count() == 2)
  }

  private def events(rows: (Long, Option[Double], String)*) = {
    import spark.implicits._
    rows.map { case (id, v, ts) =>
      val t = java.sql.Timestamp.valueOf(ts)
      (id, id % 3, "purchase", v, t, t.getTime * 1000L, new java.sql.Date(t.getTime))
    }.toDF("event_id", "user_id", "event_type", "value", "event_ts", "event_ts_us", "event_date")
  }

  test("report-only run commits the candidate and reports its gate failures") {
    val dir = Files.createTempDirectory("graft-runner5").toString
    val r1 = Runner.run(spark, events((1L, Some(10.0), "2024-01-01 01:00:00")), dir)
    assert(r1.qualityFailures.isEmpty, r1.qualityFailures.mkString("; "))
    // a null-value purchase in a FRESH minute: the candidate fails
    // not_null(gmv), and run() publishes it anyway and says so
    val r2 = Runner.run(spark, events((2L, None, "2024-01-01 02:00:00")), dir)
    assert(r2.qualityFailures.exists(_.contains("gmv")), r2.qualityFailures.toString)
    val gold = spark.read.parquet(r2.goldPath)
    assert(gold.count() == 2L)
    assert(gold.filter(org.apache.spark.sql.functions.col("gmv").isNull).count() == 1L)
  }

  test("a warm micro-batch runs a pinned number of Spark jobs") {
    val dir = Files.createTempDirectory("graft-runner6").toString
    val cold = Runner.runManaged(spark, events(
      (1L, Some(10.0), "2024-01-01 01:00:00"), (2L, Some(5.0), "2024-01-01 01:00:30")), dir)
    assert(cold.abortedAt.isEmpty)
    var warm: Runner.ManagedResult = null
    val jobs = countJobs {
      warm = Runner.runManaged(spark, events(
        (2L, Some(5.0), "2024-01-01 01:00:30"),   // replay
        (3L, Some(7.0), "2024-01-01 01:01:00"), (4L, Some(2.0), "2024-01-01 01:02:00")), dir)
    }
    assert(warm.abortedAt.isEmpty && warm.qualityFailures.isEmpty)
    // the gold gate is one aggregate on the candidate and nothing
    // re-audits the committed table: per-check actions or a re-audit
    // add jobs and break this pin
    assert(jobs <= 16, s"warm micro-batch ran $jobs Spark jobs (pinned at 16)")
  }
}
