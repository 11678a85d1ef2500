package graft.pipeline

import graft.lake.Upsert
import graft.quality.Checks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** One-call medallion pipeline over the event stream table — the
  * operational composition SURVEY §3 maps out (BronzeIngest → SilverJobs →
  * GoldBuild, orchestration as function composition, not Airflow). Every
  * layer is a crash-safe idempotent merge, so a rerun — and a rerun after
  * a mid-pipeline crash — is a no-op:
  *
  *  1. bronze: idempotent raw landing — deliveries keyed by their full
  *     identity (event_id, event_ts_us, value), so distinct deliveries
  *     accumulate and exact replays collapse (exactly-once landing);
  *  2. silver: latest-wins by event_id over bronze (payload and event_id
  *     break timestamp ties deterministically);
  *  3. gold: minute-bucketed sales fact, merged by bucket;
  *  4. quality gate: the reference's dbt schema tests, run ONCE per batch
  *     as one aggregate on the merged gold candidate, before its swap —
  *     the committed rows are the audited rows, so nothing is re-audited
  *     after the commit.
  *
  * [[runManaged]] adds the reference DAG's operational posture
  * (reference: analytics/airflow/dags/rt_pipeline.py:152-154 — retries,
  * retry_delay, SLA): per-stage retry with exponential backoff, SLA
  * timing surfaced per stage, and the quality gate run on the MERGED
  * GOLD CANDIDATE before the swap — a rejected batch aborts the publish
  * and leaves the gold table byte-for-byte unmodified (upstream layers
  * keep their idempotent commits, exactly like upstream Airflow tasks
  * that already succeeded). Retries re-enter idempotent merges, so a
  * failure AFTER a layer committed re-runs as a no-op — retry safety
  * comes from the storage contract, not from task-state bookkeeping.
  */
object Runner {

  /** `gold` is read fresh from `goldPath`; NOTE a subsequent run() swaps
    * the directory under any still-lazy reader, so materialize (or
    * re-read from `goldPath`) before rerunning. `qualityFailures` are the
    * gate's findings on the committed candidate, audited once before the
    * swap.
    */
  case class GoldResult(gold: DataFrame, goldPath: String,
                        qualityFailures: Seq[String])

  /** Per-stage operational record: attempts actually used (1 = first try
    * succeeded), wall-clock across all attempts, whether that breached
    * the stage SLA (surfaced, never aborting — the Airflow sla-miss
    * contract), and the terminal error if the stage exhausted retries
    * (`cause` carries the actual Throwable for rethrow/debugging,
    * `error` its display string).
    */
  case class StageReport(stage: String, attempts: Int, durationMs: Long,
                         slaBreached: Boolean, error: Option[String],
                         cause: Option[Throwable] = None)

  /** Managed-run outcome: stage reports in execution order; `result` is
    * the committed gold on success; `abortedAt` names the stage that
    * exhausted retries or the gold gate that vetoed the publish.
    */
  case class ManagedResult(stages: Seq[StageReport],
                           result: Option[GoldResult],
                           qualityFailures: Seq[String],
                           abortedAt: Option[String])

  /** Retry-with-backoff wrapper used for every managed stage: up to
    * `retries` re-attempts after the first try, sleeping
    * `backoffMs · 2^(attempt-1)` between tries (`sleep` injectable so
    * specs don't wait). Returns the stage report and the body's value if
    * any attempt succeeded. The terminal Throwable (if every attempt
    * failed) is retained so [[run]] can rethrow WITH the original as
    * cause — a stringified report is no substitute for the stack trace.
    */
  private[pipeline] def withRetry[A](stage: String, retries: Int,
                                     backoffMs: Long, slaMs: Long,
                                     sleep: Long => Unit)
                                    (body: => A): (StageReport, Option[A]) = {
    require(retries >= 0, s"withRetry: retries >= 0, got $retries")
    val start = System.nanoTime()
    var attempt = 0
    var out: Option[A] = None
    var err: Option[Throwable] = None
    while (out.isEmpty && attempt <= retries) {
      attempt += 1
      try { out = Some(body); err = None }
      catch {
        case NonFatal(e) =>
          err = Some(e)
          if (attempt <= retries)
            sleep(backoffMs * (1L << math.min(attempt - 1, 30)))
      }
    }
    val ms = (System.nanoTime() - start) / 1000000L
    (StageReport(stage, attempt, ms, ms > slaMs,
      err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
      err), out)
  }

  /** The dbt schema tests (models/gold/schema.yml:4-20) on the gold
    * candidate, in one aggregate.
    */
  private def goldGate(gold: DataFrame): Seq[String] =
    Checks.keyContract(gold, "minute_bucket_us", Seq("gmv", "paid_orders"))

  def run(spark: SparkSession, events: DataFrame, baseDir: String): GoldResult = {
    val m = runManaged(spark, events, baseDir, retries = 0, gateAborts = false)
    m.result.getOrElse {
      // rethrow the ORIGINAL failure when there is one, so callers keep
      // the exception type and stack trace the unmanaged path had
      m.stages.reverse.flatMap(_.cause).headOption match {
        case Some(e) => throw e
        case None => throw new IllegalStateException(
          s"Runner.run failed at ${m.abortedAt.getOrElse("?")}: " +
            m.stages.flatMap(_.error).mkString("; "))
      }
    }
  }

  /** Hardened pipeline run. `retries`/`backoffMs` govern every stage;
    * `slaMs` is the per-stage SLA (breaches are surfaced in the reports,
    * never aborting). The quality gate audits the merged gold candidate
    * once, and its failures are `qualityFailures` in both postures:
    * `gateAborts = true` (default) makes them veto the gold publish — the
    * managed semantics — while `false` is [[run]]'s report-only posture,
    * which commits the candidate and reports them (test-after-build, with
    * the test run on exactly the rows the build published).
    */
  def runManaged(spark: SparkSession, events: DataFrame, baseDir: String,
                 retries: Int = 2, backoffMs: Long = 500L,
                 slaMs: Long = Long.MaxValue, gateAborts: Boolean = true,
                 sleep: Long => Unit = Thread.sleep): ManagedResult = {
    val reports = scala.collection.mutable.ArrayBuffer.empty[StageReport]
    def stage[A](name: String)(body: => A): Option[A] = {
      val (r, out) = withRetry(name, retries, backoffMs, slaMs, sleep)(body)
      reports += r
      out
    }

    val bronzePath = s"$baseDir/bronze/events_raw"
    val bronze = stage("bronze") {
      Upsert.mergeIntoPath(spark, bronzePath,
        events.select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("event_ts"), col("event_ts_us"), col("event_date")),
        keys = Seq("event_id", "event_ts_us", "value"),
        ordering = Seq("event_ts_us"))
    }
    if (bronze.isEmpty)
      return ManagedResult(reports.toSeq, None, Nil, Some("bronze"))

    val silverPath = s"$baseDir/silver/events_clean"
    val silver = stage("silver") {
      Upsert.mergeIntoPath(spark, silverPath, spark.read.parquet(bronzePath),
        keys = Seq("event_id"), ordering = Seq("event_ts_us", "value"))
    }
    if (silver.isEmpty)
      return ManagedResult(reports.toSeq, None, Nil, Some("silver"))

    // gold: the quality gate audits the merged candidate once, BEFORE
    // the swap — the committed rows are exactly the audited ones, so its
    // failures are the table's. Under gateAborts they veto the publish
    // and leave the gold table unmodified; otherwise they are reported.
    val goldPath = s"$baseDir/gold/fct_sales_minute"
    val gateResult = stage("gold") {
      var failures = Seq.empty[String]
      val fct = Medallion.salesMinute(spark.read.parquet(silverPath))
      val vetoed = Upsert.mergeIntoPathGated(spark, goldPath, fct,
        keys = Seq("minute_bucket_us"), ordering = Seq("minute_bucket_us")) {
        candidate =>
          failures = goldGate(candidate)
          if (gateAborts) failures else Nil
      }
      (failures, vetoed.nonEmpty)
    }
    gateResult match {
      case None =>
        ManagedResult(reports.toSeq, None, Nil, Some("gold"))
      case Some((failures, true)) =>
        ManagedResult(reports.toSeq, None, failures, Some("gold"))
      case Some((failures, false)) =>
        ManagedResult(reports.toSeq,
          Some(GoldResult(spark.read.parquet(goldPath), goldPath, failures)),
          failures, None)
    }
  }
}
