package graft.streaming

import graft.lake.{DeltaLog, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming continuations of the medallion: bronze stream → silver merge
  * via foreachBatch (the streaming face of the reference's 5-minute batch
  * MERGE jobs), and a watermarked streaming gold aggregate (the
  * Structured-Streaming-native alternative to the 2 h lookback — SURVEY
  * §2.9 "optional watermark path").
  */
object SilverStream {

  /** Bronze stream → idempotent silver upsert into a versioned Delta
    * table ([[graft.lake.DeltaLog]]), the streaming twin of
    * silver_orders.py:72-79: each micro-batch commits one new Delta
    * version — the ordering-first merge over the current snapshot
    * ([[Upsert.mergeLatest]] semantics), committed as a rewrite — so
    * concurrent readers keep their pinned snapshot while the stream
    * lands and every micro-batch boundary is time travelable.
    *
    * The table keeps the greatest-`ordering` row per key across all
    * batches, so its state is a pure function of the delivered record
    * set — independent of micro-batch slicing, and a stale duplicate
    * arriving in a later batch can never regress a key
    * (SilverStreamSpec proves stream ≡ batch on the q43 fixture topic
    * under shuffled delivery). Exactly-once lands on that idempotence:
    * a replayed micro-batch commits a version with identical content,
    * never a wrong one; vacuum reclaims the retired files.
    */
  def mergeStreamDelta(bronze: DataFrame, root: String, checkpoint: String,
                       keys: Seq[String], ordering: Seq[String],
                       trigger: Trigger = BronzeIngest.DefaultTrigger): StreamingQuery =
    bronze.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val merged =
          if (DeltaLog.currentVersion(root) < 0L)
            Upsert.latestWins(batch, keys, ordering)
          else Upsert.mergeLatest(DeltaLog.read(spark, root), batch, keys,
            ordering)
        DeltaLog.commitFlat(spark, root, merged, rewrite = true,
          mergeSchema = true)
        ()
      }
      .start()

  /** Streaming sink into a PARTITIONED Delta table — foreachBatch over
    * [[graft.lake.DeltaLog.commitPartitioned]], with the Delta
    * protocol's `txn` watermark as the exactly-once mechanism: every
    * micro-batch commits with `(appId, batchId)`; a REPLAYED batch
    * (failure/restart re-delivery) finds its watermark already at or
    * past its version and no-ops instead of double-appending. This is
    * the same idempotence contract Spark's own Delta streaming sink
    * rides; [[mergeStreamDelta]] gets it from merge semantics, this
    * sink from the log. Empty micro-batches commit nothing.
    */
  def partitionedDeltaStream(events: DataFrame, root: String,
                             checkpoint: String, partitionCols: Seq[String],
                             appId: String,
                             trigger: Trigger = BronzeIngest.DefaultTrigger): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.lake.DeltaLog.commitPartitioned(batch.sparkSession, root,
            batch, partitionCols, txn = Some((appId, batchId)))
        ()
      }
      .start()

  /** Watermarked streaming gold: per-minute GMV over paid events with a
    * 2-hour late-data horizon — events later than the watermark are
    * dropped, within it they update their bucket, mirroring the batch
    * incremental's 2 h lookback contract (fct_sales_minute.sql:35-40).
    * Append mode: a bucket emits once its window is older than the
    * watermark, i.e. results are final.
    *
    * `dedupCols` (e.g. the event id) turns on
    * `dropDuplicatesWithinWatermark` BEFORE the aggregation: an
    * at-least-once source redelivering an event inside the lateness
    * horizon no longer double-counts its bucket, so the emitted buckets
    * equal the batch gold over the DELIVERED RECORD SET — not the
    * delivery attempts (SilverStreamSpec pins stream ≡ batch
    * bucket-for-bucket under shuffled + duplicated + late delivery).
    * Dedup state expires with the watermark: bounded by the horizon's
    * arrival rate, never by history.
    */
  def goldSalesMinuteStream(events: DataFrame,
                            lateness: String = "2 hours",
                            dedupCols: Seq[String] = Nil): DataFrame = {
    val admitted = events
      .filter(col("event_type") === "purchase" && col("event_ts").isNotNull)
      .withWatermark("event_ts", lateness)
    val deduped =
      if (dedupCols.isEmpty) admitted
      else admitted.dropDuplicatesWithinWatermark(dedupCols.head,
        dedupCols.tail: _*)
    deduped
      .groupBy(window(col("event_ts"), "1 minute").as("w"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("gmv"),
           count(lit(1)).as("paid_orders"))
      .select(unix_micros(col("w.start")).as("minute_bucket_us"),
        col("gmv"), col("paid_orders"))
  }
}
