package graft.streaming

import graft.SparkSpec
import graft.pipeline.Medallion
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.sql.Timestamp

case class Ev(event_id: Long, user_id: Long, event_type: String,
              value: Double, event_ts: Timestamp, event_ts_us: Long)

case class FixtureBronze(topic: String, partition: Int, offset: Long,
                         kafka_timestamp: java.time.LocalDateTime,
                         raw_value: String)

/** Streaming silver merge (foreachBatch) and watermarked gold: replayed
  * batches stay idempotent; late data updates within the horizon and is
  * dropped beyond it.
  */
class SilverStreamSpec extends SparkSpec {

  private def ev(id: Long, t: String, v: Double, ts: String): Ev = {
    val T = Timestamp.valueOf(ts)
    Ev(id, id % 5, t, v, T, T.getTime * 1000L)
  }

  test("foreachBatch silver merge is idempotent across replayed batches") {
    val dir = Files.createTempDirectory("graft-silver").toString
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = SilverStream.mergeStreamDelta(input.toDF(), s"$dir/t",
      s"$dir/ckpt", keys = Seq("event_id"),
      ordering = Seq("event_ts_us", "event_id"),
      trigger = Trigger.ProcessingTime(0))
    val batch1 = Seq(
      ev(1, "purchase", 10.0, "2024-01-01 01:00:00"),
      ev(2, "purchase", 20.0, "2024-01-01 01:01:00"))
    input.addData(batch1)
    q.processAllAvailable()
    // replay batch1 (duplicate delivery) + a newer version of key 2
    input.addData(batch1 :+ ev(2, "purchase", 25.0, "2024-01-01 01:05:00"))
    q.processAllAvailable()
    q.stop()
    val rows = graft.lake.DeltaLog.read(spark, s"$dir/t").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(rows == Map(1L -> 10.0, 2L -> 25.0),
      s"latest-wins merge violated: $rows")
  }

  test("mergeStreamDelta: per-batch versions, pinned reader survives, replay content-equal") {
    import graft.lake.DeltaLog
    val dir = Files.createTempDirectory("graft-silver-delta").toString
    val root = s"$dir/tbl"
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = SilverStream.mergeStreamDelta(input.toDF(), root, s"$dir/ckpt",
      keys = Seq("event_id"), ordering = Seq("event_ts_us", "event_id"),
      trigger = Trigger.ProcessingTime(0))
    val batch1 = Seq(
      ev(1, "purchase", 10.0, "2024-01-01 01:00:00"),
      ev(2, "purchase", 20.0, "2024-01-01 01:01:00"))
    input.addData(batch1)
    q.processAllAvailable()
    val v1 = DeltaLog.currentVersion(root)
    val pinned = DeltaLog.read(spark, root) // resolve file list NOW
    // second micro-batch: stale replay of key 1 + newer key 2
    input.addData(batch1.take(1) :+ ev(2, "purchase", 25.0, "2024-01-01 01:05:00"))
    q.processAllAvailable()
    q.stop()
    def state(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(DeltaLog.currentVersion(root) == v1 + 1, "one version per micro-batch")
    assert(state(DeltaLog.read(spark, root)) == Map(1L -> 10.0, 2L -> 25.0))
    // the reader pinned before batch 2 still sees batch-1 state
    assert(state(pinned) == Map(1L -> 10.0, 2L -> 20.0))
    // and time travel replays it
    assert(state(DeltaLog.readAt(spark, root, v1)) == Map(1L -> 10.0, 2L -> 20.0))
  }

  test("fixture topic streamed through mergeStreamDelta + parse equals the batch silver parse") {
    // The q43 bronze fixture (planted stale dups, newer UPDATED dups,
    // malformed payloads) delivered as THREE out-of-order micro-batches
    // through the foreachBatch Delta merge, then batch-parsed — must
    // equal OrderEvents.parse over the whole topic in one go. This is the
    // reference deployment shape: streaming ingest+merge, batch silver.
    val dir = Files.createTempDirectory("graft-silver-fixture").toString
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bronze = graft.pipeline.BronzeFixtures.ordersBronze(
      graft.sources.Tables.orders(spark, sfDir),
      graft.sources.Tables.lineitem(spark, sfDir))
    val rows = bronze.as[FixtureBronze].collect()
    // deterministic shuffle so coordinates' dup deliveries straddle batches
    val mixed = rows.sortBy(r => (r.offset * 2654435761L + r.kafka_timestamp.getHour) % 997)
    val chunks = mixed.grouped(math.max(1, mixed.length / 3 + 1)).toSeq
    val input = MemoryStream[FixtureBronze]
    val q = SilverStream.mergeStreamDelta(input.toDF(), s"$dir/t",
      s"$dir/ckpt", keys = Seq("topic", "partition", "offset"),
      ordering = Seq("kafka_timestamp"), trigger = Trigger.ProcessingTime(0))
    chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = graft.pipeline.OrderEvents.parse(
      graft.lake.DeltaLog.read(spark, s"$dir/t"))
    val batch = graft.pipeline.OrderEvents.parse(bronze)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed-merge silver disagrees with the batch parse")
  }

  test("watermarked gold emits final minute buckets; too-late events are dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val gold = SilverStream.goldSalesMinuteStream(input.toDF(), lateness = "2 hours")
    val q = gold.writeStream.format("memory").queryName("gold_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(Seq(
      ev(1, "purchase", 10.0, "2024-01-01 01:00:10"),
      ev(2, "purchase", 5.0, "2024-01-01 01:00:40"),
      ev(3, "purchase", 7.0, "2024-01-01 02:30:00")))
    q.processAllAvailable()
    // 1h-late event: inside the 2h horizon → must still count.
    // 6h-late event: beyond the watermark → dropped.
    input.addData(Seq(
      ev(4, "purchase", 3.0, "2024-01-01 01:30:00"),
      ev(5, "purchase", 99.0, "2023-12-31 20:00:00"),
      // advance event time far enough to close every window above
      ev(6, "purchase", 1.0, "2024-01-01 09:00:00")))
    q.processAllAvailable()
    input.addData(Seq(ev(7, "purchase", 1.0, "2024-01-01 23:00:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("gold_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def us(s: String) = Timestamp.valueOf(s).getTime * 1000L
    assert(out(us("2024-01-01 01:00:00")) == 15.0)
    assert(out(us("2024-01-01 01:30:00")) == 3.0, "1h-late event must land")
    assert(!out.contains(us("2023-12-31 20:00:00")), "6h-late event must drop")
    assert(out(us("2024-01-01 02:30:00")) == 7.0)
  }

  test("watermarked gold agrees with the batch gold on on-time data") {
    import spark.implicits._
    val evs = Seq(
      ev(1, "purchase", 10.0, "2024-01-01 01:00:10"),
      ev(2, "purchase", 5.0, "2024-01-01 01:00:40"),
      ev(3, "view", 3.0, "2024-01-01 01:00:50"),
      ev(4, "purchase", 7.0, "2024-01-01 02:30:00"))
    val batch = Medallion.salesMinute(evs.toDF()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = SilverStream.goldSalesMinuteStream(input.toDF())
      .writeStream.format("memory").queryName("gold_parity")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(evs)
    q.processAllAvailable()
    input.addData(Seq(ev(9, "purchase", 1.0, "2024-01-02 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("gold_parity")
      .filter(col("minute_bucket_us") < Timestamp.valueOf("2024-01-02 00:00:00").getTime * 1000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(stream == batch, s"stream $stream vs batch $batch")
  }

  test("partitionedDeltaStream: micro-batches land as partitioned Delta " +
    "commits; a replayed batch no-ops via the txn watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-pds").toString
    val root = s"$dir/tbl"
    val input = MemoryStream[Ev]
    val q = SilverStream.partitionedDeltaStream(input.toDF(), root,
      s"$dir/ckpt", Seq("event_type"), appId = "pds-spec",
      trigger = Trigger.ProcessingTime(0))
    val evs = (1 to 12).map(i =>
      ev(i.toLong, if (i % 2 == 0) "purchase" else "view",
        i.toDouble, f"2024-01-01 01:${i}%02d:00"))
    evs.grouped(4).foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val table = graft.lake.DeltaLog.read(spark, root)
    assert(table.count() == 12L)
    // hive partition layout by event_type
    assert(graft.lake.DeltaLog
      .filesAt(spark, root, graft.lake.DeltaLog.currentVersion(root))
      .forall(_.startsWith("event_type=")))
    // simulate the engine replaying batch 0 after a crash: the txn
    // watermark is already past 0, so the commit must NO-OP
    val vBefore = graft.lake.DeltaLog.currentVersion(root)
    graft.lake.DeltaLog.commitPartitioned(spark, root,
      evs.take(4).toDF().select(col("event_id"), col("user_id"),
        col("event_type"), col("value"), col("event_ts"), col("event_ts_us")),
      Seq("event_type"), txn = Some(("pds-spec", 0L)))
    assert(graft.lake.DeltaLog.currentVersion(root) == vBefore,
      "replayed micro-batch must not commit")
    assert(graft.lake.DeltaLog.read(spark, root).count() == 12L)
  }

  test("watermarked gold ≡ batch gold bucket-for-bucket under shuffled, " +
    "DUPLICATED and late delivery (dedup within watermark)") {
    import spark.implicits._
    // The delivered record SET (what the batch gold sees, one row per
    // event id); minutes spread over an hour so late arrivals stay
    // inside the 2 h horizon.
    val records = (0 until 40).map { i =>
      ev(i.toLong, if (i % 5 == 0) "view" else "purchase",
        (i % 7) + 0.25, f"2024-01-01 01:${i % 60}%02d:${(i * 13) % 60}%02d")
    }
    val batch = Medallion.salesMinute(records.toDF()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // Delivery ATTEMPTS: every record delivered once in a shuffled
    // order, a third of them redelivered later (at-least-once), some
    // out of minute order — the kafka reality the reference ingests.
    val rnd = new scala.util.Random(42)
    val firstPass = rnd.shuffle(records)
    val redelivered = records.filter(_.event_id % 3 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = SilverStream.goldSalesMinuteStream(input.toDF(),
        lateness = "2 hours", dedupCols = Seq("event_id"))
      .writeStream.format("memory").queryName("gold_dup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    firstPass.grouped(15).foreach { c =>
      input.addData(c.toSeq); q.processAllAvailable()
    }
    input.addData(redelivered); q.processAllAvailable()
    // advance event time beyond every bucket + horizon to close windows
    input.addData(Seq(ev(999, "purchase", 1.0, "2024-01-02 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("gold_dup")
      .filter(col("minute_bucket_us") <
        Timestamp.valueOf("2024-01-02 00:00:00").getTime * 1000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(stream == batch,
      s"duplicated delivery diverged: stream $stream vs batch $batch")
  }
}
