package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream joins and watermarked streaming dedup — the stateful
  * operators the reference's batch jobs would need when the 5-minute
  * silver cadence moves fully streaming (SURVEY §2.9; the batch twins are
  * the silver enrich join J1 and the dedup window W1/P3).
  *
  * Both operators take plain DataFrames: applied to `readStream` inputs
  * they run incrementally with bounded state; applied to batch inputs the
  * same code is the batch semantics — which is exactly how the specs
  * cross-validate stream ≡ batch on out-of-order fixtures.
  *
  * State bounds (the 100 TB posture — unbounded state is the streaming
  * analogue of an unpartitionable shuffle):
  *  - the interval join keeps each side only until the OTHER side's
  *    watermark passes the join window's end, so state is
  *    O(rate × (horizon + lateness)), never O(history);
  *  - dropDuplicatesWithinWatermark evicts seen-keys once older than the
  *    watermark, so dedup state is O(rate × lateness) — the unbounded
  *    `dropDuplicates` on a stream is a deliberate non-option here.
  */
object StreamJoins {

  /** Order → payment attribution: payments join their order when they
    * land within `horizon` after the order event. Event-time interval
    * join — the range predicate is what lets Structured Streaming evict
    * state; an equi-only stream-stream join would hold both sides
    * forever.
    *
    * Input contracts: `orders(order_id, order_ts, ...)`,
    * `payments(payment_id, order_id, pay_ts, ...)`. `lateness` is the
    * per-side watermark: events later than that horizon may be dropped
    * (inner) or null-matched (left_outer) once state expires.
    *
    * `joinType` "inner" emits matches as they meet; "left_outer" also
    * emits each unmatched order exactly once — WITH null payment columns
    * — after the watermark passes its horizon (the streaming twin of the
    * batch left join's unmatched rows, delayed by correctness: only the
    * watermark can prove "no payment will come").
    */
  def paymentAttribution(orders: DataFrame, payments: DataFrame,
                         horizon: String = "1 hour",
                         lateness: String = "30 minutes",
                         joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer")(joinType),
      s"paymentAttribution: joinType must be inner|left_outer, got $joinType")
    val o = orders.withWatermark("order_ts", lateness)
    val p = payments
      .select(col("payment_id"), col("order_id").as("pay_order_id"),
        col("pay_ts"), col("amount"))
      .withWatermark("pay_ts", lateness)
    o.join(p,
        col("order_id") === col("pay_order_id") &&
          col("pay_ts") >= col("order_ts") &&
          col("pay_ts") <= col("order_ts") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("order_id"), col("order_ts"), col("payment_id"),
        col("pay_ts"),
        (unix_micros(col("pay_ts")) - unix_micros(col("order_ts")))
          .as("attribution_lag_us"),
        col("amount"))
  }

  /** Watermarked streaming dedup — the streaming twin of the W1/P3 batch
    * dedup window ([[graft.pipeline.Medallion.dedupLatest]], built on
    * [[graft.lake.Upsert.latestWins]]): keeps the FIRST arrival of each
    * key and drops re-deliveries that land within the watermark horizon.
    * Seen-key state is evicted once older than the watermark, so memory
    * is bounded by rate × `delay`, not by history; a duplicate arriving
    * AFTER eviction is re-emitted — pair with the idempotent downstream
    * merge ([[SilverStream.mergeStreamDelta]]) for end-to-end
    * exactly-once, which is the same layering the batch pipeline uses.
    */
  def dedupStream(df: DataFrame, keys: Seq[String], eventTimeCol: String,
                  delay: String): DataFrame = {
    require(keys.nonEmpty, "dedupStream: need at least one key column")
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)
  }
}
