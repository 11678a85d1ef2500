package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's medallion transforms (bronze → silver → gold), re-expressed
  * as pure DataFrame → DataFrame functions over the driver's event stream
  * table. Citations are into /root/reference.
  *
  * Money/metric sums are computed in DECIMAL(18,2) and cast back to double so
  * results are bit-stable regardless of partitioning / aggregation order —
  * a correctness property at any scale and the contract the DuckDB oracle
  * checks (SURVEY §7 risk 2).
  */
object Medallion {

  /** Exact (order-independent) sum of a double money column → double. */
  def moneySum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Bronze envelope projection (bronze_orders_raw.py:45-53): cast key to
    * string, carry payload opaquely, stamp event-time columns.
    */
  def bronzeProject(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").cast("string").as("raw_key"),
      col("props").as("raw_value"),
      col("event_type").as("topic"),
      col("event_ts_us"),
      col("event_date"))

  /** Latest-wins dedup (silver_orders.py:47-50): one row per
    * (user_id, event_type), the most recent by event time, event_id as the
    * deterministic tiebreaker.
    */
  def dedupLatest(events: DataFrame): DataFrame =
    graft.lake.Upsert.latestWins(events,
      keys = Seq("user_id", "event_type"),
      ordering = Seq("event_ts_us", "event_id"))

  /** Permissive JSON parse of the props payload (silver_orders.py:52-67):
    * missing/corrupt fields → null, never an error.
    */
  def parseProps(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k"))

  /** Per-order payment aggregates (silver_enrich.py:25-30): pre-aggregate the
    * many side BEFORE the join — halves the shuffled bytes and keeps the
    * join build side small.
    */
  def paymentAgg(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey").as("order_id"))
      .agg(moneySum(col("l_extendedprice")).as("paid_amount"))

  /** Enrichment join (silver_enrich.py:32-44): orders LEFT JOIN payment
    * aggregates, `fully_paid` = paid >= total. The aggregate side is
    * key-distinct so the join is 1:1; Catalyst broadcasts it when small.
    */
  def enrich(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        col("o_totalprice").as("total_amount"),
        col("o_orderstatus").as("order_status"),
        col("o_orderdate"))
      .join(paymentAgg(lineitem), Seq("order_id"), "left")
      .withColumn("paid_amount", coalesce(col("paid_amount"), lit(0.0)))
      .withColumn("fully_paid", col("paid_amount") >= col("total_amount"))

  /** Trino-view flavor of the enrichment (trino_bootstrap_views.py:54-72):
    * status + event_date, no user column.
    */
  def enrichView(orders: DataFrame, lineitem: DataFrame): DataFrame =
    enrich(orders, lineitem).select(
      col("order_id"), col("order_status"), col("total_amount"),
      col("paid_amount"), col("fully_paid"),
      to_date(col("o_orderdate")).as("event_date"))

  /** gold.fct_sales_minute (fct_sales_minute.sql:29-41): minute-bucketed GMV
    * over paid events. Bucket exposed as epoch-µs long (cross-engine stable).
    */
  def salesMinute(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase" && col("event_ts_us").isNotNull)
      .groupBy(unix_micros(date_trunc("minute", col("event_ts"))).as("minute_bucket_us"))
      .agg(moneySum(col("value")).as("gmv"),
           count(lit(1)).as("paid_orders"))

  /** Hopping-window (sliding) GMV: 10-minute windows every 5 minutes —
    * each event lands in length/slide = 2 overlapping windows. Spark's
    * `window()` expands the assignments map-side (epoch-aligned starts),
    * so the plan is still one map-side-combinable shuffle; the oracle
    * regenerates the same two window starts per event arithmetically
    * (`(t div slide − o)·slide`, o ∈ {0, 1}).
    */
  def salesHopping(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase" && col("event_ts_us").isNotNull)
      .groupBy(window(col("event_ts"), "10 minutes", "5 minutes").as("w"))
      .agg(moneySum(col("value")).as("gmv"),
           count(lit(1)).as("paid_orders"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("gmv"), col("paid_orders"))

  /** Incremental lookback variant (fct_sales_minute.sql:35-40): only re-aggregate
    * events within `lookback` of the newest event. The cutoff is a scalar
    * aggregate — one cheap pre-pass, then a pushed-down range filter.
    */
  def salesMinuteIncremental(events: DataFrame, lookbackUs: Long): DataFrame = {
    val row = events.agg(max(col("event_ts_us")) - lookbackUs).head()
    if (row.isNullAt(0)) salesMinute(events).limit(0)
    else salesMinute(events.filter(col("event_ts_us") >= row.getLong(0)))
  }

  /** vw_sales_last_60min (vw_sales_last_60min.sql:1-6), window relative to the
    * newest bucket so results are deterministic on a fixed dataset.
    */
  def salesLastNMinutes(events: DataFrame, minutes: Int): DataFrame = {
    // The newest-bucket cutoff comes from a global window over the
    // ALREADY-AGGREGATED fact (bounded rows) — one events scan total,
    // no driver-side scalar collect, empty input yields empty output.
    val w = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    salesMinute(events)
      .withColumn("__mx", max(col("minute_bucket_us")).over(w))
      .filter(col("minute_bucket_us") >=
        col("__mx") - minutes.toLong * 60L * 1000000L)
      .drop("__mx")
  }

  /** Top-k minutes by GMV (README.md:160-162), bucket as the unique tiebreak. */
  def topMinutes(events: DataFrame, k: Int): DataFrame =
    salesMinute(events).orderBy(col("gmv").desc, col("minute_bucket_us")).limit(k)

  /** Freshness / sanity aggregates (README.md:214-221). */
  def freshness(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(max(col("event_ts_us")).as("max_ts_us"), count(lit(1)).as("n"))

  /** Incremental AGGREGATE maintenance — the materialized-rollup refresh
    * that never rescans history: the gold table keeps mergeable partial
    * state (count + DECIMAL(18,2) sum per group), each append-only batch
    * contributes its own map-side partials, and refresh = union + re-agg
    * of STATE-sized rows. Folding batches through this is provably equal
    * to the full recompute (count/sum are commutative monoids — q282
    * gates the equality), while the full recompute re-reads every byte
    * ever ingested. [[salesMinuteIncremental]] is the row-grain lookback
    * flavor; this is the aggregate-state flavor a daily-revenue rollup
    * wants.
    *
    * Output/state schema: (groupCols…, n_rows, sum_val DECIMAL(18,2)).
    * Pass `state = None` for the first batch.
    *
    * Per-row quantization is floor(value·100 + 0.5) → long: the +0.5
    * recovers the intended cent for exact-2dp money whose double
    * product lands a hair BELOW the integer (0.29·100 =
    * 28.999999999999996 — bare floor undercounts it a cent), while
    * staying a pure IEEE computation both engines reproduce
    * bit-identically (determinism, not a rounding-mode claim). Longs
    * sum exactly in any order, and cents present as an exact decimal
    * product cents × 0.01 — so fold ≡ one-shot holds bit-for-bit on
    * ANY double input. State merges stay pure DECIMAL(18,2) addition,
    * which never rounds.
    */
  def mergeAggState(state: Option[DataFrame], batch: DataFrame,
                    groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "mergeAggState needs group columns")
    val part = batch
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col(valueCol) * lit(100) + lit(0.5)).cast("long"))
          .as("__cents"))
      .withColumn("sum_val",
        (col("__cents").cast("decimal(18,0)") *
          lit(new java.math.BigDecimal("0.01"))).cast("decimal(18,2)"))
      .drop("__cents")
    state match {
      case None => part
      case Some(st) => st.unionByName(part)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("sum_val")).cast("decimal(18,2)").as("sum_val"))
    }
  }

  /** Fold a CHANGE-FEED batch (rows carrying `_change_type`) into the
    * `(groupCols → n_rows, cents)` aggregate state — the delta rule
    * for COUNT/SUM over a CDC stream (Gupta–Mumick incremental view
    * maintenance): `insert`/`update_postimage` add, `delete`/
    * `update_preimage` subtract; an unknown change type fails the job
    * loudly rather than skewing the view. Values quantize ONCE to
    * signed long cents, so the fold is exact, commutative and
    * order-independent — any batch split of the same feed converges to
    * the same state — and groups folded back to zero rows are dropped
    * (the view of an empty group is absence, matching a recompute).
    * One shuffle per batch (the group-by); state merge reuses the same
    * key partitioning.
    */
  def applyChangesCents(state: Option[DataFrame], changes: DataFrame,
                        groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "applyChangesCents needs group columns")
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
      .otherwise(raise_error(concat(lit("applyChangesCents: unknown " +
        "_change_type "), col("_change_type"))))
    val part = changes
      .withColumn("__sign", sign)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__sign")).as("n_rows"),
        sum(col("__sign") *
          floor(col(valueCol) * lit(100) + lit(0.5)).cast("long"))
          .as("cents"))
    val merged = state match {
      case None => part
      case Some(st) => st.unionByName(part)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("cents")).as("cents"))
    }
    merged.filter(col("n_rows") =!= 0L)
  }

  /** Integer-only flavor of [[mergeAggState]]: identical fold semantics
    * (quantize each row ONCE to long cents, floor(value·100 + 0.5), sum
    * longs exactly in any order) but the state/output carries the raw
    * `cents BIGINT` with no decimal presentation step. Zero
    * engine-sensitive surface: every column is an integer, so any
    * cross-engine comparison of this output is exact by construction.
    * Output/state schema: (groupCols…, n_rows BIGINT, cents BIGINT).
    */
  def mergeAggStateCents(state: Option[DataFrame], batch: DataFrame,
                         groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "mergeAggStateCents needs group columns")
    val part = batch
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col(valueCol) * lit(100) + lit(0.5)).cast("long"))
          .as("cents"))
    state match {
      case None => part
      case Some(st) => st.unionByName(part)
        .groupBy(groupCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("cents")).as("cents"))
    }
  }
}
