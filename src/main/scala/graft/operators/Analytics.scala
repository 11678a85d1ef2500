package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Medallion.moneySum

/** Relational analytics over the star schema: joins, window functions,
  * pivot/unpivot, set ops, series generation — the generic operator surface
  * from SURVEY §2.3–§2.7 exercised on the driver tables.
  *
  * Scale posture: dimension tables (region/nation/customer/part/supplier)
  * are broadcast explicitly; fact-fact joins pre-aggregate the many side
  * first; exact decimal sums keep results partitioning-independent.
  */
object Analytics {

  /** Exact product of two money columns' discount expression, decimal-exact. */
  private def discPrice = col("l_extendedprice").cast("decimal(18,2)") *
    (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  /** TPC-H Q1-style pricing summary: single scan, hash agg on 2 low-card keys. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Revenue rollup across the full dimension chain, sized for 100×:
    * only the genuinely tiny dims (region ⋈ nation, ≤ a few hundred rows)
    * are broadcast; customer is a normal shuffle join that AQE may
    * broadcast when it happens to be small. The fact side is pre-aggregated
    * at every step (per order, then per customer) so each join and shuffle
    * moves the minimum number of rows — decimal partial sums keep the
    * roll-up exact under any grouping order.
    */
  def revenueByRegion(region: DataFrame, nation: DataFrame, customer: DataFrame,
                      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val natRegion = broadcast(
      nation.select(col("n_nationkey"), col("n_regionkey"))
        .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name")))
    val perOrder = lineitem.select(col("l_orderkey"), discPrice.as("disc_price"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("disc_price")).as("order_rev"), count(lit(1)).as("order_items"))
    val perCust = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("order_rev")).as("cust_rev"), sum(col("order_items")).as("cust_items"))
    perCust
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(natRegion, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name").as("region"))
      .agg(sum(col("cust_rev")).cast("double").as("revenue"),
           sum(col("cust_items")).as("n_items"))
  }

  /** Hierarchical revenue rollup (GROUPING SETS family): per (region,
    * nation), per region subtotal, and grand total in one pass — same
    * pre-aggregated join chain as [[revenueByRegion]], so the rollup adds
    * no extra scan or shuffle beyond the final grouping.
    */
  def revenueRollup(region: DataFrame, nation: DataFrame, customer: DataFrame,
                    orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val natRegion = broadcast(
      nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name")))
    val perOrder = lineitem.select(col("l_orderkey"), discPrice.as("disc_price"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("disc_price")).as("order_rev"), count(lit(1)).as("order_items"))
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("order_rev")).as("cust_rev"), sum(col("order_items")).as("cust_items"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(natRegion, col("c_nationkey") === col("n_nationkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("cust_rev"), col("cust_items"))
      .rollup(col("region"), col("nation"))
      .agg(sum(col("cust_rev")).cast("double").as("revenue"),
           sum(col("cust_items")).as("n_items"))
  }

  /** Frequency-ordered value list (dbt_utils get_column_values,
    * macros/sql/get_column_values.sql:5-65): distinct values of a column
    * ordered by occurrence count desc, capped.
    */
  def columnValues(df: DataFrame, column: String, maxRecords: Int): DataFrame =
    df.groupBy(col(column)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(column))
      .limit(maxRecords)

  /** Distinct aggregation: reach and volume per event type. */
  def eventReach(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"),
           moneySum(col("value")).as("total_value"))

  /** Top-k customers by revenue; deterministic tiebreak on custkey. */
  def topCustomers(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                   k: Int): DataFrame =
    lineitem.select(col("l_orderkey"), discPrice.as("disc_price"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("disc_price")).cast("double").as("revenue"))
      // customer is NOT hinted broadcast (it grows with the data); the
      // aggregate side is already one row per customer, so this is a
      // balanced shuffle join — AQE may still broadcast it when small.
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"), col("revenue"))
      .orderBy(col("revenue").desc, col("custkey"))
      .limit(k)

  /** Running per-user spend: cumulative exact sum, explicit ROWS frame +
    * unique tiebreaker (event_id) so the result is order-deterministic.
    */
  def runningSpend(events: DataFrame): DataFrame = {
    // asc_nulls_last: Spark's default window ordering is NULLS FIRST but
    // DuckDB's is NULLS LAST — a null-ts purchase would diverge the
    // cumulative sums cross-engine without the explicit null placement.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("event_ts_us").asc_nulls_last, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("event_ts_us"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("run_spend"))
  }

  /** Rank parts by price within brand (dense_rank + row_number). */
  /** Distribution windows per market segment: ntile deciles,
    * percent_rank and cume_dist over (acctbal desc, custkey) — the
    * ranking-function family q16/q17's sum/row_number windows don't
    * cover. The unique tiebreaker makes ntile's split deterministic;
    * percent_rank/cume_dist are exact integer ratios. Partitioned by
    * segment — never a global single-task sort.
    */
  def customerValueTiles(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      ntile(10).over(w).as("decile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** first_value / last_value / nth_value over the full per-user frame —
    * the positional window family (W-family completeness beyond
    * lag/lead/rank): each purchase row sees the user's first, latest and
    * second event values under a totally-ordered frame.
    */
  def userValueBounds(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("event_ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events.filter(col("event_type") === "purchase" &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_ts_us"),
        first(col("value")).over(w).as("first_value"),
        last(col("value")).over(w).as("last_value"),
        nth_value(col("value"), 2).over(w).as("second_value"))
  }

  /** SQL text for floor-division of long expression `c` by positive
    * literal `b` — matches DuckDB's `//` (and Python's `//`): Spark's
    * `div` truncates toward zero, so a negative dividend (a pre-1970
    * epoch value) must be adjusted down one whenever the remainder is
    * nonzero-negative. Pure long arithmetic — no double rounding hazard —
    * and ANSI-safe (no overflow for any long when b > 1; Spark's `%`
    * takes the dividend's sign, so the remainder test is exact).
    */
  private[graft] def floorDivSql(c: String, b: Long): String = {
    require(b > 1, s"floorDivSql: positive divisor > 1 required, got $b")
    s"(($c) div $b - (CASE WHEN ($c) % $b < 0 THEN 1 ELSE 0 END))"
  }

  /** Dense reporting grid: minute spine × event-type dimension, LEFT
    * JOIN actual per-(minute, type) counts, absent cells zero-filled —
    * the "no missing rows in the report" idiom. The grid is a deliberate
    * small × small cross join (spine × dimension values, both bounded);
    * the fact side arrives pre-aggregated.
    */
  def denseEventGrid(events: DataFrame, eventTypes: Seq[String]): DataFrame = {
    require(eventTypes.nonEmpty, "denseEventGrid needs event types")
    val e = events.filter(col("event_ts_us").isNotNull)
    val minutes = e.select(
      (expr(floorDivSql("event_ts_us", 60000000L)) * 60000000L).as("minute_us"))
      .agg(min(col("minute_us")).as("lo"), max(col("minute_us")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(60000000L)))
        .as("minute_us"))
    val types = eventTypes.map(t => lit(t))
    val grid = minutes.crossJoin(
      e.sparkSession.range(1).select(explode(array(types: _*)).as("event_type")))
    val actual = e
      .groupBy((expr(floorDivSql("event_ts_us", 60000000L)) * 60000000L).as("minute_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    grid.join(actual, Seq("minute_us", "event_type"), "left")
      .select(col("minute_us"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** Interpolated (continuous) percentiles per group — the percentile_cont
    * companion to [[groupPercentilesDisc]]: position p·(n−1) (0-based),
    * value = lo + frac·(hi − lo) between the two bracketing sorted rows.
    * Every arithmetic step is exact-int or a fixed-order double op, so
    * the interpolation hash-matches the oracle's identical formula. Same
    * scale posture as q62: values rank inside a window over the bare
    * group key — acceptable here because the gate composes the EXISTING
    * ranked pass; the bucketed two-pass variant remains the 100× path.
    */
  def groupPercentilesCont(df: DataFrame, groupCols: Seq[String],
                           valueCol: String, tieCol: String,
                           percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"percents must be in [0,100]: $percents")
    require(percents.distinct.size == percents.size, "duplicate percents")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol).asc, col(tieCol).asc)
    val ranked = df.select(groupCols.map(col) :+ col(valueCol) :+ col(tieCol): _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
    val aggs = percents.flatMap { p =>
      // 0-based target position t = p*(n-1)/100: lo row = t div 100*? —
      // exact integer split: idx = (p*(n-1)) div 100, frac = remainder/100
      val tNum = lit(p) * (col("__n") - 1)
      val lo = (tNum / 100).cast("long") + 1 // back to 1-based row_number
      val rem = tNum % 100
      Seq(
        max(when(col("__rn") === lo, col(valueCol))).as(s"__lo_$p"),
        max(when(col("__rn") === least(lo + 1, col("__n")), col(valueCol)))
          .as(s"__hi_$p"),
        max(rem).as(s"__rem_$p"))
    }
    ranked.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) ++ percents.map { p =>
        (col(s"__lo_$p") +
          (col(s"__rem_$p").cast("double") / 100.0) *
            (col(s"__hi_$p") - col(s"__lo_$p"))).as(s"p$p")
      }: _*)
  }

  /** Ordered conversion funnel: per user, stage k counts only if an
    * event of stage k's type occurs AT OR AFTER the user's stage-(k−1)
    * time, and within `horizonUs` of the stage-1 anchor. Each stage is a
    * groupBy-min chained through an equi-join on the user — exact
    * epoch-µs long arithmetic throughout, so the funnel is
    * hash-reproducible. Null users are dropped (join semantics).
    *
    * Scale: per-stage aggregates are map-side combinable and the join
    * key is the user everywhere, so AQE can chain the stages over
    * co-partitioned exchanges; nothing is ever collected per user beyond
    * one (t1, t) pair.
    */
  def funnelCounts(events: DataFrame, stages: Seq[String],
                   horizonUs: Long): DataFrame = {
    require(stages.size >= 2, s"funnelCounts needs >= 2 stages, got $stages")
    require(stages.distinct.size == stages.size, "funnel stages must differ")
    require(horizonUs > 0, "funnelCounts horizon must be positive")
    val e = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_ts_us"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("event_ts_us")).as("t1"))
      .withColumn("__t", col("t1"))
    val chain = stages.tail.scanLeft(first) { (prev, st) =>
      e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t1"), col("__t")), Seq("user_id"))
        .filter(col("event_ts_us") >= col("__t") &&
          col("event_ts_us") <= col("t1") + lit(horizonUs))
        .groupBy(col("user_id"), col("t1"))
        .agg(min(col("event_ts_us")).as("__t"))
    }
    stages.zip(chain).zipWithIndex.map { case ((st, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage_idx"), lit(st).as("stage"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Weekly cohort retention: users grouped by their first-activity
    * epoch-week; for every (cohort week, weeks since) the distinct users
    * still active. Pure integer week arithmetic on epoch-µs (floor
    * division, so pre-1970 timestamps bucket identically to DuckDB's
    * `//`) — the standard product-analytics triangle, hash-stable by
    * construction.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val w = events.filter(col("user_id").isNotNull)
      .select(col("user_id"),
        expr(floorDivSql("event_ts_us", 604800000000L)).as("wk"))
    val cohort = w.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    w.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** FULL OUTER equi-join with all three match classes exercised: the
    * sides deliberately part-overlap (customers ∉ 3ℤ vs order rollups for
    * even custkeys), so matched rows, left-only customers and right-only
    * rollups all appear. The right side pre-aggregates before the join —
    * the many side never crosses the exchange at fact grain.
    */
  def customerOrderFullJoin(customer: DataFrame, orders: DataFrame): DataFrame = {
    val left = customer.filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_name"))
    val right = orders.filter(col("o_custkey") % 2 === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).cast("double").as("total_spend"))
    left.join(right, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"),
        col("n_orders"), col("total_spend"))
  }

  /** CUBE over (status, priority): all four grouping sets in one pass —
    * Spark expands the sets map-side and shares one shuffle. grouping_id
    * disambiguates subtotal NULLs from (absent here) data NULLs with the
    * same first-column-highest-bit convention both engines use.
    */
  def orderStatusCube(orders: DataFrame): DataFrame =
    orders.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).cast("double").as("total_spend"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("total_spend"))

  /** Trailing `days`-day spend per customer order — a RANGE window frame
    * (value-based, `[day-days, day]` inclusive), the frame family the
    * ROWS-based running/lag/lead windows don't cover. RANGE frames
    * include ORDER-BY peers by definition, so same-day orders all see the
    * same trailing sum and no tiebreaker is needed for determinism; the
    * decimal sum keeps it exact under any partitioning. One shuffle on
    * the partition key, like every window — scale posture is the same as
    * q16's running sum.
    */
  def trailingSpend(orders: DataFrame, days: Int): DataFrame = {
    require(days >= 1, s"trailingSpend: days must be >= 1, got $days")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_day"))
      .rangeBetween(-days, 0)
    orders
      .select(col("o_orderkey"), col("o_custkey"),
        // parquet stores TIMESTAMP_NTZ; the UTC session makes the cast a
        // pure reinterpretation, matching DuckDB's naive epoch_us
        expr(floorDivSql(
          "unix_micros(cast(o_orderdate as timestamp))", 86400000000L))
          .as("order_day"),
        col("o_totalprice"))
      .select(col("o_orderkey"), col("o_custkey"), col("order_day"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("trailing_spend"))
  }

  def partPriceRank(part: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    part.select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
      dense_rank().over(w).as("price_rank"),
      row_number().over(w).as("rn"))
      .filter(col("rn") <= 3).drop("rn")
  }

  /** Generic symmetric difference (the dbt_utils equality-test idiom,
    * macros/generic_tests/equality.sql:143-159). Fine for test-sized
    * relations; for the key-partition use case prefer the single-pass
    * conditional-agg plan in [[statusCustkeyDiff]].
    */
  def symmetricDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.except(b).unionAll(b.except(a))

  /** Customers in exactly one of {open, finalized}: a single-pass
    * conditional aggregation + XOR filter — one orders scan and one
    * shuffle, vs. the 4-scan/4-shuffle EXCEPT formulation it replaces
    * (same rows, since the symmetric difference of the two distinct key
    * sets is exactly the keys present with one status but not the other).
    */
  def statusCustkeyDiff(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderstatus").isin("O", "F"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderstatus") === "O").as("has_open"),
           max(col("o_orderstatus") === "F").as("has_final"))
      .filter(col("has_open") =!= col("has_final"))
      .select(col("custkey"))

  /** Pivot events: one column of exact spend per event type, per user. */
  def eventPivot(events: DataFrame, types: Seq[String]): DataFrame =
    events.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(sum(col("value").cast("decimal(18,2)")))
      .select(col("user_id") +: types.map(t => col(t).cast("double").as(t)): _*)

  /** Unpivot (melt) lineitem measures into (metric, val) rows. */
  def lineitemUnpivot(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_linenumber"),
      expr("stack(2, 'quantity', l_quantity, 'extendedprice', l_extendedprice) AS (metric, val)"))

  /** Dense minute spine (date_spine idiom, macros/sql/date_spine.sql): every
    * minute between the first and last sales bucket, zero-filled. The spine
    * is generated distributedly (sequence + explode), not on the driver.
    */
  def minuteSpine(events: DataFrame): DataFrame = {
    val fct = graft.pipeline.Medallion.salesMinute(events)
    val bounds = fct.agg(min(col("minute_bucket_us")), max(col("minute_bucket_us"))).head()
    if (bounds.isNullAt(0))
      return fct.select(col("minute_bucket_us"), col("gmv"), col("paid_orders")).limit(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val spine = fct.sparkSession.range(1)
      .select(explode(sequence(lit(lo), lit(hi), lit(60L * 1000000L))).as("minute_bucket_us"))
      .repartition(col("minute_bucket_us"))
    spine.join(fct, Seq("minute_bucket_us"), "left")
      .select(col("minute_bucket_us"),
        coalesce(col("gmv"), lit(0.0)).as("gmv"),
        coalesce(col("paid_orders"), lit(0L)).as("paid_orders"))
  }

  /** Item-grain roundtrip (P2/F-array): rebuild the per-order
    * `items array<struct<product_id,qty,price>>` shape the reference keeps
    * intact through silver (silver_orders.py:60, routes.py:192-195), then
    * `explode` back to item grain and aggregate per product — the two array
    * operators any item-level query needs.
    */
  def itemGrain(lineitem: DataFrame): DataFrame = {
    val orders = lineitem.groupBy(col("l_orderkey").as("order_id"))
      .agg(collect_list(struct(
        col("l_partkey").as("product_id"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"))).as("items"))
    orders.select(col("order_id"), explode(col("items")).as("item"))
      .groupBy(col("item.product_id").as("product_id"))
      .agg(moneySum(col("item.qty")).as("total_qty"),
           moneySum(col("item.price")).as("total_price"),
           count(lit(1)).as("n_items"))
  }

  /** Surrogate keys: sha2-of-coordinates (silver_payments.py:53-54) + md5
    * (dbt generate_surrogate_key).
    */
  def hashKeys(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      sha2(concat_ws(":", col("event_type"), col("user_id"), col("event_id")), 256).as("event_key"),
      md5(concat_ws("-", col("user_id"), col("event_id"))).as("surrogate"))

  /** Minute buckets followed by a gap (lead-based range check, the
    * mutually_exclusive_ranges/sequential_values window idiom — W4). The
    * input is the already-aggregated gold fact, so the single global
    * window is over a bounded, small relation.
    */
  def minuteGaps(events: DataFrame): DataFrame = {
    val fct = graft.pipeline.Medallion.salesMinute(events)
    val w = Window.orderBy(col("minute_bucket_us"))
    fct
      .select(col("minute_bucket_us"),
        lead(col("minute_bucket_us"), 1).over(w).as("next_bucket"))
      .filter(col("next_bucket").isNotNull &&
        col("next_bucket") =!= col("minute_bucket_us") + 60000000L)
      .select(col("minute_bucket_us"), col("next_bucket"),
        ((col("next_bucket") - col("minute_bucket_us")) / 60000000L)
          .cast("long").as("gap_minutes"))
  }

  /** Exact discrete percentiles per group: for each percent p, the value at
    * 1-based sorted position ceil(n·p/100), computed with pure integer
    * arithmetic `(n·p + 99) div 100` so every engine lands on the same row
    * (float multiplication like `0.9·n` rounds differently near integer
    * boundaries).
    *
    * The plan is a two-pass bucketed histogram, NOT a per-group sort: a
    * `row_number` window partitioned by the group keys would funnel every
    * group through one task's sort — a multi-TB external sort per group at
    * 100× scale when the keys are low-cardinality. Instead:
    *   1. per-group bounds and row counts (parallel hash agg);
    *   2. per-(group, equal-width-bucket) occupancy counts (parallel hash
    *      agg) and a cumulative window over the ≤ `buckets` histogram rows
    *      per group locate the bucket holding each target position;
    *   3. only rows landing in a located bucket are revisited, collapsed to
    *      per-distinct-value counts (parallel agg), and a cumulative window
    *      over those distinct values picks the value whose rank interval
    *      contains the remaining within-bucket rank.
    * Every window input is pre-aggregated and range-bounded (≤ `buckets`
    * histogram rows, or the distinct values of a 1/`buckets` slice of a
    * group's value range), never the raw rows of a whole group — the
    * property AnalyticsSpec asserts on the plan. Bucketing arithmetic is
    * internal routing only; the returned percentile is an exact input value,
    * so float rounding in the bucket id can never change the result.
    *
    * Rows with equal values are interchangeable at any picked position, so
    * no tiebreaker is needed for determinism. Null values must be
    * pre-filtered (engines disagree on null sort order).
    */
  def groupPercentilesDisc(df: DataFrame, keys: Seq[String], valueCol: String,
                           percents: Seq[Int], buckets: Int = 1024): DataFrame = {
    require(keys.nonEmpty, "groupPercentilesDisc needs group keys")
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be within [1, 100]: $percents")
    require(percents.distinct.size == percents.size,
      s"duplicate percents would emit duplicate output columns: $percents")
    require(buckets >= 2, s"groupPercentilesDisc needs >= 2 buckets: $buckets")
    val k = keys.map(col)

    val stats = df.groupBy(k: _*).agg(
      min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"),
      count(lit(1)).as("__n"))

    // Equal-width bucket within the group's [mn, mx]; a degenerate
    // single-value group collapses to bucket 0.
    val width = (col("__mx").cast("double") - col("__mn").cast("double")) /
      lit(buckets.toDouble)
    val bucket = when(col("__mx") === col("__mn"), lit(0L)).otherwise(
      least(floor((col(valueCol).cast("double") - col("__mn").cast("double")) / width),
        lit(buckets - 1L)))
    val withB = df.select(k :+ col(valueCol): _*).join(stats, keys)
      .withColumn("__b", bucket)

    val hist = withB.groupBy(k :+ col("__b"): _*).agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(k: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wCum))

    // Target position per (group, percent); its bucket is the first with
    // cum ≥ t, and t − cum_prev ranks what's still needed inside it.
    val targets = stats.select(k :+ col("__n") :+
        explode(array(percents.map(lit(_)): _*)).as("__p"): _*)
      .withColumn("__t", expr("(__n * __p + 99) div 100"))
    val located = targets.join(cum, keys)
      .where(col("__t") > col("__cum") - col("__c") && col("__t") <= col("__cum"))
      .select(k :+ col("__p") :+ col("__b") :+
        (col("__t") - (col("__cum") - col("__c"))).as("__r"): _*)

    val tb = located.select(k :+ col("__b"): _*).distinct()
    val inBucket = withB.join(tb, keys :+ "__b")
      .groupBy(k :+ col("__b") :+ col(valueCol): _*)
      .agg(count(lit(1)).as("__vc"))
    val wVal = Window.partitionBy(k :+ col("__b"): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = inBucket.withColumn("__vcum", sum(col("__vc")).over(wVal))
    val picked = located.join(ranked, keys :+ "__b")
      .where(col("__r") > col("__vcum") - col("__vc") && col("__r") <= col("__vcum"))

    picked.groupBy(k: _*).agg(
      max(when(col("__p") === percents.head, col(valueCol))).as(s"p${percents.head}"),
      percents.tail.map(p =>
        max(when(col("__p") === p, col(valueCol))).as(s"p$p")): _*)
  }

  /** [[rfmSegments]]'s at-scale sibling — the swap its scaladoc
    * promises: instead of three global rank windows over the customer
    * dimension, quintile CUT VALUES come from [[groupPercentilesDisc]]
    * (the q62-gated integer-position machine — bucketed order
    * statistics, no global sort) as 12 driver scalars (model state, the
    * q84 convention), and every customer scores map-side as
    * 1 + #(cuts strictly below the value). Tie semantics differ from
    * the rank flavor BY DESIGN: tied metrics share a score here (no
    * tiebreak column needed), where ranks split them — the cut flavor
    * is the one that stays deterministic when the sort would not fit
    * one task.
    *
    * Output: (cust, recency_day, frequency, monetary_cents, r_score,
    * f_score, m_score, segment) — segment the "RFM" digit string.
    */
  def rfmSegmentsByCuts(orders: DataFrame, custCol: String, dayCol: String,
                        centsCol: String): DataFrame = {
    val per = orders.groupBy(col(custCol).as("cust")).agg(
      max(col(dayCol).cast("long")).as("recency_day"),
      count(lit(1)).as("frequency"),
      sum(col(centsCol).cast("long")).as("monetary_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE percentile pass for all three metrics: unpivot to
    // (metric, value) and let the q62 machine's group key do the rest —
    // three sequential histogram plans measured 3x the fixed cost.
    val metrics = Seq("recency_day", "frequency", "monetary_cents")
    val long3 = per.select(explode(array(metrics.map(m =>
        struct(lit(m).as("__m"), col(m).as("__v"))): _*)).as("__e"))
      .select(col("__e.__m").as("__m"), col("__e.__v").as("__v"))
    val cutRows = groupPercentilesDisc(long3, Seq("__m"), "__v",
        Seq(20, 40, 60, 80)).collect()
      .map(r => r.getString(0) -> (1 to 4).map(i => r.getLong(i))).toMap
    def score(metric: String, cs: Seq[Long]): Column =
      cs.map(c => when(col(metric) > c, 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    val (rc, fc, mc) = (cutRows("recency_day"), cutRows("frequency"),
      cutRows("monetary_cents"))
    per.select(col("cust"), col("recency_day"), col("frequency"),
        col("monetary_cents"),
        score("recency_day", rc).as("r_score"),
        score("frequency", fc).as("f_score"),
        score("monetary_cents", mc).as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
  }

  /** Histogram of customer balances (width_bucket idiom,
    * macros/sql/width_bucket.sql) with explicit, engine-portable arithmetic.
    */
  def acctbalHistogram(customer: DataFrame): DataFrame =
    customer.select(
        least(greatest((floor(col("c_acctbal") / 500.0) + 1).cast("bigint"), lit(1L)), lit(20L))
          .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** First-order Markov transition matrix of the event stream — the
    * sequence-model companion of [[funnelCounts]] (which fixes ONE stage
    * order; the transition matrix measures all of them). Per key, events
    * ordered by (ts, tie) yield (state, next-state) bigrams; output is
    * one row per observed transition with its count, the origin state's
    * total outflow, and the transition probability.
    *
    * Scale posture: one exchange for the per-key lead window, one
    * map-side-combinable agg on (from, to); the outflow normalizer is a
    * window over the transition MATRIX (|states|² rows, model-sized —
    * never the event stream), so the second pass is free at any corpus
    * scale. `p` is one long/long IEEE division, oracle-reproducible.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("event_ts_us").asc, col("event_id").asc)
    val wFrom = Window.partitionBy(col("from_type"))
    events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_ts_us"),
        col("event_id"))
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(wFrom))
      .withColumn("p",
        col("n").cast("double") / col("n_from").cast("double"))
  }

  /** Top event PATHS — [[eventTransitions]] extended from bigrams to
    * `len`-step sequences: per key, consecutive state runs (ordered by
    * ts with the unique tiebreaker, the standing rule) become
    * "a > b > c" path strings, counted corpus-wide, top-k by (count
    * desc, path asc). The sankey/behavior-flow readout. CONTRACT: state
    * values must not contain the " > " delimiter, or distinct paths
    * could alias into one string.
    *
    * Scale posture: one exchange for the per-key lead window (the leads
    * share one sorted run), one map-side-combinable path count, TakeOrdered
    * top-k — never a global sort.
    *
    * Output: (path, n_paths, rank), rank 1..k.
    */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
               tieCol: String, stateCol: String, len: Int = 3,
               k: Int = 20): DataFrame = {
    require(len >= 2 && len <= 6, s"topPaths: len in [2, 6], got $len")
    require(k >= 1, s"topPaths: k >= 1, got $k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val steps = col(stateCol) +:
      (1 until len).map(i => lead(col(stateCol), i).over(w))
    // stateCol must be null-filtered BEFORE the window: a NULL s0 row
    // passes the lead-steps guard below and concat_ws silently skips
    // the NULL, aliasing the row into a shorter-looking path while a
    // `s0 || ' > ' || s1` oracle yields NULL — cross-engine divergence.
    val withSteps = events
      .filter(col(keyCol).isNotNull && col(stateCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol), col(stateCol))
      .select(steps.zipWithIndex.map { case (c, i) => c.as(s"__s$i") }: _*)
      .filter((1 until len).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
    val counted = withSteps
      .select(concat_ws(" > ", (0 until len).map(i => col(s"__s$i")): _*)
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
    val wr = Window.orderBy(col("n_paths").desc, col("path").asc)
    counted.orderBy(col("n_paths").desc, col("path").asc).limit(k)
      .withColumn("rank", row_number().over(wr).cast("int"))
  }

  /** Running distinct count per period — "cumulative unique users by
    * day" without re-scanning history per period: each value's FIRST
    * period comes from one map-side-combinable min-agg (never a window
    * over the event stream), new-value counts roll up per period, and
    * the running sum is a window over the PERIOD-sized report. Periods
    * with activity but no new values report n_new = 0 (the period spine
    * is the observed period set).
    *
    * Output: (periodCol, n_new, n_cum) for every observed period.
    */
  def runningDistinct(df: DataFrame, periodCol: String,
                      valueCol: String): DataFrame = {
    val firsts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(min(col(periodCol)).as("__fp"))
      .groupBy(col("__fp").as("period")).agg(count(lit(1)).as("n_new"))
    val spine = df.select(col(periodCol).as("period")).distinct()
    val w = Window.orderBy(col("period").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(firsts, Seq("period"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_cum", sum(col("n_new")).over(w))
      .select(col("period").as(periodCol), col("n_new"), col("n_cum"))
  }

  /** Per-group z-score outliers — anomaly detection with exact,
    * order-independent sufficient statistics: values quantized once to
    * milli-unit longs (`floor(x·1000)`, the repo's fixed-point recipe),
    * Σq and Σq² summed as DECIMAL(38,0) (exact at any row count, where a
    * long Σq² would overflow ~2⁶³ and a double sum would be
    * order-dependent), then mean/variance/σ/z computed in doubles with a
    * PINNED operation order so DuckDB replays them bit-for-bit:
    *   mean = Σq/n,  var = (n·Σq² − Σq·Σq)/(n·(n−1)),  z = (q − mean)/√var.
    * √ is IEEE-correctly-rounded (hardware, not libm) — no rounding guard
    * needed, unlike trig/log.
    *
    * Scale posture: the stats agg is map-side combinable on the group
    * key; the join back is group-cardinality-sized (broadcast at any
    * realistic group count); the filter is row-local. No window, no
    * per-group sort. Groups with < 2 rows or zero variance drop out
    * (z undefined).
    */
  /** Median-absolute-deviation outliers — [[groupZScores]]'s ROBUST
    * sibling: mean/σ are themselves dragged by the outliers they're
    * meant to find, medians are not (50% breakdown point vs 0%). Per
    * group: med = median(q), mad = median(|q − med|), flag rows with
    * |q − med| > k·mad. Values quantized once to milli-unit longs so
    * both medians are EXACT order statistics (the repo's fixed-point
    * recipe) and the DuckDB oracle replays them by row_number.
    *
    * Both medians run through [[groupPercentilesDisc]]'s two-pass
    * bucketed histogram — no per-group single-task sort at any group
    * size; the two median tables are group-cardinality-sized and
    * broadcast back. Same position convention as q62
    * (`t = ceil(n·50/100)`, the lower median), so the oracle formula is
    * the one already proven there. A group that is > 50% one value has
    * mad = 0 — then ANY deviation > 0 is flagged (textbook MAD
    * behavior; `k` only matters for spread groups).
    *
    * CACHE LIFECYCLE (public contract): returns a lazy plan over two
    * per-call MEMORY_AND_DISK persists that this method cannot release
    * (the plan references them until the caller materializes it) — the
    * session owner clears them via `spark.catalog.clearCache()` between
    * pipelines.
    */
  def madOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                  idCols: Seq[String], k: Double): DataFrame = {
    require(keys.nonEmpty && idCols.nonEmpty,
      "madOutliers needs group keys and id columns")
    require(k >= 0, s"madOutliers k must be >= 0, got $k")
    // base feeds the median build AND the deviation pass; dev feeds the
    // MAD build AND the final flag join — persist both so the quantized
    // projection (and the source scan under it) runs once, not four
    // times. Per-call persists (not memos): they re-register on every
    // invocation, so Bench's between-query clearCache can't strand them.
    val base = df.filter(col(valueCol).isNotNull)
      .select((keys ++ idCols).map(col) :+ col(valueCol) :+
        floor(col(valueCol) * 1000.0).cast("long").as("__q"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val med = groupPercentilesDisc(base.select(keys.map(col) :+ col("__q"): _*),
        keys, "__q", Seq(50))
      .select(keys.map(col) :+ col("p50").as("__med"): _*)
    val dev = base.join(med, keys)
      .withColumn("dev_fp", abs(col("__q") - col("__med")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = groupPercentilesDisc(
        dev.select(keys.map(col) :+ col("dev_fp"): _*), keys, "dev_fp", Seq(50))
      .select(keys.map(col) :+ col("p50").as("mad_fp"): _*)
    dev.join(mad, keys)
      .filter(col("dev_fp").cast("double") > lit(k) * col("mad_fp").cast("double"))
      .select((keys ++ idCols).map(col) :+ col(valueCol) :+
        col("dev_fp") :+ col("mad_fp"): _*)
  }

  /** Pointwise mutual information of event-type co-occurrence within
    * sessions — the association matrix behind "users who X in a session
    * also Y": PMI(a,b) = ln(p(a,b) / (p(a)·p(b))) over session-distinct
    * type sets, positive when types co-occur beyond independence.
    * Sessions come from [[graft.operators.Temporal.sessionize]] (gap
    * rule); the session count N is the one driver-collected scalar
    * (model state, the q84/q116 convention).
    *
    * Scale posture: sessionization is one key shuffle; the
    * session-distinct projection and the pair self-join are both keyed
    * by (user, session) — co-partitioned, and pair expansion per session
    * is bounded by |types|²/2 (types is a small closed set). The count
    * tables and output are |types|-sized. Fixed-point
    * `floor(ln·10⁶)` keeps the scores hash-stable cross-engine.
    *
    * CACHE LIFECYCLE (public contract): same as [[madOutliers]] — one
    * per-call persist is left for the session owner's `clearCache()`.
    */
  def sessionPmi(events: DataFrame, gapUs: Long): DataFrame = {
    val sess = graft.operators.Temporal.sessionize(
      events.filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("event_ts_us")),
      Seq("user_id"), "event_ts_us", Seq("event_id"), gapUs)
    // st feeds the driver session count, BOTH self-join sides, and the
    // marginal table — per-call persist (the madOutliers convention) so
    // the sessionize shuffle runs once, not four times.
    val st = sess.select(col("user_id"), col("session_seq"),
      col("event_type")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSessions = st.select(col("user_id"), col("session_seq"))
      .distinct().count()
    require(nSessions > 0, "sessionPmi over an empty event stream")
    val single = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_a"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_seq") === col("b.session_seq") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(single.select(col("event_type").as("type_a"), col("n_a")),
        Seq("type_a"))
      .join(single.select(col("event_type").as("type_b"),
        col("n_a").as("n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        floor(log((col("n_ab").cast("double") * lit(nSessions.toDouble)) /
          (col("n_a").cast("double") * col("n_b").cast("double"))) *
          lit(1000000.0)).as("pmi_fp"))
  }

  /** Market-basket affinity — pair support and LIFT over item baskets
    * (the association-rule readout behind "bought together"): for items
    * a < b co-present in a basket, lift = P(a,b)/(P(a)·P(b)) =
    * n_ab·N/(n_a·n_b); pairs below `minSupport` baskets are pruned (the
    * Apriori support bar, which also bounds output size).
    *
    * lift_fp = floor(10⁶·lift): every input is an exact long and the
    * division happens once — partitioning-independent, oracle-exact.
    *
    * Scale posture: the pair self-join is co-partitioned on the basket
    * key and its expansion is bounded by per-basket distinct-item
    * count² (the q121 shape) — never corpus×corpus; marginals are one
    * map-side-combinable count; the support filter prunes BEFORE the
    * marginal joins. Cache contract as [[sessionPmi]]: the distinct
    * basket table feeds the scalar count and both join sides, so it
    * persists per call, left for the session owner's `clearCache()`.
    */
  def basketLift(items: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long = 2): DataFrame = {
    require(minSupport >= 1, s"basketLift: minSupport >= 1, got $minSupport")
    val b = items.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBaskets = b.select(col("__b")).distinct().count()
    require(nBaskets > 0, "basketLift over an empty basket table")
    val marg = b.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val pairs = b.as("a").join(b.as("x"),
        col("a.__b") === col("x.__b") && col("a.__i") < col("x.__i"))
      .groupBy(col("a.__i").as("item_a"), col("x.__i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(marg.select(col("__i").as("item_a"), col("__n").as("n_a")),
        Seq("item_a"))
      .join(marg.select(col("__i").as("item_b"), col("__n").as("n_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        floor(col("n_ab").cast("double") * lit(nBaskets.toDouble) *
          lit(1000000.0) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .cast("long").as("lift_fp"))
  }

  /** Categorical distribution drift — add-one-smoothed KL divergence
    * between two slices of one stream (time windows, A/B arms, data
    * sources): per category x, p(x) and q(x) are Laplace-smoothed over
    * the UNION category set and the row's KL term is p·ln(p/q); the sum
    * of `kl_fp` over the output is the (fixed-point) divergence, kept
    * per-category so the drift REPORT shows which categories moved.
    *
    * Scale posture: one map-side-combinable conditional-count agg over
    * the stream; the totals come from a global window over the
    * category-cardinality table (model-sized — never the stream), so the
    * whole operator is one shuffle plus sketch-sized arithmetic. All
    * doubles derive from exact longs with pinned op order; ln goes
    * through the `floor(·10⁹)` fixed-point gate (the q84 family).
    */
  def categoryDrift(df: DataFrame, catCol: String, pSide: Column): DataFrame = {
    val counts = df
      .groupBy(col(catCol))
      .agg(sum(when(pSide, 1L).otherwise(0L)).as("n_p"),
        sum(when(pSide, 0L).otherwise(1L)).as("n_q"))
    val wAll = Window.partitionBy()
    val withTotals = counts
      .withColumn("__np", sum(col("n_p")).over(wAll))
      .withColumn("__nq", sum(col("n_q")).over(wAll))
      .withColumn("__v", count(lit(1)).over(wAll))
    val p = (col("n_p").cast("double") + 1.0) /
      (col("__np").cast("double") + col("__v").cast("double"))
    val q = (col("n_q").cast("double") + 1.0) /
      (col("__nq").cast("double") + col("__v").cast("double"))
    withTotals.select(col(catCol), col("n_p"), col("n_q"),
      floor(p * log(p / q) * lit(1000000000.0)).as("kl_fp"))
  }

  /** Top-k session paths — the type-sequence readout behind funnel
    * DISCOVERY (funnelCounts measures one declared order;
    * this surfaces which orders actually happen): each gap-session's
    * events ordered by (ts, tie) render as `a>b>c`, counted, top-k by
    * (count desc, path) with the path itself as the unique tiebreaker.
    *
    * Scale posture: sessionization + the per-session collect share the
    * (user) partitioning; the per-session array is bounded by session
    * length (gap rule), sorted/rendered row-locally from the STAGED
    * aggregate column; path counts are map-side combinable and top-k is
    * TakeOrdered (per-partition heap + driver merge of k rows — never a
    * global sort).
    */
  def sessionPaths(events: DataFrame, gapUs: Long, k: Int): DataFrame = {
    require(k >= 1, s"sessionPaths k must be >= 1, got $k")
    val sess = graft.operators.Temporal.sessionize(
      events.filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("event_ts_us")),
      Seq("user_id"), "event_ts_us", Seq("event_id"), gapUs)
    sess
      .groupBy(col("user_id"), col("session_seq"))
      .agg(collect_list(struct(col("event_ts_us").as("ts"),
        col("event_id").as("id"), col("event_type").as("tp"))).as("__evs"))
      .select(array_join(
        transform(array_sort(col("__evs")), x => x.getField("tp")), ">")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  def groupZScores(df: DataFrame, keys: Seq[String], valueCol: String,
                   idCols: Seq[String], zMin: Double): DataFrame = {
    require(keys.nonEmpty && idCols.nonEmpty,
      "groupZScores needs group keys and id columns")
    require(zMin >= 0, s"groupZScores zMin must be >= 0, got $zMin")
    val q = floor(col(valueCol) * 1000.0).cast("long")
    val qd = q.cast("decimal(38,0)")
    val stats = df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(qd).as("__sx"),
        // qd·qd, NOT (q·q).cast: the long·long product overflows at
        // |value| ≳ 3e6 (q ~ 2^31 squares past 2^63) — decimal×decimal
        // is exact to 38 digits, which covers any physical value range.
        sum(qd * qd).as("__sxx"))
      .filter(col("__n") >= 2)
      .withColumn("__mean",
        col("__sx").cast("double") / col("__n").cast("double"))
      .withColumn("__var",
        (col("__n").cast("double") * col("__sxx").cast("double") -
          col("__sx").cast("double") * col("__sx").cast("double")) /
          (col("__n").cast("double") *
            (col("__n").cast("double") - 1.0)))
      .filter(col("__var") > 0.0)
      .withColumn("__sd", sqrt(col("__var")))
      .select(keys.map(col) :+ col("__mean") :+ col("__sd"): _*)
    df.filter(col(valueCol).isNotNull)
      .join(stats, keys)
      .withColumn("z",
        (q.cast("double") - col("__mean")) / col("__sd"))
      .filter(abs(col("z")) >= zMin)
      .select((keys ++ idCols).map(col) :+ col(valueCol) :+ col("z"): _*)
  }

  /** Exact ordinary-least-squares fit per group over FIXED-POINT
    * coordinates: input rows carry long columns `xFpCol`/`yFpCol`
    * (caller quantizes once — the q72/q84 contract), and the slope /
    * intercept come out of the closed form
    *   β = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),  α = (Σy − β·Σx) / n
    * with every sum accumulated in DECIMAL(38,0) — long·long products
    * overflow 2⁶³ at ~10⁷-scale fixed-point coordinates (the
    * groupZScores lesson), decimal sums are exact to 38 digits and
    * partition-order-independent. The final divisions are IEEE doubles
    * both engines compute identically from exact integer inputs.
    *
    * One map-side-combinable aggregation per group — the regression
    * itself never shuffles more than 5 partials per task. Groups with
    * fewer than 2 points or zero x-variance are dropped (no slope
    * exists).
    *
    * Output: group cols + (n, slope, intercept) with slope/intercept in
    * y-fp units per x-fp unit (caller rescales).
    */
  def olsFit(df: DataFrame, keys: Seq[String], xFpCol: String,
             yFpCol: String): DataFrame = {
    require(keys.nonEmpty, "olsFit needs group keys")
    val x = col(xFpCol).cast("decimal(38,0)")
    val y = col(yFpCol).cast("decimal(38,0)")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .filter(col("n") >= 2)
      .withColumn("__den",
        col("n").cast("decimal(38,0)") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= lit(0).cast("decimal(38,0)"))
      .withColumn("slope",
        (col("n").cast("decimal(38,0)") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") / col("__den").cast("double"))
      .withColumn("intercept",
        (col("__sy").cast("double") - col("slope") * col("__sx").cast("double"))
          / col("n").cast("double"))
      .select(keys.map(col) ++ Seq(col("n"), col("slope"), col("intercept")): _*)
  }

  /** Per-series daily trend slopes over an event stream — "is this
    * metric growing, and how fast": daily totals (DECIMAL-exact cents)
    * per series, then [[olsFit]]'s exact OLS of cents against the epoch
    * day. Slope is cents/day — the drift detector a metrics pipeline
    * alerts on, as a closed-form aggregation instead of a model server.
    *
    * Output: (series, n_days, slope, intercept).
    */
  def trendSlopes(events: DataFrame, seriesCol: String, tsUsCol: String,
                  valueCol: String): DataFrame = {
    val daily = events
      .filter(col(valueCol).isNotNull && col(tsUsCol).isNotNull)
      .groupBy(col(seriesCol).as("series"),
        expr(s"$tsUsCol div 86400000000").as("x_fp"))
      .agg((sum(col(valueCol).cast("decimal(18,2)")) * lit(100))
        .cast("long").as("y_fp"))
    olsFit(daily, Seq("series"), "x_fp", "y_fp")
      .withColumnRenamed("n", "n_days")
  }

  /** Sequence-gap report — where [[graft.quality.Checks.sequentialValues]]
    * says "broken", this says WHERE and HOW BADLY: per series, every gap
    * in an expected-dense integer sequence as (gap_start, gap_end,
    * n_missing). The ingestion audit that turns "ids are not contiguous"
    * into a backfill work list. One exchange per series for the lag
    * window; output is gap-sized, never data-sized.
    */
  def sequenceGaps(df: DataFrame, keys: Seq[String], idCol: String,
                   step: Long = 1L): DataFrame = {
    require(step >= 1, s"sequenceGaps: step >= 1, got $step")
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(col("__v").asc)
    df.select(kc :+ col(idCol).cast("long").as("__v"): _*)
      .distinct()
      .withColumn("__prev", lag(col("__v"), 1).over(w))
      .filter(col("__prev").isNotNull && col("__v") - col("__prev") > step)
      .select(kc :+ (col("__prev") + step).as("gap_start")
        :+ (col("__v") - step).as("gap_end")
        :+ expr(s"(__v - __prev) div $step - 1").as("n_missing"): _*)
  }

  /** Frequent 3-itemsets — the A-Priori level-3 step (Agrawal & Srikant,
    * VLDB '94; public literature) on top of the pair support the basket
    * operators already compute: a triple can only be frequent if all
    * three of its pairs are (downward closure), so candidate triples are
    * generated from frequent-pair joins and only THOSE are counted —
    * never the raw C(n,3) fanout per basket.
    *
    * Pipeline: distinct (basket, item) → frequent pairs (≥ minSupport,
    * persisted — they prune three times) → in-basket frequent-pair
    * instances → extend with a third item → closure-prune on (a,c) and
    * (b,c) → one map-side-combinable count. Monotonicity makes the
    * pruned count EQUAL to the brute-force triple count (the q236
    * oracle is the brute-force formulation, so the equivalence is part
    * of the gate).
    *
    * Output: (item_a, item_b, item_c, support) with a < b < c.
    */
  def frequentTriples(baskets: DataFrame, basketCol: String,
                      itemCol: String, minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"frequentTriples: minSupport >= 1, got $minSupport")
    val bi = baskets
      .select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .filter(col("__bk").isNotNull && col("__it").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l2 = bi.as("x").join(bi.as("y"),
        col("x.__bk") === col("y.__bk") && col("x.__it") < col("y.__it"))
      .groupBy(col("x.__it").as("a"), col("y.__it").as("b"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSupport)
      .select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairInB = bi.as("x").join(bi.as("y"),
        col("x.__bk") === col("y.__bk") && col("x.__it") < col("y.__it"))
      .select(col("x.__bk").as("__pbk"), col("x.__it").as("a"),
        col("y.__it").as("b"))
      .join(l2, Seq("a", "b"))
    val triples = pairInB.join(bi.as("z"),
        col("__pbk") === col("z.__bk") && col("z.__it") > col("b"))
      .select(col("a"), col("b"), col("z.__it").as("c"))
      .join(l2.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .join(l2.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    triples.select(col("a").as("item_a"), col("b").as("item_b"),
      col("c").as("item_c"), col("support"))
  }

  /** RFM customer segmentation (Hughes 1994; the classic CRM cut): per
    * customer, Recency (latest order, epoch-µs), Frequency (order
    * count), Monetary (DECIMAL-exact spend), each ranked into `nBuckets`
    * equal-count scores 1..nBuckets (n = best: most recent / most
    * frequent / highest spend), plus the concatenated segment code
    * ("555" = champions).
    *
    * Determinism: every rank orders by (metric, custkey) — a unique
    * tiebreaker, the standing top-k rule — and the bucket cut is pure
    * integer arithmetic ((rank−1)·nBuckets div count + 1), so both
    * engines agree exactly even on tied metrics. Monetary sums go
    * through DECIMAL(18,2) (bit-stable under any partitioning).
    *
    * Scale posture: one aggregation to the CUSTOMER grain, then three
    * global rank windows over that dimension-sized table — fine wherever
    * the customer dimension fits a sort (every warehouse); for a
    * billion-customer table swap row_number for the q62 bucketed
    * order-statistics machinery — packaged as [[rfmSegmentsByCuts]]. The
    * `count(*) over ()` denominator is a single scalar window over the
    * same sorted runs.
    */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
                  amountCol: String, nBuckets: Int = 5): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100,
      s"rfmSegments: nBuckets in [2, 100], got $nBuckets")
    val byCust = orders.groupBy(col(custCol).cast("long").as("custkey"))
      .agg(max(unix_micros(col(dateCol).cast("timestamp"))).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(18,2)")).cast("double").as("monetary"))
    val wR = Window.orderBy(col("recency_us").asc, col("custkey").asc)
    val wF = Window.orderBy(col("frequency").asc, col("custkey").asc)
    val wM = Window.orderBy(col("monetary").asc, col("custkey").asc)
    byCust
      .withColumn("__rr", row_number().over(wR).cast("long"))
      .withColumn("__rf", row_number().over(wF).cast("long"))
      .withColumn("__rm", row_number().over(wM).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .select(col("custkey"), col("recency_us"), col("frequency"), col("monetary"),
        expr(s"((__rr - 1) * $nBuckets) div __n + 1").as("r_score"),
        expr(s"((__rf - 1) * $nBuckets) div __n + 1").as("f_score"),
        expr(s"((__rm - 1) * $nBuckets) div __n + 1").as("m_score"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** Exact Pearson correlation between every pair of series in a long-form
    * metric table — "which daily metrics move together", the co-movement
    * matrix behind anomaly triage dashboards. Input rows are
    * (obs, series, yFp) with `yFpCol` a caller-quantized long (the
    * [[olsFit]] fixed-point contract); series are paired on shared
    * observations (pairwise-complete, the standard treatment of missing
    * points) via a self-join on `obsCol`, then each pair's five sums
    * accumulate in DECIMAL(38,0) — exact and partition-order-independent —
    * and r = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) comes out
    * of IEEE doubles both engines compute identically from the same
    * integers (division, multiply and sqrt are all correctly rounded).
    *
    * Scale: pairing happens INSIDE each observation's collected series
    * array (series count is panel-bounded — dozens, not data-sized), so
    * the input is scanned ONCE and shuffled once by observation; a
    * self-join formulation would evaluate the upstream panel twice (Spark
    * does not dedupe repeated subplans) and scan the fact table twice at
    * 100 TB. The ×|series|²/2 pair fanout is map-side, feeding one
    * map-side-combinable agg. Pairs with zero variance on either side
    * are dropped (r undefined).
    *
    * CONTRACT: input must hold at most ONE row per (obs, series) — the
    * operator pairs raw rows, so duplicate panel rows would contribute
    * extra pair products and silently skew every r they touch. Callers
    * with duplicate observations must pre-aggregate to the panel grain
    * (e.g. `groupBy(obs, series).agg(sum/avg)`) first; the operator does
    * not do this internally because the collapse policy (sum vs mean vs
    * last) is the caller's semantic choice, not the correlator's.
    *
    * Output: (series_a, series_b, n_obs, r) with series_a < series_b.
    */
  def corrPairs(df: DataFrame, obsCol: String, seriesCol: String,
                yFpCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val byObs = df
      .select(col(obsCol).as("__obs"), col(seriesCol).as("__s"),
        col(yFpCol).cast("long").as("__y"))
      .groupBy(col("__obs"))
      .agg(collect_list(struct(col("__s"), col("__y"))).as("__arr"))
    byObs
      .select(explode(col("__arr")).as("__a"), col("__arr"))
      .select(col("__a"), explode(col("__arr")).as("__b"))
      .filter(col("__a.__s") < col("__b.__s"))
      .select(col("__a.__s").as("series_a"), col("__b.__s").as("series_b"),
        col("__a.__y").cast(dec).as("__ya"),
        col("__b.__y").cast(dec).as("__yb"))
      .groupBy(col("series_a"), col("series_b"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("__ya")).as("__sx"), sum(col("__yb")).as("__sy"),
        sum(col("__ya") * col("__yb")).as("__sxy"),
        sum(col("__ya") * col("__ya")).as("__sxx"),
        sum(col("__yb") * col("__yb")).as("__syy"))
      .withColumn("__vx",
        col("n_obs").cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__vy",
        col("n_obs").cast(dec) * col("__syy") - col("__sy") * col("__sy"))
      .filter(col("__vx") > 0 && col("__vy") > 0)
      .withColumn("r",
        (col("n_obs").cast(dec) * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double")
          / (sqrt(col("__vx").cast("double")) * sqrt(col("__vy").cast("double"))))
      .select(col("series_a"), col("series_b"), col("n_obs"), col("r"))
  }

  /** Join-key skew profile — the "why is task 1477 still running"
    * diagnostic, as a first-class operator: the k heaviest keys of a
    * column with their row share and multiple-of-mean, exact ppm. A key
    * at 100× the mean is the one you salt.
    *
    * One map-side-combinable count per key into a persisted key table
    * (distinct-key-sized; referenced by both the 1-row totals aggregate
    * and the top-k — without the persist each branch re-scans the data;
    * per-call lifecycle, the session owner's `clearCache()` releases it),
    * then TakeOrdered for the top-k and a broadcast of the single totals
    * row. No global window ever touches the full key table — a
    * partitionBy(lit(1)) window there would single-thread billions of
    * keys. Cumulative share is over the top-k rows only (rank order).
    *
    * Output: (key, n_rows, rank, share_fp, cum_share_fp, x_mean_fp) —
    * share in ppm, x_mean_fp = how many ×10⁶-ths of the mean key size.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"keySkewProfile: k >= 1, got $k")
    val M = 1000000L
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = counts.agg(sum(col("n_rows")).as("__tot"),
      count(lit(1)).as("__nk"))
    val top = counts
      .orderBy(col("n_rows").desc, col("key").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_rows").desc, col("key").asc)).cast("long"))
      .join(broadcast(totals))
    top
      .withColumn("__cum", sum(col("n_rows")).over(
        Window.orderBy(col("rank").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("key"), col("n_rows"), col("rank"),
        expr(s"(n_rows * CAST($M AS BIGINT)) div __tot").as("share_fp"),
        expr(s"(__cum * CAST($M AS BIGINT)) div __tot").as("cum_share_fp"),
        expr(s"(n_rows * __nk * CAST($M AS BIGINT)) div __tot").as("x_mean_fp"))
  }

  /** Gini concentration coefficient per group — "is revenue coming from
    * everyone or from three whales", exact from integer cents:
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),   x sorted ascending,
    * with the rank ordered by (value, id) — the unique tiebreak — and
    * every product in DECIMAL(38,0) (rank·cents overflows longs at
    * ~10⁹ members × $10⁷). The single division is ppm integer floor.
    *
    * One exchange to rank within each group, one map-side-combinable
    * agg. Members with zero or positive cents only (Gini is defined for
    * non-negative distributions; negative rows are dropped loudly via
    * the returned n).
    *
    * Output: (group, n_members, total_cents, gini_fp).
    */
  def giniByGroup(df: DataFrame, groupCol: String, idCol: String,
                  centsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__x").asc, col("__id").asc)
    df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(centsCol).cast("long").as("__x"))
      .filter(col("__x") >= 0)
      .withColumn("__rk", row_number().over(w).cast("long"))
      .groupBy(col("__g").as("group"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__x")).as("total_cents"),
        sum(col("__rk").cast(dec) * col("__x").cast(dec)).as("__rx"))
      .filter(col("total_cents") > 0)
      .select(col("group"), col("n_members"), col("total_cents"),
        expr("CAST(((2 * __rx - (CAST(n_members AS DECIMAL(38,0)) + 1) " +
          "* total_cents) * 1000000) div " +
          "(CAST(n_members AS DECIMAL(38,0)) * total_cents) AS BIGINT)")
          .as("gini_fp"))
  }

  /** Repeat-purchase cohort report — "do newer cohorts come back": per
    * first-order month, the customer count, how many ever ordered again,
    * the ppm repeat rate, and exact DECIMAL lifetime spend. One pass to
    * the per-customer aggregate (first month + order count + spend), one
    * map-side-combinable cohort rollup.
    *
    * Months are epoch-absolute (year·12 + month−1) so cohorts sort
    * numerically and both engines derive the identical integer.
    *
    * Output: (cohort_month, n_customers, n_repeat, repeat_fp,
    * total_cents).
    */
  def repeatCohorts(orders: DataFrame, custCol: String, dateCol: String,
                    amountCol: String): DataFrame = {
    val absMonth = (year(col(dateCol).cast("date")) * 12 +
      month(col(dateCol).cast("date")) - 1).cast("long")
    orders
      .groupBy(col(custCol).as("__c"))
      .agg(min(absMonth).as("cohort_month"),
        count(lit(1)).as("__n"),
        (sum(col(amountCol).cast("decimal(18,2)")) * lit(100)).cast("long")
          .as("__cents"))
      .groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("n_repeat"),
        sum(col("__cents")).as("total_cents"))
      .select(col("cohort_month"), col("n_customers"), col("n_repeat"),
        expr("(n_repeat * CAST(1000000 AS BIGINT)) div n_customers")
          .as("repeat_fp"),
        col("total_cents"))
  }

  /** Maximum drawdown per series — the worst peak-to-trough fall of the
    * cumulative total (the risk metric behind "how bad did it get"):
    * running cumulative cents in (idx, tie) order, running peak, and the
    * max of (peak − cumulative). Exact longs end to end; ONE
    * exchange+sort serves all three windows (same partitioning and
    * ordering) plus a map-side-combinable rollup.
    *
    * Output: (keys…, n_points, final_cents, peak_cents,
    * max_drawdown_cents).
    */
  def maxDrawdown(df: DataFrame, keys: Seq[String], idxCol: String,
                  tieCol: String, centsCol: String): DataFrame = {
    require(keys.nonEmpty, "maxDrawdown needs series keys")
    val kc = keys.map(col)
    // Idx/tie aliased internally (as ohlcBars does): callers may pass a tie
    // column whose NAME collides with the idx column post-join — ordering on
    // the aliases keeps the projection unambiguous.
    val w = Window.partitionBy(kc: _*)
      .orderBy(col("__idx").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(kc :+ col(idxCol).as("__idx") :+ col(tieCol).as("__tie")
        :+ col(centsCol).cast("long").as("__c"): _*)
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__peak", max(col("__cum")).over(w))
      .groupBy(kc: _*)
      .agg(count(lit(1)).as("n_points"),
        sum(col("__c")).as("final_cents"),
        max(col("__peak")).as("peak_cents"),
        max(col("__peak") - col("__cum")).as("max_drawdown_cents"))
      .select(kc ++ Seq(col("n_points"), col("final_cents"),
        col("peak_cents"), col("max_drawdown_cents")): _*)
  }

  /** OHLC bars — open/high/low/close + volume per (key, time bucket), the
    * candlestick aggregation every metrics/trading surface draws. Open and
    * close ride the min/max-of-struct idiom over (ts, tie, cents): struct
    * comparison is lexicographic and (ts, tie) is unique, so first/last
    * are deterministic under any partitioning — never a window sort.
    * ONE map-side-combinable aggregation; cents are exact longs.
    *
    * Output: (keys…, bucket, open_cents, high_cents, low_cents,
    * close_cents, n_events).
    */
  def ohlcBars(df: DataFrame, keys: Seq[String], tsUsCol: String,
               tieCol: String, centsCol: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"ohlcBars: bucketUs > 0, got $bucketUs")
    val kc = keys.map(col)
    df.select(kc :+ col(tsUsCol).cast("long").as("__ts")
        :+ col(tieCol).as("__tie") :+ col(centsCol).cast("long").as("__c"): _*)
      .withColumn("bucket", expr(s"__ts div $bucketUs"))
      .groupBy(kc :+ col("bucket"): _*)
      .agg(
        min(struct(col("__ts"), col("__tie"), col("__c"))).as("__first"),
        max(struct(col("__ts"), col("__tie"), col("__c"))).as("__last"),
        max(col("__c")).as("high_cents"),
        min(col("__c")).as("low_cents"),
        count(lit(1)).as("n_events"))
      .select(kc ++ Seq(col("bucket"),
        col("__first.__c").as("open_cents"), col("high_cents"),
        col("low_cents"), col("__last.__c").as("close_cents"),
        col("n_events")): _*)
  }

  /** Winsorized statistics per group — outlier-robust sums/means by
    * clipping to the exact [pLo, pHi] discrete percentiles (the standard
    * pre-aggregation treatment when a fat tail would swamp the mean).
    * Cuts come from [[groupPercentilesDisc]] (histogram-staged, never a
    * whole-group sort in one task) and clipping is one broadcast join of
    * the group-sized cut table plus one map-side-combinable aggregation.
    * Two passes over the data by NATURE (the cut must exist before any
    * row can clip) — that is the honest minimum, not plan debt.
    *
    * Values are caller-quantized longs (cents), so the winsorized sum is
    * exact and the mean is a truncating integer division — identical in
    * both engines for either sign.
    *
    * Output: (keys…, n, n_lo_clipped, n_hi_clipped, win_sum_cents,
    * win_mean_cents).
    */
  def winsorizedStats(df: DataFrame, keys: Seq[String], centsCol: String,
                      pLo: Int, pHi: Int): DataFrame = {
    require(1 <= pLo && pLo < pHi && pHi <= 100,
      s"winsorizedStats needs 1 <= pLo < pHi <= 100, got [$pLo, $pHi]")
    val cuts = groupPercentilesDisc(df, keys, centsCol, Seq(pLo, pHi))
      .select(keys.map(col) :+ col(s"p$pLo").as("__lo")
        :+ col(s"p$pHi").as("__hi"): _*)
    df.join(broadcast(cuts), keys)
      .select(keys.map(col)
        :+ least(greatest(col(centsCol).cast("long"), col("__lo")), col("__hi"))
          .as("__w")
        :+ (col(centsCol) < col("__lo")).as("__bl")
        :+ (col(centsCol) > col("__hi")).as("__bh"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__bl"), 1L).otherwise(0L)).as("n_lo_clipped"),
        sum(when(col("__bh"), 1L).otherwise(0L)).as("n_hi_clipped"),
        sum(col("__w")).as("win_sum_cents"))
      .select(keys.map(col) ++ Seq(col("n"), col("n_lo_clipped"),
        col("n_hi_clipped"), col("win_sum_cents"),
        expr("win_sum_cents div n").as("win_mean_cents")): _*)
  }

  /** Hour-of-week seasonality profile — the 168-cell heatmap behind
    * "when do our users actually buy": per (day-of-week, hour) cell the
    * event count, exact cent total, truncating mean, and a ppm
    * seasonality index (cell mean ÷ overall mean, computed as one exact
    * DECIMAL(38,0) cross-product so no float ratio ever forms).
    *
    * One map-side-combinable aggregation to the 168-row cell table; the
    * overall totals ride a single window over those 168 rows (bounded by
    * the calendar, not the data). dow is 0=Monday (epoch day 0 was a
    * Thursday → (day + 3) % 7).
    *
    * Output: (dow, hour, n, sum_cents, mean_cents, index_fp).
    */
  def seasonalityProfile(df: DataFrame, tsUsCol: String,
                         centsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.select(col(tsUsCol).cast("long").as("__ts"),
        col(centsCol).cast("long").as("__c"))
      .select(expr("(__ts div 86400000000 + 3) % 7").as("dow"),
        expr("(__ts div 3600000000) % 24").as("hour"), col("__c"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("sum_cents"))
      .withColumn("__tn", sum(col("n")).over(Window.partitionBy(lit(1))))
      .withColumn("__ts", sum(col("sum_cents")).over(Window.partitionBy(lit(1))))
      .select(col("dow"), col("hour"), col("n"), col("sum_cents"),
        expr("sum_cents div n").as("mean_cents"),
        expr(s"CAST((CAST(sum_cents AS $dec) * __tn * 1000000) div " +
          s"(CAST(n AS $dec) * __ts) AS BIGINT)").as("index_fp"))
  }
}
