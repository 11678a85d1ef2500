package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable data-quality combinators — the dbt generic-test surface
  * (models/gold/schema.yml:4-20 and the dbt_packages/dbt_utils
  * generic_tests macros) as `DataFrame => Either[String, Unit]`: Left carries a
  * violation description with counts, Right means the contract holds.
  *
  * Every check is a single aggregate or windowed scan — no collects of row
  * sets, so they run at table scale as cheaply as the queries they guard.
  */
object Checks {

  private val CountCap = 1000000L

  private def violation(df: DataFrame, what: String): Either[String, Unit] =
    // limit() bounds the scan: a check's verdict needs "zero or not", not
    // an exact count of a billion violations. Report the cap honestly.
    verdict(df.limit(CountCap.toInt).count(), what)

  private def verdict(n: Long, what: String): Either[String, Unit] =
    if (n == 0) Right(())
    else if (n >= CountCap) Left(s"$what: >= $CountCap violating row(s) (count capped)")
    else Left(s"$what: $n violating row(s)")

  /** dbt `not_null`. */
  def notNull(df: DataFrame, column: String): Either[String, Unit] =
    violation(df.filter(col(column).isNull), s"not_null($column)")

  /** dbt `unique` / dbt_utils `unique_combination_of_columns`. */
  def unique(df: DataFrame, columns: String*): Either[String, Unit] =
    violation(
      df.groupBy(columns.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1),
      s"unique(${columns.mkString(",")})")

  /** A primary-key contract in ONE aggregate: `not_null(key)`,
    * `unique(key)`, then `not_null(c)` for each of `notNull`, returning
    * the failures in that order with exactly the messages the separate
    * [[notNull]]/[[unique]] calls produce. The frame is grouped by `key`
    * once (NULL keys form one group, as in [[unique]]) and the groups
    * fold into one row of duplicate-group and per-column null counts —
    * one action where the separate calls run one each.
    */
  def keyContract(df: DataFrame, key: String, notNull: Seq[String]): Seq[String] = {
    val nullCounts = notNull.indices.map(i => s"__nulls$i")
    val groups = df.groupBy(col(key)).agg(count(lit(1)).as("__n"),
      notNull.zip(nullCounts).map { case (c, a) =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(a) }: _*)
    val r = groups.agg(
      sum(when(col(key).isNull, col("__n")).otherwise(0L)),
      sum(when(col("__n") > 1, 1L).otherwise(0L)) +:
        nullCounts.map(a => sum(col(a))): _*).head()
    // an empty frame has no groups: every sum is NULL, i.e. zero
    def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (Seq(verdict(n(0), s"not_null($key)"), verdict(n(1), s"unique($key)")) ++
      notNull.indices.map(i => verdict(n(i + 2), s"not_null(${notNull(i)})")))
      .collect { case Left(e) => e }
  }

  /** dbt `accepted_values`: NULLs pass (matching dbt's `NOT IN` compile —
    * null handling is [[notNull]]'s job).
    */
  def acceptedValues(df: DataFrame, column: String,
                     values: Seq[String]): Either[String, Unit] =
    violation(
      df.filter(col(column).isNotNull && !col(column).isin(values: _*)),
      s"accepted_values($column)")

  /** dbt_utils `not_empty_string`. */
  def notEmptyString(df: DataFrame, column: String): Either[String, Unit] =
    violation(df.filter(trim(col(column)) === ""), s"not_empty_string($column)")

  /** dbt `relationships` / dbt_utils `relationships_where`: every child key
    * resolves in the parent (left-anti must be empty).
    */
  def relationships(child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String): Either[String, Unit] =
    violation(
      child.filter(col(childKey).isNotNull)
        .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti"),
      s"relationships($childKey -> $parentKey)")

  /** dbt_utils `equal_rowcount`. */
  def equalRowcount(a: DataFrame, b: DataFrame): Either[String, Unit] = {
    val (na, nb) = (a.count(), b.count())
    if (na == nb) Right(()) else Left(s"equal_rowcount: $na vs $nb")
  }

  /** dbt_utils `not_null_proportion`: at least `atLeast` of rows non-null. */
  def notNullProportion(df: DataFrame, column: String,
                        atLeast: Double): Either[String, Unit] = {
    val r = df.agg(
      (count(col(column)) / count(lit(1))).as("p")).head()
    val p = if (r.isNullAt(0)) 1.0 else r.getDouble(0)
    if (p >= atLeast) Right(())
    else Left(f"not_null_proportion($column): $p%.4f < $atLeast%.4f")
  }

  /** dbt_utils `recency`: newest `tsCol` within `maxAgeUs` of `nowUs`. */
  def recency(df: DataFrame, tsCol: String, maxAgeUs: Long,
              nowUs: Long): Either[String, Unit] = {
    val r = df.agg(max(col(tsCol))).head()
    if (r.isNullAt(0)) Left(s"recency($tsCol): relation is empty")
    else {
      val age = nowUs - r.getLong(0)
      if (age <= maxAgeUs) Right(())
      else Left(s"recency($tsCol): stale by ${age - maxAgeUs} us")
    }
  }

  /** Without a partition spec these checks run a GLOBAL window — all rows
    * through one task. That is the correct plan for the bounded inputs
    * they're meant for (aggregated facts, reference tables), and a silent
    * melt for a raw 100 TB table — so the global path counts the input
    * first and fails loudly over this bound instead of hanging a reducer.
    * The count is one extra columnar scan of a small input; callers with
    * genuinely large data must pass `partitionBy`.
    */
  val MaxGlobalWindowRows: Long = 10000000L

  private def windowOrFail(df: DataFrame, partitionBy: Seq[String],
                           what: String): org.apache.spark.sql.expressions.WindowSpec =
    if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*)
    else {
      val n = df.limit((MaxGlobalWindowRows + 1).toInt).count()
      require(n <= MaxGlobalWindowRows,
        s"$what: input exceeds $MaxGlobalWindowRows rows with no partitionBy — " +
          "a global window would single-task it; pass partitionBy")
      Window.partitionBy(lit(1))
    }

  /** dbt_utils `sequential_values` (lag-based, W3): within each partition,
    * ordered `column` advances by exactly `step`.
    */
  def sequentialValues(df: DataFrame, column: String, step: Long,
                       partitionBy: Seq[String] = Nil): Either[String, Unit] = {
    val w = windowOrFail(df, partitionBy, s"sequential_values($column)")
      .orderBy(col(column))
    violation(
      df.withColumn("__prev", lag(col(column), 1).over(w))
        .filter(col("__prev").isNotNull && col(column) =!= col("__prev") + step),
      s"sequential_values($column, $step)")
  }

  /** dbt_utils `mutually_exclusive_ranges` (lead-based, W4): [lower, upper)
    * ranges within a partition must not overlap (next lower >= this upper).
    */
  def mutuallyExclusiveRanges(df: DataFrame, lower: String, upper: String,
                              partitionBy: Seq[String] = Nil): Either[String, Unit] = {
    val w = windowOrFail(df, partitionBy, s"mutually_exclusive_ranges($lower, $upper)")
      .orderBy(col(lower), col(upper))
    violation(
      df.withColumn("__next_lower", lead(col(lower), 1).over(w))
        .filter(col("__next_lower").isNotNull && col("__next_lower") < col(upper)),
      s"mutually_exclusive_ranges($lower, $upper)")
  }

  /** dbt_utils `at_least_one`
    * (dbt_packages/dbt_utils/macros/generic_tests/at_least_one.sql:5-48):
    * at least one non-null `column` — globally, or within EVERY group when
    * `groupBy` is given (a group existing but all-null on `column` fails;
    * matches the macro's `having count(column) = 0` over pruned rows).
    */
  def atLeastOne(df: DataFrame, column: String,
                 groupBy: Seq[String] = Nil): Either[String, Unit] =
    if (groupBy.isEmpty) {
      // Macro prunes with `where column is not null limit 1` — one
      // short-circuiting existence probe, not a full-table count.
      if (df.filter(col(column).isNotNull).limit(1).count() == 1L) Right(())
      else Left(s"at_least_one($column): no non-null values")
    } else
      violation(
        df.groupBy(groupBy.map(col): _*).agg(count(col(column)).as("n"))
          .filter(col("n") === 0),
        s"at_least_one($column group by ${groupBy.mkString(",")})")

  /** dbt_utils `cardinality_equality` (cardinality_equality.sql:5-53):
    * the multiset of values in `model.column` equals that of `to.field` —
    * symmetric EXCEPT of the two (value, count) relations must be empty.
    */
  def cardinalityEquality(model: DataFrame, column: String,
                          to: DataFrame, field: String): Either[String, Unit] = {
    val a = model.groupBy(col(column).as("v")).agg(count(lit(1)).as("num_rows"))
    val b = to.groupBy(col(field).as("v")).agg(count(lit(1)).as("num_rows"))
    violation(
      a.exceptAll(b).unionAll(b.exceptAll(a)),
      s"cardinality_equality($column vs $field)")
  }

  /** One-scan quality rollup over the event stream — the aggregate form of
    * the row-level checks, cheap enough to run on every batch.
    */
  def qualityReport(events: DataFrame): DataFrame =
    events.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("dup_event_ids"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("negative_values"),
      countDistinct(col("event_type")).as("n_event_types"))

  /** Referential-integrity report — orphan rates for every declared
    * fact→dimension relationship in one table (the star-schema health
    * check a warehouse runs nightly): each relation is ONE scan of its
    * fact keys left-joined against the dimension's distinct keys
    * (broadcastable), counting rows and misses together — never a
    * separate anti-join pass per metric. NULL fact keys count as rows
    * but not as orphans (SQL FK semantics: NULL references nothing and
    * violates nothing).
    *
    * Output: (relation, n_rows, n_orphans, orphan_fp [ppm]) per entry.
    */
  def fkOrphanReport(relations: Seq[(String, DataFrame, String, DataFrame,
      String)]): DataFrame = {
    require(relations.nonEmpty, "fkOrphanReport needs at least one relation")
    relations.map { case (name, fact, factKey, dim, dimKey) =>
      fact.select(col(factKey).as("__k"))
        .join(broadcast(dim.select(col(dimKey).as("__k")).distinct()
          .withColumn("__hit", lit(1))), Seq("__k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__k").isNotNull && col("__hit").isNull, 1L)
            .otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"),
          // Empty fact → NULL rate, not an ANSI divide-by-zero abort of the
          // whole report (CaseWhen evaluates the div branch lazily).
          when(col("n_rows") > 0,
            expr("(n_orphans * CAST(1000000 AS BIGINT)) div n_rows"))
            .as("orphan_fp"))
    }.reduce(_ unionByName _)
  }

  /** Column profile report — the deequ/dbt-docs table summary: for each
    * named column, row count, null count, exact distinct count, and
    * min/max rendered as strings (cast AFTER the typed min/max, so
    * numerics order numerically, not lexically). The wide single-row
    * aggregate is then unpivoted with `stack` into one row per column —
    * profile output is column-count-sized, never data-sized.
    *
    * Exact multi-column COUNT(DISTINCT) plans as Spark's expand
    * (×(|cols|+1) input duplication before the partial aggs) — the honest
    * price of exact profiling; a 100 TB profile would swap in
    * approx_count_distinct per column, everything else unchanged. The
    * distinct/count pass and the min/max pass are two SEPARATE single-row
    * aggregates cross-joined (1×1): a string column's min/max has an
    * immutable aggregation buffer, which would force the expanded keyed
    * partial agg to SORTAGGREGATE — every task sorting ×(|cols|+1) rows
    * on the wide group key (measured 2.2–3 s of q161's 3.0 s at sf0.1).
    * Split, the expand branch keeps all-long buffers (HashAggregate) and
    * the keyless min/max pass inserts no sort; the second scan re-reads
    * only the same pruned columns. Callers normalize exotic types to
    * long/string/decimal projections first so the string rendering is
    * engine-portable.
    *
    * Output: (column_name, n_rows, n_nulls, n_distinct, min_value,
    * max_value), one row per requested column.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // Internal aliases are POSITIONAL (__nulls_0 …), and the per-column rows
    // come from explode over Column-built structs — no column name is ever
    // interpolated into generated SQL, so names with quotes/backticks or
    // other SQL-significant characters profile fine.
    val countAggs: Seq[Column] = count(lit(1)).as("__n") +:
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$i"),
          countDistinct(col(c)).as(s"__dist_$i"))
      }
    val rangeAggs: Seq[Column] = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("string").as(s"__min_$i"),
        max(col(c)).cast("string").as(s"__max_$i"))
    }
    val one = df.agg(countAggs.head, countAggs.tail: _*)
      .crossJoin(df.agg(rangeAggs.head, rangeAggs.tail: _*))
    val entries = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column_name"), col(s"__nulls_$i").as("n_nulls"),
        col(s"__dist_$i").as("n_distinct"),
        col(s"__min_$i").as("min_value"), col(s"__max_$i").as("max_value"))
    }
    one.select(col("__n"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.column_name").as("column_name"),
        col("__n").as("n_rows"), col("__e.n_nulls").as("n_nulls"),
        col("__e.n_distinct").as("n_distinct"),
        col("__e.min_value").as("min_value"),
        col("__e.max_value").as("max_value"))
  }

  /** Sketch-mode [[profile]] — the 100 TB default: identical report shape
    * but distincts come from the fixed-point HLL estimator
    * ([[graft.ml.Sketches]], the q100 machinery) instead of exact
    * COUNT(DISTINCT). ONE map-side-combinable pass: the wide single-row
    * agg carries counts/nulls/min/max AND, per column, the full 2^p
    * register vector via [[graft.functions.HllRegistersAgg]]
    * (bit-identical to the register-table path — same salted md5-60,
    * bucket, and rho; parity spec-pinned). Estimates apply the
    * small-range-corrected estimator
    * ([[graft.ml.Sketches.hllEstimateCorrected]]'s arithmetic: linear
    * counting below 2.5·2^p via the generated integer LUT, raw HLL
    * above — so a 3-value status column reads 3, not ~200) as integer
    * HOF folds over the register arrays on the single aggregate row, so
    * the whole report is one scan, no explode, no join, and every
    * estimate stays a deterministic integer both engines reproduce
    * (q208); `profile` remains the exact/audit path (q161). Standard
    * HLL error 1.04/√2^p in the raw range — ±6.5% at the default p=8.
    *
    * Same type-normalization contract as [[profile]]: callers project
    * exotic types to long/string/decimal first, both for portable
    * min/max rendering and because values are hashed through their
    * string rendering. NULLs are excluded from the sketch
    * (COUNT DISTINCT semantics); a column with no non-null values has
    * all-empty registers → linear counting at V = m → estimate 0.
    */
  def profileApprox(df: DataFrame, cols: Seq[String], p: Int = 8): DataFrame = {
    require(cols.nonEmpty, "profileApprox needs at least one column")
    graft.functions.HllRegistersAgg.register(df.sparkSession)
    val m = 1L << p
    val alphaFp240 = (7213L * m * m * m / (10000L * m + 10790L)) * (1L << 40)
    val lut = graft.ml.Sketches.linearCountLut(p)
    val aggs: Seq[Column] = count(lit(1)).as("__n") +:
      cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$i"),
          min(col(c)).cast("string").as(s"__min_$i"),
          max(col(c)).cast("string").as(s"__max_$i"),
          graft.functions.HllRegistersAgg
            .registersOf(col(c).cast("string"), p).as(s"__regs_$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // Raw estimate + empty-register count per column, folded from each
    // register array on the ONE aggregate row — hllEstimateRaw's
    // fixed-point arithmetic verbatim (register value 0 = absent;
    // rho ≥ 1 for every present register).
    val entries = cols.zipWithIndex.map { case (c, i) =>
      val regs = col(s"__regs_$i")
      val present = aggregate(regs, lit(0L),
        (s, x) => s + when(x > 0, lit(1L)).otherwise(lit(0L)))
      val presentSum = aggregate(regs, lit(0L),
        (s, x) => s + when(x > 0,
          call_function("shiftright", lit(1L << 40), x)).otherwise(lit(0L)))
      val zeros = lit(m) - present
      val zFp = presentSum + zeros * lit(1L << 40)
      val raw = call_function("div", lit(alphaFp240), greatest(zFp, lit(1L)))
      struct(lit(c).as("column_name"), col(s"__nulls_$i").as("n_nulls"),
        raw.as("__raw"), zeros.as("__zeros"),
        col(s"__min_$i").as("min_value"), col(s"__max_$i").as("max_value"))
    }
    one.select(col("__n"), explode(array(entries: _*)).as("__e"))
      .select(col("__e.column_name").as("column_name"),
        col("__n").as("n_rows"), col("__e.n_nulls").as("n_nulls"),
        when(col("__e.__raw") <= lit(5L * m / 2) && col("__e.__zeros") > 0,
          element_at(array(lut.map(lit): _*),
            col("__e.__zeros").cast("int") + 1))
          .otherwise(col("__e.__raw")).as("est_distinct"),
        col("__e.min_value").as("min_value"),
        col("__e.max_value").as("max_value"))
  }

  /** l-diversity report — [[kAnonymity]]'s necessary companion
    * (Machanavajjhala et al. 2007): a k-anonymous group whose SENSITIVE
    * attribute is uniform still leaks it ("all five people in this zip
    * bucket have the same diagnosis"), so each quasi-identifier group
    * must carry ≥ l distinct sensitive values. Two-level distinct agg +
    * one report-sized rollup; NULL sensitive values count as a value
    * (an attacker learns "unknown" too).
    *
    * Output is ONE row: (l, n_groups, n_violating_groups,
    * n_rows_at_risk, min_diversity).
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs quasi-identifier columns")
    require(l >= 2, s"lDiversity: l >= 2, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__c"),
        // NULL as its own value without a collidable sentinel string
        (countDistinct(col(sensitiveCol)) +
          max(when(col(sensitiveCol).isNull, 1L).otherwise(0L))).as("__d"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__d") < l, 1L).otherwise(0L))
          .as("n_violating_groups"),
        sum(when(col("__d") < l, col("__c")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("__d")).as("min_diversity"))
      .select(lit(l).as("l"), col("n_groups"), col("n_violating_groups"),
        col("n_rows_at_risk"), col("min_diversity"))
  }

  /** Functional-dependency audit — does `det → dep` actually hold (the
    * "one name per customer id", "one currency per country" contract
    * schemas imply but rarely enforce): determinant groups with more
    * than one distinct dependent value are violations. Exact distinct
    * per group (map-side combinable two-level agg), violation rows
    * capped at `sampleViolations` for the report (violation GROUPS are
    * counted exactly; only the listed examples are capped — a silent
    * truncation would read as "only k bad groups").
    *
    * Output: one row per violating determinant group, capped:
    * (det…, n_rows, n_distinct_dep) ordered nondeterministically —
    * callers wanting the full set pass Int.MaxValue. Use
    * [[functionalDependencyReport]] for the one-row summary.
    */
  def functionalDependencyViolations(df: DataFrame, detCols: Seq[String],
                                     depCol: String,
                                     sampleViolations: Int = 100): DataFrame = {
    require(detCols.nonEmpty, "functionalDependency needs determinant cols")
    df.groupBy(detCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(depCol)).as("n_distinct_dep"))
      .filter(col("n_distinct_dep") > 1)
      .limit(sampleViolations)
  }

  /** One-row summary for `det → dep`: total groups, violating groups,
    * rows inside violating groups, and the violation rate in ppm.
    */
  def functionalDependencyReport(df: DataFrame, detCols: Seq[String],
                                 depCol: String): DataFrame =
    df.groupBy(detCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(depCol)).as("__d"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("__d") > 1, col("__n")).otherwise(0L))
          .as("n_rows_affected"),
        sum(col("__n")).as("n_rows"))
      .select(col("n_groups"), col("n_violating"), col("n_rows_affected"),
        col("n_rows"),
        when(col("n_groups") > 0,
          expr("(n_violating * CAST(1000000 AS BIGINT)) div n_groups"))
          .as("violation_ppm"))

  /** Benford first-digit audit — the forensic-accounting screen for
    * fabricated or truncated numeric columns (naturally-grown magnitudes
    * follow P(d) = log₁₀(1 + 1/d); invented numbers don't): observed
    * first-digit shares vs the Benford expectation, per digit. The
    * expected shares are BUILD-TIME ppm literals (the generated-LUT
    * discipline — no query-time log), the first digit of a positive
    * integer is its leading decimal character (pure string arithmetic,
    * engine-portable), and every output is an exact integer.
    *
    * Non-positive values are excluded (Benford is defined on positive
    * magnitudes) but reported in the n_excluded count on every row, so a
    * mostly-zero column can't masquerade as conforming. One
    * map-side-combinable digit count + a 9-row report.
    *
    * Output: (digit, n, obs_ppm, exp_ppm, dev_ppm, n_total, n_excluded).
    */
  /** [[benfordAudit]]'s expected first-digit shares in ppm —
    * round(log₁₀(1+1/d)·10⁶) per digit, public so generated oracles
    * embed the identical literals.
    */
  def benfordExpectedPpm: Map[Int, Long] = (1 to 9).map(d =>
    d -> math.round(math.log10(1.0 + 1.0 / d) * 1000000L)).toMap

  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val M = 1000000L
    val expPpm = benfordExpectedPpm
    // ONE scan: non-positives land in digit bucket -1, whose count is
    // the exclusion tally every report row carries. The ≤10-row agg is
    // persisted because BOTH report branches read it (Spark does not
    // dedupe repeated subplans — the corrPairs lesson); session-owner
    // clearCache releases it.
    val counted = df
      .select(when(col(valueCol).cast("long") > 0,
        substring(col(valueCol).cast("long").cast("string"), 1, 1)
          .cast("int")).otherwise(lit(-1)).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val expCol = (1 to 9).foldRight(lit(0L): Column) { case (d, rest) =>
      when(col("digit") === d, lit(expPpm(d))).otherwise(rest)
    }
    spine.join(counted, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_total",
        sum(col("n")).over(Window.partitionBy(lit(1))))
      .crossJoin(broadcast(counted.filter(col("digit") === -1)
        .select(col("n").as("__excl"))
        .unionByName(df.sparkSession.range(1)
          .select(lit(0L).as("__excl")))
        .agg(max(col("__excl")).as("n_excluded"))))
      .select(col("digit"), col("n"),
        when(col("n_total") > 0,
          expr(s"(n * CAST($M AS BIGINT)) div n_total")).otherwise(lit(0L))
          .as("obs_ppm"),
        expCol.as("exp_ppm"), col("n_total"), col("n_excluded"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"), col("n_total"), col("n_excluded"))
  }

  /** k-anonymity report — the re-identification screen a dataset gets
    * before leaving the building (Sweeney 2002): a row is at risk when
    * its quasi-identifier combination (the released columns an attacker
    * can link on) is shared by fewer than k rows. One map-side-combinable
    * group count + one report-sized rollup; NULLs in quasi-identifiers
    * group together (a NULL zip code still narrows the attacker's set —
    * exempting it would understate risk).
    *
    * Output is ONE row: (k, n_rows, n_groups, n_violating_groups,
    * n_rows_at_risk, min_group_size, at_risk_ppm).
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs quasi-identifier columns")
    require(k >= 2, s"kAnonymity: k >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("n_rows"), count(lit(1)).as("n_groups"),
        sum(when(col("__c") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("__c") < k, col("__c")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("__c")).as("min_group_size"))
      .select(lit(k).as("k"), col("n_rows"), col("n_groups"),
        col("n_violating_groups"), col("n_rows_at_risk"),
        col("min_group_size"),
        expr("(n_rows_at_risk * CAST(1000000 AS BIGINT)) div n_rows")
          .as("at_risk_ppm"))
  }
}
