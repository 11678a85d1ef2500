package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for write-side clustering: Morton (Z-order)
  * interleaving of two dimension keys plus the range-partitioned sorted
  * writer that uses it.
  *
  * Why: parquet data skipping prunes row groups by per-column min/max. A
  * table sorted by ONE column skips perfectly on that column and not at
  * all on a second; interleaving the bits of two keys gives a single sort
  * order whose contiguous runs are small rectangles in (x, y) space, so
  * BOTH columns' min/max ranges stay narrow per file and selective filters
  * on either dimension prune files. This is the open-literature Z-order
  * curve (the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`),
  * re-expressed as plain Spark: a row-local key expression +
  * `repartitionByRange` + `sortWithinPartitions`.
  */
object Layout {

  /** Morton key: interleave the low `bits` bits of two NON-NEGATIVE longs
    * (x in even positions, y in odd). Pure long arithmetic — shifts,
    * masks, adds — identical in any engine; [[mortonOracleSql]] emits the
    * same expression tree as SQL so the q79 oracle reproduces the key
    * bit-for-bit. Callers clamp/fold their keys into [0, 2^bits) first
    * (e.g. `pmod`); bits ≤ 31 keeps the result well inside a long.
    */
  def mortonKey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"mortonKey: bits in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** The same interleave as [[mortonKey]], rendered as engine-neutral SQL
    * over expressions `x` and `y` — single source of truth for the gate.
    */
  def mortonOracleSql(x: String, y: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"mortonOracleSql: bits in [1,31]")
    (0 until bits).map { i =>
      s"((($x) >> $i) & 1) * ${1L << (2 * i)} + " +
        s"((($y) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
  }

  /** Z-order clustered write: global range partitioning on the Morton key
    * (a sampled range exchange — one shuffle), in-partition sort, then
    * one parquet file per partition. `numFiles` is the target layout
    * granularity; at production scale pick it from table size / desired
    * file size. The key is computed from `xCol`/`yCol` folded into
    * [0, 2^bits) via pmod, ordered but NOT persisted into the data.
    */
  def zorderWrite(df: DataFrame, path: String, xCol: String, yCol: String,
                  bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"zorderWrite: numFiles >= 1, got $numFiles")
    val m = lit(1L << bits)
    df.withColumn("__zkey",
        mortonKey(pmod(col(xCol), m), pmod(col(yCol), m), bits))
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Z-tile stats manifest — the data-skipping index a lake keeps beside
    * a Z-ordered table (Delta's per-file stats, re-expressed over Morton
    * tiles). `tileBits` top bits of the 2·`bits`-wide Morton key name the
    * tile (= the contiguous key range one layout file covers); per tile
    * the manifest records row count and min/max of BOTH dimension keys.
    * Because the Morton curve keeps each contiguous run a small (x, y)
    * rectangle, both ranges stay narrow — which is exactly what makes a
    * selective filter on EITHER column prune tiles (a Delta table's
    * file index prunes on the same stats at file grain, see
    * [[DeltaLog.optimizeZOrder]]).
    *
    * One map-side-combinable groupBy on a row-local key; the manifest is
    * ≤ 2^tileBits rows regardless of table size — the fixed-size summary
    * shape, same as a sketch.
    */
  def tileManifest(df: DataFrame, xCol: String, yCol: String,
                   bits: Int, tileBits: Int): DataFrame = {
    require(tileBits >= 1 && tileBits <= 2 * bits,
      s"tileManifest: tileBits in [1, ${2 * bits}], got $tileBits")
    val m = lit(1L << bits)
    val x = pmod(col(xCol), m)
    val y = pmod(col(yCol), m)
    df.select(mortonKey(x, y, bits).as("__zkey"), x.as("__x"), y.as("__y"))
      .groupBy(expr(s"__zkey div ${1L << (2 * bits - tileBits)}").as("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__x")).as("min_x"), max(col("__x")).as("max_x"),
        min(col("__y")).as("min_y"), max(col("__y")).as("max_y"))
  }

  /** Rendezvous (highest-random-weight, Thaler & Ravishankar 1998) shard
    * resize report: every key's shard is argmax over shards of
    * md5(salt·shard·key), so growing `fromShards → toShards` moves ONLY
    * the keys whose new winner is one of the added shards — the minimal
    * (m−n)/m movement consistent hashing promises, quantified before a
    * resize is executed.
    *
    * One pass: each key fans out to max(from, to) hash rows map-side
    * (shard counts are small literals), ONE aggregation takes both
    * argmaxes via the max-of-(hash, shard) struct idiom (deterministic
    * ties by shard), and the report groups the key-sized assignment table.
    * `keys` should be distinct (assignment is per key, not per row).
    *
    * Output: (shard_from, shard_to, n_keys, moved).
    */
  def rendezvousMoves(keys: DataFrame, keyCol: String, fromShards: Int,
                      toShards: Int, salt: String = "shard-"): DataFrame = {
    require(fromShards >= 1 && toShards >= 1,
      s"rendezvousMoves: positive shard counts, got $fromShards/$toShards")
    val mx = math.max(fromShards, toShards)
    keys
      .select(col(keyCol).as("__k"))
      .withColumn("__s", explode(sequence(lit(0), lit(mx - 1))))
      .withColumn("__h",
        conv(substring(md5(concat(lit(salt), col("__s").cast("string"),
          lit("-"), col("__k").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .groupBy(col("__k"))
      .agg(
        max(when(col("__s") < fromShards, struct(col("__h"), col("__s"))))
          .as("__f"),
        max(when(col("__s") < toShards, struct(col("__h"), col("__s"))))
          .as("__t"))
      .groupBy(col("__f.__s").cast("long").as("shard_from"),
        col("__t.__s").cast("long").as("shard_to"))
      .agg(count(lit(1)).as("n_keys"))
      .withColumn("moved", col("shard_from") =!= col("shard_to"))
  }
}
