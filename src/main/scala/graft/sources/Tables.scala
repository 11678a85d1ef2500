package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * One method per table; `events` normalizes the nanosecond timestamp the
  * way every downstream operator expects. All readers are plain
  * `spark.read.parquet` scans so Catalyst pushdown/pruning applies — callers
  * should `.select`/`.filter` immediately and let the scan prune.
  */
object Tables {

  /** The tables' declared schemas. A read with a known schema skips the
    * one-task Spark job parquet schema inference runs on every read; a
    * declared column a file lacks reads as NULL. `events` is absent: its
    * `ts` physical type differs by generation and [[events]] branches on
    * the inferred one. TablesSpec pins these against the files.
    */
  private[graft] val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  private[graft] def read(spark: SparkSession, dir: String, name: String): DataFrame =
    schemas.get(name).fold(spark.read)(spark.read.schema)
      .parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** documents/embeddings ship as ONE small parquet file per scale factor,
    * i.e. one input split — which would serialize the CPU-heavy per-row
    * operators (shingling, minhash, simhash, cosine) onto a single core.
    * The *Spread variants redistribute rows once on read for those
    * operators; cheap scans/aggregations should use the plain readers
    * (a blanket repartition is a full shuffle of the corpus — never free
    * at production scale, where input splits already give parallelism).
    * Results are partitioning-independent either way.
    */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).repartition(spark.sparkContext.defaultParallelism)
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism)

  /** events.parquet's `ts` physical type varies by driver generation:
    * rounds ≤ 11 shipped INT64 TIMESTAMP(NANOS) (readable only via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, as a long of nanos),
    * round 12 ships plain timestamp[us] (TIMESTAMP_NTZ). Branch on the
    * read schema and normalize to the same derived columns either way:
    *   - `event_ts_us` long  — epoch microseconds, the canonical
    *     cross-engine time representation (equals DuckDB's
    *     `epoch_us(ts)` for both layouts: ns floor-divides, µs is
    *     identity with the UTC session zone);
    *   - `event_ts` timestamp — µs-precision timestamp for window/date ops;
    *   - `event_date` date.
    * Raw `ts` is kept as read.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // INT64 nanos layout
        raw.withColumn("event_ts_us", expr("ts div 1000"))
          .withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
          .withColumn("event_date",
            to_date(expr("timestamp_micros(ts div 1000)")))
      case _ => // timestamp[us] layout (NTZ wall clock = UTC instant)
        raw.withColumn("event_ts", col("ts").cast("timestamp"))
          .withColumn("event_ts_us", unix_micros(col("event_ts")))
          .withColumn("event_date", to_date(col("event_ts")))
    }
  }
}
