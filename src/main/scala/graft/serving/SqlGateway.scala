package graft.serving

import graft.pipeline.Medallion
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** Long-lived SQL serving endpoint — the reference's Trino/Metabase
  * query surface (README.md:154-190, Trino view bootstrap at
  * analytics/airflow/dags/trino_bootstrap_views.py:54-72) re-expressed
  * as Spark's own HiveServer2-protocol Thrift endpoint: any JDBC/ODBC
  * client (`org.apache.hive.jdbc.HiveDriver`, beeline, BI tools)
  * connects to `jdbc:hive2://host:port` and queries the registered
  * medallion views with plain SQL, executed by this session's Catalyst
  * plans.
  *
  * Views are registered as GLOBAL temp views: HS2 forks a Spark
  * session per JDBC connection, and the `global_temp` database is the
  * cross-session catalog every fork sees — the in-process analog of
  * the reference's one-Trino-catalog deployment (clients query
  * `global_temp.<view>`). The embedded Derby metastore's error log
  * goes to java.io.tmpdir so serving never litters the working
  * directory.
  *
  * Scale posture: the endpoint is a protocol front door, not an
  * execution path — each SQL statement plans and executes exactly like
  * the library's own queries (same session, same AQE/broadcast
  * behavior), and concurrency is Spark's scheduler fairness, as on any
  * shared cluster.
  */
object SqlGateway {

  /** The served catalog — the Trino bootstrap's view set over the
    * testdata at `sfDir`: raw tables, the silver enriched view
    * (trino_bootstrap_views.py:54-72 semantics via
    * [[Medallion.enrichView]]), and the gold minute fact.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t =>
        Tables.read(spark, sfDir, t).createOrReplaceGlobalTempView(t))
    Tables.events(spark, sfDir).createOrReplaceGlobalTempView("events")
    Medallion.enrichView(Tables.orders(spark, sfDir),
        Tables.lineitem(spark, sfDir))
      .createOrReplaceGlobalTempView("order_payments_enriched")
    Medallion.salesMinute(Tables.events(spark, sfDir))
      .createOrReplaceGlobalTempView("fct_sales_minute")
    Medallion.salesLastNMinutes(Tables.events(spark, sfDir), 60)
      .createOrReplaceGlobalTempView("vw_sales_last_60min")
  }

  /** Start the Thrift endpoint on `port` against `spark`'s catalog.
    * Returns the server handle; call [[stop]] with it to shut down.
    * (`HiveThriftServer2` is `private[hive]` at the Scala level, so the
    * handle is typed `AnyRef` and stop goes through its public
    * `stop()` — reflection only at the boundary, the served path is
    * all public API.)
    */
  def start(spark: SparkSession, port: Int): AnyRef = {
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        System.getProperty("java.io.tmpdir") + "/graft-derby.log")
    spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    spark.sqlContext.setConf("hive.server2.thrift.bind.host", "localhost")
    val cls = Class.forName(
      "org.apache.spark.sql.hive.thriftserver.HiveThriftServer2")
    cls.getMethod("startWithContext", classOf[org.apache.spark.sql.SQLContext])
      .invoke(null, spark.sqlContext)
  }

  /** Shut the endpoint down (the handle from [[start]]). */
  def stop(server: AnyRef): Unit =
    server.getClass.getMethod("stop").invoke(server)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val port = args.headOption.map(_.toInt).getOrElse(10000)
    val spark = graft.GraftSession.local("graft-sql-gateway")
    registerViews(spark, sfDir)
    start(spark, port)
    System.err.println(s"[gateway] serving jdbc:hive2://localhost:$port")
    // serve until killed — the long-lived endpoint contract
    Thread.currentThread().join()
  }
}
