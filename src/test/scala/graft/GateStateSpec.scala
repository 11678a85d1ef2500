package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gates keep no state across queries: after `spark.catalog.clearCache()`
  * (what both harnesses run between queries) a gate launches exactly the
  * jobs its first run did — nothing an earlier run built is read back.
  */
class GateStateSpec extends SparkSpec {

  /** Evaluate every column of every row, as the harnesses do. */
  private def force(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col).toSeq: _*)).as("__h"))
      .agg(expr("bit_xor(__h)")).head()

  for (q <- Seq("q248_scc", "q70_jaccard_neardup", "q24_neardup_pairs",
      "q51_ann_ivf", "q94_pagerank"))
    test(s"$q: rerun after clearCache runs the same jobs") {
      def run(): Int = countJobs(force(SparkEntry.queries(q)(spark, sfDir)))
      spark.catalog.clearCache()
      val first = run()
      spark.catalog.clearCache()
      val second = run()
      info(s"jobs: first run $first, rerun $second")
      assert(second == first, s"first run: $first jobs, rerun: $second")
    }

  /** Jobs one run of each benchmark gate starts: a cost contract no
    * host pause can move. Counted on the sf0.001 tables.
    */
  for ((q, jobs) <- Seq("q24_neardup_pairs" -> 6, "q51_ann_ivf" -> 7,
      "q94_pagerank" -> 17))
    test(s"$q: a run starts $jobs jobs") {
      spark.catalog.clearCache()
      val n = countJobs(force(SparkEntry.queries(q)(spark, sfDir)))
      assert(n == jobs, s"$n jobs")
    }
}
