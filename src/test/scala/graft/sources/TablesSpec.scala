package graft.sources

import graft.SparkSpec

/** The declared table schemas stay true to the files, and reading a
  * declared table runs no Spark job.
  */
class TablesSpec extends SparkSpec {

  private val dirs = Seq(sfDir,
    java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)

  for ((t, declared) <- Tables.schemas.toSeq.sortBy(_._1))
    test(s"$t: the declared schema equals the inferred one at sf0.001 and sf0.01") {
      for (d <- dirs) {
        // catalogString omits nullability, which files and declarations
        // are free to differ in
        val inferred = spark.read.parquet(s"$d/$t.parquet").schema
        assert(declared.catalogString == inferred.catalogString, s"$d/$t.parquet")
      }
    }

  test("a declared table reads with no schema-inference job") {
    for (t <- Tables.schemas.keys)
      assert(countJobs(Tables.read(spark, sfDir, t)) == 0, t)
  }
}
