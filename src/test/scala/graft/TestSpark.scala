package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run — Spark startup is
  * ~10 s, so per-suite sessions would dominate test time. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.builder("2")
      // Catalog tables (bucketed-join tests) must not litter the repo.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
