package graft

/** Plan inspection for any declared query:
  * `runMain graft.Explain <queryName> [sfDir]` — prints the formatted
  * physical plan (the .explain("formatted") loop the scale checklist
  * asks for: pushed filters, read schemas, join strategies, exchange
  * placement). */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: Explain <query> [sfDir]; queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(args(0),
      sys.error(s"unknown query ${args(0)}; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
