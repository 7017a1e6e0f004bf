package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import graft.io.TableStore
import graft.ops.Pipeline

/** CLI entry for the full pipeline run — the `main.py` analog: one
  * session, the load stages concurrently and then the report
  * ([[graft.ops.Pipeline.run]]), one exit code.
  *
  * Usage: PipelineMain <srcDir> <warehouseDir> [reportDtIso] [--archive]
  *                     [--bucket-dims=N]
  *
  * `--bucket-dims=N` stores the terminals dimension Hive-partitioned
  * by key-hash bucket and merges through the partition-scoped SCD2
  * path (`Scd2.mergePartitioned`) — the production layout where a
  * daily batch rewrites only the buckets its keys touch.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineMain <srcDir> <warehouseDir> [reportDtIso] [--archive] [--bucket-dims=N]")
    val srcDir = args(0)
    val whDir = args(1)
    val reportDt = args.lift(2).filterNot(_.startsWith("--"))
      .map(s => Timestamp.valueOf(s + " 00:00:00"))
      .getOrElse(new Timestamp(System.currentTimeMillis()))
    val archive = args.contains("--archive")
    val bucketDims = args.collectFirst {
      case a if a.startsWith("--bucket-dims=") => a.stripPrefix("--bucket-dims=").toInt
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Pipeline.run(spark, new TableStore(spark, whDir), srcDir, reportDt,
      archive, bucketDims = bucketDims)
    finally spark.stop()
  }
}
