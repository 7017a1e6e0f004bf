package graft

import java.sql.Timestamp
import graft.io.TableStore
import graft.ops.Pipeline

/** CLI entry for the full pipeline run — the `main.py` analog: one
  * session, the load stages concurrently and then the report
  * ([[graft.ops.Pipeline.run]]), one exit code.
  *
  * Usage: PipelineMain <srcDir> <warehouseDir> [reportDtIso] [--archive]
  *
  * `--archive` moves each processed source file to
  * `<srcDir>/archive/<name>.backup`. Any other `--` flag, a fourth
  * positional argument, or a `reportDtIso` that is not a real
  * `yyyy-MM-dd` date fails with the usage line before a session
  * starts. `SPARK_GRAFT_MASTER` overrides the `local[SPARK_GRAFT_CPUS]`
  * master.
  */
object PipelineMain {
  private val Usage = "usage: PipelineMain <srcDir> <warehouseDir> [reportDtIso] [--archive]"

  /** (srcDir, warehouseDir, reportDt, archive); reportDt defaults to now. */
  def parseArgs(args: Array[String]): (String, String, Timestamp, Boolean) = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    require(positional.length >= 2 && positional.length <= 3 &&
      flags.forall(_ == "--archive"), Usage)
    // ISO_LOCAL_DATE resolves strictly: 2024-02-30 fails, never rolls over.
    val reportDt = positional.lift(2).map { s =>
      try Timestamp.valueOf(java.time.LocalDate.parse(s).atStartOfDay)
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"$Usage: reportDtIso '$s' is not a valid date", e)
      }
    }.getOrElse(new Timestamp(System.currentTimeMillis()))
    (positional(0), positional(1), reportDt, flags.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, whDir, reportDt, archive) = parseArgs(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.builder(cpus)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Pipeline.run(spark, new TableStore(spark, whDir), srcDir, reportDt, archive)
    finally spark.stop()
  }
}
