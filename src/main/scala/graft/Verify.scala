package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump-side timestamp canonicalization. Spark's `TimestampType` is
    * tz-adjusted: parquet gets `isAdjustedToUTC=true`, which DuckDB /
    * pyarrow read as TIMESTAMPTZ — while the DuckDB oracle emits naive
    * TIMESTAMP, failing the driver's schema compare (every
    * timestamp-bearing query went schema_match=false in r2). Session TZ
    * is pinned UTC, so casting to `TimestampNTZType` is value-identity
    * and writes naive µs parquet that matches the oracle type exactly
    * (µs also holds the 9999-12-31 SCD2 sentinel, unlike INT96-as-ns). */
  def canonTimestamps(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(_.dataType == TimestampType)
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name prefixes — local
    // iteration aid (the driver always passes exactly two args). The
    // oracle_sql dump narrows with it so dev/compare.py checks only
    // the selected queries.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq.filter(_.nonEmpty))
      else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        canonTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // Even a FAILED query may have populated caches (LSH
        // signatures) — drop them so later queries run unpolluted.
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure marker: a query that errors must not silently vanish from
    // the correctness gate (compare iterates declared keys and reads
    // this) — exit stays 0 so the driver still runs the compare.
    val fj = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), fj)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
