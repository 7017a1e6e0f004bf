package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ParityQueries, Q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from the per-capability registries under
  * `graft.queries`; each entry is a Spark implementation paired (where
  * ANSI-SQL-expressible) with a DuckDB oracle over the same parquet
  * tables.
  */
object SparkEntry {

  /** The configured local-session builder every main and the test
    * session start from: the engine's SQL extensions, `cpus` local
    * cores and shuffle partitions, UTC session time (`Sources.table`'s
    * NTZ normalization casts through the session zone), µs parquet
    * timestamps (INT96, the default, overflows int64 nanos for the
    * SCD2 sentinel 9999-12-31 on ns-based readers such as pyarrow),
    * the harness `events` NANOS timestamps read as long, and no UI.
    * Callers add their extras and call `getOrCreate`. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  private def registry: Seq[Q] =
    ParityQueries.all ++ graft.queries.ExtensionQueries.all ++
      graft.queries.LlmQueries.all ++ graft.queries.SimilarityQueries.all ++
      graft.queries.MultimodalQueries.all ++ graft.queries.BpeQueries.all ++
      graft.queries.CurationQueries.all ++ graft.queries.HtmlQueries.all ++
      graft.queries.UnicodeQueries.all ++ graft.queries.LineDedupQueries.all ++
      graft.queries.UrlQueries.all ++ graft.queries.CorpusReportQueries.all ++
      graft.queries.QualityFilterQueries.all ++
      graft.queries.BloomDedupQueries.all ++ graft.queries.ChatQueries.all ++
      graft.queries.HygieneQueries.all ++ graft.queries.UnigramQueries.all ++
      graft.queries.SketchQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.ops.Fraud.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
