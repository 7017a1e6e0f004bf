package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source layer — the engine's readers (SURVEY.md §2.1).
  *
  * The reference ingests three source kinds (CSV `.txt`, Excel `.xlsx`,
  * JDBC Postgres — `transaction.py:57`, `terminals.py:54`,
  * `cards.py:50-56`). Spark-first mapping: `spark.read` with explicit
  * schemas (staging parity = never infer), strict filename-date parsing
  * ([[fileNameDateIso]]), and incremental JDBC
  * extraction expressed as a pushed-down predicate. The test harness
  * serves all tables as parquet; the CSV/JDBC readers are exercised by
  * unit specs on generated fixtures.
  */
object Sources {

  /** Read one harness table from an sf dir.
    *
    * `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark has no native type for — read it as nanos-since-epoch
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
    * microseconds with integral division (ns epoch values exceed
    * 2^53, so float division would corrupt them). Matches DuckDB's
    * µs truncation of the same column. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The engine's event-time operators (epoch math, watermark reads)
    // consume `ts` as session-tz TIMESTAMP. The harness file stores
    // TIMESTAMP(NANOS) (read as long under nanosAsLong); a replica or
    // re-written copy stores naive µs (read as TIMESTAMP_NTZ).
    // Normalize both — sessions pin UTC, so the NTZ cast is value-
    // identity. Other tables' timestamp columns pass through: queries
    // only date-cast/compare them, which either flavor supports, and
    // a cast above the scan would break their filter pushdown.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Streaming scan of the harness `events` table with the same
    * `ts` normalization as [[table]] — the `readStream` entry for
    * declared streaming-replay queries (batch-replaying a live
    * pipeline over the static file, q95's shape). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The file streaming source wants a DIRECTORY: the harness ships
    // events.parquet as a single file (stream its parent, glob-limited
    // to it); a rewritten/scaled copy is a directory of parts (stream
    // it directly).
    val reader = spark.readStream.schema(sch)
    val df =
      if (new java.io.File(s"$sfDir/events.parquet").isDirectory)
        reader.parquet(s"$sfDir/events.parquet")
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    if (sch("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (sch("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  /** Input-layout-aware parallelization for compute-heavy per-row
    * pipelines (shingle/hash/signature passes). A corpus at scale
    * arrives as thousands of file splits and passes through UNTOUCHED
    * — the redistribute only fires when the scan's parallelism is
    * below the session default (e.g. the local test corpus: ONE small
    * single-row-group parquet file = one task, which would serialize
    * the whole md5/shingle pipeline onto one core). So the shuffle
    * exists exactly where the input layout starves the cluster, and
    * never at 100 TB. */
  def rebalance(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** [[table]] + [[rebalance]]: the scan shape for queries whose
    * per-row compute dominates their scan. */
  def tableRebalanced(spark: SparkSession, sfDir: String, name: String): DataFrame =
    rebalance(spark, table(spark, sfDir, name))

  /** Semicolon-delimited CSV with header and explicit schema — the
    * reference's `transactions_DDMMYYYY.txt` shape (`transaction.py:57`,
    * `pd.read_csv(..., sep=';')`). Never `inferSchema`: staging is
    * deliberately stringly-typed; promotion applies casts. The header
    * is checked against the schema's names (case-insensitive), so a
    * file whose columns come in another order fails the read instead
    * of loading its values under the wrong names: the schema alone is
    * applied by position. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", ";")
      .option("header", "true")
      .option("enforceSchema", "false")
      .schema(schema)
      .csv(path)

  /** All-string schema helper for staging-parity CSV reads. */
  def stringSchema(cols: String*): StructType =
    StructType(cols.map(c => StructField(c, StringType, nullable = true)))

  /** Driver-side file discovery in chronological order: glob by mask,
    * sort by the DDMMYYYY date embedded in the name (reference
    * `transaction.py:26-28` sorts on a YYYYMMDD key). The mask must
    * match the WHOLE file name, so a half-landed `….txt.tmp`, a `.bak`
    * copy or a prefixed `x_transactions_…` file is never picked up. */
  def listFilesChronological(dir: String, maskRegex: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val re = maskRegex.r
    val dateRe = "(\\d{2})(\\d{2})(\\d{4})".r
    if (!Files.isDirectory(Paths.get(dir))) return Seq.empty
    val stream = Files.list(Paths.get(dir))
    try {
      stream.iterator().asScala
        .filter(p => re.matches(p.getFileName.toString))
        .toSeq
        .sortBy { p =>
          val name = p.getFileName.toString
          val key = dateRe.findFirstMatchIn(name) match {
            case Some(m) => m.group(3) + m.group(2) + m.group(1) // YYYYMMDD
            case None    => name
          }
          // Name tiebreak: directory listing order is unspecified, so
          // same-date files must still process deterministically.
          (key, name)
        }
    } finally stream.close()
  }

  private val fileNameDate = java.time.format.DateTimeFormatter.ofPattern("ddMMuuuu")
    .withResolverStyle(java.time.format.ResolverStyle.STRICT)

  /** Filename `DDMMYYYY` → ISO `YYYY-MM-DD` (reference
    * `transaction.py:49-50`); None when the name embeds no 8 digits.
    * The date is parsed strictly: an impossible one (`31022024`, month
    * 13) throws naming the file, where a lenient parse would roll it
    * into a later day and advance a watermark past real files. */
  def fileNameDateIso(fileName: String): Option[String] =
    "\\d{8}".r.findFirstIn(fileName).map { digits =>
      try java.time.LocalDate.parse(digits, fileNameDate).toString
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"$fileName: embedded date $digits is not a valid DDMMYYYY date", e)
      }
    }

  /** Archive a processed source file (reference `transaction.py:88`:
    * `os.rename(f, 'archive/<f>.backup')`). */
  def archive(file: Path): Path = {
    val archiveDir = file.getParent.resolve("archive")
    Files.createDirectories(archiveDir)
    val target = archiveDir.resolve(file.getFileName.toString + ".backup")
    Files.move(file, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Incremental extract: push the watermark predicate into the scan
    * (reference `cards.py:50-56` runs the filter inside the source DB;
    * here Catalyst pushes it into the parquet/JDBC scan). */
  def incremental(src: DataFrame, updateCol: String, createCol: String,
                  watermark: java.sql.Timestamp): DataFrame =
    src.filter(coalesce(col(updateCol), col(createCol)) > lit(watermark))

  // ── JDBC source (reference `connect.py:5-15` + `cards.py:50-56`) ──
  //
  // `Pipeline.runJdbcDim` loads through [[jdbcReader]]; JdbcPipelineSpec
  // and PipelineSpec drive it end to end against embedded Derby.

  /** JDBC connection + parallelism parameters. `partitionColumn`
    * (with bounds) splits the extract into `numPartitions` range
    * predicates executed as parallel source queries — without it a
    * JDBC read is a single-connection serial pull, which is the
    * 100 TB-scale mistake. */
  final case class JdbcSpec(
      url: String,
      table: String,
      user: String,
      password: String,
      driver: String = "org.postgresql.Driver",
      partitionColumn: Option[String] = None,
      lowerBound: Option[String] = None,
      upperBound: Option[String] = None,
      numPartitions: Int = 8,
      fetchSize: Int = 10000)

  /** The `spark.read.format("jdbc")` option map for a spec —
    * `dbtable` + Catalyst filter pushdown carries the incremental
    * predicate into the source database (the reference embeds it in
    * the SQL text; DataSource v2 JDBC pushes `coalesce` comparisons). */
  def jdbcOptions(spec: JdbcSpec): Map[String, String] = {
    val base = Map(
      "url" -> spec.url,
      "dbtable" -> spec.table,
      "user" -> spec.user,
      "password" -> spec.password,
      "driver" -> spec.driver,
      "fetchsize" -> spec.fetchSize.toString)
    val part = (spec.partitionColumn, spec.lowerBound, spec.upperBound) match {
      case (Some(c), Some(lo), Some(hi)) => Map(
        "partitionColumn" -> c, "lowerBound" -> lo, "upperBound" -> hi,
        "numPartitions" -> spec.numPartitions.toString)
      case _ => Map.empty[String, String]
    }
    base ++ part
  }

  /** Fully-configured JDBC reader; `.load()` connects. */
  def jdbcReader(spark: SparkSession, spec: JdbcSpec): org.apache.spark.sql.DataFrameReader =
    jdbcOptions(spec).foldLeft(spark.read.format("jdbc")) {
      case (r, (k, v)) => r.option(k, v)
    }

  // ── Excel source (reference `terminals.py:54`, `black_list.py:57`) ──

  /** Excel scan of a real `.xlsx` workbook through the built-in
    * zero-dependency parser ([[XlsxLite]]): the header row must name
    * the schema's fields in order (case-insensitive, as [[csv]]
    * checks), then cells apply to `schema` positionally and cast per
    * field (the same contract as [[csv]] staging; never
    * `inferSchema`). A path that is not a workbook, or a header that
    * does not match, fails naming the file. */
  def excel(spark: SparkSession, path: String, sheet: String,
            schema: StructType): DataFrame = {
    require(isZip(path), s"excel: $path is not an .xlsx workbook (missing, or not a ZIP archive)")
    val raw = XlsxLite.read(path, sheet)
    require(raw.nonEmpty, s"excel: sheet '$sheet' of $path is empty (no header row)")
    // Trailing empty header cells are formatting, not columns.
    val header = raw.head.reverse.dropWhile(c => c == null || c.trim.isEmpty).reverse.toSeq
    require(header.map(h => Option(h).map(_.trim.toLowerCase).orNull) ==
        schema.fieldNames.toSeq.map(_.toLowerCase),
      s"excel: header of $path (sheet '$sheet') is [${header.mkString(", ")}], " +
        s"expected [${schema.fieldNames.mkString(", ")}]")
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList
    raw.drop(1).foreach { cells => // drop the header row, pad/truncate to schema
      rows.add(org.apache.spark.sql.Row.fromSeq(
        schema.indices.map(i => if (i < cells.length) cells(i) else null)))
    }
    val asStrings = StructType(schema.map(f =>
      StructField(f.name, org.apache.spark.sql.types.StringType, nullable = true)))
    spark.createDataFrame(rows, asStrings)
      .select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** ZIP magic probe ("PK\3\4") — distinguishes a real workbook from a
    * missing or placeholder path. */
  private def isZip(path: String): Boolean = {
    val p = Paths.get(path)
    Files.isRegularFile(p) && {
      val in = Files.newInputStream(p)
      try {
        val m = new Array[Byte](4)
        in.read(m) == 4 && m(0) == 'P' && m(1) == 'K' && m(2) == 3 && m(3) == 4
      } finally in.close()
    }
  }
}
